package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.graph._

/** `graph_loops`: one closed-loop client calls seven iterative graph
  * algorithms with fixed round counts on a generated power-law graph
  * with planted communities. No store, no text. */
final class GraphLoops(ctx: Ctx) extends Workload(ctx) {
  private var g: Gen.Graph = _
  private var edges: DataFrame = _
  private var vertices: DataFrame = _
  private var source: Long = 0L
  private val results = new ConcurrentLinkedQueue[(String, Any)]()
  /** Reference answers and the rounds each algorithm runs. */
  private var want: Map[String, Any] = _
  private var rounds: Map[String, Double] = _

  val algos: Seq[String] =
    Seq("pagerank", "components", "lpa", "kcore", "hits", "sssp", "louvain")
  val louvainFloor = 0.05
  // fixed round counts, sized so one list of seven calls fits a run
  val prRounds = 6; val lpaRounds = 3; val kcoreRounds = 4; val hitsIters = 3
  val ssspHops = 4; val louvainCap = 2

  def clients = 1
  def listLen: Int = algos.size
  def unit(kind: String) = true

  def generate(): Unit = {
    g = Gen.graph(ctx.seed)
    val es = g.edges
    source = es.groupBy(_._1).maxBy { case (v, o) => (o.size, -v) }._1
    def settle[T](f: Int => T, cap: Int): Int =
      (1 to cap).find(r => f(r) == f(r - 1)).getOrElse(cap)
    want = Map(
      "pagerank" -> Ref.pageRank(g.n, es, 0.85, prRounds),
      "components" -> Ref.components(es, 20),
      "lpa" -> Ref.labelPropagation(es, lpaRounds),
      "kcore" -> Ref.kcore(es, 3, kcoreRounds),
      "hits" -> Ref.hits(es, hitsIters),
      "sssp" -> Ref.sssp(es.zip(g.weights), source, ssspHops))
    // early-stopping loops run until a round changes nothing
    rounds = Map(
      "pagerank" -> prRounds.toDouble, "lpa" -> lpaRounds.toDouble,
      "hits" -> hitsIters.toDouble,
      "components" -> settle(Ref.components(es, _), 20).toDouble,
      "kcore" -> settle(Ref.kcore(es, 3, _), kcoreRounds).toDouble,
      "sssp" -> settle(Ref.sssp(es.zip(g.weights), source, _), ssspHops).toDouble)
  }

  def load(rep: Int): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val dir = ctx.path(s"graph-$rep")
    g.edges.zip(g.weights).map { case ((a, b), w) => (a, b, w) }
      .toDF("src", "dst", "w").coalesce(1).write.parquet(s"$dir/edges.parquet")
    (0 until g.n).map(_.toLong).toDF("id").coalesce(1)
      .write.parquet(s"$dir/vertices.parquet")
    edges = Trace.span("tables", "tables.read")(graft.Tables.read(spark, dir, "edges"))
    vertices = Trace.span("tables", "tables.read")(graft.Tables.read(spark, dir, "vertices"))
  }

  /** The two cheapest-to-plan loops warm the shared join/aggregate paths. */
  def warmup(): Unit = Seq("pagerank", "components").foreach(a => run(a))

  def op(c: Int, i: Int): String = {
    val a = algos(i % algos.size)
    results.add(a -> run(a))
    a
  }

  private def run(a: String): Any = Trace.span("graph", s"graph.$a") {
    val e = edges.select("src", "dst")
    a match {
      case "pagerank" =>
        PageRank.run(vertices, e, 0.85, prRounds, None).scores
          .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      case "components" =>
        longPairs(Components.run(e.select(col("src").as("a"), col("dst").as("b"))))
      case "lpa" => longPairs(Communities.labelPropagation(e, lpaRounds))
      case "kcore" => longPairs(KCore.run(e, 3, kcoreRounds))
      case "hits" =>
        Hits.run(e, hitsIters).collect()
          .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      case "sssp" =>
        longPairs(ShortestPath.run(edges, source, ssspHops, noPrev = -1L))
      case "louvain" =>
        val (labels, trace) = Louvain.runConverged(e, 1, louvainCap)
        Trace.add("graph.louvain.rounds", trace.map(_.rounds).sum.toDouble)
        longPairs(labels.select("id", "lab"))
    }
  }

  private def longPairs(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  def check(): Seq[String] = results.asScala.toSeq.flatMap { case (a, got) =>
    (a, got) match {
      case ("pagerank", s: Map[Long, Double] @unchecked) =>
        val w = want(a).asInstanceOf[Map[Long, Double]]
        Some("pagerank differs from the reference").filter(_ =>
          s.keySet != w.keySet || s.exists { case (v, x) => math.abs(x - w(v)) > 1e-9 })
      case ("louvain", lab: Map[Long, Long] @unchecked) =>
        // no unique answer: a partition of every vertex, good enough
        val vs = g.edges.flatMap { case (x, y) => Seq(x, y) }.toSet
        val q = if (lab.keySet == vs) Ref.modularity(g.edges, lab) else Double.NaN
        Some(f"louvain labels ${lab.size} of ${vs.size} vertices, modularity $q%.4f " +
          f"(floor $louvainFloor)").filter(_ => !(q >= louvainFloor))
      case (_, other) => Some(s"$a differs from the reference").filter(_ => other != want(a))
    }
  }

  override def extras(ops: Seq[Op]): Map[String, Double] =
    algos.map(a => s"$a.ms" -> Stats.median(ops.filter(o => o.kind == a && o.ok).map(_.ms) :+ 0.0))
      .toMap

  override def layers(ops: Seq[Op], t0Ms: Long, t1Ms: Long): Map[String, Double] = {
    val l = ctx.listeners.get.exec
    val jobs = l.jobOps.asScala.toSeq
    val tasks = l.tasks.asScala.toSeq
    val lv = Trace.counter("graph.louvain.rounds")
    algos.flatMap { a =>
      val mine = ops.filter(o => o.kind == a && o.ok)
      val ids = mine.map(_.id).toSet
      val n = math.max(1, mine.size).toDouble
      val r = if (a == "louvain") math.max(1.0, lv / n)
              else rounds(a)
      val ms = mine.map(_.ms).sum / n
      Seq(s"graph.$a.ms" -> ms,
        s"graph.$a.ms_per_round" -> ms / r,
        s"graph.$a.jobs_per_round" -> jobs.count(j => ids(j._2)) / n / r,
        s"graph.$a.shuffle_bytes_per_round" ->
          tasks.filter(t => ids(t.op)).map(_.shuffleWrite).sum / n / r)
    }.toMap
  }
}
