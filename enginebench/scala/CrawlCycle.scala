package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.api.Engine
import graft.crawl.Crawl
import graft.store.Versioned

/** Counts every fetch the crawl makes; above one fetch per frontier URL
  * means fetches re-ran. The counters are JVM-global, which local mode
  * shares between the driver and its executor threads. */
final case class CountingGetter(inner: Crawl.UrlGetter) extends Crawl.UrlGetter {
  def get(url: String): Crawl.FetchResult = {
    val r = inner.get(url)
    CountingGetter.calls.incrementAndGet()
    if (r.status == 200) CountingGetter.ok.incrementAndGet()
    r
  }
}
object CountingGetter {
  val calls, ok = new AtomicLong()
}

/** `crawl_cycle`: one writer runs crawl cycles (crawl pass, merges of
  * links, edges and documents, warm-started PageRank, score write-back,
  * periodic compaction and vacuum) while one reader searches and looks
  * up URLs in the latest committed version, pausing between requests. */
final class CrawlCycle(ctx: Ctx) extends Workload(ctx) {
  private var web: Gen.Web = _
  private var truth: Ref.CrawlTruth = _
  private var base: String = _
  private var cycle = 0
  private var prevScores: Option[DataFrame] = None
  private val reads = new ConcurrentLinkedQueue[(String, Any)]()
  private val readTerms = Array("t0000", "t0001 t0002", "t0003", "page", "home site1")

  def clients = 1
  /** Two cycles per list: one with compaction and vacuum, one without. */
  def listLen = 2
  def unit(kind: String): Boolean = kind == "cycle"
  private def root(t: String) = s"$base/$t"

  def generate(): Unit = {
    web = Gen.web(ctx.seed)
    truth = Ref.crawl(web)
  }

  def load(rep: Int): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    base = ctx.path(s"crawl-$rep")
    cycle = 0
    prevScores = None
    web.pages.values.toSeq.map(p => (p.url, p.body)).toDF("url", "body")
      .coalesce(1).write.parquet(s"$base/web.parquet")
    val seeds = web.seeds.map(u => (Ref.md5(u), u, 0L)).toDF("id", "url", "retrieved_at")
    Trace.span("store", "store.commit_merge")(
      Versioned.commitMerge(seeds, root("links"), Seq("id")))
  }

  /** The reader's think time between requests. */
  private val readPauseMs = 500L

  /** Discovery: cycle 1 fetches the seeds (every page) and finds the
    * dead and private links. From cycle 2 on every cycle is a full
    * re-crawl of an unchanged web. */
  def warmup(): Unit = runCycle()

  def op(c: Int, i: Int): String = { runCycle(); "cycle" }

  private def runCycle(): Unit = {
    val spark = ctx.spark
    cycle += 1
    val now = cycle.toLong
    val before = CountingGetter.calls.get
    val okBefore = CountingGetter.ok.get
    // the stub fetcher serves this cycle's snapshot of the web, read
    // through the engine's table reader
    val snapshot = Trace.span("tables", "tables.read")(graft.Tables.read(spark, base, "web"))
    val getter = CountingGetter(Crawl.TableUrlGetter(
      snapshot.collect().map(r => r.getString(0) -> r.getString(1)).toMap))
    val links = Trace.span("store", "store.read_resolve")(Versioned.read(spark, root("links")))
    // every stored link older than this cycle is stale: a full re-crawl
    val res = Trace.span("crawl", "crawl.pass")(
      Engine.crawlPass(links.select("url", "retrieved_at"), getter, now, now))
    commit("merge", "links")(Versioned.commitMerge(res.links, root("links"), Seq("id")))
    commit("merge", "edges")(Versioned.commitMerge(res.edges, root("edges"), Seq("src", "dst")))
    commit("merge", "docs")(Versioned.commitMerge(res.documents, root("docs"), Seq("link_id")))
    val vs = Trace.span("store", "store.read_resolve")(Versioned.read(spark, root("links")))
    val es = Trace.span("store", "store.read_resolve")(Versioned.read(spark, root("edges")))
    val pr = Trace.span("graph", "graph.pagerank_warm")(
      Engine.pageRankPass(vs.select("id"), es.select("src", "dst"), warmStart = prevScores))
    Trace.add("graph.pagerank_warm.rounds", pr.iterations.toDouble)
    prevScores = Some(pr.scores)
    val docs = Trace.span("store", "store.read_resolve")(Versioned.read(spark, root("docs")))
    val ranked = Engine.writeScores(docs,
      pr.scores.select(col("id").as("link_id"), col("score")), idCol = "link_id")
    commit("overwrite", "ranked")(Versioned.commitOverwrite(
      ranked.select("link_id", "url", "content", "final_score"), root("ranked")))
    if (cycle % 2 == 0) Seq("links", "edges", "docs", "ranked").foreach { t =>
      commit("compact", t)(Versioned.commitCompact(spark, root(t)))
      Trace.span("store", "store.vacuum") {
        val latest = Versioned.latestVersion(root(t))
        if (latest > 3) Versioned.vacuum(root(t), latest - 2)
      }
    }
    Trace.add("crawl.cycles", 1)
    Trace.add("crawl.fetch_calls", (CountingGetter.calls.get - before).toDouble)
    Trace.add("crawl.fetch_ok", (CountingGetter.ok.get - okBefore).toDouble)
  }

  /** A traced commit also records what it wrote. */
  private def commit(kind: String, table: String)(f: => Long): Unit = {
    val r = root(table)
    val old = if (ctx.traced) CountingFileSystem.uncounted(liveFiles(r)) else Set.empty[String]
    Trace.span("store", s"store.commit_$kind")(f)
    if (ctx.traced) CountingFileSystem.uncounted {
      val now = liveFiles(r)
      val fresh = now -- old
      Trace.add(s"store.rows_delta.$table",
        (now.toSeq.map(Layers.parquetRows).sum - old.toSeq.map(Layers.parquetRows).sum).toDouble)
      Trace.add("store.commits", 1)
      Trace.add("store.files_written", fresh.size.toDouble)
      Trace.add("store.bytes_written", fresh.toSeq.map(Layers.fileBytes).sum.toDouble)
      Trace.add("store.rows_written", fresh.toSeq.map(Layers.parquetRows).sum.toDouble)
      Trace.add("store.rows_changed", (table match {
        case "links" => truth.links.size
        case "edges" => truth.edges.size
        case "docs" => truth.fetched.size
        case _ => truth.links.size
      }).toDouble)
    }
  }

  private def liveFiles(r: String): Set[String] =
    if (Versioned.latestVersion(r) == 0L) Set.empty else Versioned.files(r).toSet

  override def side(stop: AtomicBoolean,
                    timeOp: Int => (=> String) => Unit): Seq[Thread] = Seq(
    new Thread(() => {
      val spark = ctx.spark
      var i = 0
      while (!stop.get()) {
        timeOp(1) {
          if (i % 2 == 0) {
            val docs = Trace.span("store", "store.read_resolve")(Versioned.read(spark, root("ranked")))
            val page = Trace.span("search", "search.call")(Engine.search(docs,
              docs.select(col("link_id"), col("final_score").as("prior")),
              readTerms(i / 2 % readTerms.length), 0, 10, "link_id", "content"))
            val got = Trace.span("search", "search.page")(page.rows.collect())
            reads.add("search" -> got.map(_.getAs[Double]("blended")).toSeq)
          } else {
            val u = web.seeds(i / 2 % web.seeds.size)
            val got = Trace.span("store", "store.lookup")(
              Engine.lookupKey(spark, root("links"), u)).collect()
            reads.add(u -> got.map(_.getAs[String]("url")).toSeq)
          }
          "read"
        }
        i += 1
        Thread.sleep(readPauseMs)
      }
    }, "reader"))

  def check(): Seq[String] = {
    val spark = ctx.spark
    val links = Versioned.read(spark, root("links")).collect()
      .map(r => r.getAs[String]("url") -> r.getAs[Long]("retrieved_at")).toMap
    val edges = Versioned.read(spark, root("edges")).select("src", "dst").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    val docs = Versioned.read(spark, root("docs")).select("link_id").collect()
      .map(_.getString(0)).toSet
    val wantEdges = truth.edges.map { case (a, b) => (Ref.md5(a), Ref.md5(b)) }
    val out = Seq(
      Some("links differ from the BFS").filter(_ => links.keySet != truth.links),
      Some("a fetched page was not re-crawled in the last cycle").filter(_ =>
        truth.fetched.exists(u => !links.get(u).contains(cycle.toLong))),
      Some("an unfetchable link was marked retrieved").filter(_ =>
        (truth.links -- truth.fetched).exists(u => links.get(u).exists(_ != 0L))),
      Some(s"edges differ from the BFS (${edges.size} vs ${wantEdges.size})")
        .filter(_ => edges != wantEdges),
      Some("documents differ from the fetched pages").filter(_ =>
        docs != truth.fetched.map(Ref.md5))).flatten
    val badReads = reads.asScala.toSeq.flatMap {
      case ("search", scores: Seq[Double] @unchecked) =>
        Some("reader search page unordered").filter(_ =>
          scores.size > 10 || scores.zip(scores.drop(1)).exists { case (a, b) => a < b })
      case (u, urls: Seq[String] @unchecked) =>
        Some(s"reader lookupKey $u").filter(_ => urls != Seq(u))
    }
    out ++ badReads
  }

  override def extras(ops: Seq[Op]): Map[String, Double] = {
    val rd = ops.filter(o => o.kind == "read" && o.ok).map(_.ms)
    if (rd.isEmpty) Map.empty
    else Map("read_p50_ms" -> Stats.median(rd), "read_samples" -> rd.size.toDouble) ++
      Stats.tail(rd).map { case (p, v) => Map("read_tail_ms" -> v, "read_tail_pct" -> p) }
        .getOrElse(Map.empty)
  }

  override def diskRatio(): Option[Double] =
    Some(Layers.bytesUnder(base).toDouble /
      Seq("links", "edges", "docs", "ranked").flatMap(t => Versioned.files(root(t)))
        .map(Layers.fileBytes).sum)

  override def layers(ops: Seq[Op], t0Ms: Long, t1Ms: Long): Map[String, Double] = {
    val cycles = math.max(1.0, Trace.counter("crawl.cycles"))
    val calls = math.max(1.0, Trace.counter("crawl.fetch_calls"))
    // a full re-crawl's frontier: every stored link on a public host
    val frontier = truth.links.count(u => !Ref.privateHost(u)).toDouble
    Map(
      "graph.pagerank_warm.rounds" -> Trace.counter("graph.pagerank_warm.rounds") / cycles,
      "crawl.frontier_urls" -> frontier,
      "crawl.fetch_ok_ratio" -> Trace.counter("crawl.fetch_ok") / calls,
      "crawl.fetches_per_frontier_url" -> calls / cycles / frontier,
      "crawl.new_links_per_page" ->
        Trace.counter("store.rows_delta.links") / math.max(1.0, Trace.counter("crawl.fetch_ok")))
  }
}
