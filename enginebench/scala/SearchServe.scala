package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col

import graft.api.Engine
import graft.store.Versioned

/** `search_serve`: two closed-loop clients issue a seeded request mix
  * (~70% `Engine.search`, ~15% key lookups, ~15% range scans) against a
  * generated corpus read through `Tables.read` and a versioned links
  * table with stats and bloom sidecars. */
final class SearchServe(ctx: Ctx) extends Workload(ctx) {
  import Gen._

  private var corpus: Corpus = _
  private var reqs: Vector[Vector[Req]] = _
  private var warm: Vector[Vector[Req]] = _
  private var index: Ref.SearchIndex = _
  private var dir: String = _
  private var root: String = _
  private val results = new ConcurrentHashMap[(Int, Int), (Req, Any)]()

  def clients = 2
  def listLen = 8
  def unit(kind: String) = true

  def generate(): Unit = {
    corpus = Gen.corpus(ctx.seed)
    reqs = Vector.tabulate(clients)(c => Gen.requests(ctx.seed, c, 4000, corpus))
    warm = Vector.tabulate(clients)(c => Gen.requests(ctx.seed, 100 + c, 5, corpus))
    index = new Ref.SearchIndex(corpus.docs.map(d => d.id -> d.text), corpus.priors)
  }

  def load(rep: Int): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    dir = ctx.path(s"search-$rep")
    root = s"$dir/links"
    corpus.docs.map(d => (d.id, d.text)).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$dir/corpus.parquet")
    corpus.priors.toSeq.toDF("doc_id", "prior")
      .coalesce(1).write.parquet(s"$dir/priors.parquet")
    corpus.links.foreach { rows =>
      Trace.span("store", "store.commit_append") {
        Versioned.commitAppend(rows.toDF(), root, statsCols = Seq("src", "ts"),
          bloomCols = Seq("src", "url"), maxRecordsPerFile = rows.size / 2 + 1)
      }
    }
  }

  def warmup(): Unit =
    Par.run(clients) { c => warm(c).indices.foreach(i => serve(warm(c)(i))) }

  def op(c: Int, i: Int): String = {
    val r = reqs(c)(i % reqs(c).size)
    val (kind, out) = serve(r)
    results.put((c, i), (r, out))
    kind
  }

  private def serve(r: Req): (String, Any) = {
    val spark = ctx.spark
    r match {
      case SearchReq(raw, offset) =>
        val docs = Trace.span("tables", "tables.read")(graft.Tables.read(spark, dir, "corpus"))
        val pri = Trace.span("tables", "tables.read")(graft.Tables.read(spark, dir, "priors"))
        val page = Trace.span("search", "search.call")(Engine.search(docs, pri, raw, offset, 10))
        val ids = Trace.span("search", "search.page")(
          page.rows.select(col("doc_id")).collect().map(_.getLong(0)).toSeq)
        Trace.add("search.requests", 1); Trace.add("search.hits", page.total.toDouble)
        ("search", (ids, page.total))
      case LookupKeyReq(url) =>
        val df = Trace.span("store", "store.lookup")(Engine.lookupKey(spark, root, url))
        probe(Map.empty, Map.empty, Map("url" -> url))
        ("lookup", rows(df))
      case LookupReq(src) =>
        val df = Trace.span("store", "store.lookup")(Engine.lookup(spark, root, src))
        probe(Map.empty, Map("src" -> src), Map.empty)
        ("lookup", rows(df))
      case ScanReq(from, to, ts) =>
        val df = Trace.span("store", "store.scan_range")(
          Engine.scanRange(spark, root, from, to, ts))
        probe(Map("src" -> (from, to - 1), "ts" -> (Long.MinValue, ts - 1)),
          Map.empty, Map.empty)
        ("scan", rows(df))
    }
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[LinkRow] =
    Trace.span("store", "store.collect")(df.select("src", "dst", "url", "ts").collect())
      .map(r => LinkRow(r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .toSeq.sortBy(l => (l.src, l.dst, l.ts))

  /** Traced run only: how many files the lookup's sidecars admitted. */
  private def probe(bounds: Map[String, (Long, Long)], eqs: Map[String, Long],
                    strEqs: Map[String, String]): Unit =
    if (ctx.traced) CountingFileSystem.uncounted {
      val (kept, total) = Versioned.prunedFiles(root, bounds, 0L, eqs, strEqs)
      Trace.add("store.lookups", 1)
      Trace.add("store.files_scanned", kept.size.toDouble)
      Trace.add("store.files_live", total.toDouble)
    }

  def check(): Seq[String] = {
    val all = corpus.links.flatten
    val byUrl = all.groupBy(_.url)
    val bySrc = all.groupBy(_.src)
    def sorted(xs: Seq[LinkRow]) = xs.sortBy(l => (l.src, l.dst, l.ts))
    val ranked = new ConcurrentHashMap[String, Seq[(Long, Double)]]()
    results.asScala.toSeq.sortBy(_._1).flatMap { case ((c, i), (r, out)) =>
      val bad: Option[String] = (r, out) match {
        case (SearchReq(raw, off), (ids: Seq[Long] @unchecked, total: Long)) =>
          Ref.pageMatches(ranked.computeIfAbsent(raw, q => index.ranked(q)),
            off, 10, ids, total)
        case (LookupKeyReq(u), got: Seq[LinkRow] @unchecked) =>
          Some(s"lookupKey $u").filter(_ => got != sorted(byUrl.getOrElse(u, Nil)))
        case (LookupReq(s), got: Seq[LinkRow] @unchecked) =>
          Some(s"lookup $s").filter(_ => got != sorted(bySrc.getOrElse(s, Nil)))
        case (ScanReq(f, t, ts), got: Seq[LinkRow] @unchecked) =>
          val want = sorted(all.filter(l => l.src >= f && l.src < t && l.ts < ts))
          Some(s"scanRange [$f,$t) ts<$ts").filter(_ => got != want)
        case other => Some(s"unexpected result $other")
      }
      bad.map(b => s"client $c request $i ($r): $b")
    }
  }

  override def layers(ops: Seq[Op], t0Ms: Long, t1Ms: Long): Map[String, Double] = {
    val l = ctx.listeners.get.exec
    val searchOps = ops.filter(_.kind == "search").map(_.id).toSet
    val inBytes = l.tasks.asScala.filter(t => searchOps(t.op)).map(_.input).sum.toDouble
    val corpusBytes = Layers.bytesUnder(s"$dir/corpus.parquet").toDouble
    val n = math.max(1.0, Trace.counter("search.requests"))
    Map(
      "search.corpus_reads_per_request" -> inBytes / corpusBytes / n,
      "search.hits_per_request" -> Trace.counter("search.hits") / n)
  }
}

/** Run `f(0) … f(n-1)` on n threads and wait for all of them. */
object Par {
  def run(n: Int)(f: Int => Unit): Unit = {
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ts = (0 until n).map(c => new Thread(() =>
      try f(c) catch { case e: Throwable => errs.add(e); () }))
    ts.foreach(_.start()); ts.foreach(_.join())
    Option(errs.peek()).foreach(e => throw e)
  }
}
