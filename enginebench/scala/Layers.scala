package graftbench

import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced run. Layers are named after the repo's
  * modules, plus `exec` for Spark's scheduler and executors. Every name
  * below is reported on every workload; a layer the workload does not
  * enter reads 0. "Per op" divides by the timed unit-op count. */
object Layers {
  val algos = Seq("pagerank", "components", "lpa", "kcore", "hits", "sssp", "louvain")
  val selfLayers = Seq("client", "tables", "search", "store", "graph", "crawl", "streaming")

  val names: Seq[String] =
    Seq("plans.analysis_ms_per_op", "plans.optimization_ms_per_op",
      "plans.physical_ms_per_op", "plans.actions_per_op",
      "exec.jobs_per_op", "exec.stages_per_op", "exec.tasks_per_op",
      "exec.task_run_ms_per_op", "exec.task_cpu_ms_per_op", "exec.gc_ms_per_op",
      "exec.shuffle_write_bytes_per_op", "exec.shuffle_read_bytes_per_op",
      "exec.spill_bytes_per_op", "exec.input_bytes_per_op",
      "exec.block_bytes_stored_per_op", "exec.driver_gap_ms_per_op", "exec.task_failures",
      "tables.read_ms", "tables.read_calls",
      "search.call_ms", "search.page_ms", "search.corpus_reads_per_request",
      "search.hits_per_request",
      "store.read_resolve_ms", "store.lookup_ms", "store.scan_range_ms",
      "store.files_scanned_per_lookup", "store.skip_ratio",
      "store.commit_append_ms", "store.commit_merge_ms", "store.commit_overwrite_ms",
      "store.commit_txn_ms", "store.compact_ms", "store.files_written_per_commit",
      "store.bytes_written_per_commit", "store.rows_rewritten_per_row_changed",
      "store.metadata_bytes", "store.versions",
      "util.fs_list_calls_per_op", "util.fs_status_calls_per_op",
      "util.fs_open_calls_per_op", "util.fs_create_calls_per_op",
      "util.fs_rename_calls_per_op", "util.fs_delete_calls_per_op") ++
    algos.flatMap(a => Seq(s"graph.$a.ms", s"graph.$a.ms_per_round",
      s"graph.$a.jobs_per_round", s"graph.$a.shuffle_bytes_per_round")) ++
    Seq("graph.pagerank_warm.rounds", "graph.pagerank_warm.ms",
      "crawl.pass_ms", "crawl.frontier_urls", "crawl.fetch_ok_ratio",
      "crawl.fetches_per_frontier_url", "crawl.new_links_per_page",
      "streaming.trigger_ms", "streaming.planning_ms", "streaming.add_batch_ms",
      "streaming.latest_offset_ms", "streaming.wal_commit_ms",
      "streaming.commit_offsets_ms", "streaming.state_commit_ms",
      "streaming.state_rows", "streaming.state_memory_bytes") ++
    selfLayers.map(l => s"self.${l}_ms_per_op") ++
    Seq("trace.wall_s", "trace.spans")

  def unitOf(n: String): String =
    if (n.endsWith("_ms") || n.endsWith(".ms") || n.contains("ms_per_")) "ms"
    else if (n == "trace.wall_s") "s"
    else if (n.contains("bytes")) "bytes"
    else if (n.endsWith("_per_op")) "count/op"
    else if (n.contains("ratio") || n.contains("_per_")) "ratio"
    else "count"

  /** Span names whose mean duration is a `<name>_ms` metric. */
  private val spanMs = Map(
    "tables.read" -> "tables.read_ms", "search.call" -> "search.call_ms",
    "search.page" -> "search.page_ms", "store.read_resolve" -> "store.read_resolve_ms",
    "store.lookup" -> "store.lookup_ms", "store.scan_range" -> "store.scan_range_ms",
    "store.commit_append" -> "store.commit_append_ms",
    "store.commit_merge" -> "store.commit_merge_ms",
    "store.commit_overwrite" -> "store.commit_overwrite_ms",
    "store.commit_txn" -> "store.commit_txn_ms", "store.commit_compact" -> "store.compact_ms",
    "graph.pagerank_warm" -> "graph.pagerank_warm.ms", "crawl.pass" -> "crawl.pass_ms")

  def compute(wl: Workload, ctx: Ctx, all: Seq[Op], unit: Seq[Op], t0Ms: Long,
              t0Ns: Long, t1Ms: Long, fs: Map[String, Long],
              wallS: Double): Map[String, Double] = {
    val l = ctx.listeners.get
    val ops = math.max(1, unit.count(_.ok)).toDouble
    val inPhase = (t: Long) => t >= t0Ms && t <= t1Ms
    val tasks = l.exec.tasks.asScala.toSeq.filter(t => inPhase(t.launchMs))
    val stages = l.exec.stages.asScala.toSeq.filter(s => inPhase(s.submitMs))
    val plans = l.plan.plans.asScala.toSeq.filter(p => inPhase(p.endMs))
    val spans = Trace.allSpans
    val timedIds = all.map(_.id).toSet
    val timed = spans.filter(s => timedIds(s.op))
    val self = Trace.selfTimes(timed)
    // driver gap: each unit op's wall not covered by a running stage.
    // Stages run for another client's ops do not count; stages from
    // engine-owned threads (streams, commit futures) carry no op or a
    // stale one of the same client, and do.
    val clientOf = all.map(o => o.id -> o.client).toMap
    val allStages = l.exec.stages.asScala.toSeq
    val gapMs = unit.map { o =>
      val s = t0Ms + (o.startNs - t0Ns) / 1000000L
      val e = s + (o.endNs - o.startNs) / 1000000L
      val covered = Stats.unionLength(allStages
        .filter(st => clientOf.get(st.op).forall(_ == o.client))
        .map(st => (math.max(s, st.submitMs), math.min(e, st.doneMs))))
      math.max(0.0, o.ms - covered)
    }.sum
    val m = scala.collection.mutable.Map[String, Double]()
    m("plans.analysis_ms_per_op") = plans.map(_.analysisMs).sum / ops
    m("plans.optimization_ms_per_op") = plans.map(_.optimizationMs).sum / ops
    m("plans.physical_ms_per_op") = plans.map(_.physicalMs).sum / ops
    m("plans.actions_per_op") = plans.size / ops
    m("exec.jobs_per_op") = l.exec.jobOps.asScala.count(j => inPhase(j._1)) / ops
    m("exec.stages_per_op") = stages.size / ops
    m("exec.tasks_per_op") = tasks.size / ops
    m("exec.task_run_ms_per_op") = tasks.map(_.runMs).sum / ops
    m("exec.task_cpu_ms_per_op") = tasks.map(_.cpuNs).sum / 1e6 / ops
    m("exec.gc_ms_per_op") = tasks.map(_.gcMs).sum / ops
    m("exec.shuffle_write_bytes_per_op") = tasks.map(_.shuffleWrite).sum / ops
    m("exec.shuffle_read_bytes_per_op") = tasks.map(_.shuffleRead).sum / ops
    m("exec.spill_bytes_per_op") = tasks.map(_.spill).sum / ops
    m("exec.input_bytes_per_op") = tasks.map(_.input).sum / ops
    m("exec.block_bytes_stored_per_op") =
      l.exec.blocks.asScala.filter(b => inPhase(b._1)).map(_._2).sum / ops
    m("exec.driver_gap_ms_per_op") = gapMs / ops
    m("exec.task_failures") = tasks.count(_.failed).toDouble
    timed.groupBy(_.name).foreach { case (n, ss) =>
      spanMs.get(n).foreach(k => m(k) = ss.map(s => (s.endNs - s.startNs) / 1e6).sum / ss.size)
    }
    m("tables.read_calls") = timed.count(_.name == "tables.read") / ops
    val lookups = Trace.counter("store.lookups")
    if (lookups > 0) {
      m("store.files_scanned_per_lookup") = Trace.counter("store.files_scanned") / lookups
      m("store.skip_ratio") = Trace.counter("store.files_scanned") /
        math.max(1.0, Trace.counter("store.files_live"))
    }
    val commits = Trace.counter("store.commits")
    if (commits > 0) {
      m("store.files_written_per_commit") = Trace.counter("store.files_written") / commits
      m("store.bytes_written_per_commit") = Trace.counter("store.bytes_written") / commits
      m("store.rows_rewritten_per_row_changed") = Trace.counter("store.rows_written") /
        math.max(1.0, Trace.counter("store.rows_changed"))
    }
    val (meta, versions) = storeMeta(ctx.work)
    m("store.metadata_bytes") = meta
    m("store.versions") = versions
    Seq("list", "status", "open", "create", "rename", "delete").foreach { k =>
      m(s"util.fs_${k}_calls_per_op") = fs(k) / ops
    }
    selfLayers.foreach { layer =>
      m(s"self.${layer}_ms_per_op") =
        timed.filter(_.layer == layer).map(s => self(s.id)).sum / 1e6 / ops
    }
    m("trace.wall_s") = wallS
    m("trace.spans") = spans.size.toDouble
    m ++= wl.layers(all, t0Ms, t1Ms)
    names.map(n => n -> m.getOrElse(n, 0.0)).toMap
  }

  /** Bytes outside data files, and committed versions, of every store
    * table under the work directory (a table root holds `manifest-v*.json`). */
  private def storeMeta(work: String): (Double, Double) = {
    val roots = java.nio.file.Files.walk(java.nio.file.Paths.get(work)).iterator().asScala
      .filter(_.getFileName.toString.matches("manifest-v\\d+\\.json"))
      .map(_.getParent).toSeq.distinct
    val meta = roots.map(r => bytesUnder(r.toString, skip = Set("data"))).sum
    val versions = roots.map(r => graft.store.Versioned.latestVersion(r.toString)).sum
    (meta.toDouble, versions.toDouble)
  }

  def bytesUnder(dir: String, skip: Set[String] = Set.empty): Long = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) 0L
    else java.nio.file.Files.walk(root).iterator().asScala
      .filter(p => java.nio.file.Files.isRegularFile(p))
      .filter(p => !skip.exists(s => root.relativize(p).toString.split('/').headOption.contains(s)))
      .map(p => java.nio.file.Files.size(p)).sum
  }

  def fileBytes(uri: String): Long =
    java.nio.file.Files.size(java.nio.file.Paths.get(new java.net.URI(
      if (uri.startsWith("file:")) uri else "file://" + uri)))

  private lazy val plainConf = {
    val c = new org.apache.hadoop.conf.Configuration()
    c.set("fs.file.impl", classOf[org.apache.hadoop.fs.RawLocalFileSystem].getName)
    c.setBoolean("fs.file.impl.disable.cache", true)
    c
  }

  /** Row count from a parquet footer (no Spark job, uncounted IO). */
  def parquetRows(uri: String): Long = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(uri), plainConf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getRecordCount finally r.close()
  }

  def spansJson(ops: Seq[Op]): String = {
    val ss = Trace.allSpans
    val self = Trace.selfTimes(ss)
    val byLayer = ss.groupBy(_.layer).map { case (k, v) =>
      k -> Map("spans" -> v.size, "total_ms" -> v.map(s => (s.endNs - s.startNs) / 1e6).sum,
        "self_ms" -> v.map(s => self(s.id) / 1e6).sum)
    }
    val t0 = if (ss.isEmpty) 0L else ss.map(_.startNs).min
    Stats.json(Map(
      "layers" -> byLayer,
      "spans" -> ss.sortBy(_.startNs).map(s => scala.collection.immutable.ListMap(
        "id" -> s.id, "parent" -> s.parent, "layer" -> s.layer, "name" -> s.name,
        "op" -> s.op, "start_ms" -> (s.startNs - t0) / 1e6, "end_ms" -> (s.endNs - t0) / 1e6,
        "self_ms" -> self(s.id) / 1e6))))
  }
}

object Workloads {
  def make(name: String, ctx: Ctx): Workload = name match {
    case "search_serve" => new SearchServe(ctx)
    case "crawl_cycle" => new CrawlCycle(ctx)
    case "graph_loops" => new GraphLoops(ctx)
    case "stream_ticks" => new StreamTicks(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}
