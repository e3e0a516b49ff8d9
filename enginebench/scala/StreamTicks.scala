package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.{col, timestamp_micros}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.store.Versioned
import graft.streaming.Streams

/** `stream_ticks`: seeded event micro-batches land in a file-source
  * stream read by two queries: `Streams.windowedCounts` with an
  * exactly-once `Versioned.commitAppendTxn` sink, and `Streams.sessionize`.
  * One tick = one file dropped in, timed around `processAllAvailable()`
  * of both queries. */
final class StreamTicks(ctx: Ctx) extends Workload(ctx) {
  private val gapUs = 20L * 1000000L
  private val schema = "event_id BIGINT, user_id BIGINT, event_type STRING, ts TIMESTAMP, ts_us BIGINT"
  private var base: String = _
  private var queries: Seq[StreamingQuery] = Nil
  private var ticks = 0
  private val sessions = new ConcurrentLinkedQueue[Streams.Session]()

  def clients = 1
  def listLen = 4
  def unit(kind: String) = true
  private def root = s"$base/counts"

  def generate(): Unit = ()

  def load(rep: Int): Unit = {
    queries.foreach(_.stop())
    sessions.clear()
    ticks = 0
    base = ctx.path(s"stream-$rep")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$base/source"))
    val spark = ctx.spark
    import spark.implicits._
    val src = spark.readStream.schema(schema).parquet(s"$base/source")
    val counts = Streams.windowedCounts(src, "1 minute", "2 minutes")
      .writeStream.option("checkpointLocation", s"$base/ckpt-counts")
      .foreachBatch { (b: DataFrame, id: Long) =>
        if (!b.isEmpty) Trace.span("store", "store.commit_txn")(
          Versioned.commitAppendTxn(b, root, "window-counts", id))
        ()
      }.start()
    val clicks = src.select(col("user_id").as("userId"), col("ts"), col("ts_us").as("tsUs"))
      .as[Streams.Click]
    val sess = Streams.sessionize(clicks, gapUs)
      .writeStream.option("checkpointLocation", s"$base/ckpt-sessions")
      .foreachBatch { (b: Dataset[Streams.Session], _: Long) =>
        b.collect().foreach(sessions.add)
      }.start()
    queries = Seq(counts, sess)
  }

  /** The first ticks pay state-store and codegen start-up. */
  def warmup(): Unit = (0 until 6).foreach(_ => tick())

  def op(c: Int, i: Int): String = { tick(); "tick" }

  private def tick(events: Seq[Gen.Event] = Nil): Unit = {
    val t = ticks
    ticks += 1
    Main.untimed(drop(if (events.nonEmpty) events else Gen.tick(ctx.seed, t), t))
    Trace.span("streaming", "streaming.tick")(queries.foreach(_.processAllAvailable()))
  }

  /** Write a tick's events as one parquet file, then move it into the
    * source directory whole, so the stream never sees a partial file. */
  private def drop(events: Seq[Gen.Event], t: Int): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val tmp = s"$base/staging-$t"
    events.map(e => (e.id, e.user, e.etype, e.tsUs))
      .toDF("event_id", "user_id", "event_type", "ts_us")
      .select(col("event_id"), col("user_id"), col("event_type"),
        timestamp_micros(col("ts_us")).as("ts"), col("ts_us"))
      .coalesce(1).write.parquet(tmp)
    val part = java.nio.file.Files.list(java.nio.file.Paths.get(tmp)).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    java.nio.file.Files.move(part,
      java.nio.file.Paths.get(f"$base/source/tick-$t%05d.parquet"))
  }

  def check(): Seq[String] = {
    val real = ticks
    // two far-future sentinel ticks move the watermark past every window
    // and session, and the round after fires them
    (0 until 2).foreach { k =>
      tick(Seq(Gen.Event(-1L - k, -1L, "sentinel", (real + 1000L + k) * Gen.tickEventUs)))
    }
    queries.foreach(_.stop())
    val events = (0 until real).flatMap(t => Gen.tick(ctx.seed, t))
    val got = Versioned.read(ctx.spark, root).collect().map { r =>
      (r.getAs[java.sql.Timestamp]("win_start").getTime * 1000L,
        r.getAs[String]("event_type")) -> r.getAs[Long]("cnt")
    }
    val counts = got.filter(_._1._2 != "sentinel")
    val wantCounts = Ref.windowCounts(events)
    val wantSessions = Ref.sessions(events, gapUs)
    val gotSessions = sessions.asScala.toSeq.filter(_.userId >= 0)
      .map(s => (s.userId, s.nEvents, s.startUs, s.endUs))
    Seq(
      Some(s"window counts differ (${counts.length} rows vs ${wantCounts.size})")
        .filter(_ => counts.length != wantCounts.size || counts.toMap != wantCounts),
      Some(s"sessions differ (${gotSessions.size} vs ${wantSessions.size})")
        .filter(_ => gotSessions.size != wantSessions.size || gotSessions.toSet != wantSessions)
    ).flatten
  }

  override def shutdown(): Unit = queries.foreach(_.stop())

  override def diskRatio(): Option[Double] =
    Some(Layers.bytesUnder(base, skip = Set("source")).toDouble /
      Versioned.files(root).map(Layers.fileBytes).sum)

  override def layers(ops: Seq[Op], t0Ms: Long, t1Ms: Long): Map[String, Double] = {
    val ps = ctx.listeners.get.stream.progress.asScala.toSeq
      .filter(p => p.atMs >= t0Ms && p.atMs <= t1Ms + 1000)
      .filter(_.durations.contains("addBatch"))
    val n = math.max(1, ps.size).toDouble
    def mean(k: String) = ps.map(_.durations.getOrElse(k, 0L)).sum / n
    val last = ps.takeRight(2)
    Map(
      "streaming.trigger_ms" -> mean("triggerExecution"),
      "streaming.planning_ms" -> mean("queryPlanning"),
      "streaming.add_batch_ms" -> mean("addBatch"),
      "streaming.latest_offset_ms" -> mean("latestOffset"),
      "streaming.wal_commit_ms" -> mean("walCommit"),
      "streaming.commit_offsets_ms" -> mean("commitOffsets"),
      "streaming.state_commit_ms" -> ps.map(_.stateCommitMs).sum / n,
      "streaming.state_rows" -> last.map(_.stateRows).sum.toDouble,
      "streaming.state_memory_bytes" -> last.map(_.stateMem).sum.toDouble)
  }
}
