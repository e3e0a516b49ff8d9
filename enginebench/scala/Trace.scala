package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Benchmark-side tracing, active only in a traced run (`--trace 1`).
  *
  * Spans are recorded around every call the benchmark makes into an
  * engine layer: layer, name, start, end, parent span and op id. They
  * stay in memory and are written out when the run ends. Counts come
  * from Spark listeners and a counting `file://` file system, all
  * attached only in the traced run; an untraced run pays one branch per
  * span and nothing else. */
object Trace {
  @volatile var on = false

  final case class Span(id: Long, parent: Long, layer: String, name: String,
                        op: Long, startNs: Long, endNs: Long)

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val stack = ThreadLocal.withInitial[java.util.ArrayDeque[Long]](
    () => new java.util.ArrayDeque[Long]())
  private val opOf = ThreadLocal.withInitial[java.lang.Long](() => 0L)

  def span[T](layer: String, name: String)(f: => T): T =
    if (!on) f
    else {
      val id = ids.incrementAndGet()
      val st = stack.get()
      val parent = if (st.isEmpty) 0L else st.peek()
      st.push(id)
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        st.pop()
        spans.add(Span(id, parent, layer, name, opOf.get(), t0, t1))
      }
    }

  /** Run `f` as op `op` of the calling client: spans inside carry it. */
  def asOp[T](op: Long)(f: => T): T = {
    opOf.set(op)
    try f finally opOf.set(0L)
  }

  def allSpans: Seq[Span] = spans.asScala.toSeq

  /** Span duration minus the part of it covered by its children. */
  def selfTimes(ss: Seq[Span]): Map[Long, Long] = {
    val kids = ss.groupBy(_.parent)
    ss.map { s =>
      val covered = Stats.unionLength(kids.getOrElse(s.id, Nil)
        .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs))))
      s.id -> (s.endNs - s.startNs - covered)
    }.toMap
  }

  // ----------------------------------------------------------- counters

  private val counters = new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.DoubleAdder]()
  def add(name: String, v: Double): Unit =
    if (on) counters.computeIfAbsent(name, _ => new java.util.concurrent.atomic.DoubleAdder()).add(v)
  def counter(name: String): Double =
    Option(counters.get(name)).map(_.sum()).getOrElse(0.0)
  def resetCounters(): Unit = counters.clear()

  // ---------------------------------------------------------- listeners

  final case class Task(op: Long, launchMs: Long, runMs: Long, cpuNs: Long,
                        gcMs: Long, shuffleWrite: Long, shuffleRead: Long,
                        spill: Long, input: Long, failed: Boolean)
  final case class Stage(op: Long, submitMs: Long, doneMs: Long)

  /** Jobs, stages, tasks and stored blocks, each stamped with wall time
    * so the report can attribute them to the timed phase or to one op. */
  final class ExecListener extends SparkListener {
    val stages = new ConcurrentLinkedQueue[Stage]()
    val tasks = new ConcurrentLinkedQueue[Task]()
    val blocks = new ConcurrentLinkedQueue[(Long, Long)]()
    /** Job start times with the op id of the client thread that ran it. */
    val jobOps = new ConcurrentLinkedQueue[(Long, Long)]()
    private val stageOp = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    private def opOf(stage: Int): Long = stageOp.getOrDefault(stage, 0L)
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = Option(e.properties).flatMap(p => Option(p.getProperty("graftbench.op")))
        .map(_.toLong).getOrElse(0L)
      e.stageIds.foreach(s => stageOp.put(s, op))
      jobOps.add((e.time, op)); ()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      for (s <- i.submissionTime; d <- i.completionTime)
        stages.add(Stage(opOf(i.stageId), s, d))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val info = e.taskInfo
      val op = opOf(e.stageId)
      if (m != null) tasks.add(Task(op, info.launchTime,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead,
        info.failed || info.killed))
      else tasks.add(Task(op, info.launchTime, 0, 0, 0, 0, 0, 0, 0,
        info.failed || info.killed))
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.storageLevel.isValid && b.blockId.isRDD)
        blocks.add((System.currentTimeMillis(), b.memSize + b.diskSize))
    }
  }

  final case class Plan(endMs: Long, analysisMs: Long, optimizationMs: Long,
                        physicalMs: Long)

  /** Planning phases of every action, read from the query's tracker. */
  final class PlanListener extends QueryExecutionListener {
    val plans = new ConcurrentLinkedQueue[Plan]()
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def ms(k: String): Long = ph.get(k).map(_.durationMs).getOrElse(0L)
      plans.add(Plan(if (ph.isEmpty) System.currentTimeMillis() else
        ph.values.map(_.endTimeMs).max, ms("analysis"), ms("optimization"),
        ms("planning")))
      ()
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  final case class Progress(atMs: Long, durations: Map[String, Long],
                            stateCommitMs: Long, stateRows: Long, stateMem: Long)

  final class StreamListener extends StreamingQueryListener {
    val progress = new ConcurrentLinkedQueue[Progress]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val ops = p.stateOperators.toSeq
      progress.add(Progress(System.currentTimeMillis(),
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        ops.map(_.commitTimeMs).sum, ops.map(_.numRowsTotal).sum,
        ops.map(_.memoryUsedBytes).sum))
      ()
    }
  }

  final case class Listeners(exec: ExecListener, plan: PlanListener,
                             stream: StreamListener)

  def attach(spark: SparkSession): Listeners = {
    val l = Listeners(new ExecListener, new PlanListener, new StreamListener)
    spark.sparkContext.addSparkListener(l.exec)
    spark.listenerManager.register(l.plan)
    spark.streams.addListener(l.stream)
    l
  }

  /** Wait until every listener has seen every event posted so far. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.graftbench.Bridge.drain(spark.sparkContext)
}

/** `file://` file system that counts the metadata and data calls the
  * store makes. Extends the engine's own local file system, so the
  * traced run does the same IO as the untraced one. */
class CountingFileSystem extends graft.util.FastLocalFileSystem {
  import CountingFileSystem._
  override def listStatus(p: Path): Array[FileStatus] = { tick(list); super.listStatus(p) }
  override def getFileStatus(p: Path): FileStatus = { tick(status); super.getFileStatus(p) }
  override def open(p: Path, bufferSize: Int): FSDataInputStream = {
    tick(opens); super.open(p, bufferSize)
  }
  override def create(p: Path, perm: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    tick(creates)
    super.create(p, perm, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(a: Path, b: Path): Boolean = { tick(renames); super.rename(a, b) }
  override def delete(p: Path, recursive: Boolean): Boolean = {
    tick(deletes); super.delete(p, recursive)
  }
}

object CountingFileSystem {
  val list, status, opens, creates, renames, deletes = new AtomicLong()
  @volatile var counting = false
  private val paused = ThreadLocal.withInitial[java.lang.Boolean](() => false)
  private def tick(c: AtomicLong): Unit =
    if (counting && !paused.get()) { c.incrementAndGet(); () }
  /** Run benchmark bookkeeping IO without counting it. */
  def uncounted[T](f: => T): T = {
    paused.set(true)
    try f finally paused.set(false)
  }
  def reset(): Unit = Seq(list, status, opens, creates, renames, deletes).foreach(_.set(0))
  def snapshot: Map[String, Long] = Map(
    "list" -> list.get, "status" -> status.get, "open" -> opens.get,
    "create" -> creates.get, "rename" -> renames.get, "delete" -> deletes.get)
}
