package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Everything a workload needs from the harness. */
final class Ctx(val work: String, val seed: Long, val traced: Boolean) {
  /** Set once the session is built, after input generation. */
  var spark: SparkSession = _
  var listeners: Option[Trace.Listeners] = None
  def path(rel: String): String = s"$work/$rel"
}

/** One timed operation of a client. */
final case class Op(client: Int, kind: String, id: Long, startNs: Long,
                    endNs: Long, ok: Boolean) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** A workload: inputs, engine set-up, a fixed operation list run by
  * closed-loop clients, and a correctness check outside the timed phase. */
abstract class Workload(val ctx: Ctx) {
  /** Benchmark-only work: generate rows and reference answers. */
  def generate(): Unit
  /** Load the generated inputs through the engine into copy `rep`. */
  def load(rep: Int): Unit
  /** Untimed operations run before the timed phase. */
  def warmup(): Unit
  /** Closed-loop clients; each runs `listLen` ops per fixed list. */
  def clients: Int
  def listLen: Int
  /** Whether an op of `kind` is the workload's unit op; other kinds
    * (the crawl reader) are side load. */
  def unit(kind: String): Boolean
  /** Set-ups per run; setup_s takes the median load. */
  def setupReps: Int = 3
  /** Stop streams or threads the workload started. */
  def shutdown(): Unit = ()
  /** Client `c`'s `i`-th op; returns its kind, throws on failure. */
  def op(c: Int, i: Int): String
  /** Side-load threads running beside the clients until `stop` is set;
    * `timeOp(c)` times one op of side client `c` (the op returns its kind). */
  def side(stop: java.util.concurrent.atomic.AtomicBoolean,
           timeOp: Int => (=> String) => Unit): Seq[Thread] = Nil
  /** Mismatches found against the reference, one line each. */
  def check(): Seq[String]
  /** Workload-specific end-to-end extras (printed, not gated). */
  def extras(ops: Seq[Op]): Map[String, Double] = Map.empty
  /** Workload-specific per-layer metrics (traced run). */
  def layers(ops: Seq[Op], t0Ms: Long, t1Ms: Long): Map[String, Double] = Map.empty
  /** Table and checkpoint roots for `disk_bytes_per_live_byte`. */
  def diskRatio(): Option[Double] = None
}

object Main {
  val opIds = new AtomicLong(0)

  private val untimedNs = ThreadLocal.withInitial[java.lang.Long](() => 0L)
  /** Run op preparation that the op's latency must not include. */
  def untimed[T](f: => T): T = {
    val t0 = System.nanoTime()
    try f finally untimedNs.set(untimedNs.get() + System.nanoTime() - t0)
  }
  private def takeUntimed(): Long = { val v = untimedNs.get(); untimedNs.set(0L); v }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (args.get("selftest").contains("1")) { SelfTest.run(args("work")); return }
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val out = args("out")
    val work = args("work")
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    Trace.on = traced

    // ---- benchmark-only generation (excluded from setup_s)
    val genT0 = System.nanoTime()
    val ctx = new Ctx(work, seed, traced)
    val wl = Workloads.make(workload, ctx)
    wl.generate()
    val genS = (System.nanoTime() - genT0) / 1e9

    // ---- engine set-up
    val spark = Session.build(traced)
    val sessionReadyMs = System.currentTimeMillis()
    ctx.spark = spark
    if (traced) ctx.listeners = Some(Trace.attach(spark))
    val loads = (0 until wl.setupReps).map { rep =>
      val t = System.nanoTime(); wl.load(rep); (System.nanoTime() - t) / 1e9
    }
    val wuT0 = System.nanoTime()
    wl.warmup()
    val warmS = (System.nanoTime() - wuT0) / 1e9
    val sessionS = (sessionReadyMs - jvmStartMs) / 1000.0 - genS
    val setupS = sessionS + Stats.median(loads) + warmS

    // ---- timed phase
    val probeBefore = Stats.cpuProbeMs()
    Trace.resetCounters()
    if (traced) { CountingFileSystem.reset(); CountingFileSystem.counting = true }
    val ops = new ConcurrentLinkedQueue[Op]()
    // one timed op of client `c`: `f` returns the op's kind; a failed op
    // is recorded under `failKind`
    def timeOp(c: Int, failKind: String)(f: => String): Unit = {
      val id = opIds.incrementAndGet()
      spark.sparkContext.setLocalProperty("graftbench.op", id.toString)
      val t0 = System.nanoTime()
      var kind = failKind
      val ok = try { kind = Trace.asOp(id)(Trace.span("client", "op")(f)); true }
      catch { case e: Throwable =>
        System.err.println(s"[bench] client $c op failed: $e")
        e.printStackTrace(); false }
      ops.add(Op(c, kind, id, t0, System.nanoTime() - takeUntimed(), ok))
      ()
    }
    val tStartMs = System.currentTimeMillis()
    val tStart = System.nanoTime()
    val deadline = tStart + (seconds * 1e9).toLong
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val sides = wl.side(stop, c => f => timeOp(c, "side")(f))
    sides.foreach(_.start())
    val lists = new AtomicLong(0)
    val threads = (0 until wl.clients).map { c =>
      new Thread(() => {
        var i = 0
        while (System.nanoTime() < deadline) {
          (0 until wl.listLen).foreach { _ => timeOp(c, "unit")(wl.op(c, i)); i += 1 }
          lists.incrementAndGet()
        }
      }, s"client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val tEnd = System.nanoTime()
    val tEndMs = System.currentTimeMillis()
    stop.set(true)
    sides.foreach(_.join())
    CountingFileSystem.counting = false
    val fsCounts = CountingFileSystem.snapshot
    val probeAfter = Stats.cpuProbeMs()

    // ---- correctness, outside the timed phase
    val mismatches = try wl.check() catch {
      case e: Throwable => e.printStackTrace(); Seq(s"check threw: $e") }
    mismatches.take(20).foreach(m => System.err.println(s"[bench] MISMATCH $m"))

    val all = ops.asScala.toSeq
    val unit = all.filter(o => o.kind == "unit" || wl.unit(o.kind))
    val lat = unit.filter(_.ok).map(_.ms)
    val wallS = (tEnd - tStart) / 1e9 * wl.clients / lists.get.toDouble
    val failed = all.count(!_.ok) + mismatches.size
    val attempted = all.size
    val e2e = scala.collection.mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (setupS, "s"),
      "wall_s" -> (wallS, "s"),
      "op_p50_ms" -> (if (lat.isEmpty) Double.NaN else Stats.median(lat), "ms"),
      "peak_rss_mb" -> (Stats.peakRssMb(), "MB"))
    // printed beside the gated metrics, not part of the result line
    val extra = scala.collection.mutable.LinkedHashMap[String, Any]()
    Stats.tail(lat).foreach { case (p, v) =>
      extra("op_tail_ms") = v; extra("op_tail_pct") = p; extra("op_samples") = lat.size }
    if (Stats.tail(lat).isEmpty) extra("op_samples") = lat.size
    extra("error_rate") = failed.toDouble / math.max(1, attempted)
    wl.extras(all).foreach { case (k, v) => extra(k) = v }
    wl.diskRatio().foreach(v => extra("disk_bytes_per_live_byte") = v)
    extra("seed") = seed
    extra("session_s") = sessionS
    extra("load_s") = loads
    extra("warmup_s") = warmS
    extra("gen_s") = genS
    extra("probe_before_ms") = probeBefore
    extra("probe_after_ms") = probeAfter
    extra("timed_lists") = lists.get
    extra("op_ms") = unit.map(o => math.rint(o.ms * 10) / 10)
    extra("timed_wall_s") = (tEnd - tStart) / 1e9

    val layerM: Map[String, Double] =
      if (!traced) Map.empty
      else {
        Trace.drain(spark)
        Layers.compute(wl, ctx, all, unit, tStartMs, tStart, tEndMs, fsCounts, wallS)
      }

    e2e.foreach { case (k, (v, u)) => println(f"[bench] $workload%-13s $k%-26s $v%.4f $u") }
    extra.foreach { case (k, v) => println(f"[bench] $workload%-13s $k%-26s ${Stats.json(v)}") }
    val report = scala.collection.mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "trace" -> traced,
      "correct" -> mismatches.isEmpty, "attempted" -> attempted, "failed" -> failed,
      "mismatches" -> mismatches.take(50),
      "end_to_end" -> e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "extra" -> extra,
      "per_layer" -> layerM.toSeq.sortBy(_._1).toMap)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
    val tag = s"$workload-s$seed-t${if (traced) 1 else 0}"
    write(s"$out/$tag.json", Stats.json(report))
    if (traced) write(s"$out/$tag-spans.json", Layers.spansJson(all))

    val metrics: Seq[(String, (Double, String))] =
      if (traced) Layers.names.map(n => n -> (layerM.getOrElse(n, 0.0), Layers.unitOf(n)))
      else e2e.toSeq
    val result = "{\"correct\": " + mismatches.isEmpty + ", \"attempted\": " + attempted +
      ", \"failed\": " + failed + ", \"metrics\": {" + metrics.map { case (k, (v, u)) =>
        Stats.json(k) + ": {\"value\": " + Stats.json(v) + ", \"unit\": " + Stats.json(u) + "}"
      }.mkString(", ") + "}}"
    wl.shutdown()
    spark.stop()
    println("BENCH_RESULT " + result)
    System.out.flush()
  }

  private def write(p: String, s: String): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(p), s.getBytes("UTF-8"))
}
