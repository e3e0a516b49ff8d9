package graftbench

/** Small numeric and process helpers shared by the workloads. */
object Stats {

  /** Nearest-rank percentile of `xs` (p in 0..100). */
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1)))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest of p50/p75/p90/p95/p99/p99.9 with at least ten samples
    * beyond it, or None under 20 samples. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    if (xs.size < 20) None
    else Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
      .find(p => xs.size * (100.0 - p) / 100.0 >= 10.0)
      .map(p => (p, pct(xs, p)))

  /** Total length covered by a set of [start, end) intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue; var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** The JVM's peak resident set (`VmHWM`) in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }

  /** Fixed pure-CPU job: the load sentinel recorded before and after the
    * timed phase. On an idle host its time is steady; a run whose probe
    * reads far above the run's own best was taken under host load. */
  def cpuProbeMs(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var acc = 0L
    var i = 0
    while (i < 40000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += x & 1023
      i += 1
    }
    if (acc == 42) println("")
    (System.nanoTime() - t0) / 1e6
  }

  // ------------------------------------------------------------- json

  def json(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null"
      else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
      else d.toString
    case f: Float => json(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ": " + json(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ", ", "]")
    case other => json(other.toString)
  }
}
