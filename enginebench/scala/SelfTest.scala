package graftbench

/** `run.py --selftest`: the benchmark's own checks.
  *
  *  1. Generator drift: the inputs for the pinned seeds hash to the
  *     digests recorded below. A generator change must update them
  *     knowingly (and it invalidates every earlier baseline).
  *  2. Session drift: the engine settings in `graft/Bench.scala`'s
  *     session builder equal [[Session]]'s, and a session built by
  *     [[Session.build]] carries them. */
object SelfTest {
  /** seed → generator → digest. Seed 1 is the development seed; seed
    * 7919 is held out for checking claims on unseen inputs. */
  val pinned: Map[Long, Map[String, String]] = Map(
    1L -> Map("corpus" -> "141754c0d73af058", "requests" -> "0e75fb83e8362faf",
      "web" -> "f2b5e8ee51f7029a", "graph" -> "e5458d870fd04660",
      "events" -> "aa07135667594731"),
    7919L -> Map("corpus" -> "9138f09a28f11f37", "requests" -> "1cc4ff14fd471748",
      "web" -> "0def2a496f50b5d6", "graph" -> "ffc2131624232d81",
      "events" -> "9ca0389a48e9cab0"))

  def run(work: String): Unit = {
    val fails = scala.collection.mutable.ArrayBuffer[String]()
    pinned.foreach { case (seed, want) =>
      Gen.fingerprint(seed).foreach { case (g, got) =>
        val ok = want.get(g).contains(got)
        println(s"[selftest] gen seed=$seed $g $got ${if (ok) "ok" else "DRIFT (pinned " + want.getOrElse(g, "none") + ")"}")
        if (!ok) fails += s"generator $g seed $seed"
      }
    }
    fails ++= benchConfDrift()
    val spark = Session.build(traced = false)
    try {
      val conf = spark.sparkContext.getConf
      Session.engineConf.foreach { case (k, v) =>
        val got = conf.getOption(k)
        if (!got.contains(v)) fails += s"session conf $k = $got, want $v"
      }
      if (conf.get("spark.master") != Session.master)
        fails += s"session master ${conf.get("spark.master")}"
      if (!spark.sessionState.optimizer.extendedOperatorOptimizationRules
            .contains(graft.plans.TsLiteralPushdown))
        fails += "session lacks GraftExtensions' optimizer rule"
    } finally spark.stop()
    fails.foreach(f => println(s"[selftest] FAIL $f"))
    println(s"[selftest] ${if (fails.isEmpty) "PASS" else "FAIL"}")
    if (fails.nonEmpty) sys.exit(1)
  }

  /** Compare the Bench board's session builder, read from source, with
    * [[Session]]. Returns one line per difference. */
  def benchConfDrift(): Seq[String] = {
    val p = java.nio.file.Paths.get("src/main/scala/graft/Bench.scala")
    val src = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
    val from = src.indexOf("SparkSession.builder()")
    val to = src.indexOf(".getOrCreate()", from)
    if (from < 0 || to < 0) return Seq("Bench.scala: no SparkSession.builder() chain")
    // drop comments, keep the call chain
    val chain = src.substring(from, to).linesIterator
      .map(l => l.replaceAll("//.*$", "")).mkString(" ")
    val lit = "\"([^\"]*)\""
    val cfg = ("""\.config\(\s*""" + lit + """\s*,\s*(""" +
      """sys\.env\.getOrElse\(\s*""" + lit + """\s*,\s*""" + lit + """\s*\)""" +
      "|" + lit + "|" + """(\w+)""" + """)\s*\)""").r
    val found = cfg.findAllMatchIn(chain).map { m =>
      val v =
        if (m.group(4) != null) m.group(4)        // env override's default
        else if (m.group(5) != null) m.group(5)   // string literal
        else if (m.group(6) == "cpus") Session.cpus.toString
        else "<" + m.group(6) + ">"
      m.group(1) -> v
    }.toMap
    val want = Session.engineConf.toMap
    val diffs = (found.keySet ++ want.keySet).toSeq.sorted.flatMap { k =>
      if (found.get(k) == want.get(k)) None
      else Some(s"Bench.scala conf $k = ${found.get(k)}, benchmark has ${want.get(k)}")
    }
    val ext = if (chain.contains(".withExtensions(new graft.plans.GraftExtensions)")) Nil
      else Seq("Bench.scala builder no longer installs GraftExtensions")
    val mst = if (chain.contains(".master(s\"local[$cpus]\")")) Nil
      else Seq("Bench.scala master is no longer local[cpus]")
    val cpus = if (src.contains("Runtime.getRuntime.availableProcessors()")) Nil
      else Seq("Bench.scala cpus no longer defaults to the host's processors")
    diffs ++ ext ++ mst ++ cpus
  }
}
