package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** The profiler: runs one SparkEntry query (args(0), default
  * q11_pagerank) against SPARK_GRAFT_SF_DIR on the board's session
  * ([[graft.Bench.session]]) and dumps per-stage task counts, wall/cpu
  * time and shuffle bytes — the feedback loop for judging whether an
  * iterative plan is overhead-bound or work-bound. Run:
  * `tools/run.sh graft.tools.ProfLoop q68_kcore`. A Spark setting the
  * session does not fix can be tried with
  * `JAVA_TOOL_OPTIONS=-Dspark.<key>=<value>`. */
object ProfLoop {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val qname = args.headOption.getOrElse("q11_pagerank")
    val spark = graft.Bench.session()
    println("file:// fs = " + new org.apache.hadoop.fs.Path("/tmp")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getClass.getName)

    // (id, name, tasks, wall, runSum, shufWr, cpuSum, gcSum, fetchWait,
    //  shufRdRecs)
    @volatile var stages =
      List.empty[(Int, String, Int, Long, Long, Long, Long, Long, Long, Long)]
    // Stage events arrive on the async listener bus: a warm-up
    // attempt's late completions can land AFTER a naive `stages = Nil`
    // reset and be mis-attributed to the profiled run. Gate on the
    // stage's own submissionTime instead — only stages submitted at or
    // after the profiled attempt's start are recorded. A stage without
    // a submissionTime completing once the profiled attempt has begun
    // belongs to it, so it is counted too.
    @volatile var profileFromMs = Long.MaxValue
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(
          sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        if (profileFromMs == Long.MaxValue ||
            si.submissionTime.exists(_ < profileFromMs)) return
        val dur = (for {s <- si.submissionTime; c <- si.completionTime}
          yield c - s).getOrElse(-1L)
        val m = si.taskMetrics
        stages ::= ((si.stageId, si.name.takeWhile(_ != '\n').take(60),
          si.numTasks, dur, m.executorRunTime,
          m.shuffleWriteMetrics.bytesWritten,
          m.executorCpuTime / 1000000, m.jvmGCTime,
          m.shuffleReadMetrics.fetchWaitTime,
          m.shuffleReadMetrics.recordsRead))
      }
    })

    // Untimed warmup (mirrors Bench)
    graft.Tables.nation(spark, sfDir).groupBy("n_regionkey")
      .count().collect()

    // Attempt 1 warms JIT/codegen caches like Bench's best-of-2; the
    // profiled run is attempt 2 unless PROF_COLD=1.
    val attempts = sys.env.get("PROF_N").map(_.toInt)
      .getOrElse(if (sys.env.contains("PROF_COLD")) 1 else 2)
    var total = 0d
    var n = 0L
    for (a <- 1 to attempts) {
      if (a == attempts) { profileFromMs = System.currentTimeMillis(); stages = Nil }
      val t0 = System.nanoTime()
      n = graft.SparkEntry.queries(qname)(spark, sfDir)
        .queryExecution.toRdd.count()
      total = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      println(f"== attempt $a: ${total}%.2f s ==")
    }
    // Drain the async listener bus so the profiled run's tail events
    // are all recorded (private[spark] is public bytecode, so plain
    // reflection reaches waitUntilEmpty); sleep only as a fallback.
    try {
      val bus = spark.sparkContext.getClass.getMethod("listenerBus")
        .invoke(spark.sparkContext)
      bus.getClass.getMethods
        .find(m => m.getName == "waitUntilEmpty" && m.getParameterCount == 0)
        .fold(Thread.sleep(500))(_.invoke(bus))
    } catch { case _: Throwable => Thread.sleep(500) }
    println(f"== $qname total ${total}%.2f s, rows=$n ==")
    println(f"${"stage"}%-6s${"tasks"}%-7s${"wall_ms"}%-9s${"run_ms"}%-9s" +
      f"${"cpu_ms"}%-9s${"gc_ms"}%-7s${"fetch"}%-7s${"shuf_wr"}%-10s" +
      f"${"rd_recs"}%-10s")
    stages.sortBy(_._1).foreach {
      case (id, _, nt, w, r, sw, c, gc, fw, rr) =>
        if (w > 30) println(f"$id%-6d$nt%-7d$w%-9d$r%-9d$c%-9d$gc%-7d" +
          f"$fw%-7d$sw%-10d$rr%-10d")
    }
    println(f"-- totals: wall=${stages.map(_._4).sum}ms " +
      f"run=${stages.map(_._5).sum}ms cpu=${stages.map(_._7).sum}ms " +
      f"gc=${stages.map(_._8).sum}ms fetch=${stages.map(_._9).sum}ms " +
      f"stages=${stages.size}")
    val byTasks = stages.groupBy(_._3).view
      .mapValues(s => (s.size, s.map(_._4).sum)).toMap
    println("-- stages by task count: " + byTasks.toSeq.sortBy(_._1)
      .map { case (k, (cnt, ms)) => s"$k tasks x$cnt=${ms}ms" }
      .mkString(", "))
    spark.stop()
  }
}
