package graftbench

import org.apache.spark.sql.SparkSession

/** The benchmark's Spark session: exactly the engine settings the Bench
  * board (`graft.Bench`) builds its session with, so both measure the
  * same engine. [[SelfTest]] re-reads `graft/Bench.scala` and fails when
  * the two drift apart. The traced run swaps `fs.file.impl` for
  * [[CountingFileSystem]], a subclass of the board's file system. */
object Session {
  def cpus: Int = Runtime.getRuntime.availableProcessors()

  val extensions: String = classOf[graft.plans.GraftExtensions].getName
  def master: String = s"local[$cpus]"

  /** The board's `.config(...)` entries, with their default values. */
  def engineConf: Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "64k",
    "spark.hadoop.fs.file.impl" -> "graft.util.FastLocalFileSystem",
    "spark.ui.enabled" -> "false")

  def build(traced: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(master)
      .appName("graftbench")
    engineConf.foreach {
      case ("spark.hadoop.fs.file.impl", _) if traced =>
        b.config("spark.hadoop.fs.file.impl", classOf[CountingFileSystem].getName)
      case (k, v) => b.config(k, v)
    }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.util.Logs.quietExpected()
    spark
  }
}
