package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path

/** One engine: [[Bench.session]] is the only session builder in the
  * program, and the session it builds — the one every spec shares —
  * carries the board's settings. */
class SessionSpec extends SparkSpec {

  test("Bench.scala holds the only SparkSession.builder() in src/main") {
    val root = Paths.get("src/main/scala")
    val builders = Files.walk(root).iterator.asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filter(p => Files.readString(p).contains("SparkSession.builder()"))
      .map(p => root.relativize(p).toString).toSeq
    assert(builders === Seq("graft/Bench.scala"))
  }

  test("the shared session carries the board's settings") {
    val conf = spark.sparkContext.getConf
    assert(conf.get("spark.master") === "local[4]")
    assert(conf.get("spark.sql.shuffle.partitions") === "4")
    assert(conf.get(
      "spark.sql.adaptive.coalescePartitions.minPartitionSize") === "64k")
    assert(conf.get("spark.ui.enabled") === "false")
    assert(new Path("file:///tmp")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .isInstanceOf[util.FastLocalFileSystem])
    assert(spark.sessionState.optimizer.extendedOperatorOptimizationRules
      .contains(plans.TsLiteralPushdown))
  }

  test("the test session's time zone is UTC") {
    // the launch setting, which no spec's `spark.conf.set` can mask
    assert(spark.sparkContext.getConf
      .get("spark.sql.session.timeZone", "<unset>") === "UTC")
  }
}
