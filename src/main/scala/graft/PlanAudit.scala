package graft

/** Prints the physical plan of selected queries for scale auditing:
  * parquet pushdown (`PushedFilters`), column pruning (`ReadSchema`),
  * broadcast joins, top-k (`TakeOrderedAndProject`), whole-stage
  * codegen spans. Run: `sbt "runMain graft.PlanAudit q02 q08 ..."`. */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.01")
    val spark = Bench.session()
    val wanted = if (args.isEmpty) Seq("q01", "q02", "q05", "q08", "q18")
                 else args.toSeq
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (wanted.exists(name.startsWith)) {
        println(s"\n========== $name ==========")
        try fn(spark, sfDir).explain("formatted")
        catch { case e: Throwable => println(s"failed: ${e.getMessage}") }
      }
    }
    spark.stop()
  }
}
