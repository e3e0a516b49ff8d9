package org.apache.spark.graftbench

/** The one Spark-internal the benchmark needs: waiting for the listener
  * bus to deliver every posted event before the traced report is read. */
object Bridge {
  def drain(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
