package org.apache.spark

/** Lets the benchmark harness wait until every posted listener event
  * has been delivered, so per-pass span totals are complete before
  * they are read. The listener bus is package-private to Spark.
  */
object PerfbenchBus {
  def drain(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
