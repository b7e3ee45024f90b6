package org.apache.spark

/** Lets the benchmark wait until every posted listener event has been
  * delivered, so per-query job and task counts are complete when read.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
