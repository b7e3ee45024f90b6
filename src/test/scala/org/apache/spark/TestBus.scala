package org.apache.spark

/** Lets a test wait until every posted listener event has been
  * delivered, so job counts taken by a SparkListener are complete.
  */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
