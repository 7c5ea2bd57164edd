package org.apache.spark

/** Waits until every posted listener event has been delivered, so a test can
  * read what a `QueryExecutionListener` saw (delivery is asynchronous).
  */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
