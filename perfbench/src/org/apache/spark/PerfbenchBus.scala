package org.apache.spark

/** Listener-bus drain for the benchmark's traced run. The bus is
  * package-private; waiting on it is the only exact way to know that every
  * job, stage and task event of a finished call has reached the listener.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
