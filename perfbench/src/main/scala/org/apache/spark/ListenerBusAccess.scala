package org.apache.spark

/** The listener bus is private to Spark; the benchmark needs to wait for
  * it so that every job and task event of a run is counted. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
