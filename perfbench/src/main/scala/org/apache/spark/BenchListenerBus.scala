package org.apache.spark

/** Waits until every queued listener event has been delivered, so the
  * benchmark reads complete job and task counters. Spark exposes the
  * wait only inside its own package.
  */
object BenchListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
