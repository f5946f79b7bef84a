package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event, so
  * the traced run reads complete job and task counters. */
object GraftbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
