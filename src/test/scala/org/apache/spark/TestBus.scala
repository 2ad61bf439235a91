package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so a
  * spec's listener has seen every job an action started. The bus is private
  * to Spark; this bridge is the only spec code kept in Spark's package.
  */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
