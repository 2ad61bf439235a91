package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so a
  * traced round's ledger is complete before it is read. The bus is private
  * to Spark; this one-line bridge is the only code the benchmark keeps in
  * Spark's package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
