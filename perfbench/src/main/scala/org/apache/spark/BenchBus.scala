package org.apache.spark

/** Waits for Spark's listener bus to deliver every posted event, so the
  * benchmark's listeners have seen all work of an op before it is read out.
  * The bus is `private[spark]`; this one-method shim is the only reason the
  * harness has a file in Spark's package. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
