package org.apache.spark

/** Listener events reach the benchmark's listeners asynchronously; reading
  * the counters after an operation first waits until the bus has delivered
  * every event that operation posted. The bus is `private[spark]`, hence
  * this one-line bridge in Spark's package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
