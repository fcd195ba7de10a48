package org.apache.spark

/** Listener-bus drain for the benchmark's traced runs: listener events
  * are delivered asynchronously, so the per-layer numbers are read only
  * after every event of the measured window has been processed. The bus
  * is `private[spark]`, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
