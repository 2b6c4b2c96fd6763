package org.apache.spark

/** The one engine-internal hook the benchmark needs: waiting until the
  * listener bus has delivered every event posted so far. */
object PerfBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
