package org.apache.spark

/** The one Spark-internal hook the benchmark needs: listener events
  * arrive asynchronously, so per-iteration counters are read only
  * after the listener bus has drained. */
object GraftBenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
