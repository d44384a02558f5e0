package org.apache.spark

/** The one Spark-internal call the benchmark needs: wait until the
  * listener bus has delivered every event posted so far, so task metrics
  * of a finished action are all counted before they are read.
  */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
