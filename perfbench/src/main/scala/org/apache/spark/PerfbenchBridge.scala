package org.apache.spark

/** The one Spark-internal the benchmark needs: wait until the listener
  * bus has delivered every event posted so far, so task and block
  * counts read after an action are complete. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
