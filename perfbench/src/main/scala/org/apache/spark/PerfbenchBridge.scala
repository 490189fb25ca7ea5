package org.apache.spark

/** Reaches the one Spark-internal call the benchmark needs: waiting until
  * every queued listener event has been delivered, so that counts read
  * after an operation include all of its jobs and query executions. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
