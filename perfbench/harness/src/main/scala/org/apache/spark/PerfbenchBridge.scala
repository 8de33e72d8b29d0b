package org.apache.spark

/** The one Spark-internal call the harness needs: listener events arrive
  * asynchronously, so a query's job and stage counters are complete only
  * once the listener bus has drained. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
