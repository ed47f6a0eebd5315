package org.apache.spark

/** The one Spark-internal call the harness needs: listener events are
  * delivered on a background thread, so a traced run waits for the bus
  * to drain before it attributes events to the query phase that caused
  * them. */
object PerfBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
