package org.apache.spark

/** The one Spark-internal call the traced run needs: block until every
  * listener queue has delivered its events, so a traced unit's trailing
  * task ends reach the collector before it is unregistered. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
