package org.apache.spark

/** The one Spark-internal call the plan-capturing specs need: block
  * until every listener queue has delivered its events, so a
  * `QueryExecutionListener` has seen every query that ran before it is
  * read. */
object SpecListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
