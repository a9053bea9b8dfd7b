package org.apache.spark

/** Lets the traced run wait until every listener event posted so far has
  * been delivered, so each query's jobs, stages and plan events are in
  * before the next query starts. The bus is private to Spark. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
