package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The listener bus is package-private to Spark; the benchmark's tracer
  * needs it only to wait until every task-end event has been delivered
  * before it sums a traced run's task metrics.
  */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
