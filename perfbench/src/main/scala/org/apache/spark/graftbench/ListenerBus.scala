package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Spark delivers listener events on its own threads. The traced run
  * attributes events to the op that caused them, so after each op it
  * waits here until every queued event has reached the listeners. The
  * bus is package-private to Spark, hence this package. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
