package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The listener bus is private to Spark. The traced run drains it at
  * each span boundary, so every event lands in the span that caused it.
  */
object BusAccess {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
