package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every posted listener event has been delivered, so span
  * and job records are complete before they are aggregated. The listener
  * bus is `private[spark]`, hence this one-method shim in Spark's
  * package namespace. */
object BusDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
