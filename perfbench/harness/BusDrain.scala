package org.apache.spark.perfbenchbus

import org.apache.spark.SparkContext

/** Bounded wait until the listener bus has delivered every queued
  * event. The bus is package-private to Spark, hence this package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
