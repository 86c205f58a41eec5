package org.apache.spark.sql.graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Test count of the Spark jobs a block submits: the listener bus that
  * delivers job events is package-private to Spark, so draining it
  * before and after the block needs this package. */
object JobProbe {
  def jobs[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val n = new AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { n.incrementAndGet(); () }
    }
    sc.listenerBus.waitUntilEmpty(30000L)
    sc.addSparkListener(l)
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty(30000L)
      (out, n.get())
    } finally sc.removeSparkListener(l)
  }
}
