package org.apache.spark.sql.graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** The number of Spark jobs a block starts. The listener bus is drained
  * before and after, so the count is exact; `listenerBus` is
  * private[spark], hence this package. */
object JobCount {
  def apply[A](spark: SparkSession)(body: => A): (A, Int) = {
    val sc = spark.sparkContext
    sc.listenerBus.waitUntilEmpty()
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty()
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
