package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.Bridge

/** Spark jobs that one cold run of `body` starts: the artifact caches
  * are drained first, and the listener bus is drained before each
  * read of the counter (delivery is asynchronous).
  */
object ColdJobs {
  def apply(spark: SparkSession)(body: => Any): Int = {
    val counter = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(jobStart: SparkListenerJobStart): Unit = {
        counter.incrementAndGet(); ()
      }
    }
    def settled(): Int = {
      Bridge.waitListenerBusEmpty(spark)
      counter.get()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      CacheLedger.drain(spark)
      val before = settled()
      body
      settled() - before
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
