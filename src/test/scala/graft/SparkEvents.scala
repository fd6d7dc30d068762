package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** What the Spark jobs started while a body ran did, seen by a listener. */
object SparkEvents {

  /** Jobs started, and the records their tasks read from input sources. */
  final case class Seen(jobs: Int, recordsRead: Long)

  /** Runs `body` and reports its jobs. A marker job runs after it, and the
    * listener bus delivers one listener's events in order, so once the
    * marker's start is seen every earlier job start and task end has been
    * counted.
    */
  def during(spark: SparkSession)(body: => Any): Seen = {
    val marker = s"spec-jobs-marker-${System.nanoTime()}"
    val starts = new AtomicInteger(0)
    val records = new AtomicLong(0)
    val seen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == marker)) seen.countDown()
        else if (seen.getCount > 0) starts.incrementAndGet(): Unit
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (seen.getCount > 0 && e.taskMetrics != null)
          records.addAndGet(e.taskMetrics.inputMetrics.recordsRead): Unit
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      spark.sparkContext.setJobDescription(marker)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
      assert(seen.await(30, TimeUnit.SECONDS), "the marker job's start never reached the listener")
      Seen(starts.get, records.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
