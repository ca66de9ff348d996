package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for operator specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  def ts(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)

  /** Spark jobs started while `body` runs. Listener events arrive
    * asynchronously, so the count is read once a sentinel job's start has
    * arrived: every earlier event has been delivered by then. */
  def jobsDuring(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val started = new java.util.concurrent.atomic.AtomicInteger
    val done = new java.util.concurrent.CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(p =>
            p.getProperty("spark.job.description") == "jobsDuring-sentinel"))
          done.countDown()
        else started.incrementAndGet()
    }
    sc.addSparkListener(l)
    try {
      body
      sc.setJobDescription("jobsDuring-sentinel")
      try spark.range(1).count() finally sc.setJobDescription(null)
      assert(done.await(60, java.util.concurrent.TimeUnit.SECONDS))
      started.get
    } finally sc.removeSparkListener(l)
  }
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession.builder("local[4]", "4")
    .appName("graft-test")
    .getOrCreate()
}
