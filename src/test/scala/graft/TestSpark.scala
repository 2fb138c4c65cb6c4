package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for the whole test run. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val edgarFixtures = "src/test/resources/edgar"

  /** Spark jobs that `body` starts on this thread. Its jobs carry a local
    * property; a marker job started after it reaches the listener last, so
    * by then every job of `body` has been seen.
    */
  def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val probe = "graft.test.probe"
    val jobs = new AtomicInteger
    val markerSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(probe))) match {
          case Some("body") => jobs.incrementAndGet()
          case Some("marker") => markerSeen.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(probe, "body")
      try body finally sc.setLocalProperty(probe, "marker")
      sc.parallelize(Seq(1), 1).count()
      require(markerSeen.await(30, TimeUnit.SECONDS), "the listener never saw the marker job")
      jobs.get
    } finally {
      sc.setLocalProperty(probe, null)
      sc.removeSparkListener(listener)
    }
  }
}
