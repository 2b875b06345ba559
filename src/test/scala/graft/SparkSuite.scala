package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs (one per JVM, lazy): the shipped
  * settings of [[graft.util.Sessions]] on a fixed 4 cores.
  */
trait SparkSuite extends AnyFunSuite {
  val Sf001 = "/root/testdata/sf0.001"
  val Sf01 = "/root/testdata/sf0.01"

  lazy val spark: SparkSession = graft.util.Sessions.local(4)

  /** Every Spark job started while `body` runs, in start order. Marker
    * jobs before and after `body` fence the listener bus: a listener
    * sees events in post order, so the events between the two markers'
    * starts are exactly `body`'s jobs.
    */
  def jobsStartedBy(body: => Any): Seq[SparkListenerJobStart] = {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    val sc = spark.sparkContext
    val (open, close) = ("jobs-probe-open", "jobs-probe-close")
    val seen = scala.collection.mutable.ArrayBuffer.empty[SparkListenerJobStart]
    val (opened, closed) = (new CountDownLatch(1), new CountDownLatch(1))
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.job.description")) match {
          case Some(`open`) => opened.countDown()
          case Some(`close`) => closed.countDown()
          case _ => if (opened.getCount == 0 && closed.getCount == 1) seen.synchronized(seen += e)
        }
    }
    def marker(desc: String, latch: CountDownLatch): Unit = {
      sc.setJobDescription(desc)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(latch.await(60, TimeUnit.SECONDS), s"listener bus never delivered $desc")
    }
    sc.addSparkListener(listener)
    try {
      marker(open, opened)
      body
      marker(close, closed)
      seen.synchronized(seen.toList)
    } finally sc.removeSparkListener(listener)
  }
}
