package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for suites: one local SparkSession per JVM. */
object TestSpark {
  lazy val spark: SparkSession = Session.local(4)
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** Count jobs started by `body` (see [[callSitesDuring]]). */
  protected def jobsDuring[T](body: => T): (T, Int) = {
    val (r, sites) = callSitesDuring(body)
    (r, sites.length)
  }

  /** The call site of every job started by `body`, in start order: the
    * job's `callSite.short` property, or, when the launching thread set
    * none, the short form Spark derived from that thread's stack (the name
    * of the job's stages). The listener bus is async, so a marker job runs
    * after the body; the bus is FIFO, so once the marker's start event is
    * observed every event from the body has been delivered. */
  protected def callSitesDuring[T](body: => T): (T, Seq[String]) = {
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val marker = "jobs-during-marker"
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        if (props.exists(_.getProperty("spark.job.description") == marker))
          markerSeen.countDown()
        else sites.add(props.flatMap(p => Option(p.getProperty("callSite.short")))
          .orElse(e.stageInfos.headOption.map(_.name)).getOrElse(""))
        ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val r = body
      spark.sparkContext.setJobDescription(marker)
      try spark.sparkContext.parallelize(1 to 1, 1).count()
      finally spark.sparkContext.setJobDescription(null)
      assert(markerSeen.await(30, java.util.concurrent.TimeUnit.SECONDS),
        "marker job event never arrived")
      (r, sites.toArray(Array.empty[String]).toSeq)
    } finally spark.sparkContext.removeSparkListener(l)
  }
}
