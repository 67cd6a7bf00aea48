package graft

import org.apache.spark.SparkFirehoseListener
import org.apache.spark.scheduler.{SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Shared local session (one per suite, SURVEY.md §5.2). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(name: String): String = s"/root/testdata/$name"

  /** Descriptions of the Spark jobs that `body` starts ("" when unset). */
  def jobsDuring(body: => Unit): Seq[String] =
    eventsDuring(body).collect { case e: SparkListenerJobStart => description(e) }

  /** The Spark listener events that `body` posts, in posting order. */
  def eventsDuring(body: => Unit): Seq[SparkListenerEvent] = {
    val sc = spark.sparkContext
    val posted = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerEvent]()
    val listener = new SparkFirehoseListener {
      override def onEvent(e: SparkListenerEvent): Unit = posted.add(e)
    }
    def isMarker(e: SparkListenerEvent) = e match {
      case j: SparkListenerJobStart => description(j) == "jobs-marker"
      case _ => false
    }
    sc.addSparkListener(listener)
    try {
      body
      // the listener bus is asynchronous: a marker job posted after the
      // body is seen last, so once it arrives every earlier event has too
      sc.setJobDescription("jobs-marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!posted.iterator().asScala.exists(isMarker) && System.nanoTime() < deadline)
        Thread.sleep(10)
      val events = posted.toArray(Array.empty[SparkListenerEvent]).toSeq
      assert(events.exists(isMarker), "marker job never reached the listener")
      events.takeWhile(!isMarker(_))
    } finally sc.removeSparkListener(listener)
  }

  private def description(e: SparkListenerJobStart): String =
    Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
