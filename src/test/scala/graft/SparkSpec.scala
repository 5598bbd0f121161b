package graft

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import scala.jdk.CollectionConverters._

/** Shared local SparkSession fixture for all specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  /** Stage names of every job `body` starts on this thread, one Seq per
    * job. The listener bus delivers in order, so once a marker job run
    * after `body` has arrived, so have all of `body`'s jobs. */
  protected def jobsOf(body: => Unit): Seq[Seq[String]] = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val seen = new ConcurrentLinkedQueue[Seq[String]]()
    @volatile var markerSeen = false
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(SparkSpec.JobTag)).foreach {
          case `tag`               => seen.add(e.stageInfos.map(_.name))
          case t if t == tag + "!" => markerSeen = true
          case _                   =>
        }
    }
    sc.addSparkListener(l)
    try {
      sc.setLocalProperty(SparkSpec.JobTag, tag)
      try body finally sc.setLocalProperty(SparkSpec.JobTag, null)
      sc.setLocalProperty(SparkSpec.JobTag, tag + "!")
      try sc.parallelize(1 to 1, 1).count()
      finally sc.setLocalProperty(SparkSpec.JobTag, null)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!markerSeen && System.nanoTime() < deadline) Thread.sleep(10)
      assert(markerSeen, "marker job never reached the listener")
    } finally sc.removeSparkListener(l)
    seen.asScala.toSeq
  }
}

object SparkSpec {
  private val JobTag = "graft.test.jobTag"

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
