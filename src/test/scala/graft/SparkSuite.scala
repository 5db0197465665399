package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Shared local SparkSession for all suites (getOrCreate — one session
  * per forked test JVM). A fixed 4 cores, so test plans do not depend
  * on the host. */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.session

  /** The jobs that `body` starts, and the stages of those jobs that
    * complete while it runs. `body` runs under a job group of its own.
    * Events reach listeners asynchronously, so a marker job closes the
    * window: once the listener sees it start, it has seen every event
    * posted before it. */
  def jobsOf(body: => Unit): (Seq[SparkListenerJobStart], Seq[StageInfo]) = {
    val jobs = new ConcurrentLinkedQueue[(String, SparkListenerJobStart)]()
    val stages = new ConcurrentLinkedQueue[StageInfo]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.add(Option(j.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).getOrElse("") -> j)
      override def onStageCompleted(st: SparkListenerStageCompleted): Unit =
        stages.add(st.stageInfo)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("spark-suite-body", "body")
      body
      sc.setJobGroup("spark-suite-marker", "marker")
      spark.range(1).count()
      def marked = jobs.asScala.exists(_._1 == "spark-suite-marker")
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!marked && System.nanoTime() < deadline) Thread.sleep(10)
      assert(marked, "the listener never saw the marker")
      val mine = jobs.asScala.toSeq.collect { case ("spark-suite-body", j) => j }
      val ids = mine.flatMap(_.stageIds).toSet
      (mine, stages.asScala.toSeq.filter(st => ids(st.stageId)))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}

object SparkSuite {
  lazy val session: SparkSession = Session.local(4)
}
