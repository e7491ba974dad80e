package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole test JVM (Test/fork := true). */
object SparkTestBase {
  // local[4] whatever SPARK_GRAFT_CPUS / SPARK_GRAFT_MASTER say: specs
  // assert plan shapes and job counts at this parallelism
  lazy val spark: SparkSession = GraftSession.build("graft-test", 4, "local[4]")
  val sf0001 = "/root/testdata/sf0.001"
}

abstract class SparkFunSuite extends AnyFunSuite {
  def spark: SparkSession = SparkTestBase.spark
  def sf0001: String = SparkTestBase.sf0001
  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private val DrainMarker = "drain-listeners-marker-"
  private def description(js: SparkListenerJobStart): String =
    if (js.properties == null) null
    else js.properties.getProperty("spark.job.description")

  /** Returns once every listener event posted before the call has been
    * delivered: delivery is async but ordered on the shared queue, so
    * once a marker job's start arrives every earlier event has too.
    */
  def drainListeners(): Unit = {
    val marker = s"$DrainMarker${System.nanoTime()}"
    @volatile var markerSeen = false
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (description(js) == marker) markerSeen = true
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobDescription(marker)
      try spark.range(1).count()
      finally spark.sparkContext.setJobDescription(null)
      val deadline = System.nanoTime() + 10_000_000_000L
      while (!markerSeen && System.nanoTime() < deadline) Thread.sleep(20)
      assert(markerSeen, "marker job never reached the listener")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Jobs submitted while `build` runs, counted via a listener and
    * bounded by [[drainListeners]].
    */
  def jobsDuring(build: => Unit): Int = {
    @volatile var jobs = 0
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (!Option(description(js)).exists(_.startsWith(DrainMarker)))
          jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      build
      drainListeners()
      jobs
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
