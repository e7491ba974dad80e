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

  /** Jobs submitted while `build` runs, counted via an in-order
    * listener: a marker job after `build` bounds the wait (listener
    * delivery is async but ordered, so once the marker arrives every
    * build-time job has too).
    */
  def jobsDuring(build: => Unit): Int = {
    val marker = s"jobsDuring-marker-${System.nanoTime()}"
    @volatile var jobs = 0
    @volatile var markerSeen = false
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (js.properties != null &&
            js.properties.getProperty("spark.job.description") == marker)
          markerSeen = true
        else jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      build
      spark.sparkContext.setJobDescription(marker)
      try spark.range(1).count()
      finally spark.sparkContext.setJobDescription(null)
      val deadline = System.nanoTime() + 10_000_000_000L
      while (!markerSeen && System.nanoTime() < deadline) Thread.sleep(20)
      assert(markerSeen, "marker job never reached the listener")
      jobs
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
