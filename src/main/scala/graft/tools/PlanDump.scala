package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

/** Optimization-round diagnostics (dev tool, not part of the query
  * surface): for each named query, write its `.explain("formatted")`
  * output to `<outDir>/<name>.txt` and print a one-line profile —
  * planning-phase milliseconds (from the QueryExecution tracker),
  * execution wall seconds, and the job/stage/task counts the run
  * scheduled. The counts locate overhead-bound queries (many stages
  * over tiny data) that per-query wall time alone cannot attribute.
  *
  * Usage: runMain graft.tools.PlanDump <sfDir> <outDir> [q1,q2|all]
  * Env:   SPARK_GRAFT_MASTER / SPARK_GRAFT_CPUS ([[graft.GraftSession]]),
  *        SPARK_GRAFT_PLAN_EXEC=off to skip execution (explain only — no
  *        jobs run).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(1).getOrElse("/tmp/plans")
    val filter: String => Boolean = args.lift(2) match {
      case None | Some("all") => _ => true
      case Some(csv) => csv.split(",").toSet
    }
    val runExec = !sys.env.get("SPARK_GRAFT_PLAN_EXEC").contains("off")
    val spark = graft.GraftSession.build("graft-plandump")
    Files.createDirectories(Paths.get(outDir))

    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        tasks.incrementAndGet()
    })

    // Same warmup as Bench so the first query doesn't absorb session init.
    {
      import org.apache.spark.sql.functions._
      val r = spark.range(1000000)
        .select(col("id"), (col("id") % 97).as("k"))
      r.groupBy("k").agg(sum("id")).count()
    }

    val names = graft.SparkEntry.queries.keys.toSeq.filter(filter).sorted
    names.foreach { name =>
      try {
        val df = graft.SparkEntry.queries(name)(spark, sfDir)
        val qe = df.queryExecution
        val explained = qe.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$outDir/$name.txt"), explained)
        val planMs = qe.tracker.phases.map { case (p, s) =>
          s"$p=${s.endTimeMs - s.startTimeMs}"
        }.toSeq.sorted.mkString(",")
        val nExch = "Exchange".r.findAllIn(explained).size
        if (runExec) {
          // settle listener counters, then time the executed query alone
          Thread.sleep(50)
          val (j0, s0, t0c) = (jobs.get, stages.get, tasks.get)
          val t0 = System.nanoTime()
          qe.toRdd.count()
          val wall = (System.nanoTime() - t0) / 1e9
          Thread.sleep(100) // let stage/task-end events drain
          println(f"PLANDUMP $name%-28s exec=$wall%7.3f s  jobs=${jobs.get - j0}%3d stages=${stages.get - s0}%3d tasks=${tasks.get - t0c}%5d exch=$nExch%2d  phases($planMs)")
        } else
          println(f"PLANDUMP $name%-28s exch=$nExch%2d phases($planMs)")
      } catch {
        case e: Throwable =>
          println(s"PLANDUMP $name FAILED: ${e.toString.take(200)}")
      }
    }
    spark.stop()
  }
}
