package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** The `analytics` workload: passes over a fixed mix of
  * `SparkEntry.queries`, in the seeded order `run.py` passes in.
  *
  * A query is built by calling its function and executed with
  * `queryExecution.toRdd.count()`, the action `graft.Bench` uses. The
  * first pass (setup) is cold: it fills the per-JVM model and index
  * caches, and writes each output as parquet for the oracle check
  * `run.py` makes. Every measured execution's row count is reported so
  * `run.py` can hold it against the oracle's.
  */
object Analytics {

  /** Family of a query: `tpch` for the TPC-H numbered queries, else the
    * name's prefix (`q_recursive` is family `q`, `mm_video` family `mm`).
    */
  def family(query: String): String =
    if (query.matches("q\\d+_.*")) "tpch" else query.takeWhile(_ != '_')

  private final case class Exec(query: String, buildS: Double, rows: Long)

  def run(run: Run): Map[String, Any] = {
    val spark = run.spark
    val dir = s"${run.work}/input"
    val order = run.cfg.strings("order")
    val inject = run.cfg.opt("inject_failure")
    val queries: Map[String, (SparkSession, String) => DataFrame] =
      SparkEntry.queries ++ inject.map(q =>
        q -> ((_: SparkSession, _: String) => throw new IllegalStateException(s"injected failure in $q")))

    /** Build and execute one query; a throw counts it failed. */
    def one(q: String, act: DataFrame => Long, spans: Spans): Option[Exec] =
      try {
        val t0 = System.nanoTime()
        val df = spans.span(s"$q.build")(queries(q)(spark, dir))
        val t1 = System.nanoTime()
        val rows = spans.span(s"$q.exec")(act(df))
        run.check(ok = true, q)
        Some(Exec(q, (t1 - t0) / 1e9, rows))
      } catch {
        case e: Throwable =>
          run.fail(s"$q: $e")
          None
      }
    def count(df: DataFrame): Long = df.queryExecution.toRdd.count()

    // Cold pass: fills the caches and writes the outputs the oracle checks.
    val cold = order.flatMap(q => one(q, df => {
      df.coalesce(1).write.mode("overwrite").parquet(s"${run.work}/out/$q")
      -1L
    }, Spans.none))
    run.ready()

    def pass(spans: Spans): (Seq[Exec], Double, Double) =
      run.timed(order.flatMap(q => one(q, count, spans)))

    def passJson(p: (Seq[Exec], Double, Double)): Map[String, Any] = Map(
      "wall_s" -> p._2, "cpu_s" -> p._3, "build_s" -> p._1.map(_.buildS).sum,
      "rows" -> p._1.map(e => e.query -> e.rows).toMap)

    /** A traced pass: every build and execute call in its own span. */
    def tracedPass(): Map[String, Any] = {
      val t = new Tracer(spark.sparkContext)
      try {
        val gc0 = run.gcMs
        run.resetHeapPeak()
        val p = t.span("pass")(pass(t))
        val l = Tracer.layers(t, t.allSpans)
        val perFamily = order.map(family).distinct.flatMap { f =>
          val qs = order.filter(family(_) == f)
          def sum(g: SparkCounts => Long): Long =
            qs.map(q => g(l.c(s"$q.build")) + g(l.c(s"$q.exec"))).sum
          Seq(
            s"analytics.$f.build_s" -> qs.map(q => l.s(s"$q.build")).sum,
            s"analytics.$f.exec_s" -> qs.map(q => l.s(s"$q.exec")).sum,
            s"analytics.$f.jobs" -> sum(_.jobs),
            s"analytics.$f.executor_cpu_s" -> sum(_.cpuNs) / 1e9,
            s"analytics.$f.shuffle_bytes" -> sum(_.shuffleBytes),
            s"analytics.$f.spill_bytes" -> sum(_.spillBytes))
        }
        passJson(p) ++ Map("spans" -> Tracer.toJson(t), "metrics" -> (perFamily.toMap ++ Map(
          "analytics.spark.gc_s" -> (run.gcMs - gc0) / 1e3,
          "analytics.jvm.heap_peak_mb" -> run.heapPeakMb)))
      } finally t.close()
    }

    // A traced run alternates plain and traced passes (see Migration.measure).
    val samples = run.window(run.cfg.seconds, run.cfg.minUnits) { i =>
      if (run.cfg.traced && i % 2 == 1) Right(tracedPass() + ("i" -> i))
      else Left(passJson(pass(Spans.none)) + ("i" -> i))
    }
    val passes = samples.collect { case Left(p) => p }
    val traced = samples.collect { case Right(p) => p }

    Map(
      "order" -> order,
      "cold_build_s" -> cold.map(_.buildS).sum,
      "cold_ok" -> cold.map(_.query),
      "units" -> passes,
      "traced_units" -> traced,
      "oracle_sql" -> order.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap,
      "check_out" -> s"${run.work}/out")
  }
}
