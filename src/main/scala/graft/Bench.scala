package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

object Bench {

  /** FROZEN control group: five pinned computations over
    * spark.range-GENERATED data — no testdata dependence, so the work
    * is bit-identical across rounds and machines by construction —
    * covering the machinery the board leans on (shuffle agg, sort-merge
    * join, window, global sort, string codegen). Run min-of-2 with a
    * GC between passes, AFTER the main board (same JVM heat and
    * co-tenancy window the board's numbers absorbed).
    *
    * `control_factor` = median over the group of measured/anchor. The
    * anchors below were recorded by running this same bench (full
    * min-of-2 discipline, in-bench position) in a quiet window on the
    * build machine and taking the per-query minimum across runs — so a
    * factor of ~1.0 means "this window is as quiet as the anchor
    * window" and a 1.4 means every total in the artifact is ~1.4×
    * inflated by environment, not code. Cross-round comparisons should
    * divide totals by it (BASELINE.md documents the protocol).
    * NEVER retune a control query without re-recording its anchor.
    */
  private val controlQueries: Seq[(String, SparkSession => Unit)] = Seq(
    "ctl_agg" -> (s => { // shuffle aggregate, map-side combine
      s.range(0, 8000000L)
        .select((col("id") % 9973).as("k"), col("id"))
        .groupBy("k").agg(sum("id"), avg("id"))
        .queryExecution.toRdd.count(); ()
    }),
    "ctl_join" -> (s => { // big×big sort-merge join (above broadcast cap)
      val a = s.range(0, 3000000L)
        .select((col("id") % 1500000).as("k"), col("id").as("va"))
      val b = s.range(0, 3000000L)
        .select((col("id") % 1500000).as("k"), col("id").as("vb"))
      a.join(b, "k").select(sum(col("va") + col("vb")))
        .queryExecution.toRdd.count(); ()
    }),
    "ctl_window" -> (s => { // partitioned running sum
      import org.apache.spark.sql.expressions.Window
      s.range(0, 2000000L)
        .select((col("id") % 1024).as("k"), col("id"))
        .withColumn("rs", sum("id").over(
          Window.partitionBy("k").orderBy("id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .queryExecution.toRdd.count(); ()
    }),
    "ctl_sort" -> (s => { // global range-partitioned sort
      s.range(0, 6000000L)
        .select(((col("id") * 2654435761L) % 999983).as("k"), col("id"))
        .orderBy("k", "id")
        .queryExecution.toRdd.count(); ()
    }),
    "ctl_string" -> (s => { // string build + hash + regex codegen
      s.range(0, 800000L)
        .select(concat(lit("doc-"), col("id"), lit("-"),
          sha2(col("id").cast("string"), 256)).as("t"))
        .select(length(regexp_replace(col("t"), "[0-9a-f]{4}", "#")).as("l"))
        .agg(sum("l")).queryExecution.toRdd.count(); ()
    }))

  /** Quiet-window per-query anchors (seconds) for [[controlQueries]] —
    * see that doc for the recording protocol. Recorded 2026-08-16 on
    * the round-18 build machine: per-query MEDIAN across five full
    * sf0.001 bench runs (each value already min-of-2 in-bench), cpus=32
    * — median, not min, so a typical quiet window reads factor ≈ 1.0
    * and single-sample JIT flukes don't skew the denominator.
    */
  private val controlAnchors: Map[String, Double] = Map(
    "ctl_agg" -> 0.611,
    "ctl_join" -> 0.718,
    "ctl_window" -> 0.483,
    "ctl_sort" -> 0.744,
    "ctl_string" -> 0.518)

  /** Rerun one query in a fresh JVM and return its min-of-2 time, or
    * None if the child fails (isolated numbers are best-effort garnish —
    * a child crash must not take down the round's bench artifact).
    *
    * The child is this same main: same classpath (sbt forks `run`, so
    * java.class.path is the real one), same JVM flags (--add-opens etc.
    * from the running JVM), filtered to `name` via SPARK_GRAFT_QUERIES —
    * which also suppresses the child's own isolated pass. Result comes
    * back through the child's SPARK_GRAFT_BENCH_OUT file, not stdout
    * (no log-interleaving risk).
    */
  private def isolatedRun(name: String, sfDir: String, cpus: Int): Option[Double] = {
    import scala.jdk.CollectionConverters._
    val out = java.nio.file.Files.createTempFile(s"graft_iso_$name", ".json")
    try {
      val javaBin = java.nio.file.Paths
        .get(sys.props("java.home"), "bin", "java").toString
      val jvmArgs = java.lang.management.ManagementFactory
        .getRuntimeMXBean.getInputArguments.asScala
        .filter(a => a.startsWith("--add-opens") || a.startsWith("--add-exports") ||
          a.startsWith("-Xmx") || a.startsWith("-D"))
      val cmd = (Seq(javaBin) ++ jvmArgs ++
        Seq("-cp", sys.props("java.class.path"), "graft.Bench")).asJava
      val pb = new ProcessBuilder(cmd)
      pb.environment().put("SPARK_GRAFT_SF_DIR", sfDir)
      pb.environment().put("SPARK_GRAFT_CPUS", cpus.toString)
      pb.environment().put("SPARK_GRAFT_QUERIES", name)
      pb.environment().put("SPARK_GRAFT_BENCH_OUT", out.toString)
      pb.environment().remove("SPARK_GRAFT_ISOLATED")
      pb.redirectOutput(ProcessBuilder.Redirect.DISCARD)
      pb.redirectError(ProcessBuilder.Redirect.DISCARD)
      val proc = pb.start()
      val done = proc.waitFor(10, java.util.concurrent.TimeUnit.MINUTES)
      if (!done) { proc.destroyForcibly(); None }
      else if (proc.exitValue() != 0) None
      else {
        val line = java.nio.file.Files.readString(out)
        // the child benched exactly one query; its total IS that query
        raw""""value":([0-9.]+)""".r.findFirstMatchIn(line)
          .map(_.group(1).toDouble)
      }
    } catch { case _: Exception => None }
    finally { try java.nio.file.Files.deleteIfExists(out) catch { case _: Exception => () } }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.envCpus
    val spark = GraftSession.build("graft-bench")

    // JVM/codegen warmup (not data-dependent): exercise scan, shuffle-agg,
    // join, and window codegen paths once so the first timed query does
    // not absorb session startup.
    {
      val r = spark.range(1000000).select(col("id"), (col("id") % 97).as("k"))
      r.groupBy("k").agg(sum("id")).count()
      r.join(r.limit(100).withColumnRenamed("id", "id2"), "k").count()
      import org.apache.spark.sql.expressions.Window
      r.limit(10000).withColumn("rn",
        row_number().over(Window.partitionBy("k").orderBy("id"))).count()
    }

    // min of 2 INTERLEAVED passes per query: this VM sees intermittent
    // host CPU-steal spikes that inflate random queries 5-10x. Running
    // the full query list twice (pass 1 for all, then pass 2) instead of
    // back-to-back repeats decorrelates the two samples — a multi-second
    // steal window can no longer inflate BOTH samples of one query, so
    // the per-query min is a far more robust estimate of the real cost.
    // Optional local-iteration filter (comma-separated names); the driver
    // sets no filter and benches the full surface.
    val filter: String => Boolean = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(v => v.split(",").toSet: String => Boolean)
      .getOrElse(_ => true)
    val names = SparkEntry.queries.keys.toSeq.filter(filter).sorted
    // Execute each query's OWN plan (toRdd.count): `df.count()` builds a
    // separate count aggregate over the query, and Catalyst's column
    // pruning then deletes any operator whose outputs the count never
    // references — a window-carrying query like j_asof_nearest benched
    // as scan+filter only (measured flat at 10× data, the tell). Running
    // the query's executed plan materializes every output column, which
    // is what a caller consuming the result pays.
    // A query that throws is a BENCH FAILURE, not a fast sample: its
    // error is recorded per-query in the artifact and the run exits
    // nonzero (the silent-catch version recorded time-to-fail as a
    // legitimate timing, so a bench-only breakage — e.g. an OOM at
    // sf0.1 that sf0.01 verify never sees — read as a fast query).
    // Timing still records so the artifact stays complete.
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // test hook (BenchErrorSpec): deliberately fail the named queries
    // so the rc/err contract is provable in a spec-level dry run
    val injectFail: Set[String] = sys.env.get("SPARK_GRAFT_INJECT_FAIL")
      .map(_.split(",").toSet).getOrElse(Set.empty)
    def pass(): Map[String, Double] = names.map { name =>
      val t0 = System.nanoTime()
      try {
        if (injectFail(name))
          throw new RuntimeException("injected failure (test hook)")
        SparkEntry.queries(name)(spark, sfDir).queryExecution.toRdd.count()
        ()
      }
      catch { case e: Throwable =>
        errors.getOrElseUpdate(name, e.toString.take(300))
      }
      name -> (System.nanoTime() - t0) / 1e9
    }.toMap
    val p1 = pass()
    // Full GC between passes: the 10× scale investigation (SCALING.md)
    // showed heavy queries inflate later queries in the same JVM 5-10×
    // via accumulated heap pressure; starting pass 2 from a clean heap
    // makes the per-query min reflect the code, not the neighbors.
    System.gc()
    val p2 = pass()
    val results = names.map(n => n -> math.min(p1(n), p2(n)))

    // Isolated snapshot (SCALING.md protocol, now part of the artifact):
    // rerun the N most expensive queries each in a FRESH JVM so their
    // numbers carry no bench-JVM heap/GC contamination — r6→r7 showed
    // in-bench totals inflate ~1.5× on unchanged code from accumulated
    // session state plus host steal, which only fresh-JVM minimums cut
    // through. Each child is this same main filtered to one query (so it
    // gets the same warmup + min-of-2 discipline). On by default for the
    // per-round artifact; SPARK_GRAFT_ISOLATED=off disables, =<k> resizes.
    // Children inherit SPARK_GRAFT_QUERIES, which gates them out of
    // recursing here.
    // Control group (see controlQueries doc): frozen work, recorded
    // anchors, min-of-2 after a GC — the artifact self-reports its
    // window factor. Default (auto): on for full-board runs, skipped in
    // filtered children (their artifact is a single-query probe);
    // SPARK_GRAFT_CONTROL=on/off forces either way.
    val runControl = sys.env.getOrElse("SPARK_GRAFT_CONTROL", "auto") match {
      case "on" => true
      case "off" | "0" | "false" => false
      case _ => !sys.env.contains("SPARK_GRAFT_QUERIES")
    }
    val control: Seq[(String, Double)] =
      if (!runControl) Nil
      else {
        def cpass(): Seq[Double] = controlQueries.map { case (_, f) =>
          val t0 = System.nanoTime()
          f(spark)
          (System.nanoTime() - t0) / 1e9
        }
        val c1 = cpass(); System.gc(); val c2 = cpass()
        controlQueries.map(_._1)
          .zip(c1.zip(c2).map { case (x, y) => math.min(x, y) })
      }
    val controlFactor: Option[Double] =
      if (control.isEmpty) None
      else {
        val ratios = control.map { case (n, v) => v / controlAnchors(n) }
          .sorted
        Some(ratios(ratios.size / 2)) // median
      }

    val isolatedConf = sys.env.getOrElse("SPARK_GRAFT_ISOLATED", "top10")
    val isolatedN =
      if (sys.env.contains("SPARK_GRAFT_QUERIES")) 0
      else if (Set("off", "0", "none", "false")(isolatedConf)) 0
      else isolatedConf.stripPrefix("top").toIntOption.getOrElse(10)
    val isolated: Seq[(String, Double)] =
      if (isolatedN <= 0) Nil
      else results.sortBy(-_._2).take(isolatedN).map(_._1).sorted.flatMap { name =>
        isolatedRun(name, sfDir, cpus).map(name -> _)
      }
    // 4-decimal (0.1 ms) per-query precision: the driver captures only the
    // last ~2.7 KB of stdout, and at 95+ queries the full-precision map
    // (~3 KB) overflowed that window, truncating the JSON head — r4/r5
    // recorded `parsed: null`. Rounding keeps the whole line inside the
    // tail capture; the timing signal at this SF is scheduler-bound well
    // above 0.1 ms anyway.
    def fmt(v: Double): String = BigDecimal(v)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toString
    val qs = results.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    // "value" stays the IN-BENCH total (comparable to prior rounds'
    // artifacts and the round-1 anchor); "isolated" adds the fresh-JVM
    // minimums for the heaviest queries, which ARE comparable across
    // rounds/environments (see BASELINE.md's noise note).
    val iso = isolated.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    def jesc(s: String): String = s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    val errs = errors.map { case (k, v) => "\"" + k + "\":\"" + jesc(v) + "\"" }
      .mkString("{", ",", "}")
    val rc = if (errors.nonEmpty) 1 else 0
    val ctl = control.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val cf = controlFactor.map(fmt).getOrElse("null")
    val json =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"isolated":$iso,"control":$ctl,"control_factor":$cf,"errors":$errs,"rc":$rc,"sf":"$sfDir"}"""
    // The result line goes to a FILE first (truncation-proof — a capture
    // of the process tail once lost the round's total), then stdout
    // BEFORE spark.stop() so no shutdown logging can interleave after it.
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_result.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json + "\n")
    catch { case _: Exception => () } // stdout remains the contract
    println(json)
    System.out.flush()
    spark.stop()
    // Final program output: a compact total-only line (<200 bytes, no
    // per-query map). The driver's tail capture keeps only the last ~2.7 KB
    // of stdout and parses the last JSON-looking line; sbt appends a
    // `[success] Total time: …` trailer after us, but this line is short
    // enough to land intact inside any tail window even with that trailer,
    // so the driver can recover the round total even when the full line
    // above is clipped. Printed AFTER spark.stop() so no executor-shutdown
    // logging can interleave into it.
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":{},"nerr":${errors.size},"control_factor":$cf,"sf":"$sfDir"}""")
    System.out.flush()
    // nonzero exit when any query threw — the artifact above still
    // carries the timings and the per-query errors
    if (errors.nonEmpty) sys.exit(1)
  }
}
