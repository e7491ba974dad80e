package graft

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.model.TableRef
import graft.orchestrate.{ConfigResolver, Migrator, ReportService}
import graft.resume.Checkpoint

/** CLI entry point — the analog of the reference's console script
  * (reference: clickhouse_migrator/cli.py:5-21 and orchestrator.py:21-89):
  * resolve config → connect → migrate → report → exit code 0/1.
  *
  * Example:
  * {{{
  * runMain graft.MigrateCli --mode single --db testdb --table lineitem \
  *   --source /root/testdata/sf0.001/lineitem.parquet \
  *   --dest /tmp/out/lineitem \
  *   --partition-expr month:l_shipdate \
  *   --checkpoint /tmp/out/progress.json --lock-dir /tmp/out/locks \
  *   --report-dir /tmp/out/reports
  * }}}
  *
  * `--partition-expr` supports `month:<tsCol>`, `date:<tsCol>`, or a plain
  * column name — the stand-in for a ClickHouse PARTITION BY expression.
  *
  * Modes: `single` (one table, full state machine; `--source` is a
  * parquet path, or `table:<db.name>` for a catalog table — a name
  * bound to a VIEW resolves to its single base table first, the
  * reference's Distributed→local dispatch re-expressed), `full` (every
  * parquet table under --source), `resync` (incremental: re-copy only
  * partitions whose count/checksum drifted vs the published --dest;
  * `--drop-orphans true` also removes destination-only partitions),
  * `dq` (one-pass per-column data-quality profile of --source, written
  * as a JSON report; `--min-completeness 0.99` turns it into a gate —
  * exit 1 if any column's non-null fraction falls below it — and
  * `--baseline <previous dq report>` turns it into a DRIFT gate: the
  * profile diffs against the last run's, exit 1 on missing columns,
  * completeness drops, cardinality swings, or numeric bounds escaping
  * the historical range beyond `--drift-tolerance`, default 0.1;
  * `--psi-cols v1,v2` additionally records shape profiles of those
  * columns in the report — 10-bin histograms for numeric/temporal
  * columns, top-10 category frequency mixes for string columns — and
  * a baseline carrying either arms the population-stability-index
  * SHAPE rule: exit 1 when a column's PSI vs the baseline bins
  * exceeds `--psi-threshold`, default 0.2 — the drift the other rules
  * provably miss), and
  * `curate` (the end-to-end corpus-curation pipeline over a documents
  * table: Gopher quality gate → exact dedup → MinHash near-dup
  * collapse → deterministic split, written to --dest partitioned by
  * split, with per-stage counts as the JSON report; `--jaccard 0.5`
  * tunes the near-dup threshold, and `--mixture en:0.4,de:0.15,...`
  * adds the data-mixture downsampling stage after near-dup collapse —
  * target per-language token shares applied via the deterministic
  * 256-band sampler, with the post-mixture count in the report;
  * `--stopwords multilang` switches the quality gate to the shipped
  * per-language function-word registry; `--canonical rank` keeps the
  * max-PageRank member of each near-dup cluster instead of the
  * minimum id — dedup-cluster centrality as the keep choice), and
  * `vacuum` (age-based sweep of leaked scratch under the `--source`
  * root(s), comma-separated — filesystem dirs, or `catalog:<db>` for
  * leaked scratch TABLES in a scratch database; `--age-hours 24` sets
  * the retention, DRY-RUN unless `--apply true`. Only entries matching
  * the Scratch naming contract are candidates — live indexes, epochs,
  * and user data can never match; see [[graft.sources.Scratch.vacuum]]
  * / [[graft.sources.Scratch.vacuumCatalog]]).
  */
object MigrateCli {

  /** Data-quality mode body, exit code RETURNED instead of exited —
    * the unit the spec drives in-process (sys.exit would kill the
    * forked test JVM). One profiling pass, per-COLUMN output rows
    * (bounded by schema width — the collect is a ~n_columns report,
    * never row data), written as the JSON report that doubles as the
    * NEXT run's `--baseline`.
    *
    * Gates, either of which exits 1:
    *  - `--min-completeness X`: absolute per-column completeness floor
    *    (the one-shot gate, A35's shape);
    *  - `--baseline <last dq report>` [`--drift-tolerance 0.1`]:
    *    anomaly-detection drift vs the LAST run's profile — missing
    *    columns, completeness drops, cardinality swings, numeric
    *    bounds escaping the historical range (DataQuality.drift).
    */
  private[graft] def runDq(
      spark: SparkSession,
      args: Map[String, String],
      cfg: graft.model.MigrationConfig,
      start: Long): Int = {
    val f = new java.io.File(cfg.sourcePath)
    val src = graft.sources.Sources.table(
      spark, f.getParent, f.getName.stripSuffix(".parquet"))
    val profs = graft.operators.DataQuality.collectProfile(src)
    // `--psi-cols c1,c2` adds baseline-binned histograms (10 bins) to
    // the report, enabling the PSI shape-drift rule on the NEXT run —
    // the same report-doubles-as-baseline protocol as the profile.
    val psiCols = args.get("psi-cols")
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty)).getOrElse(Nil)
    psiCols.foreach(c => require(src.columns.contains(c),
      s"--psi-cols column '$c' is not in the source schema"))
    // a numeric column's shape is a fixed-bin histogram; a string
    // column's is its top-K category frequency mix — route by dtype so
    // `--psi-cols region,price` just works for both
    val (numCols, catCols) = psiCols.partition { c =>
      src.schema(c).dataType match {
        case _: org.apache.spark.sql.types.NumericType => true
        case _: org.apache.spark.sql.types.DateType => true
        case _: org.apache.spark.sql.types.TimestampType => true
        case _ => false
      }
    }
    val hists = graft.operators.DataQuality
      .collectHistograms(src, numCols, bins = 10)
      .map(h => h.column -> h).toMap
    val cats = graft.operators.DataQuality
      .collectCategoryHistograms(src, catCols, topK = 10)
      .map(c => c.column -> c).toMap
    val body = profs.map { p =>
      ListMap("column" -> p.column, "n_rows" -> p.nRows,
        "null_count" -> p.nullCount, "completeness" -> p.completeness,
        "approx_distinct" -> p.approxDistinct,
        "min" -> p.minValue, "max" -> p.maxValue) ++
        hists.get(p.column).map(h => "hist" ->
          ListMap("lo" -> h.lo, "hi" -> h.hi, "counts" -> h.counts)) ++
        cats.get(p.column).map(c => "cats" ->
          ListMap("categories" -> c.categories, "counts" -> c.counts,
            "other_count" -> c.otherCount))
    }
    val out = ReportService.writeJson(args.getOrElse("report-dir", "reports"),
      s"dq_report_$start.json", body)
    profs.foreach { p =>
      println(s"[graft] dq column=${p.column} " +
        s"completeness=${p.completeness} distinct~${p.approxDistinct}")
    }
    val minC = args.get("min-completeness").map(_.toDouble).getOrElse(0.0)
    val bad = profs.filter(_.completeness < minC)
    bad.foreach(p => System.err.println(
      s"[graft] dq GATE FAILED column=${p.column} " +
        s"completeness=${p.completeness} < $minC"))
    val drifts = args.get("baseline").map { basePath =>
      val tol = args.get("drift-tolerance").map(_.toDouble).getOrElse(0.1)
      // the baseline is our own report format; Spark's JSON reader
      // keeps the parse dependency-free
      val baseDf = spark.read.option("multiLine", true).json(basePath)
      val rows = baseDf.collect().toSeq
      val baseRows = rows.map { r =>
        graft.operators.DataQuality.ColumnProfile(
          r.getAs[String]("column"), r.getAs[Long]("n_rows"),
          r.getAs[Long]("null_count"), r.getAs[Double]("completeness"),
          r.getAs[Long]("approx_distinct"),
          Option(r.getAs[String]("min")), Option(r.getAs[String]("max")))
      }
      // PSI shape rule: a baseline row carrying a histogram activates
      // it for that column (`--psi-threshold`, default 0.2 — the
      // conventional "significant shift" mark). Columns the current
      // schema lacks are the presence rule's finding, not PSI's.
      val basHists =
        if (!baseDf.columns.contains("hist")) Nil
        else rows.flatMap { r =>
          Option(r.getAs[org.apache.spark.sql.Row]("hist")).map { h =>
            graft.operators.DataQuality.HistProfile(
              r.getAs[String]("column"), h.getAs[Double]("lo"),
              h.getAs[Double]("hi"),
              h.getSeq[Long](h.fieldIndex("counts")).toSeq)
          }
        }
      // a baseline row carrying a category profile activates the
      // categorical PSI rule for that column, same protocol as hist
      val basCats =
        if (!baseDf.columns.contains("cats")) Nil
        else rows.flatMap { r =>
          Option(r.getAs[org.apache.spark.sql.Row]("cats")).map { c =>
            graft.operators.DataQuality.CatProfile(
              r.getAs[String]("column"),
              c.getSeq[String](c.fieldIndex("categories")).toSeq,
              c.getSeq[Long](c.fieldIndex("counts")).toSeq,
              c.getAs[Long]("other_count"))
          }
        }
      val psiThr = args.get("psi-threshold").map(_.toDouble).getOrElse(0.2)
      graft.operators.DataQuality.drift(baseRows, profs, tol) ++
        graft.operators.DataQuality.psiDrift(basHists, src, psiThr) ++
        graft.operators.DataQuality.psiDriftCategorical(basCats, src, psiThr)
    }.getOrElse(Nil)
    drifts.foreach(d => System.err.println(
      s"[graft] dq DRIFT column=${d.column} metric=${d.metric} " +
        s"baseline=${d.baseline} current=${d.current}"))
    println(s"[graft] dq report=$out columns=${profs.length} " +
      s"violations=${bad.length} drifts=${drifts.length}")
    if (bad.nonEmpty || drifts.nonEmpty) 1 else 0
  }

  /** Vacuum mode body, exit code returned (spec-drivable in-process).
    * Scratch roots come from `--source` (comma-separated); verdicts
    * print per entry and land in a JSON report beside the migration
    * reports. Exit 0 always unless a delete itself failed — a dirty
    * scratch root is a finding, not an error.
    */
  private[graft] def runVacuum(args: Map[String, String],
      cfg: graft.model.MigrationConfig,
      sparkFor: () => SparkSession = () => throw new IllegalStateException(
        "catalog: vacuum roots need a SparkSession factory")): Int = {
    val age = args.get("age-hours").map(_.toDouble).getOrElse(24.0)
    val apply = args.get("apply") match {
      case None | Some("false") => false
      case Some("true") => true
      case Some(other) => throw new IllegalArgumentException(
        s"--apply expects 'true' or 'false', got '$other'")
    }
    // a `catalog:<db>` root sweeps leaked scratch TABLES (the
    // graft_scratch convention) instead of a filesystem dir; the
    // session is built lazily so pure-FS sweeps stay Spark-free
    lazy val sess = sparkFor()
    val entries = cfg.sourcePath.split(",").toSeq.map(_.trim)
      .filter(_.nonEmpty)
      .flatMap { root =>
        if (root.startsWith("catalog:"))
          graft.sources.Scratch.vacuumCatalog(
            sess, root.stripPrefix("catalog:"), age, apply)
        else graft.sources.Scratch.vacuum(root, age, apply)
      }
    entries.foreach(e => println(f"[graft] vacuum ${e.action}%-20s " +
      f"age=${e.ageHours}%.1fh ${e.path}"))
    val body = entries.map { e =>
      ListMap("path" -> e.path,
        "age_hours" -> java.math.BigDecimal.valueOf(e.ageHours)
          .setScale(2, java.math.RoundingMode.HALF_UP),
        "action" -> e.action)
    }
    val out = ReportService.writeJson(args.getOrElse("report-dir", "reports"),
      s"vacuum_report_${System.currentTimeMillis()}.json", body)
    val deleted = entries.count(_.action == "deleted")
    val pending = entries.count(_.action == "would_delete")
    val failed = entries.count(_.action == "delete_failed")
    println(s"[graft] vacuum report=$out entries=${entries.length} " +
      s"deleted=$deleted would_delete=$pending failed=$failed " +
      s"dry_run=${!apply}")
    if (failed > 0) {
      System.err.println(
        s"[graft] vacuum $failed entr${if (failed == 1) "y" else "ies"} " +
          "could not be deleted (see delete_failed rows in the report)")
      1
    } else 0
  }

  /** Migration modes (`single`, `full`, `resync`), exit code RETURNED
    * instead of exited (spec-drivable in-process). The sink is probed
    * before any source scan ([[probeDest]]); a failed probe returns 1
    * before the checkpoint or any destination file is written.
    */
  private[graft] def runMigrate(
      spark: SparkSession,
      args: Map[String, String],
      cfg: graft.model.MigrationConfig,
      start: Long): Int = {
    probeDest(spark, cfg.destPath).foreach { err =>
      System.err.println(s"[graft] sink probe failed: $err")
      return 1
    }
    /** Partition expr for one table; tables lacking the named column
      * fall back to a single constant partition (the no-partition fast
      * path, reference: migration.py:432-441).
      */
    def keyFor(df: org.apache.spark.sql.DataFrame): (String, org.apache.spark.sql.Column) =
      args.getOrElse("partition-expr", "") match {
        case s if s.startsWith("month:") =>
          val c = s.stripPrefix("month:")
          if (df.columns.contains(c)) (s"${c}_month", date_format(col(c), "yyyy-MM"))
          else ("part", lit("all"))
        case s if s.startsWith("date:") =>
          val c = s.stripPrefix("date:")
          if (df.columns.contains(c)) (s"${c}_date", date_format(col(c), "yyyy-MM-dd"))
          else ("part", lit("all"))
        case "" => throw new IllegalArgumentException("--partition-expr is required")
        case plain =>
          if (df.columns.contains(plain)) (plain, col(plain))
          else ("part", lit("all"))
      }

    val ckpt = new Checkpoint(cfg.checkpointPath)
    val mig = new Migrator(spark, ckpt, cfg.lockDir, cfg.insertIntervalSec)

    val results = cfg.mode match {
      case "single" if cfg.sourcePath.startsWith("table:") =>
        // catalog-named source: `--source table:<db.name>` (or a bare
        // name, resolved in --db). A name bound to a VIEW resolves to
        // its single base table before migrating — the reference's
        // Distributed→local dispatch (A8) in catalog terms.
        val parts = cfg.sourcePath.stripPrefix("table:").split("\\.", 2)
        val srcRef =
          if (parts.length == 2) TableRef(parts(0), parts(1))
          else TableRef(cfg.db, parts(0))
        // the partition key derives from the RESOLVED BASE table's
        // schema, not the view's: migration runs on the base, so a
        // view that projects away (silent single-partition fallback)
        // or renames (late AnalysisException) the --partition-expr
        // column must not decide the key
        val baseRef = graft.sources.CatalogOps.resolveToBaseTable(
          spark, srcRef)
        val (k, e) = keyFor(spark.table(baseRef.qualified))
        Seq(mig.migrateCatalogTable(srcRef, Seq(k), Seq(e), cfg.destPath))
      case "single" =>
        val f = new java.io.File(cfg.sourcePath)
        val src = graft.sources.Sources.table(
          spark, f.getParent, f.getName.stripSuffix(".parquet"))
        val (k, e) = keyFor(src)
        Seq(mig.migrateTable(
          TableRef(cfg.db, cfg.table), src, Seq(k), Seq(e), cfg.destPath))
      case "resync" =>
        // Incremental re-sync of an already-published destination:
        // re-copies only partitions whose count/checksum drifted
        // (Migrator.resyncTable); `--drop-orphans` also removes
        // destination-only partitions.
        val f = new java.io.File(cfg.sourcePath)
        val src = graft.sources.Sources.table(
          spark, f.getParent, f.getName.stripSuffix(".parquet"))
        val (k, e) = keyFor(src)
        // Destructive flag: only the literal "true" enables it — any
        // other value ("no", "0", a typo) is rejected rather than
        // silently enabling deletion of destination-only partitions.
        val dropOrphans = args.get("drop-orphans") match {
          case None | Some("false") => false
          case Some("true") => true
          case Some(other) => throw new IllegalArgumentException(
            s"--drop-orphans expects 'true' or 'false', got '$other'")
        }
        Seq(mig.resyncTable(
          TableRef(cfg.db, cfg.table), src, Seq(k), Seq(e), cfg.destPath,
          dropOrphans = dropOrphans))
      case "full" =>
        // full-database mode (reference: migration.py:544-563):
        // sequential per-table migration, log-and-continue on failure.
        val dir = new java.io.File(cfg.sourcePath)
        val tables = dir.listFiles().toSeq
          .filter(_.getName.endsWith(".parquet"))
          .map(_.getName.stripSuffix(".parquet")).sorted
        tables.map { t =>
          try {
            val src = graft.sources.Sources.table(spark, cfg.sourcePath, t)
            val (k, e) = keyFor(src)
            mig.migrateTable(TableRef(cfg.db, t), src, Seq(k), Seq(e),
              s"${cfg.destPath}/$t")
          } catch {
            case ex: Exception =>
              System.err.println(s"[graft] table $t failed: ${ex.getMessage}")
              graft.model.TableResult(TableRef(cfg.db, t),
                graft.model.TableStatus.Failed, 0, 0, 0L, Nil,
                Some(ex.getMessage))
          }
        }
      case other => throw new IllegalArgumentException(s"unknown mode: $other")
    }

    val report = graft.model.MigrationReport(cfg.mode, cfg.db, results)
    val reportPath = ReportService.write(
      report, args.getOrElse("report-dir", "reports"), start)
    // console summary (reference: report.py:85-124)
    results.foreach { r =>
      println(s"[graft] table=${r.table.qualified} status=${r.status.name} " +
        s"partitions=${r.completedPartitions}/${r.totalPartitions} " +
        s"rows=${r.migratedRows}")
      r.error.foreach(e => System.err.println(s"[graft] error: $e"))
    }
    println(s"[graft] report=$reportPath completed=${report.completedCount} " +
      s"failed=${report.failedCount} skipped=${report.skippedCount}")
    if (report.anyFailed) 1 else 0
  }

  /** The reference's sink preflight (reference: clients/ch_client.py:43-57
    * round-trips a tmp table on the S3 policy before migrating): write,
    * read back and delete a one-row probe under a per-run unique name in
    * the PARENT of `dest`. Probing inside a not-yet-published `dest`
    * would create it, and the publish would then stash it as an existing
    * destination. None when the sink is writable, else the error.
    */
  private[graft] def probeDest(spark: SparkSession,
      dest: String): Option[String] = {
    val d = new org.apache.hadoop.fs.Path(dest)
    val q = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(d)
    val parent = Option(q.getParent).getOrElse(q).toString
    if (graft.sources.Sources.probeSink(spark, parent)) None
    else Some(s"cannot write, read back and delete a probe under $parent " +
      s"(the parent of --dest $dest)")
  }

  def main(argv: Array[String]): Unit = {
    val args = ConfigResolver.parseArgs(argv)
    val cfg = ConfigResolver.resolve(args)
    require(cfg.sourcePath.nonEmpty, "--source is required")
    if (cfg.mode != "dq" && cfg.mode != "vacuum")
      require(cfg.destPath.nonEmpty, "--dest is required")

    if (cfg.mode == "vacuum") {
      // Sweep the scratch root(s) in --source (comma-separated; a
      // `catalog:<db>` root sweeps leaked scratch tables) for entries
      // older than --age-hours (default 24). DRY-RUN by default; only
      // the literal `--apply true` deletes (the --drop-orphans
      // stance). Safety lives in the Scratch NAMING CONTRACT (see
      // Scratch.vacuum): live indexes/epochs and user data can never
      // match, this JVM's own scratch and epoch-shaped entries are
      // skipped even if named like scratch. The SparkSession is built
      // only if a catalog root needs it.
      var created: SparkSession = null
      val code = try runVacuum(args, cfg, () => {
        created = GraftSession.build("graft-vacuum")
        created
      }) finally if (created != null) created.stop()
      if (code != 0) sys.exit(code)
      return
    }
    // curate is destructive at --dest only (overwrite of the curated
    // corpus), never at --source.

    val spark = GraftSession.build("graft-migrate")

    val start = System.currentTimeMillis()
    try {
      if (cfg.mode == "dq") {
        val code = runDq(spark, args, cfg, start)
        spark.stop()
        if (code != 0) sys.exit(code)
        return
      }

      if (cfg.mode == "curate") {
        val f = new java.io.File(cfg.sourcePath)
        val src = graft.sources.Sources.table(
          spark, f.getParent, f.getName.stripSuffix(".parquet"))
        val jac = args.get("jaccard").map(_.toDouble).getOrElse(0.5)
        // --mixture en:0.4,de:0.15,... → target per-language token
        // shares; the mixture stage runs after near-dup collapse
        // (Curation.applyMixture). Weights are relative shares and
        // must be positive.
        val mixture: Seq[(String, Double)] =
          args.get("mixture").map(_.split(",").toSeq.map { pair =>
            pair.split(":") match {
              case Array(l, w) if w.toDoubleOption.exists(_ > 0) =>
                (l, w.toDouble)
              case _ => throw new IllegalArgumentException(
                s"--mixture entry '$pair' is not lang:positive-weight")
            }
          }).getOrElse(Nil)
        // --stopwords multilang registers the shipped per-language
        // function-word lists so the quality gate doesn't zero
        // non-English input before a multilingual mixture stage.
        val stopwords = args.get("stopwords") match {
          case Some("multilang") =>
            graft.operators.TextAnalysis.StopwordsByLang
          case Some("en") | None =>
            Map("en" -> graft.operators.TextAnalysis.Stopwords)
          case Some(other) => throw new IllegalArgumentException(
            s"--stopwords must be 'en' or 'multilang', got '$other'")
        }
        // --canonical rank keeps the max-PageRank member per near-dup
        // cluster instead of the minimum id (Curation.curate scaladoc)
        val canonical = args.getOrElse("canonical", "minid")
        val rep = graft.operators.Curation.curate(src, cfg.destPath,
          jaccard = jac, stopwords = stopwords, mixture = mixture,
          canonical = canonical)
        val body = ListMap("mode" -> "curate", "source" -> cfg.sourcePath,
          "dest" -> cfg.destPath, "jaccard" -> jac, "canonical" -> canonical,
          "input" -> rep.input, "after_quality" -> rep.afterQuality,
          "after_exact_dedup" -> rep.afterExactDedup,
          "after_near_dup" -> rep.afterNearDup) ++
          rep.afterMixture.map("after_mixture" -> _) ++
          ListMap("dropped" -> rep.dropped,
            "by_split" -> ListMap(rep.bySplit.toSeq.sorted: _*))
        val out = ReportService.writeJson(
          args.getOrElse("report-dir", "reports"),
          s"curate_report_$start.json", body)
        println(s"[graft] curate input=${rep.input} " +
          s"quality=${rep.afterQuality} exact=${rep.afterExactDedup} " +
          s"near_dup=${rep.afterNearDup} dest=${cfg.destPath} report=$out")
        spark.stop()
        return
      }

      val code = runMigrate(spark, args, cfg, start)
      spark.stop()
      if (code != 0) sys.exit(code)
    } catch {
      case e: Exception =>
        System.err.println(s"[graft] fatal: ${e.getMessage}")
        spark.stop()
        sys.exit(1)
    }
  }
}
