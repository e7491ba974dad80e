package graft.orchestrate

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkFunSuite
import graft.model.{PartitionId, TableRef, TableStatus}
import graft.resume.Checkpoint

/** Pipeline integration (SURVEY.md §5.2 item 4): migrate lineitem
  * partitioned by month(l_shipdate) through the full state machine, then
  * kill-and-resume and failure-injection.
  */
class MigratorSpec extends SparkFunSuite {

  private val keys = Seq("l_month")
  private def keyExprs = Seq(date_format(col("l_shipdate"), "yyyy-MM"))
  private def lineitem = spark.read.parquet(s"$sf0001/lineitem.parquet")

  private def freshEnv() = {
    val dir = Files.createTempDirectory("mig")
    val ckpt = new Checkpoint(dir.resolve("progress.json"))
    val mig = new Migrator(spark, ckpt, lockDir = dir.resolve("locks").toString)
    (dir, ckpt, mig)
  }

  test("full migration: counts preserved, published layout readable") {
    val (dir, ckpt, mig) = freshEnv()
    val dest = s"$dir/dest/lineitem"
    val res = mig.migrateTable(
      TableRef("testdb", "lineitem"), lineitem, keys, keyExprs, dest)
    assert(res.status == TableStatus.Completed, res.error)
    assert(res.migratedRows == lineitem.count())
    assert(res.checkResults.nonEmpty && res.checkResults.forall(_.passed))
    // published table is a valid hive-partitioned parquet dir
    val back = spark.read.option("basePath", dest).parquet(dest)
    assert(back.count() == lineitem.count())
    assert(back.columns.contains("l_month"))
    // staging dir is gone (publish moved it)
    assert(!Files.exists(Paths.get(s"$dest.staging")))
    // checkpoint marked completed
    assert(ckpt.tableProgress("testdb", "lineitem").get.status == TableStatus.Completed)
  }

  test("rerun after a crash between publish and the Completed mark converges") {
    val (dir, ckpt, mig) = freshEnv()
    val dest = s"$dir/dest/lineitem"
    val ref = TableRef("testdb", "lineitem")
    assert(mig.migrateTable(ref, lineitem, keys, keyExprs, dest).status
      == TableStatus.Completed)
    // the crash state: staging already published into dest and every
    // partition checkpointed, but the table never marked Completed
    ckpt.markStatus("testdb", "lineitem", TableStatus.Running)
    assert(!Files.exists(Paths.get(s"$dest.staging")))
    // the rerun gates the published copy (count and checksum) instead
    // of the vanished staging dir
    val rerun = new Migrator(spark, ckpt,
      lockDir = dir.resolve("locks").toString, checksumValidation = true)
    val res = rerun.migrateTable(ref, lineitem, keys, keyExprs, dest)
    assert(res.status == TableStatus.Completed, res.error)
    assert(ckpt.tableProgress("testdb", "lineitem").get.status
      == TableStatus.Completed)
    val back = spark.read.option("basePath", dest).parquet(dest)
      .select(lineitem.columns.map(col).toIndexedSeq: _*)
    assert(back.count() == lineitem.count())
    assert(back.exceptAll(lineitem).isEmpty && lineitem.exceptAll(back).isEmpty)
  }

  test("rerun of a published table sweeps a stash a killed publish leaked") {
    val (dir, ckpt, mig) = freshEnv()
    val dest = s"$dir/dest/lineitem"
    val ref = TableRef("testdb", "lineitem")
    assert(mig.migrateTable(ref, lineitem, keys, keyExprs, dest).status
      == TableStatus.Completed)
    // the crash state of a publish killed between its swap and its
    // stash delete, on a table never marked Completed
    ckpt.markStatus("testdb", "lineitem", TableStatus.Running)
    val stash = Paths.get(s"$dest.replaced.123")
    Files.createDirectories(stash)
    Files.writeString(stash.resolve("part-00000.parquet"), "superseded")
    // near-miss names are not stashes and must survive the sweep
    val keep = Seq(Paths.get(s"$dest.replaced.123x"),
      Paths.get(s"$dest.replaced."), Paths.get(s"${dest}x.replaced.1"))
    keep.foreach(Files.createDirectories(_))
    val res = mig.migrateTable(ref, lineitem, keys, keyExprs, dest)
    assert(res.status == TableStatus.Completed, res.error)
    assert(!Files.exists(stash), "the leaked stash must be swept")
    keep.foreach(p => assert(Files.exists(p), s"$p is not a stash"))
    val back = spark.read.option("basePath", dest).parquet(dest)
      .select(lineitem.columns.map(col).toIndexedSeq: _*)
    assert(back.exceptAll(lineitem).isEmpty && lineitem.exceptAll(back).isEmpty)
  }

  private def cliConfig(dir: java.nio.file.Path, mode: String,
      dest: String) = graft.model.MigrationConfig(mode = mode,
    db = "testdb", table = "lineitem",
    sourcePath = if (mode == "full") sf0001 else s"$sf0001/lineitem.parquet",
    destPath = dest, checkpointPath = dir.resolve("progress.json").toString,
    lockDir = dir.resolve("locks").toString)

  test("MigrateCli: an unwritable --dest parent fails the sink probe before any checkpoint write") {
    val dir = Files.createTempDirectory("probe_bad")
    // a regular file where the destination's parent directory should be
    val blocker = dir.resolve("sink")
    Files.writeString(blocker, "not a directory")
    val args = Map("partition-expr" -> "month:l_shipdate",
      "report-dir" -> s"$dir/reports")
    Seq("single", "full", "resync").foreach { mode =>
      assert(graft.MigrateCli.runMigrate(spark, args,
        cliConfig(dir, mode, s"$blocker/lineitem"), 1L) == 1, mode)
    }
    assert(!Files.exists(dir.resolve("progress.json")),
      "the probe must fail before the checkpoint is written")
    assert(!Files.exists(dir.resolve("reports")))
    assert(Files.readString(blocker) == "not a directory")
  }

  test("MigrateCli: a normal run leaves no _graft_probe entry behind") {
    val dir = Files.createTempDirectory("probe_ok")
    val args = Map("partition-expr" -> "month:l_shipdate",
      "report-dir" -> s"$dir/reports")
    val out = dir.resolve("out")
    assert(graft.MigrateCli.runMigrate(spark, args,
      cliConfig(dir, "single", s"$out/lineitem"), 1L) == 0)
    assert(out.toFile.list().toSeq == Seq("lineitem"),
      s"left behind: ${out.toFile.list().toSeq}")
    assert(spark.read.parquet(s"$out/lineitem").count() == lineitem.count())
  }

  test("migrate through a view name: resolves to the base table (A8 analog)") {
    val (dir, ckpt, mig) = freshEnv()
    val s = spark
    s.sql("CREATE DATABASE IF NOT EXISTS graft_test")
    try {
      lineitem.write.mode("overwrite").saveAsTable("graft_test.li_rv")
      s.sql("CREATE OR REPLACE VIEW graft_test.li_rv_view AS " +
        "SELECT * FROM graft_test.li_rv")
      val dest = s"$dir/dest/li_rv"
      // migrating the VIEW name resolves to, and runs under, the base
      // table's identity — the reference's Distributed→local dispatch
      val res = mig.migrateCatalogTable(
        TableRef("graft_test", "li_rv_view"), keys, keyExprs, dest)
      assert(res.status == TableStatus.Completed, res.error)
      assert(res.table == TableRef("graft_test", "li_rv"),
        "result identity must be the RESOLVED base table")
      assert(res.migratedRows == lineitem.count())
      assert(ckpt.tableProgress("graft_test", "li_rv").get.status
        == TableStatus.Completed,
        "checkpoint keys land on the base table, not the view alias")
      assert(spark.read.option("basePath", dest).parquet(dest).count()
        == lineitem.count())
    } finally {
      s.sql("DROP VIEW IF EXISTS graft_test.li_rv_view")
      s.sql("DROP TABLE IF EXISTS graft_test.li_rv")
    }
  }

  test("view projecting away the partition column: key derives from the BASE schema (ADVICE r18)") {
    val (dir, _, mig) = freshEnv()
    val s = spark
    s.sql("CREATE DATABASE IF NOT EXISTS graft_test")
    try {
      lineitem.write.mode("overwrite").saveAsTable("graft_test.li_proj")
      // the view drops l_shipdate — keying off the VIEW's schema would
      // silently degrade `month:l_shipdate` to the single-partition
      // fallback even though the base table (what migration actually
      // copies) has the column. The CLI now resolves FIRST and keys off
      // the base schema; this is that contract.
      s.sql("CREATE OR REPLACE VIEW graft_test.li_proj_view AS " +
        "SELECT l_orderkey, l_quantity FROM graft_test.li_proj")
      val viewRef = TableRef("graft_test", "li_proj_view")
      val baseRef = graft.sources.CatalogOps.resolveToBaseTable(s, viewRef)
      assert(baseRef == TableRef("graft_test", "li_proj"))
      // the CLI's keyFor against the view would have fallen back
      assert(!s.table(viewRef.qualified).columns.contains("l_shipdate"))
      assert(s.table(baseRef.qualified).columns.contains("l_shipdate"))
      val dest = s"$dir/dest/li_proj"
      val res = mig.migrateCatalogTable(viewRef, keys, keyExprs, dest)
      assert(res.status == TableStatus.Completed, res.error)
      assert(res.totalPartitions > 1,
        s"base-schema key must yield real partitions, got " +
          s"${res.totalPartitions} — the view-schema fallback would be 1")
      val back = spark.read.option("basePath", dest).parquet(dest)
      assert(back.columns.contains("l_month") && back.count() == lineitem.count())
    } finally {
      s.sql("DROP VIEW IF EXISTS graft_test.li_proj_view")
      s.sql("DROP TABLE IF EXISTS graft_test.li_proj")
    }
  }

  test("incremental resync: only drifted partitions re-copied, dest converges") {
    val (dir, _, mig) = freshEnv()
    val dest = s"$dir/dest/lineitem"
    val ref = TableRef("testdb", "lineitem")
    assert(mig.migrateTable(ref, lineitem, keys, keyExprs, dest).status
      == TableStatus.Completed)

    // Source evolves after publish: one partition loses its high-quantity
    // rows (changed), one partition vanishes entirely (orphaned at dest).
    val month = date_format(col("l_shipdate"), "yyyy-MM")
    val evolved = lineitem.filter(
      month =!= "1995-03" &&
        !(month === "1995-01" && col("l_quantity") > 25))

    val res = mig.resyncTable(ref, evolved, keys, keyExprs, dest,
      dropOrphans = true)
    assert(res.status == TableStatus.Completed, res.error)
    // exactly ONE partition drifted and was re-copied
    assert(res.checkResults.map(_.partition) == Seq("'1995-01'"))
    assert(res.checkResults.forall(_.passed))
    // destination now equals the evolved source, orphan dropped
    val back = spark.read.option("basePath", dest).parquet(dest)
    assert(back.count() == evolved.count())
    assert(back.filter(col("l_month") === "1995-03").count() == 0L)

    // a second resync against an unchanged source is a no-op
    val res2 = mig.resyncTable(ref, evolved, keys, keyExprs, dest)
    assert(res2.status == TableStatus.Completed)
    assert(res2.checkResults.isEmpty && res2.migratedRows == 0L)
  }

  test("resync schema gate: breaking drift fails fast, benign additions not blamed") {
    val (dir, _, mig) = freshEnv()
    val dest = s"$dir/dest/lineitem"
    val ref = TableRef("testdb", "lineitem")
    assert(mig.migrateTable(ref, lineitem, keys, keyExprs, dest).status
      == TableStatus.Completed)
    // source changes a type (breaking) AND gains a nullable column
    // (benign) → resync must refuse BEFORE copying anything (a partial
    // re-copy would mix schemas), blaming only the breaking change.
    val drifted = lineitem
      .withColumn("l_quantity", col("l_quantity").cast("decimal(18,2)"))
      .withColumn("load_ts", lit("2026-01-01"))
    val res = mig.resyncTable(ref, drifted, keys, keyExprs, dest)
    assert(res.status == TableStatus.Failed)
    assert(res.checkResults.isEmpty && res.migratedRows == 0L)
    val msg = res.error.get
    assert(msg.contains("schema drift"))
    assert(msg.contains("l_quantity changed"))
    assert(!msg.contains("load_ts")) // the benign addition is not the refusal
  }

  test("resync schema evolution: added nullable column auto-migrates, untouched partitions kept") {
    val (dir, _, mig) = freshEnv()
    val dest = s"$dir/dest/lineitem"
    val ref = TableRef("testdb", "lineitem")
    assert(mig.migrateTable(ref, lineitem, keys, keyExprs, dest).status
      == TableStatus.Completed)
    // Source gains a nullable column populated ONLY in 1995-02: every
    // other partition's content is unchanged (the new column backfills
    // as NULL on the dest read), so exactly one partition re-copies.
    val month = date_format(col("l_shipdate"), "yyyy-MM")
    val evolved = lineitem.withColumn("load_batch",
      when(month === "1995-02", lit("b1")))
    val res = mig.resyncTable(ref, evolved, keys, keyExprs, dest)
    assert(res.status == TableStatus.Completed, res.error)
    assert(res.checkResults.map(_.partition) == Seq("'1995-02'"))
    assert(res.checkResults.forall(_.passed))
    // Read back with schema merging: the new column exists, carries its
    // values in the re-copied partition, and is NULL elsewhere.
    val back = spark.read.option("basePath", dest)
      .option("mergeSchema", "true").parquet(dest)
    assert(back.columns.contains("load_batch"))
    assert(back.filter(col("load_batch") === "b1").count()
      == lineitem.filter(month === "1995-02").count())
    assert(back.filter(col("load_batch").isNotNull)
      .filter(col("l_month") =!= "1995-02").count() == 0L)
    // a second resync against the same evolved source is a no-op
    val res2 = mig.resyncTable(ref, evolved, keys, keyExprs, dest)
    assert(res2.status == TableStatus.Completed)
    assert(res2.checkResults.isEmpty && res2.migratedRows == 0L)
  }

  test("resync against an empty destination degrades to a full copy") {
    val (dir, _, mig) = freshEnv()
    val dest = s"$dir/dest/li_fresh"
    val ref = TableRef("testdb", "li_fresh")
    val res = mig.resyncTable(ref, lineitem, keys, keyExprs, dest)
    assert(res.status == TableStatus.Completed, res.error)
    assert(res.migratedRows == lineitem.count())
    assert(spark.read.option("basePath", dest).parquet(dest).count()
      == lineitem.count())
  }

  test("rerun after completion is a skip") {
    val (dir, _, mig) = freshEnv()
    val dest = s"$dir/dest/lineitem"
    val ref = TableRef("testdb", "lineitem")
    assert(mig.migrateTable(ref, lineitem, keys, keyExprs, dest).status == TableStatus.Completed)
    assert(mig.migrateTable(ref, lineitem, keys, keyExprs, dest).status == TableStatus.Skipped)
  }

  test("kill-and-resume: pre-checkpointed partitions are not re-copied, result identical") {
    val (dir, ckpt, mig) = freshEnv()
    val dest = s"$dir/dest/lineitem"
    val ref = TableRef("testdb", "lineitem")
    // simulate a previous run that completed two partitions then died:
    // pre-copy those partitions into staging and checkpoint them.
    val withKey = lineitem.withColumn("l_month", keyExprs.head.cast("string"))
    val pre = Seq(PartitionId.single("1995-01"), PartitionId.single("1995-02"))
    pre.foreach { p =>
      graft.copy.CopyService.copyPartition(
        withKey, keys, p, keys.map(col), s"$dest.staging")
      ckpt.markPartition(ref.db, ref.table, p)
    }
    val res = mig.migrateTable(ref, lineitem, keys, keyExprs, dest)
    assert(res.status == TableStatus.Completed, res.error)
    // resumed run processed only the remaining partitions...
    assert(res.checkResults.forall(c =>
      c.partition != "'1995-01'" && c.partition != "'1995-02'"))
    // ...but the published result is complete anyway.
    assert(spark.read.option("basePath", dest).parquet(dest).count() == lineitem.count())
  }

  test("crash retry is idempotent: partial partition copy gets overwritten") {
    val (dir, ckpt, mig) = freshEnv()
    val dest = s"$dir/dest/lineitem"
    val ref = TableRef("testdb", "lineitem")
    // simulate a crashed copy: partition dir exists with HALF the rows and
    // no checkpoint entry (the reference would duplicate rows here —
    // SURVEY.md §3.4; our overwrite semantics must not).
    val withKey = lineitem.withColumn("l_month", keyExprs.head.cast("string"))
    // drop the key column like a real partial copy would (Hive layout
    // keeps it in the dir name only) — keeping it in the data files
    // makes the later basePath read WARN COLUMN_ALREADY_EXISTS
    withKey.filter(col("l_month") === "1995-03" && col("l_linenumber") === 1)
      .drop("l_month")
      .write.mode("overwrite").parquet(s"$dest.staging/l_month=1995-03")
    val res = mig.migrateTable(ref, lineitem, keys, keyExprs, dest)
    assert(res.status == TableStatus.Completed, res.error)
    assert(spark.read.option("basePath", dest).parquet(dest).count() == lineitem.count())
  }

  test("composite partition key: full lifecycle + resume over (month, returnflag)") {
    // Hard part 1 (SURVEY.md §7.5): composite partitions are unit-specced
    // at the render/parse/predicate level; this drives a TWO-key
    // partitioning through the whole state machine including resume.
    val (dir, ckpt, mig) = freshEnv()
    val dest = s"$dir/dest/lineitem2k"
    val ref = TableRef("testdb", "lineitem2k")
    val cKeys = Seq("l_month", "l_rf")
    def cExprs = Seq(date_format(col("l_shipdate"), "yyyy-MM"), col("l_returnflag"))
    // simulate a prior run that completed one composite partition
    val withKeys = cKeys.zip(cExprs).foldLeft(lineitem) {
      case (df, (k, e)) => df.withColumn(k, e.cast("string"))
    }
    val pre = PartitionId(Seq("1995-01", "A"))
    graft.copy.CopyService.copyPartition(
      withKeys, cKeys, pre, cKeys.map(col), s"$dest.staging")
    ckpt.markPartition(ref.db, ref.table, pre)
    val res = mig.migrateTable(ref, lineitem, cKeys, cExprs, dest)
    assert(res.status == TableStatus.Completed, res.error)
    assert(res.migratedRows < lineitem.count()) // resumed: pre part skipped
    // the pre-copied composite partition was NOT re-copied...
    assert(res.checkResults.forall(_.partition != pre.render))
    // ...and the published table is complete, with BOTH key dirs in the layout
    val back = spark.read.option("basePath", dest).parquet(dest)
    assert(back.count() == lineitem.count())
    assert(back.select("l_month", "l_rf").distinct().count()
      == withKeys.select("l_month", "l_rf").distinct().count())
    // round-trip spot check: one composite partition's rows survive intact
    assert(back.filter(col("l_month") === "1995-01" && col("l_rf") === "A").count()
      == withKeys.filter(col("l_month") === "1995-01" && col("l_rf") === "A").count())
  }

  test("failure injection: validation gate aborts, nothing published, source intact") {
    val (dir, ckpt, mig) = freshEnv()
    val dest = s"$dir/dest/lineitem"
    val ref = TableRef("testdb", "lineitem")
    // poison one partition as already-checkpointed-with-wrong-data? No —
    // the gate compares src vs freshly-copied dst, so inject by
    // pre-checkpointing a partition with a SHORT copy in staging, then
    // corrupting srcCounts is impossible from outside. Instead inject a
    // dst mismatch: pre-checkpoint every partition EXCEPT one, pre-fill
    // staging with a short copy for a DIFFERENT uncheckpointed partition
    // is overwritten... so simulate via a source that changes mid-flight:
    // migrate a filtered source, then validate against a fuller one by
    // swapping the staging content post-copy. Simplest deterministic
    // injection: copy everything, then corrupt staging before the final
    // gate by deleting a file — achieved by pre-checkpointing ALL
    // partitions and deleting rows from one staged partition.
    val withKey = lineitem.withColumn("l_month", keyExprs.head.cast("string"))
    val allParts = graft.operators.Partitions.enumeratePartitions(withKey, keys)
    allParts.foreach { p =>
      graft.copy.CopyService.copyPartition(withKey, keys, p, keys.map(col), s"$dest.staging")
      ckpt.markPartition(ref.db, ref.table, p)
    }
    // corrupt one staged partition (drop its rows) after checkpointing
    val victim = allParts.head
    withKey.filter(col("l_month") === victim.values.head).limit(1)
      .drop("l_month") // Hive layout: key lives in the dir name only
      .write.mode("overwrite")
      .parquet(s"$dest.staging/l_month=${victim.values.head}")
    val res = mig.migrateTable(ref, lineitem, keys, keyExprs, dest)
    assert(res.status == TableStatus.Failed)
    assert(res.error.exists(_.contains("count mismatch")))
    // nothing published, source untouched
    assert(!Files.exists(Paths.get(dest)))
    assert(lineitem.count() == 6000)
  }

  test("lock excludes concurrent migration of the same table") {
    val (dir, _, _) = freshEnv()
    val lock1 = new TableLock(s"$dir/locks", "db", "t", timeoutSec = 0.1, retrySec = 0.05)
    val lock2 = new TableLock(s"$dir/locks", "db", "t", timeoutSec = 0.1, retrySec = 0.05)
    assert(lock1.acquire())
    assert(lock1.isLocked)
    assert(!lock2.acquire()) // times out
    lock1.release()
    assert(!lock1.isLocked)
    assert(lock2.acquire())
    lock2.release()
  }

  test("lock timeout returns Locked and does NOT touch the checkpoint") {
    val (dir, ckpt, _) = freshEnv()
    val mig = new Migrator(spark, ckpt,
      lockDir = dir.resolve("locks").toString, lockTimeoutSec = 0.1)
    val holder = new TableLock(dir.resolve("locks").toString,
      "testdb", "lineitem")
    assert(holder.acquire())
    try {
      val res = mig.migrateTable(
        TableRef("testdb", "lineitem"), lineitem, keys, keyExprs,
        s"$dir/dest/lineitem")
      assert(res.status == TableStatus.Locked)
      // the shared checkpoint was not written: no entry, no Failed stamp
      assert(ckpt.tableProgress("testdb", "lineitem").isEmpty)
    } finally holder.release()
  }

  /** Runs `body` with `spark.sql.files.maxPartitionBytes` set to `bytes`,
    * which shrinks the wave budget and so forces several waves.
    */
  private def withMaxPartitionBytes[T](bytes: Long)(body: => T): T = {
    val key = "spark.sql.files.maxPartitionBytes"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, bytes.toString)
    try body
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def sizeInBytes(df: org.apache.spark.sql.DataFrame): Long =
    df.queryExecution.optimizedPlan.stats.sizeInBytes.toLong

  test("wave planner: order kept, each partition once, over-budget alone, unknown size singletons") {
    val parts = Seq(3L, 4L, 10L, 1L, 1L, 2L, 30L, 5L).zipWithIndex
      .map { case (rows, i) => PartitionId.single(f"p$i%02d") -> rows }
    // 1 byte per row, budget 10: greedy packing in work-list order
    val waves = Migrator.packWaves(parts, Some(1.0), 10.0)
    assert(waves.map(_.map(_.values.head)) == Seq(
      Seq("p00", "p01"), Seq("p02"), Seq("p03", "p04", "p05"), Seq("p06"), Seq("p07")))
    assert(waves.flatten == parts.map(_._1)) // order kept, each exactly once
    // p06 (30 bytes) is over budget and stands alone
    assert(waves.contains(Seq(PartitionId.single("p06"))))
    // no size estimate → one partition per wave (the reference's loop)
    assert(Migrator.packWaves(parts, None, 10.0) == parts.map(p => Seq(p._1)))
    // an RDD-backed relation has no size statistics: Spark reports
    // spark.sql.defaultSizeInBytes, and the session planner falls back
    val s = spark
    import s.implicits._
    val unsized = spark.sparkContext.parallelize(1 to 8).toDF("id")
    assert(Migrator.planWaves(spark, unsized, parts, parts.map(_._2).sum)
      == parts.map(p => Seq(p._1)))
    // a sized source far under one task-round is a single wave
    assert(Migrator.planWaves(spark, lineitem, parts, 6000L) == Seq(parts.map(_._1)))
  }

  test("several waves: identical result, every partition checkpointed in order") {
    val (dir, ckpt, mig) = freshEnv()
    val dest = s"$dir/dest/lineitem"
    val withKey = lineitem.withColumn("l_month", keyExprs.head.cast("string"))
    val allParts = graft.operators.Partitions.countsInOrder(withKey, keys)
    withMaxPartitionBytes(sizeInBytes(lineitem) / 32) {
      val waves = Migrator.planWaves(spark, lineitem, allParts, 6000L)
      assert(waves.size > 2, s"expected several waves, got ${waves.size}")
      val res = mig.migrateTable(
        TableRef("testdb", "lineitem"), lineitem, keys, keyExprs, dest)
      assert(res.status == TableStatus.Completed, res.error)
      assert(res.migratedRows == lineitem.count())
      assert(res.checkResults.map(_.partition) == allParts.map(_._1.render))
      assert(res.checkResults.forall(_.passed))
    }
    assert(spark.read.option("basePath", dest).parquet(dest).count() == lineitem.count())
    val prog = ckpt.tableProgress("testdb", "lineitem").get
    assert(prog.status == TableStatus.Completed)
    assert(prog.completedPartitions == allParts.map(_._1.render))
  }

  test("failure inside a multi-partition wave: aborts, nothing of the wave checkpointed") {
    val (dir, ckpt, mig) = freshEnv()
    val dest = s"$dir/dest/lineitem"
    // Poison one partition's PAYLOAD: enumeration and counting prune to
    // the key columns, so only the copy job of the wave holding the
    // poisoned partition throws. The whole table fits one wave.
    val poisoned = lineitem.withColumn("poison",
      when(date_format(col("l_shipdate"), "yyyy-MM") === "1995-06",
        raise_error(lit("injected copy failure"))).otherwise(lit(1)))
    val res = mig.migrateTable(
      TableRef("testdb", "lineitem"), poisoned, keys, keyExprs, dest)
    assert(res.status == TableStatus.Failed)
    // nothing published; source untouched
    assert(!Files.exists(Paths.get(dest)))
    assert(lineitem.count() == 6000)
    val prog = ckpt.tableProgress("testdb", "lineitem").get
    assert(prog.status == TableStatus.Failed)
    assert(prog.completedPartitions.isEmpty)
  }

  test("width stress: 100 partitions in several waves, injected failure, checkpoint ordering holds") {
    val (dir, ckpt, mig) = freshEnv()
    val dest = s"$dir/dest/wide"
    val ref = TableRef("testdb", "wide")
    val wideKeys = Seq("pid")
    val wideExprs = Seq(col("id") % 100)
    val src = spark.range(1000).toDF("id")
    // Poison ONE partition's payload: enumeration and counting prune to
    // the key column, so only the copy of the wave holding pid=42 throws.
    val poisoned = src.withColumn("payload",
      when(col("id") % 100 === 42, raise_error(lit("injected width failure")))
        .otherwise(lit(1)))
    val withKey = src.withColumn("pid", wideExprs.head.cast("string"))
    val allParts = graft.operators.Partitions.countsInOrder(withKey, wideKeys)
    assert(allParts.size == 100)
    // a budget of about eight 10-row partitions per wave
    withMaxPartitionBytes(sizeInBytes(poisoned) / 100 * 8 /
        spark.sparkContext.defaultParallelism) {
      val waves = Migrator.planWaves(spark, poisoned, allParts, 1000L)
      val failWave = waves.indexWhere(_.contains(PartitionId.single("42")))
      assert(failWave > 0 && failWave < waves.size - 1,
        s"pid=42 must sit in a middle wave: ${waves.map(_.size)}")
      val waveStart = waves.take(failWave).map(_.size).sum

      val res = mig.migrateTable(ref, poisoned, wideKeys, wideExprs, dest)
      assert(res.status == TableStatus.Failed)
      assert(!Files.exists(Paths.get(dest)))

      // A throw anywhere in a wave leaves that ENTIRE wave (and
      // everything after it) unmarked, while every earlier wave is fully
      // marked, in work-list order.
      assert(ckpt.tableProgress(ref.db, ref.table).get.completedPartitions ==
        allParts.take(waveStart).map(_._1.render),
        s"expected exactly the $waveStart partitions before the failing wave")

      // Resume with a healed source: only the unmarked partitions re-copy,
      // and the published table is complete.
      val healed = src.withColumn("payload", lit(1))
      val res2 = mig.migrateTable(ref, healed, wideKeys, wideExprs, dest)
      assert(res2.status == TableStatus.Completed, res2.error)
      assert(res2.checkResults.map(_.partition) ==
        allParts.drop(waveStart).map(_._1.render))
    }
    assert(spark.read.option("basePath", dest).parquet(dest).count() == 1000)
  }

  test("NULL partition key: migrate, fail mid-table, resume through the wave path") {
    val (dir, ckpt, mig) = freshEnv()
    val s = spark
    import s.implicits._
    val ref = TableRef("testdb", "nullkey")
    val dest = s"$dir/dest/nullkey"
    val path = s"$dir/src/nullkey.parquet"
    (1 to 30).map(i => (i.toLong, Seq(Some("x"), Some("a/b"), None)(i % 3)))
      .toDF("id", "k").write.parquet(path)
    val table = spark.read.parquet(path)
    val nkExprs = Seq(col("k"))
    // partition order is NULL, 'a/b', 'x'; poison 'x' and give every
    // partition its own wave, so the first run checkpoints NULL and 'a/b'
    val poisoned = table.withColumn("payload",
      when(col("k") === "x", raise_error(lit("injected"))).otherwise(lit(1)))
    // every partition (a third of the rows) is twice the wave budget
    withMaxPartitionBytes(sizeInBytes(poisoned) / 3 / 2 /
        spark.sparkContext.defaultParallelism) {
      val res = mig.migrateTable(ref, poisoned, Seq("k"), nkExprs, dest)
      assert(res.status == TableStatus.Failed)
      assert(ckpt.tableProgress(ref.db, ref.table).get.completedPartitions ==
        Seq("NULL", "'a/b'"))
      val healed = table.withColumn("payload", lit(1))
      val res2 = mig.migrateTable(ref, healed, Seq("k"), nkExprs, dest)
      assert(res2.status == TableStatus.Completed, res2.error)
      assert(res2.checkResults.map(_.partition) == Seq("'x'"))
    }
    val back = spark.read.option("basePath", dest).parquet(dest)
    assert(back.count() == 30L)
    assert(back.filter(col("k").isNull).count() == 10L)
    assert(back.filter(col("k") === "a/b").count() == 10L)
  }

  test("a killed wave's .spark-staging leftovers never reach the published table") {
    val (dir, _, mig) = freshEnv()
    val dest = s"$dir/dest/lineitem"
    // what a JVM killed inside a dynamic-partition-overwrite job leaves
    val leftover = Paths.get(s"$dest.staging/.spark-staging-0badc0de/l_month=1995-01")
    Files.createDirectories(leftover)
    Files.writeString(leftover.resolve("part-00000.parquet"), "torn")
    val res = mig.migrateTable(
      TableRef("testdb", "lineitem"), lineitem, keys, keyExprs, dest)
    assert(res.status == TableStatus.Completed, res.error)
    val names = Files.list(Paths.get(dest)).map(_.getFileName.toString)
      .toArray.toSeq.map(_.toString)
    assert(!names.exists(_.startsWith(".spark-staging-")), names)
    assert(spark.read.option("basePath", dest).parquet(dest).count() == lineitem.count())
  }

  test("migrateTable runs as many jobs for 24 partitions as for 12 when both fit one wave") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    def jobsToMigrate(parts: Int): Int = {
      val (dir, _, mig) = freshEnv()
      val path = s"$dir/src/t$parts.parquet"
      spark.range(2400).toDF("id").write.parquet(path)
      val src = spark.read.parquet(path)
      val marker = "job-count marker"
      @volatile var jobs = 0
      @volatile var markerSeen = false
      val listener = new SparkListener {
        override def onJobStart(js: SparkListenerJobStart): Unit =
          if (js.properties.getProperty("spark.job.description") == marker)
            markerSeen = true
          else jobs += 1
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        val res = mig.migrateTable(TableRef("testdb", s"t$parts"), src,
          Seq("p"), Seq(col("id") % parts), s"$dir/dest/t$parts")
        assert(res.status == TableStatus.Completed, res.error)
        assert(res.totalPartitions == parts)
        // listener delivery is async but ordered: once the marker job
        // arrives, every job migrateTable ran has too
        spark.sparkContext.setJobDescription(marker)
        try spark.range(1).count()
        finally spark.sparkContext.setJobDescription(null)
        val deadline = System.nanoTime() + 10_000_000_000L
        while (!markerSeen && System.nanoTime() < deadline) Thread.sleep(20)
        assert(markerSeen)
        jobs
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    val (twelve, twentyFour) = (jobsToMigrate(12), jobsToMigrate(24))
    assert(twelve == twentyFour,
      s"jobs must not grow with partitions: 12 → $twelve, 24 → $twentyFour")
    // enumerate+count 2, wave write 1, read-back 2, full-table count 2
    assert(twelve <= 7, s"one-wave migrateTable ran $twelve jobs, more than 7")
  }

  test("dq drift gate: stable rerun exits 0, injected drifted column exits 1") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("dqdrift")
    val reports = s"$dir/reports"
    def run(path: String, extra: Map[String, String], at: Long): Int =
      graft.MigrateCli.runDq(s,
        Map("report-dir" -> reports) ++ extra,
        graft.model.MigrationConfig(mode = "dq", sourcePath = path), at)

    val good = (1 to 200).map(i =>
      (i.toLong, Some(10.0 + i % 90), s"tag${i % 7}"))
      .toDF("id", "price", "tag")
    good.write.parquet(s"$dir/t.parquet")
    // first run records the baseline profile
    assert(run(s"$dir/t.parquet", Map.empty, 1L) == 0)
    val baseline = s"$reports/dq_report_1.json"
    assert(Files.exists(Paths.get(baseline)))

    // stable source re-profiled against its own baseline: no drift
    assert(run(s"$dir/t.parquet", Map("baseline" -> baseline), 2L) == 0)

    // injected drift: price nulls out on half the rows AND escapes the
    // historical floor — the gate must fail loud
    val drifted = good
      .withColumn("price",
        when(col("id") % 2 === 0, lit(null)).otherwise(lit(-500.0)))
    drifted.write.parquet(s"$dir/t2.parquet")
    assert(run(s"$dir/t2.parquet", Map("baseline" -> baseline), 3L) == 1)
  }

  test("dq PSI gate: histogram baseline catches a shape collapse the profile rules pass") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("dqpsi")
    val reports = s"$dir/reports"
    def run(path: String, extra: Map[String, String], at: Long): Int =
      graft.MigrateCli.runDq(s,
        Map("report-dir" -> reports) ++ extra,
        graft.model.MigrationConfig(mode = "dq", sourcePath = path), at)

    val base = (0 until 1000).map(i => (i.toLong, i.toDouble))
      .toDF("id", "score")
    base.write.parquet(s"$dir/b.parquet")
    // --psi-cols records the 10-bin histogram in the report
    assert(run(s"$dir/b.parquet", Map("psi-cols" -> "score"), 1L) == 0)
    val baseline = s"$reports/dq_report_1.json"
    val baselineText = Files.readString(Paths.get(baseline))
    assert(baselineText.contains("\"hist\"") &&
      baselineText.contains("\"counts\""), baselineText.take(400))

    // same distribution re-gated: quiet
    assert(run(s"$dir/b.parquet", Map("baseline" -> baseline), 2L) == 0)

    // shape collapse with IDENTICAL bounds, count, and cardinality —
    // invisible to every profile rule, exit 1 only via the PSI rule
    val collapsed = (0 until 1000).map { i =>
      val v = if (i == 0) 0.0
        else if (i == 999) 999.0
        else 900.0 + (i % 99) + i / 1000.0
      (i.toLong, v)
    }.toDF("id", "score")
    collapsed.write.parquet(s"$dir/c.parquet")
    // drift-tolerance 1 silences the profile rules outright (nothing
    // can exceed a 100% tolerance here), so these two runs isolate the
    // PSI rule: exit 1 with the default threshold, exit 0 with a
    // sky-high one
    assert(run(s"$dir/c.parquet",
      Map("baseline" -> baseline, "drift-tolerance" -> "1"), 3L) == 1,
      "the PSI rule must fail the gate on a shape collapse")
    assert(run(s"$dir/c.parquet",
      Map("baseline" -> baseline, "drift-tolerance" -> "1",
        "psi-threshold" -> "1000"), 4L) == 0)
  }

  test("dq categorical PSI gate: --psi-cols on a STRING column records the mix and catches a category shift") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("dqpsicat")
    val reports = s"$dir/reports"
    def run(path: String, extra: Map[String, String], at: Long): Int =
      graft.MigrateCli.runDq(s,
        Map("report-dir" -> reports) ++ extra,
        graft.model.MigrationConfig(mode = "dq", sourcePath = path), at)

    val cats = Seq("us", "eu", "ap", "sa")
    val base = (0 until 2000).map(i => (i.toLong, cats(i % 4)))
      .toDF("id", "region")
    base.write.parquet(s"$dir/b.parquet")
    // a string --psi-cols column routes to the categorical profile
    assert(run(s"$dir/b.parquet", Map("psi-cols" -> "region"), 1L) == 0)
    val baseline = s"$reports/dq_report_1.json"
    val txt = Files.readString(Paths.get(baseline))
    assert(txt.contains("\"cats\"") && txt.contains("\"categories\"") &&
      !txt.contains("\"hist\""), txt.take(400))

    // same mix re-gated: quiet
    assert(run(s"$dir/b.parquet", Map("baseline" -> baseline), 2L) == 0)

    // category MIX collapse inside identical category set / row count /
    // completeness — only the categorical PSI rule can fail this gate
    val collapsed = (0 until 2000).map { i =>
      (i.toLong, if (i < 1700) "us" else cats(1 + i % 3))
    }.toDF("id", "region")
    collapsed.write.parquet(s"$dir/c.parquet")
    assert(run(s"$dir/c.parquet",
      Map("baseline" -> baseline, "drift-tolerance" -> "1"), 3L) == 1,
      "the categorical PSI rule must fail the gate on a mix collapse")
    assert(run(s"$dir/c.parquet",
      Map("baseline" -> baseline, "drift-tolerance" -> "1",
        "psi-threshold" -> "1000"), 4L) == 0)
  }

  test("dq report keeps control characters in string min/max: parses and round-trips") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("dqctl")
    val reports = s"$dir/reports"
    def run(extra: Map[String, String], at: Long): Int =
      graft.MigrateCli.runDq(s, Map("report-dir" -> reports) ++ extra,
        graft.model.MigrationConfig(mode = "dq",
          sourcePath = s"$dir/t.parquet"), at)
    Seq("a\nb", "c\td").toDF("txt").write.parquet(s"$dir/t.parquet")
    assert(run(Map.empty, 1L) == 0)
    val baseline = s"$reports/dq_report_1.json"
    val profile = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(baseline)).get(0)
    assert(profile.get("column").asText == "txt")
    assert(profile.get("min").asText == "a\nb")
    assert(profile.get("max").asText == "c\td")
    // the report reads back as the next run's baseline: no drift
    assert(run(Map("baseline" -> baseline), 2L) == 0)
  }

  test("report JSON carries reference field names") {
    val (dir, ckpt, mig) = freshEnv()
    val dest = s"$dir/dest/lineitem"
    val res = mig.migrateTable(
      TableRef("testdb", "lineitem"), lineitem, keys, keyExprs, dest)
    val report = graft.model.MigrationReport("single", "testdb", Seq(res))
    val json = ReportService.toJson(report, System.currentTimeMillis())
    Seq("migration_info", "results", "check_results", "src_count",
        "dst_count", "passed", "cost_time", "summary", "completed")
      .foreach(k => assert(json.contains(k), s"missing $k"))
    val path = ReportService.write(report, s"$dir/reports", System.currentTimeMillis())
    assert(Files.exists(path))
  }
}
