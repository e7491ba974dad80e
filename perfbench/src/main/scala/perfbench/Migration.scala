package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, date_format}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.copy.CopyService
import graft.model.{PartitionId, TableRef, TableResult, TableStatus}
import graft.operators.{Partitions, Validate}
import graft.orchestrate.{Migrator, TableLock}
import graft.resume.Checkpoint
import graft.sources.{CatalogOps, Sources}

/** The `migration` workload: a table's migration and its later re-sync.
  *
  * A unit runs, with a fresh destination, checkpoint and lock dir, what
  * two `MigrateCli` invocations with `--partition-expr month:l_shipdate`
  * run: `--mode single` (`Migrator.migrateTable`, K=1, count gate, no
  * checksum, no insert interval) on the table, then `--mode resync`
  * (`Migrator.resyncTable`) on a drifted copy of it against the
  * destination the first one published. Traced units replay Migrator's
  * public calls in Migrator's order, each inside a span; the run fails if
  * a replay's re-copied partitions, checkpoint or destination checksums
  * differ from Migrator's own.
  */
object Migration {
  private val Db = "bench"
  private val Pristine = "lineitem"
  private val Drifted = "lineitem_drift"
  private val Table = TableRef(Db, Pristine)
  /** The key MigrateCli derives from `--partition-expr month:l_shipdate`. */
  private val Keys = Seq("l_shipdate_month")
  private def keyExprs: Seq[Column] = Seq(date_format(col("l_shipdate"), "yyyy-MM"))

  private final class Dirs(val root: String) {
    val ckpt = s"$root/progress.json"
    val locks = s"$root/locks"
    val dest = s"$root/dest"
  }

  private def source(run: Run, name: String): DataFrame =
    Sources.table(run.spark, s"${run.work}/input", name)

  private def sourceBytes(run: Run, name: String): Long =
    Files.size(Paths.get(s"${run.work}/input/$name.parquet"))

  private def checkpointBytes(d: Dirs): Long = Files.size(Paths.get(d.ckpt))

  private def withKeys(src: DataFrame): DataFrame =
    Keys.zip(keyExprs).foldLeft(src) { case (df, (k, e)) => df.withColumn(k, e.cast("string")) }

  /** Per-partition (count, checksum) of a source, keyed as Migrator keys it. */
  private def sourceSums(run: Run, name: String): Map[PartitionId, (Long, Long)] = {
    val src = source(run, name)
    Validate.checksumByPartition(withKeys(src), Keys, src.columns.toSeq)
  }

  /** The same sums of a hive-layout destination, read as Migrator's
    * checksum gate reads it (partition keys pinned to strings).
    */
  private def destSums(run: Run, like: DataFrame, dest: String): Map[PartitionId, (Long, Long)] = {
    val dataCols = like.columns.toSeq
    val schema = StructType(like.schema.fields ++ Keys.map(StructField(_, StringType)))
    Validate.checksumByPartition(
      run.spark.read.option("basePath", dest).schema(schema).parquet(dest)
        .select((Keys ++ dataCols).map(col): _*), Keys, dataCols)
  }

  private def newMigrator(run: Run, d: Dirs): Migrator =
    new Migrator(run.spark, new Checkpoint(d.ckpt), d.locks, 0.0)

  private class Units(run: Run) {
    private var n = 0
    def fresh(): Dirs = { n += 1; new Dirs(s"${run.work}/units/$n") }
  }

  private def deleteTree(root: String): Unit = {
    val p = Paths.get(root)
    if (Files.exists(p)) {
      val paths = Files.walk(p)
      try paths.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally paths.close()
    }
  }

  private def describe(r: TableResult): String =
    s"status=${r.status.name} partitions=${r.completedPartitions}/${r.totalPartitions} " +
      s"rows=${r.migratedRows} error=${r.error.getOrElse("")}"

  /** A body run under its own tracer, with what it measured. */
  private final case class Traced[T](result: T, wall: Double, cpu: Double, gc: Double,
      layers: Tracer.Layers, spans: Seq[Span], json: Seq[Map[String, Any]]) {
    def self(root: String): Double = Tracer.selfSeconds(spans.find(_.name == root).get, spans)
  }

  private def traced[T](run: Run)(body: Tracer => T): Traced[T] = {
    val t = new Tracer(run.spark.sparkContext)
    try {
      val gc0 = run.gcMs
      val (r, wall, cpu) = run.timed(body(t))
      val gc = (run.gcMs - gc0) / 1e3
      Traced(r, wall, cpu, gc, Tracer.layers(t, t.allSpans), t.allSpans, Tracer.toJson(t))
    } finally t.close()
  }

  def run(run: Run): Map[String, Any] = {
    val monthRows = run.cfg.counts("month_rows")
    val (parts, rows) = (monthRows.size, monthRows.values.sum)
    val drifted = run.cfg.strings("drifted").sorted
    val driftRows = monthRows.filter(kv => drifted.contains(kv._1)).values.sum
    val expected = drifted.map(m => PartitionId.single(m).render)
    val srcBytes = sourceBytes(run, Pristine)
    val units = new Units(run)

    def plain(d: Dirs): (Double, Double) = {
      val ((mig, rs), wall, cpu) = run.timed {
        val mig = newMigrator(run, d)
          .migrateTable(Table, source(run, Pristine), Keys, keyExprs, d.dest)
        (mig, newMigrator(run, d)
          .resyncTable(Table, source(run, Drifted), Keys, keyExprs, d.dest))
      }
      run.check(mig.status == TableStatus.Completed && mig.totalPartitions == parts &&
        mig.completedPartitions == parts && mig.migratedRows == rows, s"migrate: ${describe(mig)}")
      run.check(rs.status == TableStatus.Completed && rs.totalPartitions == drifted.size &&
        rs.checkResults.map(_.partition) == expected && rs.migratedRows == driftRows,
        s"resync: ${describe(rs)} recopied=${rs.checkResults.map(_.partition).mkString(",")}")
      (wall, cpu)
    }

    val warm = units.fresh()
    plain(warm)
    deleteTree(warm.root)
    run.ready()

    val driftSums = sourceSums(run, Drifted)

    def tracedUnit(d: Dirs, kept: Dirs): Map[String, Any] = {
      val m = traced(run)(t => replayMigrate(run, t, d))
      val r = traced(run)(t => replayResync(run, t, d))
      run.check(r.result == expected, s"resync replay re-copied ${r.result.mkString(",")}")
      run.check(new Checkpoint(d.ckpt).load() == new Checkpoint(kept.ckpt).load(),
        "replay: checkpoint differs from Migrator's")
      run.check(destSums(run, source(run, Drifted), d.dest) == driftSums,
        "replay: destination checksums differ from Migrator's")
      val (ml, rl) = (m.layers, r.layers)
      val migRead = Seq("partitions.enumerate", "partitions.count", "copy.write")
        .map(ml.c(_).recordsRead).sum
      val rsRead = Seq("validate.src_checksum", "copy.write").map(rl.c(_).recordsRead).sum
      Map("wall_s" -> (m.wall + r.wall), "cpu_s" -> (m.cpu + r.cpu),
        "spans" -> Map("migrate" -> m.json, "resync" -> r.json), "metrics" -> Map(
          "migrate.partitions.enumerate_s" -> ml.s("partitions.enumerate"),
          "migrate.partitions.count_s" -> ml.s("partitions.count"),
          "migrate.copy.write_s" -> ml.s("copy.write"),
          "migrate.copy.verify_s" -> ml.s("copy.verify"),
          "migrate.copy.publish_s" -> ml.s("copy.publish"),
          "migrate.resume.checkpoint_s" -> ml.s("resume.checkpoint"),
          "migrate.resume.checkpoint_bytes" -> m.result,
          "migrate.orchestrate.lock_s" -> ml.s("orchestrate.lock"),
          "migrate.orchestrate.self_s" -> m.self("orchestrate"),
          "migrate.spark.jobs" -> ml.total.jobs,
          "migrate.spark.tasks" -> ml.total.tasks,
          "migrate.spark.executor_cpu_s" -> ml.total.cpuNs / 1e9,
          "migrate.spark.gc_s" -> m.gc,
          "migrate.spark.bytes_read" -> ml.total.bytesRead,
          "migrate.spark.bytes_written" -> ml.total.bytesWritten,
          "migrate.scan_amplification" -> migRead.toDouble / rows,
          "migrate.write_amplification" -> ml.c("copy.write").bytesWritten.toDouble / srcBytes,
          "resync.validate.src_checksum_s" -> rl.s("validate.src_checksum"),
          "resync.validate.dst_checksum_s" -> rl.s("validate.dst_checksum"),
          "resync.validate.recheck_s" -> rl.s("validate.recheck"),
          "resync.copy.write_s" -> rl.s("copy.write"),
          "resync.resume.checkpoint_s" -> rl.s("resume.checkpoint"),
          "resync.orchestrate.self_s" -> r.self("orchestrate"),
          "resync.spark.jobs" -> rl.total.jobs,
          "resync.spark.tasks" -> rl.total.tasks,
          "resync.spark.executor_cpu_s" -> rl.total.cpuNs / 1e9,
          "resync.spark.gc_s" -> r.gc,
          "resync.spark.bytes_read" -> rl.total.bytesRead,
          "resync.scan_amplification" -> rsRead.toDouble / rows,
          "resync.drifted_partitions" -> r.result.size,
          "resync.recopy_ratio" -> rl.c("copy.write").recordsWritten.toDouble / driftRows))
    }

    // An untraced run runs only plain units; a traced run alternates plain
    // and traced units (at least plain, traced, plain), so a traced unit
    // can be held against the plain units on either side of it for the
    // tracing overhead. The last plain unit's directories are kept for the
    // output checks and as the reference the replays are held against.
    var kept: Dirs = null
    val samples = run.window(run.cfg.seconds, run.cfg.minUnits) { i =>
      val d = units.fresh()
      if (run.cfg.traced && i % 2 == 1) {
        val fields = tracedUnit(d, kept)
        deleteTree(d.root)
        Right(fields + ("i" -> i))
      } else {
        val (wall, cpu) = plain(d)
        if (kept != null) deleteTree(kept.root)
        kept = d
        Left(Map[String, Any]("i" -> i, "wall_s" -> wall, "cpu_s" -> cpu))
      }
    }
    run.check(destSums(run, source(run, Drifted), kept.dest) == driftSums,
      "destination checksums differ from the drifted source's")
    Map("units" -> samples.collect { case Left(u) => u },
      "traced_units" -> samples.collect { case Right(u) => u },
      "check_dest" -> kept.dest, "check_source" -> s"${run.work}/input/$Drifted.parquet")
  }

  /** `Migrator.migrateTable`'s public calls, in its order, for K=1 with
    * the count gate only. Returns the bytes the checkpoint rewrites wrote.
    */
  private def replayMigrate(run: Run, t: Tracer, d: Dirs): Long = {
    val ck = new Checkpoint(d.ckpt)
    var ckBytes = 0L
    t.span("orchestrate") {
      val lock = new TableLock(d.locks, Db, Table.table)
      require(t.span("orchestrate.lock")(lock.acquire()), "lock not acquired")
      try {
        t.span("resume.checkpoint")(ck.tableProgress(Db, Table.table))
        val src = withKeys(source(run, Pristine))
        val staging = d.dest + ".staging"
        val all = t.span("partitions.enumerate")(Partitions.enumeratePartitions(src, Keys))
        t.span("resume.checkpoint")(ck.initTable(Db, Table.table))
        ckBytes += checkpointBytes(d)
        val work = t.span("resume.checkpoint")(ck.uncompleted(Db, Table.table, all))
        val srcCounts = t.span("partitions.count")(
          Partitions.countsByPartition(src.select(Keys.map(col): _*), Keys))
        for (part <- work) {
          t.span("copy.write")(CopyService.copyPartition(src, Keys, part, Keys.map(col), staging))
          val n = t.span("copy.verify")(CopyService.countPartitionDir(run.spark, staging, Keys, part))
          require(n == srcCounts(part), s"count mismatch in ${part.render}")
          t.span("resume.checkpoint")(ck.markPartition(Db, Table.table, part))
          ckBytes += checkpointBytes(d)
        }
        val total = t.span("copy.verify")(
          run.spark.read.option("basePath", staging).parquet(staging).count())
        require(total == srcCounts.values.sum, "full-table count mismatch")
        t.span("copy.publish")(CopyService.publish(run.spark, staging, d.dest))
        t.span("resume.checkpoint")(ck.markStatus(Db, Table.table, TableStatus.Completed))
        ckBytes += checkpointBytes(d)
      } finally t.span("orchestrate.lock")(lock.release())
    }
    ckBytes
  }

  /** `Migrator.resyncTable`'s public calls, in its order, without orphan
    * drops. Returns the rendered partitions it re-copied.
    */
  private def replayResync(run: Run, t: Tracer, d: Dirs): Seq[String] = {
    val ck = new Checkpoint(d.ckpt)
    t.span("orchestrate") {
      val lock = new TableLock(d.locks, Db, Table.table)
      require(t.span("orchestrate.lock")(lock.acquire()), "lock not acquired")
      try {
        val raw = source(run, Drifted)
        val src = withKeys(raw)
        val dataCols = raw.columns.toSeq
        val dataFields = raw.schema.fields.toSeq
        val srcState = t.span("validate.src_checksum")(
          Validate.checksumByPartition(src, Keys, dataCols))
        def nullable(s: StructType) = StructType(
          s.fields.filterNot(f => Keys.contains(f.name)).map(_.copy(nullable = true)))
        val drift = CatalogOps.schemaDiff(nullable(raw.schema),
          nullable(run.spark.read.option("basePath", d.dest).parquet(d.dest).schema))
        require(drift.forall(_._2 == "added"), s"schema drift: $drift")
        val destSchema = StructType(dataFields ++ Keys.map(StructField(_, StringType)))
        val dstState = t.span("validate.dst_checksum")(Validate.checksumByPartition(
          run.spark.read.option("basePath", d.dest).schema(destSchema).parquet(d.dest)
            .select((Keys ++ dataCols).map(col): _*), Keys, dataCols))
        val drifted = srcState.keys.toSeq
          .filter(p => !dstState.get(p).contains(srcState(p))).sortBy(_.render)
        t.span("resume.checkpoint")(ck.initTable(Db, Table.table))
        for (part <- drifted) {
          t.span("copy.write")(CopyService.copyPartition(src, Keys, part, Keys.map(col), d.dest))
          val state = t.span("validate.recheck")(Validate.checksumAll(
            run.spark.read.schema(StructType(dataFields))
              .parquet(s"${d.dest}/${CopyService.partitionDir(Keys, part)}"), dataCols))
          require(state == srcState(part), s"re-copied ${part.render} does not match")
          t.span("resume.checkpoint")(ck.markPartition(Db, Table.table, part))
        }
        t.span("resume.checkpoint")(ck.markStatus(Db, Table.table, TableStatus.Completed))
        drifted.map(_.render)
      } finally t.span("orchestrate.lock")(lock.release())
    }
  }
}
