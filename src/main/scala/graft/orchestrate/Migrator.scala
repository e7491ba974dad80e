package graft.orchestrate

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.copy.CopyService
import graft.model._
import graft.operators.Partitions
import graft.resume.Checkpoint

/** The migration state machine — the reference's core
  * (reference: clickhouse_migrator/services/migration.py:372-541, live
  * definition) re-expressed for path-based parquet tables on a Spark
  * cluster.
  *
  * Lifecycle per table (mirrors SURVEY.md §3.1):
  *   lock → skip-check → enumerate + count partitions → resume-diff →
  *   per-wave [copy → read back → validate each partition →
  *   checkpoint → throttle] →
  *   full validation gate → publish (write-audit-publish) →
  *   optional source drop → report.
  *
  * Deliberate divergences from the reference (SURVEY.md §7.5):
  *  - per-partition copy is OVERWRITE → crash-retry is idempotent
  *    (the reference's re-INSERT duplicates rows, §3.4);
  *  - the swap is write-audit-publish via a staging dir instead of the
  *    non-atomic DROP+RENAME (migration.py:522-523);
  *  - source data is deleted only after the full-table gate passes
  *    (the reference drops each source partition mid-flight,
  *    migration.py:498-503 — recoverable only via the backup table);
  *  - the lock is released in a finally (the reference leaks it, A39).
  *
  * Scale design: the driver never holds row data — one
  * `groupBy(keys).count()` pass enumerates and counts every partition,
  * and validation aggregates per partition instead of the reference's
  * 2N+3 scalar counts. Partitions are copied and verified in WAVES
  * ([[Migrator.planWaves]]): consecutive work-list partitions packed up
  * to one task-round of scan input, each wave one write job plus one
  * read-back job, so the job count follows data volume rather than
  * partition count. The budget bounds one job at about one round of
  * tasks over the cluster and bounds what a crash loses to one wave;
  * a partition is checkpointed only after its whole wave passes.
  */
final class Migrator(
    spark: SparkSession,
    checkpoint: Checkpoint,
    lockDir: String = "locks",
    insertIntervalSec: Double = 0.0,
    lockTimeoutSec: Double = 3600.0,
    checksumValidation: Boolean = false) {

  /** Migrate one source table.
    *
    * @param table    logical identity for checkpoint/report/lock keys
    * @param src      source data
    * @param keys     partition key column names (derived columns allowed)
    * @param keyExprs expressions producing each key from `src` columns —
    *                 the analog of a ClickHouse PARTITION BY expression
    * @param destRoot final destination root (published only after audit)
    * @param dropSource delete the source path after successful publish
    */
  def migrateTable(
      table: TableRef,
      src: DataFrame,
      keys: Seq[String],
      keyExprs: Seq[Column],
      destRoot: String,
      srcPathToDrop: Option[String] = None,
      dropSource: Boolean = false): TableResult = {
    val lock = new TableLock(lockDir, table.db, table.table, lockTimeoutSec)
    // Lock-timeout is NOT a migration failure: another process owns this
    // table, and its checkpoint entries are live. Writing Failed here
    // would race the owner's markPartition/markStatus (the checkpoint
    // file is only lock-holder-serialized), so report Locked and leave
    // the checkpoint alone.
    if (!lock.acquire())
      return TableResult(table, TableStatus.Locked, 0, 0, 0L, Nil,
        Some(s"timeout acquiring lock for ${table.qualified}"))
    try {
      doMigrate(table, src, keys, keyExprs, destRoot, srcPathToDrop, dropSource)
    } catch {
      case e: Exception =>
        // Thrown while HOLDING the lock → safe to stamp Failed.
        checkpoint.markStatus(table.db, table.table, TableStatus.Failed)
        TableResult(table, TableStatus.Failed, 0, 0, 0L, Nil, Some(e.getMessage))
    } finally lock.release()
  }

  /** `src` with each partition key materialized as a string column. */
  private def withKeyColumns(src: DataFrame, keys: Seq[String],
      keyExprs: Seq[Column]): DataFrame =
    keys.zip(keyExprs).foldLeft(src) {
      case (df, (k, e)) => df.withColumn(k, e.cast("string"))
    }

  /** Copy `work` from `withKeys` into `root` wave by wave
    * ([[Migrator.planWaves]]): per wave one write job and one read-back
    * job (`readBack` over the wave's directories), then every partition
    * of the wave is gated on its read-back state equalling `srcState`,
    * and the wave is checkpointed only if all of them passed. Stops at
    * the first failing wave, leaving it and every later wave unmarked.
    */
  private def copyInWaves[T](
      table: TableRef,
      src: DataFrame,
      withKeys: DataFrame,
      keys: Seq[String],
      root: String,
      work: Seq[PartitionId],
      srcState: Map[PartitionId, T],
      rows: T => Long,
      absent: T)(
      readBack: DataFrame => Map[PartitionId, T]): Migrator.WaveRun[T] = {
    var run = Migrator.WaveRun[T](Vector.empty, 0L, 0, None)
    val waves = Migrator.planWaves(spark, src,
      work.map(p => p -> rows(srcState(p))), srcState.values.map(rows).sum)
    for (wave <- waves if run.failure.isEmpty) {
      val t0 = System.nanoTime()
      CopyService.copyWave(withKeys, keys, wave, root)
      val dst = CopyService.readBack(spark, root, src.schema, keys, wave)(readBack)
      // A wave's time is shared evenly by its partitions.
      val cost = (System.nanoTime() - t0) / 1e9 / wave.size
      val states = wave.map(p => (p, srcState(p), dst.getOrElse(p, absent)))
      val checks = states.map { case (p, s, d) =>
        PartitionCheck(p.render, rows(s), rows(d), s == d, cost)
      }
      run = run.copy(checks = run.checks ++ checks,
        failure = states.find { case (_, s, d) => s != d })
      if (run.failure.isEmpty) {
        checkpoint.markPartitions(table.db, table.table, wave)
        run = run.copy(rows = run.rows + checks.map(_.srcCount).sum,
          marked = run.marked + wave.size)
        // The reference throttles once per partition insert
        // (migration.py:505-507); scaling the sleep by the wave size
        // keeps the configured per-partition insert rate.
        if (insertIntervalSec > 0)
          Thread.sleep((insertIntervalSec * 1000 * wave.size).toLong)
      }
    }
    run
  }

  private def doMigrate(
      table: TableRef,
      src: DataFrame,
      keys: Seq[String],
      keyExprs: Seq[Column],
      destRoot: String,
      srcPathToDrop: Option[String],
      dropSource: Boolean): TableResult = {
    // Skip-if-already-migrated (A19 analog): table checkpointed complete.
    if (checkpoint.tableProgress(table.db, table.table)
        .exists(_.status == TableStatus.Completed)) {
      return TableResult(table, TableStatus.Skipped, 0, 0, 0L, Nil)
    }

    val staging = destRoot + ".staging"
    // Materialize derived partition keys once; Catalyst prunes to the
    // needed source columns for enumeration/counting.
    val withKeys = withKeyColumns(src, keys, keyExprs)

    // ONE pass enumerates and counts (replaces 2N scalar queries).
    val partCounts = Partitions.countsInOrder(withKeys, keys)
    val allParts = partCounts.map(_._1)
    val srcCounts = partCounts.toMap
    checkpoint.initTable(table.db, table.table)

    // No-partition fast path (reference: migration.py:432-441).
    if (allParts.isEmpty) {
      CopyService.writePartitioned(withKeys.limit(0), keys, staging)
      CopyService.publish(spark, staging, destRoot)
      checkpoint.markStatus(table.db, table.table, TableStatus.Completed)
      return TableResult(table, TableStatus.Completed, 0, 0, 0L, Nil)
    }

    // Everything already checkpointed → no waves; fall through to the
    // final gate + publish.
    val work = checkpoint.uncompleted(table.db, table.table, allParts)
    val run = copyInWaves(table, src, withKeys, keys, staging, work,
      srcCounts, identity[Long], 0L)(Partitions.countsByPartition(_, keys))
    val (checks, migratedRows) = (run.checks, run.rows)
    run.failure.foreach { case (part, srcCount, dstCount) =>
      // Validation gate (A35): abort, do NOT checkpoint, source intact.
      checkpoint.markStatus(table.db, table.table, TableStatus.Failed)
      return TableResult(table, TableStatus.Failed, allParts.size,
        run.marked, migratedRows, checks,
        Some(s"count mismatch for partition ${part.render}: " +
          s"src=$srcCount dst=$dstCount"))
    }

    // Full-table validation gate (migration.py:510-518) — one scan per side.
    val totalSrc = srcCounts.values.sum
    val totalDst = spark.read
      .option("basePath", staging).parquet(staging).count()
    if (totalDst != totalSrc) {
      checkpoint.markStatus(table.db, table.table, TableStatus.Failed)
      return TableResult(table, TableStatus.Failed, allParts.size,
        checks.count(_.passed), migratedRows, checks,
        Some(s"full-table count mismatch: src=$totalSrc dst=$totalDst"))
    }

    // Optional content-checksum gate (upgrade of the count-only A35 —
    // SURVEY.md §7.4): per-partition bit_xor(xxhash64(row)) on both
    // sides; catches value corruption that equal counts miss. One extra
    // column-pruned scan per side.
    if (checksumValidation) {
      val dataCols = src.columns.toSeq.filterNot(keys.contains)
      val srcSums = graft.operators.Validate.checksumByPartition(
        withKeys, keys, dataCols)
      val dstSums = graft.operators.Validate.checksumByPartition(
        CopyService.readHive(spark, staging, src.schema, keys)
          .select((keys ++ dataCols).map(col): _*),
        keys, dataCols)
      if (!graft.operators.Validate.checksumsMatch(srcSums, dstSums)) {
        checkpoint.markStatus(table.db, table.table, TableStatus.Failed)
        val bad = (srcSums.keySet ++ dstSums.keySet)
          .filter(p => srcSums.get(p) != dstSums.get(p)).map(_.render)
        return TableResult(table, TableStatus.Failed, allParts.size,
          checks.count(_.passed), migratedRows, checks,
          Some(s"checksum mismatch for partitions: ${bad.mkString(", ")}"))
      }
    }

    // Audit passed → publish (the safe swap), without the leftovers of
    // any write job killed mid-wave in an earlier run.
    CopyService.dropAbortedWrites(spark, staging)
    CopyService.publish(spark, staging, destRoot)

    if (dropSource) srcPathToDrop.foreach { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(hp, true)
    }

    checkpoint.markStatus(table.db, table.table, TableStatus.Completed)
    TableResult(table, TableStatus.Completed, allParts.size,
      allParts.size, migratedRows, checks)
  }

  /** Incremental re-sync of an already-published destination: detect the
    * partitions that DRIFTED since the last run (count + xxhash64
    * bit_xor checksum per partition, ONE column-pruned scan per side —
    * the orchestration twin of the oracle-checked `m_delta_detect`
    * query) and re-copy only those, partition-overwrite-idempotent,
    * directly into the published hive layout. Orphaned partitions
    * (present only at the destination) are dropped when `dropOrphans`,
    * else left untouched — destination-only data is never destroyed
    * implicitly.
    *
    * This is the answer to "the checkpoint says Completed but the
    * source moved on": where [[migrateTable]] would skip (A19),
    * resync re-copies exactly the drift. Copy work — and cluster time —
    * is proportional to changed data, not table size; the detection
    * cost is two aggregate scans producing O(partitions) driver rows.
    * An empty destination degrades to a full copy (every partition
    * classifies as missing).
    */
  def resyncTable(
      table: TableRef,
      src: DataFrame,
      keys: Seq[String],
      keyExprs: Seq[Column],
      destRoot: String,
      dropOrphans: Boolean = false): TableResult = {
    val lock = new TableLock(lockDir, table.db, table.table, lockTimeoutSec)
    if (!lock.acquire())
      return TableResult(table, TableStatus.Locked, 0, 0, 0L, Nil,
        Some(s"timeout acquiring lock for ${table.qualified}"))
    try {
      val withKeys = withKeyColumns(src, keys, keyExprs)
      val dataCols = src.columns.toSeq.filterNot(keys.contains)
      val srcState = graft.operators.Validate.checksumByPartition(
        withKeys, keys, dataCols)
      val destPath = new org.apache.hadoop.fs.Path(destRoot)
      val destFs = destPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // Schema gate BEFORE any data compare: a drifted data-column set
      // or type makes per-partition checksums meaningless (and a
      // partial re-copy would leave a mixed-schema destination), so
      // structural drift fails fast with the diff instead of surfacing
      // as a confusing read/checksum error. Partition key columns are
      // excluded — they are strings in the hive layout by design.
      //
      // EXCEPT benign evolution: a column ADDED at the source
      // auto-migrates. The destination is read with the SOURCE schema,
      // so untouched partitions surface the new column as NULL (parquet
      // schema projection backfills missing columns — file-source reads
      // force nullability regardless of the declared field), the
      // checksum compare then re-copies exactly the partitions whose
      // content differs (non-null values in the new column, or any
      // other drift), and partitions where the new column is all-NULL
      // keep their old files — readable as nulls forever. A
      // non-nullable addition needs no special case: its values are
      // non-null in every row, so every partition drifts and re-copies
      // through the same path. Removed or type-changed columns stay
      // fatal — their checksums would compare different value spaces.
      if (destFs.exists(destPath)) {
        // Nullability is normalized away: parquet round-trips don't
        // preserve it faithfully (readers mark columns nullable), so
        // only name/type drift is a real incompatibility here.
        def dataSchema(fields: Seq[org.apache.spark.sql.types.StructField]) =
          org.apache.spark.sql.types.StructType(
            fields.filterNot(f => keys.contains(f.name))
              .map(_.copy(nullable = true)))
        val drift = graft.sources.CatalogOps.schemaDiff(
          dataSchema(src.schema.fields.toSeq),
          dataSchema(spark.read.option("basePath", destRoot)
            .parquet(destRoot).schema.fields.toSeq))
        val breaking = drift.filterNot(_._2 == "added")
        if (breaking.nonEmpty) {
          checkpoint.markStatus(table.db, table.table, TableStatus.Failed)
          return TableResult(table, TableStatus.Failed, 0, 0, 0L, Nil,
            Some("schema drift vs destination (full re-migration " +
              "required): " + breaking.map { case (c, kind, s, d) =>
                s"$c $kind" +
                  (if (s.nonEmpty || d.nonEmpty) s" (src=$s dst=$d)" else "")
              }.mkString("; ")))
        }
      }
      // Data columns are read with the SOURCE fields — this is also what
      // backfills a benignly-added column as NULL on the dest side.
      def destSums(df: DataFrame) = graft.operators.Validate.checksumByPartition(
        df.select((keys ++ dataCols).map(col): _*), keys, dataCols)
      val dstState: Map[PartitionId, (Long, Long)] =
        if (!destFs.exists(destPath)) Map.empty
        else destSums(CopyService.readHive(spark, destRoot, src.schema, keys))
      val drifted = srcState.keys.toSeq
        .filter(p => !dstState.get(p).contains(srcState(p)))
        .sortBy(_.render)
      val orphans = (dstState.keySet -- srcState.keySet).toSeq.sortBy(_.render)
      checkpoint.initTable(table.db, table.table)
      // Validate each re-copied partition by CONTENT, not just count: a
      // "changed" partition with equal counts whose overwrite silently
      // failed would pass a count-only gate while still serving stale rows.
      val run = copyInWaves(table, src, withKeys, keys, destRoot, drifted,
        srcState, (_: (Long, Long))._1, (0L, 0L))(destSums)
      run.failure.foreach { case (part, srcSum, dstSum) =>
        checkpoint.markStatus(table.db, table.table, TableStatus.Failed)
        return TableResult(table, TableStatus.Failed, drifted.size,
          run.marked, run.rows, run.checks,
          Some(s"count/checksum mismatch for partition ${part.render}: " +
            s"src=$srcSum dst=$dstSum"))
      }
      CopyService.dropAbortedWrites(spark, destRoot)
      if (dropOrphans) orphans.foreach(p =>
        CopyService.dropPartitionDir(spark, destRoot, keys, p))
      checkpoint.markStatus(table.db, table.table, TableStatus.Completed)
      TableResult(table, TableStatus.Completed, drifted.size,
        run.marked, run.rows, run.checks)
    } catch {
      case e: Exception =>
        checkpoint.markStatus(table.db, table.table, TableStatus.Failed)
        TableResult(table, TableStatus.Failed, 0, 0, 0L, Nil, Some(e.getMessage))
    } finally lock.release()
  }

  /** Migrate a CATALOG table by name, resolving a VIEW indirection
    * first — the reference's Distributed→local dispatch (A8,
    * migration.py:277-306: a Distributed table is an indirection layer;
    * the migration targets the local table it fronts) re-expressed in
    * catalog terms: a name bound to a VIEW resolves through
    * CatalogOps.resolveToBaseTable to the single base table its plan
    * reads, the indirection is logged, and the migration runs under the
    * RESOLVED table's identity so checkpoint/lock/report keys land on
    * the physical table (two views over one base share one migration).
    */
  def migrateCatalogTable(
      name: TableRef,
      keys: Seq[String],
      keyExprs: Seq[Column],
      destRoot: String): TableResult = {
    val base = graft.sources.CatalogOps.resolveToBaseTable(spark, name)
    if (base != name)
      System.err.println(s"[graft] ${name.qualified} is a view over " +
        s"${base.qualified}; migrating the base table")
    migrateTable(base, spark.table(base.qualified), keys, keyExprs, destRoot)
  }

  /** Full-database mode (reference: migration.py:544-563): sequential
    * per-table migration, log-and-continue on failure.
    */
  def migrateAll(
      tables: Seq[(TableRef, DataFrame, Seq[String], Seq[Column], String)],
      mode: String = "full",
      db: String = ""): MigrationReport = {
    val results = tables.map { case (ref, src, keys, exprs, dest) =>
      try migrateTable(ref, src, keys, exprs, dest)
      catch {
        case e: Exception =>
          TableResult(ref, TableStatus.Failed, 0, 0, 0L, Nil, Some(e.getMessage))
      }
    }
    MigrationReport(mode, db, results)
  }
}

object Migrator {

  /** What a wave loop did: its checks, the rows and partitions it
    * checkpointed, and the first partition that failed its gate with its
    * source and read-back state.
    */
  private final case class WaveRun[T](
      checks: Vector[PartitionCheck],
      rows: Long,
      marked: Int,
      failure: Option[(PartitionId, T, T)])

  /** The waves `src`'s work-list partitions are copied and verified in,
    * under the session's settings: [[packWaves]] with one task-round of
    * scan input (`spark.sql.files.maxPartitionBytes` ×
    * `defaultParallelism`) as the budget. A partition's input estimate
    * is its row count × the source's optimized-plan `sizeInBytes` /
    * `totalRows`. A source whose size Spark does not know
    * (`sizeInBytes >= spark.sql.defaultSizeInBytes`, e.g. a JDBC
    * relation) gets a wave per partition.
    */
  def planWaves(
      spark: SparkSession,
      src: DataFrame,
      parts: Seq[(PartitionId, Long)],
      totalRows: Long): Seq[Seq[PartitionId]] = {
    val conf = spark.sessionState.conf
    val size = src.queryExecution.optimizedPlan.stats.sizeInBytes
    val bytesPerRow =
      if (size >= conf.defaultSizeInBytes || totalRows <= 0) None
      else Some(size.toDouble / totalRows)
    packWaves(parts, bytesPerRow,
      conf.filesMaxPartitionBytes.toDouble * spark.sparkContext.defaultParallelism)
  }

  /** Pack consecutive partitions greedily into waves whose estimated
    * input (rows × `bytesPerRow`) stays within `budget`, keeping the
    * work-list order. A partition over the budget is a wave of its own;
    * with no size estimate every partition is.
    */
  def packWaves(
      parts: Seq[(PartitionId, Long)],
      bytesPerRow: Option[Double],
      budget: Double): Seq[Seq[PartitionId]] = bytesPerRow match {
    case None => parts.map(p => Seq(p._1))
    case Some(b) =>
      val waves = Vector.newBuilder[Seq[PartitionId]]
      var wave = Vector.empty[PartitionId]
      var bytes = 0.0
      for ((part, rows) <- parts) {
        if (wave.nonEmpty && bytes + rows * b > budget) {
          waves += wave
          wave = Vector.empty
          bytes = 0.0
        }
        wave :+= part
        bytes += rows * b
      }
      if (wave.nonEmpty) waves += wave
      waves.result()
  }
}
