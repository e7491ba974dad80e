package graft.copy

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.model.PartitionId
import graft.operators.Partitions

/** The data-movement layer: partition-targeted copy, partition delete, and
  * a safe table swap.
  *
  * Reference mapping:
  *  - Filtered copy `INSERT INTO backup SELECT * FROM src WHERE <pred>`
  *    (reference: clickhouse_migrator/services/migration.py:471-477) →
  *    [[copyPartition]]: a predicate-pruned scan written to one partition
  *    subdirectory with OVERWRITE semantics, so a crashed-and-retried
  *    partition is idempotent (the reference's re-INSERT duplicates rows —
  *    SURVEY.md §3.4; designed divergence).
  *  - `ALTER TABLE … DROP PARTITION` (migration.py:498-503) →
  *    [[dropPartitionDir]].
  *  - `DROP src; RENAME backup TO src` — two non-atomic statements
  *    (migration.py:520-524) → [[publish]]: write-audit-publish via a
  *    staging directory; the destructive step happens only after the
  *    validation gate, and the data always exists in at least one complete
  *    location (SURVEY.md §7.5 hard part 3).
  *
  * Scale notes: the copy never moves rows through the driver. The
  * migrator copies a WAVE of consecutive partitions per job
  * ([[copyWave]]: one dynamic-partition-overwrite write filtered to the
  * wave's keys) and reads the wave back in one more job ([[readBack]]),
  * so the job count follows data volume, not partition count. A wave
  * holds about one task-round of scan input (see
  * `Migrator.planWaves`), which bounds one job's work and the work a
  * crash can lose; the checkpoint still records partitions, as in the
  * reference. [[copyPartition]] is the one-partition form.
  */
object CopyService {

  /** Partition subdirectory name: `k1=v1/k2=v2` (Hive layout, so the
    * destination is readable as a partitioned table by any engine).
    *
    * Values are escaped exactly as Spark's own `partitionBy` writer does
    * (`ExternalCatalogUtils.escapePathName`), so a value containing `/`,
    * `=`, or a literal `%XX` sequence round-trips through partition
    * discovery unchanged instead of corrupting the directory tree. A null
    * value renders as the Hive default-partition sentinel, matching what
    * `partitionBy` would have produced for it.
    */
  def partitionDir(keys: Seq[String], part: PartitionId): String =
    keys.zip(part.values).map { case (k, v) =>
      val rendered =
        if (v == null) ExternalCatalogUtils.DEFAULT_PARTITION_NAME
        else ExternalCatalogUtils.escapePathName(v)
      s"${ExternalCatalogUtils.escapePathName(k)}=$rendered"
    }.mkString("/")

  /** Copy one partition of `src` into `destRoot/<hive-dirs>/`, overwriting
    * any previous (possibly partial) copy of the same partition. Hive
    * layout: the partition key columns live in the directory name only and
    * are dropped from the data files (no per-row constant columns — they
    * are reconstituted on read via partition inference).
    */
  def copyPartition(
      src: DataFrame,
      keys: Seq[String],
      part: PartitionId,
      partExprs: Seq[Column],
      destRoot: String): Unit = {
    // Null-safe equality: a null partition value must select the rows
    // whose key IS NULL (plain === null is never-true → empty copy).
    val pred = keys.zip(partExprs).zip(part.values)
      .map { case ((_, expr), v) =>
        if (v == null) expr.isNull else expr === v
      }
      .reduce(_ && _)
    src.filter(pred)
      .drop(keys.filter(src.columns.contains): _*)
      .write.mode("overwrite")
      .parquet(s"$destRoot/${partitionDir(keys, part)}")
  }

  /** Copy a wave of partitions of `src` (which carries the string key
    * columns) into `destRoot` in ONE job: a dynamic-partition-overwrite
    * [[writePartitioned]] filtered null-safely to the wave's keys (one
    * set lookup per row, [[Partitions.partitionPredicate]]), so
    * each partition of the wave is replaced whole and every other
    * partition under `destRoot` is left as it is.
    */
  def copyWave(
      src: DataFrame,
      keys: Seq[String],
      wave: Seq[PartitionId],
      destRoot: String): Unit = {
    writePartitioned(src.filter(Partitions.partitionPredicate(keys, wave)),
      keys, destRoot)
  }

  /** Read a hive-layout root — or only the partition directories `dirs`
    * under it — with the data columns of `schema` and the key columns
    * pinned to STRING. Default partition-column type inference would
    * re-parse a value like '01' or '1e3' as a number and re-render it as
    * '1', diverging from the source-side keys.
    */
  def readHive(
      spark: SparkSession,
      root: String,
      schema: StructType,
      keys: Seq[String],
      dirs: Seq[String] = Nil): DataFrame =
    spark.read.option("basePath", root)
      .schema(StructType(schema.fields.filterNot(f => keys.contains(f.name)) ++
        keys.map(StructField(_, StringType))))
      .parquet((if (dirs.isEmpty) Seq(root) else dirs.map(d => s"$root/$d")): _*)

  /** Read back a copied wave in one job: `agg` over the wave's partition
    * directories read by [[readHive]]. A partition whose directory is
    * missing (it wrote no rows) is absent from the result, so the
    * caller's gate sees it as 0 rows.
    */
  def readBack[T](
      spark: SparkSession,
      root: String,
      schema: StructType,
      keys: Seq[String],
      wave: Seq[PartitionId])(
      agg: DataFrame => Map[PartitionId, T]): Map[PartitionId, T] = {
    val fs = new HPath(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = wave.map(partitionDir(keys, _))
      .filter(d => fs.exists(new HPath(s"$root/$d")))
    if (dirs.isEmpty) Map.empty else agg(readHive(spark, root, schema, keys, dirs))
  }

  /** Delete what a killed dynamic-partition-overwrite job leaves under
    * `root`: its `.spark-staging-<jobId>` directory. Readers skip
    * dot-directories, but a published table must not carry them. Call
    * only while holding the table lock, so no live job owns one.
    */
  def dropAbortedWrites(spark: SparkSession, root: String): Unit = {
    val p = new HPath(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p))
      fs.listStatus(p).map(_.getPath)
        .filter(_.getName.startsWith(".spark-staging-"))
        .foreach(fs.delete(_, true))
  }

  /** Count rows in an already-copied partition directory. */
  def countPartitionDir(
      spark: SparkSession,
      destRoot: String,
      keys: Seq[String],
      part: PartitionId): Long = {
    val p = s"$destRoot/${partitionDir(keys, part)}"
    spark.read.parquet(p).count()
  }

  /** Delete one partition directory (the DROP PARTITION analog — only ever
    * invoked after the per-partition validation gate passes).
    */
  def dropPartitionDir(
      spark: SparkSession,
      root: String,
      keys: Seq[String],
      part: PartitionId): Boolean = {
    val p = new HPath(s"$root/${partitionDir(keys, part)}")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
  }

  /** Write-audit-publish: atomically promote a fully-validated staging
    * directory to the final location. On a posix FS rename is atomic; on
    * object stores this maps to a catalog location re-point — the key
    * property either way is that `audit` ran BEFORE anything is exposed
    * or destroyed (unlike the reference's DROP-then-RENAME window,
    * migration.py:522-523). An existing destination is stashed as
    * `<finalRoot>.replaced.<nanos>` for the swap; once the swap has
    * landed, every such stash is deleted — this publish's own and any a
    * killed earlier publish left behind ([[dropReplacedStashes]]).
    */
  def publish(spark: SparkSession, stagingRoot: String, finalRoot: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val staging = new HPath(stagingRoot)
    val dest = new HPath(finalRoot)
    val fs = staging.getFileSystem(conf)
    if (fs.exists(dest)) {
      val trash = new HPath(finalRoot + ".replaced." + System.nanoTime())
      if (!fs.rename(dest, trash))
        throw new IllegalStateException(s"cannot stash existing $finalRoot")
      if (!fs.rename(staging, dest)) {
        fs.rename(trash, dest) // roll back
        throw new IllegalStateException(s"cannot publish $stagingRoot → $finalRoot")
      }
    } else {
      val parent = dest.getParent
      if (parent != null) fs.mkdirs(parent)
      if (!fs.rename(staging, dest))
        throw new IllegalStateException(s"cannot publish $stagingRoot → $finalRoot")
    }
    dropReplacedStashes(spark, finalRoot)
  }

  /** Delete every sibling of `finalRoot` named exactly
    * `<name>.replaced.<digits>` — the superseded copies [[publish]]
    * stashes, which outlive a process killed between its swap and its
    * delete. Only safe once `finalRoot` holds the published data; call
    * it under the table lock.
    */
  def dropReplacedStashes(spark: SparkSession, finalRoot: String): Unit = {
    val dest = new HPath(finalRoot)
    val parent = dest.getParent
    val fs = dest.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (parent != null && fs.exists(parent)) {
      val stash = (java.util.regex.Pattern.quote(dest.getName + ".replaced.") +
        "\\d+").r
      fs.listStatus(parent)
        .filter(st => stash.matches(st.getPath.getName))
        .foreach(st => fs.delete(st.getPath, true))
    }
  }

  /** One-shot partitioned write of a whole table (the no-checkpoint path;
    * also what a fresh load would use). Dynamic partition overwrite keeps
    * retries idempotent per partition.
    */
  def writePartitioned(
      df: DataFrame,
      keys: Seq[String],
      destRoot: String): Unit =
    df.write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(keys: _*)
      .parquet(destRoot)
}
