package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

import graft.model.TableRef
import graft.sources.{CatalogOps, EpochDir}

/** Physical health of one standing index's LIVE epoch: the numbers the
  * OPTIMIZE decision reads. `unitCount` is buckets (catalog family) or
  * cell directories (dir family); `filesPerUnit` is the small-files
  * metric every probe's open/seek cost rides on.
  */
final case class IndexStats(
    liveEpoch: Long,
    epochs: Seq[Long],
    dataFiles: Long,
    dataBytes: Long,
    unitCount: Long,
    filesPerUnit: Double)

/** Index introspection + the automated OPTIMIZE trigger.
  *
  * Every append lands one file per bucket (band/shingle index) or one
  * file per touched cell (IVF/IVFPQ stores), so files-per-unit counts
  * ingest history — the small-files spiral the compactions exist to
  * cut. The `*IfNeeded` entry points make the cadence a POLICY instead
  * of an operator the pipeline must remember to schedule: call after
  * each append (or on a timer), pass the files-per-unit cap, and
  * compaction runs exactly when the accretion crosses it. At 100 TB
  * the cap translates directly to probe open/seek overhead: a probed
  * search opens O(filesPerUnit) files per probed unit.
  *
  * The describe→compact pair is not atomic, deliberately: the
  * compaction itself holds the single-writer IndexLock, so a racing
  * append between the listing and the rewrite only makes the stats a
  * batch stale — compacting one batch early or late, never corrupting.
  */
object IndexMaintenance {

  /** Recursive (files, bytes) of the data files under `dir`. */
  private def listData(spark: SparkSession, dir: String): (Long, Long) = {
    val p = new Path(dir)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    var files = 0L
    var bytes = 0L
    val it = f.listFiles(p, true)
    while (it.hasNext) {
      val st = it.next()
      val n = st.getPath.getName
      if (n.startsWith("part-") || n.endsWith(".parquet")) {
        files += 1; bytes += st.getLen
      }
    }
    (files, bytes)
  }

  /** Stats of a catalog bucketed index's live epoch (band/shingle). */
  def describeBucketed(spark: SparkSession, ref: TableRef): IndexStats = {
    val live = CatalogOps.liveEpochTable(spark, ref)
    val storage = CatalogOps.storageOf(spark, live)
    val loc = storage.location.getOrElse(throw new IllegalStateException(
      s"${live.qualified} has no storage location"))
    val buckets = storage.buckets.getOrElse(1).toLong
    val (files, bytes) = listData(spark, loc.toString)
    val eps = CatalogOps.epochs(spark, ref)
    IndexStats(CatalogOps.currentEpoch(spark, ref).getOrElse(-1L), eps,
      files, bytes, buckets, files.toDouble / buckets)
  }

  /** Stats of a dir-backed cell store's live epoch (IVF cells / IVFPQ
    * codes — pass the SUBDIR, e.g. `s"$path/cells"`).
    */
  def describeCells(spark: SparkSession, dir: String): IndexStats = {
    val live = EpochDir.live(spark, dir)
    val (files, bytes) = listData(spark, live)
    val p = new Path(live)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cells = f.listStatus(p).count(st =>
      st.isDirectory && st.getPath.getName.startsWith("cell="))
    val units = math.max(cells.toLong, 1L)
    val eps = EpochDir.epochs(spark, dir)
    IndexStats(eps.lastOption.getOrElse(-1L), eps, files, bytes,
      units, files.toDouble / units)
  }

  /** Compact a catalog bucketed index iff its live epoch's
    * files-per-bucket exceed the cap; returns true when a compaction
    * ran (a new epoch published).
    */
  def compactBucketedIfNeeded(spark: SparkSession, ref: TableRef,
      bucketCols: Seq[String], buckets: Int,
      maxFilesPerUnit: Double = 4.0, retain: Int = 1): Boolean = {
    val need = describeBucketed(spark, ref).filesPerUnit > maxFilesPerUnit
    if (need) Dedup.compactBucketedIndex(spark, ref, bucketCols,
      buckets, retain)
    need
  }

  /** Compact a dir-backed cell store iff its live epoch's
    * files-per-cell exceed the cap; returns true when a compaction ran.
    */
  def compactCellsIfNeeded(spark: SparkSession, dir: String,
      maxFilesPerUnit: Double = 4.0,
      maxRecordsPerFile: Long = 4L * 1024 * 1024,
      retain: Int = 1): Boolean = {
    val need = describeCells(spark, dir).filesPerUnit > maxFilesPerUnit
    if (need) Similarity.compactCellIndex(spark, dir,
      maxRecordsPerFile, retain)
    need
  }
}
