package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Epoch layout for directory-backed standing indexes (the IVF/IVFPQ
  * cell and code stores): data lives in immutable-path epoch
  * subdirectories `<base>/e<N>` and readers always open the HIGHEST
  * COMMITTED epoch (the parquet `_SUCCESS` marker is the commit
  * record). Rebuilds and compactions write a NEW epoch beside the live
  * one and never move or delete a file a concurrent reader could have
  * planned against — the fix for the rename-swap publish, whose
  * live-dir rename invalidated every file path an in-flight search had
  * already listed (rename-based swaps can strand a reader between
  * plan and task execution; epoch dirs cannot).
  *
  * Visibility contract: a search that opened epoch N keeps reading
  * epoch N's files even while epoch N+1 publishes — it returns the
  * pre-compaction result; the next open resolves N+1. [[publish]]
  * retains `retain` superseded epochs as grace (default ONE — deletes
  * only ≤ N−retain−1), so a reader is stranded only if it lags
  * retain+1 publishes — at 100 TB run an OPTIMIZE cadence longer than
  * your slowest query, or size `retain` to the slowest query instead
  * (retain ≥ ceil(slowest-query / OPTIMIZE-cadence)). Crash safety is
  * free: an epoch missing `_SUCCESS` (died mid-write) is invisible to
  * the resolver and overwritten by the next publish; there is no
  * pointer file to tear because the commit marker lives inside the
  * epoch itself.
  *
  * A base holding parquet files and `_SUCCESS` directly (the flat
  * layout no epoch-aware build writes) is rejected: [[live]] and
  * [[publish]] fail on it and leave its files untouched — rebuild the
  * index.
  *
  * Appends do NOT create epochs: batch growth lands new files inside
  * the live epoch (an append is already reader-safe — a concurrent
  * plan sees pre- or post-append listing, both valid corpus states).
  * WRITER-vs-writer races (append/append, append/compact,
  * publish/publish) are excluded by the [[IndexLock]] single-writer
  * mutex every writer entry point takes, keyed on this base dir —
  * readers never take it.
  */
object EpochDir {

  private val EpochName = "^e(\\d+)$".r

  private def fs(spark: SparkSession, base: String) =
    new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** (epoch, path) of every COMMITTED epoch under `base`, ascending. */
  private def committed(spark: SparkSession,
      base: String): Seq[(Long, Path)] = {
    val f = fs(spark, base)
    val basePath = new Path(base)
    if (!f.exists(basePath)) Nil
    else f.listStatus(basePath).toSeq.collect {
      case st if st.isDirectory =>
        st.getPath.getName match {
          case EpochName(n)
            if f.exists(new Path(st.getPath, "_SUCCESS")) =>
            Some((n.toLong, st.getPath))
          case _ => None
        }
    }.flatten.sortBy(_._1)
  }

  /** Fails when `base` holds a flat index — a `_SUCCESS` marker
    * directly under it; callers check only when no epoch is committed.
    */
  private def rejectFlat(spark: SparkSession, base: String): Unit =
    if (fs(spark, base).exists(new Path(base, "_SUCCESS")))
      throw new IllegalStateException(
        s"EpochDir: pre-epoch flat layout under $base (data files and " +
          "_SUCCESS directly under it, no e<N> epoch) — rebuild the index")

  /** The live (highest committed) epoch path — what every reader and
    * every in-place append opens.
    */
  def live(spark: SparkSession, base: String): String = {
    val cs = committed(spark, base)
    if (cs.isEmpty) {
      rejectFlat(spark, base)
      throw new IllegalArgumentException(
        s"EpochDir: no committed epoch under $base " +
          "(index missing or its initial write never finished)")
    }
    cs.last._2.toString
  }

  /** Committed epoch numbers under `base`, ascending — the snapshots a
    * reader can still pin to (the live one plus up to `retain` grace
    * epochs).
    */
  def epochs(spark: SparkSession, base: String): Seq[Long] =
    committed(spark, base).map(_._1)

  /** Path of a SPECIFIC committed epoch — the snapshot-pinned read a
    * REPRODUCIBLE run uses: record `epochs(...).last` when the run
    * starts, pass it to every index read, and the run replays against
    * the exact corpus snapshot no matter how many publishes land
    * meanwhile (as long as it finishes inside the retain window).
    * Caveat: an epoch is frozen only once SUPERSEDED — appends land
    * inside the LIVE epoch, so a pin taken on the live epoch sees
    * batch growth until the next publish (the same pre-/post-append
    * ambiguity any reader has). For bit-exact replay, publish
    * (OPTIMIZE) at snapshot boundaries: every retired epoch is then
    * immutable — [[pinSnapshot]] packages exactly that and returns the
    * frozen epoch number. Fails loud when the epoch was purged or
    * never committed, naming the window fix.
    */
  def at(spark: SparkSession, base: String, epoch: Long): String = {
    val cs = committed(spark, base)
    cs.find(_._1 == epoch).map(_._2.toString).getOrElse(
      throw new IllegalArgumentException(
        s"EpochDir: epoch $epoch not committed under $base " +
          s"(committed: ${cs.map(_._1).mkString(", ")}) — purged past " +
          "the retain window or never written; size `retain` to the " +
          "slowest pinned run"))
  }

  /** BIT-EXACT snapshot pin: runs `publishRun` (any OPTIMIZE that ends
    * in a [[publish]] of this base — e.g.
    * [[graft.operators.Similarity.compactIvfPqIndex]]) under the
    * writer lock and returns the epoch number that was LIVE at entry —
    * now SUPERSEDED, hence immutable. This closes the [[at]] caveat:
    * appends mutate the live epoch, so a pin taken on it sees batch
    * growth; a pin taken through here is frozen, because any
    * concurrent append either completed before the lock (included in
    * the pinned epoch AND the new one) or serializes after the publish
    * (lands only in the new live epoch). Cost is one compaction —
    * which the OPTIMIZE cadence owes anyway; run pins at snapshot
    * boundaries (training-run starts) and the retired epoch doubles
    * as the run's reproducible corpus for `retain` further publishes
    * (size `retain` to the longest pinned run).
    */
  def pinSnapshot(spark: SparkSession, base: String)
      (publishRun: => Unit): Long = IndexLock.withWriterLock(spark, base) {
    val pin = committed(spark, base).lastOption.map(_._1).getOrElse(
      throw new IllegalArgumentException(
        s"pinSnapshot: no committed epoch under $base — nothing to pin"))
    publishRun
    val now = committed(spark, base).lastOption.map(_._1)
    require(now.exists(_ > pin),
      s"pinSnapshot: publishRun did not publish a new epoch under " +
        s"$base (live ${now.orNull} after, pin $pin) — pass an OPTIMIZE " +
        "that calls EpochDir.publish on this base")
    pin
  }

  /** Write a new epoch via `write(targetPath)` (the write must finish
    * with a `_SUCCESS` marker — every Spark parquet save does; the
    * publish VERIFIES the marker landed before purging anything, so a
    * cluster running with
    * `mapreduce.fileoutputcommitter.marksuccessfuljobs=false` fails
    * loud instead of silently publishing invisible epochs), then purge
    * epochs older than the `retain` just-superseded ones. Used by both
    * the initial build (epoch 0) and every rebuild/compaction.
    */
  def publish(spark: SparkSession, base: String, retain: Int = 1)
      (write: String => Unit): Unit = IndexLock.withWriterLock(spark, base) {
    require(retain >= 1, s"EpochDir.publish: retain must be >= 1 ($retain)")
    val before = committed(spark, base)
    if (before.isEmpty) rejectFlat(spark, base)
    val next = before.lastOption.map(_._1 + 1).getOrElse(0L)
    write(s"$base/e$next")
    // commit check BEFORE the purge: if the writer is configured to
    // skip _SUCCESS markers, the new epoch is invisible to every
    // reader — deleting the old ones now would destroy the live index.
    if (!committed(spark, base).exists(_._1 == next))
      throw new IllegalStateException(
        s"EpochDir.publish: epoch $base/e$next wrote but never " +
          "committed — no _SUCCESS marker found. Is " +
          "mapreduce.fileoutputcommitter.marksuccessfuljobs=false set? " +
          "Epoch publishes require the marker as the commit record; " +
          "nothing was purged.")
    // grace: keep the `retain` superseded epochs for in-flight
    // readers; drop everything older (plus uncommitted debris below)
    val f = fs(spark, base)
    f.listStatus(new Path(base)).foreach { st =>
      st.getPath.getName match {
        case EpochName(n) if n.toLong < next - retain =>
          f.delete(st.getPath, true)
        case _ => ()
      }
    }
  }
}
