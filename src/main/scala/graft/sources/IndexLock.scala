package graft.sources

import org.apache.spark.sql.SparkSession

import graft.orchestrate.TableLock

/** Single-writer mutex for standing indexes (band/shingle tables, IVF /
  * IVFPQ cell and code stores).
  *
  * The append/compact/publish paths assume ONE writer: two concurrent
  * appenders could interleave epoch numbers, double-publish, or (worst)
  * have a compaction read epoch N while an append lands rows inside it
  * — rows silently missing from the compacted N+1. Every writer entry
  * point therefore takes this lock, keyed on the index identity (the
  * catalog name for epoch-view indexes, the cells/codes directory for
  * path-backed ones). READERS never take it: epoch resolution already
  * gives them immutable files.
  *
  * Machinery is [[graft.orchestrate.TableLock]] — the same flock
  * discipline the reference uses to keep two migrators off one table
  * (reference: clickhouse_migrator/utils/lock.py:27-101): processes
  * serialize on the flock, same-JVM threads serialize through the
  * acquire retry loop, and the lock is REENTRANT per thread (a
  * compaction that holds the index lock may call the locking publish
  * internally). The lock directory must be POSIX-visible to every
  * writer process — same contract as the migration lock; on object
  * stores point `spark.graft.index.lockDir` at a shared coordinator
  * path. Lock files live OUTSIDE the index directories, so an index
  * directory holds only epochs.
  */
object IndexLock {

  /** Override the lock directory (default: `_graft_index_locks` beside
    * the Spark SQL warehouse).
    */
  val LockDirConf = "spark.graft.index.lockDir"

  /** Override the acquire timeout in seconds (default 3600, the
    * reference's).
    */
  val TimeoutConf = "spark.graft.index.lockTimeoutSec"

  private val held = new ThreadLocal[scala.collection.mutable.Set[String]] {
    override def initialValue() = scala.collection.mutable.Set.empty[String]
  }

  private def lockDir(spark: SparkSession): String =
    spark.conf.getOption(LockDirConf).getOrElse {
      val wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
      wh.stripPrefix("file:") + "/_graft_index_locks"
    }

  /** Filesystem-safe lock-file name: slug for the human, full-key hash
    * for uniqueness (two indexes whose keys differ only in stripped
    * characters must not share a lock file).
    */
  private def keyName(key: String): String = {
    val slug = key.map(c => if (c.isLetterOrDigit) c else '_').takeRight(48)
    f"${slug}_${key.hashCode & 0x7fffffff}%08x"
  }

  /** `db.table`-shaped: two or more dot-separated bare SQL
    * identifiers. This — not "contains no separator" — is what routes
    * a key to the catalog branch; a separator-free key that is NOT a
    * qualified identifier pair is a relative dir and must canonicalize
    * as a PATH (a bare `idx` taking the catalog branch would give
    * `idx` and `./idx` two different locks for one physical dir).
    */
  private val CatalogKey =
    "^[A-Za-z_][A-Za-z0-9_]*(\\.[A-Za-z_][A-Za-z0-9_]*)+$".r

  /** Canonical lock identity: LOCK IDENTITY IS PHYSICAL, not the
    * caller's spelling. A catalog key (`db.table` — dot-qualified
    * identifiers, the only shape [[graft.model.TableRef.qualified]]
    * produces) lower-cases, matching Spark's case-insensitive catalog
    * resolution. EVERYTHING else is treated as a directory key and
    * qualifies through the Hadoop filesystem (`makeQualified`: scheme
    * + authority + absolute path), so `idx`, `./idx`, `/abs/idx`, and
    * `file:/abs/idx` all hash to ONE lock file. Without this, two
    * writers addressing the same physical index via different
    * spellings would each hold "the" lock — re-admitting the
    * append-lost-during-compaction corruption the lock exists to
    * exclude. The reentrancy set keys on the canonical form too, so a
    * nested acquire under a different spelling is recognized instead
    * of flock-deadlocking against itself.
    *
    * UPGRADE NOTE: canonicalization changes lock-FILE names versus
    * pre-r19 builds (and r20 changes them again for bare
    * single-segment dir keys). Mixed-version writer processes on one
    * machine do not exclude each other across that boundary — quiesce
    * standing-index writers when rolling versions, exactly as for an
    * OPTIMIZE.
    */
  private[sources] def canonicalKey(spark: SparkSession, key: String): String =
    if (CatalogKey.findFirstIn(key).isDefined)
      key.toLowerCase(java.util.Locale.ROOT)
    else {
      // a colon-bearing key that is NOT a resolvable path (say
      // "myindex:v2" — Hadoop reads an unknown scheme) falls back to
      // the verbatim key: such a string has exactly one spelling, so
      // the physical-identity unification it skips cannot apply to it
      scala.util.Try {
        val p = new org.apache.hadoop.fs.Path(key)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.makeQualified(p).toString
      }.getOrElse(key)
    }

  /** Run `body` as the sole writer of the index identified by `key`
    * (canonicalized — see [[canonicalKey]]: spelling variants of one
    * physical index share one lock). Reentrant within a thread; throws
    * IllegalStateException on acquire timeout (a stuck or runaway peer
    * writer — fail loud, the migration-lock stance).
    */
  def withWriterLock[A](spark: SparkSession, rawKey: String)(body: => A): A = {
    val key = canonicalKey(spark, rawKey)
    val h = held.get()
    if (h.contains(key)) body
    else {
      val timeout = spark.conf.getOption(TimeoutConf)
        .map(_.toDouble).getOrElse(3600.0)
      val lock = new TableLock(lockDir(spark), "index", keyName(key),
        timeoutSec = timeout, retrySec = 0.2)
      h += key
      try lock.withLock(body) finally h -= key
    }
  }
}
