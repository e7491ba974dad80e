package graft.sources

/** Session-scoped scratch directories for query-local materialized
  * state (loop-invariant relations, on-disk index builds).
  *
  * Naming contract: `graft_<tag>_<sha256(key)₆₄ᵇ>_<jvm-nonce>` under
  * `java.io.tmpdir`.
  *  - The KEY is digested with a 64-bit slice of SHA-256, not
  *    `String.hashCode` — two distinct dataset dirs colliding on a
  *    32-bit hash would silently share (and clobber) one scratch
  *    location.
  *  - The NONCE is per-JVM: concurrent processes over the same dataset
  *    never interleave one process's overwrite with another's read,
  *    while repeat runs inside one JVM (bench runs every query twice)
  *    land on the same path and overwrite in place instead of
  *    accreting tmp dirs.
  *
  * Local-mode note: `java.io.tmpdir` is correct for `local[*]` where
  * driver and executors share a filesystem. On a real cluster the
  * root must be cluster-visible — point [[root]] (the
  * `graft.scratch.dir` system property) at the job's shared scratch
  * (HDFS/S3 staging), exactly where `spark.sql.warehouse.dir` or the
  * checkpoint dir would live.
  */
object Scratch {

  private[sources] val nonce: String =
    java.util.UUID.randomUUID().toString.replace("-", "").take(12)

  private def root: String =
    sys.props.getOrElse("graft.scratch.dir", sys.props("java.io.tmpdir"))

  // Everything issued is nonce-exclusive to this JVM, so it can (and
  // should) die with it: repeated bench/verify processes must not
  // accrete scratch dirs in tmp or index files in the shared warehouse.
  private val issued =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  // Hadoop filesystem, not java.io.File: the scratch root may live on
  // HDFS/S3 staging (see [[root]]'s cluster note), where a File-based
  // delete silently no-ops — Graph's per-round loop hygiene would then
  // accrete a |V|-sized directory per round on exactly the deployments
  // that care about leaked staging. Same lesson vacuum learned; one
  // helper serves purge, the shutdown hook, and vacuum alike.
  private def rmFs(path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(new org.apache.hadoop.conf.Configuration())
    !fs.exists(p) || fs.delete(p, true)
  }

  private lazy val hookInstalled: Boolean = {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      issued.forEach { p =>
        try { rmFs(p); () } catch { case _: Exception => () }
      }))
    true
  }

  /** Recursively delete a nonce-scoped scratch path NOW. Loop hygiene
    * for iterative operators that land per-round files: a long
    * convergence run would otherwise accrete a |V|-sized directory per
    * round until JVM shutdown. Only ever call with paths this JVM
    * issued and can no longer read.
    */
  def purge(path: String): Unit = {
    try { rmFs(path); () } catch { case _: Exception => () }
    issued.remove(path); ()
  }

  /** Register a path for recursive deletion at JVM exit. Only ever
    * call with nonce-scoped paths — nothing another process could be
    * reading.
    */
  def track(path: String): String = {
    require(hookInstalled)
    issued.add(path)
    path
  }

  /** [[track]] the storage location of a nonce-named catalog TABLE. */
  def trackTable(spark: org.apache.spark.sql.SparkSession,
      ref: graft.model.TableRef): Unit =
    CatalogOps.storageOf(spark, ref).foreach(l => track(l.getPath))

  /** Deterministic-within-JVM scratch NAME for (tag, key) — a valid
    * identifier, usable as a catalog table name as well as a path
    * segment (catalog tables land in the shared warehouse dir, so they
    * need the same digest + nonce protection as tmp paths).
    */
  def name(tag: String, key: String): String = {
    val d = java.security.MessageDigest.getInstance("SHA-256")
      .digest(key.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(8).map(b => f"$b%02x").mkString
    s"graft_${tag}_${d}_$nonce"
  }

  /** Deterministic-within-JVM scratch path for (tag, key), deleted
    * recursively at JVM exit. Hadoop `Path` composition, not
    * `java.io.File`: a File of an `hdfs://` root collapses the scheme's
    * double slash, breaking every downstream read on remote roots.
    */
  def dir(tag: String, key: String): String =
    track(new org.apache.hadoop.fs.Path(root, name(tag, key)).toString)

  // --- Age-based vacuum of leaked scratch ----------------------------
  //
  // The shutdown hook cleans this JVM's scratch, but a crashed/killed
  // process leaves its nonce's dirs behind forever — at 100 TB leaked
  // staging is real storage money. [[vacuum]] sweeps a scratch root
  // for entries matching the NAMING CONTRACT above that are older than
  // a retention age. The contract is the safety boundary: only names
  // of the exact `graft_<tag>_<16-hex>_<12-hex>` shape are candidates,
  // so user data, live standing indexes, and warehouse tables (none of
  // which are ever named by [[name]]) can never match. Two further
  // guards: entries carrying THIS JVM's nonce are skipped (they are
  // live for this process and die with it), and an entry that contains
  // a committed epoch directory (`e<N>/_SUCCESS` — the layout older
  // builds published standing indexes in, misplaced under a scratch
  // name) is skipped loudly rather than swept. Dry-run is the default;
  // deletion is opt-in.

  /** The [[name]] contract as a matcher (tag may itself contain
    * underscores, so anchor on the two trailing hex groups).
    */
  private val ScratchName = "^graft_.+_[0-9a-f]{16}_[0-9a-f]{12}$".r

  private val EpochChild = "^e\\d+$".r

  /** One vacuum verdict: `action` ∈ deleted | delete_failed |
    * would_delete | kept_young | skipped_live_nonce |
    * skipped_epoch_index | skipped_stat_failed.
    */
  final case class VacuumEntry(path: String, ageHours: Double, action: String)

  /** Newest mtime over `st` and its descendants down to `depth` levels
    * (2 = entry + children + grandchildren). POSIX/HDFS dir mtime only
    * changes on DIRECT-child create/delete, so a nested writer (the
    * Graph checkpoint scratch dirs land files inside per-round
    * subdirectories) never refreshes the top-level entry — aging by
    * the entry alone could sweep another JVM's scratch mid-job. Two
    * levels cover every shipped layout (`<entry>/<round>/<part files>`);
    * an unreadable child contributes no sample rather than aborting
    * the sweep.
    */
  private def newestMtime(fs: org.apache.hadoop.fs.FileSystem,
      st: org.apache.hadoop.fs.FileStatus, depth: Int): Long = {
    val self = st.getModificationTime
    if (depth <= 0 || !st.isDirectory) self
    else {
      val kids =
        try fs.listStatus(st.getPath)
        catch { case _: Exception =>
          Array.empty[org.apache.hadoop.fs.FileStatus] }
      kids.foldLeft(self)((m, k) => math.max(m, newestMtime(fs, k, depth - 1)))
    }
  }

  private def containsCommittedEpoch(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Boolean =
    fs.isDirectory(p) && fs.listStatus(p).exists(k => k.isDirectory &&
      EpochChild.findFirstIn(k.getPath.getName).isDefined &&
      fs.exists(new org.apache.hadoop.fs.Path(k.getPath, "_SUCCESS")))

  /** Default mtime stat for [[vacuumCatalog]]: warehouse-location
    * mtime through the HADOOP filesystem; `None` = location genuinely
    * absent. Injectable so the spec can force the THROWING branch (an
    * S3 hiccup is not reproducible on a local warehouse).
    */
  private[sources] def statTableMtime(
      spark: org.apache.spark.sql.SparkSession, ref: graft.model.TableRef)
      : Option[Long] =
    CatalogOps.storageOf(spark, ref).flatMap { l =>
      val p = new org.apache.hadoop.fs.Path(l)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) Some(fs.getFileStatus(p).getModificationTime)
      else None
    }

  /** CATALOG twin of [[vacuum]]: sweep a scratch DATABASE (the
    * `graft_scratch` convention) for leaked scratch tables — crashed
    * JVMs leave their nonce's catalog entries (and warehouse dirs)
    * behind, since the shutdown hook only removes tracked paths. A
    * candidate is any table/view whose BASE name (the `__e<N>` epoch
    * suffix stripped, so the epoch tables and view an older build
    * published a scratch index as group with it) matches the naming
    * contract; entries carrying THIS JVM's nonce are skipped. Age is
    * the max warehouse-dir mtime across the group's tables (a view
    * alone has no storage and rides its epoch tables' age). Deletion
    * drops the whole group — view first, then tables — so a scratch
    * index never loses its epochs while its view stays resolvable.
    * Dry-run default, same verdicts as [[vacuum]].
    */
  def vacuumCatalog(spark: org.apache.spark.sql.SparkSession, db: String,
      olderThanHours: Double, apply: Boolean,
      nowMs: Long = System.currentTimeMillis(),
      statMtime: (org.apache.spark.sql.SparkSession, graft.model.TableRef)
        => Option[Long] = statTableMtime): Seq[VacuumEntry] = {
    require(olderThanHours >= 0, "olderThanHours must be >= 0")
    if (!spark.catalog.databaseExists(db)) return Nil
    val EpochSuffix = "__e\\d+$".r
    val all = spark.catalog.listTables(db).collect().toSeq
    val groups = all
      .map(t => (EpochSuffix.replaceFirstIn(t.name, ""), t))
      .filter { case (base, _) =>
        ScratchName.findFirstIn(base).isDefined }
      .groupBy(_._1)
    groups.toSeq.sortBy(_._1).map { case (base, members) =>
      // warehouse mtime through the HADOOP filesystem (a java.io.File
      // of an hdfs:/s3a: location would throw, get swallowed, and
      // misread a live remote table as infinitely old). 'Stat THREW'
      // (S3 hiccup, permission error, catalog lookup failure) is NOT the
      // same as 'location absent': a thrown stat contributes no age
      // sample but must never degrade to "expired" — if every member's
      // stat failed, the group could be another JVM's LIVE scratch
      // behind a transient fault, so skip it loudly this sweep.
      var statFailed = false
      val ages = members.flatMap { case (_, t) =>
        if (t.tableType == "VIEW") None
        else scala.util.Try(statMtime(spark, graft.model.TableRef(db, t.name))) match {
          case scala.util.Success(a) => a
          case scala.util.Failure(_) => statFailed = true; None
        }
      }
      // no statted storage at all: with no stat FAILURES that means
      // pure-view debris / genuinely vanished dirs — nothing a reader
      // could still be using — treat as expired (age 0)
      val newest = if (ages.isEmpty) 0L else ages.max
      val age = (nowMs - newest) / 3600.0e3
      val action =
        if (base.endsWith(s"_$nonce")) "skipped_live_nonce"
        else if (ages.isEmpty && statFailed) "skipped_stat_failed"
        else if (age < olderThanHours) "kept_young"
        else if (!apply) "would_delete"
        else {
          members.sortBy(_._2.tableType != "VIEW").foreach { case (_, t) =>
            if (t.tableType == "VIEW")
              spark.sql(s"DROP VIEW IF EXISTS $db.${t.name}")
            else spark.sql(s"DROP TABLE IF EXISTS $db.${t.name}")
          }
          "deleted"
        }
      VacuumEntry(s"$db.$base", age, action)
    }
  }

  /** Sweep `rootDir` for expired scratch entries. Returns one verdict
    * per matching entry; deletes only when `apply` AND the entry is
    * older than `olderThanHours` AND neither guard fires. Age is the
    * newest mtime over the entry and two levels of descendants (see
    * [[newestMtime]] — dir mtime alone misses nested writers).
    * Non-matching names are not even listed: the naming contract, not
    * a heuristic, decides what is scratch. A delete the filesystem
    * refuses (permission, concurrent mutation) reports
    * `delete_failed`, never a false `deleted`.
    *
    * Retention sizing: age measures the last WRITE, and a long-running
    * READER does not refresh it — size `olderThanHours` above the
    * longest job that could still be reading another process's scratch.
    */
  def vacuum(rootDir: String, olderThanHours: Double, apply: Boolean,
      nowMs: Long = System.currentTimeMillis()): Seq[VacuumEntry] = {
    require(olderThanHours >= 0, "olderThanHours must be >= 0")
    // Hadoop filesystem, not java.io.File: a production scratch root
    // lives on HDFS/S3 staging (see [[root]]'s cluster note), where a
    // File-based sweep would silently list nothing and no-op. A plain
    // Configuration resolves local paths without a SparkSession and
    // picks up core-site on the classpath for remote schemes.
    val rootPath = new org.apache.hadoop.fs.Path(rootDir)
    val fs = rootPath.getFileSystem(
      new org.apache.hadoop.conf.Configuration())
    if (!fs.exists(rootPath)) return Nil
    val entries = fs.listStatus(rootPath).toSeq
      .filter(st => ScratchName.findFirstIn(st.getPath.getName).isDefined)
      .sortBy(_.getPath.getName)
    entries.map { st =>
      val name = st.getPath.getName
      val age = (nowMs - newestMtime(fs, st, 2)) / 3600.0e3
      val action =
        if (name.endsWith(s"_$nonce")) "skipped_live_nonce"
        else if (containsCommittedEpoch(fs, st.getPath)) "skipped_epoch_index"
        else if (age < olderThanHours) "kept_young"
        else if (!apply) "would_delete"
        else if (fs.delete(st.getPath, true)) "deleted"
        else "delete_failed"
      VacuumEntry(st.getPath.toUri.getPath, age, action)
    }
  }
}
