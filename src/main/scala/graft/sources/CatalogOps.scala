package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.types.StructType

import graft.model.{PartitionId, TableRef}

/** Catalog-table operations — the reference's DDL/introspection surface
  * re-expressed on `spark.catalog` / Spark SQL:
  *
  *  - existence check (reference: clickhouse_migrator/services/
  *    migration.py:424-426 queries system.tables) → [[tableExists]]
  *  - table enumeration excluding views (migration.py:548-550 `NOT IN
  *    ('View','MaterializedView')`) → [[listDataTables]]
  *  - DDL introspection `SHOW CREATE` (migration.py:21-46; the
  *    reference treats the DDL as an opaque string and regex-rewrites it,
  *    A27/A28) → [[schemaOf]] + [[createBackupTable]]: schema cloning is
  *    STRUCTURAL here — the storage-policy regex splice collapses to a
  *    location/format option
  *  - CREATE/DROP/RENAME (migration.py:420-421, 520-524) →
  *    [[createBackupTable]] / [[dropTable]] / [[renameTable]]
  *  - ALTER … DROP PARTITION (migration.py:498-503) → [[dropPartition]]
  */
object CatalogOps {

  def tableExists(spark: SparkSession, ref: TableRef): Boolean =
    spark.catalog.tableExists(s"${ref.db}.${ref.table}")

  // --- Epoch views: the catalog twin of [[EpochDir]] ------------------
  //
  // A standing bucketed index (band index, shingle index) is published
  // as a VIEW named `ref` over an immutable epoch TABLE `ref__e<N>`.
  // Readers keep using `spark.table(ref)` — view resolution happens at
  // analysis time, so every query plans against an epoch table whose
  // files never move; compaction writes `__e<N+1>` and atomically
  // re-points the view (CREATE OR REPLACE VIEW is one catalog op),
  // which can never strand an in-flight reader the way the previous
  // rename-aside table swap could (a swap moves the files a planned
  // query is about to open). One superseded epoch is retained as grace
  // for readers that resolved just before the flip; a crash mid-write
  // leaves an unreferenced epoch table the next publish drops and
  // rewrites.

  // The base index name must never carry the `__e<digits>` infix —
  // [[publishEpoch]] enforces it, so an epoch table name parses back to
  // exactly one (base, epoch) pair.
  private val EpochSuffix = "__e(\\d+)".r

  private def requireEpochSafeName(ref: TableRef): Unit =
    require(EpochSuffix.findFirstIn(ref.table).isEmpty,
      s"epoch index name '${ref.table}' contains the reserved " +
        "'__e<digits>' infix — epoch resolution would be ambiguous; " +
        "pick a different index name")

  def epochRef(ref: TableRef, n: Long): TableRef =
    TableRef(ref.db, s"${ref.table}__e$n")

  /** Fails when `ref` is bound to a plain TABLE rather than the epoch
    * VIEW — the pre-epoch layout, which no epoch reader or writer
    * touches.
    */
  private def rejectPlainTable(spark: SparkSession, ref: TableRef): Unit =
    if (spark.catalog.getTable(ref.db, ref.table).tableType != "VIEW")
      throw new IllegalStateException(
        s"index ${ref.qualified} exists as a plain TABLE — the " +
          "pre-epoch layout; drop it and rebuild the index under the " +
          "epoch-view layout")

  /** The epoch number the index view currently points at (None if the
    * view does not exist — index never built), read off the epoch
    * table the view's analyzed plan reads.
    */
  def currentEpoch(spark: SparkSession, ref: TableRef): Option[Long] =
    if (!tableExists(spark, ref)) None
    else {
      rejectPlainTable(spark, ref)
      EpochSuffix.findFirstMatchIn(resolveToBaseTable(spark, ref).table)
        .map(_.group(1).toLong)
    }

  /** The live epoch TABLE behind the index view — for writers
    * (appends go INSIDE the live epoch) and for metadata introspection
    * (views have no location).
    */
  def liveEpochTable(spark: SparkSession, ref: TableRef): TableRef = {
    val n = currentEpoch(spark, ref).getOrElse(
      throw new IllegalStateException(
        s"liveEpochTable: index view ${ref.qualified} does not exist"))
    epochRef(ref, n)
  }

  /** Publish a new epoch: `write` materializes the epoch table, then
    * the view flips to it atomically and epochs older than the
    * `retain` just-superseded ones are dropped (size `retain` to the
    * slowest concurrent reader; default ONE superseded epoch of
    * grace). Used by both the initial build (epoch 0) and every
    * rebuild/compaction. A name bound to a plain TABLE is refused.
    *
    * Crash rule: a table already bound to the new epoch's name can only
    * be left by a publish that died before its view flip, so it is
    * dropped before the write.
    */
  def publishEpoch(spark: SparkSession, ref: TableRef, retain: Int = 1)
      (write: TableRef => Unit): Unit =
      IndexLock.withWriterLock(spark, ref.qualified) {
    require(retain >= 1, s"publishEpoch: retain must be >= 1 ($retain)")
    requireEpochSafeName(ref)
    val next = currentEpoch(spark, ref).map(_ + 1).getOrElse(0L)
    dropTable(spark, epochRef(ref, next))
    write(epochRef(ref, next))
    spark.sql(s"CREATE OR REPLACE VIEW ${ref.qualified} AS " +
      s"SELECT * FROM ${epochRef(ref, next).qualified}")
    // grace: keep `retain` superseded epochs for in-flight readers;
    // drop older ones (plus any crashed-write debris below the live
    // epoch)
    epochs(spark, ref).filter(_ < next - retain)
      .foreach(n => dropTable(spark, epochRef(ref, n)))
  }

  /** Committed epoch numbers of a catalog index (epoch tables still
    * present), ascending — the snapshots a reader can pin to.
    */
  def epochs(spark: SparkSession, ref: TableRef): Seq[Long] = {
    val prefix = s"${ref.table}__e"
    if (!spark.catalog.databaseExists(ref.db)) Nil
    else spark.catalog.listTables(ref.db).collect().toSeq
      .filter(t => t.tableType != "VIEW" && t.name.startsWith(prefix))
      .map(_.name.stripPrefix(prefix))
      .filter(n => n.nonEmpty && n.forall(_.isDigit))
      .map(_.toLong).sorted
  }

  /** The index AT a specific epoch — the snapshot-pinned read for
    * reproducible runs (see [[EpochDir.at]] for the protocol): record
    * [[currentEpoch]] when the run starts and read through this, and
    * the run replays against the exact index snapshot regardless of
    * concurrent publishes, inside the retain window. Fails loud when
    * the epoch is gone.
    */
  def tableAtEpoch(spark: SparkSession, ref: TableRef,
      epoch: Long): DataFrame = {
    val e = epochRef(ref, epoch)
    if (!tableExists(spark, e))
      throw new IllegalArgumentException(
        s"epoch $epoch of ${ref.qualified} is not present " +
          s"(committed: ${epochs(spark, ref).mkString(", ")}) — purged " +
          "past the retain window or never published; size `retain` to " +
          "the slowest pinned run")
    spark.table(e.qualified)
  }

  /** BIT-EXACT snapshot pin for a catalog epoch-view index — the
    * [[EpochDir.pinSnapshot]] twin: runs `publishRun` (an OPTIMIZE that
    * ends in [[publishEpoch]] of this ref, e.g.
    * [[graft.operators.Dedup.compactBandIndex]]) under the writer lock
    * and returns the epoch number that was LIVE at entry — now
    * superseded, hence immutable. Read it back with [[tableAtEpoch]]
    * for the duration of the pinned run; it survives `retain` further
    * publishes.
    */
  def pinSnapshot(spark: SparkSession, ref: TableRef)
      (publishRun: => Unit): Long =
      IndexLock.withWriterLock(spark, ref.qualified) {
    val pin = currentEpoch(spark, ref).getOrElse(
      throw new IllegalArgumentException(
        s"pinSnapshot: index ${ref.qualified} does not exist — nothing to pin"))
    publishRun
    val now = currentEpoch(spark, ref)
    require(now.exists(_ > pin),
      s"pinSnapshot: publishRun did not publish a new epoch of " +
        s"${ref.qualified} (live ${now.orNull} after, pin $pin) — pass " +
        "an OPTIMIZE that calls publishEpoch on this index")
    pin
  }

  /** Tear down an epoch-view index: the view and every epoch table. */
  def dropEpochIndex(spark: SparkSession, ref: TableRef): Unit = {
    spark.sql(s"DROP VIEW IF EXISTS ${ref.qualified}")
    val prefix = s"${ref.table}__e"
    spark.catalog.listTables(ref.db).collect()
      .filter(t => t.name.startsWith(prefix) &&
        t.name.stripPrefix(prefix).forall(_.isDigit))
      .foreach(t => dropTable(spark, TableRef(ref.db, t.name)))
  }

  /** Resolve a name that may be a VIEW — possibly a view over a view —
    * to the single base TABLE its plan reads: the Spark-catalog analog
    * of the reference's Distributed-engine resolution (reference:
    * clickhouse_migrator/services/migration.py:277-306 parses
    * engine_full to find the local table a Distributed table fronts,
    * then migrates THAT). A plain table resolves to itself. Resolution
    * is structural — the ANALYZED plan's leaf catalog relations, not
    * DDL-text regexing — so alias/nesting depth is free; a view
    * reading zero (pure literals) or 2+ base tables (a join view) has
    * no single migratable base and fails with an explicit message.
    */
  def resolveToBaseTable(spark: SparkSession, ref: TableRef): TableRef = {
    require(tableExists(spark, ref),
      s"resolveToBaseTable: ${ref.qualified} does not exist")
    if (spark.catalog.getTable(ref.db, ref.table).tableType != "VIEW") ref
    else {
      import org.apache.spark.sql.catalyst.catalog.HiveTableRelation
      import org.apache.spark.sql.execution.datasources.LogicalRelation
      val plan = spark.table(ref.qualified).queryExecution.analyzed
      val bases = plan.collect {
        case lr: LogicalRelation => lr.catalogTable.map(_.identifier)
        case h: HiveTableRelation => Some(h.tableMeta.identifier)
      }.flatten.distinct
      bases match {
        case Seq(one) => TableRef(one.database.getOrElse(ref.db), one.table)
        case Nil => throw new IllegalArgumentException(
          s"view ${ref.qualified} reads no catalog base table — " +
            "nothing to migrate behind the indirection")
        case many => throw new IllegalArgumentException(
          s"view ${ref.qualified} reads ${many.size} base tables " +
            s"(${many.map(_.unquotedString).mkString(", ")}) — a " +
            "multi-table view has no single migratable base; migrate " +
            "the underlying tables directly")
      }
    }
  }

  /** All non-view tables in a database (A9). */
  def listDataTables(spark: SparkSession, db: String): Seq[String] =
    spark.catalog.listTables(db).collect()
      .filter(t => t.tableType != "VIEW")
      .map(_.name).toSeq

  /** Where a catalog entry's files live (None for a view, which has no
    * storage) and its bucket count (None when unbucketed), read from the
    * session catalog's table metadata.
    */
  final case class Storage(location: Option[java.net.URI], buckets: Option[Int])

  def storageOf(spark: SparkSession, ref: TableRef): Storage = {
    val meta = spark.sessionState.catalog.getTableMetadata(
      TableIdentifier(ref.table, Some(ref.db)))
    Storage(meta.storage.locationUri, meta.bucketSpec.map(_.numBuckets))
  }

  /** Structural schema introspection (replaces SHOW CREATE + regex). */
  def schemaOf(spark: SparkSession, ref: TableRef): StructType =
    spark.table(ref.qualified).schema

  /** Structural schema drift between a source and an existing target —
    * the introspection an INCREMENTAL re-sync runs before copying data
    * (sibling of the m_delta_detect content check): columns only the
    * source has (`added`), only the target has (`removed`), and columns
    * whose type or nullability changed (`changed`). The reference's
    * equivalent would be diffing two SHOW CREATE strings; structural
    * comparison ignores formatting and column ORDER, which parquet
    * reads by name anyway. Returns (column, kind, src_type, dst_type)
    * sorted by column; empty seq ⇔ schemas compatible.
    */
  def schemaDiff(src: StructType, dst: StructType): Seq[(String, String, String, String)] = {
    val s = src.fields.map(f => f.name -> f).toMap
    val d = dst.fields.map(f => f.name -> f).toMap
    val added = (s.keySet -- d.keySet).toSeq
      .map(n => (n, "added", s(n).dataType.simpleString, ""))
    val removed = (d.keySet -- s.keySet).toSeq
      .map(n => (n, "removed", "", d(n).dataType.simpleString))
    val changed = (s.keySet & d.keySet).toSeq
      .filter(n => s(n).dataType != d(n).dataType ||
        s(n).nullable != d(n).nullable)
      .map { n =>
        def render(f: org.apache.spark.sql.types.StructField) =
          f.dataType.simpleString + (if (f.nullable) "" else " not null")
        (n, "changed", render(s(n)), render(d(n)))
      }
    (added ++ removed ++ changed).sortBy(_._1)
  }

  /** Create the backup table: same structure, parquet format, optionally
    * partitioned and at an explicit location — the structural equivalent
    * of the reference's DDL rewrite to an S3 storage policy (A27/A28).
    */
  def createBackupTable(
      spark: SparkSession,
      src: TableRef,
      backup: TableRef,
      partitionKeys: Seq[String] = Nil,
      location: Option[String] = None): Unit = {
    val locClause = location.map(l => s" LOCATION '$l'").getOrElse("")
    val partClause =
      if (partitionKeys.nonEmpty) s" PARTITIONED BY (${partitionKeys.mkString(", ")})"
      else ""
    spark.sql(s"DROP TABLE IF EXISTS ${backup.qualified}")
    spark.sql(
      s"CREATE TABLE ${backup.qualified} USING parquet$partClause$locClause " +
        s"AS SELECT * FROM ${src.qualified} WHERE 1=0")
  }

  def dropTable(spark: SparkSession, ref: TableRef): Unit =
    spark.sql(s"DROP TABLE IF EXISTS ${ref.qualified}")

  /** RENAME — paired with drop it reproduces the reference's swap
    * (migration.py:520-524); prefer CopyService.publish for path tables.
    */
  def renameTable(spark: SparkSession, from: TableRef, to: TableRef): Unit =
    spark.sql(s"ALTER TABLE ${from.qualified} RENAME TO ${to.table}")

  /** ALTER TABLE … DROP PARTITION with a typed partition spec (A14/A31 —
    * the reference's quoting heuristic becomes structural rendering).
    */
  def dropPartition(spark: SparkSession, ref: TableRef,
      keys: Seq[String], part: PartitionId): Unit = {
    val spec = keys.zip(part.values)
      .map { case (k, v) => s"$k = '${v.replace("'", "''")}'" }
      .mkString(", ")
    spark.sql(s"ALTER TABLE ${ref.qualified} DROP IF EXISTS PARTITION ($spec)")
  }

  /** SHOW PARTITIONS → typed ids (catalog twin of
    * Partitions.enumeratePartitions).
    */
  def listPartitions(spark: SparkSession, ref: TableRef,
      keys: Seq[String]): Seq[PartitionId] =
    spark.sql(s"SHOW PARTITIONS ${ref.qualified}")
      .collect()
      .map { r =>
        val spec = r.getString(0) // k1=v1/k2=v2
        val values = spec.split("/").map(_.split("=", 2)(1))
        PartitionId(values.toSeq)
      }.toSeq.sortBy(_.render)

  /** Insert one partition of data into a catalog table with dynamic
    * partition overwrite (idempotent retry — the catalog twin of
    * CopyService.copyPartition).
    */
  def insertPartition(spark: SparkSession, target: TableRef,
      data: DataFrame): Unit =
    data.write
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite")
      .insertInto(target.qualified)

  /** Write a bucketed (optionally sort-within-bucket) catalog table:
    * rows hash-cluster into `numBuckets` files by `bucketCols`. Two
    * tables bucketed the same way (same columns, same count) join with
    * NO shuffle on either side — each task zips matching buckets — so a
    * recurring fact-fact join's shuffle is paid ONCE at write time
    * instead of per query. At 100 TB this is the difference between
    * re-shuffling the fact table nightly and never shuffling it;
    * sort-within-bucket additionally drops the join's per-task sort.
    * BucketingSpec asserts the exchange-free plan.
    */
  def writeBucketed(df: DataFrame, table: TableRef,
      bucketCols: Seq[String], numBuckets: Int,
      sortCols: Seq[String] = Nil): Unit = {
    require(bucketCols.nonEmpty, "bucketCols must be non-empty")
    val w = df.write.mode("overwrite")
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
    val ws =
      if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w
    ws.format("parquet").saveAsTable(table.qualified)
  }

  /** Append to an existing [[writeBucketed]] table with the SAME bucket
    * spec (Spark validates the spec against the catalog and rejects a
    * mismatch — the appended files land bucketed, so downstream
    * bucket-joins keep their zero-exchange property over old AND new
    * data). The growth path of a standing index: each ingested batch
    * appends its own rows instead of recomputing the corpus.
    */
  def appendBucketed(df: DataFrame, table: TableRef,
      bucketCols: Seq[String], numBuckets: Int,
      sortCols: Seq[String] = Nil): Unit = {
    require(bucketCols.nonEmpty, "bucketCols must be non-empty")
    val w = df.write.mode("append")
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
    val ws =
      if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w
    ws.format("parquet").saveAsTable(table.qualified)
  }
}
