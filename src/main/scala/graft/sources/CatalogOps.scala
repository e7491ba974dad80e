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
    * storage), read from the session catalog's table metadata.
    */
  def storageOf(spark: SparkSession, ref: TableRef): Option[java.net.URI] =
    spark.sessionState.catalog.getTableMetadata(
      TableIdentifier(ref.table, Some(ref.db))).storage.locationUri

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
    dropTable(spark, backup)
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
}
