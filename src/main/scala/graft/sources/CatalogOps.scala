package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.types.StructType

import graft.model.TableRef

/** Catalog-table operations on `spark.catalog` / Spark SQL: existence
  * (reference: clickhouse_migrator/services/migration.py:424-426 queries
  * system.tables) → [[tableExists]], view-to-base resolution, storage
  * lookup, structural schema drift and bucketed writes. The reference's
  * DDL lifecycle (SHOW CREATE, CREATE/DROP/RENAME, DROP PARTITION) has
  * no catalog twin: the migrator runs those steps on path tables
  * through CopyService.
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

  /** Where a catalog entry's files live (None for a view, which has no
    * storage), read from the session catalog's table metadata.
    */
  def storageOf(spark: SparkSession, ref: TableRef): Option[java.net.URI] =
    spark.sessionState.catalog.getTableMetadata(
      TableIdentifier(ref.table, Some(ref.db))).storage.locationUri

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
