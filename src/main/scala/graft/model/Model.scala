package graft.model

/** Core data model for the migration engine.
  *
  * Mirrors the reference's abstractions (see SURVEY.md §1.1) with typed
  * Scala equivalents: the reference threads `(db, table)` strings and
  * partition-value strings everywhere (reference:
  * clickhouse_migrator/services/migration.py:372,
  * clickhouse_migrator/services/partition.py:38-75); we keep partitions
  * typed internally and render ClickHouse-style strings only at the
  * report boundary.
  */
final case class TableRef(db: String, table: String) {
  def qualified: String = s"$db.$table"
}

/** One partition of a table: the values of the partition-key columns, in
  * key order. A single-key partition has one value; a composite key has
  * several (reference renders these as tuple literals like
  * `('2024-01-01','novel')` — services/partition.py:88-90).
  */
final case class PartitionId(values: Seq[String]) {
  /** ClickHouse-compatible rendering for reports / DROP PARTITION
    * literals (reference: services/partition.py:77-102): numeric values
    * unquoted, strings quoted, NULL bare, composites as tuple literals.
    */
  def render: String = PartitionId.renderValues(values)
}

object PartitionId {
  def single(v: String): PartitionId = PartitionId(Seq(v))

  private def isNumeric(v: String): Boolean =
    try { v.toDouble; true } catch { case _: NumberFormatException => false }

  /** Quote one value the way ClickHouse DROP PARTITION expects
    * (reference: services/partition.py:92-102): numeric → bare,
    * already-quoted → as-is, else single-quoted. A null key value (rows
    * whose partition expression IS NULL) renders as the bare `NULL`
    * literal; the string "NULL" renders quoted, so the two stay distinct.
    */
  def renderOne(v: String): String =
    if (v == null) "NULL"
    else if (isNumeric(v)) v
    else if (v.length >= 2 && v.startsWith("'") && v.endsWith("'")) v
    else s"'$v'"

  def renderValues(values: Seq[String]): String =
    if (values.lengthCompare(1) == 0) renderOne(values.head)
    else values.map(renderOne).mkString("(", ",", ")")
}

/** Per-partition validation record (reference: services/migration.py:483-490
  * builds the same dict with keys partition/src_count/dst_count/passed/
  * cost_time).
  */
final case class PartitionCheck(
    partition: String,
    srcCount: Long,
    dstCount: Long,
    passed: Boolean,
    costTime: Double)

sealed trait TableStatus { def name: String }
object TableStatus {
  case object Completed extends TableStatus { val name = "completed" }
  case object Failed extends TableStatus { val name = "failed" }
  case object Skipped extends TableStatus { val name = "skipped" }
  case object Running extends TableStatus { val name = "running" }
  /** Another process holds the table lock — the table was neither
    * migrated nor failed, and the shared checkpoint was NOT touched
    * (reference: the distributed-mode lock check at
    * services/migration.py:331-339 reports a locked local table without
    * writing progress for it).
    */
  case object Locked extends TableStatus { val name = "locked" }
  def fromName(s: String): TableStatus = s match {
    case "completed" => Completed
    case "failed"    => Failed
    case "skipped"   => Skipped
    case "locked"    => Locked
    case _           => Running
  }
}

/** Per-table migration result (reference: services/migration.py:378-389). */
final case class TableResult(
    table: TableRef,
    status: TableStatus,
    totalPartitions: Int,
    completedPartitions: Int,
    migratedRows: Long,
    checkResults: Seq[PartitionCheck],
    error: Option[String] = None)

/** Whole-run report (reference: services/report.py:37-62). */
final case class MigrationReport(
    mode: String,
    db: String,
    results: Seq[TableResult]) {
  def completedCount: Int = results.count(_.status == TableStatus.Completed)
  def failedCount: Int = results.count(_.status == TableStatus.Failed)
  def skippedCount: Int = results.count(_.status == TableStatus.Skipped)
  def anyFailed: Boolean = failedCount > 0
}

/** Typed configuration (reference: config.py:115-128 flat dict).
  * Precedence CLI > env > file is resolved by the caller via explicit
  * Option chaining — fixing the reference's dead-YAML quirk
  * (config.py:110 loads the file then never consults it; SURVEY.md A45).
  */
final case class MigrationConfig(
    mode: String = "single",
    db: String = "",
    table: String = "",
    sourcePath: String = "",
    destPath: String = "",
    insertIntervalSec: Double = 0.0,
    resume: Boolean = true,
    checkpointPath: String = "migration_progress.json",
    lockDir: String = "locks")
