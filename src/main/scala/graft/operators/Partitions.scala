package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.model.PartitionId

/** Partition enumeration, predicate synthesis, and per-partition counting.
  *
  * Spark-first re-expression of the reference's partition layer
  * (reference: clickhouse_migrator/services/partition.py and
  * clickhouse_migrator/services/validator.py):
  *
  *  - Enumeration: the reference issues
  *    `SELECT DISTINCT partition FROM system.parts … ORDER BY partition`
  *    (partition.py:107-114). Here the partition list is computed from the
  *    data itself with `select(keys).distinct().orderBy(keys)` — at scale
  *    this is one shuffle over only the key columns (column-pruned scan).
  *  - Predicate synthesis: the reference builds a WHERE *string* with a
  *    quoting heuristic (partition.py:60-75). Here predicates are typed
  *    `Column`s — `lit()` carries the type, so the heuristic disappears,
  *    and Catalyst pushes the predicate into the parquet scan
  *    (partition pruning / PushedFilters).
  *  - Counting: the reference issues 2 count queries per partition
  *    (migration.py:481-482 → 2N+3 scans per table, SURVEY.md §6). Here
  *    `countsByPartition` computes every partition's count in ONE pass
  *    (map-side partial aggregation, then a shuffle of ~N rows).
  */
object Partitions {

  /** Normalize a partition-key expression: `(dt, channel)` → Seq(dt, channel)
    * (reference: services/partition.py:22-25, 49).
    */
  def parsePartitionKey(raw: String): Seq[String] = {
    val trimmed = raw.trim
    if (trimmed.isEmpty)
      throw new IllegalArgumentException("table has no partition key configured")
    val inner =
      if (trimmed.startsWith("(") && trimmed.endsWith(")"))
        trimmed.substring(1, trimmed.length - 1)
      else trimmed
    inner.split(",").map(_.trim).filter(_.nonEmpty).toSeq
  }

  /** Typed partition predicate: keys zip values, AND-folded
    * (reference: services/partition.py:29-75 builds the same predicate as
    * a SQL string). The arity check is preserved as a real error
    * (partition.py:52-57).
    */
  def partitionPredicate(keys: Seq[String], part: PartitionId): Column = {
    require(keys.nonEmpty, "no partition keys")
    if (keys.size != part.values.size)
      throw new IllegalArgumentException(
        s"partition key count ${keys.size} != value count ${part.values.size} " +
          s"(keys=$keys, values=${part.values})")
    keys.zip(part.values)
      .map { case (k, v) => if (v == null) col(k).isNull else col(k) === lit(v) }
      .reduce(_ && _)
  }

  /** Enumerate a table's partitions from its data, deterministically
    * ordered (the reference's ORDER BY makes resume deterministic —
    * partition.py:113; preserved here).
    *
    * Scale note: scans only the key columns (column pruning), exchanges
    * distinct values (small), sorts on the driver only the final ~N-row
    * list.
    */
  def enumeratePartitions(df: DataFrame, keys: Seq[String]): Seq[PartitionId] = {
    val rows = df
      .select(keys.map(k => col(k).cast("string")): _*)
      .distinct()
      .orderBy(keys.map(col): _*)
      .collect() // N partitions, not N rows of data — driver-safe by design
    rows.map(r => PartitionId(keys.indices.map(i => r.getString(i)))).toSeq
  }

  /** All partition counts in one scan (replaces the reference's 2 count
    * queries per partition — services/validator.py:24-31 invoked at
    * migration.py:481-482). Map-side combine makes the shuffle ~N rows.
    */
  def countsByPartition(df: DataFrame, keys: Seq[String]): Map[PartitionId, Long] = {
    val keyCols = keys.map(k => col(k).cast("string"))
    df.groupBy(keyCols: _*)
      .count()
      .collect()
      .map { r =>
        PartitionId(keys.indices.map(i => r.getString(i))) -> r.getLong(keys.size)
      }
      .toMap
  }

  /** Enumeration and counting in ONE scan of the key columns: every
    * partition with its row count, in [[enumeratePartitions]]' order
    * (Spark sorts the ~N aggregated rows, so resume order is unchanged).
    */
  def countsInOrder(df: DataFrame, keys: Seq[String]): Seq[(PartitionId, Long)] =
    df.groupBy(keys.map(k => col(k).cast("string").as(k)): _*)
      .count()
      .orderBy(keys.map(col): _*)
      .collect()
      .map(r => PartitionId(keys.indices.map(i => r.getString(i))) -> r.getLong(keys.size))
      .toSeq

  /** Work-list difference for resume: live partitions minus checkpointed
    * ones, order-preserving (reference: services/resume.py:38 — a list
    * comprehension; SURVEY.md A25). Partition lists are driver-small by
    * construction; at catalog scale this becomes a left_anti join.
    */
  def uncompleted(all: Seq[PartitionId], completed: Set[PartitionId]): Seq[PartitionId] =
    all.filterNot(completed.contains)

  /** Scalar filtered count (reference: services/validator.py:6-36). */
  def countWhere(df: DataFrame, pred: Column): Long = df.filter(pred).count()
}
