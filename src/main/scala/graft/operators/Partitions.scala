package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
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
  *    data itself with one `groupBy(keys).count()` — at scale one
  *    shuffle over only the key columns (column-pruned scan) — and the
  *    O(partitions) result is sorted on the driver.
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

  /** Typed predicate selecting exactly the rows of `parts` with one set
    * lookup per row (reference: services/partition.py:29-75 builds one
    * partition's predicate as a SQL string; its arity check stays a real
    * error, partition.py:52-57): `k IN (values)`, `OR k IS NULL` when
    * `parts` holds NULL, for one key, which can reach the parquet reader;
    * `struct(keys) IN (tuples)`, null-safe per field, for several.
    */
  def partitionPredicate(keys: Seq[String], parts: Seq[PartitionId]): Column = {
    require(keys.nonEmpty, "no partition keys")
    parts.find(_.values.size != keys.size).foreach(p =>
      throw new IllegalArgumentException(
        s"partition key count ${keys.size} != value count ${p.values.size} " +
          s"(keys=$keys, values=${p.values})"))
    if (keys.size == 1) {
      val (nulls, values) = parts.map(_.values.head).partition(_ == null)
      val in = col(keys.head).isin(values: _*)
      if (nulls.isEmpty) in else in || col(keys.head).isNull
    } else
      struct(keys.map(col): _*).isin(parts.map(p => struct(
        keys.zip(p.values).map { case (k, v) => lit(v).cast("string").as(k) }: _*)): _*)
  }

  /** `orderBy`'s order of string key tuples: per key NULL first, then
    * UTF-8 byte order, which differs from `String.compareTo` outside the
    * Basic Multilingual Plane.
    */
  private val sparkOrder: Ordering[PartitionId] = Ordering.Implicits
    .seqOrdering(Ordering.Option(Ordering.fromLessThan[UTF8String](_.compareTo(_) < 0)))
    .on[PartitionId](_.values.map(v => Option(v).map(UTF8String.fromString)))

  /** A table's partitions from its data, deterministically ordered (the
    * reference's ORDER BY makes resume deterministic — partition.py:113;
    * preserved here): the keys of [[countsInOrder]].
    */
  def enumeratePartitions(df: DataFrame, keys: Seq[String]): Seq[PartitionId] =
    countsInOrder(df, keys).map(_._1)

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
    * partition with its row count, the O(partitions) list sorted on the
    * driver (no sampling job, no second shuffle).
    */
  def countsInOrder(df: DataFrame, keys: Seq[String]): Seq[(PartitionId, Long)] =
    countsByPartition(df, keys).toSeq.sortBy(_._1)(sparkOrder)
}
