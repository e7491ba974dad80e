package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.model.PartitionId

/** Validation operators beyond row counts.
  *
  * The reference validates copies by comparing `count(*)` pairs only
  * (reference: clickhouse_migrator/services/validator.py:24-31) — counts
  * match even if rows were corrupted in flight. [[checksumByPartition]]
  * upgrades the gate (SURVEY.md §7.4): a per-partition content checksum
  * as `bit_xor(xxhash64(struct(cols)))` —
  *
  *  - order-independent (XOR is commutative/associative), so parallel
  *    aggregation and AQE re-planning cannot change it;
  *  - overflow-free (no ANSI sum overflow at any cardinality);
  *  - one column-pruned scan per side, same cost shape as the count gate.
  *
  * Caveat shared with any XOR scheme: duplicate row PAIRS cancel out —
  * which is why it complements, not replaces, the count gate.
  */
object Validate {

  /** Per-partition (count, checksum) in one pass. `cols` defaults to all
    * non-key columns, ordered by name for cross-run stability.
    */
  def checksumByPartition(
      df: DataFrame,
      keys: Seq[String],
      cols: Seq[String] = Nil): Map[PartitionId, (Long, Long)] = {
    val dataCols =
      (if (cols.nonEmpty) cols else df.columns.toSeq.filterNot(keys.contains))
        .sorted
    val keyCols = keys.map(k => col(k).cast("string"))
    df.groupBy(keyCols: _*)
      .agg(count(lit(1)).as("cnt"),
        bit_xor(xxhash64(struct(dataCols.map(col): _*))).as("chk"))
      .collect()
      .map { r =>
        PartitionId(keys.indices.map(i => r.getString(i))) ->
          (r.getLong(keys.size), r.getLong(keys.size + 1))
      }.toMap
  }

  /** (count, checksum) of ONE relation — the single-partition form of
    * [[checksumByPartition]] (same sorted-column xxhash64/bit_xor
    * recipe, so the two are directly comparable). Used to re-validate a
    * freshly copied partition directory against the already-collected
    * source state. An empty relation returns (0, 0) — the count
    * mismatch is the signal there, not the checksum.
    */
  def checksumAll(df: DataFrame, cols: Seq[String] = Nil): (Long, Long) = {
    val dataCols =
      (if (cols.nonEmpty) cols else df.columns.toSeq).sorted
    val r = df.agg(count(lit(1)).as("cnt"),
      bit_xor(xxhash64(struct(dataCols.map(col): _*))).as("chk")).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** Gate: true iff both sides agree on count AND checksum for every
    * partition present on either side.
    */
  def checksumsMatch(
      src: Map[PartitionId, (Long, Long)],
      dst: Map[PartitionId, (Long, Long)]): Boolean =
    (src.keySet ++ dst.keySet).forall(p => src.get(p) == dst.get(p))
}
