package graft.operators

import org.apache.spark.sql.functions.col

import graft.SparkFunSuite

/** Persisted IVF index: search results must equal the inline index, and
  * the cell scan must be partition-pruned to the probed cells.
  */
class IvfIndexSpec extends SparkFunSuite {

  private lazy val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
  private lazy val queries = emb.filter(col("vec_id").isin(0L, 1L, 2L))

  test("ivfTopKIndexed == inline ivfTopK; scan prunes to probed cells") {
    val path = tmpDir("ivf_idx")
    Similarity.writeIvfIndex(emb, path, nlist = 16)

    val indexed = Similarity.ivfTopKIndexed(spark, path, queries,
      k = 5, nProbe = 4)
    val inline = Similarity.ivfTopK(emb, queries, k = 5, nProbe = 4)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(rows(indexed).nonEmpty && rows(indexed) == rows(inline))

    // partition pruning: the cells scan carries a PartitionFilters
    // IN-list on cell, bounded by q x nProbe = 12 of the 16 cells
    indexed.collect()
    val plan = indexed.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val inList = "PartitionFilters: \\[cell#\\d+ INSET ([0-9, ]+)".r
      .findFirstMatchIn(plan)
    assert(inList.isDefined, s"no partition filter on cell:\n$plan")
    val probed = inList.get.group(1).split(",").count(_.trim.nonEmpty)
    assert(probed <= 12 && probed < 16, s"probed $probed cells")
  }

  // Deterministic PQ model for the IVFPQ cases: seed codebooks are the
  // 16 lowest-id vectors' subvectors (no Lloyd round — codebook quality
  // is irrelevant to index-mechanics equivalence, and seeds keep the
  // fixture cheap).
  private lazy val cbooks = Similarity
    .pqSubvecs(emb.filter(col("vec_id") < 16))
    .select(col("vec_id").cast("int").as("cid"), col("m"),
      col("sv").as("cv"))
  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r =>
      (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet

  test("adcIvfTopKIndexed == inline adcIvfTopK; code scan prunes to probed cells") {
    val codes = Similarity.pqEncode(emb, cbooks)
    val recon = Similarity.pqReconstruct(codes, cbooks)
    val path = tmpDir("ivfpq_idx")
    Similarity.writeIvfPqIndex(codes, cbooks, path)

    // the persisted layout is codes-only: no float arrays in the cells
    val stored = spark.read.parquet(s"$path/codes")
    assert(stored.schema.fieldNames.toSet == Set("vid", "m", "cid", "cell"),
      s"code files must hold only code rows: ${stored.schema}")

    val indexed = Similarity.adcIvfTopKIndexed(spark, path, queries,
      k = 5, nProbe = 4)
    val inline = Similarity.adcIvfTopK(codes, cbooks, recon, queries,
      k = 5, nProbe = 4)
    assert(rows(indexed).nonEmpty && rows(indexed) == rows(inline))

    indexed.collect()
    val plan = indexed.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val inList = "PartitionFilters: \\[cell#\\d+ INSET ([0-9, ]+)".r
      .findFirstMatchIn(plan)
    assert(inList.isDefined, s"no partition filter on cell:\n$plan")
    val probed = inList.get.group(1).split(",").count(_.trim.nonEmpty)
    assert(probed <= 12 && probed < 16, s"probed $probed cells")
  }
}
