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

  test("appendToIvfPqIndex: grown index equals a full rebuild") {
    // Split so the low ids (coarse seeds + codebook seeds) are in the
    // base: seeds then agree between base-build and full-rebuild, and
    // equality isolates the GROWTH mechanics (encode + assign against
    // STORED model state) as the thing under test.
    val base = emb.filter(col("vec_id") < 400)
    val wave = emb.filter(col("vec_id") >= 400)

    val grown = tmpDir("ivfpq_grown")
    val baseCodes = Similarity.pqEncode(base, cbooks)
    Similarity.writeIvfPqIndex(baseCodes, cbooks, grown)
    Similarity.appendToIvfPqIndex(wave, grown)

    val rebuilt = tmpDir("ivfpq_rebuilt")
    val allCodes = Similarity.pqEncode(emb, cbooks)
    Similarity.writeIvfPqIndex(allCodes, cbooks, rebuilt)

    val a = Similarity.adcIvfTopKIndexed(spark, grown, queries, k = 5)
    val b = Similarity.adcIvfTopKIndexed(spark, rebuilt, queries, k = 5)
    assert(rows(a).nonEmpty && rows(a) == rows(b))
    // the grown index must actually contain the appended wave
    val grownVids = spark.read.parquet(s"$grown/codes")
      .select("vid").distinct().count()
    assert(grownVids == emb.count(), s"grown index holds $grownVids vids")
  }

  test("appendToIvfPqIndex: rejects ids that would invade the coarse-seed set") {
    // The coarse quantizer seeds from the LOWEST ids; appending an id
    // below the stored nlist would make a later full rebuild choose
    // different seeds than the grown index, silently voiding rebuild
    // equivalence — the append must fail fast instead.
    val path = tmpDir("ivfpq_guard")
    val base = emb.filter(col("vec_id") < 400)
    Similarity.writeIvfPqIndex(Similarity.pqEncode(base, cbooks), cbooks, path)
    val invader = emb.filter(col("vec_id") < 16)
    val ex = intercept[IllegalArgumentException] {
      Similarity.appendToIvfPqIndex(invader, path)
    }
    assert(ex.getMessage.contains("coarse-seed"), ex.getMessage)
    // an empty batch is a quiet no-op
    Similarity.appendToIvfPqIndex(emb.filter(col("vec_id") < 0), path)
  }
}
