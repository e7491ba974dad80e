package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkFunSuite

/** SemDeDup-style semantic dedup: keep/witness semantics on a
  * hand-built corpus, the pruning invariants on real data, determinism,
  * and the cluster-bounded plan shape.
  */
class SemanticDedupSpec extends SparkFunSuite {

  private def vec(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray

  /** The 16-cell, 2-round trained centroids every query passes. */
  private def trained16(emb: org.apache.spark.sql.DataFrame) =
    Similarity.trainCentroidsLiteral(emb, 16, 2)

  test("keep rule: pruned iff a τ-similar smaller-id neighbor shares the cell") {
    val s = spark; import s.implicits._
    // Two orthogonal families; ids 0 and 1 seed the two cells.
    val data = Seq(
      (0L, vec(1, 0, 0, 0)),
      (1L, vec(0, 1, 0, 0)),
      (2L, vec(0.99, 0.14, 0, 0)),  // near-dup of 0 (cos ≈ 0.990)
      (3L, vec(0.10, 0.99, 0, 0)),  // near-dup of 1 (cos ≈ 0.995)
      (4L, vec(0.70, 0.71, 0.1, 0)), // between families, no near-dup
      (5L, vec(0.99, 0.141, 0, 0))  // near-dup of BOTH 0 and 2
    ).toDF("vec_id", "embedding")
    val out = Dedup.semanticDedup(data, tau = 0.98,
        centroids = Similarity.trainCentroidsLiteral(data, 2, 2), nlist = 2)
      .collect().map(r => r.getAs[Long]("vid") ->
        (r.getAs[Boolean]("keep"), Option(r.getAs[java.lang.Long]("witness"))))
      .toMap
    assert(out.keySet == Set(0L, 1L, 2L, 3L, 4L, 5L)) // one row per vector
    assert(out(0L) == ((true, None)))
    assert(out(1L) == ((true, None)))
    assert(out(4L) == ((true, None)))
    assert(out(2L) == ((false, Some(0L))))
    assert(out(3L) == ((false, Some(1L))))
    // witness is the SMALLEST similar smaller-id neighbor, not just any
    assert(out(5L) == ((false, Some(0L))))
  }

  test("invariants on real embeddings: witnesses are in-cell, smaller, and τ-similar; kept rows have none") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val tau = 0.4
    val out = Dedup.semanticDedup(emb, tau = tau, trained16(emb))
    // Independent all-pairs reference (no LSH/cell shortcut in the
    // checker beyond the cell-equality the semantics require).
    val cells = out.select(col("vid"), col("cell"))
    val e = emb.select(col("vec_id").as("vid"), col("embedding").as("v"))
      .join(cells, "vid")
    val ref = e.as("x").join(e.as("y"),
        col("x.cell") === col("y.cell") && col("x.vid") < col("y.vid"))
      .select(col("x.vid").as("id_a"), col("y.vid").as("id_b"),
        Similarity.cosineExact(col("x.v"), col("y.v")).as("cos"))
      .filter(col("cos") >= tau)
      .groupBy(col("id_b").as("vid"))
      .agg(min(col("id_a")).as("ref_witness"))
    val joined = out.join(ref, Seq("vid"), "left").collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val w = Option(r.getAs[java.lang.Long]("witness"))
      val rw = Option(r.getAs[java.lang.Long]("ref_witness"))
      assert(w == rw, s"vid=${r.getAs[Long]("vid")}: witness $w != reference $rw")
      assert(r.getAs[Boolean]("keep") == w.isEmpty)
    }
    // the rule actually fires on this corpus (non-vacuous test)
    assert(joined.exists(!_.getAs[Boolean]("keep")))
    assert(joined.exists(_.getAs[Boolean]("keep")))
  }

  test("deterministic: two runs produce identical rows") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    def run() = Dedup.semanticDedup(emb, tau = 0.4, trained16(emb))
      .orderBy("vid").collect().toSeq
    assert(run() == run())
  }

  test("incremental: witnesses are τ-similar in-cell corpus vectors; batch-only output") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val corpus = emb.filter(col("vec_id") < 400)
    val batch = emb.filter(col("vec_id") >= 400)
    val out = Dedup.semanticDedupAgainst(corpus, batch, tau = 0.4)
    val rows = out.collect()
    // one row per BATCH vector, none for corpus vectors
    assert(rows.length == batch.count())
    assert(rows.forall(_.getAs[Long]("vid") >= 400))
    // reference: all batch×corpus in-cell pairs with exact cosine
    val cells = out.select(col("vid"), col("cell"))
    val cents = corpus.filter(col("vec_id") < 16)
      .select(col("vec_id").cast("int").as("cid"), col("embedding").as("centvec"))
    val cAss = Similarity.assignCells(corpus, cents)
      .select(col("vid").as("cid_v"), col("cell"), col("cvec"))
    val bSide = emb.select(col("vec_id").as("vid"), col("embedding").as("bv"))
      .join(cells, "vid")
    val ref = bSide.join(cAss, "cell")
      .select(col("vid"), col("cid_v"),
        Similarity.cosineExact(col("bv"), col("cvec")).as("cos"))
      .filter(col("cos") >= 0.4)
      .groupBy("vid").agg(min(col("cid_v")).as("ref_witness"))
    val joined = out.join(ref, Seq("vid"), "left").collect()
    joined.foreach { r =>
      val w = Option(r.getAs[java.lang.Long]("witness"))
      val rw = Option(r.getAs[java.lang.Long]("ref_witness"))
      assert(w == rw, s"vid=${r.getAs[Long]("vid")}: witness $w != reference $rw")
    }
    assert(joined.exists(!_.getAs[Boolean]("keep")), "rule must fire")
  }

  test("incremental fails fast on id-shifted corpora (broken seed contract)") {
    val s = spark
    val emb = s.read.parquet(s"$sf0001/embeddings.parquet")
    // an id-shifted slice has ids ≥ nlist but none in [0, nlist):
    // previously a silently-empty centroid set and an empty result
    val shifted = emb.withColumn("vec_id", col("vec_id") + 1000L)
    val batch = shifted.filter(col("vec_id") >= 1400L)
    val corpus = shifted.filter(col("vec_id") < 1400L)
    val e = intercept[IllegalArgumentException] {
      Dedup.semanticDedupAgainst(corpus, batch, tau = 0.4)
    }
    assert(e.getMessage.contains("re-key"), e.getMessage)
    // a gap below nlist with larger ids present is also rejected
    val gappy = emb.filter(col("vec_id") >= 8L)
    val e2 = intercept[IllegalArgumentException] {
      Dedup.semanticDedupAgainst(gappy, batch, tau = 0.4)
    }
    assert(e2.getMessage.contains("gaps below"), e2.getMessage)
    // a corpus genuinely smaller than nlist still seeds (short is legal
    // when no larger ids exist)
    val tiny = emb.filter(col("vec_id") < 8L)
    assert(Dedup.semanticDedupAgainst(tiny,
      emb.filter(col("vec_id") < 8L), tau = 0.4).count() > 0)
  }

  test("chooseNlist: √n growth, clamps, and the oracle anchor") {
    // at the oracle corpus sizes the choice collapses onto the
    // 16-cell teaching recipe — what lets d_semantic_auto share
    // d_semantic's DuckDB replay verbatim
    assert(Dedup.chooseNlist(50L) == 16)
    assert(Dedup.chooseNlist(500L) == 16)
    // the measured-quadratic fix: √n cells at the scale decades
    assert(Dedup.chooseNlist(20000L) == 71)
    assert(Dedup.chooseNlist(200000L) == 224)
    // the n^1.5 law: nlist grows as √n (×10 data → ~×3.16 cells)
    val r = Dedup.chooseNlist(2000000L).toDouble / Dedup.chooseNlist(20000L)
    assert(r > 9.0 && r < 11.0, s"ratio $r")
    // cap bounds the collected centroid literal
    assert(Dedup.chooseNlist(100000000000L) == 4096)
    assertThrows[IllegalArgumentException] { Dedup.chooseNlist(-1L) }
  }

  test("d_semantic_auto == semanticDedup(16) at the oracle corpus size") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).toSeq
    val auto = graft.queries.SimilarityQueries.defs("d_semantic_auto")(
      spark, sf0001)
    assert(rows(auto) ==
      rows(Dedup.semanticDedup(emb, tau = 0.4, trained16(emb)).orderBy("vid")))
  }

  test("plan shape: pair search shuffles on cell, no cartesian product") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = Dedup.semanticDedup(emb, tau = 0.4, trained16(emb))
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"pairing must be cell-bounded, not all-pairs:\n$plan")
      assert(plan.contains("hashpartitioning(cell"),
        s"pair search must key its exchange on cell:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }
}
