package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkFunSuite

/** Quality and plan-shape assertions for the similarity QUERY layer —
  * the claims the per-value oracle can't express: recall of the
  * approximate indexes against brute-force ground truth, and the
  * no-extra-job contract of plan-build statistics.
  */
class SimilarityQueriesSpec extends SparkFunSuite {

  private def truthTop5: Set[(Long, Long)] =
    SimilarityQueries.defs("s_ann_brute")(spark, sf0001)
      .filter(col("rank") <= 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet

  test("s_pq_rerank: widened ADC + full-precision rerank restores recall@5 to 1.0") {
    // Plain PQ search ranks by code reconstruction only and loses
    // neighbors to compression error (recall@5 0.40 at this geometry —
    // the honest number s_pq_ann documents). The rerank stage must get
    // them all back: compression can demote a true neighbor a few dozen
    // ranks, but not out of the widened top-50.
    val truth = truthTop5
    val rerank = SimilarityQueries.defs("s_pq_rerank")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val hits = truth.count(rerank.contains)
    assert(hits == truth.size,
      s"recall@5 = $hits/${truth.size}, expected full recovery")
    // and it strictly improves on the unreranked PQ search
    val plain = SimilarityQueries.defs("s_pq_ann")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(truth.count(plain.contains) < hits,
      "rerank should beat code-only ranking at this geometry")
  }

  test("s_ann_ivf_pq: recall grows with probe budget; full probe == full ADC scan") {
    // The IVF∘PQ composition trades recall for probed fraction. Probing
    // every cell removes the IVF approximation entirely — the result
    // must equal the full scan over PQ codes (s_pq_ann's ranking) — and
    // the default 4-probe setting sits between 1-probe and full.
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val q = e.filter(col("vec_id").isin(0L, 1L, 2L))
    val adcFull = SimilarityQueries.defs("s_pq_ann")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val truth = truthTop5
    def recall(pairs: Set[(Long, Long)]): Int = truth.count(pairs.contains)
    val recon = SimilarityQueries.pqRecon(e)
    def ivf(nProbe: Int): Set[(Long, Long)] =
      graft.operators.Similarity.ivfTopK(recon, q, k = 5, nProbe = nProbe)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val full = graft.operators.Similarity
      .ivfTopK(recon, q, k = 5, nProbe = 16)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(full == adcFull, "probing all 16 cells must equal the full code scan")
    assert(recall(ivf(1)) <= recall(ivf(4)),
      "recall must not shrink as the probe budget grows")
    assert(recall(ivf(4)) <= recall(ivf(16)))
  }

  test("ADC search plans stay code-only: no reconstruction materialized") {
    // The whole point of the LUT rewrite: the corpus-side scan reads
    // (vec_id, m, cid) codes and sums broadcast decimal partials —
    // the reconstructed float arrays (whose plan signature is the
    // `flatten` over collected codebook entries) must not appear
    // anywhere in the pure ADC search plans. (s_ann_ivf_pq still
    // reconstructs for the coarse cell assignment, by design.)
    for (q <- Seq("s_pq_ann", "s_pq_rerank")) {
      val plan = SimilarityQueries.defs(q)(spark, sf0001)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("flatten("),
        s"$q plan materializes reconstructed arrays (flatten found)")
    }
  }

  test("ADC ranking is bit-identical to brute force over the reconstruction") {
    // Exact-decimal partials sum associatively, so 8 LUT lookups per
    // pair must reproduce the 64-term fold over reconstructed arrays
    // EXACTLY — same rows, same round-6 cosines, not just same ranking.
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val q = e.filter(col("vec_id").isin(0L, 1L, 2L))
    val adc = SimilarityQueries.defs("s_pq_ann")(spark, sf0001)
      .collect().map(_.toSeq).toSeq
    val brute = graft.operators.Similarity
      .bruteForceTopK(SimilarityQueries.pqRecon(e), q, k = 5)
      .orderBy("qid", "rank")
      .collect().map(_.toSeq).toSeq
    assert(adc == brute)
  }

  test("s_embed_neardup_scaled: no count job at plan-build (metadata-cached n)") {
    // chooseGeometry's n comes from parquet footer metadata cached per
    // dir — building the scaled query must submit no more jobs than
    // building the unscaled twin (the round-9 builder ran a full
    // e.count() job per invocation). Schema-inference jobs from
    // spark.read are common to both, so the comparison isolates
    // exactly the count.
    SimilarityQueries.defs("s_embed_neardup_scaled")(spark, sf0001) // warm
    val base = jobsDuring(
      SimilarityQueries.defs("s_embed_neardup")(spark, sf0001))
    val scaled = jobsDuring(
      SimilarityQueries.defs("s_embed_neardup_scaled")(spark, sf0001))
    assert(scaled == base,
      s"scaled plan-build ran $scaled job(s) vs $base for the plain twin")
  }

  test("s_mrl_ivf: funnel top-5 == brute-stage-1 baseline; stage-1 scan prunes") {
    // The index-backed funnel must return the SAME final top-5 as
    // s_mrl_rerank's brute prefix scan while reading only its probed
    // cells. Asserted at sf0.01 (5,000 vectors): at 500 the global
    // prefix top-50 is 10% of an isotropic corpus and necessarily
    // spans nearly every cell, so there is no room for a funnel to
    // prune at all — the concentration premise ANN rests on only has
    // headroom once corpus >> k·nlist. 8-of-16 probes with the wide
    // 50-candidate margin recovers the baseline exactly there.
    val sf001 = "/root/testdata/sf0.01"
    val funnel = SimilarityQueries.defs("s_mrl_ivf")(spark, sf001)
    val baseline = SimilarityQueries.defs("s_mrl_rerank")(spark, sf001)
    val f = funnel.collect().map(r =>
      (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    val b = baseline.collect().map(r =>
      (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(f.nonEmpty && f == b,
      s"funnel diverged from baseline:\n$f\nvs\n$b")
    // stage 1 is a partition-pruned read of the probed cells: the
    // full query unions 3 queries × 8 probes (which can cover every
    // cell), so assert the per-query funnel shape — one query's scan
    // must read exactly its 8 probe cells and no more
    val plan = funnel.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert("PartitionFilters: \\[cell#\\d+ INSET".r
      .findFirstIn(plan).isDefined, s"no partition filter on cell:\n$plan")
    val e01 = spark.read.parquet(s"$sf001/embeddings.parquet")
    val oneQ = graft.operators.Similarity.ivfTopKIndexed(spark,
      SimilarityQueries.builtMrlIndex(spark, sf001),
      e01.filter(col("vec_id") === 0L)
        .select(col("vec_id"), slice(col("embedding"), 1, 16).as("embedding")),
      k = 50, nProbe = 8)
    oneQ.collect()
    val onePlan = oneQ.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // ≥10 probe values print as INSET, fewer as IN (...) — accept both
    val inList = "PartitionFilters: \\[cell#\\d+ (?:INSET |IN \\()([0-9, ]+)".r
      .findFirstMatchIn(onePlan)
    assert(inList.isDefined, s"no partition filter on cell:\n$onePlan")
    val probed = inList.get.group(1).split(",").count(_.trim.nonEmpty)
    assert(probed == 8, s"one query must probe exactly 8 cells, got $probed")
  }

  test("trained centroids handed to an operator are checked before any job runs") {
    import graft.operators.{Dedup, Similarity}
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val q = e.filter(col("vec_id").isin(0L, 1L, 2L))
    val good = SimilarityQueries.trainedCentsN(spark, sf0001, 16)
    val rows = good.collect()
    assert(rows.length == 16)
    def rel(rs: Seq[org.apache.spark.sql.Row]) =
      spark.createDataFrame(java.util.Arrays.asList(rs: _*), good.schema)
    // the registry's own relation passes both operators, and so does a
    // short one: training yields fewer than nlist cells on a small
    // corpus or when a Lloyd cell empties
    val short = rel(rows.take(15).toSeq)
    for (c <- Seq(good, short)) {
      Similarity.ivfTopKTrained(e, q, k = 5, centroids = c)
      Dedup.semanticDedup(e, tau = 0.4, centroids = c)
    }
    val long = rel(rows.toSeq :+ rows(3))
    val empty = rel(Nil)
    val outOfRange = rel(rows.init.toSeq :+
      org.apache.spark.sql.Row(16, rows.last.get(1)))
    val renamed = good.withColumnRenamed("centvec", "vec")
    val lazyPlan = good.filter(col("cid") >= 0)
    for ((bad, why) <- Seq(long -> "17 rows for nlist = 16",
        empty -> "0 rows", outOfRange -> "outside [0, 16)",
        renamed -> "schema", lazyPlan -> "local relation")) {
      var err: IllegalArgumentException = null
      val jobs = jobsDuring {
        err = intercept[IllegalArgumentException](Similarity.ivfTopKTrained(
          e, q, k = 5, centroids = bad, nlist = 16))
      }
      assert(err.getMessage.contains(why), err.getMessage)
      assert(jobs == 0, s"$jobs job(s) ran before the check failed")
      intercept[IllegalArgumentException](
        Dedup.semanticDedup(e, tau = 0.4, centroids = bad, nlist = 16))
    }
  }

  test("d_semantic and d_semantic_auto on a corpus under nlist rows match the self-trained operator") {
    // 10 vectors: the registry trains at most 10 of its 16 cells, which
    // the operator must accept as it accepts its own training
    val dir = tmpDir("graft_short_corpus_")
    spark.read.parquet(s"$sf0001/embeddings.parquet")
      .filter(col("vec_id") < 10).write.parquet(s"$dir/embeddings.parquet")
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    assert(SimilarityQueries.trainedCentsN(spark, dir, 16).count() < 16)
    val want = graft.operators.Dedup.semanticDedup(e, tau = 0.4,
        centroids = graft.operators.Similarity.trainCentroidsLiteral(e, 16, 2))
      .select(col("vid").as("vec_id"), col("cell"), col("witness"),
        col("keep"))
      .orderBy("vec_id").collect().toSeq
    assert(want.length == 10)
    for (name <- Seq("d_semantic", "d_semantic_auto"))
      assert(SimilarityQueries.defs(name)(spark, dir).collect().toSeq == want,
        name)
  }
}
