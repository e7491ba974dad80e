package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{TextAnalysis => TA}

/** End-to-end corpus CURATION: the composition every pre-training data
  * pipeline runs before tokenization — quality gate → exact dedup →
  * near-dup collapse → leakage-safe split — as one library call with a
  * per-stage audit trail, exposed operationally as
  * `MigrateCli --mode curate`.
  *
  * Every stage reuses the already-oracle-checked primitives, so the
  * pipeline adds composition, not new semantics:
  *  1. QUALITY: [[TextAnalysis.gopherPass]] (the `t_gopher` rules) —
  *     map-only filter.
  *  2. EXACT DEDUP: keep the smallest id per
  *     [[TextAnalysis.fingerprint]] (bag-of-words md5) — one window
  *     exchange on the fingerprint key (the near-unique-key shape
  *     `d_spans` documents: sort-agg beats hash-agg + join-back).
  *  3. NEAR-DUP COLLAPSE: [[Dedup.minhashNearDups]] band-join pairs →
  *     [[Dedup.connectedComponents]] → drop non-canonical cluster
  *     members (the `d_dedup_corpus` recipe, at LSH scale shape —
  *     candidates come from band buckets, never corpus²).
  *  4. SPLIT: [[TextAnalysis.hashSplit]] — deterministic salted-hash
  *     train/val/test bands, growth-stable, no RNG.
  *
  * The curated corpus lands at `outDir` partitioned by split (so
  * downstream readers partition-prune their split), and the returned
  * report carries the per-stage counts an audit needs. Stage
  * intermediates are persisted across their two consumers (count +
  * next stage / write) and unpersisted before return.
  */
object Curation {

  /** Per-stage audit counts of one [[curate]] run. `afterMixture` is
    * present only when a mixture plan ran (None ≡ stage skipped, so
    * pre-mixture reports keep their exact shape).
    */
  case class CurationReport(
      input: Long,
      afterQuality: Long,
      afterExactDedup: Long,
      afterNearDup: Long,
      bySplit: Map[String, Long],
      afterMixture: Option[Long] = None) {
    def dropped: Long = input - afterMixture.getOrElse(afterNearDup)
  }

  /** Apply a data-mixture plan: downsample each language to the
    * largest total budget the corpus can serve at the target token
    * SHARES (the `t_mixture` arithmetic — N = min over languages of
    * tokens/weight, the binding language keeps everything), with the
    * keep decision the salted-md5 256-band hash against the language's
    * quantized keep-rate threshold. Deterministic end to end: no RNG,
    * a document's fate never changes as the corpus grows or the
    * cluster resizes, and the whole decision is one map-side filter
    * against a broadcast |langs|-row threshold table — the only
    * corpus-sized work is the token-count aggregate (one
    * map-side-combined shuffle). Languages absent from `weights` are
    * dropped (the mixture DEFINES the target corpus); a weighted
    * language absent from the corpus binds N to 0, emptying the
    * output rather than silently re-normalizing (`t_mixture`'s
    * infeasibility contract). Realized per-language token shares land
    * within band-quantization error of the targets — spec-asserted in
    * CurationSpec, oracle-checked as `t_mixture_apply`.
    */
  def applyMixture(docs: DataFrame, weights: Seq[(String, Double)],
      idCol: String = "doc_id", langCol: String = "lang",
      textCol: String = "text", salt: String = "mix:"): DataFrame = {
    require(weights.map(_._1).distinct.size == weights.size,
      s"applyMixture: duplicate language in weights " +
        s"(${weights.map(_._1).diff(weights.map(_._1).distinct).distinct
          .mkString(", ")}) — a duplicate threshold row would emit " +
        "duplicate documents through the join")
    require(weights.forall(_._2 > 0),
      "applyMixture: weights must be positive relative shares")
    val s = docs.sparkSession
    import s.implicits._
    // The measured token counts are MODEL STATE (≤ |weights| rows):
    // collect them once at plan-build (the codebook/sq8-stats pattern)
    // so the threshold arithmetic runs over a literal relation — the
    // returned plan then pays exactly ONE corpus pass (the filter);
    // leaving the aggregate lazy re-scanned the corpus per reference
    // (three scans in the audit query's plan).
    val measured = docs
      .filter(col(langCol).isin(weights.map(_._1): _*))
      .groupBy(langCol)
      .agg(sum(TA.wordCount(col(textCol)).cast("long")).as("tokens"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val planned = weights
      .map { case (l, w) => (l, measured.getOrElse(l, 0L), w) }
      .toDF(langCol, "tokens", "weight")
    // Arithmetic stays IN Spark over the literal rows — bit-identical
    // to the lazy formulation (and to the oracle), zero corpus work.
    val n = planned
      .agg(min(col("tokens").cast("double") / col("weight")).as("n_total"))
    // thr = keep_rate quantized to 256 bands; keep_rate is rounded to
    // 6 dp FIRST (the exact value t_mixture reports) so the plan and
    // its application can never disagree on the boundary band.
    val thr = planned.crossJoin(broadcast(n))
      .select(col(langCol),
        when(col("tokens") === 0L, lit(0))
          .otherwise(floor(round(col("weight") * col("n_total") /
            col("tokens").cast("double"), 6) * 256 + 0.5).cast("int"))
          .as("__thr"))
    docs.join(broadcast(thr), Seq(langCol))
      .filter(TA.hashBand256(col(idCol), salt) < col("__thr"))
      .drop("__thr")
  }

  /** Run the full pipeline over `docs`, write the curated corpus to
    * `outDir` (parquet, partitioned by `split`), return the audit
    * counts. `jaccard` is the near-dup collapse threshold; `stopwords`
    * is the per-language registry the quality gate's stopword rule
    * runs against ([[TextAnalysis.gopherPassLang]] — a document needs
    * ≥2 function words of SOME registered language). The default
    * single-entry English registry reproduces the original
    * [[TextAnalysis.gopherPass]] bit-for-bit; a multilingual corpus
    * passes its language family (e.g. [[TextAnalysis.StopwordsByLang]])
    * so the gate doesn't silently zero non-English input — the r12
    * scale-probe failure mode.
    *
    * `mixture`: optional target per-language token shares. When
    * non-empty, [[applyMixture]] runs AFTER near-dup collapse (rates
    * computed on the deduplicated survivors — duplicates must not
    * inflate a language's measured budget) and before the split;
    * the report carries the post-mixture count in `afterMixture`.
    *
    * `canonical` picks WHICH member of a near-dup cluster survives:
    *  - `"minid"` (default): the minimum id — cheapest, and exactly
    *    the cluster label [[Dedup.connectedComponents]] already
    *    computes.
    *  - `"rank"`: the max-PageRank member (ties to min id) — the
    *    `g_doc_rank` argument applied operationally: the
    *    most-connected copy of a duplicated text is its best-attested
    *    version, so centrality beats id order as the keep choice. The
    *    pair graph is STAGED to scratch once so the minhash pipeline
    *    still executes once (components + rank both read the file),
    *    and exactly one document survives per cluster either way, so
    *    every audit count is canonical-choice-invariant.
    */
  def curate(docs: DataFrame, outDir: String, idCol: String = "doc_id",
      textCol: String = "text", jaccard: Double = 0.5,
      stopwords: Map[String, Seq[String]] = Map("en" -> TA.Stopwords),
      mixture: Seq[(String, Double)] = Nil, langCol: String = "lang",
      canonical: String = "minid"): CurationReport = {
    require(canonical == "minid" || canonical == "rank",
      s"canonical must be 'minid' or 'rank', got '$canonical'")
    val input = docs.count()

    val quality = docs
      .filter(TA.gopherPassLang(col(textCol), stopwords)).persist()
    val afterQuality = quality.count()

    val wFp = Window.partitionBy(col("__fp"))
    val exact = quality
      .withColumn("__fp", TA.fingerprint(col(textCol)))
      .withColumn("__keep", min(col(idCol)).over(wFp) === col(idCol))
      .filter(col("__keep")).drop("__fp", "__keep")
      .persist()
    val afterExact = exact.count()

    val pairsRaw = Dedup.minhashNearDups(exact, idCol, textCol, jaccard)
      .select(col("id_a"), col("id_b"))
    // rank mode has TWO pair consumers (components + the rank build),
    // so the minhash pipeline stages to scratch and both read the file
    val pairs =
      if (canonical != "rank") pairsRaw
      else {
        val p = graft.sources.Scratch.dir("curate_pairs", outDir)
        pairsRaw.write.mode("overwrite").parquet(p)
        docs.sparkSession.read.parquet(p)
      }
    val comp = Dedup.connectedComponents(pairs)
    val drop =
      if (canonical == "minid")
        comp.filter(col("id") =!= col("cluster")).select(col("id").as(idCol))
      else {
        val rank = Graph.pageRank(
          pairs.select(col("id_a").as("src"), col("id_b").as("dst")),
          iters = 3, symmetrize = true)
        val wc = Window.partitionBy(col("cluster"))
          .orderBy(col("r").desc, col("id"))
        comp.join(rank.withColumnRenamed("node", "id"), "id")
          .withColumn("__rn", row_number().over(wc))
          .filter(col("__rn") > 1)
          .select(col("id").as(idCol))
      }
    // With a mixture stage the deduped set gets two consumers (its
    // count + the mixture's token aggregate and filter), so it is
    // persisted across them like every other stage intermediate.
    val deduped = exact.join(drop, Seq(idCol), "left_anti")
    val mixed =
      if (mixture.isEmpty) deduped
      else {
        deduped.persist()
        applyMixture(deduped, mixture, idCol, langCol, textCol)
      }
    val curated = mixed
      .withColumn("split", TA.hashSplit(col(idCol)))
      .persist()
    val afterNearDup =
      if (mixture.isEmpty) curated.count() else deduped.count()
    val afterMixture = if (mixture.isEmpty) None else Some(curated.count())

    curated.write.mode("overwrite").partitionBy("split").parquet(outDir)
    val bySplit = curated.groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    quality.unpersist(); exact.unpersist(); curated.unpersist()
    if (mixture.nonEmpty) deduped.unpersist()
    CurationReport(input, afterQuality, afterExact, afterNearDup, bySplit,
      afterMixture)
  }
}
