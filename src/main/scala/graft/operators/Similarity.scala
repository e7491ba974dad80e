package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DecimalType, FloatType, IntegerType,
  StructField, StructType}

/** Similarity search over embedding columns (`Array[Float]`). Every
  * vector relation an operator takes or stores has the
  * `embeddings(vec_id, embedding)` schema, and the fixed formats (PQ
  * geometry, signature width, LSH probe dims, plane seed, RRF constant)
  * are the named constants below.
  *
  * Two paths, per the scale brief:
  *  - [[bruteForceTopK]] — exact cosine top-k. The baseline; O(q·n)
  *    pairs. Correct at any n when q is small (broadcast the queries).
  *  - [[signLshTopK]] — sign-LSH (axis-aligned hyperplanes) bucketing:
  *    candidates share the query's sign-bucket, so the scan is cut by
  *    ~2^bits; the 100-TB path (a learned/IVF variant swaps in the same
  *    shape: assign→bucket-join→rerank).
  *
  * Cross-engine determinism: dot products and norms accumulate exact
  * DECIMAL(28,12) terms (order-independent), converting to double only
  * for the final sqrt/division — the oracle reproduces values
  * bit-for-bit, so rankings agree.
  */
object Similarity {

  // Term/accumulator widths chosen so acc+term types as DECIMAL(38,12)
  // with NO scale reduction (Spark caps precision at 38 and would silently
  // round scale 12→11 for wider operands); the per-step cast back to the
  // accumulator type is exact for |values| < 10^25.
  private val TermType = DecimalType(25, 12)
  private val AccType = DecimalType(37, 12)

  /** Decimal places of every hash-compared cosine and mean. */
  val Decimals = 6

  /** Width of the `embeddings(vec_id, embedding)` vectors, and so of
    * the full sign signature: one bit per dimension.
    */
  val SigBits = 64

  /** Product-quantization geometry: `PqM` subspaces of `PqD` dims each
    * (PqM·PqD = [[SigBits]]). Stored codebooks and codes carry it.
    */
  val PqM = 8
  val PqD = 8

  /** Reciprocal-rank-fusion constant c of [[rrfFuse]]. */
  val RrfC = 60

  /** Exact-decimal dot product of two float-array columns: terms are
    * order-independent decimals, so parallel/sequential accumulation
    * agree across engines.
    */
  def dotExact(a: Column, b: Column): Column =
    dotExactDec(a, b).cast("double")

  /** Exact-decimal squared L2 norm. */
  def norm2Exact(a: Column): Column =
    norm2ExactDec(a).cast("double")

  /** Decimal-accumulator twin of [[dotExact]]: same TermType terms,
    * same exact fold, returned AS the decimal so partial sums (e.g. the
    * per-subspace ADC partials) can be summed further before the single
    * double conversion — decimal addition is exact here, so any
    * regrouping of the terms lands on the identical final double.
    */
  private def dotExactDec(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) =>
        (x.cast("double") * y.cast("double")).cast(TermType)),
      lit(0).cast(AccType), (acc, v) => (acc + v).cast(AccType))

  /** Decimal-accumulator twin of [[norm2Exact]] (see [[dotExactDec]]). */
  private def norm2ExactDec(a: Column): Column =
    aggregate(a, lit(0).cast(AccType), (acc, v) =>
      (acc + (v.cast("double") * v.cast("double")).cast(TermType)).cast(AccType))

  /** Cosine similarity, rounded for stable cross-engine comparison. */
  def cosineExact(a: Column, b: Column): Column =
    round(dotExact(a, b) / (sqrt(norm2Exact(a)) * sqrt(norm2Exact(b))), Decimals)

  /** Exact top-k neighbors for each query vector.
    * `queries` is small (broadcast); `corpus` scans once.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val c = corpus.select(col("vec_id").as("vid"), col("embedding").as("cvec"))
    val scored = c.join(broadcast(q), col("qid") =!= col("vid"))
      .select(col("qid"), col("vid"),
        cosineExact(col("qvec"), col("cvec")).as("cos"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "rank", "vid", "cos")
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009) of two per-query
    * rankings — the standard way to combine a lexical and a vector
    * retriever into one hybrid result without score calibration:
    * rrf(d) = Σ_r 1/(c + rank_r(d)) over the rankings that contain d,
    * c = [[RrfC]].
    * Inputs are slim (qid, id, rank) top-k lists, so the full-outer
    * merge and re-rank touch at most 2k rows per query regardless of
    * corpus size — the fusion stage is free at 100 TB; all cost lives
    * in the upstream retrievers. Ranks are small ints and the RRF sum
    * is two IEEE double terms added in fixed (a, b) order, so both
    * engines agree bit-for-bit. Ties break by id.
    */
  def rrfFuse(a: DataFrame, b: DataFrame, k: Int): DataFrame = {
    val fused = a.select(col("qid"), col("id"), col("rank").as("rank_a"))
      .join(b.select(col("qid"), col("id"), col("rank").as("rank_b")),
        Seq("qid", "id"), "full_outer")
      .select(col("qid"), col("id"),
        (coalesce(lit(1.0) / (lit(RrfC.toDouble) + col("rank_a")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(RrfC.toDouble) + col("rank_b")), lit(0.0)))
          .as("rrf"))
    val w = Window.partitionBy(col("qid")).orderBy(col("rrf").desc, col("id"))
    fused.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("id"), round(col("rrf"), 6).as("rrf"))
  }

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    * SIGIR 1998): greedily select `k` of the top-`n` candidates, each
    * step maximizing λ·sim(q,d) − (1−λ)·max_{s∈S} sim(d,s) — the
    * standard redundancy-penalized diversification between retrieval
    * and the final context window.
    *
    * Distribution contract: candidate generation ([[bruteForceTopK]])
    * scans the corpus ONCE; the resulting candidate list (q·n ids +
    * scores — model state, the [[seedCentroidsLiteral]] convention) is
    * collected to plan the pairwise stage as a PUSHED-DOWN id-literal
    * filter, so the candidate×candidate cosine matrix reads only the
    * ≤ q·n pruned corpus rows instead of re-running the retrieval per
    * join leg (a naive three-consumer plan re-scanned the corpus 3× —
    * measured 25.6 s vs 2.2 s at the 10× probe). The greedy selection
    * is inherently sequential PER QUERY, so it runs inside
    * `flatMapGroups` on the qid key — each query's selection is
    * executor-local over its own ≤ n scores + ≤ n² sims, and queries
    * parallelize across the cluster. Nothing corpus-sized ever
    * collects.
    *
    * Portability: candidate and pairwise cosines come from
    * [[cosineExact]] (exact-decimal, 6-decimal values), so they are
    * exact integer multiples of 1e-6 — the MMR combination therefore
    * runs in INTEGER 1e-7 units (λ expressed in tenths:
    * `mmr_e7 = λ₁₀·cos_e6 − (10−λ₁₀)·max sim_e6`), making every
    * comparison and the emitted score exact in both engines. A
    * double-space formulation measurably flakes: `round(0.7·cos −
    * 0.3·sim, 6)` lands exactly on .5 boundaries (the inputs have 6
    * decimals, the combination 7) and Spark's HALF_UP disagrees with
    * DuckDB's rint there. Ties break by id.
    */
  def mmrRerank(corpus: DataFrame, queries: DataFrame, n: Int, k: Int,
      lambdaTenths: Int): DataFrame = {
    require(lambdaTenths >= 0 && lambdaTenths <= 10,
      s"lambdaTenths must be in [0, 10], got $lambdaTenths")
    val spark = corpus.sparkSession
    import spark.implicits._
    // ONE retrieval pass; q·n rows of model state
    val cand = bruteForceTopK(corpus, queries, n)
      .select(col("qid"), col("vid"), col("cos")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val candDf = cand.toDF("qid", "vid", "cos")
    // pairwise matrix over the id-pruned corpus only (In-filter reaches
    // the scan), never a second retrieval
    val ids = cand.map(_._2).distinct
    val e = corpus
      .filter(col("vec_id").isin(ids: _*))
      .select(col("vec_id").as("eid"), col("embedding").as("evec"))
    val va = candDf.select(col("qid"), col("vid").as("va"))
      .join(broadcast(e), col("va") === col("eid"))
      .select(col("qid"), col("va"), col("evec").as("veca"))
    val vb = candDf.select(col("qid"), col("vid").as("vb"))
      .join(broadcast(e), col("vb") === col("eid"))
      .select(col("qid"), col("vb"), col("evec").as("vecb"))
    val pw = va.join(vb, Seq("qid")).filter(col("va") =!= col("vb"))
      .select(col("qid"), col("va"), col("vb"),
        cosineExact(col("veca"), col("vecb")).as("sim"))
    // union-encode the two group inputs: kind 0 = candidate score,
    // kind 1 = pairwise sim
    val rows = candDf.select(col("qid"), lit(0).as("kind"),
        col("vid").as("a"), lit(-1L).as("b"), col("cos").as("v"))
      .unionByName(pw.select(col("qid"), lit(1).as("kind"),
        col("va").as("a"), col("vb").as("b"), col("sim").as("v")))
      .as[(Long, Int, Long, Long, Double)]
    rows.groupByKey(_._1).flatMapGroups { (qid, it) =>
      val all = it.toSeq
      // cosineExact emits exact 6-decimal values: recover the integer
      // 1e-6 numerators so the greedy runs in exact Long arithmetic.
      def e6(x: Double): Long = math.round(x * 1e6)
      val cos = all.filter(_._2 == 0).map(r => r._3 -> e6(r._5)).toMap
      val sim = all.filter(_._2 == 1)
        .map(r => (r._3, r._4) -> e6(r._5)).toMap
      val sel = scala.collection.mutable.ArrayBuffer.empty[Long]
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Int, Long, Double)]
      var step = 1
      while (step <= k && sel.size < cos.size) {
        val remaining = cos.keysIterator.filterNot(sel.contains).toSeq
        val scored = remaining.map { v =>
          // mmr in 1e-7 units, exact
          val mmrE7 =
            if (sel.isEmpty) 10L * cos(v)
            else lambdaTenths * cos(v) -
              (10L - lambdaTenths) * sel.iterator.map(s => sim((v, s))).max
          (v, mmrE7)
        }
        val (picked, mmrE7) = scored.minBy { case (v, m) => (-m, v) }
        sel += picked
        out += ((qid, step, picked, mmrE7.toDouble / 1e7))
        step += 1
      }
      out.iterator
    }.toDF("qid", "step", "picked", "mmr")
  }

  /** Sign-LSH bucket: concatenated sign bits of the selected dimensions
    * (axis-aligned random-hyperplane hashing — deterministic and
    * engine-portable).
    */
  def signBucket(vec: Column, dims: Seq[Int]): Column =
    concat(dims.map(d =>
      when(element_at(vec, d) > 0f, "1").otherwise("0")): _*)

  /** Sign-LSH probe dimensions of [[signLshTopK]]: one per 8-dim
    * stripe of a 64-dim vector.
    */
  val LshDims: Seq[Int] = Seq(1, 9, 17, 25, 33, 41, 49, 57)

  /** Approximate top-k: exact rerank restricted to the query's bucket.
    * Trades recall for a ~2^bits scan cut; same output shape as
    * [[bruteForceTopK]].
    */
  def signLshTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("qid"), col("embedding").as("qvec"),
      signBucket(col("embedding"), LshDims).as("qbucket"))
    val c = corpus.select(col("vec_id").as("vid"), col("embedding").as("cvec"),
      signBucket(col("embedding"), LshDims).as("cbucket"))
    val scored = c.join(broadcast(q),
        col("qbucket") === col("cbucket") && col("qid") =!= col("vid"))
      .select(col("qid"), col("vid"),
        cosineExact(col("qvec"), col("cvec")).as("cos"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "rank", "vid", "cos")
  }

  /** IVF (inverted-file) approximate top-k — the classic
    * cluster-then-probe ANN shape: every corpus vector is assigned to its
    * nearest centroid (one "cell"), each query probes only its `nProbe`
    * nearest cells, and the exact rerank pays only for vectors in probed
    * cells (~nProbe/nlist of the corpus, vs the whole corpus for brute
    * force).
    *
    * Centroids are training-free and deterministic: the `nlist` vectors
    * with the smallest ids — fine on isotropic corpora, but on clustered
    * data the seeds can all land in one cluster and recall-per-probe
    * collapses; [[ivfTopKTrained]] fixes that with deterministic Lloyd
    * rounds while staying oracle-checkable. The index SHAPE — assign →
    * cell-equality join → rerank — is identical either way.
    *
    * Scale notes: centroids broadcast (nlist rows); assignment is ONE
    * map-side pass — a broadcast nested-loop against the nlist centroids
    * computing each of the nlist cosines with the codegen [[graft.plans
    * .FloatVecDot]] tight loop (no posexplode row blowup; norms computed
    * once per vector and once per centroid, not once per pair) — followed
    * by a `max_by` argmax aggregation whose map-side combine reduces the
    * shuffle to one slim row per vector. Double-vs-exact-decimal makes no
    * observable difference here: the cosine is rounded to 6 dp before the
    * argmax (both engines), and the two accumulations agree to ~1e-13;
    * the exact-decimal path is kept for the FINAL rerank, where output
    * values are hash-compared. The probe join broadcasts q·nProbe slim
    * rows, so search reads only the probed cells. The assignment output
    * is the persistable "index" — amortize it across query batches.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      nlist: Int = 16, nProbe: Int = 4): DataFrame =
    ivfSearch(corpus, queries, k, nProbe, seedCentroids(corpus, nlist))

  /** [[ivfTopK]] with TRAINED centroids: rounds of deterministic Lloyd
    * k-means ([[trainCentroids]]) replace the lowest-id seeds, so cells
    * approximate the corpus's actual cluster structure and
    * recall-per-probe improves (the caveat the untrained index
    * documents). Identical search shape; only the index quality changes.
    *
    * `centroids` is trained model state — the [[trainCentroidsLiteral]]
    * output for this corpus at `nlist` cells, held by the caller (the
    * FAISS lifecycle trains once and searches many); anything else
    * drifts the cells from the oracle replay, and [[checkedCentroids]]
    * rejects the detectable mismatches.
    */
  def ivfTopKTrained(corpus: DataFrame, queries: DataFrame, k: Int,
      centroids: DataFrame, nlist: Int = 16, nProbe: Int = 4): DataFrame =
    ivfSearch(corpus, queries, k, nProbe, checkedCentroids(centroids, nlist))

  /** Caller-supplied trained centroids, checked before they drive a
    * search. Model state handed to an operator is validated, not
    * trusted: the relation must have the [[CentroidSchema]] and be a
    * collected local relation of 1 to `nlist` rows (training keeps at
    * most `nlist` cells, fewer when the corpus has fewer seeds or a
    * Lloyd cell empties) whose cell ids lie in [0, `nlist`). All checks
    * read the plan, so no Spark job runs.
    */
  private[graft] def checkedCentroids(c: DataFrame, nlist: Int): DataFrame = {
    require(c.schema.map(f => f.name -> f.dataType) ==
        CentroidSchema.map(f => f.name -> f.dataType),
      s"centroids: schema ${c.schema.simpleString} is not the trained " +
        s"centroid schema ${CentroidSchema.simpleString}")
    val rows = c.queryExecution.analyzed match {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        l.data
      case p => throw new IllegalArgumentException("centroids: expected " +
        s"the collected local relation of trainCentroidsLiteral, got ${p.nodeName}")
    }
    require(rows.nonEmpty && rows.length <= nlist,
      s"centroids: ${rows.length} rows for nlist = $nlist")
    require(rows.forall(r => !r.isNullAt(0) &&
        r.getInt(0) >= 0 && r.getInt(0) < nlist),
      s"centroids: a cid outside [0, $nlist)")
    c
  }

  /** [[trainCentroids]] COLLECTED to a literal relation — nlist·dims
    * floats of MODEL STATE, the PQ-codebook treatment (see
    * SimilarityQueries `pqCodebooks` and the SCALING.md round-12
    * entry): Spark re-evaluates lazy subtrees per reference, and the
    * trained centroids feed several subtrees of a search (corpus
    * assignment + query probe), so the lazy plan re-ran the whole
    * multi-exchange Lloyd chain once per reference. Collecting re-plans
    * the centroids as a literal: training runs exactly once, and every
    * consumer broadcasts the same tiny relation. Values are
    * bit-identical (floats round-trip exactly through collect), so
    * results and oracle hashes are unchanged.
    */
  def trainCentroidsLiteral(corpus: DataFrame, nlist: Int,
      iters: Int): DataFrame = {
    // EAGER by contract: Lloyd training runs HERE, at plan-build time,
    // not when the returned relation is first executed — callers build
    // search plans against model state that already exists (the FAISS
    // train-then-search lifecycle). Building a plan you never execute
    // still pays for training; don't construct these speculatively.
    val trained = trainCentroids(corpus, nlist, iters)
    val rows = trained.collect()
    require(rows.nonEmpty,
      s"trainCentroidsLiteral: training produced no centroids — the " +
        s"corpus has no vec_id in [0, $nlist); the lowest-id seed rule " +
        "needs ids starting at 0 (re-key, or seed explicitly)")
    corpus.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), trained.schema)
  }

  /** Training-free deterministic centroids: the `nlist` lowest-id
    * vectors (see [[ivfTopK]]'s scaladoc for the rationale).
    */
  private[graft] def seedCentroids(corpus: DataFrame, nlist: Int): DataFrame =
    corpus.filter(col("vec_id") < nlist)
      .select(col("vec_id").cast("int").as("cid"), col("embedding").as("centvec"))

  /** [[seedCentroids]] COLLECTED (nlist rows of model state) and
    * VALIDATED: the lowest-id seed rule silently yields a short or
    * empty centroid set on a corpus whose ids don't cover [0, nlist)
    * — e.g. an id-shifted slice — and an empty centroid relation turns
    * every downstream cell join into an empty result instead of an
    * error. Collecting lets us fail fast at plan-build time with the
    * id-contract spelled out. EAGER, like [[trainCentroidsLiteral]].
    */
  private[graft] def seedCentroidsLiteral(corpus: DataFrame,
      nlist: Int): DataFrame = {
    val seeds = seedCentroids(corpus, nlist)
    val rows = seeds.collect()
    require(rows.nonEmpty,
      s"seedCentroids: no vec_id in [0, $nlist) — the lowest-id seed " +
        "rule requires ids starting at 0; re-key the corpus or pass " +
        "explicit centroids")
    if (rows.length < nlist) {
      // Short seed set: fine iff the corpus is genuinely smaller than
      // nlist; a GAP in [0, nlist) while larger ids exist means the id
      // contract is broken and every downstream cell would silently be
      // fat or missing. The existence probe is a pushed-filter scan
      // that stops at the first matching row — never a full pass.
      require(corpus.filter(col("vec_id") >= nlist).isEmpty,
        s"seedCentroids: only ${rows.length} of $nlist seed ids present " +
          s"but ids ≥ $nlist exist — the id space has gaps below $nlist; " +
          "re-key the corpus or pass explicit centroids")
    }
    corpus.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), seeds.schema)
  }

  /** Deterministic Lloyd k-means over cosine assignment, built to be
    * ORACLE-REPRODUCIBLE: seeds are the `nlist` lowest-id vectors, the
    * iteration count is fixed, assignment rounds the cosine to 6 dp and
    * tie-breaks toward the smaller centroid id, and each updated
    * centroid dimension is an EXACT-DECIMAL mean (order-independent
    * sum) rounded to 6 dp and cast to float — every engine computing
    * the same recipe lands on bit-identical centroids, so the trained
    * index stays hash-checkable against DuckDB. Cells that lose all
    * vectors simply drop out (k shrinks), deterministically on both
    * sides.
    *
    * Scale notes: each iteration is one broadcast-nested-loop
    * assignment (codegen [[graft.plans.FloatVecDot]], map-side argmax
    * combine — the same pass the search path uses) plus one mean
    * aggregation shuffled on (cell, dimension); centroids never leave
    * the driver-broadcast size class. At 100 TB one trains on a sample
    * — pass `corpus.sample(...)` here; determinism then rides the
    * sample's seed.
    *
    * Output: [[CentroidSchema]] — feed to the probe/rerank via
    * [[ivfTopKTrained]].
    */
  def trainCentroids(corpus: DataFrame, nlist: Int, iters: Int): DataFrame = {
    import graft.plans.FloatVecOps.{floatDot, floatNorm2}
    var cents = seedCentroids(corpus, nlist)
    val base = corpus.select(col("vec_id").as("vid"), col("embedding").as("cvec"),
      sqrt(floatNorm2(col("embedding"))).as("vnrm"))
    (0 until iters).foreach { _ =>
      val centsN = cents.select(col("cid"), col("centvec"),
        sqrt(floatNorm2(col("centvec"))).as("cnrm"))
      val assigned = base
        .join(broadcast(centsN))
        .select(col("vid"), col("cvec"), col("cid"),
          round(floatDot(col("cvec"), col("centvec")) /
            (col("vnrm") * col("cnrm")), 6).as("acos"))
        .groupBy("vid")
        .agg(max_by(col("cid"), struct(col("acos"), -col("cid"))).as("cid"),
          first(col("cvec")).as("cvec"))
      cents = assigned
        .select(col("cid"), posexplode(col("cvec")).as(Seq("pos", "v")))
        .groupBy("cid", "pos")
        .agg(sum(col("v").cast("double").cast(TermType)).as("s"),
          count(lit(1)).as("n"))
        .select(col("cid"), col("pos"),
          round(col("s").cast("double") / col("n").cast("double"), 6)
            .cast("float").as("m"))
        .groupBy("cid")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          x => x.getField("m")).as("centvec"))
    }
    cents
  }

  /** (cid, centvec) — the columns and types [[trainCentroids]] emits. */
  val CentroidSchema: StructType = StructType(Seq(
    StructField("cid", IntegerType), StructField("centvec", ArrayType(FloatType))))

  /** Search phase shared by the seeded and trained IVF variants:
    * assign → probe → exact rerank (see [[ivfTopK]]'s scale notes).
    */
  /** Corpus → cell assignment (vid, cell, cvec): nearest centroid by
    * rounded codegen-float cosine, ties toward the smaller cell id —
    * the shared build step of the inline and persisted IVF paths.
    */
  def assignCells(corpus: DataFrame, cents: DataFrame): DataFrame = {
    import graft.plans.FloatVecOps.{floatDot, floatNorm2}
    val centsN = cents.select(col("cid"), col("centvec"),
      sqrt(floatNorm2(col("centvec"))).as("cnrm"))
    corpus
      .select(col("vec_id").as("vid"), col("embedding").as("cvec"),
        sqrt(floatNorm2(col("embedding"))).as("vnrm"))
      .join(broadcast(centsN))
      .select(col("vid"), col("cvec"),
        col("cid"),
        round(floatDot(col("cvec"), col("centvec")) /
          (col("vnrm") * col("cnrm")), 6).as("acos"))
      .groupBy("vid")
      .agg(
        max_by(col("cid"), struct(col("acos"), -col("cid"))).as("cell"),
        first(col("cvec")).as("cvec"))
  }

  /** Per-query probe cells: top-nProbe centroids by exact cosine.
    * Queries are few — the per-pair exact fold is fine at q·nlist
    * pairs, and produces the same doubles as the hash-agg path.
    */
  private def probeCells(queries: DataFrame, cents: DataFrame,
      nProbe: Int): DataFrame = {
    val qw = Window.partitionBy(col("qid")).orderBy(col("acos").desc, col("cid"))
    queries.select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      .join(broadcast(cents))
      .select(col("qid"), col("qvec"), col("cid"),
        cosineExact(col("qvec"), col("centvec")).as("acos"))
      .withColumn("rn", row_number().over(qw))
      .filter(col("rn") <= nProbe)
      .select(col("qid"), col("qvec"), col("cid").as("cell"))
  }

  /** Exact rerank of probed cells → per-query top-k. */
  private def rerankCells(assigned: DataFrame, qprobes: DataFrame,
      k: Int): DataFrame = {
    val scored = assigned.join(broadcast(qprobes), Seq("cell"))
      .filter(col("qid") =!= col("vid"))
      .select(col("qid"), col("vid"),
        cosineExact(col("qvec"), col("cvec")).as("cos"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "rank", "vid", "cos")
  }

  private def ivfSearch(corpus: DataFrame, queries: DataFrame, k: Int,
      nProbe: Int, cents: DataFrame): DataFrame =
    rerankCells(assignCells(corpus, cents), probeCells(queries, cents, nProbe), k)

  /** Persist the IVF index: centroids (tiny) plus the corpus assignment
    * laid out `partitionBy(cell)` — one directory per inverted list.
    * The layout IS the index: a probed search reads ONLY its probe
    * cells' directories via partition pruning, so an nProbe/nlist probe
    * scans that fraction of the corpus bytes. Built once per corpus
    * generation; at 100 TB this (like the MinHash band index) is the
    * standing artifact arriving queries hit.
    */
  def writeIvfIndex(corpus: DataFrame, path: String, nlist: Int = 16): Unit = {
    val cents = seedCentroids(corpus, nlist)
    cents.write.mode("overwrite").parquet(s"$path/centroids")
    assignCells(corpus, cents)
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/cells")
  }

  /** ANN over a PERSISTED [[writeIvfIndex]] index: probe cells come
    * from the stored centroids, and the cell scan is partition-pruned
    * to the probed cell ids. The probe-cell list is collected at
    * plan-build time — q·nProbe small integers (index metadata, never
    * row data), the IVF analog of reading an index root page.
    * Same results as [[ivfTopK]] over the same corpus.
    */
  def ivfTopKIndexed(spark: SparkSession, path: String, queries: DataFrame,
      k: Int, nProbe: Int = 4): DataFrame = {
    val cents = spark.read.parquet(s"$path/centroids")
    val qprobes = probeCells(queries, cents, nProbe)
    val cells = qprobes.select("cell").distinct()
      .collect().map(_.getInt(0)).toSeq
    val assigned = spark.read.parquet(s"$path/cells")
      .filter(col("cell").isin(cells: _*))
    rerankCells(assigned, qprobes, k)
  }

  /** Subvector split for the [[PqM]]×[[PqD]] geometry: (vec_id, m, sv)
    * with `sv` the m-th PqD-dim slice of the vector — the shared front
    * of training, encoding, and the LUT build.
    */
  private[graft] def pqSubvecs(df: DataFrame): DataFrame =
    df.select(col("vec_id"), posexplode(array((0 until PqM).map(m =>
      slice(col("embedding"), m * PqD + 1, PqD)): _*)).as(Seq("m", "sv")))

  /** Argmin PQ codebook assignment over pre-split subvectors:
    * (vec_id, m, cid, sv). The n·M·K distance pass runs the codegen
    * float kernel ([[graft.plans.FloatVecOps.floatSqDist]]); its
    * round-6 value feeds only the ARGMIN (round-6 double and round-6
    * exact decimal agree on the winner), ties to the lower centroid
    * id. The single source of truth for PQ assignment — the query
    * layer's encoder and [[pqEncode]] both call it, so the two can
    * never drift.
    */
  private[graft] def pqAssignSubs(subs: DataFrame, cents: DataFrame): DataFrame = {
    import graft.plans.FloatVecOps.floatSqDist
    subs.join(broadcast(cents), "m")
      .select(col("vec_id"), col("m"), col("sv"), col("cid"),
        round(floatSqDist(col("sv"), col("cv")), 6).as("adist"))
      .groupBy("vec_id", "m")
      .agg(min(struct(col("adist"), col("cid"))).as("mn"),
        first(col("sv")).as("sv"))
      .select(col("vec_id"), col("m"), col("mn.cid").as("cid"), col("sv"))
  }

  /** PQ-encode a vector relation against GIVEN codebooks (m, cid, cv):
    * one broadcast argmin pass → (vec_id, m, cid) code rows, PqM·⌈log₂K⌉
    * bits of payload per vector. This is the encode-against-stored-
    * model step of an ingest pipeline — codebooks are model state
    * (train once, on a sample at 100 TB), the corpus pays one map-side
    * pass.
    */
  def pqEncode(df: DataFrame, cents: DataFrame): DataFrame =
    pqAssignSubs(pqSubvecs(df), cents).select(col("vec_id"), col("m"), col("cid"))

  /** Decode PQ codes back to vectors: each vector is its subspace
    * codebook entries concatenated in subspace order. Codes × broadcast
    * codebooks (M·K rows); needed only where real arrays are required
    * (coarse cell assignment, recall baselines) — the ADC search paths
    * never call it.
    */
  def pqReconstruct(codes: DataFrame, cents: DataFrame): DataFrame =
    codes.join(broadcast(cents), Seq("m", "cid"))
      .groupBy(col("vec_id"))
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("m"), col("cv")))),
        x => x.getField("cv"))).as("embedding"))

  /** Per-query ADC lookup tables — the FAISS asymmetric-distance trick
    * (Jégou et al. 2011, "Product Quantization for Nearest Neighbor
    * Search"): for each (query, subspace m, codebook entry cid), the
    * exact-decimal partial dot of the query's m-th subvector with that
    * entry, plus the entry's partial squared norm. The cosine of a query
    * against ANY code-reconstructed vector is then [[PqM]] byte-indexed
    * lookups summed — the corpus's original floats are never touched.
    *
    * Output is q·PqM·K rows (3·8·16 = 384 at demo geometry) — broadcast
    * state, same size class as the codebooks themselves.
    *
    * Hash-exactness: the decimal terms are EXACT (TermType rounds each
    * double product once; accumulation never rounds), so summing PqM
    * per-subspace partials reproduces bit-for-bit the 64-term fold that
    * [[cosineExact]] computes over the full reconstruction — ADC results
    * hash-match the reconstruction path by associativity, not by luck.
    */
  def pqLut(queries: DataFrame, cents: DataFrame): DataFrame = {
    val qsubs = queries.select(col("vec_id").as("qid"),
      posexplode(array((0 until PqM).map(m =>
        slice(col("embedding"), m * PqD + 1, PqD)): _*)).as(Seq("m", "qsv")))
    qsubs.join(broadcast(cents), "m")
      .select(col("qid"), col("m"), col("cid"),
        dotExactDec(col("qsv"), col("cv")).as("pdot"),
        norm2ExactDec(col("cv")).as("pnorm"))
  }

  /** (qid, vid, cos) ADC scores for every (query, coded vector) pair:
    * the corpus-side scan reads ONLY the (vec_id, m, cid) code rows —
    * no reconstruction join, no float arrays — joins the broadcast
    * [[pqLut]] and map-side-combines the PqM decimal partials per
    * pair into one slim row. Values are bit-identical to
    * `cosineExact(query, reconstruction)` (see [[pqLut]]).
    *
    * Scale shape: the scan is over codes (64× smaller than floats at
    * PQ8×4), the LUT join is broadcast, and the aggregate's map-side
    * combine shrinks the shuffle to one row per (query, vector) — at
    * 100 TB this is the pass that makes billion-vector search read
    * gigabytes, not terabytes.
    */
  def adcScores(codes: DataFrame, cents: DataFrame,
      queries: DataFrame): DataFrame = {
    val lut = pqLut(queries, cents)
    val qn = queries.select(col("vec_id").as("qid"),
      sqrt(norm2Exact(col("embedding"))).as("qnrm"))
    codes.select(col("vec_id").as("vid"), col("m"), col("cid"))
      .join(broadcast(lut), Seq("m", "cid"))
      .filter(col("qid") =!= col("vid"))
      .groupBy("qid", "vid")
      .agg(sum(col("pdot")).as("dot"), sum(col("pnorm")).as("cn"))
      .join(broadcast(qn), "qid")
      .select(col("qid"), col("vid"),
        round(col("dot").cast("double") /
          (col("qnrm") * sqrt(col("cn").cast("double"))), 6).as("cos"))
  }

  /** ADC top-k over PQ codes: [[adcScores]] + the per-query rank
    * window. Same output contract as `bruteForceTopK(recon, queries)`
    * — identical rows, identical hashes — at PqM lookup-adds per pair
    * instead of a 3×64-term decimal fold over reconstructed arrays.
    */
  def adcTopK(codes: DataFrame, cents: DataFrame, queries: DataFrame,
      k: Int): DataFrame = {
    val scored = adcScores(codes, cents, queries)
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "rank", "vid", "cos")
  }

  /** IndexIVFPQ search with ADC scoring. The coarse stage is unchanged
    * from [[ivfTopK]] over the reconstruction — cell assignment is the
    * association-sensitive codegen-float cosine, so it must stay on the
    * exact same arithmetic path to keep cells bit-identical — but the
    * probed-cell rerank (the cost center: ~nProbe/nlist of the corpus
    * per query) is the ADC sum over codes, never touching the
    * reconstructed arrays. Results hash-match `ivfTopK(recon, queries)`.
    *
    * Scale shape: persisted IVFPQ stores codes partitioned by cell
    * (the [[writeIvfIndex]] layout), so the `pairs` join below becomes
    * a partition-pruned scan of the probed cells' code files; the LUT
    * and probe list stay broadcast. The reconstruction is only needed
    * to BUILD the index (assignment), amortized across query batches.
    */
  def adcIvfTopK(codes: DataFrame, cents: DataFrame, recon: DataFrame,
      queries: DataFrame, k: Int, nlist: Int = 16,
      nProbe: Int = 4): DataFrame = {
    val coarse = seedCentroids(recon, nlist)
    val assigned = assignCells(recon, coarse)
      .select(col("vid"), col("cell"))
    val qprobes = probeCells(queries, coarse, nProbe)
      .select(col("qid"), col("cell"))
    val pairs = assigned.join(broadcast(qprobes), Seq("cell"))
      .filter(col("qid") =!= col("vid"))
      .select(col("qid"), col("vid"))
    val lut = pqLut(queries, cents)
    val qn = queries.select(col("vec_id").as("qid"),
      sqrt(norm2Exact(col("embedding"))).as("qnrm"))
    val scored = codes.select(col("vec_id").as("vid"), col("m"), col("cid"))
      .join(pairs, "vid")
      .join(broadcast(lut), Seq("qid", "m", "cid"))
      .groupBy("qid", "vid")
      .agg(sum(col("pdot")).as("dot"), sum(col("pnorm")).as("cn"))
      .join(broadcast(qn), "qid")
      .select(col("qid"), col("vid"),
        round(col("dot").cast("double") /
          (col("qnrm") * sqrt(col("cn").cast("double"))), 6).as("cos"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "rank", "vid", "cos")
  }

  /** Persist the IVFPQ index — the artifact a 100 TB deployment
    * actually keeps on object storage (FAISS IndexIVFPQ's on-disk
    * shape): coarse centroids (nlist rows) and PQ codebooks (M·K rows)
    * as tiny model-state files, and the corpus as CODE ROWS ONLY —
    * (vid, m, cid) laid out `partitionBy(cell)`, one directory per
    * inverted list, 64× smaller than the float vectors at PQ8×4. The
    * original embeddings are not stored at all: searches are ADC over
    * codes ([[adcIvfTopKIndexed]]), so the standing index costs code
    * bytes, and a probed search reads only its probe cells' code files
    * via partition pruning.
    *
    * Cell assignment runs over the PQ RECONSTRUCTION (real arrays, the
    * SAME codegen-float cosine as the inline [[adcIvfTopK]], so the
    * persisted cells are bit-identical to the inline ones) — and the
    * reconstruction is fully determined by codes + codebooks, so the
    * build takes only those. The encode pass (the expensive stage —
    * n·M·K distances over the raw corpus) is paid ONCE: the code rows
    * are STAGED to parquet first, and the coarse seeds, the cell
    * assignment, and the final partitioned write all derive from the
    * staged (64×-compressed) rows instead of re-evaluating the lazy
    * encode plan per consumer — at 100 TB one extra write+read of the
    * compressed codes beats three map passes over the float corpus.
    * Build is once per corpus generation.
    */
  def writeIvfPqIndex(codes: DataFrame, cents: DataFrame,
      path: String, nlist: Int = 16): Unit = {
    val spark = codes.sparkSession
    codes.select(col("vec_id"), col("m"), col("cid"))
      .write.mode("overwrite").parquet(s"$path/codes_staging")
    val staged = spark.read.parquet(s"$path/codes_staging")
    val recon = pqReconstruct(staged, cents)
    val coarse = seedCentroidsLiteral(recon, nlist)
    coarse.write.mode("overwrite").parquet(s"$path/coarse")
    cents.write.mode("overwrite").parquet(s"$path/codebooks")
    val assigned = assignCells(recon, coarse)
      .select(col("vid"), col("cell"))
    staged.select(col("vec_id").as("vid"), col("m"), col("cid"))
      .join(assigned, "vid")
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/codes")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/codes_staging"), true)
  }

  /** ANN over a PERSISTED [[writeIvfPqIndex]] index — the full FAISS
    * IndexIVFPQ read path: probe cells come from the stored coarse
    * centroids (q·nProbe small ints collected at plan-build time —
    * index metadata, the root-page read), the code scan is
    * PARTITION-PRUNED to the probed cells' directories (plan-asserted
    * in IvfIndexSpec), and scoring is the broadcast-LUT ADC sum over
    * code rows with a map-side combine to one slim row per
    * (query, vector). Nothing float-sized is ever read: at a billion
    * vectors the probed fraction of a 64×-compressed corpus is
    * gigabytes, not terabytes. Results hash-match the inline
    * [[adcIvfTopK]] over the same corpus (decimal partials sum
    * exactly; floats round-trip parquet bit-for-bit).
    */
  def adcIvfTopKIndexed(spark: SparkSession, path: String,
      queries: DataFrame, k: Int, nProbe: Int = 4): DataFrame = {
    val coarse = spark.read.parquet(s"$path/coarse")
    val cbooks = spark.read.parquet(s"$path/codebooks")
    val qprobes = probeCells(queries, coarse, nProbe)
      .select(col("qid"), col("cell"))
    val cells = qprobes.select("cell").distinct()
      .collect().map(_.getInt(0)).toSeq
    val lut = pqLut(queries, cbooks)
    val qn = queries.select(col("vec_id").as("qid"),
      sqrt(norm2Exact(col("embedding"))).as("qnrm"))
    val scored = spark.read.parquet(s"$path/codes")
      .filter(col("cell").isin(cells: _*))
      .join(broadcast(qprobes), Seq("cell"))
      .filter(col("qid") =!= col("vid"))
      .join(broadcast(lut), Seq("qid", "m", "cid"))
      .groupBy("qid", "vid")
      .agg(sum(col("pdot")).as("dot"), sum(col("pnorm")).as("cn"))
      .join(broadcast(qn), "qid")
      .select(col("qid"), col("vid"),
        round(col("dot").cast("double") /
          (col("qnrm") * sqrt(col("cn").cast("double"))), 6).as("cos"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "rank", "vid", "cos")
  }

  /** Mean-pooled centroid per group, in LONG form: (group key, pos, m)
    * with `pos` 0-based and `m` the per-dimension exact-decimal mean
    * rounded to 6 dp — the arithmetic [[trainCentroids]] uses, so the
    * result is oracle-reproducible bit-for-bit. The long layout is the
    * shuffle-friendly one (keyed by (group, pos), map-side-combined
    * decimal sums, O(groups × dims) output regardless of corpus size);
    * reassemble arrays downstream with the same array_sort/transform
    * collect [[trainCentroids]] uses if a vector column is needed.
    * This is the "class centroid" primitive: per-language / per-cluster
    * mean embeddings for pseudo-labeling, drift monitoring, or seeding
    * a coarse quantizer from labeled strata.
    */
  def meanPool(df: DataFrame, groupCols: Seq[String]): DataFrame =
    df.select(groupCols.map(col) :+
        posexplode(col("embedding")).as(Seq("pos", "v")): _*)
      .groupBy(groupCols.map(col) :+ col("pos"): _*)
      .agg(sum(col("v").cast("double").cast(TermType)).as("s"),
        count(lit(1)).as("n"))
      .select(groupCols.map(col) :+ col("pos") :+
        round(col("s").cast("double") / col("n").cast("double"), Decimals)
          .as("m"): _*)

  /** Per-dimension stats for SQ8 scalar quantization: (pos, mn, mx) with
    * `pos` 0-based. One posexplode + one map-side-combined aggregate —
    * O(dims) output rows regardless of corpus size. At 100 TB, train on
    * a sample exactly as with [[trainCentroids]].
    */
  def sq8Stats(corpus: DataFrame): DataFrame =
    corpus.select(posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy("pos")
      .agg(min(col("v").cast("double")).as("mn"),
        max(col("v").cast("double")).as("mx"))

  /** SQ8 encode: map a float-vector column to per-dimension byte codes
    * 0–255 — `floor((v − mn)/(mx − mn)·255 + 0.5)` — against stats
    * literals (the [[sq8Stats]] rows, collected: O(dims) driver state,
    * same class as broadcast centroids). This is the memory-compression
    * half of the large-scale ANN story: 64 float32 dims become 64 bytes,
    * a 4× cut in scan bytes (FAISS's SQ8), composing with IVF cells —
    * store codes per cell, scan compressed, rerank survivors at full
    * precision. The map is a pure codegen `transform`, so encoding fuses
    * with the scan. A degenerate dimension (mx = mn) encodes to 0.
    * Determinism: plain double arithmetic with a fixed association, so
    * any engine computing the same formula lands on the same codes.
    */
  def sq8Encode(vec: Column, mns: Seq[Double], mxs: Seq[Double]): Column =
    transform(vec, (v, i) => {
      val mn = element_at(lit(mns.toArray), i + 1)
      val mx = element_at(lit(mxs.toArray), i + 1)
      when(mx === mn, lit(0L))
        .otherwise(floor((v.cast("double") - mn) / (mx - mn) * lit(255.0)
          + lit(0.5)))
        .cast("int")
    })

  /** SQ8 decode: codes → reconstructed doubles `c/255·(mx − mn) + mn`
    * (the centers the encoder rounded to, up to the floor step). Search
    * over reconstructions is ASYMMETRIC distance computation: queries
    * stay full-precision, only the corpus pays the quantization error.
    */
  def sq8Dequantize(codes: Column, mns: Seq[Double], mxs: Seq[Double]): Column =
    transform(codes, (c, i) => {
      val mn = element_at(lit(mns.toArray), i + 1)
      val mx = element_at(lit(mxs.toArray), i + 1)
      c.cast("double") / lit(255.0) * (mx - mn) + mn
    })

  /** Exact-decimal squared reconstruction error Σ(aᵢ−bᵢ)² — order-
    * independent accumulation, so both engines produce identical doubles.
    */
  def squaredErrorExact(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => {
        val d = x.cast("double") - y.cast("double")
        (d * d).cast(TermType)
      }),
      lit(0).cast(AccType), (acc, v) => (acc + v).cast(AccType))
      .cast("double")

  /** Full [[SigBits]]-bit sign signature: one '0'/'1' char per dimension. */
  def signSignature(vec: Column): Column =
    concat((1 to SigBits).map(i =>
      when(element_at(vec, i) > 0f, "1").otherwise("0")): _*)

  /** Expected candidate recall of banded sign-LSH for a pair at cosine
    * `cos`: sign agreement per dim is p = 1 − acos(cos)/π, a band of
    * `bandBits` dims matches with p^bits, and OR-amplification over
    * `bands` bands captures the pair with 1 − (1 − p^bits)^bands.
    *
    * Use this to budget band geometry at scale: expected candidate
    * PAIRS are ~`bands · n² / 2^bandBits` (uniform-bucket estimate), so
    * holding recall while growing n means raising `bandBits` (each +1
    * bit halves candidates) until the recall target at YOUR threshold
    * breaks, not scanning more pairs. Measured on this repo's 10×
    * scale-up (SCALING.md): 16 bands × 4 bits = 128.8M candidates /
    * 293 s; 8 bands × 8 bits = 6.2M candidates / 18 s — at a 0.9
    * near-dup threshold the 8-bit geometry still gives 0.93 recall,
    * while at the demo query's deliberately-low 0.4 threshold only the
    * coarse 4-bit geometry keeps recall ≥0.9 (candidates ~n²/2^4 are
    * then the price of that threshold — low-threshold similarity at
    * scale belongs to [[ivfTopK]]-style probing, not banding).
    */
  def bandRecall(cos: Double, bands: Int, bandBits: Int): Double = {
    val p = 1.0 - math.acos(cos) / math.Pi
    1.0 - math.pow(1.0 - math.pow(p, bandBits.toDouble), bands.toDouble)
  }

  /** A banded sign-LSH geometry chosen by [[chooseGeometry]]: `bands`
    * bands of `bandBits` bits each (bands·bandBits = the signature
    * width), with its predicted cost and quality at the inputs it was
    * chosen for. `withinBudget` = false flags that even the cheapest
    * recall-feasible banding exceeds the caller's candidate budget —
    * the signal that this threshold/scale combination belongs to
    * [[ivfTopK]]-style probing, not banding.
    */
  final case class Geometry(bands: Int, bandBits: Int,
      expectedCandidates: Double, recall: Double, withinBudget: Boolean)

  /** Pick the band geometry for [[nearDupPairs]] at a given scale —
    * the executable form of the [[bandRecall]] calculus.
    *
    * Enumerates the full partitions of the [[SigBits]]-bit signature
    * (bands × bandBits = SigBits, the shape [[signSignature]] hashes)
    * and returns the one minimizing expected candidate pairs
    * ~ bands · n²/2 / 2^bandBits (uniform-bucket estimate) subject to
    * bandRecall(threshold, bands, bandBits) ≥ recallTarget. Ties (and
    * the geometry lattice generally) resolve toward MORE bits per
    * band — each +1 bit halves candidates, which is the only lever
    * that survives growing n.
    *
    * Measured anchor (SCALING.md "Measured scale evidence"): at 10×
    * data the 16×4 demo geometry produced 128.8M candidates where the
    * 8×8 geometry produced 6.2M — the 21× cut this function predicts.
    *
    * @param n          corpus size the job will run at (not the test SF)
    * @param threshold  cosine threshold whose pairs must be captured
    * @param recallTarget minimum acceptable candidate recall AT the
    *                   threshold (recall above it is strictly higher)
    * @param candidateBudget max acceptable expected candidate pairs;
    *                   when even the best feasible geometry exceeds it,
    *                   that geometry is still returned with
    *                   `withinBudget = false`
    */
  def chooseGeometry(n: Long, threshold: Double, recallTarget: Double,
      candidateBudget: Double = Double.PositiveInfinity): Geometry = {
    require(n > 0 && threshold > -1.0 && threshold < 1.0, "bad inputs")
    require(recallTarget > 0.0 && recallTarget <= 1.0, "bad recall target")
    val options = (1 to SigBits).filter(SigBits % _ == 0).reverse.flatMap { bits =>
      val bands = SigBits / bits
      val recall = bandRecall(threshold, bands, bits)
      val cands = bands.toDouble * n.toDouble * n.toDouble / 2.0 /
        math.pow(2.0, bits.toDouble)
      if (recall >= recallTarget)
        Some(Geometry(bands, bits, cands, recall, cands <= candidateBudget))
      else None
    }
    require(options.nonEmpty,
      s"no $SigBits-bit banding reaches recall $recallTarget at threshold " +
        s"$threshold — lower the threshold's recall target or use IVF probing")
    options.minBy(_.expectedCandidates) // .reverse above = ties prefer more bits
  }

  /** [[chooseGeometry]]'s WIDTH-SCALED sibling: geometry for
    * [[nearDupPairsWide]], where the signature is `bands·bandBits`
    * seeded Rademacher hyperplanes ([[rademacherPlanes]]) rather than a
    * partition of the raw [[SigBits]] sign bits — so `bandBits` can keep
    * growing with the corpus instead of stopping at `log₂` of the
    * vector width.
    *
    * Why this is the 100 TB form: ANY fixed geometry has expected
    * candidates ~ `bands·n²/2^bits` — quadratic in n (measured: this
    * repo's 8×8 geometry read 61.6k → 6.16M → 616.5M candidates across
    * the sf0.1→sf1→sf10 decades, exactly 100× per decade). Holding
    * CANDIDATES-PER-ITEM constant instead requires `2^bits ∝ n`, i.e.
    * `bits ≈ log₂ n` — and recall at the threshold is then restored by
    * growing `bands` (OR-amplification), paying signature width, which
    * is LINEAR work per row. Standard S-curve tuning (Leskovec/
    * Rajaraman/Ullman, "Mining of Massive Datasets" ch. 3).
    *
    * Selection rule: for ascending `bits`, `bands` is the smallest
    * count reaching `recallTarget` (so recall ≥ target by
    * construction); the first `bits` whose uniform-bucket
    * candidates-per-item `bands·n/2^bits` fits `candidatesPerItem`
    * wins (it is also the narrowest feasible signature — both
    * candidate volume and signature cost fall/rise monotonically).
    * When nothing fits within `maxBandBits`/`maxBands`, the
    * least-candidates geometry is returned with
    * `withinBudget = false` — the same use-IVF-probing signal as
    * [[chooseGeometry]].
    *
    * Cost awareness: holding BOTH recall and the per-item budget,
    * `bands ≈ ln(1/(1−recall))/pᵇⁱᵗˢ` — signature width grows faster
    * than `log n` (e.g. ~3.4k planes at n=2·10⁷, ~15k at n=2·10⁹ for
    * threshold 0.9). The signature is still map-side linear work,
    * computed once per row and persistable with the corpus, but past
    * ~10⁹ items per run you'd either relax `candidatesPerItem`
    * (candidates are cheap to verify relative to a 15k-plane
    * signature) or move to IVF probing.
    */
  def chooseGeometryWide(n: Long, threshold: Double, recallTarget: Double,
      candidatesPerItem: Double = 64.0, maxBandBits: Int = 40,
      maxBands: Int = 512): Geometry = {
    require(n > 0 && threshold > 0.0 && threshold < 1.0,
      "chooseGeometryWide needs n > 0 and a threshold in (0, 1) — at " +
        "cos ≤ 0 sign agreement p ≤ 1/2 and wider bands no longer " +
        "shrink candidates; that regime belongs to IVF probing")
    require(recallTarget > 0.0 && recallTarget < 1.0, "bad recall target")
    val p = 1.0 - math.acos(threshold) / math.Pi
    val options = (1 to maxBandBits).flatMap { bits =>
      val pb = math.pow(p, bits.toDouble)
      val bands = math.max(1,
        math.ceil(math.log1p(-recallTarget) / math.log1p(-pb)).toInt)
      if (bands > maxBands) None
      else {
        val perItem = bands.toDouble * n.toDouble / math.pow(2.0, bits.toDouble)
        Some(Geometry(bands, bits, perItem * n.toDouble / 2.0,
          bandRecall(threshold, bands, bits), perItem <= candidatesPerItem))
      }
    }
    require(options.nonEmpty,
      s"no geometry within $maxBands bands reaches recall $recallTarget " +
        s"at threshold $threshold — lower the target or use IVF probing")
    options.find(_.withinBudget).getOrElse(
      options.minBy(_.expectedCandidates))
  }

  /** Seed of the [[nearDupPairsWide]] hyperplanes — one constant
    * shared by the operator and the oracle-SQL generator, so the two
    * can never derive different planes.
    */
  val WidePlaneSeed = 42L

  /** Seeded Rademacher (±1) hyperplane matrix — collected model state
    * in the [[trainCentroidsLiteral]] size class: `bits` planes × `dim`
    * entries, sign p,j drawn from the splitmix64 finalizer of
    * `seed + p·dim + j` (Steele et al. 2014) so every process, every
    * round, and the oracle-SQL generator all derive the SAME planes
    * from `(bits, dim, seed)` — no RNG state, no shipped files.
    */
  def rademacherPlanes(bits: Int, dim: Int, seed: Long): Array[Array[Byte]] = {
    require(bits > 0 && dim > 0, "bad plane shape")
    def mix(x: Long): Long = {
      var z = x + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    Array.tabulate(bits, dim)((p, j) =>
      if (mix(seed + p.toLong * dim + j) < 0L) (-1).toByte else 1.toByte)
  }

  /** [[nearDupPairs]] over a WIDE Rademacher signature — the variant
    * whose candidate volume stays linear in corpus size when paired
    * with [[chooseGeometryWide]] (which see, for the calculus and the
    * measured quadratic cliff it replaces). Pipeline after the
    * signature is IDENTICAL to [[nearDupPairs]] (shared
    * [[bandedPairs]]): slim (band, key) self-join candidates, codegen
    * double-cosine prefilter, exact-decimal rerank. The signature
    * itself is one native codegen expression
    * ([[graft.plans.RademacherSig]]) — `bands·bandBits·dim`
    * multiply-adds per row, linear map-side work that at 100 TB would
    * be computed once and persisted with the corpus like the band
    * index ([[graft.operators.Dedup.writeBandIndex]]).
    */
  def nearDupPairsWide(df: DataFrame, threshold: Double, prefilter: Double,
      geometry: Geometry): DataFrame = {
    import graft.plans.FloatVecOps.{floatNorm2, rademacherSig}
    val planes = rademacherPlanes(geometry.bands * geometry.bandBits,
      SigBits, WidePlaneSeed)
    val base = df.select(col("vec_id").as("id"), col("embedding").as("vec"),
      rademacherSig(col("embedding"), planes).as("sig"),
      sqrt(floatNorm2(col("embedding"))).as("nrm"))
    bandedPairs(base, geometry.bands, geometry.bandBits, threshold, prefilter)
  }

  /** Embedding near-duplicate pairs via OR-amplified banded sign-LSH —
    * the 100-TB shape (round 1 was an all-pairs theta join; this replaces
    * it). Every vector's 64-bit sign signature splits into
    * `geometry.bands` bands of `geometry.bandBits` bits; a pair is a CANDIDATE iff at least one band
    * matches exactly. Candidates come from a self-join on slim
    * (band, key) tuples — a hash-equality shuffle join, never n² — then
    * join their vectors back and pay the cheap codegen double-cosine
    * prefilter plus the exact-decimal rerank. Same band-OR amplification
    * as MinHash-LSH ([[graft.operators.Dedup.lshCandidates]]).
    *
    * Semantics: approximate by design — a pair disagreeing somewhere in
    * EVERY band is never considered. With 16 bands × 4 bits and sign
    * agreement p = 1 − θ/π per dim, candidate recall is
    * 1 − (1 − p⁴)¹⁶ (≈0.93 at cos 0.4, →1 as cos→1: the closer a pair,
    * the surer its capture — the right trade for near-dup detection).
    * The oracle reproduces the same candidate rule, so output is
    * deterministic. The geometry for YOUR n and threshold comes from
    * [[chooseGeometry]].
    */
  def nearDupPairs(df: DataFrame, threshold: Double, prefilter: Double,
      geometry: Geometry): DataFrame = {
    import graft.plans.FloatVecOps.floatNorm2
    // Norms computed once per ROW; vectors stay OUT of the candidate join.
    val base = df.select(col("vec_id").as("id"), col("embedding").as("vec"),
      signSignature(col("embedding")).as("sig"),
      sqrt(floatNorm2(col("embedding"))).as("nrm"))
    bandedPairs(base, geometry.bands, geometry.bandBits, threshold, prefilter)
  }

  /** Shared band-join + verify pipeline of [[nearDupPairs]] /
    * [[nearDupPairsWide]]: split `sig` into `bands` keys, self-join on
    * (band, key), distinct, then codegen double-cosine prefilter and
    * exact-decimal rerank of candidates only.
    */
  private def bandedPairs(base: DataFrame, bands: Int, bandBits: Int,
      threshold: Double, prefilter: Double): DataFrame = {
    import graft.plans.FloatVecOps.floatDot
    val bandStructs = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        col("sig").substr(b * bandBits + 1, bandBits).as("key"))
    }
    val probes = base.select(col("id"), explode(array(bandStructs: _*)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.key").as("key"))
    val cand = probes.as("x").join(probes.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
    val a = base.select(col("id").as("id_a"), col("vec").as("va"), col("nrm").as("na"))
    val b = base.select(col("id").as("id_b"), col("vec").as("vb"), col("nrm").as("nb"))
    val cheap = round(floatDot(col("va"), col("vb")) / (col("na") * col("nb")), 8)
    cand.join(a, "id_a").join(b, "id_b")
      .filter(cheap >= prefilter)
      .select(col("id_a"), col("id_b"),
        cosineExact(col("va"), col("vb")).as("cos"))
      .filter(col("cos") >= threshold)
  }
}
