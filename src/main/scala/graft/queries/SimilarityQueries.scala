package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Similarity
import graft.sources.{ArtifactRegistry, Sources}
import graft.sources.ArtifactRegistry.Kind

/** Similarity-search queries over `embeddings` (north-star extension):
  * brute-force cosine top-k baseline, sign-LSH bucketed ANN, and
  * embedding-cosine near-duplicate pairs.
  *
  * Determinism: cosine terms accumulate as exact DECIMAL(28,12) (order-
  * independent), so both engines produce identical doubles and identical
  * rankings; thresholds/prefilters are applied on identical values.
  */
object SimilarityQueries {

  // Scale-adaptive fan-out (Sources.fannedTable scaladoc): distance
  // kernels (dot products, PQ/SQ8 codecs, signatures) fuse into the
  // scan; the single-row-group testdata file would run them on ONE
  // core. No-op at production split counts.
  private def emb(s: SparkSession, dir: String) =
    Sources.fannedTable(s, dir, "embeddings", "vec_id")

  private val QueryIds = Seq(0L, 1L, 2L)

  /** Corpus size feeding [[Similarity.chooseGeometry]], cached per
    * dataset dir. The count is PLAN-BUILD state (same class as sq8
    * stats or broadcast centroids), not part of the query DAG — so it
    * comes from parquet footer metadata ([[Sources.parquetRowCount]]:
    * zero Spark jobs, zero data pages) and is computed once per JVM per
    * dir. At warehouse scale the equivalent number comes from catalog
    * statistics. SimilarityQueriesSpec asserts a rebuilt
    * `s_embed_neardup_scaled` runs no extra job.
    */
  private val CorpusCount = new Kind[Long]("embeddings row count")
  private def embCount(s: SparkSession, dir: String): Long =
    ArtifactRegistry(CorpusCount, dir)(
      Sources.parquetRowCount(s, s"$dir/embeddings.parquet"))

  /** First-16-dims truncation shared by the matryoshka queries: the
    * dimension-truncation leg of the compression family (prefix dot =
    * the 64-dim dot's first 16 terms, so oracles sum i ≤ 16 over the
    * FULL arrays — no slicing needed on the SQL side).
    */
  private def prefix16(df: DataFrame): DataFrame =
    df.select(col("vec_id"), slice(col("embedding"), 1, 16).as("embedding"))

  /** Probe budget for `s_mrl_ivf`'s stage 1: 8 of 16 prefix cells.
    * On these isotropic test vectors prefix cosines are near-noise, so
    * half the cells is the budget that keeps the funnel's stage-1
    * candidate set rich enough for its top-5 to equal the brute
    * prefix-scan baseline (spec-asserted); on MRL-trained embeddings
    * the same funnel holds at far smaller fractions.
    */
  private val MrlProbes = 8

  /** Stage 2 of both matryoshka queries: full-dim exact-decimal rerank
    * of the (qid, vid) stage-1 survivors to top-5 — one shared body so
    * the funnel and the baseline can never drift in their rerank.
    */
  private def mrlFullRerank(e: DataFrame, widened: DataFrame): DataFrame = {
    val qv = e.select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val cv = e.select(col("vec_id").as("vid"), col("embedding").as("cvec"))
    val scored = widened.join(broadcast(qv), "qid").join(cv, "vid")
      .select(col("qid"), col("vid"),
        Similarity.cosineExact(col("qvec"), col("cvec")).as("cos"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("vid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select("qid", "rank", "vid", "cos")
      .orderBy("qid", "rank")
  }

  /** Standing prefix-16 IVF index for `s_mrl_ivf`'s stage 1, built
    * once per JVM per dataset at a Scratch-keyed path (package-visible:
    * the spec asserts per-query pruning against this same artifact).
    */
  private val MrlIndex = new Kind[String]("s_mrl_ivf prefix-IVF index")
  private[queries] def builtMrlIndex(s: SparkSession, dir: String): String =
    ArtifactRegistry(MrlIndex, dir) {
      val path = graft.sources.Scratch.dir("mrlivf", dir)
      Similarity.writeIvfIndex(prefix16(emb(s, dir)), path, nlist = 16)
      path
    }

  /** Trained `nlist`-cell Lloyd centroids (2 rounds) per (dataset dir,
    * nlist), collected once per JVM (the standing-model convention:
    * training is the one-time cost, queries pay only assignment) — also
    * serves d_semantic (16 cells, the teaching default) and
    * d_semantic_auto (chooseNlist(n) cells).
    */
  private val TrainedCents =
    new Kind[Seq[org.apache.spark.sql.Row]]("k-means centroids")
  private[queries] def trainedCentsN(s: SparkSession, dir: String,
      nlist: Int): DataFrame = {
    val rows = ArtifactRegistry(TrainedCents, dir, nlist)(
      Similarity.trainCentroidsLiteral(emb(s, dir), nlist = nlist, iters = 2)
        .collect().toSeq)
    s.createDataFrame(java.util.Arrays.asList(rows: _*),
      rows.head.schema)
  }
  private def trainedCentsOf(s: SparkSession, dir: String): DataFrame =
    trainedCentsN(s, dir, 16)

  /** Standing IVFPQ index for `s_ann_ivfpq_indexed`, built once per
    * JVM per dataset dir. The path comes from [[graft.sources.Scratch]]:
    * full-digest key (no 32-bit `hashCode` collisions across dataset
    * dirs) + per-JVM nonce (two concurrent processes on the same dir
    * never share an index path — the r13 advisory).
    */
  private val IvfPqIndex = new Kind[String]("s_ann_ivfpq_indexed index")
  private def builtIvfPqIndex(s: SparkSession, dir: String): String =
    ArtifactRegistry(IvfPqIndex, dir) {
      val centsL = pqCodebooksOf(s, dir)
      val path = graft.sources.Scratch.dir("ivfpq", dir)
      Similarity.writeIvfPqIndex(Similarity.pqEncode(emb(s, dir), centsL),
        centsL, path)
      path
    }

  /** Oracle SQL for the sign-LSH bucket of a vector expression — shared
    * by the s_ann_lsh index and the s_ann_recall metric so the two can
    * never drift apart.
    */
  private def lshBucketSql(v: String): String = Similarity.LshDims
    .map(d => s"(CASE WHEN $v[$d] > 0 THEN '1' ELSE '0' END)")
    .mkString(" || ")

  /** Oracle CTE: exact-decimal cosine for candidate (qid, vid) pairs laid
    * out by the enclosing query as cand(qid, vid, qvec, cvec).
    */
  private val cosCte: String =
    """terms AS (SELECT qid, vid,
      |    CAST(CAST(qvec[i] AS DOUBLE) * CAST(cvec[i] AS DOUBLE)
      |      AS DECIMAL(28,12)) AS p,
      |    CAST(CAST(qvec[i] AS DOUBLE) * CAST(qvec[i] AS DOUBLE)
      |      AS DECIMAL(28,12)) AS qq,
      |    CAST(CAST(cvec[i] AS DOUBLE) * CAST(cvec[i] AS DOUBLE)
      |      AS DECIMAL(28,12)) AS cc
      |  FROM cand, generate_series(1, 64) AS t(i)),
      |scored AS (SELECT qid, vid,
      |    round(CAST(sum(p) AS DOUBLE)
      |      / (sqrt(CAST(sum(qq) AS DOUBLE)) * sqrt(CAST(sum(cc) AS DOUBLE))),
      |      6) AS cos
      |  FROM terms GROUP BY qid, vid)""".stripMargin

  /** Shared oracle of `d_semantic` and `d_semantic_auto` (the latter's
    * chooseNlist resolves to the same 16 cells at the oracle corpus).
    */
  private lazy val dSemanticOracleSql: String =
    s"""WITH $trainedAssignSql,
      |cand AS (SELECT x.vid AS qid, y.vid AS vid,
      |    xe.embedding AS qvec, ye.embedding AS cvec
      |  FROM assignedF x
      |  JOIN assignedF y ON x.cell = y.cell AND x.vid < y.vid
      |  JOIN embeddings xe ON xe.vec_id = x.vid
      |  JOIN embeddings ye ON ye.vec_id = y.vid),
      |$cosCte,
      |wit AS (SELECT vid, min(qid) AS witness
      |  FROM scored WHERE cos >= 0.4 GROUP BY vid)
      |SELECT a.vid AS vec_id, a.cell, w.witness,
      |  w.witness IS NULL AS keep
      |FROM assignedF a LEFT JOIN wit w ON a.vid = w.vid
      |ORDER BY vec_id""".stripMargin

  /** Oracle of `s_embed_neardup_wide`, GENERATED for the geometry and
    * Rademacher planes at the ORACLE corpus size (sf0.01: 500 vectors —
    * the driver's correctness SF; see the query's comment). Each
    * signature bit is a left-associated ± chain of the vector's dims
    * cast to DOUBLE — IEEE-identical to [[graft.plans.RademacherSig]]'s
    * sequential double accumulation, because multiplying by ±1 and
    * adding 0.0 are exact.
    */
  private lazy val wideOracleSql: String = {
    val geom = Similarity.chooseGeometryWide(
      n = 500L, threshold = 0.9, recallTarget = 0.9)
    val planes = Similarity.rademacherPlanes(
      geom.bands * geom.bandBits, Similarity.SigBits, Similarity.WidePlaneSeed)
    val sig = planes.map { row =>
      val sum = row.zipWithIndex.map { case (sgn, j) =>
        val term = s"CAST(embedding[${j + 1}] AS DOUBLE)"
        if (j == 0) { if (sgn > 0) term else s"- $term" }
        else { if (sgn > 0) s" + $term" else s" - $term" }
      }.mkString
      s"(CASE WHEN $sum > 0 THEN '1' ELSE '0' END)"
    }.mkString(" || ")
    val anyBand = (0 until geom.bands)
      .map(b => s"substring(a.sig, ${b * geom.bandBits + 1}, " +
        s"${geom.bandBits}) = substring(b.sig, " +
        s"${b * geom.bandBits + 1}, ${geom.bandBits})")
      .mkString(" OR ")
    s"""WITH v AS (SELECT vec_id, embedding, $sig AS sig FROM embeddings),
      |cand AS (SELECT a.vec_id AS qid, b.vec_id AS vid,
      |    a.embedding AS qvec, b.embedding AS cvec
      |  FROM v a JOIN v b ON a.vec_id < b.vec_id
      |    AND ($anyBand)
      |  WHERE round(list_cosine_similarity(a.embedding, b.embedding), 8)
      |    >= 0.35),
      |$cosCte
      |SELECT qid AS id_a, vid AS id_b, cos
      |FROM scored WHERE cos >= 0.4
      |ORDER BY id_a, id_b""".stripMargin
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact ANN baseline: top-10 cosine neighbors of query vectors 0-2.
    "s_ann_brute" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.bruteForceTopK(
        e, e.filter(col("vec_id").isin(QueryIds: _*)), k = 10)
        .orderBy("qid", "rank")
    }),

    // MMR diversified retrieval (Carbonell & Goldstein 1998): top-12
    // brute candidates per query, then greedy λ=0.7 redundancy-penalized
    // selection of 5 — candidate generation and the 12×12 pairwise
    // matrix distributed, the sequential greedy executor-local per
    // query via flatMapGroups (Similarity.mmrRerank scaladoc). The
    // DuckDB oracle replays the same greedy as a recursive CTE.
    "s_mmr" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.mmrRerank(
        e, e.filter(col("vec_id").isin(QueryIds: _*)),
        n = 12, k = 5, lambdaTenths = 7)
        .orderBy("qid", "step")
    }),

    // Sign-LSH bucketed ANN: candidates share the query's 8-bit
    // axis-sign bucket; exact rerank inside the bucket, top-5.
    "s_ann_lsh" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.signLshTopK(
        e, e.filter(col("vec_id").isin(QueryIds: _*)), k = 5)
        .orderBy("qid", "rank")
    }),

    // Embedding-cosine near-duplicate pairs: banded sign-LSH candidates
    // (16 bands × 4 sign bits, any-band match), cheap prefilter at 0.35,
    // exact threshold at 0.4.
    //
    // DELIBERATELY-KEPT NAIVE GEOMETRY — the teaching baseline of
    // `s_embed_neardup_scaled` (chooseGeometry): its 4-bit buckets grow
    // candidate pairs quadratically. Measured cliff (r19, sf1 = 10×
    // corpus): completes only in the 64 GB single JVM (~80 s);
    // OOM-kills 12 GB AND 24 GB executors under local-cluster
    // (java.lang.OutOfMemoryError: heap, executor exit 52) while the
    // scale-safe sibling finishes in 14.7 s on the 12 GB executors.
    // That contrast is the point — do not "fix" this query; use the
    // sibling at scale.
    "s_embed_neardup" -> ((s, dir) => {
      // chooseGeometry at the DEMO threshold itself lands on 16 × 4
      val geom = Similarity.chooseGeometry(
        n = embCount(s, dir), threshold = 0.4, recallTarget = 0.9)
      require(geom.bands == 16 && geom.bandBits == 4,
        s"oracle SQL assumes the 16×4 banding; chooseGeometry picked $geom")
      Similarity.nearDupPairs(emb(s, dir), threshold = 0.4, prefilter = 0.35,
        geom)
        .orderBy("id_a", "id_b")
    }),

    // SemDeDup-style SEMANTIC dedup (lives here rather than in
    // DedupQueries so its oracle shares the Lloyd-training CTEs with
    // s_ann_ivf_trained): deterministic k-means cells over embeddings,
    // prune any vector with a τ-similar smaller-id neighbor IN ITS
    // CELL. Pairing is cluster-bounded (Σ|cell|²/2, never n²/2).
    "d_semantic" -> ((s, dir) =>
      // centroids from the per-JVM trained-model registry
      graft.operators.Dedup.semanticDedup(emb(s, dir), tau = 0.4,
          centroids = trainedCentsOf(s, dir))
        .select(col("vid").as("vec_id"), col("cell"), col("witness"),
          col("keep"))
        .orderBy("vec_id")),

    // The CELL-SCALED form of the same operator: nlist grows as √n
    // (Dedup.chooseNlist) instead of staying at the teaching default —
    // the fix for the measured quadratic (124.6k → 12.49M → 1.25G cell
    // pairs at fixed nlist=16 across sf0.1→sf1→sf10; 11 s → 407 s at
    // the third decade). At the oracle corpus (sf0.01, 500 vectors)
    // chooseNlist resolves to the SAME 16 cells, so this shares
    // d_semantic's oracle verbatim — at larger corpora the query runs
    // the right nlist for that n (23 at sf0.1, 71 at sf1, 224 at the
    // 100× corpus) and total work rides n^1.5, not n².
    "d_semantic_auto" -> ((s, dir) => {
      // chooseNlist over the corpus count, then semanticDedup at that
      // nlist, with the trained model drawn from the per-JVM registry —
      // embCount is the parquet footer row count of the embeddings.
      val nl = graft.operators.Dedup.chooseNlist(embCount(s, dir))
      graft.operators.Dedup.semanticDedup(emb(s, dir), tau = 0.4,
          centroids = trainedCentsN(s, dir, nl), nlist = nl)
        .select(col("vid").as("vec_id"), col("cell"), col("witness"),
          col("keep"))
        .orderBy("vec_id")
    }),

    // INCREMENTAL semantic dedup: the last 100 vectors arrive as a
    // batch against the standing corpus (the d_incremental cut idiom).
    // Cells are the corpus's SEEDED centroids — the writeIvfIndex
    // recipe, so the index-backed variant (spec-proven equal, with the
    // corpus scan partition-pruned to the batch's cells) shares them.
    "d_semantic_incremental" -> ((s, dir) => {
      val e = emb(s, dir)
      val cut = e.agg((max(col("vec_id")) - lit(99L)).as("cut"))
      val withCut = e.crossJoin(broadcast(cut))
      val batch = withCut.filter(col("vec_id") >= col("cut")).drop("cut")
      val corpus = withCut.filter(col("vec_id") < col("cut")).drop("cut")
      graft.operators.Dedup.semanticDedupAgainst(corpus, batch, tau = 0.4)
        .select(col("vid").as("vec_id"), col("cell"), col("witness"),
          col("keep"))
        .orderBy("vec_id")
    }),

    // The SCALE geometry of the same operator, oracle-checked in its own
    // right — and CHOSEN BY COMPUTATION, not hardcoded: chooseGeometry
    // budgets the banding for the production capture threshold (0.9,
    // recall target 0.9) at the corpus size read at plan-build time,
    // which lands on 8 bands × 8 bits (the geometry that cut candidates
    // ~21× in the measured SCALING.md run). The argmin is n-independent
    // (expected candidates scale by a common n²/2 factor across all
    // bandings), so the oracle's fixed 8×8 SQL is stable at every SF;
    // n feeds the candidate-budget check, surfaced here as a plan-time
    // guard. Recall at the query's deliberately-low 0.4 DEMO threshold
    // is ~0.18 (vs 0.94 for 16×4) — that threshold exists only so the
    // output stays comparable to s_embed_neardup row-for-row; the
    // geometry is the thing under test.
    "s_embed_neardup_scaled" -> ((s, dir) => {
      val e = emb(s, dir)
      val geom = Similarity.chooseGeometry(
        n = embCount(s, dir), threshold = 0.9, recallTarget = 0.9)
      require(geom.bands == 8 && geom.bandBits == 8,
        s"oracle SQL assumes the 8×8 banding; chooseGeometry picked $geom")
      Similarity.nearDupPairs(e, threshold = 0.4, prefilter = 0.35, geom)
        .orderBy("id_a", "id_b")
    }),

    // The WIDTH-SCALED geometry of the same operator: bandBits keeps
    // growing with n (seeded Rademacher hyperplanes, not raw dim
    // signs), which is what keeps candidates-per-item CONSTANT — the
    // third-decade lawcounts run measured the fixed 8×8 geometry at
    // 61.6k → 6.16M → 616.5M candidates (exactly 100× per decade,
    // quadratic; the sf10 run OOM-killed 8 GB executors) where this
    // geometry's budget holds ≤64 candidates/item at EVERY n by
    // construction. The geometry is n-adaptive BY DESIGN (4 bands × 5
    // bits at the 500-vector oracle corpus; 31×17 at the 100× corpus),
    // so the oracle SQL below is generated for the geometry AND planes
    // at the ORACLE'S corpus size — oracle comparisons run at sf0.01
    // (the driver's correctness SF); at other SFs the query simply
    // runs the right geometry for that n.
    "s_embed_neardup_wide" -> ((s, dir) => {
      val e = emb(s, dir)
      val geom = Similarity.chooseGeometryWide(
        n = embCount(s, dir), threshold = 0.9, recallTarget = 0.9)
      Similarity.nearDupPairsWide(e, threshold = 0.4, prefilter = 0.35, geom)
        .orderBy("id_a", "id_b")
    }),

    // ANN quality measurement: recall@5 of the sign-LSH index against
    // the brute-force ground truth, per query — the metric that decides
    // whether an approximate index is usable for a given corpus. Both
    // sides are slim (qid, vid) top-k lists; the compare is a broadcast
    // left join + one aggregate.
    "s_ann_recall" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("vec_id").isin(QueryIds: _*))
      val truth = Similarity.bruteForceTopK(e, q, k = 5)
        .select(col("qid"), col("vid"))
      val approx = Similarity.signLshTopK(e, q, k = 5)
        .select(col("qid").as("aqid"), col("vid").as("avid"))
      truth.join(broadcast(approx),
          col("qid") === col("aqid") && col("vid") === col("avid"), "left")
        .groupBy("qid")
        .agg(count(lit(1)).as("n_true"),
          sum(when(col("avid").isNotNull, 1L).otherwise(0L)).as("n_hit"))
        .select(col("qid"), col("n_true"), col("n_hit"),
          round(col("n_hit").cast("double") / col("n_true").cast("double"), 6)
            .as("recall"))
        .orderBy("qid")
    }),

    // HYBRID retrieval: reciprocal-rank fusion of a lexical retriever
    // (distinct-token overlap with the query document, inverted-index
    // join — never query×corpus) and the vector retriever (brute-force
    // cosine top-10), fused as Σ 1/(60 + rank) per Cormack et al. 2009.
    // The corpus is the doc∩embedding id intersection so both
    // retrievers rank the same items (doc_id ≡ vec_id in the testdata).
    // Scale shape: each retriever emits a slim per-query top-10 list;
    // the fusion full-outer-joins ≤ 20 rows per query — at 100 TB the
    // fusion is free, the retrievers are the scans, and each is
    // independently replaceable by its indexed variant (s_ann_ivf /
    // an inverted text index) without touching the fusion.
    "s_hybrid_rrf" -> ((s, dir) => {
      val e = emb(s, dir)
      val d = Sources.table(s, dir, "documents")
      val docs = d.join(e.select(col("vec_id")),
        d("doc_id") === col("vec_id"), "left_semi")
      val corpusE = e.join(d.select(col("doc_id")),
        e("vec_id") === col("doc_id"), "left_semi")
      val vec = Similarity.bruteForceTopK(
        corpusE, corpusE.filter(col("vec_id").isin(QueryIds: _*)), k = 10)
        .select(col("qid"), col("vid").as("id"), col("rank"))
      val qtok = docs.filter(col("doc_id").isin(QueryIds: _*))
        .select(col("doc_id").as("qid"),
          explode(array_distinct(split(col("text"), " "))).as("tok"))
      val dtok = docs.select(col("doc_id").as("id"),
        explode(array_distinct(split(col("text"), " "))).as("tok"))
      val overlap = qtok.join(dtok, "tok")
        .filter(col("id") =!= col("qid"))
        .groupBy("qid", "id").agg(count(lit(1)).as("ov"))
      val wl = Window.partitionBy(col("qid"))
        .orderBy(col("ov").desc, col("id"))
      val lex = overlap.withColumn("rank", row_number().over(wl))
        .filter(col("rank") <= 10)
        .select("qid", "id", "rank")
      Similarity.rrfFuse(vec, lex, k = 10).orderBy("qid", "rank")
    }),

    // IVF ANN: assign every vector to its nearest of 16 deterministic
    // centroids, probe the 4 nearest cells per query, exact rerank top-5.
    "s_ann_ivf" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.ivfTopK(
        e, e.filter(col("vec_id").isin(QueryIds: _*)), k = 5)
        .orderBy("qid", "rank")
    }),

    // k-means CLUSTER LABELING — the "what is each embedding cluster
    // about" step every corpus-exploration pipeline runs after
    // clustering: train the same deterministic 16-cell Lloyd model as
    // s_ann_ivf_trained, assign every vector, then label each cell
    // with its top-3 DISTINCTIVE terms by lift (cell term share vs
    // corpus term share — the rational salience score, no libm log;
    // ties to the lexicographically smaller term; ct ≥ 5 for
    // stability). Shapes: training/assignment are the broadcast-
    // centroid map passes measured for the IVF family; the labeling
    // is one token explode + three map-combined aggregates + a
    // vocabulary-sized join; the rank window runs over the 16-cell
    // domain. The oracle replays Lloyd training (the shared
    // trainedAssignSql chain) AND the lift ranking.
    "s_cluster_topics" -> ((s, dir) => {
      val e = emb(s, dir)
      val cents = trainedCentsOf(s, dir)
      val assigned = Similarity.assignCells(e, cents)
        .select(col("vid").as("doc_id"), col("cell"))
      val toks = Sources.table(s, dir, "documents")
        .join(assigned, "doc_id")
        .select(col("cell"), explode(split(col("text"), " ")).as("term"))
      val cc = toks.groupBy("cell", "term").agg(count(lit(1)).as("ct"))
      val nt = toks.groupBy("cell").agg(count(lit(1)).as("nt"))
      val gc = toks.groupBy("term").agg(count(lit(1)).as("cterm"))
      val n = toks.agg(count(lit(1)).as("n"))
      val scored = cc.filter(col("ct") >= 5)
        .join(nt, "cell").join(gc, "term").crossJoin(broadcast(n))
        .withColumn("lift",
          (col("ct").cast("double") * col("n").cast("double")) /
            (col("nt").cast("double") * col("cterm").cast("double")))
      val w = Window.partitionBy(col("cell"))
        .orderBy(col("lift").desc, col("term"))
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("cell"), col("rank"), col("term"), col("ct"),
          round(col("lift"), 6).as("lift"))
        .orderBy("cell", "rank")
    }),

    // CLUSTER-BALANCED resampling — the topic-balance curation step
    // after clustering (the move SemDeDup-era pipelines make so one
    // over-represented topic cluster cannot dominate a training mix):
    // every vector gets its trained k-means cell, each cell is then
    // downsampled to the SMALLEST cell's population via the same
    // deterministic 256-band salted-hash sampler as t_mixture_apply —
    // no RNG, a document's fate never changes as the corpus grows.
    // Per-cell counts are MODEL STATE (≤ nlist rows, collected once at
    // plan build — the applyMixture convention), so the returned plan
    // pays exactly ONE corpus pass: broadcast-centroid assignment +
    // map-side band filter + one map-combined count to the cell
    // domain. Output is the per-cell audit (population, quantized keep
    // threshold, kept count), hash-checked; the oracle replays Lloyd
    // training via the shared trainedAssignSql chain plus the band
    // arithmetic.
    "s_cluster_balance" -> ((s, dir) => {
      import s.implicits._
      val e = emb(s, dir)
      val cents = trainedCentsOf(s, dir)
      def assigned = Similarity.assignCells(e, cents)
        .select(col("vid"), col("cell"))
      val counts = assigned.groupBy("cell").agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
      val mn = counts.map(_._2).min
      val thr = counts.toDF("cell", "n_docs")
        .select(col("cell"), col("n_docs"),
          floor(round(lit(mn.toDouble) / col("n_docs").cast("double"), 6)
            * 256 + 0.5).cast("int").as("keep_thr"))
      // broadcast where the join can build it: a left outer join cannot
      // build its left side, so a hint on `thr` there would be dead
      val kept = assigned.join(broadcast(thr), "cell")
        .filter(graft.operators.TextAnalysis
          .hashBand256(col("vid"), "cb:") < col("keep_thr"))
        .groupBy("cell").agg(count(lit(1)).as("k"))
      thr.join(kept, Seq("cell"), "left")
        .select(col("cell"), col("n_docs"), col("keep_thr"),
          coalesce(col("k"), lit(0L)).as("n_kept"))
        .orderBy("cell")
    }),

    // IVF ANN with TRAINED centroids: 2 deterministic Lloyd rounds
    // (lowest-id seeds, exact-decimal means rounded to 6 dp) replace the
    // raw seeds; same probe/rerank. The trained cells track the corpus's
    // cluster structure, so recall-per-probe ≥ the seeded index
    // (asserted in SimilaritySpec).
    "s_ann_ivf_trained" -> ((s, dir) => {
      val e = emb(s, dir)
      // centroids from the per-JVM trained-model registry (the
      // d_semantic treatment): training runs once per JVM, not per query
      Similarity.ivfTopKTrained(
        e, e.filter(col("vec_id").isin(QueryIds: _*)), k = 5,
        centroids = trainedCentsOf(s, dir))
        .orderBy("qid", "rank")
    }),

    // SQ8 scalar quantization, reconstruction side: per-dimension byte
    // codes against corpus min/max stats, decoded back, with the exact-
    // decimal per-vector MSE — every code and every error value is
    // hash-checked. The memory half of scale ANN: 64 float32 dims → 64
    // bytes (4× scan-byte cut), encode fused into the scan as a codegen
    // transform; stats are O(dims) driver state (broadcast-literal
    // class, like centroids).
    "s_sq8_recon" -> ((s, dir) => {
      val e = emb(s, dir)
      val (mns, mxs) = sq8StatsOf(s, dir)
      val codes = Similarity.sq8Encode(col("embedding"), mns, mxs)
      val deq = Similarity.sq8Dequantize(codes, mns, mxs)
      e.filter(col("vec_id") < 50)
        .select(col("vec_id"), codes.as("codes"), deq.as("deq"),
          col("embedding"))
        .select(col("vec_id"),
          array_min(col("codes")).as("min_code"),
          array_max(col("codes")).as("max_code"),
          round(Similarity.squaredErrorExact(col("embedding"), col("deq"))
            / lit(64.0), 9).as("mse"))
        .orderBy("vec_id")
    }),

    // SQ8 ANN: brute-force top-5 where the CORPUS side is the SQ8
    // reconstruction and queries stay full precision — asymmetric
    // distance computation, the way a compressed index is actually
    // searched. Rankings match the uncompressed brute force wherever
    // quantization error doesn't flip an order; the oracle reproduces
    // the codes, the reconstructions, and the exact-decimal cosines.
    "s_sq8_ann" -> ((s, dir) => {
      val e = emb(s, dir)
      val (mns, mxs) = sq8StatsOf(s, dir)
      val deqCorpus = e.select(col("vec_id"),
        Similarity.sq8Dequantize(
          Similarity.sq8Encode(col("embedding"), mns, mxs), mns, mxs)
          .as("embedding"))
      Similarity.bruteForceTopK(
        deqCorpus, e.filter(col("vec_id").isin(QueryIds: _*)), k = 5)
        .orderBy("qid", "rank")
    }),

    // The COMPOSED scale index, end-to-end: IVF cells over an SQ8-
    // compressed corpus — at 100 TB the index stores only byte codes
    // (4× fewer scan bytes), cells bound the scan to the probed
    // fraction, and queries stay full precision. Corpus vectors are
    // reconstructions cast back to float (codes are all that's kept);
    // centroids, assignment, probing, and rerank all run on the
    // compressed representation via the same ivfTopK as s_ann_ivf.
    // Every stage is hash-checked by the oracle below.
    "s_ann_ivf_sq8" -> ((s, dir) => {
      val e = emb(s, dir)
      val (mns, mxs) = sq8StatsOf(s, dir)
      val deqCorpus = e.select(col("vec_id"),
        Similarity.sq8Dequantize(
          Similarity.sq8Encode(col("embedding"), mns, mxs), mns, mxs)
          .cast("array<float>").as("embedding"))
      Similarity.ivfTopK(
        deqCorpus, e.filter(col("vec_id").isin(QueryIds: _*)), k = 5)
        .orderBy("qid", "rank")
    }),

    // Product Quantization — the third leg of the compression family
    // (SQ8 = scalar, IVF = coarse, PQ = subspace vector quantization,
    // the FAISS workhorse): the 64-dim embedding splits into M=8
    // 8-dim subvectors, each quantized to one of K=16 per-subspace
    // codebook centroids, so a vector stores as 8 × 4-bit codes —
    // a 64× cut vs float32 (vs SQ8's 4×). Codebooks are seeded from
    // the K lowest-id vectors and refined by ONE Lloyd round of
    // exact-decimal means (the trainCentroids recipe, per subspace);
    // assignment distance is round-6 exact-decimal squared L2 with
    // ties to the lower centroid id — every stage deterministic and
    // reproduced bit-for-bit by the oracle. Output per vector: the
    // packed 32-bit code word (code_m << 4m summed) and the
    // reconstruction MSE from the per-subspace quantization errors.
    // Scale shape: training/encode is the standard n·M·K distance
    // pass (a broadcast join against M·K = 128 centroid rows, argmin
    // map-side combined); codebooks are driver-broadcast state like
    // IVF centroids; at 100 TB train on a sample, encode the corpus.
    "s_pq_recon" -> ((s, dir) => {
      import org.apache.spark.sql.types.DecimalType
      val (enc, _) = pqEncode(emb(s, dir))
      enc.filter(col("vec_id") < 50)
        .groupBy("vec_id")
        .agg(sum(col("cid").cast("long") * expr("shiftleft(1L, 4 * m)"))
          .as("pq_key"),
          round(sum(col("dist").cast(DecimalType(25, 12))).cast("double")
            / 64.0, 9).as("mse"))
        .orderBy("vec_id")
    }),

    // PQ SEARCH via TRUE ADC (Jégou et al. 2011): the corpus lives as
    // 8×4-bit codes and is scanned AS codes — per query, a 128-entry
    // lookup table of exact-decimal partial dots/norms vs each codebook
    // entry is built once and broadcast, and each (query, vector)
    // cosine is 8 byte-indexed lookup-adds. No reconstruction join, no
    // float arrays in the scan: distances come from codes + LUTs, the
    // original floats are never read. Results are bit-identical to
    // ranking the reconstructions (decimal partials sum exactly —
    // Similarity.pqLut's associativity argument), so the oracle below
    // still reproduces every hash. Measured recall@5 vs exact at this
    // tiny demo geometry (K=16, one Lloyd round): 0.40 — the honest
    // face of 64× compression, and exactly why production PQ stacks
    // widen k here and rerank survivors at full precision (s_pq_rerank).
    "s_pq_ann" -> ((s, dir) => {
      val e = emb(s, dir)
      val centsL = pqCodebooksOf(s, dir)
      Similarity.adcTopK(Similarity.pqEncode(e, centsL), centsL,
        e.filter(col("vec_id").isin(QueryIds: _*)), k = 5)
        .orderBy("qid", "rank")
    }),

    // PQ search WITH THE RERANK STAGE — the production composition the
    // plain `s_pq_ann` deliberately omits to show the compression
    // error: stage 1 widens the ADC candidate set (top-`PqWiden` by
    // LUT-summed code cosine — at 100 TB this pass reads only the
    // 64×-compressed codes), stage 2 reranks ONLY those survivors at
    // full precision against the original vectors (a candidate-bounded
    // id join — q·PqWiden slim rows — then the exact-decimal cosine).
    // Compression error can demote a true neighbor a few dozen ranks
    // but not out of the widened set, so measured recall@5 returns to
    // 1.0 vs `s_ann_brute` ground truth (asserted in
    // SimilarityQueriesSpec) while the full-precision reads stay
    // proportional to q·PqWiden, not corpus size.
    "s_pq_rerank" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("vec_id").isin(QueryIds: _*))
      val centsL = pqCodebooksOf(s, dir)
      val widened = Similarity.adcTopK(Similarity.pqEncode(e, centsL),
        centsL, q, k = PqWiden).select(col("qid"), col("vid"))
      val qv = e.select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val cv = e.select(col("vec_id").as("vid"), col("embedding").as("cvec"))
      val scored = widened.join(broadcast(qv), "qid").join(cv, "vid")
        .select(col("qid"), col("vid"),
          Similarity.cosineExact(col("qvec"), col("cvec")).as("cos"))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("cos").desc, col("vid"))
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select("qid", "rank", "vid", "cos")
        .orderBy("qid", "rank")
    }),

    // The IndexIVFPQ composition — FAISS's workhorse, completing the
    // index family: IVF cells bound the scan to the probed fraction
    // while the cell contents are PQ codes (64× compression; vs SQ8's
    // 4× in `s_ann_ivf_sq8`). Coarse assignment/probing stay on the
    // reconstruction's codegen-float path (bit-identical cells); the
    // probed-cell rerank — the cost center — is the ADC lookup-table
    // sum over codes (see `s_pq_ann`), so search never reads the
    // reconstructed arrays; queries stay full precision (asymmetric
    // distance). Every stage is hash-checked by the oracle below;
    // recall-vs-probe is asserted in SimilarityQueriesSpec.
    "s_ann_ivf_pq" -> ((s, dir) => {
      val e = emb(s, dir)
      val centsL = pqCodebooksOf(s, dir)
      val codes = Similarity.pqEncode(e, centsL)
      Similarity.adcIvfTopK(codes, centsL, reconOf(codes, centsL),
        e.filter(col("vec_id").isin(QueryIds: _*)), k = 5)
        .orderBy("qid", "rank")
    }),

    // The same IndexIVFPQ search over the PERSISTED index — the round
    // trip a 100 TB deployment actually runs: writeIvfPqIndex lays the
    // corpus out as CODE ROWS ONLY partitionBy(cell) (64× smaller than
    // the floats; the embeddings are not stored at all) plus tiny
    // coarse-centroid/codebook model files, and adcIvfTopKIndexed
    // probes it with a partition-pruned scan of the probed cells' code
    // files + the broadcast ADC LUT. Hash-identical to the inline
    // s_ann_ivf_pq (same oracle SQL): floats round-trip parquet
    // bit-for-bit and decimal partials sum exactly, so persisting
    // changes bytes read, never values. The index is built ONCE per
    // JVM per dataset ([[builtIvfPqIndex]] — production amortizes the
    // build across query batches exactly like this), with the build
    // seconds logged separately, so the bench's repeat run measures
    // the SEARCH path alone and a search-plan regression is visible
    // instead of drowning in rebuild noise.
    "s_ann_ivfpq_indexed" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.adcIvfTopKIndexed(s, builtIvfPqIndex(s, dir),
        e.filter(col("vec_id").isin(QueryIds: _*)), k = 5)
        .orderBy("qid", "rank")
    }),

    // PREFIX-dimension two-stage search — the matryoshka-representation
    // idea (Kusupati et al. 2022): rank candidates on only the FIRST 16
    // of 64 dimensions (a 4× cut in stage-1 scan bytes and dot-product
    // work, the dimension-truncation leg of the compression family next
    // to SQ8's scalar and PQ's subspace quantization), widen to top-50,
    // then rerank the survivors at full 64-dim precision — the
    // s_pq_rerank candidate-bounded stage-2 shape. On MRL-trained
    // embeddings the prefix preserves most of the ordering; on these
    // isotropic test vectors it deliberately does not, which is exactly
    // what the wide (50 of 500) stage-1 margin is for. Every stage is
    // exact-decimal and hash-checked.
    "s_mrl_rerank" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("vec_id").isin(QueryIds: _*))
      val widened = Similarity.bruteForceTopK(prefix16(e), prefix16(q), k = 50)
        .select(col("qid"), col("vid"))
      mrlFullRerank(e, widened)
    }),

    // INDEX-BACKED matryoshka stage 1 — the Kusupati et al. adaptive-
    // retrieval funnel with the linear scan swapped out: the coarse
    // quantizer lives on the 16-dim PREFIX (a standing persisted IVF
    // index — 4× smaller cells than full-dim, built once per corpus
    // generation like the IVFPQ artifact), stage 1 probes
    // MrlProbes/16 cells and ranks ONLY their members by prefix
    // cosine (partition-pruned scan, plan-asserted in
    // SimilarityQueriesSpec), stage 2 is the same candidate-bounded
    // full-dim exact rerank as s_mrl_rerank. At 100 TB stage 1 reads
    // probed-cells × 16-dim rows — a 4×·(nProbe/nlist) byte cut off
    // the brute prefix scan — and the spec asserts the funnel's top-5
    // equals the brute-stage-1 baseline on this corpus (wide 50-of-500
    // stage-1 margin). The oracle replicates the full pipeline (seed →
    // prefix-assign → probe → prefix top-50 → full-dim top-5) so
    // correctness never depends on recall luck.
    "s_mrl_ivf" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("vec_id").isin(QueryIds: _*))
      val widened = Similarity.ivfTopKIndexed(s, builtMrlIndex(s, dir),
        prefix16(q), k = 50, nProbe = MrlProbes)
        .select(col("qid"), col("vid"))
      mrlFullRerank(e, widened)
    }),

    // Per-language mean-pooled embedding centroid (documents ⋈
    // embeddings on id), in shuffle-friendly long form — the "class
    // centroid" primitive for pseudo-labeling / drift monitoring /
    // stratified quantizer seeding. Exact-decimal means (trainCentroids
    // arithmetic) keep it hash-checkable; output is O(langs × dims)
    // however large the corpus.
    "s_lang_centroid" -> ((s, dir) => {
      val d = Sources.table(s, dir, "documents")
        .select(col("doc_id"), col("lang"))
      val joined = emb(s, dir)
        .join(d, col("vec_id") === col("doc_id"))
      Similarity.meanPool(joined, Seq("lang"))
        .orderBy("lang", "pos")
    }),
  )

  /** ADC widening factor for `s_pq_rerank`: candidates surviving the
    * code-space scan into the full-precision rerank, per query. The
    * demo geometry (K=16, one Lloyd round) over isotropic test vectors
    * is deliberately coarse — near-noise cosines reorder broadly under
    * 64× compression, and the measured worst ADC rank of a true top-5
    * neighbor on this corpus is 126 — so 150 of 500 vectors is the
    * widening that returns recall@5 to 1.0 (50 left it at 13/15). At
    * production geometry (K=256, more rounds, clustered real
    * embeddings) compression error is far smaller and the same safety
    * margin is thousands of candidates over billions of codes — still
    * ~0 of the corpus.
    */
  private val PqWiden = 150

  /** Corpus reconstructed from PQ codes: each vector is its M subspace
    * codebook entries concatenated in subspace order — the decoded form
    * of the 8×4-bit code word. Since the ADC rewrite the SEARCH paths
    * never touch this; it remains the coarse-index build input for
    * `s_ann_ivf_pq` (cell assignment needs real arrays) and the
    * spec-level recall baselines. The join is codes × broadcast
    * codebooks (M·K = 128 rows); output embeddings are float arrays
    * (codebook entries are round-6 floats).
    */
  private[queries] def pqRecon(e: DataFrame): DataFrame = {
    val (enc, cents1) = pqEncode(e)
    reconOf(enc, cents1)
  }

  /** [[pqRecon]] body over already-computed codes + codebooks, so
    * callers holding both don't re-run pqEncode (delegates to
    * [[Similarity.pqReconstruct]]). */
  private def reconOf(enc: DataFrame, cents1: DataFrame): DataFrame =
    Similarity.pqReconstruct(enc, cents1)

  /** Oracle CTE mirroring [[pqRecon]]: code-reconstructed vectors from
    * the `a1` assignment and `cents1` codebooks of [[pqCtesSql]].
    */
  private val pqRvecSql: String =
    """rvec AS (SELECT a.vid AS vec_id,
      |    flatten(list(c.cv ORDER BY a.m)) AS rv
      |  FROM a1 a JOIN cents1 c ON c.m = a.m AND c.cid = a.cid
      |  GROUP BY a.vid)""".stripMargin

  /** Oracle CTE chain mirroring [[pqEncode]] bit-for-bit: subvector
    * split, seeded codebooks, round-6 exact-decimal squared-L2
    * argmin (`a0`), one Lloyd round of exact-decimal means (`cents1`),
    * and the final encoding (`a1`). Shared by the `s_pq_recon` and
    * `s_pq_ann` oracles so the two can never drift apart.
    */
  private def pqCtesSql: String = {
    import Similarity.{PqD, PqM}
    def assignSql(cents: String, out: String): String =
      s"""d$out AS (SELECT s.vec_id AS vid, s.m, c.cid,
         |    round(CAST(sum(CAST(
         |        (CAST(s.sv[i] AS DOUBLE) - CAST(c.cv[i] AS DOUBLE)) *
         |        (CAST(s.sv[i] AS DOUBLE) - CAST(c.cv[i] AS DOUBLE))
         |      AS DECIMAL(25,12))) AS DOUBLE), 6) AS dist
         |  FROM subs s JOIN $cents c ON s.m = c.m,
         |    generate_series(1, $PqD) AS t(i)
         |  GROUP BY s.vec_id, s.m, c.cid),
         |$out AS (SELECT vid, m, cid, dist FROM (
         |    SELECT vid, m, cid, dist, row_number() OVER (
         |        PARTITION BY vid, m ORDER BY dist, cid) AS rn
         |      FROM d$out) WHERE rn = 1)""".stripMargin
    s"""subs AS (SELECT vec_id, t.m AS m,
       |    embedding[($PqD * t.m + 1):($PqD * t.m + $PqD)] AS sv
       |  FROM embeddings, generate_series(0, ${PqM - 1}) AS t(m)),
       |cents0 AS (SELECT CAST(vec_id AS INT) AS cid, m, sv AS cv
       |  FROM subs WHERE vec_id < 16),
       |${assignSql("cents0", "a0")},
       |mmeans AS (SELECT a.m, a.cid, i AS pos,
       |    CAST(round(CAST(sum(CAST(CAST(s.sv[i] AS DOUBLE)
       |        AS DECIMAL(25,12))) AS DOUBLE)
       |      / CAST(count(*) AS DOUBLE), 6) AS REAL) AS mv
       |  FROM a0 a JOIN subs s ON s.vec_id = a.vid AND s.m = a.m,
       |    generate_series(1, $PqD) AS t(i)
       |  GROUP BY a.m, a.cid, i),
       |cents1 AS (SELECT m, cid, list(mv ORDER BY pos) AS cv
       |  FROM mmeans GROUP BY m, cid),
       |${assignSql("cents1", "a1")}""".stripMargin
  }

  /** PQ training + encoding shared by `s_pq_recon` / `s_pq_ann`:
    * [[Similarity.PqM]] subspaces × [[Similarity.PqD]] dims, K=16
    * centroids per subspace seeded from the lowest-id vectors and
    * refined by one exact-decimal Lloyd round; assignment is round-6
    * exact-decimal squared L2 with ties to the lower centroid id.
    * Returns (codes: (vec_id, m, cid, dist), trained codebooks:
    * (m, cid, cv)). Every step deterministic and oracle-reproducible;
    * see the `s_pq_recon` entry for scale notes.
    */
  private val PqK = 16

  /** Corpus split into the per-subspace subvectors
    * ([[Similarity.pqSubvecs]]). */
  private def subvecs(df: DataFrame): DataFrame = Similarity.pqSubvecs(df)

  /** Argmin codebook assignment: (vec_id, m, cid, sv) — delegates to
    * the operator-level [[Similarity.pqAssignSubs]] (the single source
    * of truth [[Similarity.pqEncode]] also encodes with, so the query
    * layer and the index can never drift).
    */
  private def pqAssign(subs: DataFrame, cents: DataFrame): DataFrame =
    Similarity.pqAssignSubs(subs, cents)

  private def pqEncode(e: DataFrame): (DataFrame, DataFrame) = {
    // The exact-decimal distance is recomputed for the n·M winners only,
    // because those values ARE hash-compared downstream (codes → MSE) —
    // a K=16-fold cut in the Decimal work plus a codegen hot loop.
    def assign(cents: DataFrame) = pqAssign(subvecs(e), cents)
      .join(broadcast(cents), Seq("m", "cid"))
      .select(col("vec_id"), col("m"), col("cid"), col("sv"),
        round(Similarity.squaredErrorExact(col("sv"), col("cv")), 6)
          .as("dist"))
    val cents1 = trainedCents(e)
    (assign(cents1).drop("sv"), cents1)
  }

  /** The PQ training chain: seed codebooks from the K lowest-id vectors,
    * one Lloyd round of exact-decimal means — as a lazy plan. */
  private def trainedCents(e: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val cents0 = subvecs(e.filter(col("vec_id") < PqK))
      .select(col("vec_id").cast("int").as("cid"), col("m"),
        col("sv").as("cv"))
    pqAssign(subvecs(e), cents0)
      .select(col("m"), col("cid"),
        posexplode(col("sv")).as(Seq("pos", "v")))
      .groupBy("m", "cid", "pos")
      .agg(sum(col("v").cast("double").cast(DecimalType(25, 12))).as("sm"),
        count(lit(1)).as("n"))
      .select(col("m"), col("cid"), col("pos"),
        round(col("sm").cast("double") / col("n").cast("double"), 6)
          .cast("float").as("mv"))
      .groupBy("m", "cid")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("mv")))),
        x => x.getField("mv")).as("cv"))
  }

  /** Trained codebooks COLLECTED to a literal relation: M·K·dd = 1024
    * floats of model state — the same driver-state size class as the
    * SQ8 stats or broadcast IVF centroids, never row data. Spark plans
    * are lazily re-evaluated per reference, and the search queries
    * reference the codebooks from several subtrees (LUT build, encode,
    * reconstruction); as a literal the training chain runs ONCE per
    * query instead of once per reference — the FAISS model exactly:
    * train → hold codebooks as model state → encode/search against
    * them. Values are the deterministic training output unchanged, so
    * hashes are unaffected.
    */
  /** PQ codebooks as per-JVM-per-dataset MODEL STATE — the
    * [[trainedCentsOf]] convention (train once, search many: the FAISS
    * lifecycle both trained-ANN families document). Before this cache
    * the SAME one-Lloyd-round training collected FOUR times per board
    * pass (s_pq_ann / s_pq_rerank / s_pq_recon / the IVFPQ index
    * build) and again per bench repetition — pure duplicate work; the
    * one-time build logs its cost like every other standing artifact.
    */
  private val PqCodebooks =
    new Kind[Seq[org.apache.spark.sql.Row]](
      s"PQ codebooks (M=${Similarity.PqM}, K=$PqK)")
  private def pqCodebooksOf(s: SparkSession, dir: String): DataFrame = {
    val rows = ArtifactRegistry(PqCodebooks, dir)(
      trainedCents(emb(s, dir)).collect().toSeq)
    s.createDataFrame(java.util.Arrays.asList(rows: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("m",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("cid",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("cv",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType)))))
  }

  /** Collected [[Similarity.sq8Stats]] as (mns, mxs) literal seqs in
    * 0-based dimension order — O(dims) driver rows.
    */
  /** Per-dimension min/max as per-JVM-per-dataset MODEL STATE (the
    * [[trainedCentsOf]] / [[pqCodebooksOf]] convention): the same
    * O(dims) stats pass was collected per invocation at three query
    * sites and per bench repetition.
    */
  private val Sq8Stats = new Kind[(Seq[Double], Seq[Double])]("SQ8 stats")
  private def sq8StatsOf(s: SparkSession, dir: String): (Seq[Double], Seq[Double]) =
    ArtifactRegistry(Sq8Stats, dir) {
      val st = Similarity.sq8Stats(emb(s, dir)).orderBy("pos").collect()
      (st.map(_.getDouble(1)).toSeq, st.map(_.getDouble(2)).toSeq)
    }

  /** Oracle CTEs shared by the SQ8 queries: per-dimension stats and the
    * reconstructed corpus vectors, 1-based `i` matching DuckDB array
    * indexing (= Spark's 0-based transform index + 1).
    */
  private val sq8DeqCte: String =
    """stats AS (SELECT i AS pos,
      |    min(CAST(embedding[i] AS DOUBLE)) AS mn,
      |    max(CAST(embedding[i] AS DOUBLE)) AS mx
      |  FROM embeddings, generate_series(1, 64) AS t(i) GROUP BY i),
      |enc AS (SELECT e.vec_id, s.pos,
      |    CAST(e.embedding[s.pos] AS DOUBLE) AS v, s.mn, s.mx,
      |    CASE WHEN s.mx = s.mn THEN 0
      |      ELSE CAST(floor((CAST(e.embedding[s.pos] AS DOUBLE) - s.mn)
      |        / (s.mx - s.mn) * 255.0 + 0.5) AS INT) END AS c
      |  FROM embeddings e CROSS JOIN stats s),
      |deq AS (SELECT vec_id, pos, v, c,
      |    CAST(c AS DOUBLE) / 255.0 * (mx - mn) + mn AS d
      |  FROM enc)""".stripMargin

  /** Second instantiation of the exact-decimal cosine pattern, over an
    * arbitrary pair relation (used for IVF centroid assignment).
    */
  private def cosBlock(src: String, aId: String, bId: String,
      aVec: String, bVec: String, out: String, dims: Int = 64): String =
    s"""${out}_terms AS (SELECT $aId, $bId,
       |    CAST(CAST($aVec[i] AS DOUBLE) * CAST($bVec[i] AS DOUBLE)
       |      AS DECIMAL(28,12)) AS p,
       |    CAST(CAST($aVec[i] AS DOUBLE) * CAST($aVec[i] AS DOUBLE)
       |      AS DECIMAL(28,12)) AS qq,
       |    CAST(CAST($bVec[i] AS DOUBLE) * CAST($bVec[i] AS DOUBLE)
       |      AS DECIMAL(28,12)) AS cc
       |  FROM $src, generate_series(1, $dims) AS t(i)),
       |$out AS (SELECT $aId, $bId,
       |    round(CAST(sum(p) AS DOUBLE)
       |      / (sqrt(CAST(sum(qq) AS DOUBLE)) * sqrt(CAST(sum(cc) AS DOUBLE))),
       |      6) AS cos
       |  FROM ${out}_terms GROUP BY $aId, $bId)""".stripMargin

  /** One oracle Lloyd round: assign every vector to its nearest cents$i
    * centroid (round-6 cosine, smaller-cid tie-break), then rebuild
    * each surviving cell's centroid as the per-dimension EXACT-DECIMAL
    * mean rounded to 6 dp and cast to REAL — bit-identical to the Spark
    * side's trainCentroids arithmetic. Shared by the trained-IVF and
    * semantic-dedup oracles so the training recipe can't drift.
    */
  private def lloydCte(i: Int): String =
    s"""apairs$i AS (SELECT e.vec_id AS vid, e.embedding AS evec,
       |    c.cid, c.centvec
       |  FROM embeddings e CROSS JOIN cents$i c),
       |${cosBlock(s"apairs$i", "vid", "cid", "evec", "centvec", s"ascored$i")},
       |assigned$i AS (SELECT vid, cid AS cell FROM (
       |    SELECT vid, cid, row_number() OVER (
       |        PARTITION BY vid ORDER BY cos DESC, cid) AS rn
       |      FROM ascored$i) WHERE rn = 1),
       |means$i AS (SELECT a.cell AS cid, i AS pos,
       |    CAST(round(CAST(sum(CAST(CAST(e.embedding[i] AS DOUBLE)
       |        AS DECIMAL(25,12))) AS DOUBLE)
       |      / CAST(count(*) AS DOUBLE), 6) AS REAL) AS m
       |  FROM assigned$i a JOIN embeddings e ON e.vec_id = a.vid,
       |    generate_series(1, 64) AS t(i)
       |  GROUP BY a.cell, i),
       |cents${i + 1} AS (SELECT cid, list(m ORDER BY pos) AS centvec
       |  FROM means$i GROUP BY cid)""".stripMargin

  /** Shared oracle CTE chain: 2 Lloyd rounds from the lowest-16-id
    * seeds, then the FINAL cell assignment `assignedF(vid, cell)` —
    * exactly [[graft.operators.Similarity.trainCentroids]](nlist=16,
    * iters=2) + assignCells.
    */
  private val trainedAssignSql: String =
    s"""cents0 AS (SELECT CAST(vec_id AS INT) AS cid,
      |    embedding AS centvec
      |  FROM embeddings WHERE vec_id < 16),
      |${lloydCte(0)},
      |${lloydCte(1)},
      |apairsF AS (SELECT e.vec_id AS vid, e.embedding AS evec,
      |    c.cid, c.centvec
      |  FROM embeddings e CROSS JOIN cents2 c),
      |${cosBlock("apairsF", "vid", "cid", "evec", "centvec", "ascoredF")},
      |assignedF AS (SELECT vid, cid AS cell FROM (
      |    SELECT vid, cid, row_number() OVER (
      |        PARTITION BY vid ORDER BY cos DESC, cid) AS rn
      |      FROM ascoredF) WHERE rn = 1)""".stripMargin

  /** Shared oracle for the inline and persisted IndexIVFPQ searches:
    * the full FAISS chain — PQ training/encode/reconstruction, coarse
    * cells over the reconstruction, probe, ADC-equivalent exact-decimal
    * rerank — reproduced in DuckDB SQL.
    */
  private lazy val ivfPqOracleSql: String =
    s"""WITH $pqCtesSql,
      |$pqRvecSql,
      |cents AS (SELECT CAST(vec_id AS INT) AS cid, rv AS centvec
      |  FROM rvec WHERE vec_id < 16),
      |apairs AS (SELECT v.vec_id AS vid, v.rv AS evec, c.cid, c.centvec
      |  FROM rvec v CROSS JOIN cents c),
      |${cosBlock("apairs", "vid", "cid", "evec", "centvec", "ascored")},
      |assigned AS (SELECT vid, cid AS cell FROM (
      |    SELECT vid, cid, row_number() OVER (
      |        PARTITION BY vid ORDER BY cos DESC, cid) AS rn
      |      FROM ascored) WHERE rn = 1),
      |qpairs AS (SELECT q.vec_id AS qid, q.embedding AS qv,
      |    c.cid, c.centvec
      |  FROM embeddings q CROSS JOIN cents c WHERE q.vec_id IN (0, 1, 2)),
      |${cosBlock("qpairs", "qid", "cid", "qv", "centvec", "qscored")},
      |qprobes AS (SELECT qid, cid AS cell FROM (
      |    SELECT qid, cid, row_number() OVER (
      |        PARTITION BY qid ORDER BY cos DESC, cid) AS rn
      |      FROM qscored) WHERE rn <= 4),
      |cand AS (SELECT p.qid, a.vid,
      |    qe.embedding AS qvec, ce.rv AS cvec
      |  FROM qprobes p
      |  JOIN assigned a ON a.cell = p.cell AND a.vid <> p.qid
      |  JOIN embeddings qe ON qe.vec_id = p.qid
      |  JOIN rvec ce ON ce.vec_id = a.vid),
      |$cosCte,
      |ranked AS (SELECT qid, vid, cos,
      |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid)
      |      AS rank
      |  FROM scored)
      |SELECT qid, rank, vid, cos FROM ranked WHERE rank <= 5
      |ORDER BY qid, rank""".stripMargin

  val oracles: Map[String, String] = Map(
    // Full pipeline replication (seed → prefix-assign → probe →
    // prefix top-50 within probed cells → full-dim top-5): prefix
    // cosine is the 64-dim sum truncated at i ≤ 16, so the oracle
    // runs cosBlock over the FULL arrays with dims = 16.
    "s_mrl_ivf" ->
      s"""WITH cents AS (SELECT vec_id AS cid, embedding AS centvec
        |    FROM embeddings WHERE vec_id < 16),
        |apairs AS (SELECT e.vec_id AS vid, e.embedding AS evec,
        |    c.cid, c.centvec
        |  FROM embeddings e CROSS JOIN cents c),
        |${cosBlock("apairs", "vid", "cid", "evec", "centvec", "ascored", 16)},
        |assigned AS (SELECT vid, cid AS cell FROM (
        |    SELECT vid, cid, row_number() OVER (
        |        PARTITION BY vid ORDER BY cos DESC, cid) AS rn
        |      FROM ascored) WHERE rn = 1),
        |qprobes AS (SELECT vid AS qid, cid AS cell FROM (
        |    SELECT vid, cid, row_number() OVER (
        |        PARTITION BY vid ORDER BY cos DESC, cid) AS rn
        |      FROM ascored WHERE vid IN (0, 1, 2)) WHERE rn <= $MrlProbes),
        |s1pairs AS (SELECT q.qid, a.vid,
        |    qe.embedding AS qv, ce.embedding AS cv
        |  FROM qprobes q
        |  JOIN assigned a ON a.cell = q.cell AND a.vid <> q.qid
        |  JOIN embeddings qe ON qe.vec_id = q.qid
        |  JOIN embeddings ce ON ce.vec_id = a.vid),
        |${cosBlock("s1pairs", "qid", "vid", "qv", "cv", "s1scored", 16)},
        |widened AS (SELECT qid, vid FROM (
        |    SELECT qid, vid, row_number() OVER (
        |        PARTITION BY qid ORDER BY cos DESC, vid) AS rn
        |      FROM s1scored) WHERE rn <= 50),
        |cand AS (SELECT w.qid, w.vid,
        |    qe.embedding AS qvec, ce.embedding AS cvec
        |  FROM widened w
        |  JOIN embeddings qe ON qe.vec_id = w.qid
        |  JOIN embeddings ce ON ce.vec_id = w.vid),
        |$cosCte,
        |ranked AS (SELECT qid, vid, cos,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid)
        |      AS rank
        |  FROM scored)
        |SELECT qid, rank, vid, cos FROM ranked WHERE rank <= 5
        |ORDER BY qid, rank""".stripMargin,
    "s_mrl_rerank" ->
      s"""WITH pcand AS (SELECT q.vec_id AS qid, c.vec_id AS vid,
        |    q.embedding AS qv, c.embedding AS cv
        |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
        |  WHERE q.vec_id IN (0, 1, 2)),
        |pterms AS (SELECT qid, vid,
        |    CAST(CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)
        |      AS DECIMAL(28,12)) AS p,
        |    CAST(CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)
        |      AS DECIMAL(28,12)) AS qq,
        |    CAST(CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)
        |      AS DECIMAL(28,12)) AS cc
        |  FROM pcand, generate_series(1, 16) AS t(i)),
        |pscored AS (SELECT qid, vid,
        |    round(CAST(sum(p) AS DOUBLE)
        |      / (sqrt(CAST(sum(qq) AS DOUBLE))
        |        * sqrt(CAST(sum(cc) AS DOUBLE))), 6) AS cos
        |  FROM pterms GROUP BY qid, vid),
        |widened AS (SELECT qid, vid FROM (
        |    SELECT qid, vid, row_number() OVER (
        |        PARTITION BY qid ORDER BY cos DESC, vid) AS rn
        |      FROM pscored) WHERE rn <= 50),
        |cand AS (SELECT w.qid, w.vid,
        |    qe.embedding AS qvec, ce.embedding AS cvec
        |  FROM widened w
        |  JOIN embeddings qe ON qe.vec_id = w.qid
        |  JOIN embeddings ce ON ce.vec_id = w.vid),
        |$cosCte,
        |ranked AS (SELECT qid, vid, cos,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid)
        |      AS rank
        |  FROM scored)
        |SELECT qid, rank, vid, cos FROM ranked WHERE rank <= 5
        |ORDER BY qid, rank""".stripMargin,
    "s_hybrid_rrf" ->
      s"""WITH corpus AS (SELECT d.doc_id, d.text, e.embedding
        |  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
        |cand AS (SELECT q.doc_id AS qid, c.doc_id AS vid,
        |    q.embedding AS qvec, c.embedding AS cvec
        |  FROM corpus q JOIN corpus c ON q.doc_id <> c.doc_id
        |  WHERE q.doc_id IN (0, 1, 2)),
        |$cosCte,
        |rv AS (SELECT qid, vid, row_number() OVER (PARTITION BY qid
        |    ORDER BY cos DESC, vid) AS rank
        |  FROM scored),
        |rv10 AS (SELECT qid, vid, rank FROM rv WHERE rank <= 10),
        |qtok AS (SELECT doc_id AS qid,
        |    unnest(list_distinct(string_split(text, ' '))) AS tok
        |  FROM corpus WHERE doc_id IN (0, 1, 2)),
        |dtok AS (SELECT doc_id AS id,
        |    unnest(list_distinct(string_split(text, ' '))) AS tok
        |  FROM corpus),
        |ov AS (SELECT q.qid, d.id, count(*) AS ov
        |  FROM qtok q JOIN dtok d USING (tok)
        |  WHERE d.id <> q.qid GROUP BY 1, 2),
        |rl AS (SELECT qid, id, row_number() OVER (PARTITION BY qid
        |    ORDER BY ov DESC, id) AS rank
        |  FROM ov),
        |rl10 AS (SELECT qid, id, rank FROM rl WHERE rank <= 10),
        |fused AS (SELECT COALESCE(v.qid, l.qid) AS qid,
        |    COALESCE(v.vid, l.id) AS id,
        |    COALESCE(1.0 / (${Similarity.RrfC.toDouble} + CAST(v.rank AS DOUBLE)), 0.0)
        |      + COALESCE(1.0 / (${Similarity.RrfC.toDouble} + CAST(l.rank AS DOUBLE)), 0.0) AS rrf
        |  FROM rv10 v FULL OUTER JOIN rl10 l
        |    ON v.qid = l.qid AND v.vid = l.id),
        |rr AS (SELECT qid, id, rrf, row_number() OVER (PARTITION BY qid
        |    ORDER BY rrf DESC, id) AS rank
        |  FROM fused)
        |SELECT qid, rank, id, round(rrf, 6) AS rrf
        |FROM rr WHERE rank <= 10 ORDER BY qid, rank""".stripMargin,
    "s_ann_brute" ->
      s"""WITH cand AS (SELECT q.vec_id AS qid, c.vec_id AS vid,
        |    q.embedding AS qvec, c.embedding AS cvec
        |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
        |  WHERE q.vec_id IN (0, 1, 2)),
        |$cosCte,
        |ranked AS (SELECT qid, vid, cos,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid)
        |      AS rank
        |  FROM scored)
        |SELECT qid, rank, vid, cos FROM ranked WHERE rank <= 10
        |ORDER BY qid, rank""".stripMargin,
    "s_mmr" ->
      s"""WITH RECURSIVE cand0 AS (SELECT q.vec_id AS qid, c.vec_id AS vid,
        |    q.embedding AS qvec, c.embedding AS cvec
        |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
        |  WHERE q.vec_id IN (0, 1, 2)),
        |${cosCte.replace("FROM cand,", "FROM cand0,")},
        |cand AS (SELECT qid, vid, cos, row_number()
        |    OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS rk
        |  FROM scored QUALIFY rk <= 12),
        |pw0 AS (SELECT a.qid, a.vid AS va, b.vid AS vb,
        |    ea.embedding AS qvec, eb.embedding AS cvec
        |  FROM cand a JOIN cand b ON a.qid = b.qid AND a.vid <> b.vid
        |  JOIN embeddings ea ON a.vid = ea.vec_id
        |  JOIN embeddings eb ON b.vid = eb.vec_id),
        |pterms AS (SELECT qid, va, vb,
        |    CAST(CAST(qvec[i] AS DOUBLE) * CAST(cvec[i] AS DOUBLE)
        |      AS DECIMAL(28,12)) AS p,
        |    CAST(CAST(qvec[i] AS DOUBLE) * CAST(qvec[i] AS DOUBLE)
        |      AS DECIMAL(28,12)) AS qq,
        |    CAST(CAST(cvec[i] AS DOUBLE) * CAST(cvec[i] AS DOUBLE)
        |      AS DECIMAL(28,12)) AS cc
        |  FROM pw0, generate_series(1, 64) AS t(i)),
        |pw AS (SELECT qid, va, vb,
        |    round(CAST(sum(p) AS DOUBLE)
        |      / (sqrt(CAST(sum(qq) AS DOUBLE))
        |        * sqrt(CAST(sum(cc) AS DOUBLE))), 6) AS sim
        |  FROM pterms GROUP BY qid, va, vb),
        |sel AS (
        |  SELECT qid, 1 AS step, vid AS picked, [vid] AS ids,
        |      10 * CAST(round(cos * 1e6) AS BIGINT) AS mmr_e7
        |  FROM cand
        |  QUALIFY row_number()
        |    OVER (PARTITION BY qid ORDER BY cos DESC, vid) = 1
        |  UNION ALL
        |  SELECT qid, step, picked, list_append(ids, picked) AS ids,
        |      mmr_e7
        |  FROM (
        |    SELECT s.qid, s.step + 1 AS step, c.vid AS picked, s.ids,
        |        7 * any_value(CAST(round(c.cos * 1e6) AS BIGINT))
        |          - 3 * max(CAST(round(p.sim * 1e6) AS BIGINT)) AS mmr_e7,
        |        row_number() OVER (PARTITION BY s.qid
        |          ORDER BY 7 * any_value(CAST(round(c.cos * 1e6) AS BIGINT))
        |            - 3 * max(CAST(round(p.sim * 1e6) AS BIGINT))
        |            DESC, c.vid) AS r
        |    FROM sel s
        |    JOIN cand c ON c.qid = s.qid AND NOT list_contains(s.ids, c.vid)
        |    JOIN pw p ON p.qid = s.qid AND p.va = c.vid
        |      AND list_contains(s.ids, p.vb)
        |    WHERE s.step < 5
        |    GROUP BY s.qid, s.step, s.ids, c.vid
        |  ) WHERE r = 1)
        |SELECT qid, step, picked, CAST(mmr_e7 AS DOUBLE) / 1e7 AS mmr
        |FROM sel ORDER BY qid, step""".stripMargin,
    "s_ann_lsh" -> {
      val bucket = lshBucketSql _
      s"""WITH cand AS (SELECT q.vec_id AS qid, c.vec_id AS vid,
        |    q.embedding AS qvec, c.embedding AS cvec
        |  FROM embeddings q JOIN embeddings c
        |    ON q.vec_id <> c.vec_id
        |    AND ${bucket("q.embedding")} = ${bucket("c.embedding")}
        |  WHERE q.vec_id IN (0, 1, 2)),
        |$cosCte,
        |ranked AS (SELECT qid, vid, cos,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid)
        |      AS rank
        |  FROM scored)
        |SELECT qid, rank, vid, cos FROM ranked WHERE rank <= 5
        |ORDER BY qid, rank""".stripMargin
    },
    "s_embed_neardup" -> {
      // Same candidate rule as the Spark side: 64-char sign signature,
      // 16 bands × 4 bits, candidate iff ANY band matches exactly.
      val sig = (1 to Similarity.SigBits)
        .map(i => s"(CASE WHEN embedding[$i] > 0 THEN '1' ELSE '0' END)")
        .mkString(" || ")
      val anyBand = (0 until 16)
        .map(b => s"substring(a.sig, ${b * 4 + 1}, 4) = substring(b.sig, ${b * 4 + 1}, 4)")
        .mkString(" OR ")
      s"""WITH v AS (SELECT vec_id, embedding, $sig AS sig FROM embeddings),
        |cand AS (SELECT a.vec_id AS qid, b.vec_id AS vid,
        |    a.embedding AS qvec, b.embedding AS cvec
        |  FROM v a JOIN v b ON a.vec_id < b.vec_id
        |    AND ($anyBand)
        |  WHERE round(list_cosine_similarity(a.embedding, b.embedding), 8)
        |    >= 0.35),
        |$cosCte
        |SELECT qid AS id_a, vid AS id_b, cos
        |FROM scored WHERE cos >= 0.4
        |ORDER BY id_a, id_b""".stripMargin
    },
    "s_embed_neardup_scaled" -> {
      // 8 bands × 8 bits over the same 64-char sign signature.
      val sig = (1 to Similarity.SigBits)
        .map(i => s"(CASE WHEN embedding[$i] > 0 THEN '1' ELSE '0' END)")
        .mkString(" || ")
      val anyBand = (0 until 8)
        .map(b => s"substring(a.sig, ${b * 8 + 1}, 8) = substring(b.sig, ${b * 8 + 1}, 8)")
        .mkString(" OR ")
      s"""WITH v AS (SELECT vec_id, embedding, $sig AS sig FROM embeddings),
        |cand AS (SELECT a.vec_id AS qid, b.vec_id AS vid,
        |    a.embedding AS qvec, b.embedding AS cvec
        |  FROM v a JOIN v b ON a.vec_id < b.vec_id
        |    AND ($anyBand)
        |  WHERE round(list_cosine_similarity(a.embedding, b.embedding), 8)
        |    >= 0.35),
        |$cosCte
        |SELECT qid AS id_a, vid AS id_b, cos
        |FROM scored WHERE cos >= 0.4
        |ORDER BY id_a, id_b""".stripMargin
    },
    "s_embed_neardup_wide" -> wideOracleSql,
    "s_ann_recall" -> {
      val bucket = lshBucketSql _
      s"""WITH bcand AS (SELECT q.vec_id AS qid, c.vec_id AS vid,
        |    q.embedding AS qvec, c.embedding AS cvec
        |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
        |  WHERE q.vec_id IN (0, 1, 2)),
        |${cosBlock("bcand", "qid", "vid", "qvec", "cvec", "bscored")},
        |btop AS (SELECT qid, vid FROM (SELECT qid, vid,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid)
        |      AS rank
        |  FROM bscored) WHERE rank <= 5),
        |lcand AS (SELECT q.vec_id AS qid, c.vec_id AS vid,
        |    q.embedding AS qvec, c.embedding AS cvec
        |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
        |    AND ${bucket("q.embedding")} = ${bucket("c.embedding")}
        |  WHERE q.vec_id IN (0, 1, 2)),
        |${cosBlock("lcand", "qid", "vid", "qvec", "cvec", "lscored")},
        |ltop AS (SELECT qid, vid FROM (SELECT qid, vid,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid)
        |      AS rank
        |  FROM lscored) WHERE rank <= 5)
        |SELECT b.qid, count(*) AS n_true,
        |  CAST(sum(CASE WHEN l.vid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_hit,
        |  round(CAST(sum(CASE WHEN l.vid IS NOT NULL THEN 1 ELSE 0 END)
        |      AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS recall
        |FROM btop b LEFT JOIN ltop l ON b.qid = l.qid AND b.vid = l.vid
        |GROUP BY b.qid ORDER BY b.qid""".stripMargin
    },
    "s_ann_ivf" ->
      s"""WITH cents AS (SELECT vec_id AS cid, embedding AS centvec
        |    FROM embeddings WHERE vec_id < 16),
        |apairs AS (SELECT e.vec_id AS vid, e.embedding AS evec,
        |    c.cid, c.centvec
        |  FROM embeddings e CROSS JOIN cents c),
        |${cosBlock("apairs", "vid", "cid", "evec", "centvec", "ascored")},
        |assigned AS (SELECT vid, cid AS cell FROM (
        |    SELECT vid, cid, row_number() OVER (
        |        PARTITION BY vid ORDER BY cos DESC, cid) AS rn
        |      FROM ascored) WHERE rn = 1),
        |qprobes AS (SELECT vid AS qid, cid AS cell FROM (
        |    SELECT vid, cid, row_number() OVER (
        |        PARTITION BY vid ORDER BY cos DESC, cid) AS rn
        |      FROM ascored WHERE vid IN (0, 1, 2)) WHERE rn <= 4),
        |cand AS (SELECT q.qid, a.vid,
        |    qe.embedding AS qvec, ce.embedding AS cvec
        |  FROM qprobes q
        |  JOIN assigned a ON a.cell = q.cell AND a.vid <> q.qid
        |  JOIN embeddings qe ON qe.vec_id = q.qid
        |  JOIN embeddings ce ON ce.vec_id = a.vid),
        |$cosCte,
        |ranked AS (SELECT qid, vid, cos,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid)
        |      AS rank
        |  FROM scored)
        |SELECT qid, rank, vid, cos FROM ranked WHERE rank <= 5
        |ORDER BY qid, rank""".stripMargin,
    "s_cluster_topics" ->
      s"""WITH $trainedAssignSql,
        |toks AS (SELECT a.cell,
        |    unnest(string_split(d.text, ' ')) AS term
        |  FROM assignedF a JOIN documents d ON d.doc_id = a.vid),
        |cc AS (SELECT cell, term, count(*) AS ct FROM toks GROUP BY 1, 2),
        |nt AS (SELECT cell, count(*) AS nt FROM toks GROUP BY 1),
        |gc AS (SELECT term, count(*) AS cterm FROM toks GROUP BY 1),
        |tot AS (SELECT count(*) AS n FROM toks),
        |scored AS (SELECT cell, term, ct,
        |    CAST(ct AS DOUBLE) * CAST(n AS DOUBLE)
        |      / (CAST(nt AS DOUBLE) * CAST(cterm AS DOUBLE)) AS lift
        |  FROM cc JOIN nt USING (cell) JOIN gc USING (term), tot
        |  WHERE ct >= 5),
        |ranked AS (SELECT cell, term, ct, lift, row_number() OVER (
        |    PARTITION BY cell ORDER BY lift DESC, term) AS rank
        |  FROM scored)
        |SELECT cell, rank, term, ct, round(lift, 6) AS lift
        |FROM ranked WHERE rank <= 3
        |ORDER BY cell, rank""".stripMargin,
    "s_cluster_balance" ->
      s"""WITH $trainedAssignSql,
        |cnt AS (SELECT cell, count(*) AS n_docs
        |  FROM assignedF GROUP BY 1),
        |mnv AS (SELECT min(n_docs) AS mn FROM cnt),
        |thr AS (SELECT cell, n_docs,
        |    CAST(floor(round(CAST((SELECT mn FROM mnv) AS DOUBLE)
        |      / CAST(n_docs AS DOUBLE), 6) * 256 + 0.5) AS INTEGER)
        |      AS keep_thr
        |  FROM cnt),
        |kept AS (SELECT a.cell, count(*) AS k
        |  FROM assignedF a JOIN thr t ON a.cell = t.cell
        |  WHERE CAST(('0x' || substring(md5('cb:'
        |      || CAST(a.vid AS VARCHAR)), 1, 2)) AS INTEGER) < t.keep_thr
        |  GROUP BY 1)
        |SELECT t.cell, t.n_docs, t.keep_thr,
        |  COALESCE(k.k, 0) AS n_kept
        |FROM thr t LEFT JOIN kept k ON t.cell = k.cell
        |ORDER BY t.cell""".stripMargin,
    "s_ann_ivf_trained" ->
      s"""WITH $trainedAssignSql,
        |qprobes AS (SELECT vid AS qid, cid AS cell FROM (
        |    SELECT vid, cid, row_number() OVER (
        |        PARTITION BY vid ORDER BY cos DESC, cid) AS rn
        |      FROM ascoredF WHERE vid IN (0, 1, 2)) WHERE rn <= 4),
        |cand AS (SELECT q.qid, a.vid,
        |    qe.embedding AS qvec, ce.embedding AS cvec
        |  FROM qprobes q
        |  JOIN assignedF a ON a.cell = q.cell AND a.vid <> q.qid
        |  JOIN embeddings qe ON qe.vec_id = q.qid
        |  JOIN embeddings ce ON ce.vec_id = a.vid),
        |$cosCte,
        |ranked AS (SELECT qid, vid, cos,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid)
        |      AS rank
        |  FROM scored)
        |SELECT qid, rank, vid, cos FROM ranked WHERE rank <= 5
        |ORDER BY qid, rank""".stripMargin,
    "d_semantic_incremental" ->
      s"""WITH cut AS (SELECT max(vec_id) - 99 AS c FROM embeddings),
        |cents AS (SELECT CAST(vec_id AS INT) AS cid, embedding AS centvec
        |  FROM embeddings WHERE vec_id < 16),
        |apairs AS (SELECT e.vec_id AS vid, e.embedding AS evec,
        |    c.cid, c.centvec
        |  FROM embeddings e CROSS JOIN cents c),
        |${cosBlock("apairs", "vid", "cid", "evec", "centvec", "ascored")},
        |assigned AS (SELECT vid, cid AS cell FROM (
        |    SELECT vid, cid, row_number() OVER (
        |        PARTITION BY vid ORDER BY cos DESC, cid) AS rn
        |      FROM ascored) WHERE rn = 1),
        |cand AS (SELECT b.vid AS qid, a.vid AS vid,
        |    be.embedding AS qvec, ae.embedding AS cvec
        |  FROM assigned b
        |  JOIN cut ON b.vid >= cut.c
        |  JOIN assigned a ON a.cell = b.cell AND a.vid < cut.c
        |  JOIN embeddings be ON be.vec_id = b.vid
        |  JOIN embeddings ae ON ae.vec_id = a.vid),
        |$cosCte,
        |wit AS (SELECT qid, min(vid) AS witness
        |  FROM scored WHERE cos >= 0.4 GROUP BY qid)
        |SELECT b.vid AS vec_id, b.cell, w.witness,
        |  w.witness IS NULL AS keep
        |FROM assigned b JOIN cut ON b.vid >= cut.c
        |LEFT JOIN wit w ON b.vid = w.qid
        |ORDER BY vec_id""".stripMargin,
    "d_semantic" -> dSemanticOracleSql,
    // d_semantic_auto: chooseNlist at the oracle corpus (500 vectors)
    // resolves to the same 16 cells as d_semantic's default, so the
    // replay is IDENTICAL by construction (see the query's comment).
    "d_semantic_auto" -> dSemanticOracleSql,
    "s_pq_recon" ->
      s"""WITH $pqCtesSql
        |SELECT vid AS vec_id,
        |  CAST(sum(cid * (CAST(1 AS BIGINT) << (4 * m))) AS BIGINT)
        |    AS pq_key,
        |  round(CAST(sum(CAST(dist AS DECIMAL(25,12))) AS DOUBLE) / 64.0, 9)
        |    AS mse
        |FROM a1 WHERE vid < 50 GROUP BY vid ORDER BY vec_id""".stripMargin,
    "s_pq_ann" ->
      s"""WITH $pqCtesSql,
        |$pqRvecSql,
        |cand AS (SELECT q.vec_id AS qid, r.vec_id AS vid,
        |    q.embedding AS qvec, r.rv AS cvec
        |  FROM embeddings q JOIN rvec r ON q.vec_id <> r.vec_id
        |  WHERE q.vec_id IN (0, 1, 2)),
        |$cosCte,
        |ranked AS (SELECT qid, vid, cos,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid)
        |      AS rank
        |  FROM scored)
        |SELECT qid, rank, vid, cos FROM ranked WHERE rank <= 5
        |ORDER BY qid, rank""".stripMargin,
    "s_pq_rerank" ->
      s"""WITH $pqCtesSql,
        |$pqRvecSql,
        |acand AS (SELECT q.vec_id AS qid, r.vec_id AS vid,
        |    q.embedding AS qvec, r.rv AS cvec
        |  FROM embeddings q JOIN rvec r ON q.vec_id <> r.vec_id
        |  WHERE q.vec_id IN (0, 1, 2)),
        |${cosBlock("acand", "qid", "vid", "qvec", "cvec", "ascored")},
        |widened AS (SELECT qid, vid FROM (
        |    SELECT qid, vid, row_number() OVER (
        |        PARTITION BY qid ORDER BY cos DESC, vid) AS rn
        |      FROM ascored) WHERE rn <= $PqWiden),
        |cand AS (SELECT w.qid, w.vid,
        |    qe.embedding AS qvec, ce.embedding AS cvec
        |  FROM widened w
        |  JOIN embeddings qe ON qe.vec_id = w.qid
        |  JOIN embeddings ce ON ce.vec_id = w.vid),
        |$cosCte,
        |ranked AS (SELECT qid, vid, cos,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid)
        |      AS rank
        |  FROM scored)
        |SELECT qid, rank, vid, cos FROM ranked WHERE rank <= 5
        |ORDER BY qid, rank""".stripMargin,
    "s_ann_ivf_pq" -> ivfPqOracleSql,
    // Persisting the index changes bytes read, never values — the
    // indexed search hash-matches the inline one under the SAME oracle.
    "s_ann_ivfpq_indexed" -> ivfPqOracleSql,
    "s_lang_centroid" ->
      """SELECT d.lang, i - 1 AS pos,
        |  round(CAST(sum(CAST(CAST(e.embedding[i] AS DOUBLE)
        |      AS DECIMAL(25,12))) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE), 6) AS m
        |FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id,
        |  generate_series(1, 64) AS t(i)
        |GROUP BY d.lang, i
        |ORDER BY lang, pos""".stripMargin,
    "s_sq8_recon" ->
      s"""WITH $sq8DeqCte
        |SELECT vec_id, min(c) AS min_code, max(c) AS max_code,
        |  round(CAST(sum(CAST((v - d) * (v - d) AS DECIMAL(25,12)))
        |      AS DOUBLE) / 64.0, 9) AS mse
        |FROM deq WHERE vec_id < 50
        |GROUP BY vec_id ORDER BY vec_id""".stripMargin,
    "s_ann_ivf_sq8" ->
      s"""WITH $sq8DeqCte,
        |dvecf AS (SELECT vec_id, list(CAST(d AS REAL) ORDER BY pos) AS dv
        |  FROM deq GROUP BY vec_id),
        |cents AS (SELECT vec_id AS cid, dv AS centvec
        |  FROM dvecf WHERE vec_id < 16),
        |apairs AS (SELECT v.vec_id AS vid, v.dv AS evec, c.cid, c.centvec
        |  FROM dvecf v CROSS JOIN cents c),
        |${cosBlock("apairs", "vid", "cid", "evec", "centvec", "ascored")},
        |assigned AS (SELECT vid, cid AS cell FROM (
        |    SELECT vid, cid, row_number() OVER (
        |        PARTITION BY vid ORDER BY cos DESC, cid) AS rn
        |      FROM ascored) WHERE rn = 1),
        |qpairs AS (SELECT q.vec_id AS qid, q.embedding AS qv,
        |    c.cid, c.centvec
        |  FROM embeddings q CROSS JOIN cents c WHERE q.vec_id IN (0, 1, 2)),
        |${cosBlock("qpairs", "qid", "cid", "qv", "centvec", "qscored")},
        |qprobes AS (SELECT qid, cid AS cell FROM (
        |    SELECT qid, cid, row_number() OVER (
        |        PARTITION BY qid ORDER BY cos DESC, cid) AS rn
        |      FROM qscored) WHERE rn <= 4),
        |cand AS (SELECT p.qid, a.vid,
        |    qe.embedding AS qvec, ce.dv AS cvec
        |  FROM qprobes p
        |  JOIN assigned a ON a.cell = p.cell AND a.vid <> p.qid
        |  JOIN embeddings qe ON qe.vec_id = p.qid
        |  JOIN dvecf ce ON ce.vec_id = a.vid),
        |$cosCte,
        |ranked AS (SELECT qid, vid, cos,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid)
        |      AS rank
        |  FROM scored)
        |SELECT qid, rank, vid, cos FROM ranked WHERE rank <= 5
        |ORDER BY qid, rank""".stripMargin,
    "s_sq8_ann" ->
      s"""WITH $sq8DeqCte,
        |dvec AS (SELECT vec_id, list(d ORDER BY pos) AS dv
        |  FROM deq GROUP BY vec_id),
        |cand AS (SELECT q.vec_id AS qid, c.vec_id AS vid,
        |    q.embedding AS qvec, c.dv AS cvec
        |  FROM embeddings q JOIN dvec c ON q.vec_id <> c.vec_id
        |  WHERE q.vec_id IN (0, 1, 2)),
        |$cosCte,
        |ranked AS (SELECT qid, vid, cos,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid)
        |      AS rank
        |  FROM scored)
        |SELECT qid, rank, vid, cos FROM ranked WHERE rank <= 5
        |ORDER BY qid, rank""".stripMargin,
  )
}
