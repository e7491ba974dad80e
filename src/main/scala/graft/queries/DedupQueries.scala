package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, TextAnalysis => TA}
import graft.sources.{ArtifactRegistry, Sources}
import graft.sources.ArtifactRegistry.Kind

/** Deduplication queries over `documents` (north-star extension):
  * exact, n-gram Jaccard, MinHash+LSH, SimHash. Every oracle reproduces
  * the md5-based hashing, so signatures/candidates match bit-for-bit.
  */
object DedupQueries {

  private def docs(s: SparkSession, dir: String) = Sources.table(s, dir, "documents")

  /** Scale-adaptive fan-out (Sources.fannedTable scaladoc) for the
    * queries whose scan-fused shingling/gram work dominates (the
    * testdata file is single-row-group → a 1-task scan). Selective by
    * measurement — see OPTIMIZATION_r20.md. No-op at production
    * split counts.
    */
  private def docsF(s: SparkSession, dir: String) =
    Sources.fannedTable(s, dir, "documents", "doc_id")

  /** The oracle-checked d_minhash pair relation, STAGED once per JVM
    * per dataset dir and shared by every downstream consumer (both
    * doc-graph index builds in GraphQueries, the per-source audit):
    * the minhash pipeline is the expensive half of each, so consumers
    * read the staged file instead of re-running band-join + verify.
    */
  private val StagedPairs = new Kind[String]("staged d_minhash pairs")
  private[graft] def stagedMinhashPairs(s: SparkSession,
      dir: String): String =
    ArtifactRegistry(StagedPairs, dir) {
      val p = graft.sources.Scratch.dir("docpairs", dir)
      defs("d_minhash")(s, dir)
        .select(col("id_a"), col("id_b"), col("jac"))
        .write.mode("overwrite").parquet(p)
      p
    }

  /** Standing corpus band index for `d_incremental_indexed`, built
    * once per JVM per dataset (nonce-scoped name, tracked warehouse
    * files).
    */
  private val BandIndex =
    new Kind[graft.model.TableRef]("d_incremental_indexed band index")
  private[queries] def builtBandIndex(s: SparkSession,
      dir: String): graft.model.TableRef =
    ArtifactRegistry(BandIndex, dir) {
      s.sql("CREATE DATABASE IF NOT EXISTS graft_scratch")
      val t = graft.model.TableRef("graft_scratch",
        graft.sources.Scratch.name("bandidx", dir))
      val d = docs(s, dir)
      val cut = d.agg((max(col("doc_id")) - lit(99L)).as("cut"))
      val corpus = d.crossJoin(broadcast(cut))
        .filter(col("doc_id") < col("cut")).drop("cut")
      Dedup.writeBandIndex(corpus, "doc_id", "text", t)
      graft.sources.Scratch.trackTable(s, t)
      t
    }

  /** The d_incremental oracle, shared verbatim by
    * `d_incremental_indexed` — the persisted-index path must reproduce
    * the inline computation bit-for-bit. Batch ids are the newest 100
    * → always larger than corpus ids, so the ordered-pair jac CTE
    * (ia < ib) maps to (id_b, id_a) here. Lazy: it references the
    * shared CTE helpers defined below.
    */
  private lazy val IncrementalSql: String =
    s"""WITH ${shingleCte()},
      |cut AS (SELECT max(doc_id) - 99 AS c FROM documents),
      |$minhashBandCtes,
      |cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
      |  FROM bands x JOIN bands y
      |    ON $minhashBandMatch, cut
      |  WHERE x.doc_id >= cut.c AND y.doc_id < cut.c),
      |$jaccardCte
      |SELECT c.id_a, c.id_b, j.jac
      |FROM cand c
      |JOIN jac j ON j.id_a = c.id_b AND j.id_b = c.id_a
      |WHERE j.jac >= 0.5
      |ORDER BY c.id_a, c.id_b""".stripMargin

  /** Shared oracle CTE: word-3-gram shingle relation. The series bound
    * derives from each document's own word count — a fixed-cap cross
    * join (the pre-r17 `generate_series(1, 97)`) silently truncated
    * the shingle set of any document past 99 words, which the sf0.1
    * sweep exposed (sf0.01 maxes at exactly 99 words; sf0.1 has
    * 100-word documents).
    */
  private[queries] def shingleCte(where: String = ""): String =
    s"""toks AS (SELECT doc_id, string_split(text, ' ') AS w
       |  FROM documents $where),
       |sh AS (SELECT DISTINCT doc_id,
       |    w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
       |  FROM (SELECT doc_id, w,
       |      unnest(generate_series(1, len(w) - 2)) AS i
       |    FROM toks))""".stripMargin

  private[queries] val jaccardCte: String =
    """sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |inter AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS c
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |jac AS (SELECT ia AS id_a, ib AS id_b,
      |    round(CAST(c AS DOUBLE)
      |      / CAST(sa.n + sb.n - c AS DOUBLE), 6) AS jac
      |  FROM inter
      |  JOIN sz sa ON ia = sa.doc_id
      |  JOIN sz sb ON ib = sb.doc_id)""".stripMargin

  /** Oracle CTEs `base` → `hashes` → `bands(doc_id, band, m0, m1, …)`:
    * the Kirsch–Mitzenmacher signature at [[Dedup.MinhashBands]] ×
    * [[Dedup.MinhashRowsPerBand]], one `m<r>` minimum per band row.
    */
  private lazy val minhashBandCtes: String = {
    import Dedup.{MinhashBands => b, MinhashRowsPerBand => r}
    val mins = (0 until r)
      .map(j => s"    min(CASE WHEN i % $r = $j THEN h END) AS m$j")
      .mkString(",\n")
    s"""base AS (SELECT doc_id,
       |    CAST(('0x' || substring(md5(shingle), 1, 8)) AS BIGINT) AS h1,
       |    CAST(('0x' || substring(md5(shingle), 9, 8)) AS BIGINT) AS h2
       |  FROM sh),
       |hashes AS (SELECT doc_id, hi.i AS i, h1 + hi.i * h2 AS h
       |  FROM base, generate_series(0, ${b * r - 1}) AS hi(i)),
       |bands AS (SELECT doc_id, i // $r AS band,
       |""".stripMargin + mins + "\n  FROM hashes GROUP BY 1, 2)"
  }

  /** Join condition of two `bands` rows in the same bucket. */
  private lazy val minhashBandMatch: String =
    ("x.band = y.band" +: (0 until Dedup.MinhashRowsPerBand)
      .map(j => s"x.m$j = y.m$j")).mkString(" AND ")

  /** Shared oracle CTE chain reproducing `Dedup.minhashNearDups`:
    * shingles → Kirsch–Mitzenmacher signatures → 6×2 bands → bucket
    * candidates → exact-Jaccard. Consumers select from `cand`/`jac`
    * (e.g. `WHERE j.jac >= 0.5` for the d_minhash threshold). Shared
    * with GraphQueries' g_doc_rank so the pair relation the rank runs
    * on can never drift from the dedup query it composes.
    */
  private[queries] val minhashPairCtes: String =
    s"""${shingleCte()},
       |$minhashBandCtes,
       |cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
       |  FROM bands x JOIN bands y
       |    ON $minhashBandMatch
       |      AND x.doc_id < y.doc_id),
       |$jaccardCte""".stripMargin

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact dedup on a positional prefix key: hash-groupBy, dup groups only.
    "d_exact" -> ((s, dir) =>
      docs(s, dir)
        .groupBy(TA.prefixFingerprint(col("text"), 8).as("dup_key"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keep_doc"))
        .filter(col("n_docs") >= 2)
        .orderBy("dup_key")),

    // Direct n-gram Jaccard near-dup pairs via the inverted shingle index
    // (verification-scale; LSH below is the scale path).
    "d_jaccard" -> ((s, dir) =>
      Dedup.jaccardPairs(
        docs(s, dir).filter(col("doc_id") < 300), "doc_id", "text", 0.3)
        .orderBy("id_a", "id_b")),

    // MinHash + LSH banding: Kirsch–Mitzenmacher minwise signatures
    // (one md5 per shingle, k=12 derived hashes, 6 bands × 2 rows),
    // bucket-join candidates, exact-Jaccard verification of candidates.
    "d_minhash" -> ((s, dir) =>
      Dedup.minhashNearDups(docs(s, dir), "doc_id", "text", 0.5)
        .orderBy("id_a", "id_b")),

    // Near-dup cluster formation: connected components over the Jaccard
    // pair graph (min-label propagation to fixpoint); the cluster label
    // is the canonical (minimum) doc_id.
    "d_components" -> ((s, dir) =>
      Dedup.connectedComponents(
        Dedup.jaccardPairs(
          docs(s, dir).filter(col("doc_id") < 300), "doc_id", "text", 0.3)
          .select(col("id_a"), col("id_b")))
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")),

    // The dedup pipeline's END PRODUCT: the corpus with every near-dup
    // cluster collapsed to its canonical (minimum-id) document —
    // pairs → connected components → anti-join of the non-canonical
    // members against the corpus. The anti-join is the scale shape for
    // materializing a deduplicated training set: the drop-list is tiny
    // relative to the corpus and shuffles by id, never by content.
    "d_dedup_corpus" -> ((s, dir) => {
      val sub = docs(s, dir).filter(col("doc_id") < 300)
      val pairs = Dedup.jaccardPairs(sub, "doc_id", "text", 0.3)
        .select(col("id_a"), col("id_b"))
      val drop = Dedup.connectedComponents(pairs)
        .filter(col("id") =!= col("cluster"))
        .select(col("id").as("doc_id"))
      sub.join(drop, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy("doc_id")
    }),

    // INCREMENTAL dedup: the newest 100 documents (the arriving batch)
    // checked against everything before them (the standing corpus) via
    // the MinHash band index — band join is batch × corpus, never
    // corpus²; at 100 TB the corpus band table is a persisted index and
    // each ingested batch pays only its own signatures plus this join.
    // The batch boundary is data-driven (max(doc_id) - 99) through a
    // broadcast scalar — no driver-side collect.
    "d_incremental" -> ((s, dir) => {
      val d = docs(s, dir)
      val cut = d.agg((max(col("doc_id")) - lit(99L)).as("cut"))
      val withCut = d.crossJoin(broadcast(cut))
      val batch = withCut.filter(col("doc_id") >= col("cut")).drop("cut")
      val corpus = withCut.filter(col("doc_id") < col("cut")).drop("cut")
      Dedup.minhashNearDupsAgainst(batch, corpus, "doc_id", "text", 0.5)
        .orderBy("id_a", "id_b")
    }),

    // The SAME incremental check through the PERSISTED band index —
    // the production shape: writeBandIndex pays the corpus signature
    // pass once per generation (standing per-JVM build, logged), and
    // each arriving batch probes it with ZERO index-side exchange (the
    // bucketed layout IS the join partitioning).
    // Oracle: identical to d_incremental — the index path must
    // reproduce the inline computation bit-for-bit, now checked by the
    // driver gate and not just the spec.
    "d_incremental_indexed" -> ((s, dir) => {
      val d = docs(s, dir)
      val cut = d.agg((max(col("doc_id")) - lit(99L)).as("cut"))
      val withCut = d.crossJoin(broadcast(cut))
      val batch = withCut.filter(col("doc_id") >= col("cut")).drop("cut")
      val corpus = withCut.filter(col("doc_id") < col("cut")).drop("cut")
      Dedup.minhashNearDupsAgainstIndex(batch, corpus, "doc_id", "text",
        0.5, builtBandIndex(s, dir))
        .orderBy("id_a", "id_b")
    }),

    // SUBSTRING-level dedup (Lee et al. 2022): maximal character spans
    // of ≥30 chars appearing verbatim in ≥2 distinct documents, via the
    // distributed hash-gram inverted index + gaps-and-islands span
    // merge. Catches duplicated passages inside otherwise-unique
    // documents — the mode doc-level Jaccard and MinHash both miss.
    "d_spans" -> ((s, dir) =>
      Dedup.duplicatedSpans(docsF(s, dir), "doc_id", "text", gramLen = 30)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id", "span_start")),

    // SimHash signatures: 32-bit majority-vote over word hashes.
    "d_simhash" -> ((s, dir) =>
      Dedup.simhashBits(docs(s, dir).filter(col("doc_id") < 100), "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")),

    // SimHash near-dup pairs by Hamming distance, via 8×4-bit banding
    // (lossless for maxDist ≤ 7, so the all-pairs oracle still matches).
    "d_simhash_pairs" -> ((s, dir) =>
      Dedup.simhashBandedPairs(
        Dedup.simhashBits(docs(s, dir).filter(col("doc_id") < 100),
          "doc_id", "text"), maxDist = 6)
        .orderBy("id_a", "id_b")),

    // MOSS match step over winnowing fingerprints (Schleimer et al.
    // 2003): documents sharing >= 3 selected fingerprints — detects
    // shared runs of >= w+k-1 tokens at 2/(w+1) index density, i.e. a
    // ~60% smaller inverted index than full-gram span detection for the
    // same guarantee window. HOT fingerprints (boilerplate grams in
    // > 10 docs) are dropped BEFORE the pairing self-join, the same
    // df-cap that keeps every inverted-index join here linear: pairs
    // cost Σ df² over the rare keys only, never corpus². Fingerprints
    // come from ONE winnow pass reused on both join legs (self-join on
    // the fp key → exchange reuse, asserted in PlanShapeSpec).
    "d_winnow_pairs" -> ((s, dir) => {
      // (doc, fp) distinct: a fingerprint selected at several positions
      // in one document is one posting — df counts DOCUMENTS and pair
      // strength counts DISTINCT shared fingerprints (MOSS semantics).
      // The boilerplate cap (df > 10 dropped BEFORE pairing) is a
      // WINDOW over the fp partitioning rather than a separate
      // aggregate+join: the winnow pass is the expensive subplan, and
      // this keeps BOTH self-join legs the identical
      // winnow→distinct→window→filter tree so Catalyst reuses ONE
      // exchange instead of recomputing the pass per leg (a measured
      // 14×-at-10× wall without the reuse; plan-asserted in
      // PlanShapeSpec).
      val byFp = org.apache.spark.sql.expressions.Window.partitionBy("fp")
      val fp = Dedup.winnowFingerprints(docsF(s, dir), "doc_id", "text")
        .select("id", "fp").distinct()
        .withColumn("df", count(lit(1)).over(byFp))
        .filter(col("df") <= 10)
        .select("id", "fp")
      fp.select(col("fp"), col("id").as("doc_a"))
        .join(fp.select(col("fp"), col("id").as("doc_b")), "fp")
        .filter(col("doc_a") < col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(count(lit(1)).as("shared_fps"))
        .filter(col("shared_fps") >= 3)
        .orderBy(col("shared_fps").desc, col("doc_a"), col("doc_b"))
    }),

    // Record-linkage / entity resolution by EDIT DISTANCE: each part
    // name's closest other name, searched only inside its blocking key
    // (shared head noun) — the classic blocked fuzzy-match that makes
    // string-similarity linkage feasible at scale. Two scale moves:
    // (1) the match runs over the DISTINCT name domain, not the corpus
    // (dedupe-the-domain first: one count shuffle, then pair work is
    // |domain|-sized regardless of row count); (2) candidates come
    // from an equi-join on the block key — Levenshtein runs only on
    // within-block pairs, never |domain|². Both engines ship the
    // textbook unit-cost edit distance, so `dist` is integer-exact;
    // ties break lexicographically for a deterministic best match.
    // Per-SOURCE duplication audit — the curation REPORT that tells a
    // pipeline which ingestion sources are redundant: for every
    // `source`, how many documents land in a near-dup cluster at all
    // (n_clustered) and how many would be DROPPED by canonical-min-id
    // dedup (n_redundant → dup_rate). Composition of oracle-checked
    // parts: the d_minhash pair graph (band-join candidates, never
    // corpus²) → pointer-doubling connected components → one
    // doc-keyed left join + a map-combined rollup to the |sources|
    // domain; the oracle replays the closure as a recursive CTE.
    "d_source_audit" -> ((s, dir) => {
      val pairs = s.read.parquet(stagedMinhashPairs(s, dir))
        .select(col("id_a"), col("id_b"))
      val comp = graft.operators.Dedup.connectedComponents(pairs)
        .withColumnRenamed("id", "doc_id")
      docs(s, dir).join(comp, Seq("doc_id"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("cluster").isNotNull, 1L).otherwise(0L))
            .as("n_clustered"),
          sum(when(col("cluster").isNotNull &&
            col("cluster") =!= col("doc_id"), 1L).otherwise(0L))
            .as("n_redundant"))
        .select(col("source"), col("n_docs"), col("n_clustered"),
          col("n_redundant"),
          round(col("n_redundant").cast("double") /
            col("n_docs").cast("double"), 6).as("dup_rate"))
        .orderBy("source")
    }),

    "d_fuzzy_match" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val names = Sources.table(s, dir, "part")
        .select(col("p_name").as("nm")).distinct()
        // coalesce to '': Spark's element_at past the end is NULL
        // (which never equi-joins — a single-token name would silently
        // vanish), DuckDB's split_part is '' — '' makes both engines
        // block degenerate names together
        .withColumn("noun",
          coalesce(element_at(split(col("nm"), " "), 2), lit("")))
      val pairs = names.as("a").join(names.as("b"),
          col("a.noun") === col("b.noun") && col("a.nm") =!= col("b.nm"))
        .select(col("a.nm").as("nm"), col("b.nm").as("cand"),
          levenshtein(col("a.nm"), col("b.nm")).as("dist"))
      val w = Window.partitionBy(col("nm")).orderBy(col("dist"), col("cand"))
      pairs.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select("nm", "cand", "dist").orderBy("nm")
    }),
  )

  val oracles: Map[String, String] = Map(
    "d_exact" ->
      """WITH p AS (SELECT doc_id,
        |    md5(array_to_string((string_split(text, ' '))[1:8], ' ')) AS dup_key
        |  FROM documents)
        |SELECT dup_key, count(*) AS n_docs, min(doc_id) AS keep_doc
        |FROM p GROUP BY dup_key HAVING count(*) >= 2
        |ORDER BY dup_key""".stripMargin,
    "d_jaccard" ->
      s"""WITH ${shingleCte("WHERE doc_id < 300")},
        |$jaccardCte
        |SELECT id_a, id_b, jac FROM jac WHERE jac >= 0.3
        |ORDER BY id_a, id_b""".stripMargin,
    "d_minhash" ->
      s"""WITH $minhashPairCtes
        |SELECT j.id_a, j.id_b, j.jac
        |FROM jac j JOIN cand USING (id_a, id_b)
        |WHERE j.jac >= 0.5
        |ORDER BY id_a, id_b""".stripMargin,
    // Batch ids are the newest 100 → always larger than corpus ids, so
    // the ordered-pair jac CTE (ia < ib) maps to (id_b, id_a) here.
    // Shared verbatim by d_incremental_indexed: the persisted-index
    // path must reproduce the inline computation bit-for-bit.
    "d_incremental" -> IncrementalSql,
    "d_incremental_indexed" -> IncrementalSql,
    "d_components" ->
      s"""WITH RECURSIVE ${shingleCte("WHERE doc_id < 300")},
        |$jaccardCte,
        |pr AS (SELECT id_a, id_b FROM jac WHERE jac >= 0.3),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pr
        |  UNION ALL SELECT id_b, id_a FROM pr),
        |reach AS (SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
        |SELECT src AS doc_id, least(src, min(dst)) AS cluster
        |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin,
    "d_dedup_corpus" ->
      s"""WITH RECURSIVE ${shingleCte("WHERE doc_id < 300")},
        |$jaccardCte,
        |pr AS (SELECT id_a, id_b FROM jac WHERE jac >= 0.3),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pr
        |  UNION ALL SELECT id_b, id_a FROM pr),
        |reach AS (SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        |comp AS (SELECT src AS doc_id, least(src, min(dst)) AS cluster
        |  FROM reach GROUP BY src)
        |SELECT d.doc_id, d.lang, d.n_chars
        |FROM documents d
        |WHERE d.doc_id < 300
        |  AND d.doc_id NOT IN (SELECT doc_id FROM comp WHERE doc_id <> cluster)
        |ORDER BY d.doc_id""".stripMargin,
    "d_spans" ->
      """WITH g0 AS (SELECT doc_id, text,
        |    unnest(generate_series(1, length(text) - 29)) AS pos
        |  FROM documents),
        |g AS (SELECT doc_id, pos, substring(text, pos, 30) AS h
        |  FROM g0),
        |dp AS (SELECT doc_id, pos FROM (
        |    SELECT doc_id, pos,
        |      min(doc_id) OVER (PARTITION BY h) AS lo,
        |      max(doc_id) OVER (PARTITION BY h) AS hi
        |    FROM g) WHERE lo <> hi),
        |flagged AS (SELECT doc_id, pos,
        |    CASE WHEN lag(pos) OVER w IS NULL
        |      OR pos > lag(pos) OVER w + 1 THEN 1 ELSE 0 END AS brk
        |  FROM dp WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        |spans AS (SELECT doc_id, pos,
        |    CAST(sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS span_id
        |  FROM flagged)
        |SELECT doc_id, span_id, min(pos) AS span_start,
        |  max(pos) + 29 AS span_end,
        |  max(pos) + 29 - min(pos) + 1 AS span_len
        |FROM spans GROUP BY doc_id, span_id
        |ORDER BY doc_id, span_start""".stripMargin,
    "d_simhash" ->
      """WITH words AS (SELECT DISTINCT doc_id,
        |    unnest(list_distinct(string_split(text, ' '))) AS word
        |  FROM documents WHERE doc_id < 100),
        |bits AS (SELECT doc_id, j.j AS j,
        |    ((strpos('0123456789abcdef',
        |        substring(md5(word), (j.j // 4) + 1, 1)) - 1)
        |      // (CASE j.j % 4 WHEN 0 THEN 8 WHEN 1 THEN 4
        |          WHEN 2 THEN 2 ELSE 1 END)) % 2 AS bit
        |  FROM words, generate_series(0, 31) AS j(j)),
        |votes AS (SELECT doc_id, j,
        |    CASE WHEN sum(bit * 2 - 1) >= 0 THEN '1' ELSE '0' END AS b
        |  FROM bits GROUP BY doc_id, j)
        |SELECT doc_id, string_agg(b, '' ORDER BY j) AS simhash
        |FROM votes GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "d_simhash_pairs" ->
      """WITH words AS (SELECT DISTINCT doc_id,
        |    unnest(list_distinct(string_split(text, ' '))) AS word
        |  FROM documents WHERE doc_id < 100),
        |bits AS (SELECT doc_id, j.j AS j,
        |    ((strpos('0123456789abcdef',
        |        substring(md5(word), (j.j // 4) + 1, 1)) - 1)
        |      // (CASE j.j % 4 WHEN 0 THEN 8 WHEN 1 THEN 4
        |          WHEN 2 THEN 2 ELSE 1 END)) % 2 AS bit
        |  FROM words, generate_series(0, 31) AS j(j)),
        |votes AS (SELECT doc_id, j,
        |    CASE WHEN sum(bit * 2 - 1) >= 0 THEN '1' ELSE '0' END AS b
        |  FROM bits GROUP BY doc_id, j),
        |sigs AS (SELECT doc_id, string_agg(b, '' ORDER BY j) AS simhash
        |  FROM votes GROUP BY doc_id)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(sum(CASE WHEN substring(a.simhash, p.p, 1)
        |      <> substring(b.simhash, p.p, 1) THEN 1 ELSE 0 END) AS BIGINT)
        |    AS dist
        |FROM sigs a
        |JOIN sigs b ON a.doc_id < b.doc_id,
        |generate_series(1, 32) AS p(p)
        |GROUP BY 1, 2 HAVING dist <= 6
        |ORDER BY id_a, id_b""".stripMargin,
    "d_winnow_pairs" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS l,
        |    len(string_split(text, ' ')) AS n FROM documents),
        |g AS (SELECT doc_id,
        |    CAST(unnest(generate_series(1, n - 2)) AS INTEGER) AS pos, l
        |  FROM t WHERE n >= 3),
        |h AS (SELECT doc_id, pos,
        |    md5(array_to_string(list_transform(
        |      generate_series(pos, pos + 2), j -> l[j]), ' ')) AS hsh
        |  FROM g),
        |w AS (SELECT doc_id, pos,
        |    min(hsh || '#' || lpad(CAST(99999999 - pos AS VARCHAR), 8, '0'))
        |      OVER (PARTITION BY doc_id ORDER BY pos
        |            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wk,
        |    count(*) OVER (PARTITION BY doc_id ORDER BY pos
        |            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wn,
        |    max(pos) OVER (PARTITION BY doc_id) AS maxpos
        |  FROM h),
        |fp AS (SELECT DISTINCT doc_id, substr(wk, 1, 32) AS fp
        |  FROM w WHERE wn = 4 OR (pos = 1 AND maxpos < 4)),
        |rare AS (SELECT fp FROM fp GROUP BY fp HAVING count(*) <= 10)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  count(*) AS shared_fps
        |FROM fp a JOIN rare USING (fp) JOIN fp b USING (fp)
        |WHERE a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 3
        |ORDER BY shared_fps DESC, doc_a, doc_b""".stripMargin,
    "d_source_audit" ->
      s"""WITH RECURSIVE $minhashPairCtes,
        |pr AS (SELECT j.id_a, j.id_b
        |  FROM jac j JOIN cand USING (id_a, id_b) WHERE j.jac >= 0.5),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pr
        |  UNION ALL SELECT id_b, id_a FROM pr),
        |reach AS (SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        |comp AS (SELECT src AS doc_id, least(src, min(dst)) AS cluster
        |  FROM reach GROUP BY src)
        |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_clustered,
        |  CAST(sum(CASE WHEN c.doc_id IS NOT NULL
        |      AND c.cluster <> d.doc_id THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_redundant,
        |  round(CAST(sum(CASE WHEN c.doc_id IS NOT NULL
        |        AND c.cluster <> d.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE), 6) AS dup_rate
        |FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
        |GROUP BY 1 ORDER BY d.source""".stripMargin,
    "d_fuzzy_match" ->
      """WITH nms AS (SELECT DISTINCT p_name AS nm FROM part),
        |blk AS (SELECT nm, split_part(nm, ' ', 2) AS noun FROM nms),
        |pairs AS (SELECT a.nm AS nm, b.nm AS cand,
        |    levenshtein(a.nm, b.nm) AS dist
        |  FROM blk a JOIN blk b ON a.noun = b.noun AND a.nm <> b.nm),
        |best AS (SELECT nm, cand, dist,
        |    row_number() OVER (PARTITION BY nm ORDER BY dist, cand) AS rn
        |  FROM pairs)
        |SELECT nm, cand, dist FROM best WHERE rn = 1 ORDER BY nm"""
        .stripMargin,
  )
}
