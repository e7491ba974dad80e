package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.{Multimodal, TextAnalysis => TA}
import graft.sources.{ArtifactRegistry, Sources}
import graft.sources.ArtifactRegistry.Kind

/** Text-analysis + multimodal-plumbing queries over `documents`
  * (north-star extension; SURVEY.md §2B last row).
  */
object TextQueries {

  private def docs(s: SparkSession, dir: String) = Sources.table(s, dir, "documents")

  /** Scale-adaptive fan-out (Sources.fannedTable scaladoc) for the
    * queries whose per-row map work dominates their wall-clock
    * (n-gram expressions, JPEG/MJPEG decodes, winnowing): the testdata
    * layout is one single-row-group file — a 1-task scan that runs the
    * whole map stage on one core of 32. Applied SELECTIVELY, by
    * measurement (OPTIMIZATION_r20.md): the cheap map queries lose
    * more to the extra exchange than they gain in parallelism, and
    * mm_audio's javax.sound decode SERIALIZES on the provider
    * registry lock — fanning it out adds contention, not parallelism.
    * No-op at production split counts.
    */
  private def docsF(s: SparkSession, dir: String) =
    Sources.fannedTable(s, dir, "documents", "doc_id")

  /** Standing train-split shingle index for
    * `t_contamination_incremental`, built once per JVM per dataset
    * (the table name carries the dataset digest + JVM nonce because
    * catalog tables share the warehouse dir across processes).
    */
  private val ShingleIndex =
    new Kind[graft.model.TableRef]("t_contamination_incremental shingle index")
  private[queries] def builtShingleIndex(s: SparkSession,
      dir: String): graft.model.TableRef =
    ArtifactRegistry(ShingleIndex, dir) {
      s.sql("CREATE DATABASE IF NOT EXISTS graft_scratch")
      val t = graft.model.TableRef("graft_scratch",
        graft.sources.Scratch.name("shidx", dir))
      val d = docs(s, dir)
      graft.operators.Dedup.writeShingleIndex(
        d.filter(TA.hashSplit(col("doc_id")) === "train"),
        "doc_id", "text", t)
      // nonce-scoped warehouse files die with the JVM like tmp scratch
      graft.sources.Scratch.trackTable(s, t)
      t
    }

  /** 8-merge BPE model per dataset, trained once per JVM (model state
    * is 8 rows — the same O(model) driver footprint as the k-means
    * centroids); bench repeats then measure the encode path alone.
    */
  private val NBpeMerges = 8
  private val BpeModel =
    new Kind[Seq[(Int, String, String, Long)]](s"$NBpeMerges-merge BPE model")
  private[queries] def trainedBpe(s: SparkSession,
      dir: String): Seq[(Int, String, String, Long)] =
    ArtifactRegistry(BpeModel, dir)(
      graft.operators.Bpe.trainMerges(docs(s, dir), "text", NBpeMerges))

  /** Unigram-LM tokenizer hyper-parameters, shared verbatim by the
    * Spark query and the DuckDB oracle replay: max piece length, seed
    * top-K multi-character pieces, hard-EM rounds. Trained once per JVM
    * per dataset (model state is chars + topK count rows — the same
    * O(model) driver footprint as the BPE merges).
    */
  private val NUniMax = 4
  private val NUniTopK = 64
  private val NUniRounds = 3
  private val UnigramModel = new Kind[graft.operators.Unigram.Model](
    s"$NUniRounds-round EM unigram model")
  private[queries] def trainedUnigram(s: SparkSession,
      dir: String): graft.operators.Unigram.Model =
    ArtifactRegistry(UnigramModel, dir)(graft.operators.Unigram.train(
      docs(s, dir), "text", NUniTopK, NUniMax, NUniRounds))

  private val StopList = TA.Stopwords.map(w => s"'$w'").mkString(", ")

  /** The DuckDB replay of [[graft.operators.Bpe]] training: v0/s0 build
    * the char-symbol vocab, then per merge k — pair counts (p_k), the
    * deterministic argmax (b_k), and the greedy left-to-right merge
    * application as a `list_reduce` fold (s_k), the exact fold
    * `Bpe.applyMerge` performs. Shared by the train and encode oracles.
    */
  private val BpeCtes: String = {
    val sb = new StringBuilder
    sb ++= """v0 AS (SELECT w, count(*) AS freq FROM (
      |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      |  WHERE length(w) >= 1 GROUP BY w),
      |s0 AS (SELECT w, freq, array_to_string(
      |    list_transform(generate_series(1, length(w)), i -> substring(w, i, 1)),
      |    ' ') AS syms FROM v0)""".stripMargin
    for (k <- 1 to NBpeMerges) sb ++= s""",
      |p$k AS (SELECT l[i] AS lft, l[i + 1] AS rgt,
      |    CAST(sum(freq) AS BIGINT) AS cnt
      |  FROM (SELECT freq, string_split(syms, ' ') AS l,
      |      unnest(generate_series(1, len(string_split(syms, ' ')) - 1)) AS i
      |    FROM s${k - 1})
      |  GROUP BY 1, 2),
      |b$k AS (SELECT lft, rgt, cnt FROM p$k
      |  ORDER BY cnt DESC, lft, rgt LIMIT 1),
      |s$k AS (SELECT w, freq, list_reduce(string_split(syms, ' '),
      |    (acc, x) -> CASE WHEN regexp_extract(acc, '[^ ]*$$') = bk.lft
      |        AND x = bk.rgt
      |      THEN regexp_replace(acc, '[^ ]*$$', '') || bk.lft || bk.rgt
      |      ELSE acc || ' ' || x END) AS syms
      |  FROM s${k - 1}, b$k bk)""".stripMargin
    sb.toString
  }

  /** The DuckDB replay of [[graft.operators.Unigram]] training. The
    * Viterbi DP is a `list_reduce` fold whose accumulator is the list
    * of per-prefix best (score, seg) structs; DuckDB 1.x's two-arg
    * list_reduce seeds the accumulator from the FIRST element, so the
    * folded list is `[[init]] ++ dummies` (one ignored dummy per
    * character — the position is `len(acc)`). Candidate selection is
    * the same replace-on-strictly-greater chain as
    * `Unigram.viterbiSeg`, and every score is the same left-to-right
    * chain of IEEE multiplications, so segmentations — and therefore
    * the integer EM counts — are bit-identical across engines.
    */
  private def uniCand(m: Int): String =
    s"CASE WHEN len(acc) >= $m AND " +
      s"len(vm[substring(w, len(acc) - $m + 1, $m)]) > 0 THEN " +
      s"{'score': acc[len(acc) - $m + 1].score * " +
      s"vm[substring(w, len(acc) - $m + 1, $m)][1], " +
      s"'seg': acc[len(acc) - $m + 1].seg || ' ' || " +
      s"substring(w, len(acc) - $m + 1, $m)} END"

  private val UniFold: String = {
    val best = (2 to NUniMax).foldLeft(uniCand(1)) { (b, m) =>
      s"CASE WHEN (${uniCand(m)}) IS NOT NULL AND " +
        s"(${uniCand(m)}).score > ($b).score THEN ${uniCand(m)} ELSE $b END"
    }
    s"ltrim(list_reduce([[{'score': CAST(1 AS DOUBLE), 'seg': ''}]] || " +
      s"list_transform(generate_series(1, length(w)), " +
      s"i -> [{'score': CAST(0 AS DOUBLE), 'seg': ''}]), " +
      s"(acc, x) -> list_append(acc, $best))[length(w) + 1].seg)"
  }

  /** Seed + EM-round CTEs: uwords/usubs/uvocab seed the fixed
    * vocabulary; per round r, uvm$r smooths the previous counts into a
    * probability map, useg$r Viterbi-segments every distinct word, and
    * uc$r re-counts piece usage (zero-filled over the fixed vocab).
    */
  private val UnigramCtes: String = {
    val sb = new StringBuilder
    sb ++= s"""uwords AS (SELECT w, count(*) AS freq FROM (
      |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      |  WHERE length(w) >= 1 GROUP BY w),
      |usubs AS (SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt FROM (
      |    SELECT substring(w, s, m) AS piece, freq FROM (
      |      SELECT w, freq, unnest(generate_series(1, length(w))) AS s
      |      FROM uwords),
      |      (SELECT unnest(generate_series(1, $NUniMax)) AS m)
      |    WHERE s + m - 1 <= length(w))
      |  GROUP BY piece),
      |uvocab AS (
      |  SELECT piece, cnt FROM usubs WHERE length(piece) = 1
      |  UNION ALL
      |  SELECT piece, cnt FROM (SELECT piece, cnt FROM usubs
      |    WHERE length(piece) >= 2 ORDER BY cnt DESC, piece
      |    LIMIT $NUniTopK)),
      |uc0 AS (SELECT piece, cnt FROM uvocab)""".stripMargin
    for (r <- 1 to NUniRounds) sb ++= s""",
      |uvm$r AS (SELECT map(list(piece ORDER BY piece),
      |    list(p ORDER BY piece)) AS vm
      |  FROM (SELECT piece, CAST(cnt + 1 AS DOUBLE) /
      |      CAST(sum(cnt) OVER () + count(*) OVER () AS DOUBLE) AS p
      |    FROM uc${r - 1})),
      |useg$r AS (SELECT w, freq, $UniFold AS seg FROM uwords, uvm$r),
      |uc$r AS (SELECT v.piece, CAST(coalesce(sum(u.freq), 0) AS BIGINT)
      |    AS cnt
      |  FROM uvocab v LEFT JOIN (SELECT
      |      unnest(string_split(seg, ' ')) AS piece, freq FROM useg$r) u
      |  ON v.piece = u.piece
      |  GROUP BY v.piece)""".stripMargin
    sb.toString
  }

  /** rot13 of the English stopwords — the synthetic "second language"
    * the multilingual queries register (quoted-list form for SQL).
    */
  private val Alphabet = ('a' to 'z').mkString
  private val Rot13Perm = Alphabet.drop(13) + Alphabet.take(13)

  private val Rot13Words: Seq[String] =
    TA.Stopwords.map(_.map(c => Rot13Perm(c - 'a')))
  private val Rot13List = Rot13Words.map(w => s"'$w'").mkString(", ")

  /** The multilingual fixtures' shared corpus view: odd doc_ids rot13'd
    * (a deterministic "second language" whose function words are
    * [[Rot13Words]] — the scale generator's Caesar trick), even ids
    * untouched.
    */
  private def rot13Mixed(df: DataFrame): DataFrame =
    df.withColumn("text2",
      when(col("doc_id") % 2 === 0, col("text"))
        .otherwise(translate(col("text"), Alphabet, Rot13Perm)))

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Quality scoring: length/diversity/stopword-band composite.
    "t_quality" -> ((s, dir) =>
      docs(s, dir).select(
        col("doc_id"),
        TA.wordCount(col("text")).as("n_words"),
        round(TA.distinctRatio(col("text")), 6).as("distinct_ratio"),
        round(TA.stopwordRatio(col("text")), 6).as("stop_ratio"),
        round(TA.avgWordLen(col("text")), 6).as("avg_wlen"),
        TA.qualityScore(col("text")).as("score"))
        .orderBy("doc_id")),

    // Language-ID heuristic vs the labeled lang column.
    "t_langid" -> ((s, dir) =>
      docs(s, dir).select(
        col("doc_id"),
        TA.langId(col("text")).as("pred_lang"),
        col("lang"),
        (TA.langId(col("text")) === col("lang")).as("agree"))
        .orderBy("doc_id")),

    // Token counting: whitespace, BPE-estimate (chars/4), regex tokens.
    "t_tokens" -> ((s, dir) => {
      val (ws, bpe, re) = TA.tokenCounts(col("text"), col("n_chars"))
      docs(s, dir).select(
        col("doc_id"), ws.as("n_ws"), bpe.as("n_bpe_est"), re.as("n_re"),
        col("n_chars"))
        .orderBy("doc_id")
    }),

    // Context-window truncation planning: for candidate context
    // lengths L, how many documents exceed L tokens and what fraction
    // of the corpus' TOKENS a truncate-at-L policy throws away — the
    // number that decides context length / packing strategy before a
    // training run (truncation loss vs compute cost). Tokens are the
    // t_tokens BPE estimate (ceil(chars/4)). ONE corpus pass: all
    // per-window sums are conditional aggregates in a single
    // map-combined reduction (the x_hist/DataQuality pattern) and the
    // tall 3-row output explodes off the 1-row aggregate — no row
    // replication, no second scan, trivially 100 TB-safe.
    "t_truncation_loss" -> ((s, dir) => {
      val tok = ceil(col("n_chars").cast("double") / 4.0).cast("long")
      val Ls = Seq(128, 512, 2048)
      val aggs = Seq(count(lit(1)).as("n_docs"), sum(tok).as("tok_total")) ++
        Ls.flatMap(l => Seq(
          sum(when(tok > l, 1L).otherwise(0L)).as(s"over_$l"),
          sum(greatest(tok - l, lit(0L))).as(s"lost_$l")))
      val a = docs(s, dir).agg(aggs.head, aggs.tail: _*)
      val rows = Ls.map(l => struct(lit(l).as("ctx_len"),
        col(s"over_$l").as("docs_over"), col(s"lost_$l").as("tokens_lost")))
      a.select(col("n_docs"), col("tok_total"),
        explode(array(rows: _*)).as("e"))
        .select(col("e.ctx_len").as("ctx_len"), col("n_docs"),
          col("e.docs_over").as("docs_over"),
          round(col("e.docs_over").cast("double") / col("n_docs"), 6)
            .as("docs_over_frac"),
          col("tok_total").as("tokens_total"),
          col("e.tokens_lost").as("tokens_lost"),
          round(col("e.tokens_lost").cast("double") / col("tok_total"), 6)
            .as("loss_frac"))
        .orderBy("ctx_len")
    }),

    // Repetition scoring (Gopher/C4-style quality signal): duplicate
    // bigram/trigram fraction per document — degenerate looping or
    // boilerplate text scores high and gets filtered before training.
    // Entirely map-only (aligned-slice zip_with n-grams + distinct/total
    // on the per-row array): fuses into the scan with zero shuffles,
    // like the rest of the t_* quality columns.
    "t_repetition" -> ((s, dir) =>
      docsF(s, dir).select(
        col("doc_id"),
        TA.wordCount(col("text")).as("n_words"),
        round(TA.dupFraction(TA.wordBigrams(col("text"))), 6)
          .as("dup_bigram_frac"),
        round(TA.dupFraction(TA.wordTrigrams(col("text"))), 6)
          .as("dup_trigram_frac"))
        .orderBy("doc_id")),

    // Sequence packing: documents → fixed-token-budget training packs
    // (per-pack doc count + token totals). Bucketed contiguous packing:
    // one hash exchange on the bucket key, per-bucket sorted windows in
    // parallel — never a global single-partition window.
    "t_pack" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"),
        ceil(col("n_chars").cast("double") / 4.0).cast("long").as("tok"))
      val (bucket, pack) = TA.packIds(col("tok"), col("doc_id"), budget = 2048)
      d.select(col("doc_id"), col("tok"),
        bucket.as("bucket"), pack.as("pack_id"))
        .groupBy("bucket", "pack_id")
        .agg(count(lit(1)).as("n_docs"), sum("tok").as("sum_tokens"))
        .orderBy("bucket", "pack_id")
    }),

    // Content fingerprints: set-hash + positional prefix hash.
    "t_fingerprint" -> ((s, dir) =>
      docs(s, dir).filter(col("doc_id") < 100).select(
        col("doc_id"),
        TA.fingerprint(col("text")).as("fp_set"),
        TA.prefixFingerprint(col("text"), 8).as("fp_prefix8"))
        .orderBy("doc_id")),

    // N-gram frequency: top-20 bigrams corpus-wide. Bigram generation is
    // pure Column code (transform over an index sequence — no UDF, no
    // explode of the raw text); the count is one hash-aggregate shuffle
    // on the bigram key, then a global top-k. The training-data shape:
    // same pipeline computes n-gram LM stats / contamination checks.
    "t_ngrams" -> ((s, dir) =>
      docs(s, dir)
        .select(split(col("text"), " ").as("ws"))
        .filter(size(col("ws")) >= 2)
        .select(explode(transform(
          sequence(lit(1), size(col("ws")) - 1),
          i => concat_ws(" ",
            element_at(col("ws"), i), element_at(col("ws"), i + 1))))
          .as("bg"))
        .groupBy("bg")
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("bg"))
        .limit(20)),

    // TF-IDF keyword extraction: each document's top-3 most
    // DISTINCTIVE terms by tf·idf with the LINEAR idf variant
    // (N/df, no logarithm — ln differs in final ulps across libm
    // implementations, and rank order at this scale is identical), so
    // the score is two divisions and a multiply both engines compute
    // bit-identically. Scale shape: term frequencies and document
    // frequencies are each ONE map-side-combined shuffle over the
    // token relation; scoring joins on term (bounded by corpus
    // tokens); the rank window partitions per document.
    "t_keywords" -> ((s, dir) => {
      val d = docs(s, dir)
      val toks = d.select(col("doc_id"),
        explode(split(col("text"), " ")).as("term"))
      val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val len = toks.groupBy("doc_id").agg(count(lit(1)).as("len"))
      val dfx = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val n = d.agg(count(lit(1)).as("n"))
      val scored = tf.filter(col("doc_id") < 20)
        .join(len, "doc_id").join(dfx, "term").crossJoin(broadcast(n))
        .select(col("doc_id"), col("term"),
          round((col("tf").cast("double") / col("len").cast("double")) *
            (col("n").cast("double") / col("df").cast("double")), 6)
            .as("score"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("term"))
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select("doc_id", "rank", "term", "score")
        .orderBy("doc_id", "rank")
    }),

    // Vocabulary coverage curve — the tokenizer-training primitive:
    // global token frequencies ranked with each rank's CUMULATIVE share
    // of all token occurrences, i.e. "a vocab truncated at rank r
    // covers cum_share of the corpus". The heavy work (corpus-sized
    // explode + count) is one map-side-combined shuffle. Rank and
    // running share of the first 30 ranks depend only on the 30
    // largest counts and the total, so a top-30 cut on the total order
    // (cnt desc, token) runs before the single-partition ranking
    // window, which then sorts 30 rows instead of the whole vocabulary;
    // the total still sums every count.
    "t_vocab" -> ((s, dir) => {
      val counts = docs(s, dir)
        .select(explode(split(col("text"), " ")).as("token"))
        .groupBy("token").agg(count(lit(1)).as("cnt"))
      val w = Window.orderBy(col("cnt").desc, col("token"))
      counts.orderBy(col("cnt").desc, col("token")).limit(30)
        .crossJoin(broadcast(counts.agg(sum(col("cnt")).as("total"))))
        .withColumn("rank", row_number().over(w))
        .withColumn("cum_share",
          round(sum(col("cnt")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("double") / col("total").cast("double"), 6))
        .select(col("rank"), col("token"), col("cnt"), col("cum_share"))
        .orderBy("rank")
    }),

    // BPE pair statistics (Sennrich et al. 2016 — the first merge step
    // of byte-pair-encoding tokenizer training): corpus word
    // frequencies, then adjacent CHARACTER-pair counts weighted by word
    // frequency, top-50 merge candidates. The classic BPE economy is
    // load-bearing at scale: pair enumeration runs over the DISTINCT
    // vocabulary (bounded, Heaps-law growth), never over corpus tokens
    // — one corpus-sized word-count shuffle (map-side combined), then
    // everything else is vocab-sized, finishing in a TakeOrdered top-k,
    // no global sort.
    "t_bpe_pairs" -> ((s, dir) => {
      val words = docs(s, dir)
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) >= 2)
        .groupBy("w").agg(count(lit(1)).as("freq"))
      words
        .select(col("freq"),
          explode(transform(sequence(lit(1), length(col("w")) - 1),
            i => col("w").substr(i, lit(2)))).as("pair"))
        .groupBy("pair").agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("pair"))
        .limit(50)
    }),

    // BPE tokenizer TRAINING (closing the t_bpe_pairs loop the way
    // t_mixture_apply closed t_mixture's): 8 greedy merges learned by
    // the Sennrich et al. 2016 algorithm — count adjacent symbol pairs
    // weighted by word frequency, merge the argmax everywhere, repeat.
    // The corpus is scanned ONCE (the distinct-word frequency count);
    // every iteration then runs over the |vocab| table — pair counts
    // are a map-side-combined vocab-sized shuffle, the argmax is a
    // 1-row model-state collect, the merge applies as a map-only fold.
    // Trained once per JVM per dataset (the standing-index pattern);
    // ties break (count desc, pair asc) so the model is bit-reproducible
    // across engines and cluster sizes — the oracle replays the SAME 8
    // iterations in SQL, so every learned merge is hash-checked.
    "t_bpe_train" -> ((s, dir) => {
      val spark = s
      import spark.implicits._
      trainedBpe(s, dir).toDF("merge_rank", "lft", "rgt", "cnt")
        .withColumn("merged", concat(col("lft"), col("rgt")))
        .select("merge_rank", "lft", "rgt", "merged", "cnt")
        .orderBy("merge_rank")
    }),

    // The trained tokenizer APPLIED: segment every document with the
    // 8 learned merges and report per-doc token counts. The fold that
    // applies the merges runs over the DISTINCT vocabulary (tokenizing
    // is `explode words → join the encoded vocab → re-aggregate`), so
    // tokenization cost rides on |vocab|, never corpus tokens — the
    // economy that makes corpus-wide token accounting feasible at
    // 100 TB. The oracle replays training AND encoding, so the
    // per-document token counts are hash-checked end to end.
    "t_bpe_encode" -> ((s, dir) => {
      val enc = graft.operators.Bpe
        .encodeVocab(docs(s, dir), "text", trainedBpe(s, dir))
        .select(col("w"), size(split(col("syms"), " ")).as("n_tok"))
      docs(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .join(enc, "w")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"), sum("n_tok").as("n_tokens"))
        .withColumn("tokens_per_word",
          round(col("n_tokens").cast("double") / col("n_words").cast("double"), 6))
        .orderBy("doc_id")
    }),

    // Unigram-LM tokenizer training (SentencePiece's model family),
    // the EM twin of t_bpe_train: seed with all chars + top-64
    // substrings, then 3 hard-EM rounds — Viterbi-segment the DISTINCT
    // vocabulary under Laplace-smoothed piece probabilities, re-count,
    // repeat. The corpus is scanned once; every round is a vocab-sized
    // job plus an O(model) driver collect. No transcendentals anywhere
    // (probabilities are one division; DP scores are IEEE product
    // chains), so the DuckDB oracle replays the SAME 3 EM rounds and
    // hash-checks every learned count.
    "t_unigram_train" -> ((s, dir) => {
      val spark = s
      import spark.implicits._
      trainedUnigram(s, dir).counts.toDF("piece", "cnt")
        .select(col("piece"), length(col("piece")).as("piece_len"),
          col("cnt"),
          (length(col("piece")) === 1 || col("cnt") > 0).as("kept"))
        .orderBy(col("cnt").desc, col("piece"))
    }),

    // The trained unigram model APPLIED: Viterbi-segment every document
    // under the final smoothed probabilities and report per-doc token
    // counts. Same economy as t_bpe_encode — the DP runs over DISTINCT
    // words (tokenizing is explode → join the segmented vocab →
    // re-aggregate), so cost rides on |vocab|, never corpus tokens.
    "t_unigram_encode" -> ((s, dir) => {
      val enc = graft.operators.Unigram
        .encodeVocab(docs(s, dir), "text", trainedUnigram(s, dir), NUniMax)
        .select(col("w"), size(split(col("syms"), " ")).as("n_tok"))
      docs(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .join(enc, "w")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"), sum("n_tok").as("n_tokens"))
        .withColumn("tokens_per_word",
          round(col("n_tokens").cast("double") / col("n_words").cast("double"), 6))
        .orderBy("doc_id")
    }),

    // The Viterbi segmentations THEMSELVES: every distinct word with
    // its max-probability piece sequence under the final model — the
    // strongest check on the DP (t_unigram_encode only aggregates
    // token counts; a wrong-but-count-preserving segmentation would
    // slip through it). |vocab| rows at any corpus size.
    "t_unigram_segments" -> ((s, dir) => {
      graft.operators.Unigram
        .encodeVocab(docs(s, dir), "text", trainedUnigram(s, dir), NUniMax)
        .select(col("w").as("word"), col("syms").as("seg"),
          size(split(col("syms"), " ")).as("n_pieces"))
        .orderBy("word")
    }),

    // Deterministic train/val/test split by salted-md5 id bands: a
    // document's split never changes as the corpus grows (no RNG, no
    // sampling shuffle — the contamination-safety property a training
    // pipeline needs). Map-only; the aggregate is just the check.
    "t_split" -> ((s, dir) =>
      docs(s, dir)
        .select(col("doc_id"), TA.hashSplit(col("doc_id")).as("split"))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
        .orderBy("split")),

    // Gopher-style composite quality rules (Rae et al. 2021 §A1.1,
    // reduced to the signals this corpus carries): word-count band,
    // mean-word-length band, type-token-ratio floor, and the "must
    // contain ≥ 2 English stop words" rule. Per-rule boolean flags plus
    // the conjunction — the filter-with-audit-trail shape a curation
    // pipeline wants (keep WHY a doc was dropped, not just that it
    // was). Entirely map-only arithmetic over the scan: every flag is
    // an integer-count comparison or one IEEE double division, so both
    // engines agree bit-for-bit and at 100 TB the whole rule set fuses
    // into the document scan with zero shuffles.
    "t_gopher" -> ((s, dir) => {
      val Seq(rWc, rMwl, rTtr, rStop) = TA.gopherRules(col("text"))
      docs(s, dir).select(
        col("doc_id"), TA.wordCount(col("text")).as("n_words"),
        rWc.as("r_wc"), rMwl.as("r_mwl"), rTtr.as("r_ttr"),
        rStop.as("r_stop"),
        TA.gopherPass(col("text")).as("pass"))
        .orderBy("doc_id")
    }),

    // Stratified deterministic sampling: per-language keep-rates
    // (downsample the dominant language, keep more of the rest — the
    // data-mixture rebalancing step before training). The rate table is
    // a BROADCAST dim (in production: a config table), the keep
    // decision is the salted-md5 256-band hash vs the stratum's
    // threshold — pure map-side filter, no RNG, no sampling shuffle,
    // and a document's fate never changes as the corpus grows or the
    // cluster resizes. en keeps 64/256 (25%), every other language
    // 128/256 (50%).
    // Data-MIXTURE planning — the step BEFORE t_sample_stratified's
    // fixed keep-rates: given target per-language token SHARES (a
    // broadcast config) and the measured per-language token counts,
    // compute the largest total budget the corpus can serve at those
    // shares (N = min over languages of tokens/weight — the binding
    // language keeps everything) and each language's keep rate. This
    // is the rebalancing arithmetic behind mixture recipes
    // (DoReMi-style weights, the Pile's per-source epochs): measured
    // counts in, executable sampling plan out. One map-side-combined
    // shuffle for the counts; everything after is |langs|-sized.
    // The join runs FROM the weight table (left outer, missing counts
    // coalesced to 0): a target language with zero corpus presence is
    // the BINDING constraint (N = 0, every keep rate 0) — an inner
    // join would silently drop it and emit a plan whose shares sum to
    // less than 1 (the r13 advisory).
    "t_mixture" -> ((s, dir) => {
      val toks = docs(s, dir).groupBy("lang")
        .agg(sum(TA.wordCount(col("text")).cast("long")).as("tokens"))
      val weights = Seq(("en", 0.4), ("de", 0.15), ("es", 0.15),
        ("fr", 0.15), ("zh", 0.15))
      import s.implicits._
      val wdf = weights.toDF("lang", "weight")
      val scored = wdf.join(broadcast(toks), Seq("lang"), "left")
        .withColumn("tokens", coalesce(col("tokens"), lit(0L)))
        .withColumn("feasible",
          col("tokens").cast("double") / col("weight"))
      val n = scored.agg(min(col("feasible")).as("n_total"))
      scored.crossJoin(broadcast(n))
        .select(col("lang"), col("tokens"), col("weight"),
          round(col("weight") * col("n_total"), 4).as("planned_tokens"),
          when(col("tokens") === 0L, lit(0.0))
            .otherwise(round(col("weight") * col("n_total") /
              col("tokens").cast("double"), 6)).as("keep_rate"))
        .orderBy("lang")
    }),

    // Mixture plan APPLIED — the loop t_mixture opens, closed:
    // Curation.applyMixture turns the computed keep rates into 256-band
    // thresholds and filters with the deterministic salted-hash band
    // (one broadcast |langs|-row join + a map-side filter; the only
    // corpus-sized work is the token-count shuffle), and this query
    // audits the realized outcome per language: kept docs/tokens and
    // the realized token share next to the target weight. Realized
    // shares land within band-quantization error of the targets
    // (spec-asserted in CurationSpec; visible here as data).
    "t_mixture_apply" -> ((s, dir) => {
      val weights = Seq(("en", 0.4), ("de", 0.15), ("es", 0.15),
        ("fr", 0.15), ("zh", 0.15))
      val kept = graft.operators.Curation.applyMixture(docs(s, dir), weights)
      val counts = kept.groupBy("lang")
        .agg(count(lit(1)).as("kept_docs"),
          sum(TA.wordCount(col("text")).cast("long")).as("kept_tokens"))
      val tot = counts.agg(sum(col("kept_tokens")).as("tot"))
      import s.implicits._
      val wdf = weights.toDF("lang", "weight")
      wdf.join(broadcast(counts), Seq("lang"), "left")
        .withColumn("kept_docs", coalesce(col("kept_docs"), lit(0L)))
        .withColumn("kept_tokens", coalesce(col("kept_tokens"), lit(0L)))
        .crossJoin(broadcast(tot))
        .select(col("lang"), col("weight"), col("kept_docs"),
          col("kept_tokens"),
          round(col("kept_tokens").cast("double") /
            col("tot").cast("double"), 6).as("realized_share"))
        .orderBy("lang")
    }),

    "t_sample_stratified" -> ((s, dir) => {
      val spark = s
      import spark.implicits._
      val rates = Seq(("en", 64), ("de", 128), ("es", 128),
        ("fr", 128), ("zh", 128)).toDF("lang", "thr")
      docs(s, dir)
        .join(broadcast(rates), Seq("lang"))
        .select(col("doc_id"), col("lang"),
          TA.hashBand256(col("doc_id"), "strat:").as("band"), col("thr"))
        .filter(col("band") < col("thr"))
        .select("doc_id", "lang", "band")
        .orderBy("doc_id")
    }),

    // Per-language quality quota: keep the top-5 docs per language by
    // quality score — the curation shape ("cap each source/language at
    // N best docs"). One hash exchange on lang, per-key heap sort.
    "t_quota" -> ((s, dir) => {
      val scored = docs(s, dir).select(
        col("doc_id"), TA.langId(col("text")).as("lang"),
        TA.qualityScore(col("text")).as("score"))
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("score").desc, col("doc_id"))
      scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select("lang", "rn", "doc_id", "score")
        .orderBy("lang", "rn")
    }),

    // PII scrubbing: the pre-training redaction pass. The corpus is
    // synthetic word soup with no PII, so the query first INJECTS
    // deterministic doc_id-derived PII (an email, a phone-shaped and an
    // SSN-shaped number) and then scrubs it — both engines reproduce
    // the injection, and the scrub output is verified by value (match
    // counts per pattern + md5 of the cleaned text, all hash-checked).
    // Map-only codegen regexp chain; at 100 TB this fuses into the scan.
    "t_pii" -> ((s, dir) => {
      val injected = docs(s, dir).filter(col("doc_id") < 200)
        .select(col("doc_id"),
          concat(col("text"),
            lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com or 555-0142 ref 123-45-6789")).as("text"))
      injected.select(
        col("doc_id"),
        regexp_count(col("text"), lit(TA.EmailRe)).cast("long").as("n_email"),
        regexp_count(col("text"), lit(TA.PhoneRe)).cast("long").as("n_phone"),
        regexp_count(col("text"), lit(TA.IdNumRe)).cast("long").as("n_id"),
        md5(TA.scrubPii(col("text")).cast("binary")).as("scrub_md5"),
        (length(col("text")) - length(TA.scrubPii(col("text"))))
          .cast("long").as("chars_removed"))
        .orderBy("doc_id")
    }),

    // Benchmark-contamination check: for every test-split document, the
    // fraction of its 3-gram shingles that appear anywhere in the train
    // split. The join is inverted-index on the shingle key (only shared
    // shingles meet — never test×train doc pairs), the standard shape
    // for cross-corpus overlap at 100 TB.
    "t_contamination" -> ((s, dir) => {
      val d = docs(s, dir)
      val splits = d.select(col("doc_id").as("id"),
        TA.hashSplit(col("doc_id")).as("split"))
      val rel = graft.operators.Dedup.shingleRelation(d, "doc_id", "text")
        .join(splits, "id")
      val test = rel.filter(col("split") === "test")
      val trainShingles = rel.filter(col("split") === "train")
        .select("shingle").distinct()
      val shared = test.join(trainShingles, "shingle")
        .groupBy("id").agg(count(lit(1)).as("shared"))
      val totals = test.groupBy("id").agg(count(lit(1)).as("total"))
      totals.join(shared, Seq("id"), "left")
        .select(col("id").as("doc_id"), col("total"),
          coalesce(col("shared"), lit(0L)).as("shared"),
          round(coalesce(col("shared"), lit(0L)).cast("double") /
            col("total").cast("double"), 6).as("contam_ratio"))
        .orderBy("doc_id")
    }),

    // CCNet-style QUALITY-BUCKET sampling: bucket every document
    // against FIXED reference thresholds (head/middle/tail — the CCNet
    // recipe scores against a reference model and cuts at fixed
    // perplexity bounds, so bucketing is a pure map-side comparison;
    // corpus-quantile bucketing would need a global sort) and keep
    // each bucket at its own deterministic 256-band rate — keep all of
    // head, half of middle, an eighth of tail. Map-only end to end:
    // score, bucket, band, and the keep decision all fuse into the
    // scan; a document's bucket and fate never change as the corpus
    // grows.
    "t_quality_sample" -> ((s, dir) =>
      docs(s, dir)
        .select(col("doc_id"),
          TA.qualityBucket(col("text")).as("bucket"),
          TA.qualityScore(col("text")).as("score"),
          TA.hashBand256(col("doc_id"), "qb:").as("band"))
        .filter(TA.qualityKeep(col("doc_id"), col("bucket")))
        .select("doc_id", "bucket", "score", "band")
        .orderBy("doc_id")),

    // Deterministic FEW-SHOT exemplar sampling — the eval-set builder
    // of a training pipeline: k=3 exemplar documents per
    // (language × quality-bucket) stratum, picked by smallest salted
    // md5 hash so the draw is a pure function of the data (no RNG, no
    // seed to checkpoint, same exemplars on any cluster at any
    // parallelism, stable as long as the stratum membership is).
    // EXECUTION is the bounded-state
    // [[graft.functions.ReservoirSketchLong]] aggregator — 3 (hash,
    // id) pairs of mergeable map-side-combined state per stratum, so
    // at 100 TB this is one map-combined shuffle of k rows per
    // stratum, never a per-stratum sort of corpus-sized partitions
    // (the x_rs_quantiles convention; the ORACLE stays the row_number
    // formulation ReservoirSketchSpec proves bit-identical). The
    // sketch's output array is VALUE-sorted (its quantile-reading
    // contract), so `rk` numbers the hash-chosen exemplars in id
    // order — the membership is hash-determined, the listing isn't.
    // doc_id rides the LONG value slot, so ANY 64-bit id round-trips
    // exactly (the double-valued ReservoirSketch is exact only to
    // 2^53 and used to need a fail-fast guard here).
    "t_eval_sample" -> ((s, dir) => {
      val rs = udaf(new graft.functions.ReservoirSketchLong(3))
      val h = conv(substring(
        md5(concat(lit("ev:"), col("doc_id").cast("string"))), 1, 8),
        16, 10).cast("long")
      docs(s, dir)
        .select(col("lang"), TA.qualityBucket(col("text")).as("bucket"),
          h.as("h"), col("doc_id").as("v"))
        .groupBy("lang", "bucket").agg(rs(col("h"), col("v")).as("picks"))
        .select(col("lang"), col("bucket"),
          posexplode(col("picks")).as(Seq("p", "v")))
        .select(col("lang"), col("bucket"), (col("p") + 1).as("rk"),
          col("v").as("doc_id"))
        .orderBy("lang", "bucket", "rk")
    }),

    // Context-window CHUNKING with overlap — 64-token windows at stride
    // 48 (16-token overlap), trailing partial window kept at ≥ 32
    // tokens (with this stride the tail always holds ≥ 17, so the rule
    // genuinely prunes). Semantics and the stateless-map-only scale
    // shape documented on [[graft.operators.TextAnalysis.chunkWindows]].
    // Chunks scale with corpus tokens; no shuffle before the
    // presentation sort.
    "t_chunk" -> ((s, dir) =>
      TA.chunkWindows(docs(s, dir), "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id", "chunk_id")),

    // Robust WINNOWING fingerprints (Schleimer, Wilkerson & Aiken 2003):
    // windowed-minimum k-gram selection at ~2/(w+1) density (measured
    // 0.39) — semantics and scale shape documented on
    // [[graft.operators.Dedup.winnowFingerprints]]; `d_winnow_pairs`
    // runs the MOSS match step over the same selection.
    "t_winnow" -> ((s, dir) =>
      graft.operators.Dedup.winnowFingerprints(docsF(s, dir), "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id", "fp_pos")),

    // Collocation mining: top-20 bigrams by LIFT — the rational core of
    // PMI (Church & Hanks 1990), score = N·c(ab) / (c(a)·c(b)), which
    // is monotone to PMI = log of it; staying in integer counts + two
    // IEEE-exact double ops keeps both engines bit-identical where a
    // libm log would not. c(w) counts occurrences in EITHER bigram slot
    // (head + tail), so the denominator is the standard unigram
    // frequency up to the two boundary tokens. Shapes: one explode
    // over token positions, two map-combined hash aggs (bigram key,
    // word key), a vocabulary-sized join, global top-20 — corpus cost
    // is the token explode; nothing quadratic.
    "t_collocations" -> ((s, dir) => {
      val toks = split(col("text"), " ")
      val bg = docs(s, dir)
        .select(toks.as("l"), size(toks).as("n"))
        .filter(col("n") >= 2)
        .select(col("l"), explode(sequence(lit(1), col("n") - 1)).as("i"))
        .select(element_at(col("l"), col("i")).as("w1"),
          element_at(col("l"), col("i") + 1).as("w2"))
      val cb = bg.groupBy("w1", "w2").agg(count(lit(1)).as("cab"))
      val uc = bg.select(col("w1").as("w"))
        .unionByName(bg.select(col("w2").as("w")))
        .groupBy("w").agg(count(lit(1)).as("cw"))
      val nb = bg.agg(count(lit(1)).as("nb"))
      cb.filter(col("cab") >= 5)
        .join(uc.select(col("w").as("w1"), col("cw").as("ca")), "w1")
        .join(uc.select(col("w").as("w2"), col("cw").as("cb2")), "w2")
        .crossJoin(broadcast(nb))
        .select(col("w1"), col("w2"), col("cab"),
          (col("nb").cast("double") * col("cab").cast("double") /
            (col("ca").cast("double") * col("cb2").cast("double")))
            .as("lift"))
        .orderBy(col("lift").desc, col("w1"), col("w2"))
        .limit(20)
    }),

    // DSIR-style importance scoring (Xie et al. 2023, "Data Selection
    // for Language Models via Importance Resampling"): score every raw
    // document by how much its HASHED-BIGRAM feature profile looks
    // like a target distribution (here: the English slice), using
    // Laplace-smoothed per-bucket counts. Faithful parts: word-bigram
    // features hashed into B=64 buckets (DSIR's hashed n-gram model),
    // target/raw count ratio per bucket, per-document aggregation over
    // its own features. Deliberate departure: DSIR aggregates
    // log-ratios; libm log is not correctly rounded and diverges
    // between engines (the t_collocations LIFT precedent), so the
    // per-feature weight stays RATIONAL — w(f) = (ct+1)·1e6 div (cr+1)
    // — and the document score is the integer mean feature weight.
    // Monotone per feature, integer-exact end to end, hash-checkable.
    // Shapes: the corpus-sized bigram explode runs EXACTLY ONCE — it
    // aggregates straight down to (doc, lang, bucket, c) (≤64 buckets
    // per doc, so the relation is |docs|·64-bounded, nothing like
    // corpus-token-sized) and THAT slim relation stages to scratch
    // parquet (the q_recursive shape); the weight aggregate and the
    // scoring join both read the file instead of re-running the
    // explode (the pre-r15 cut paid the explode twice — 6.3 s at the
    // 10× probe). Weights stay a 64-row broadcast; one per-doc agg.
    // Nothing corpus² anywhere; the weight table is model state.
    // r20 opt: the slim (doc, lang, bucket, c) relation used to STAGE
    // to scratch parquet so its two consumers (weight aggregate,
    // scoring join) would not re-run the corpus explode — but the
    // round-trip write+read was the query's dominant cost (guide
    // §2.4 "remove shuffles outright" / §6 output costs). The weight
    // computation is now a WINDOW over the same relation (per-bucket
    // sums via partition-by-f), so the explode still runs exactly
    // once, the broadcast join disappears, and nothing touches disk:
    // same integer arithmetic, same values, one plan.
    "t_dsir" -> ((s, dir) => {
      val feats = docsF(s, dir)
        .select(col("doc_id"), col("lang"),
          explode(TA.wordBigrams(col("text"))).as("bg"))
        .select(col("doc_id"), col("lang"),
          TA.dsirBucket(col("bg")).as("f"))
        .groupBy("doc_id", "lang", "f").agg(count(lit(1)).as("c"))
      val wF = Window.partitionBy("f")
      feats
        .withColumn("cr", sum(col("c")).over(wF))
        .withColumn("ct", sum(when(col("lang") === "en", col("c"))
          .otherwise(0L)).over(wF))
        .withColumn("w_e6", expr("((ct + 1) * 1000000) div (cr + 1)"))
        .groupBy("doc_id").agg(sum(col("c")).as("nf"),
          sum(col("c") * col("w_e6")).as("sw"))
        .select(col("doc_id"), col("nf"), expr("sw div nf").as("dsir_e6"))
        .orderBy(col("dsir_e6").desc, col("doc_id"))
        .limit(50)
    }),

    // Training-order N-GRAM NOVELTY curve — the data-freshness
    // diagnostic of a deterministic training order (t_epoch_order's
    // epoch-0 shard assignment): processing shards 0..3 in order, what
    // fraction of each shard's distinct word-bigrams has never
    // appeared in an earlier shard? A flat curve says later data keeps
    // contributing new constructions; a collapsing one says the tail
    // re-treads the head — the signal behind dedup-then-order
    // curation choices. Shapes: ONE corpus explode aggregated straight
    // to the distinct (shard, bigram) relation and staged to scratch
    // (the t_dsir shape — two consumers read the file, the explode
    // never re-runs); first-occurrence attribution is a bigram-keyed
    // min, per-shard totals a shard-keyed count. Integer counts plus
    // one final rounded IEEE division, hash-exact.
    // r20 opt: same staging-removal as t_dsir — first-occurrence
    // attribution is a per-bigram MIN WINDOW over the one distinct
    // (shard, bigram) relation instead of a second aggregate joined
    // back over a scratch-parquet round trip. A bigram's row counts
    // as novel exactly when its shard IS the min shard (one such row
    // per bigram, since the relation is distinct), so the per-shard
    // sums equal the old first-occurrence counts row for row.
    "t_ngram_novelty" -> ((s, dir) => {
      // fused md5-prefix — same value as the conv/substring chain
      val shard = pmod(graft.plans.HashOps.md5PrefixLong(
        concat(lit("epoch0:"), col("doc_id").cast("string")), 1, 2)
        .cast("int"), lit(4))
      val g = docsF(s, dir)
        .select(shard.as("shard"),
          explode(TA.wordBigrams(col("text"))).as("bg"))
        .distinct()
      g.withColumn("first_shard",
          min(col("shard")).over(Window.partitionBy("bg")))
        .groupBy("shard").agg(count(lit(1)).as("n_grams"),
          sum(when(col("shard") === col("first_shard"), 1L)
            .otherwise(0L)).as("n_novel"))
        .select(col("shard"), col("n_grams"), col("n_novel"),
          round(col("n_novel").cast("double") /
            col("n_grams").cast("double"), 6).as("novelty"))
        .orderBy("shard")
    }),

    // TF-IDF top-3 terms per document — the sparse-retrieval / keyword-
    // extraction primitive (salience = term frequency × corpus rarity).
    // idf is the RATIONAL form N/df, not log(N/df): multiplication and
    // division are IEEE-correctly-rounded so both engines produce
    // bit-identical doubles, while libm log is not guaranteed to — the
    // ranking is order-equivalent (log is monotone). Shapes: tf is one
    // (doc, term) hash agg; df reduces tf by term (map-side combined);
    // the df join shuffles on the term key — both sides are
    // vocabulary- or corpus-term-sized, no broadcast assumption — and
    // the top-3 is a per-doc window over tf's own partitioning. N is a
    // 1-row broadcast.
    // r20 opt: df used to be a SECOND aggregate over tf joined back on
    // the term (sort-merge: both sides exchanged + sorted on term).
    // Since df is just tf's per-term row count, it is now a COUNT
    // WINDOW over tf itself (partition by term) — the aggregate and
    // the join collapse into the one term-keyed exchange the join
    // already paid. Same arithmetic, same values.
    "t_tfidf" -> ((s, dir) => {
      val tf = docs(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val n = docs(s, dir).agg(count(lit(1)).as("n"))
      val rk = Window.partitionBy("doc_id")
        .orderBy(col("score").desc, col("term"))
      tf.withColumn("df", count(lit(1)).over(Window.partitionBy("term")))
        .crossJoin(broadcast(n))
        .select(col("doc_id"), col("term"),
          (col("tf").cast("double") * col("n").cast("double") /
            col("df").cast("double")).as("score"))
        .withColumn("rk", row_number().over(rk))
        .filter(col("rk") <= 3)
        .select("doc_id", "rk", "term", "score")
        .orderBy("doc_id", "rk")
    }),

    // Reference-MODEL scoring (the CCNet recipe's shape: train a cheap
    // LM on trusted data, score everything against it): bigram counts
    // learned on the train split become the model table; every document
    // is then scored by bigram familiarity — how many of its bigrams
    // the model knows (n_known) and the average model count over its
    // bigrams (familiarity). A count-mass score instead of perplexity
    // keeps every aggregate integer-exact; the only float op is one
    // final IEEE division, so both engines agree bit-for-bit where
    // log-prob sums would flake. Scale shape: training is one
    // map-side-combined count shuffle over train bigrams; scoring is a
    // key-partitioned left join on the bigram — corpus-linear, no
    // broadcast assumption on the model side, and low-familiarity docs
    // feed the same head/middle/tail machinery as t_quality_sample.
    // r20 opt: the model side used to be a SECOND corpus explode
    // (train-filtered) aggregated and joined back on the bigram — the
    // wordBigrams expansion, the query's heaviest per-row work, ran
    // ~1.8× over the corpus. Now ONE explode carries a train flag and
    // the model count is a per-bigram window sum over it (partition
    // by bg), so model lookups become `cnt_w` on the same row: a
    // bigram is known iff any train occurrence exists (cnt_w > 0 ⟺
    // the old left-join cnt was non-null), and cnt_w equals the old
    // model count exactly. One explode, no join, same values.
    "t_lm_score" -> ((s, dir) => {
      val occ = docsF(s, dir)
        .select(col("doc_id"),
          (TA.hashSplit(col("doc_id")) === "train").as("is_train"),
          explode(TA.wordBigrams(col("text"))).as("bg"))
      val cntW = sum(when(col("is_train"), 1L).otherwise(0L))
        .over(Window.partitionBy("bg"))
      occ.withColumn("cnt", cntW)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          sum(when(col("cnt") > 0L, 1L).otherwise(0L)).as("n_known"),
          sum(col("cnt")).as("model_mass"))
        .withColumn("familiarity",
          round(col("model_mass").cast("double") /
            col("n_bigrams").cast("double"), 6))
        .orderBy("doc_id")
    }),

    // Deterministic EPOCH ordering — the reproducible global-shuffle
    // primitive of a training-data pipeline: each epoch orders the
    // corpus by a salted content-free hash (different salt per epoch →
    // a different but REPRODUCIBLE permutation; no RNG state to
    // checkpoint, any worker can recompute any shard's order) and
    // shards it by a hash band (growth-stable: a document's shard
    // never changes as the corpus grows). At 100 TB the materialized
    // form is repartitionByRange over (shard, h) — one range shuffle
    // writing sorted shard files; this query emits each shard's HEAD
    // as the hash-checkable evidence of the ordering contract.
    "t_epoch_order" -> ((s, dir) => {
      // epochs explode off the one scan (a per-epoch union would
      // re-read the corpus once per epoch)
      val h = md5(concat(lit("epoch"), col("epoch").cast("string"),
        lit(":"), col("doc_id").cast("string")))
      val hashed = docs(s, dir).select(col("doc_id"),
          explode(array(lit(0), lit(1))).as("epoch"))
        .select(col("epoch"), col("doc_id"), h.as("h"),
          pmod(conv(substring(h, 1, 2), 16, 10).cast("int"), lit(4))
            .as("shard"))
      val w = Window.partitionBy(col("epoch"), col("shard"))
        .orderBy(col("h"), col("doc_id"))
      hashed.withColumn("pos", row_number().over(w))
        .filter(col("pos") <= 5)
        .select("epoch", "shard", "pos", "doc_id")
        .orderBy("epoch", "shard", "pos")
    }),

    // INCREMENTAL contamination — the production decontamination path:
    // the train split's distinct shingles live in a STANDING bucketed
    // index (built once per corpus generation, here once per JVM —
    // Dedup.writeShingleIndex), and each arriving benchmark release
    // checks only itself against it: the index-side distinct and the
    // join both ride the bucketed (shingle) scan with ZERO index-side
    // exchange (plan-asserted in ShingleIndexSpec); only the batch
    // shuffles. Same output contract (and oracle) as t_contamination —
    // persistence changes bytes read, never values.
    "t_contamination_incremental" -> ((s, dir) => {
      val d = docs(s, dir)
      val idxT = builtShingleIndex(s, dir)
      val test = d.filter(TA.hashSplit(col("doc_id")) === "test")
      graft.operators.Dedup
        .contaminationAgainstIndex(test, "doc_id", "text", idxT)
        .orderBy("doc_id")
    }),

    // Multimodal plumbing: binary payload + typed metadata round-trip.
    "mm_binary" -> ((s, dir) =>
      Multimodal.packText(docs(s, dir), "doc_id", "text")
        .select(
          col("media_id"),
          length(col("payload")).as("payload_bytes"),
          col("meta.kind").as("kind"),
          ascii(substring(col("payload").cast("string"), 1, 1)).as("first_byte"))
        .orderBy("media_id")),

    // Multimodal frame sampling: every 2nd 32-byte chunk of the payload
    // (the video-frame-sampling shape); counts/sizes are exact integer
    // arithmetic, so the oracle reproduces the mapPartitions kernel in
    // closed form.
    "mm_frames" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      Multimodal.sampleFrames(
        Multimodal.packText(docs(s, dir), "doc_id", "text"),
        chunkBytes = 32, stride = 2)
        .orderBy("media_id")
    }),

    // REAL video decode end-to-end: per document, a deterministic
    // MJPEG-in-AVI clip is synthesized ((n_chars % 5)+1 two-tone 32×32
    // JPEG frames at 25 fps; docs with n_chars % 7 == 0 instead carry
    // their raw text bytes — a non-RIFF payload exercising the corrupt
    // path), then decoded by the real RIFF walk + per-frame JPEG decode
    // + perceptual aHash. Every output is closed-form from document
    // fields: frame count and geometry from the synthesis parameters,
    // duration from frames × 40 ms, and the hash-pattern counts from
    // the two-tone alternation (even frames hash to the dark-left
    // pattern, odd to dark-top — JPEG noise is ~2 greylevels against a
    // ~250-level margin, so no bit can flip). DuckDB verifies the
    // whole decode chain without decoding anything itself.
    "mm_video" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      import s.implicits._
      val leftDark = ("0000" + "1111") * 8       // even frames: dark left half
      val topDark = "0" * 32 + "1" * 32          // odd frames: dark top half
      val media = docsF(s, dir)
        .select(col("doc_id"), col("n_chars"), col("text"))
        .map { r =>
          val id = r.getLong(0)
          val nc = r.getLong(1)
          val payload =
            if (nc % 7 == 0) r.getString(2).getBytes("UTF-8")
            else Multimodal.syntheticAvi(((nc % 5) + 1).toInt, 32, 32, 40000L)
          (id, payload)
        }.toDF("media_id", "payload")
      Multimodal.videoFrames(
        Multimodal.packBinary(media, "media_id", "payload", "video/avi"))
        .select(col("media_id"), col("n_frames"), col("width"), col("height"),
          col("duration_ms"),
          size(filter(col("frame_hashes"), h => h === lit(leftDark)))
            .as("left_dark"),
          size(filter(col("frame_hashes"), h => h === lit(topDark)))
            .as("top_dark"))
        .orderBy("media_id")
    }),

    // REAL audio decode end-to-end — the audio leg of the multimodal
    // family (mm_video's shape): per document a deterministic 16-bit
    // PCM square-wave WAV is synthesized (half-period (n_chars%4)+2,
    // 8·((n_chars%50)+25) samples at 8 kHz; docs with n_chars%7==0
    // instead carry raw text bytes — a non-WAV payload exercising the
    // corrupt-is-data path), then decoded by the real
    // javax.sound.sampled PCM reader. Every feature is closed-form:
    // the samples are ±0.25 (exact binary fractions), so the decoder's
    // accumulations are EXACT — mean = 0.25·(2·nPlus−n)/n with nPlus a
    // pure integer cycle count, RMS = peak = 0.25, duration = n/8 ms —
    // and DuckDB verifies the whole decode chain with integer
    // arithmetic plus two correctly-rounded IEEE ops (one ×, one ÷),
    // never decoding a byte itself.
    "mm_audio" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      import s.implicits._
      val media = docsF(s, dir)
        .select(col("doc_id"), col("n_chars"), col("text"))
        .map { r =>
          val id = r.getLong(0)
          val nc = r.getLong(1)
          val payload =
            if (nc % 7 == 0) r.getString(2).getBytes("UTF-8")
            else Multimodal.syntheticWav(
              ((nc % 4) + 2).toInt, (8L * ((nc % 50) + 25)).toInt)
          (id, payload)
        }.toDF("media_id", "payload")
      Multimodal.decodeFeatures(
        Multimodal.packBinary(media, "media_id", "payload", "audio/wav"))
        .toDF()
        .select(col("media_id"),
          col("feature")(0).cast("int").as("sample_rate"),
          col("feature")(1).cast("int").as("channels"),
          col("feature")(2).cast("long").as("n_frames"),
          col("feature")(3).cast("long").as("duration_ms"),
          round(col("feature")(4).cast("double"), 6).as("mean_ch0"),
          round(col("feature")(6).cast("double"), 6).as("rms"),
          round(col("feature")(7).cast("double"), 6).as("peak"))
        .orderBy("media_id")
    }),

    // The LANGUAGE-AWARE Gopher gate, rule by rule — the multilingual
    // twin of t_gopher (and the oracle check for gopherRulesLang's
    // single-pass bitmask fold): odd doc_ids are rot13'd, the registry
    // carries {en, rot13}, and the stopword rule passes iff SOME
    // registered language contributes ≥2 function words. The
    // monolingual verdict rides along — every rot13'd doc shows the
    // r12 failure mode (mono_pass=false where pass=true), which is
    // exactly what the language-aware gate exists to fix.
    "t_gopher_lang" -> ((s, dir) => {
      val registry = Map("en" -> TA.Stopwords, "rot13" -> Rot13Words)
      val d = rot13Mixed(docs(s, dir))
      val Seq(rWc, rMwl, rTtr, rStop) =
        TA.gopherRulesLang(col("text2"), registry)
      d.select(col("doc_id"),
        rWc.as("r_wc"), rMwl.as("r_mwl"), rTtr.as("r_ttr"),
        rStop.as("r_stop"),
        TA.gopherPassLang(col("text2"), registry).as("pass"),
        TA.gopherPass(col("text2")).as("mono_pass"))
        .orderBy("doc_id")
    }),

    // MULTI-language language-ID: argmax stopword density over a
    // per-language registry, 'unk' below threshold — the detector the
    // language-aware Gopher gate keys off. To exercise real language
    // variety on the single-language corpus, odd doc_ids are rot13'd
    // (a deterministic "second language" whose function words are the
    // rotated English stopwords — the scale generator's trick) and the
    // registry carries both. The mono detector's verdict rides along
    // to pin the containment relation (mono 'en' ⇒ multi 'en').
    // Map-only over the scan; |registry| filtered sizes per row.
    "t_langid_multi" -> ((s, dir) => {
      val d = rot13Mixed(docs(s, dir))
      d.select(col("doc_id"),
        TA.langIdMulti(col("text2"),
          Map("en" -> TA.Stopwords, "rot13" -> Rot13Words)).as("lang"),
        TA.langId(col("text2")).as("mono_lang"))
        .orderBy("doc_id")
    }),

    // IMAGE near-duplicate detection end-to-end: per document a
    // deterministic two-tone 32×32 JPEG (pattern = n_chars % 3 —
    // dark-left / dark-top / dark-left-⅜), REALLY decoded through
    // ImageIO into a 64-bit perceptual aHash, then paired by the text
    // near-dup machinery unchanged — banded signature self-join
    // (16 bands × 4 bits, lossless for the maxDist=8 cut by
    // pigeonhole) + the codegen hamming_dist kernel. Pattern geometry
    // makes every hash and distance closed-form (d(0,2)=8 near-dup,
    // d(0,1)=d(1,2)=32 far; JPEG noise is ~2 greylevels against a
    // ~250-level margin), so DuckDB verifies the decode→hash→band→
    // verify chain without decoding anything. Pairing is restricted to
    // the doc_id<60 audit slice (the s_pq_recon idiom): every
    // same-pattern pair matches by construction, so unbounded pairing
    // is quadratic BY DESIGN here — real corpora pair via the same
    // banding with collision-bounded buckets (d_simhash_pairs). The
    // hash pass itself runs over the full corpus.
    "mm_neardup" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      import s.implicits._
      val media = docsF(s, dir)
        .select(col("doc_id"), col("n_chars"))
        .map { r =>
          (r.getLong(0),
            Multimodal.syntheticJpeg((r.getLong(1) % 3).toInt, 32, 32))
        }.toDF("media_id", "payload")
      val hashes = Multimodal.averageHash(
        Multimodal.packBinary(media, "media_id", "payload", "image/jpeg"))
        .toDF()
        .select(col("media_id").as("id"), col("ahash").as("simhash"))
      graft.operators.Dedup.simhashBandedPairs(
        hashes.filter(col("id") < 60), maxDist = 8, bands = 16, bits = 64)
        .orderBy("id_a", "id_b")
    }),
  )

  val oracles: Map[String, String] = Map(
    "t_quality" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        |SELECT doc_id, len(w) AS n_words,
        |  round(CAST(len(list_distinct(w)) AS DOUBLE) / CAST(len(w) AS DOUBLE), 6)
        |    AS distinct_ratio,
        |  round(CAST(len(list_filter(w, x -> x IN ($StopList))) AS DOUBLE)
        |    / CAST(len(w) AS DOUBLE), 6) AS stop_ratio,
        |  round(CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE)
        |    / CAST(len(w) AS DOUBLE), 6) AS avg_wlen,
        |  round(least(CAST(len(w) AS DOUBLE) / 100.0, 1.0) * 0.4
        |    + (CAST(len(list_distinct(w)) AS DOUBLE) / CAST(len(w) AS DOUBLE)) * 0.4
        |    + CASE WHEN (CAST(len(list_filter(w, x -> x IN ($StopList))) AS DOUBLE)
        |        / CAST(len(w) AS DOUBLE)) BETWEEN 0.02 AND 0.3
        |      THEN 0.2 ELSE 0.0 END, 6) AS score
        |FROM t ORDER BY doc_id""".stripMargin,
    "t_langid" ->
      s"""WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
        |p AS (SELECT doc_id, lang,
        |  CASE WHEN CAST(len(list_filter(w, x -> x IN ($StopList))) AS DOUBLE)
        |      / CAST(len(w) AS DOUBLE) >= 0.05
        |    THEN 'en' ELSE 'unk' END AS pred_lang
        |  FROM t)
        |SELECT doc_id, pred_lang, lang, pred_lang = lang AS agree
        |FROM p ORDER BY doc_id""".stripMargin,
    "t_tokens" ->
      """SELECT doc_id,
        |  len(string_split(text, ' ')) AS n_ws,
        |  CAST(ceil(CAST(n_chars AS DOUBLE) / 4.0) AS BIGINT) AS n_bpe_est,
        |  len(regexp_extract_all(text, '[a-z]+')) AS n_re,
        |  n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    "t_truncation_loss" ->
      """WITH t AS (SELECT CAST(ceil(CAST(n_chars AS DOUBLE) / 4.0) AS BIGINT)
        |    AS tok FROM documents),
        |a AS (SELECT count(*) AS n_docs,
        |    CAST(sum(tok) AS BIGINT) AS tokens_total FROM t),
        |w AS (SELECT * FROM (VALUES (128), (512), (2048)) v(ctx_len)),
        |l AS (SELECT w.ctx_len,
        |    CAST(sum(CASE WHEN t.tok > w.ctx_len THEN 1 ELSE 0 END)
        |      AS BIGINT) AS docs_over,
        |    CAST(sum(greatest(t.tok - w.ctx_len, 0)) AS BIGINT)
        |      AS tokens_lost
        |  FROM t CROSS JOIN w GROUP BY 1)
        |SELECT l.ctx_len, a.n_docs, l.docs_over,
        |  round(CAST(l.docs_over AS DOUBLE) / a.n_docs, 6) AS docs_over_frac,
        |  a.tokens_total, l.tokens_lost,
        |  round(CAST(l.tokens_lost AS DOUBLE) / a.tokens_total, 6) AS loss_frac
        |FROM l CROSS JOIN a ORDER BY ctx_len""".stripMargin,
    "t_repetition" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT doc_id, len(w) AS n_words,
        |    list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]) AS bg,
        |    list_transform(range(1, len(w) - 1),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS tg
        |  FROM t)
        |SELECT doc_id, n_words,
        |  round(CASE WHEN len(bg) > 0 THEN 1.0
        |      - CAST(len(list_distinct(bg)) AS DOUBLE) / CAST(len(bg) AS DOUBLE)
        |    ELSE 0.0 END, 6) AS dup_bigram_frac,
        |  round(CASE WHEN len(tg) > 0 THEN 1.0
        |      - CAST(len(list_distinct(tg)) AS DOUBLE) / CAST(len(tg) AS DOUBLE)
        |    ELSE 0.0 END, 6) AS dup_trigram_frac
        |FROM g ORDER BY doc_id""".stripMargin,
    "t_pack" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(ceil(CAST(n_chars AS DOUBLE) / 4.0) AS BIGINT) AS tok,
        |    doc_id % 8 AS bucket
        |  FROM documents),
        |c AS (SELECT doc_id, tok, bucket,
        |    COALESCE(sum(tok) OVER (PARTITION BY bucket ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
        |  FROM d)
        |SELECT bucket,
        |  CAST(floor(CAST(bef AS DOUBLE) / 2048.0) AS BIGINT) AS pack_id,
        |  count(*) AS n_docs, CAST(sum(tok) AS BIGINT) AS sum_tokens
        |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "t_fingerprint" ->
      """SELECT doc_id,
        |  md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
        |    AS fp_set,
        |  md5(array_to_string((string_split(text, ' '))[1:8], ' ')) AS fp_prefix8
        |FROM documents WHERE doc_id < 100 ORDER BY doc_id""".stripMargin,
    "t_ngrams" ->
      """SELECT bg, count(*) AS cnt FROM (
        |  SELECT unnest(list_transform(generate_series(1, len(ws) - 1),
        |    i -> ws[i] || ' ' || ws[i + 1])) AS bg
        |  FROM (SELECT string_split(text, ' ') AS ws FROM documents)
        |  WHERE len(ws) >= 2)
        |GROUP BY bg ORDER BY cnt DESC, bg LIMIT 20""".stripMargin,
    "t_keywords" ->
      """WITH toks AS (SELECT doc_id,
        |    unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |len AS (SELECT doc_id, count(*) AS len FROM toks GROUP BY 1),
        |dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents),
        |scored AS (SELECT t.doc_id, t.term,
        |    round((CAST(t.tf AS DOUBLE) / CAST(l.len AS DOUBLE)) *
        |      (CAST(n.n AS DOUBLE) / CAST(d.df AS DOUBLE)), 6) AS score
        |  FROM tf t JOIN len l USING (doc_id) JOIN dfx d USING (term), n
        |  WHERE t.doc_id < 20),
        |r AS (SELECT doc_id, term, score, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY score DESC, term) AS rank
        |  FROM scored)
        |SELECT doc_id, rank, term, score FROM r WHERE rank <= 3
        |ORDER BY doc_id, rank""".stripMargin,
    "t_vocab" ->
      """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |c AS (SELECT token, count(*) AS cnt FROM toks GROUP BY 1),
        |t AS (SELECT sum(cnt) AS total FROM c),
        |r AS (SELECT token, cnt,
        |    row_number() OVER (ORDER BY cnt DESC, token) AS rank,
        |    sum(cnt) OVER (ORDER BY cnt DESC, token
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM c)
        |SELECT rank, token, cnt,
        |  round(CAST(cum AS DOUBLE) / CAST(total AS DOUBLE), 6) AS cum_share
        |FROM r, t WHERE rank <= 30 ORDER BY rank""".stripMargin,
    "t_bpe_pairs" ->
      """WITH words AS (SELECT w, count(*) AS freq FROM (
        |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE length(w) >= 2 GROUP BY w),
        |p0 AS (SELECT w, freq,
        |    unnest(generate_series(1, length(w) - 1)) AS i
        |  FROM words),
        |pairs AS (SELECT substring(w, i, 2) AS pair,
        |    CAST(sum(freq) AS BIGINT) AS cnt
        |  FROM p0 GROUP BY 1)
        |SELECT pair, cnt FROM pairs
        |ORDER BY cnt DESC, pair LIMIT 50""".stripMargin,
    "t_bpe_train" ->
      s"""WITH $BpeCtes
        |${(1 to NBpeMerges).map(k =>
          s"SELECT $k AS merge_rank, lft, rgt, lft || rgt AS merged, cnt FROM b$k")
          .mkString("\nUNION ALL ")}
        |ORDER BY merge_rank""".stripMargin,
    "t_bpe_encode" ->
      s"""WITH $BpeCtes,
        |enc AS (SELECT w, len(string_split(syms, ' ')) AS n_tok
        |  FROM s$NBpeMerges),
        |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |  FROM documents)
        |SELECT doc_id, count(*) AS n_words,
        |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
        |  round(CAST(sum(n_tok) AS DOUBLE) / count(*), 6) AS tokens_per_word
        |FROM tok JOIN enc USING (w)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "t_unigram_train" ->
      s"""WITH $UnigramCtes
        |SELECT piece, length(piece) AS piece_len, cnt,
        |  (length(piece) = 1 OR cnt > 0) AS kept
        |FROM uc$NUniRounds ORDER BY cnt DESC, piece""".stripMargin,
    "t_unigram_encode" ->
      s"""WITH $UnigramCtes,
        |uvmf AS (SELECT map(list(piece ORDER BY piece),
        |    list(p ORDER BY piece)) AS vm
        |  FROM (SELECT piece, CAST(cnt + 1 AS DOUBLE) /
        |      CAST(sum(cnt) OVER () + count(*) OVER () AS DOUBLE) AS p
        |    FROM uc$NUniRounds)),
        |usegf AS (SELECT w, $UniFold AS seg FROM uwords, uvmf),
        |uenc AS (SELECT w, len(string_split(seg, ' ')) AS n_tok
        |  FROM usegf),
        |utok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |  FROM documents)
        |SELECT doc_id, count(*) AS n_words,
        |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
        |  round(CAST(sum(n_tok) AS DOUBLE) / count(*), 6)
        |    AS tokens_per_word
        |FROM utok JOIN uenc USING (w)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "t_unigram_segments" ->
      s"""WITH $UnigramCtes,
        |uvmf AS (SELECT map(list(piece ORDER BY piece),
        |    list(p ORDER BY piece)) AS vm
        |  FROM (SELECT piece, CAST(cnt + 1 AS DOUBLE) /
        |      CAST(sum(cnt) OVER () + count(*) OVER () AS DOUBLE) AS p
        |    FROM uc$NUniRounds))
        |SELECT w AS word, $UniFold AS seg,
        |  len(string_split($UniFold, ' ')) AS n_pieces
        |FROM uwords, uvmf
        |ORDER BY word""".stripMargin,
    "t_split" ->
      """WITH s AS (SELECT doc_id,
        |    CASE WHEN substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2)
        |        < 'cd' THEN 'train'
        |      WHEN substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2)
        |        < 'e7' THEN 'val'
        |      ELSE 'test' END AS split
        |  FROM documents)
        |SELECT split, count(*) AS n_docs,
        |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |FROM s GROUP BY split ORDER BY split""".stripMargin,
    "t_gopher" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w
        |  FROM documents),
        |m AS (SELECT doc_id, len(w) AS n_words,
        |    CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE)
        |      / CAST(len(w) AS DOUBLE) AS mwl,
        |    CAST(len(list_distinct(w)) AS DOUBLE)
        |      / CAST(len(w) AS DOUBLE) AS ttr,
        |    len(list_filter(w, x -> x IN ($StopList))) AS n_stop
        |  FROM t)
        |SELECT doc_id, n_words,
        |  n_words BETWEEN 20 AND 100000 AS r_wc,
        |  mwl BETWEEN 3.0 AND 4.7 AS r_mwl,
        |  ttr >= 0.3 AS r_ttr,
        |  n_stop >= 2 AS r_stop,
        |  (n_words BETWEEN 20 AND 100000) AND (mwl BETWEEN 3.0 AND 4.7)
        |    AND ttr >= 0.3 AND n_stop >= 2 AS pass
        |FROM m ORDER BY doc_id""".stripMargin,
    // Mixture plan: N = min(tokens/weight) over languages; weights cast
    // to DOUBLE (DuckDB VALUES literals are DECIMAL) so both engines
    // run the same IEEE arithmetic. LEFT join from the weight table
    // (missing counts → 0) so an absent target language binds N to 0
    // instead of vanishing from the plan.
    "t_mixture" ->
      """WITH tok AS (SELECT lang,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens
        |  FROM documents GROUP BY 1),
        |w(lang, wt) AS (VALUES ('en', 0.4), ('de', 0.15), ('es', 0.15),
        |  ('fr', 0.15), ('zh', 0.15)),
        |j AS (SELECT w.lang, COALESCE(t.tokens, 0) AS tokens,
        |    CAST(w.wt AS DOUBLE) AS weight,
        |    CAST(COALESCE(t.tokens, 0) AS DOUBLE)
        |      / CAST(w.wt AS DOUBLE) AS feasible
        |  FROM w LEFT JOIN tok t ON t.lang = w.lang),
        |n AS (SELECT min(feasible) AS n_total FROM j)
        |SELECT lang, tokens, weight,
        |  round(weight * n_total, 4) AS planned_tokens,
        |  CASE WHEN tokens = 0 THEN 0.0
        |    ELSE round(weight * n_total / CAST(tokens AS DOUBLE), 6)
        |  END AS keep_rate
        |FROM j, n ORDER BY lang""".stripMargin,
    // Applied mixture: keep_rate (6 dp, the exact t_mixture value)
    // quantized to a 256-band threshold, salted-hash keep decision,
    // realized per-language audit.
    "t_mixture_apply" ->
      """WITH tok AS (SELECT lang,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens
        |  FROM documents GROUP BY 1),
        |w(lang, wt) AS (VALUES ('en', 0.4), ('de', 0.15), ('es', 0.15),
        |  ('fr', 0.15), ('zh', 0.15)),
        |j AS (SELECT w.lang, COALESCE(t.tokens, 0) AS tokens,
        |    CAST(w.wt AS DOUBLE) AS weight
        |  FROM w LEFT JOIN tok t ON t.lang = w.lang),
        |n AS (SELECT min(CAST(tokens AS DOUBLE) / weight) AS n_total FROM j),
        |thr AS (SELECT lang,
        |    CASE WHEN tokens = 0 THEN 0
        |      ELSE CAST(floor(round(weight * n_total
        |        / CAST(tokens AS DOUBLE), 6) * 256 + 0.5) AS INT)
        |    END AS thr
        |  FROM j, n),
        |kept AS (SELECT d.lang, d.doc_id,
        |    len(string_split(d.text, ' ')) AS nw
        |  FROM documents d JOIN thr t ON d.lang = t.lang
        |  WHERE CAST(('0x' || substring(md5('mix:'
        |      || CAST(d.doc_id AS VARCHAR)), 1, 2)) AS INTEGER) < t.thr),
        |counts AS (SELECT lang, count(*) AS kept_docs,
        |    CAST(sum(nw) AS BIGINT) AS kept_tokens
        |  FROM kept GROUP BY 1),
        |tot AS (SELECT sum(kept_tokens) AS tot FROM counts)
        |SELECT w.lang, CAST(w.wt AS DOUBLE) AS weight,
        |  COALESCE(c.kept_docs, 0) AS kept_docs,
        |  COALESCE(c.kept_tokens, 0) AS kept_tokens,
        |  round(CAST(COALESCE(c.kept_tokens, 0) AS DOUBLE)
        |    / CAST(tot.tot AS DOUBLE), 6) AS realized_share
        |FROM w LEFT JOIN counts c ON w.lang = c.lang, tot
        |ORDER BY w.lang""".stripMargin,
    "t_sample_stratified" ->
      """WITH b AS (SELECT doc_id, lang,
        |    CAST(('0x' || substring(md5('strat:' || CAST(doc_id AS VARCHAR)),
        |      1, 2)) AS INTEGER) AS band,
        |    CASE WHEN lang = 'en' THEN 64 ELSE 128 END AS thr
        |  FROM documents)
        |SELECT doc_id, lang, band FROM b
        |WHERE band < thr ORDER BY doc_id""".stripMargin,
    "t_quota" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |scored AS (SELECT doc_id,
        |  CASE WHEN CAST(len(list_filter(w, x -> x IN ($StopList))) AS DOUBLE)
        |      / CAST(len(w) AS DOUBLE) >= 0.05
        |    THEN 'en' ELSE 'unk' END AS lang,
        |  round(least(CAST(len(w) AS DOUBLE) / 100.0, 1.0) * 0.4
        |    + (CAST(len(list_distinct(w)) AS DOUBLE) / CAST(len(w) AS DOUBLE)) * 0.4
        |    + CASE WHEN (CAST(len(list_filter(w, x -> x IN ($StopList))) AS DOUBLE)
        |        / CAST(len(w) AS DOUBLE)) BETWEEN 0.02 AND 0.3
        |      THEN 0.2 ELSE 0.0 END, 6) AS score
        |  FROM t)
        |SELECT lang, rn, doc_id, score FROM (
        |  SELECT lang, doc_id, score,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY score DESC, doc_id) AS rn
        |  FROM scored)
        |WHERE rn <= 5 ORDER BY lang, rn""".stripMargin,
    "t_pii" ->
      """WITH pii AS (SELECT doc_id,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR)
        |      || '@example.com or 555-0142 ref 123-45-6789' AS text
        |  FROM documents WHERE doc_id < 200),
        |scrub AS (SELECT doc_id, text,
        |    regexp_replace(regexp_replace(regexp_replace(text,
        |      '\b\d{3}-\d{2}-\d{4}\b', '[ID]', 'g'),
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |      '\b\d{3}[-. ]\d{4}\b', '[PHONE]', 'g') AS clean
        |  FROM pii)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
        |    AS n_email,
        |  CAST(len(regexp_extract_all(text, '\b\d{3}[-. ]\d{4}\b'))
        |    AS BIGINT) AS n_phone,
        |  CAST(len(regexp_extract_all(text, '\b\d{3}-\d{2}-\d{4}\b'))
        |    AS BIGINT) AS n_id,
        |  md5(clean) AS scrub_md5,
        |  CAST(length(text) - length(clean) AS BIGINT) AS chars_removed
        |FROM scrub ORDER BY doc_id""".stripMargin,
    "t_contamination" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w
        |    FROM documents),
        |sh AS (SELECT DISTINCT doc_id,
        |    w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
        |  FROM (SELECT doc_id, w,
        |      unnest(generate_series(1, len(w) - 2)) AS i
        |    FROM toks)),
        |sp AS (SELECT doc_id,
        |    CASE WHEN substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2)
        |        < 'cd' THEN 'train'
        |      WHEN substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2)
        |        < 'e7' THEN 'val'
        |      ELSE 'test' END AS split
        |  FROM documents),
        |te AS (SELECT s.doc_id, s.shingle FROM sh s
        |  JOIN sp ON s.doc_id = sp.doc_id WHERE sp.split = 'test'),
        |tr AS (SELECT DISTINCT shingle FROM sh s
        |  JOIN sp ON s.doc_id = sp.doc_id WHERE sp.split = 'train'),
        |shared AS (SELECT te.doc_id, count(*) AS shared FROM te
        |  JOIN tr ON te.shingle = tr.shingle GROUP BY 1),
        |tot AS (SELECT doc_id, count(*) AS total FROM te GROUP BY 1)
        |SELECT tot.doc_id, total, COALESCE(shared, 0) AS shared,
        |  round(CAST(COALESCE(shared, 0) AS DOUBLE) / CAST(total AS DOUBLE), 6)
        |    AS contam_ratio
        |FROM tot LEFT JOIN shared ON tot.doc_id = shared.doc_id
        |ORDER BY tot.doc_id""".stripMargin,
    "t_quality_sample" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w
        |    FROM documents),
        |scored AS (SELECT doc_id,
        |    round(least(CAST(len(w) AS DOUBLE) / 100.0, 1.0) * 0.4
        |      + (CAST(len(list_distinct(w)) AS DOUBLE)
        |        / CAST(len(w) AS DOUBLE)) * 0.4
        |      + CASE WHEN (CAST(len(list_filter(w, x -> x IN ($StopList)))
        |            AS DOUBLE) / CAST(len(w) AS DOUBLE))
        |          BETWEEN 0.02 AND 0.3
        |        THEN 0.2 ELSE 0.0 END, 6) AS score
        |  FROM t),
        |b AS (SELECT doc_id, score,
        |    CASE WHEN score >= 0.7 THEN 'head'
        |      WHEN score >= 0.45 THEN 'middle'
        |      ELSE 'tail' END AS bucket
        |  FROM scored),
        |k AS (SELECT doc_id, bucket, score,
        |    CAST(('0x' || substring(md5('qb:' || CAST(doc_id AS VARCHAR)),
        |      1, 2)) AS INTEGER) AS band,
        |    CASE bucket WHEN 'head' THEN 256 WHEN 'middle' THEN 128
        |      ELSE 32 END AS thr
        |  FROM b)
        |SELECT doc_id, bucket, score, band FROM k
        |WHERE band < thr ORDER BY doc_id""".stripMargin,
    "t_eval_sample" ->
      s"""WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS w
        |    FROM documents),
        |scored AS (SELECT doc_id, lang,
        |    round(least(CAST(len(w) AS DOUBLE) / 100.0, 1.0) * 0.4
        |      + (CAST(len(list_distinct(w)) AS DOUBLE)
        |        / CAST(len(w) AS DOUBLE)) * 0.4
        |      + CASE WHEN (CAST(len(list_filter(w, x -> x IN ($StopList)))
        |            AS DOUBLE) / CAST(len(w) AS DOUBLE))
        |          BETWEEN 0.02 AND 0.3
        |        THEN 0.2 ELSE 0.0 END, 6) AS score
        |  FROM t),
        |b AS (SELECT doc_id, lang,
        |    CASE WHEN score >= 0.7 THEN 'head'
        |      WHEN score >= 0.45 THEN 'middle'
        |      ELSE 'tail' END AS bucket
        |  FROM scored),
        |p AS (SELECT doc_id, lang, bucket,
        |    CAST(('0x' || substring(md5('ev:' || CAST(doc_id AS VARCHAR)),
        |      1, 8)) AS BIGINT) AS h
        |  FROM b),
        |r AS (SELECT lang, bucket, doc_id, row_number() OVER (
        |    PARTITION BY lang, bucket ORDER BY h, doc_id) AS hrk
        |  FROM p),
        |s AS (SELECT lang, bucket, doc_id FROM r WHERE hrk <= 3)
        |SELECT lang, bucket, row_number() OVER (
        |    PARTITION BY lang, bucket ORDER BY doc_id) AS rk, doc_id
        |FROM s ORDER BY lang, bucket, rk""".stripMargin,
    "t_chunk" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS l,
        |    len(string_split(text, ' ')) AS n FROM documents),
        |w AS (SELECT doc_id, l, n,
        |    unnest(generate_series(0, greatest(
        |      CAST(floor((n - 64 + 47) / 48.0) AS INTEGER), 0))) AS k
        |  FROM t),
        |c AS (SELECT doc_id, CAST(k AS INTEGER) AS chunk_id,
        |    CAST(k * 48 + 1 AS INTEGER) AS start,
        |    CAST(least(64, n - k * 48) AS INTEGER) AS len, l
        |  FROM w)
        |SELECT doc_id, chunk_id, start, len,
        |  md5(array_to_string(list_transform(
        |    generate_series(start, start + len - 1), j -> l[j]), ' '))
        |    AS chunk_fp
        |FROM c WHERE chunk_id = 0 OR len >= 32
        |ORDER BY doc_id, chunk_id""".stripMargin,
    "t_winnow" ->
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
        |  FROM h)
        |SELECT DISTINCT doc_id,
        |    99999999 - CAST(substr(wk, 34, 8) AS INTEGER) AS fp_pos,
        |    substr(wk, 1, 32) AS fp
        |FROM w WHERE wn = 4 OR (pos = 1 AND maxpos < 4)
        |ORDER BY doc_id, fp_pos""".stripMargin,
    "t_collocations" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS l,
        |    len(string_split(text, ' ')) AS n FROM documents),
        |ix AS (SELECT doc_id, l,
        |    CAST(unnest(generate_series(1, n - 1)) AS INTEGER) AS i
        |  FROM t WHERE n >= 2),
        |bg AS (SELECT l[i] AS w1, l[i+1] AS w2 FROM ix),
        |cb AS (SELECT w1, w2, count(*) AS cab FROM bg GROUP BY 1, 2),
        |uc AS (SELECT w, sum(c) AS cw FROM (
        |    SELECT w1 AS w, count(*) AS c FROM bg GROUP BY 1
        |    UNION ALL SELECT w2 AS w, count(*) AS c FROM bg GROUP BY 1)
        |  GROUP BY w),
        |n AS (SELECT count(*) AS nb FROM bg)
        |SELECT w1, w2, cab,
        |  CAST(nb AS DOUBLE) * CAST(cab AS DOUBLE)
        |    / (CAST(a.cw AS DOUBLE) * CAST(b.cw AS DOUBLE)) AS lift
        |FROM cb JOIN uc a ON w1 = a.w JOIN uc b ON w2 = b.w, n
        |WHERE cab >= 5
        |ORDER BY lift DESC, w1, w2 LIMIT 20""".stripMargin,
    "t_dsir" ->
      """WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS l,
        |    len(string_split(text, ' ')) AS n FROM documents),
        |ix AS (SELECT doc_id, lang, l,
        |    CAST(unnest(generate_series(1, n - 1)) AS INTEGER) AS i
        |  FROM t WHERE n >= 2),
        |feats AS (SELECT doc_id, lang,
        |    CAST(('0x' || substring(
        |      md5('dsir:' || l[i] || ' ' || l[i+1]), 1, 4)) AS INTEGER)
        |      % 64 AS f
        |  FROM ix),
        |tc AS (SELECT f, count(*) AS ct FROM feats
        |  WHERE lang = 'en' GROUP BY 1),
        |rc AS (SELECT f, count(*) AS cr FROM feats GROUP BY 1),
        |w AS (SELECT rc.f,
        |    ((coalesce(ct, 0) + 1) * 1000000) // (cr + 1) AS w_e6
        |  FROM rc LEFT JOIN tc ON rc.f = tc.f)
        |SELECT doc_id, count(*) AS nf,
        |  CAST(sum(w_e6) // count(*) AS BIGINT) AS dsir_e6
        |FROM feats JOIN w USING (f)
        |GROUP BY doc_id
        |ORDER BY dsir_e6 DESC, doc_id LIMIT 50""".stripMargin,
    "t_ngram_novelty" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS l,
        |    len(string_split(text, ' ')) AS n,
        |    CAST(('0x' || substring(md5('epoch0:'
        |      || CAST(doc_id AS VARCHAR)), 1, 2)) AS INTEGER) % 4
        |      AS shard
        |  FROM documents),
        |ix AS (SELECT shard, l,
        |    CAST(unnest(generate_series(1, n - 1)) AS INTEGER) AS i
        |  FROM t WHERE n >= 2),
        |g AS (SELECT DISTINCT shard, l[i] || ' ' || l[i+1] AS bg
        |  FROM ix),
        |fs AS (SELECT bg, min(shard) AS shard FROM g GROUP BY 1),
        |nv AS (SELECT shard, count(*) AS n_novel FROM fs GROUP BY 1),
        |tot AS (SELECT shard, count(*) AS n_grams FROM g GROUP BY 1)
        |SELECT tot.shard, tot.n_grams,
        |  coalesce(nv.n_novel, 0) AS n_novel,
        |  round(CAST(coalesce(nv.n_novel, 0) AS DOUBLE)
        |    / CAST(tot.n_grams AS DOUBLE), 6) AS novelty
        |FROM tot LEFT JOIN nv USING (shard) ORDER BY shard""".stripMargin,
    "t_tfidf" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |    FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents),
        |s AS (SELECT doc_id, term,
        |    CAST(tf AS DOUBLE) * CAST(n AS DOUBLE) / CAST(df AS DOUBLE)
        |      AS score
        |  FROM tf JOIN df USING (term), n),
        |r AS (SELECT doc_id, term, score, row_number()
        |    OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rk
        |  FROM s)
        |SELECT doc_id, rk, term, score FROM r WHERE rk <= 3
        |ORDER BY doc_id, rk""".stripMargin,
    "t_lm_score" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS l
        |    FROM documents),
        |bg AS (SELECT doc_id,
        |    unnest(list_transform(generate_series(1, len(l) - 1),
        |      i -> l[i] || ' ' || l[i + 1])) AS bg
        |  FROM t),
        |model AS (SELECT bg, count(*) AS cnt FROM bg
        |  WHERE substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2)
        |    < 'cd'
        |  GROUP BY bg),
        |sc AS (SELECT b.doc_id, count(*) AS n_bigrams,
        |    CAST(sum(CASE WHEN m.cnt IS NULL THEN 0 ELSE 1 END) AS BIGINT)
        |      AS n_known,
        |    CAST(sum(coalesce(m.cnt, 0)) AS BIGINT) AS model_mass
        |  FROM bg b LEFT JOIN model m USING (bg) GROUP BY b.doc_id)
        |SELECT doc_id, n_bigrams, n_known, model_mass,
        |  round(CAST(model_mass AS DOUBLE) / n_bigrams, 6) AS familiarity
        |FROM sc ORDER BY doc_id""".stripMargin,
    "t_epoch_order" ->
      """WITH e(epoch) AS (VALUES (0), (1)),
        |h AS (SELECT e.epoch, d.doc_id,
        |    md5('epoch' || CAST(e.epoch AS VARCHAR) || ':'
        |      || CAST(d.doc_id AS VARCHAR)) AS h
        |  FROM documents d CROSS JOIN e),
        |s AS (SELECT epoch, doc_id, h,
        |    CAST(('0x' || substring(h, 1, 2)) AS INTEGER) % 4 AS shard
        |  FROM h),
        |r AS (SELECT epoch, shard, doc_id,
        |    row_number() OVER (PARTITION BY epoch, shard
        |      ORDER BY h, doc_id) AS pos
        |  FROM s)
        |SELECT epoch, shard, pos, doc_id FROM r WHERE pos <= 5
        |ORDER BY epoch, shard, pos""".stripMargin,
    // Identical semantics to t_contamination — the index changes bytes
    // read, never values — so the oracle is the same inline pipeline.
    "t_contamination_incremental" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w
        |    FROM documents),
        |sh AS (SELECT DISTINCT doc_id,
        |    w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
        |  FROM (SELECT doc_id, w,
        |      unnest(generate_series(1, len(w) - 2)) AS i
        |    FROM toks)),
        |sp AS (SELECT doc_id,
        |    CASE WHEN substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2)
        |        < 'cd' THEN 'train'
        |      WHEN substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2)
        |        < 'e7' THEN 'val'
        |      ELSE 'test' END AS split
        |  FROM documents),
        |te AS (SELECT s.doc_id, s.shingle FROM sh s
        |  JOIN sp ON s.doc_id = sp.doc_id WHERE sp.split = 'test'),
        |tr AS (SELECT DISTINCT shingle FROM sh s
        |  JOIN sp ON s.doc_id = sp.doc_id WHERE sp.split = 'train'),
        |shared AS (SELECT te.doc_id, count(*) AS shared FROM te
        |  JOIN tr ON te.shingle = tr.shingle GROUP BY 1),
        |tot AS (SELECT doc_id, count(*) AS total FROM te GROUP BY 1)
        |SELECT tot.doc_id, total, COALESCE(shared, 0) AS shared,
        |  round(CAST(COALESCE(shared, 0) AS DOUBLE) / CAST(total AS DOUBLE), 6)
        |    AS contam_ratio
        |FROM tot LEFT JOIN shared ON tot.doc_id = shared.doc_id
        |ORDER BY tot.doc_id""".stripMargin,
    "mm_binary" ->
      """SELECT doc_id AS media_id,
        |  octet_length(encode(text)) AS payload_bytes,
        |  'text/plain' AS kind,
        |  ascii(substring(text, 1, 1)) AS first_byte
        |FROM documents ORDER BY media_id""".stripMargin,
    // nPlus counts the +0.25 samples of the square wave in closed form
    // (full cycles of 2·prd contribute prd each, plus the remainder's
    // positive prefix); the mean replays the decoder's exact-double
    // accumulation as one × and one ÷, narrowed through FLOAT the way
    // the 8-float feature vector narrows it.
    "mm_audio" ->
      """WITH p AS (SELECT doc_id AS media_id, n_chars % 7 = 0 AS corrupt,
        |    CAST(n_chars % 4 + 2 AS BIGINT) AS prd,
        |    CAST(8 * (n_chars % 50 + 25) AS BIGINT) AS n
        |  FROM documents),
        |q AS (SELECT media_id, corrupt, n,
        |    (n // (2 * prd)) * prd + least(n % (2 * prd), prd) AS np
        |  FROM p)
        |SELECT media_id,
        |  CAST(CASE WHEN corrupt THEN 0 ELSE 8000 END AS INT)
        |    AS sample_rate,
        |  CAST(CASE WHEN corrupt THEN 0 ELSE 1 END AS INT) AS channels,
        |  CASE WHEN corrupt THEN 0 ELSE n END AS n_frames,
        |  CASE WHEN corrupt THEN 0 ELSE n // 8 END AS duration_ms,
        |  CASE WHEN corrupt THEN 0.0 ELSE round(CAST(CAST(
        |      (0.25 * CAST(2 * np - n AS DOUBLE)) / CAST(n AS DOUBLE)
        |      AS FLOAT) AS DOUBLE), 6) END AS mean_ch0,
        |  CASE WHEN corrupt THEN 0.0 ELSE 0.25 END AS rms,
        |  CASE WHEN corrupt THEN 0.0 ELSE 0.25 END AS peak
        |FROM q ORDER BY media_id""".stripMargin,
    "mm_video" ->
      """SELECT doc_id AS media_id,
        |  CAST(CASE WHEN n_chars % 7 = 0 THEN 0
        |    ELSE n_chars % 5 + 1 END AS INT) AS n_frames,
        |  CAST(CASE WHEN n_chars % 7 = 0 THEN 0 ELSE 32 END AS INT) AS width,
        |  CAST(CASE WHEN n_chars % 7 = 0 THEN 0 ELSE 32 END AS INT) AS height,
        |  CAST(CASE WHEN n_chars % 7 = 0 THEN 0
        |    ELSE (n_chars % 5 + 1) * 40 END AS BIGINT) AS duration_ms,
        |  CAST(CASE WHEN n_chars % 7 = 0 THEN 0
        |    ELSE (n_chars % 5 + 1 + 1) // 2 END AS INT) AS left_dark,
        |  CAST(CASE WHEN n_chars % 7 = 0 THEN 0
        |    ELSE (n_chars % 5 + 1) // 2 END AS INT) AS top_dark
        |FROM documents ORDER BY media_id""".stripMargin,
    "mm_frames" ->
      """WITH m AS (SELECT doc_id AS media_id,
        |    octet_length(encode(text)) AS len FROM documents),
        |c AS (SELECT media_id, len,
        |    CAST(ceil(CAST(len AS DOUBLE) / 32.0) AS BIGINT) AS n_chunks
        |  FROM m)
        |SELECT media_id,
        |  CAST((n_chunks + 1) // 2 AS INT) AS n_frames,
        |  CASE WHEN n_chunks = 0 THEN 0
        |    WHEN (n_chunks - 1) % 2 = 0 THEN
        |      32 * ((n_chunks + 1) // 2 - 1) + (len - 32 * (n_chunks - 1))
        |    ELSE 32 * ((n_chunks + 1) // 2) END AS sampled_bytes
        |FROM c ORDER BY media_id""".stripMargin,
    // The four Gopher rules over rot13-mixed text with the stopword
    // rule as "max per-language count ≥ 2" — exactly the bitmask
    // fold's semantics, restated as two list_filter counts.
    "t_gopher_lang" ->
      s"""WITH t0 AS (SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 0 THEN text
        |      ELSE translate(text, 'abcdefghijklmnopqrstuvwxyz',
        |                     'nopqrstuvwxyzabcdefghijklm') END AS text2
        |  FROM documents),
        |t AS (SELECT doc_id, string_split(text2, ' ') AS w FROM t0),
        |m AS (SELECT doc_id, len(w) AS n_words,
        |    CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE)
        |      / CAST(len(w) AS DOUBLE) AS mwl,
        |    CAST(len(list_distinct(w)) AS DOUBLE)
        |      / CAST(len(w) AS DOUBLE) AS ttr,
        |    len(list_filter(w, x -> x IN ($StopList))) AS c_en,
        |    len(list_filter(w, x -> x IN ($Rot13List))) AS c_rot
        |  FROM t)
        |SELECT doc_id,
        |  n_words BETWEEN 20 AND 100000 AS r_wc,
        |  mwl BETWEEN 3.0 AND 4.7 AS r_mwl,
        |  ttr >= 0.3 AS r_ttr,
        |  greatest(c_en, c_rot) >= 2 AS r_stop,
        |  (n_words BETWEEN 20 AND 100000) AND (mwl BETWEEN 3.0 AND 4.7)
        |    AND ttr >= 0.3 AND greatest(c_en, c_rot) >= 2 AS pass,
        |  (n_words BETWEEN 20 AND 100000) AND (mwl BETWEEN 3.0 AND 4.7)
        |    AND ttr >= 0.3 AND c_en >= 2 AS mono_pass
        |FROM m ORDER BY doc_id""".stripMargin,
    // Argmax stopword-density language ID over {en, rot13}; ties break
    // toward the lexicographically larger code (same-denominator
    // ratios, so count order == ratio order), threshold 0.05 → 'unk'.
    "t_langid_multi" ->
      """WITH t AS (SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 0 THEN text
        |      ELSE translate(text, 'abcdefghijklmnopqrstuvwxyz',
        |                     'nopqrstuvwxyzabcdefghijklm') END AS text2
        |  FROM documents),
        |c AS (SELECT doc_id,
        |    CAST(len(string_split(text2, ' ')) AS DOUBLE) AS n,
        |    CAST(len(list_filter(string_split(text2, ' '), w -> w IN
        |      ('the','a','of','and','to','in','is','on','for','with')))
        |      AS DOUBLE) AS c_en,
        |    CAST(len(list_filter(string_split(text2, ' '), w -> w IN
        |      ('gur','n','bs','naq','gb','va','vf','ba','sbe','jvgu')))
        |      AS DOUBLE) AS c_rot
        |  FROM t)
        |SELECT doc_id,
        |  CASE WHEN greatest(c_en, c_rot) / n < 0.05 THEN 'unk'
        |       WHEN c_rot >= c_en THEN 'rot13' ELSE 'en' END AS lang,
        |  CASE WHEN c_en / n >= 0.05 THEN 'en' ELSE 'unk' END AS mono_lang
        |FROM c ORDER BY doc_id""".stripMargin,
    // The oracle never decodes an image: each pattern's 64-bit aHash is
    // closed-form from the two-tone geometry (dark cells '0', bright
    // '1'), and the pair set is the banded-Hamming result over those
    // literal signatures — dist via per-position compare, cut at 8
    // (lossless vs the 16-band search by pigeonhole).
    "mm_neardup" ->
      """WITH img AS (SELECT doc_id AS id,
        |    CASE CAST(n_chars % 3 AS INT)
        |      WHEN 0 THEN repeat('00001111', 8)
        |      WHEN 1 THEN repeat('0', 32) || repeat('1', 32)
        |      ELSE repeat('00011111', 8) END AS h
        |  FROM documents WHERE doc_id < 60)
        |SELECT a.id AS id_a, b.id AS id_b,
        |  CAST(sum(CASE WHEN substring(a.h, p.p, 1)
        |      <> substring(b.h, p.p, 1) THEN 1 ELSE 0 END) AS BIGINT)
        |    AS dist
        |FROM img a JOIN img b ON a.id < b.id,
        |generate_series(1, 64) AS p(p)
        |GROUP BY 1, 2 HAVING dist <= 8
        |ORDER BY id_a, id_b""".stripMargin,
  )
}
