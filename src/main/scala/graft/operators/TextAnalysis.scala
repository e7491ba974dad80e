package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline: tokenization,
  * language-ID heuristic, quality scoring, token counting, document
  * fingerprinting. All pure `Column` expressions (whole-stage codegen, no
  * UDFs) — at 100 TB these run as map-only stages over the document scan.
  *
  * Cross-engine note: the testdata corpus is single-spaced lowercase
  * `[a-z ]`, so whitespace split is exact; ratios are single IEEE double
  * divisions of exact integer counts, bit-identical across engines.
  */
object TextAnalysis {

  /** Small English stopword list used by the language-ID heuristic. */
  val Stopwords: Seq[String] =
    Seq("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")

  def tokens(text: Column): Column = split(text, " ")

  def wordCount(text: Column): Column = size(tokens(text))

  def distinctWordCount(text: Column): Column = size(array_distinct(tokens(text)))

  /** Fraction of tokens that are English stopwords. */
  def stopwordRatio(text: Column): Column =
    size(filter(tokens(text), t => t.isin(Stopwords: _*))).cast("double") /
      wordCount(text).cast("double")

  /** Type-token ratio (vocabulary richness). */
  def distinctRatio(text: Column): Column =
    distinctWordCount(text).cast("double") / wordCount(text).cast("double")

  /** Mean token length in characters. */
  def avgWordLen(text: Column): Column =
    aggregate(tokens(text), lit(0L), (acc, t) => acc + length(t))
      .cast("double") / wordCount(text).cast("double")

  /** N-gram-style language ID: stopword-density heuristic. A corpus row
    * whose stopword mass clears the threshold is classified English.
    */
  def langId(text: Column, threshold: Double = 0.05): Column =
    when(stopwordRatio(text) >= threshold, "en").otherwise("unk")

  /** Composite quality score in [0, ~2]: length signal + vocabulary
    * richness + bounded stopword band (heuristic scoring à la C4/Gopher
    * quality filters, reduced to deterministic arithmetic).
    */
  def qualityScore(text: Column): Column =
    round(
      least(wordCount(text).cast("double") / lit(100.0), lit(1.0)) * 0.4 +
        distinctRatio(text) * 0.4 +
        when(stopwordRatio(text).between(0.02, 0.3), 0.2).otherwise(0.0),
      6)

  /** CCNet-style fixed-threshold quality bucket over [[qualityScore]]:
    * head / middle / tail. Fixed reference thresholds keep bucketing a
    * pure map-side comparison (corpus-quantile buckets would need a
    * global sort), and a document's bucket never changes as the corpus
    * grows.
    */
  def qualityBucket(text: Column): Column =
    when(qualityScore(text) >= 0.7, "head")
      .when(qualityScore(text) >= 0.45, "middle")
      .otherwise("tail")

  /** Per-bucket deterministic 256-band keep decision (all of head, half
    * of middle, an eighth of tail) — no RNG, growth-stable fate.
    */
  def qualityKeep(id: Column, bucket: Column): Column =
    hashBand256(id, "qb:") <
      when(bucket === "head", 256)
        .when(bucket === "middle", 128)
        .otherwise(32)

  /** Whitespace token count plus a BPE-style estimate (chars/4, the usual
    * planning rule of thumb) and a regex word-token count.
    */
  def tokenCounts(text: Column, nChars: Column): (Column, Column, Column) = (
    wordCount(text),
    ceil(nChars.cast("double") / 4.0).cast("long"),
    size(regexp_extract_all(text, lit("[a-z]+"), lit(0))))

  /** PII-scrub patterns — deliberately restricted to syntax that parses
    * identically under Java regex (Spark) and RE2 (DuckDB, and the
    * engines most scrubbers embed): character classes, bounded repeats,
    * ASCII `\b` word boundaries; no backrefs, no lookaround. Order of
    * application matters: the 9-digit id pattern is scrubbed before the
    * phone pattern so its tail digits can never half-match as a phone.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\b\\d{3}[-. ]\\d{4}\\b"
  val IdNumRe = "\\b\\d{3}-\\d{2}-\\d{4}\\b"

  /** Redact emails / phone-shaped / SSN-shaped substrings with typed
    * placeholder tags — the standard pre-training PII pass. Pure codegen
    * `regexp_replace` chain: map-only over the scan at 100 TB, no UDF.
    */
  def scrubPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, IdNumRe, "[ID]"),
        EmailRe, "[EMAIL]"),
      PhoneRe, "[PHONE]")

  /** Deterministic train/val/test assignment by content-free id hashing:
    * the first two hex chars of `md5(salt || id)` partition the id space
    * into 256 uniform bands, split 205/26/25 ≈ 80/10/10. Pure map-side
    * arithmetic — reproducible across engines, runs, and cluster sizes
    * (no RNG, no sampling shuffle), and stable under corpus growth: a
    * document's split never changes when other documents are added,
    * which is the property a training pipeline needs to avoid
    * train/test contamination across dataset versions.
    */
  def hashSplit(id: Column, salt: String = "split:"): Column = {
    val band = substring(md5(concat(lit(salt), id.cast("string"))), 1, 2)
    when(band < "cd", "train").when(band < "e7", "val").otherwise("test")
  }

  /** Number of tokens that are English stopwords (Gopher-style "must
    * contain ≥ N stop words" rule input).
    */
  def stopwordCount(text: Column): Column =
    size(filter(tokens(text), t => t.isin(Stopwords: _*)))

  /** Per-language stopword registry for the language-aware quality
    * gate: tiny function-word lists from the public multilingual
    * stopword collections (the heads of the standard NLTK/snowball
    * lists). Deliberately small — the Gopher stopword rule needs only
    * "contains ≥2 function words of SOME language", not lexicon
    * coverage. Pluggable: pass a custom registry to
    * [[gopherPassLang]]/[[langIdMulti]] (e.g. the synthetic scale
    * probe registers its generated language family here).
    */
  val StopwordsByLang: Map[String, Seq[String]] = Map(
    "en" -> Stopwords,
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "por", "con", "los"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "en", "un", "du", "une"),
    "de" -> Seq("der", "die", "und", "den", "von", "zu", "das", "mit", "ist", "im"),
    "it" -> Seq("di", "che", "la", "il", "un", "per", "in", "una", "con", "del"))

  /** Stopword-token count against an explicit list (the per-language
    * generalization of [[stopwordCount]]).
    */
  def stopwordCountIn(text: Column, words: Seq[String]): Column =
    size(filter(tokens(text), t => t.isin(words: _*)))

  /** Multi-language language-ID: argmax stopword density across the
    * registry, `unk` when no language clears `threshold`. Ties break
    * toward the lexicographically larger language code (struct max) —
    * deterministic, like every gate decision here. Pure codegen
    * expression: |registry| filtered-size passes fused into the scan.
    */
  def langIdMulti(text: Column,
      registry: Map[String, Seq[String]] = StopwordsByLang,
      threshold: Double = 0.05): Column = {
    val n = wordCount(text).cast("double")
    val entries = registry.toSeq.sortBy(_._1).map { case (lang, words) =>
      struct((stopwordCountIn(text, words).cast("double") / n).as("ratio"),
        lit(lang).as("lang"))
    }
    val best = array_max(array(entries: _*))
    when(best.getField("ratio") >= threshold, best.getField("lang"))
      .otherwise(lit("unk"))
  }

  /** The four Gopher-style quality rules (Rae et al. 2021 §A1.1,
    * adapted to the synthetic corpus's ranges) as named flags — shared
    * by the `t_gopher` audit query and [[Curation.curate]]'s quality
    * gate so the two can never drift: (word-count band, mean-word-length
    * band, type-token-ratio floor, ≥2-stopword rule).
    */
  def gopherRules(text: Column): Seq[Column] = Seq(
    wordCount(text).between(20, 100000),
    avgWordLen(text).between(3.0, 4.7),
    distinctRatio(text) >= 0.3,
    stopwordCount(text) >= 2)

  /** Conjunction of [[gopherRules]] — the keep/drop quality gate. */
  def gopherPass(text: Column): Column =
    gopherRules(text).reduce(_ && _)

  /** LANGUAGE-AWARE [[gopherRules]]: the three lexicon-free rules
    * unchanged, with the stopword rule applied against the BEST
    * matching language in the registry — a document passes if it
    * contains ≥2 function words of SOME registered language, instead
    * of ≥2 ENGLISH function words. This is the fix for the
    * monolingual-gate failure mode the r12 scale probe documented:
    * an English-only stopword rule silently drops every non-English
    * document, zeroing the pipeline for multilingual corpora. With a
    * single-language registry this degenerates to [[gopherRules]]
    * exactly. Still one fused map-only pass — |registry| filtered
    * sizes and a `greatest`.
    */
  def gopherRulesLang(text: Column,
      registry: Map[String, Seq[String]] = StopwordsByLang): Seq[Column] = {
    require(registry.nonEmpty && registry.size <= 32,
      "gopherRulesLang: registry must hold 1..32 languages")
    // Single-language registries take [[gopherRules]]' own codegen
    // filtered-size path (higher-order `aggregate` is CodegenFallback —
    // interpreted — so the default en-only gate must not pay for the
    // multilingual machinery it doesn't use).
    val stopRule =
      if (registry.size == 1) stopwordCountIn(text, registry.values.head) >= 2
      else {
        // "∃ language with ≥2 stopword tokens" as ONE pass over the
        // text instead of |registry| filtered scans (which blow past
        // the codegen method-size budget at 26 languages): the native
        // codegen [[graft.plans.StopwordLangMask]] walks the tokens
        // once against a word→language-bitmask table and packs the
        // state into ONE long — low 32 bits = languages seen ≥1 time
        // ("once"), high 32 = ≥2 times ("twice"). Pass ⇔ any high bit
        // set. Exactly greatest(per-language counts) ≥ 2, at O(tokens)
        // map lookups inside whole-stage codegen (property-proven
        // against the naive formulation in CurationSpec).
        val langs = registry.keys.toSeq.sorted
        val maskOf: Map[String, Long] = registry.toSeq
          .flatMap { case (lang, words) =>
            val bit = 1L << langs.indexOf(lang)
            words.map(_ -> bit)
          }
          .groupMapReduce(_._1)(_._2)(_ | _)
        graft.plans.StringOps.stopwordLangMask(text, maskOf)
          .bitwiseAND(lit(0xffffffff00000000L)) =!= 0L
      }
    gopherRules(text).dropRight(1) :+ stopRule
  }

  /** Conjunction of [[gopherRulesLang]] — the multilingual quality
    * gate [[Curation.curate]] runs.
    */
  def gopherPassLang(text: Column,
      registry: Map[String, Seq[String]] = StopwordsByLang): Column =
    gopherRulesLang(text, registry).reduce(_ && _)

  /** Uniform 256-band content-free id hash (band ∈ [0, 255]): the first
    * two hex chars of `md5(salt || id)` as an integer. The shared
    * primitive behind [[hashSplit]]-style splits and per-stratum
    * rate sampling — deterministic, engine-portable, stable under
    * corpus growth.
    */
  def hashBand256(id: Column, salt: String): Column =
    // fused md5-prefix — same value as the conv/substring chain
    // (graft.plans.Md5PrefixLong scaladoc), one digest, no hex strings
    graft.plans.HashOps
      .md5PrefixLong(concat(lit(salt), id.cast("string")), 1, 2)
      .cast("int")

  /** Order-insensitive content fingerprint: md5 of the sorted distinct
    * token set — a deterministic stand-in for a rolling hash that both
    * engines compute identically. Documents with equal fingerprints have
    * identical vocabularies (bag-of-words duplicates).
    */
  def fingerprint(text: Column): Column =
    md5(array_join(sort_array(array_distinct(tokens(text))), " "))

  /** Positional prefix fingerprint: md5 of the first `n` tokens — catches
    * copy-with-suffix duplicates that the set fingerprint misses.
    */
  def prefixFingerprint(text: Column, n: Int): Column =
    md5(array_join(slice(tokens(text), 1, n), " "))

  /** Per-document word bigram array via two aligned slices zipped —
    * map-only (no explode, no shuffle): the shape that lets repetition
    * scoring fuse into the scan alongside the other quality columns.
    * Empty for documents shorter than 2 words.
    */
  def wordBigrams(text: Column): Column = {
    val t = tokens(text)
    val m = greatest(size(t) - 1, lit(0))
    zip_with(slice(t, lit(1), m), slice(t, lit(2), m),
      (a, b) => concat(a, lit(" "), b))
  }

  /** Per-document word trigram array (three aligned slices). */
  def wordTrigrams(text: Column): Column = {
    val t = tokens(text)
    val m = greatest(size(t) - 2, lit(0))
    zip_with(
      zip_with(slice(t, lit(1), m), slice(t, lit(2), m),
        (a, b) => concat(a, lit(" "), b)),
      slice(t, lit(3), m),
      (ab, c) => concat(ab, lit(" "), c))
  }

  /** Context-window CHUNKING with overlap — the long-document splitter
    * feeding fixed-window training / embedding / RAG indexing:
    * `win`-token windows at `stride` (so `win - stride` tokens of
    * overlap), the trailing partial window kept iff it holds at least
    * `minTail` tokens; the first window always survives, so no
    * document vanishes. Entirely map-only and STATELESS: each
    * document's chunk boundaries derive from its own token count (the
    * window count is 1 + ceil((n-win)/stride), exact arithmetic both
    * engines truncate identically), so a replayed document reproduces
    * identical chunks. The per-chunk md5 fingerprint keeps outputs slim
    * while hash-proving the exact token spans. Returns (id, chunk_id,
    * start, len, chunk_fp).
    */
  def chunkWindows(df: DataFrame, idCol: String, textCol: String,
      win: Int = 64, stride: Int = 48, minTail: Int = 32): DataFrame = {
    val t = split(col(textCol), " ")
    val n = size(t)
    val extra = greatest((n - win + stride - 1).cast("double")
      .divide(stride).cast("int"), lit(0))
    df.select(col(idCol).as("id"), t.as("t"), n.as("n"), extra.as("extra"))
      .select(col("id"), col("t"), col("n"),
        explode(transform(sequence(lit(0), col("extra")),
          k => struct(k.as("chunk_id"), (k * stride + 1).as("start"),
            least(lit(win), col("n") - k * stride).as("len")))).as("c"))
      .filter(col("c.chunk_id") === 0 || col("c.len") >= minTail)
      .select(col("id"), col("c.chunk_id").as("chunk_id"),
        col("c.start").as("start"), col("c.len").as("len"),
        md5(concat_ws(" ",
          slice(col("t"), col("c.start"), col("c.len")))).as("chunk_fp"))
  }

  /** Contiguous sequence packing: assign each document a pack id such
    * that consecutive documents (in `orderCol` order within a bucket)
    * accumulate into packs of ~`budget` tokens — the step that turns a
    * filtered corpus into fixed-budget training examples. A pack may
    * overrun the budget by at most one document (contiguous packing is
    * the standard approximation; exact bin packing is sequential).
    *
    * Scale shape: a GLOBAL ordered cumulative sum would be a
    * single-partition window — the classic scale-killer — so packing
    * runs independently inside `numBuckets` deterministic buckets
    * (`idCol % numBuckets`): one hash exchange, then per-bucket sorted
    * windows in parallel. Pack identity is (bucket, pack_in_bucket);
    * packing quality is unaffected because buckets are just parallel
    * packers.
    */
  def packIds(tokensCol: Column, idCol: Column, budget: Int,
      numBuckets: Int = 8): (Column, Column) = {
    import org.apache.spark.sql.expressions.Window
    val bucket = pmod(idCol, lit(numBuckets))
    val w = Window.partitionBy(bucket).orderBy(idCol)
      .rowsBetween(Window.unboundedPreceding, -1)
    val before = coalesce(sum(tokensCol).over(w), lit(0L))
    (bucket, floor(before.cast("double") / budget).cast("long"))
  }

  /** Fraction of array elements that are repeats of an earlier element:
    * 1 − distinct/total (0 for empty arrays). Applied to n-gram arrays
    * this is the duplicate-n-gram fraction — the standard repetition
    * signal for filtering degenerate (looping/boilerplate) documents
    * from training corpora.
    */
  def dupFraction(arr: Column): Column =
    when(size(arr) > 0,
      lit(1.0) - size(array_distinct(arr)).cast("double")
        / size(arr).cast("double"))
      .otherwise(lit(0.0))

  /** DSIR hashed-feature bucket for one word bigram: 16 md5 bits mod
    * 64 — the `t_dsir` feature space.
    */
  def dsirBucket(bigram: Column): Column =
    // fused md5-prefix — same value as the conv/substring chain
    pmod(graft.plans.HashOps
      .md5PrefixLong(concat(lit("dsir:"), bigram), 1, 4)
      .cast("int"), lit(64))
}
