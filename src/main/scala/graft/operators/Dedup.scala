package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for a training-data pipeline: exact (hash
  * groupBy), MinHash+LSH, SimHash, and n-gram Jaccard.
  *
  * Scale design:
  *  - Exact dedup is one hash-shuffle on the fingerprint key.
  *  - MinHash/LSH turns the O(n²) near-dup problem into
  *    shingle→signature→band→bucket-join: candidate pairs come from a
  *    self-join on band keys (a shuffle keyed by tiny band strings), and
  *    only candidates pay the exact-Jaccard verification join. At 100 TB
  *    this is the only shape that works — the direct pairwise operator
  *    [[jaccardPairs]] is provided for verification at small n.
  *  - All hashing is md5-derived so the DuckDB oracle can reproduce
  *    signatures bit-for-bit: the k MinHash functions are
  *    Kirsch–Mitzenmacher double hashes `h1 + i·h2` over the two 32-bit
  *    halves of one md5 digest — same minwise-independence idea as the
  *    usual `(a·h+b) mod p` family, engine-portable, one digest per
  *    shingle occurrence instead of k.
  */
object Dedup {

  /** MinHash-LSH band geometry: `MinhashBands` bands of
    * `MinhashRowsPerBand` minima, k = 12 hash functions.
    */
  val MinhashBands = 6
  val MinhashRowsPerBand = 2

  /** Bucket count the standing band and shingle indexes are written
    * with.
    */
  val IndexBuckets = 8

  /** Exploded (id, shingle) pairs — the inverted-index relation.
    *
    * Tokenization is materialized as its own projection first: inlining
    * `split()` into the transform lambda would re-evaluate it for every
    * `element_at` reference (Catalyst does not CSE inside lambdas;
    * CollapseProject keeps the projections separate because the token
    * array is referenced many times).
    */
  def shingleRelation(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame = {
    val toks = col("toks")
    df.select(col(idCol).as("id"), split(col(textCol), " ").as("toks"))
      .select(col("id"), explode(array_distinct(
        transform(sequence(lit(1), size(toks) - (n - 1)),
          i => concat_ws(" ",
            (0 until n).map(off => element_at(toks, i + off)): _*))))
        .as("shingle"))
  }

  /** Exact near-duplicate pairs by shingle-set Jaccard ≥ threshold,
    * via the inverted index (shared-shingle pairs only — never all pairs).
    * Output: (id_a, id_b, jac) with id_a < id_b.
    */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double): DataFrame =
    jaccardFromRelation(shingleRelation(df, idCol, textCol), threshold)

  /** Jaccard pairs from a prebuilt (id, shingle) relation via the
    * inverted-index self-join (all shared-shingle pairs). The LSH path
    * verifies candidates with [[jaccardForCandidates]] instead.
    */
  def jaccardFromRelation(rel: DataFrame, threshold: Double): DataFrame = {
    val sizes = rel.groupBy("id").agg(count(lit(1)).as("n"))
    val inter = rel.as("a").join(rel.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("c"))
    inter
      .join(sizes.as("sa"), col("id_a") === col("sa.id"))
      .join(sizes.as("sb"), col("id_b") === col("sb.id"))
      .select(col("id_a"), col("id_b"),
        round(col("c").cast("double") /
          (col("sa.n") + col("sb.n") - col("c")).cast("double"), 6).as("jac"))
      .filter(col("jac") >= threshold)
  }

  /** MinHash band keys: k = [[MinhashBands]]·[[MinhashRowsPerBand]]
    * hash functions derived from ONE md5 per shingle (Kirsch–Mitzenmacher
    * double hashing), signature = per-i min, band key = concat of the
    * band's minima.
    * Returns (id, band, key).
    */
  def minhashBands(df: DataFrame, idCol: String, textCol: String): DataFrame =
    bandsFromRelation(shingleRelation(df, idCol, textCol))

  /** Band keys from a prebuilt (id, shingle) relation.
    *
    * The k hash functions are Kirsch–Mitzenmacher double hashes
    * `h_i(s) = h1(s) + i·h2(s)` where h1/h2 are the two 32-bit halves
    * of ONE `md5(shingle)` — the standard trick for simulating k
    * independent hash families from two base hashes. vs the previous
    * `md5(s || ':' || i)`-per-i formulation this cuts the dominant
    * map-side CPU by k× (one digest instead of twelve per (doc,shingle)
    * occurrence — md5 of a ~20-char shingle is ~100 ns, and at 100 TB
    * the signature pass is hash-bound), while staying fully
    * oracle-portable: DuckDB reproduces h1/h2 with the same
    * `'0x' || substring(md5(…))` cast the KMV sketch already uses.
    * 32-bit halves keep every h_i exact in a signed 64-bit long
    * (max h1 + 11·h2 < 2^36) in BOTH engines — 64-bit halves would
    * need unsigned/decimal arithmetic DuckDB and Spark disagree on.
    *
    * Hashes are computed INLINE per (doc, shingle) occurrence and
    * min-aggregated in the same pass: the whole signature table costs ONE
    * shuffle (groupBy id with k min() aggregates, map-side combined to k
    * minima per id per partition). The alternative — hash each DISTINCT
    * shingle once and join back — saves `corpus_frequency ×` redundant
    * md5s but pays two extra full-relation shuffles (the distinct and
    * the join-back on long string keys); at any scale the shuffles cost
    * orders of magnitude more than the recomputed hashes. Band keys then
    * explode from an inline array (no further shuffle).
    */
  def bandsFromRelation(rel: DataFrame): DataFrame = {
    val k = MinhashBands * MinhashRowsPerBand
    // Fused md5 pair (graft.plans.Md5HashPair): one digest yields both
    // 32-bit halves with the exact conv/substring-chain values the
    // oracle SQL spells — no hex string, no conv round-trip.
    val hashed = rel
      .select(col("id"),
        graft.plans.HashOps.md5Pair(col("shingle")).as("__hp"))
      .select(col("id"),
        col("__hp.h1").as("h1"), col("__hp.h2").as("h2"))
    val minCols = (0 until k).map(i =>
      min(col("h1") + lit(i.toLong) * col("h2")).as(s"m$i"))
    val sigs = hashed.groupBy(col("id")).agg(minCols.head, minCols.tail: _*)
    val bandStructs = (0 until MinhashBands).map { b =>
      val keyCols = (0 until MinhashRowsPerBand)
        .map(r => col(s"m${b * MinhashRowsPerBand + r}"))
      struct(lit(b).as("band"), concat_ws("|", keyCols: _*).as("key"))
    }
    sigs.select(col("id"), explode(array(bandStructs: _*)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** LSH candidate pairs: ids sharing any band bucket (id_a < id_b). */
  def lshCandidates(bandsDf: DataFrame): DataFrame =
    bandsDf.as("x").join(bandsDf.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()

  /** Exact Jaccard for a given (id_a, id_b) candidate set, via candidate-
    * keyed joins rather than an inverted-index self-join: the pair list
    * joins to id_a's shingles (producing (id_a, id_b, shingle)), that
    * joins to id_b's shingles on (id_b, shingle) equality, and the match
    * count per pair is the intersection size. No broadcast hints — at
    * small SF AQE turns both joins into broadcasts (the pair×shingle side
    * is kilobytes); at 100 TB they degrade gracefully to hash shuffles
    * keyed by (id, shingle), still bounded by the candidate count, never
    * all-pairs. Pairs sharing zero shingles drop out of the inner join,
    * which is correct for any threshold > 0 (their Jaccard is 0).
    */
  def jaccardForCandidates(rel: DataFrame, cand: DataFrame,
      threshold: Double): DataFrame = {
    val aSide = rel.as("ra").join(cand,
        col("ra.id") === col("id_a"))
      .select(col("id_a"), col("id_b"), col("ra.shingle").as("sh_a"))
    val inter = aSide.join(rel.as("rb"),
        col("rb.id") === col("id_b") && col("rb.shingle") === col("sh_a"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("c"))
    val sizes = rel.groupBy("id").agg(count(lit(1)).as("n"))
    inter
      .join(sizes.as("sa"), col("id_a") === col("sa.id"))
      .join(sizes.as("sb"), col("id_b") === col("sb.id"))
      .select(col("id_a"), col("id_b"),
        round(col("c").cast("double") /
          (col("sa.n") + col("sb.n") - col("c")).cast("double"), 6).as("jac"))
      .filter(col("jac") >= threshold)
  }

  /** MinHash-LSH near-dup pipeline: bucket-join candidates, then exact
    * Jaccard verification of CANDIDATES ONLY. This is the shape that
    * survives 100 TB: signatures are one map-side-combined shuffle, the
    * bucket join shuffles tiny band keys, and pairwise work is bounded by
    * the candidate count — never n². The whole pipeline is 5 shuffle
    * stages (signatures, bucket join, candidate distinct, intersection
    * count, sizes), which also keeps small-SF latency scheduler-bound
    * rather than stage-count-bound.
    */
  def minhashNearDups(df: DataFrame, idCol: String, textCol: String,
      threshold: Double): DataFrame = {
    // Deliberately NO persist and NO eager materialization: the shingle
    // relation is map-only lineage off the corpus scan, so recomputing it
    // per consumer is a few extra scans of source parquet — cheaper at any
    // scale than writing a corpus-sized intermediate to cache (memory
    // pressure, spill, eviction), and it keeps the whole pipeline ONE
    // Spark job instead of four (persist-materialize jobs dominate
    // wall-clock at small SF). The band table's self-join deduplicates
    // its shuffle via ReuseExchange (both sides canonicalize identically),
    // so signatures are still computed once.
    val rel = shingleRelation(df, idCol, textCol)
    val cand = lshCandidates(bandsFromRelation(rel))
    jaccardForCandidates(rel, cand, threshold)
  }

  /** INCREMENTAL MinHash-LSH dedup: near-dup pairs between a new
    * `batch` and an existing `corpus` (ids assumed disjoint). The shape
    * that makes continuous ingestion affordable at 100 TB: the band
    * join is batch-bands × corpus-bands — work proportional to the
    * BATCH, not to corpus², and in production the corpus band table is
    * a PERSISTED index ([[writeBandIndex]]; here it is derived inline
    * so the query stays self-contained). Candidates then pay
    * exact-Jaccard verification against the union shingle relation,
    * bounded by the candidate count. Output: (id_a = batch doc,
    * id_b = corpus doc, jac).
    */
  def minhashNearDupsAgainst(batch: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String, threshold: Double): DataFrame = {
    val relB = shingleRelation(batch, idCol, textCol)
    val relC = shingleRelation(corpus, idCol, textCol)
    val cand = bandsFromRelation(relB).as("x")
      .join(bandsFromRelation(relC).as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
    jaccardForCandidates(relB.union(relC), cand, threshold)
  }

  /** Persist the corpus MinHash band table as a BUCKETED catalog table
    * on (band, key) — the standing index an incremental-dedup pipeline
    * maintains. Computed once per corpus generation (the signature pass
    * is the expensive stage), then every arriving batch's band join
    * reads it with ZERO exchange on the index side: the bucket layout
    * IS the join partitioning, so only the (small) batch shuffles.
    */
  def writeBandIndex(df: DataFrame, idCol: String, textCol: String,
      table: graft.model.TableRef): Unit =
    graft.sources.CatalogOps.writeBucketed(
      minhashBands(df, idCol, textCol),
      table, bucketCols = Seq("band", "key"), numBuckets = IndexBuckets,
      sortCols = Seq("band", "key"))

  /** Incremental near-dups of `batch` against a PERSISTED band index
    * (written by [[writeBandIndex]]) — the production shape of
    * [[minhashNearDupsAgainst]]: the corpus signature pass is already
    * paid, so the batch pays only its own signatures, a band join that
    * leaves the bucketed index unshuffled, and exact-Jaccard
    * verification of the candidates (which reads corpus TEXT only for
    * candidate ids, via the candidate-keyed joins).
    */
  def minhashNearDupsAgainstIndex(batch: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String, threshold: Double,
      indexTable: graft.model.TableRef): DataFrame = {
    val spark = batch.sparkSession
    val relB = shingleRelation(batch, idCol, textCol)
    val cand = bandsFromRelation(relB).as("x")
      .join(spark.table(indexTable.qualified).as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
    jaccardForCandidates(
      relB.union(shingleRelation(corpus, idCol, textCol)), cand, threshold)
  }

  /** Persist the DECONTAMINATION index: the train split's DISTINCT
    * 3-gram shingles as a standing bucketed table keyed on `shingle` —
    * the artifact a pipeline checks every new benchmark release
    * against (the `t_contamination` semantics with the train-side
    * shingle pass already paid). Bucketing makes the contamination
    * join exchange-free on the index side: only the (small) arriving
    * eval batch shuffles. Built once per train-corpus generation.
    */
  def writeShingleIndex(train: DataFrame, idCol: String, textCol: String,
      table: graft.model.TableRef): Unit =
    graft.sources.CatalogOps.writeBucketed(
      shingleRelation(train, idCol, textCol).select("shingle").distinct(),
      table, bucketCols = Seq("shingle"), numBuckets = IndexBuckets,
      sortCols = Seq("shingle"))

  /** Benchmark-contamination of an arriving batch against the PERSISTED
    * train-shingle index: per batch document, the fraction of its
    * distinct shingles present anywhere in the standing train split —
    * `t_contamination`'s output contract with the train side read off
    * the index. Exchange shape (plan-asserted in ShingleIndexSpec):
    * the join rides the bucketed scan's (shingle) distribution — the
    * only shingle exchange is the batch's own, and the per-document
    * rollup shuffles batch-sized id keys. At 100 TB the standing index is the big side and never
    * moves.
    */
  def contaminationAgainstIndex(batch: DataFrame, idCol: String,
      textCol: String, table: graft.model.TableRef): DataFrame = {
    val spark = batch.sparkSession
    // ONE pass over the batch shingles: the left join carries a hit
    // marker for the misses, so total and shared come out of the same
    // rollup instead of scanning and re-shingling the batch once per
    // aggregate.
    val rel = shingleRelation(batch, idCol, textCol)
    // the index holds each shingle once ([[writeShingleIndex]]), so the
    // left join matches at most one index row per batch shingle
    val train = spark.table(table.qualified).withColumn("hit", lit(1))
    rel.join(train, Seq("shingle"), "left")
      .groupBy("id")
      .agg(count(lit(1)).as("total"),
        sum(coalesce(col("hit"), lit(0))).cast("long").as("shared"))
      .select(col("id").as(idCol), col("total"), col("shared"),
        round(col("shared").cast("double") /
          col("total").cast("double"), 6).as("contam_ratio"))
  }

  /** Duplicated-SPAN detection (the substring-level dedup of Lee et
    * al. 2022, "Deduplicating Training Data Makes Language Models
    * Better", re-shaped from suffix arrays to a distributed
    * hash-gram inverted index): find maximal character spans of length
    * ≥ `gramLen` that appear in ≥ 2 distinct documents.
    * Doc-level Jaccard misses these — a unique document quoting a
    * duplicated paragraph keeps its span.
    *
    * Stages (each a standard shuffle shape):
    *  1. char `gramLen`-grams with (doc, pos) — the corpus×gramLen
    *     position inflation is the documented cost of substring dedup;
    *     it is map-only off the scan.
    *  2. keep the grams whose hash occurs in two docs: min(id) !=
    *     max(id) over a window keyed by the hash (one exchange, no
    *     join-back).
    *  3. merge overlapping/adjacent duplicated gram starts per doc into
    *     maximal spans — gaps-and-islands with TWO windows over ONE
    *     (doc → pos) exchange.
    * Output: (id, span_id, span_start, span_end, span_len), 1-based
    * inclusive character offsets.
    */
  def duplicatedSpans(df: DataFrame, idCol: String, textCol: String,
      gramLen: Int = 30): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Gram identity travels as a 128-bit xxhash64 pair (see below; md5
    // was measured at 4.5 s of the operator's 13 s at sf0.1 before
    // being dropped for the raw gram, and the raw gram in turn made the
    // window exchange sort 30-char strings — xxhash64 is a ~ns codegen
    // hash and two longs sort/shuffle for a third of the bytes).
    val grams = df.select(col(idCol).as("id"), col(textCol).as("text"))
      .select(col("id"),
        explode(when(length(col("text")) >= gramLen,
          sequence(lit(1), length(col("text")) - (gramLen - 1)))
          .otherwise(array())).as("pos"),
        col("text"))
      .select(col("id"), col("pos"),
        col("text").substr(col("pos"), lit(gramLen)).as("h"))
    // A gram is duplicated iff min(id) != max(id) over its key —
    // computed as a WINDOW over the key, not a groupBy+join-back. Gram
    // keys are nearly all unique, so a hash aggregate builds a
    // corpus-sized hash map per task for nothing (measured: the
    // agg+join formulation spent 2/3 of the operator's wall-clock
    // there); the window is sort-based — one exchange on the key, a
    // streaming per-partition sort, no join, and the gram pass runs
    // ONCE instead of twice.
    //
    // The key is a 128-bit hash of the gram, not the 30-char gram
    // itself (guide §2.3 "narrower types"): the window exchanges and
    // SORTS every gram row, and two longs shuffle/compare for a third
    // of the raw key's bytes. Two independent xxhash64 draws (plain,
    // and length-prefixed) give a 2⁻¹²⁸-class collision probability —
    // ~10⁻²⁰ even at 10¹⁰ grams, the same accept-the-hash class as the
    // md5 keys the dedup family already groups on — and the DuckDB
    // oracle still groups RAW substrings, so any collision that ever
    // mattered would fail the hash compare.
    val wH = Window.partitionBy(col("h1"), col("h2"))
    val dp = grams
      // project the raw gram away BEFORE the exchange — only the two
      // longs (and id, pos) cross the wire
      .select(col("id"), col("pos"),
        xxhash64(col("h")).as("h1"),
        xxhash64(lit(0x9e3779b9L), col("h")).as("h2"))
      .withColumn("lo", min(col("id")).over(wH))
      .withColumn("hi", max(col("id")).over(wH))
      .filter(col("lo") =!= col("hi"))
      .select("id", "pos")
    val w = Window.partitionBy(col("id")).orderBy(col("pos"))
    val flagged = dp
      .withColumn("brk",
        when(lag(col("pos"), 1).over(w).isNull ||
          col("pos") > lag(col("pos"), 1).over(w) + 1, 1).otherwise(0))
      .withColumn("span_id", sum(col("brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    flagged.groupBy("id", "span_id")
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + lit(gramLen - 1)).as("span_end"))
      .select(col("id"), col("span_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_len"))
  }

  /** Connected components over an undirected near-dup pair graph
    * (id_a, id_b) — the cluster-formation step that follows pair
    * detection in a dedup pipeline: each component keeps one canonical
    * document (its minimum id, which is also the cluster label).
    *
    * Algorithm: min-label propagation (hash-min) ACCELERATED by pointer
    * doubling. Each round every vertex first adopts the minimum label in
    * its closed neighborhood (one shuffle join + one aggregate), then
    * shortcuts through the label graph — label ← label(label) — via a
    * self-join of the labels table (sound because a label is always some
    * vertex's id and labels are monotone non-increasing along the label
    * chain, so the shortcut stays within the component and never climbs
    * above the component minimum). Plain hash-min converges in
    * O(component diameter) rounds, which a pathological chain-shaped dup
    * graph turns into thousands of rounds; the shortcut halves-and-then-
    * some the label-chain depth every round (reachable distance follows
    * d_r = 2·d_{r-1} + 2), so convergence is O(log diameter): the
    * default `maxIter = 15` covers diameters beyond 65 000, and a fixed
    * point of the combined step is exactly the hash-min fixpoint (the
    * shortcut is the identity once labels stop changing), so labels are
    * identical to plain hash-min's. Lineage is cut per round with
    * `localCheckpoint` — iterative plans otherwise grow exponentially.
    * The cut lives in executor block storage: no extra I/O (landing
    * each round on scratch parquet would add a write and a read per
    * cut), but an executor loss makes the truncated lineage
    * unrecoverable mid-job.
    * Throws if `maxIter` rounds don't reach the fixpoint (a truncated
    * result would silently mislabel clusters).
    *
    * Vertices are pair endpoints only: documents with no near-dup pair
    * are trivially their own singleton cluster and are not re-emitted.
    * Output: (id, cluster) with cluster = min id reachable from id.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 15): DataFrame = {
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .localCheckpoint()
    var labels = edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("cluster")).localCheckpoint()
    var iter = 0
    while (iter < maxIter) {
      val nbrMin = edges
        .join(labels.withColumnRenamed("id", "dst2"), col("dst") === col("dst2"))
        .groupBy(col("src")).agg(min(col("cluster")).as("nbr"))
      // step 1, hash-min: min label over the closed neighborhood. Cut
      // here so the doubling self-join below reads a materialized
      // table instead of recomputing the join+aggregate twice.
      val hashMin = least(col("cluster"), coalesce(col("nbr"), col("cluster")))
      val stepped = labels
        .join(nbrMin.withColumnRenamed("src", "id2"), col("id") === col("id2"), "left")
        .select(col("id"), hashMin.as("mid"), col("cluster").as("old"))
        .localCheckpoint()
      // step 2, pointer doubling: label ← label(label). `mid` is always
      // a vertex id present in the table, so the left join only misses
      // when mid is the vertex's own root-so-far.
      val shortcut = coalesce(col("t.mid"), col("s.mid"))
      val updated = stepped.as("s")
        .join(stepped.as("t"), col("s.mid") === col("t.id"), "left")
        .select(col("s.id").as("id"),
          least(col("s.mid"), shortcut).as("new_cluster"),
          (least(col("s.mid"), shortcut) < col("s.old")).as("changed"))
        .localCheckpoint()
      // the changed flag rides the same projection, so convergence is a
      // filter over the already-materialized checkpoint — no extra join
      val done = updated.filter(col("changed")).isEmpty
      labels = updated.select(col("id"), col("new_cluster").as("cluster"))
      iter += 1
      if (done) return labels
    }
    throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIter rounds")
  }

  /** 32-bit SimHash over the distinct-word set, as a '0'/'1' bit string.
    * Bit j is derived from hex digit j/4 of each word's md5 (portable
    * nibble arithmetic, no engine-specific bit ops): the bit is set when
    * the word-population majority sets it.
    */
  def simhashBits(df: DataFrame, idCol: String, textCol: String,
      bits: Int = 32): DataFrame = {
    val words = df.select(col(idCol).as("id"),
      explode(array_distinct(split(col(textCol), " "))).as("word"))
    val withHash = words.select(col("id"), md5(col("word")).as("h"),
      explode(sequence(lit(0), lit(bits - 1))).as("j"))
    val nibble = expr(
      "locate(substring(h, cast(j div 4 as int) + 1, 1), '0123456789abcdef') - 1")
    // divisor 8/4/2/1 by bit-in-nibble position
    val divisor = when(col("j") % 4 === 0, 8).when(col("j") % 4 === 1, 4)
      .when(col("j") % 4 === 2, 2).otherwise(1)
    val bit = floor(nibble.cast("double") / divisor.cast("double")).cast("int") % 2
    val votes = withHash
      .select(col("id"), col("j"), (bit * 2 - 1).as("vote"))
      .groupBy("id", "j")
      .agg(sum(col("vote")).as("v"))
      .select(col("id"), col("j"),
        when(col("v") >= 0, "1").otherwise("0").as("b"))
    votes.groupBy("id")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("j"), col("b")))),
        x => x.getField("b")), "").as("simhash"))
  }

  /** Hamming-distance pairs via signature banding — the production path.
    * The `bits`-bit signature splits into `bands` equal chunks; candidate
    * pairs share ≥1 exact chunk (a hash-equality self-join on tiny
    * (band, chunk) keys — never an all-pairs theta join), and only
    * candidates pay the exact Hamming verification.
    *
    * Banding is LOSSLESS for `maxDist < bands` (pigeonhole: fewer
    * differing bits than bands forces some band to differ in none), so
    * the default 8 bands × 4 bits reproduces the all-pairs result
    * bit-for-bit up to maxDist = 7 (LlmOpsSpec holds it to an
    * all-pairs oracle at small n). At 100 TB the candidate join
    * shuffles only (id, 4-char chunk) tuples and pairwise work is
    * bounded by bucket collisions, not n².
    */
  def simhashBandedPairs(sigs: DataFrame, maxDist: Int, bands: Int = 8,
      bits: Int = 32): DataFrame = {
    require(maxDist < bands,
      s"banding loses recall for maxDist ≥ bands (got $maxDist ≥ $bands)")
    require(bits % bands == 0, s"bands ($bands) must divide bits ($bits)")
    val width = bits / bands
    val banded = sigs.select(col("id"), col("simhash"),
        explode(sequence(lit(0), lit(bands - 1))).as("band"))
      .select(col("id"), col("simhash"), col("band"),
        col("simhash").substr(col("band") * width + 1, lit(width)).as("chunk"))
    val cand = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.chunk") === col("y.chunk") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        col("x.simhash").as("sig_a"), col("y.simhash").as("sig_b"))
      .distinct()
    // Native codegen byte loop (graft.plans.HammingDist) — the
    // interpreted `aggregate(sequence(...))` fold paid 2·bits substring
    // calls per candidate pair.
    cand.select(col("id_a"), col("id_b"),
        graft.plans.StringOps.hammingDist(col("sig_a"), col("sig_b")).as("dist"))
      .filter(col("dist") <= maxDist)
  }

  /** SemDeDup-style SEMANTIC dedup (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embedding space, then search for
    * near-duplicates only WITHIN each cluster — the clustering replaces
    * LSH banding as the candidate generator, catching paraphrase-level
    * duplicates whose token overlap (MinHash) and bit signatures
    * (SimHash/sign-LSH) miss but whose embeddings sit together.
    *
    * Semantics (deterministic, parallel-safe): cells come from the
    * oracle-reproducible Lloyd k-means ([[Similarity.trainCentroids]] —
    * lowest-id seeds, exact-decimal means, fixed rounds); a vector is
    * PRUNED iff some smaller-id vector in its cell has exact-decimal
    * cosine ≥ `tau` with it, and `witness` records the smallest such
    * id. Keep/prune is thus a pure function of the data — no RNG, no
    * iteration order — so the decision is reproducible across engines,
    * runs, and cluster sizes (the paper keeps a random representative;
    * a pipeline that must be re-runnable wants the deterministic rule).
    *
    * Scale shape: training + assignment are the IVF build (broadcast
    * centroids, one argmax pass); the pair search shuffles on `cell`
    * and pairs only within cells — Σ|cell|²/2, never n²/2. Cell size is
    * the knob: at 100 TB raise `nlist` so cells stay bounded (the paper
    * runs 50k clusters at 100M docs) and train on a sample. A
    * codegen-float prefilter at `tau − 0.01` guards the exact-decimal
    * cosine the way [[Similarity.nearDupPairs]] does, and vectors stay
    * OUT of the pair join until scoring (norms precomputed per row).
    *
    * `centroids` is trained model state held by the caller (the
    * standing-model convention): the [[Similarity.trainCentroidsLiteral]]
    * output for this corpus at `nlist` cells, or keep/prune decisions
    * drift from the oracle replay ([[Similarity.checkedCentroids]]
    * rejects the detectable mismatches).
    *
    * Output: one row per vector — (vid, cell, witness, keep),
    * `witness` null ⇔ keep.
    */
  def semanticDedup(emb: DataFrame, tau: Double, centroids: DataFrame,
      nlist: Int = 16): DataFrame = {
    import graft.plans.FloatVecOps.{floatDot, floatNorm2}
    val cents = Similarity.checkedCentroids(centroids, nlist)
    val assigned = Similarity.assignCells(emb, cents)
      .select(col("vid"), col("cell"), col("cvec"),
        sqrt(floatNorm2(col("cvec"))).as("nrm"))
    val a = assigned.select(col("cell"), col("vid").as("id_a"),
      col("cvec").as("va"), col("nrm").as("na"))
    val b = assigned.select(col("cell"), col("vid").as("id_b"),
      col("cvec").as("vb"), col("nrm").as("nb"))
    val cheap = round(floatDot(col("va"), col("vb")) / (col("na") * col("nb")), 8)
    val witness = a.join(b, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .filter(cheap >= lit(tau - 0.01))
      .select(col("id_a"), col("id_b"),
        Similarity.cosineExact(col("va"), col("vb")).as("cos"))
      .filter(col("cos") >= tau)
      .groupBy(col("id_b").as("vid"))
      .agg(min(col("id_a")).as("witness"))
    assigned.select(col("vid"), col("cell"))
      .join(witness, Seq("vid"), "left")
      .select(col("vid"), col("cell"), col("witness"),
        col("witness").isNull.as("keep"))
  }

  /** Cell count for [[semanticDedup]] at corpus size `n`
    * (`d_semantic_auto`): `⌈√(n·r/2)⌉` clamped to
    * `[minNlist, maxNlist]`, with `r` = the cost of verifying one
    * in-cell pair relative to one assignment cosine.
    *
    * Why √n: with `nlist` cells the operator pays `n·nlist` cosines to
    * ASSIGN and `~n²/(2·nlist)` pair verifications INSIDE cells — a
    * FIXED nlist makes the verify side quadratic (measured on this
    * repo's sf0.1→sf1→sf10 decades at nlist=16: 124.6k → 12.49M →
    * 1.25G cell pairs, exactly 100× per decade, which at the third
    * decade turned an 11 s query into 407 s). Minimizing
    * `n·nlist + r·n²/(2·nlist)` gives `nlist* = √(n·r/2)`, so the
    * total grows as `n^1.5` — the best a flat centroid list can do.
    * The floor keeps small corpora on the oracle-replayed 16-cell
    * recipe ([[semanticDedup]]'s default); the cap bounds the collected
    * centroid literal (4096·dim floats ≈ 1 MB broadcast).
    */
  def chooseNlist(n: Long, verifyCostRatio: Double = 0.5,
      minNlist: Int = 16, maxNlist: Int = 4096): Int = {
    require(n >= 0 && verifyCostRatio > 0 && minNlist > 0 &&
      maxNlist >= minNlist, "bad inputs")
    math.min(maxNlist, math.max(minNlist,
      math.ceil(math.sqrt(n.toDouble * verifyCostRatio / 2.0)).toInt))
  }

  /** INCREMENTAL [[semanticDedup]]: an arriving batch checked against a
    * standing corpus — the semantic twin of [[minhashNearDupsAgainst]].
    * Cells come from the CORPUS's seeded centroids (the
    * [[Similarity.writeIvfIndex]] recipe — batch arrival must not move
    * cells, or every prior keep/prune decision would be invalidated);
    * a batch vector is pruned iff some corpus vector in its cell is
    * τ-similar, `witness` = the smallest such corpus id. The pair join
    * is batch×corpus WITHIN shared cells — never batch×corpus overall,
    * never corpus².
    *
    * Output: one row per BATCH vector — (vid, cell, witness, keep).
    */
  def semanticDedupAgainst(corpus: DataFrame, batch: DataFrame,
      tau: Double, nlist: Int = 16): DataFrame = {
    // Shared seed rule (fails fast if the corpus ids don't cover
    // [0, nlist) — an id-shifted slice would otherwise silently yield
    // an empty centroid set and an empty result).
    val cents = Similarity.seedCentroidsLiteral(corpus, nlist)
    import graft.plans.FloatVecOps.{floatDot, floatNorm2}
    val a = Similarity.assignCells(corpus, cents).select(col("cell"),
      col("vid").as("id_a"), col("cvec").as("va"),
      sqrt(floatNorm2(col("cvec"))).as("na"))
    val bAss = Similarity.assignCells(batch, cents)
    val b = bAss.select(col("cell"), col("vid").as("id_b"),
      col("cvec").as("vb"), sqrt(floatNorm2(col("cvec"))).as("nb"))
    val cheap = round(floatDot(col("va"), col("vb")) / (col("na") * col("nb")), 8)
    val witness = a.join(b, Seq("cell"))
      .filter(cheap >= lit(tau - 0.01))
      .select(col("id_a"), col("id_b"),
        Similarity.cosineExact(col("va"), col("vb")).as("cos"))
      .filter(col("cos") >= tau)
      .groupBy(col("id_b").as("vid"))
      .agg(min(col("id_a")).as("witness"))
    bAss.select(col("vid"), col("cell"))
      .join(witness, Seq("vid"), "left")
      .select(col("vid"), col("cell"), col("witness"),
        col("witness").isNull.as("keep"))
  }

  /** Robust WINNOWING fingerprint selection (Schleimer, Wilkerson &
    * Aiken, SIGMOD 2003 — the MOSS selector): word `k`-gram md5 hashes,
    * sliding windows of `w` consecutive grams, each window contributing
    * its minimum hash with the RIGHTMOST tie-break. Guarantee: any
    * shared token run of length >= w + k - 1 produces at least one
    * shared fingerprint, at an expected density of 2/(w+1) of the grams
    * — the noise-robust middle ground between full-gram inverted
    * indexes ([[duplicatedSpans]]' O(corpus chars) key stream) and
    * whole-document hashes ([[TextAnalysis.fingerprint]]).
    *
    * The tie-break rides inside the min itself. The SEMANTICS are the
    * original window key `md5hex || '#' || zeropad(BIG - pos)`, whose
    * lexicographic minimum IS (min hash, max pos) — but the key now
    * travels as a struct of integers (r20, guide §2.3 "narrower
    * types"): `(h1 ⊕ MIN_LONG, h2 ⊕ MIN_LONG, BIG - pos)` where
    * (h1, h2) is the full 128-bit digest ([[graft.plans.Md5FullPair]]).
    * Fixed-width lowercase hex orders exactly as the unsigned 128-bit
    * value, and the sign-flip maps unsigned order onto the struct's
    * signed-long comparison, so the struct minimum selects the SAME
    * gram as the string minimum (HashOpsSpec pins the ordering
    * equivalence and the hex round-trip; LlmOpsSpec's winnow cases pin
    * the operator). The 32-char hex — part of the public (id, fp_pos,
    * fp) contract — is reconstructed from the digest longs for the
    * SELECTED survivors only, so per-gram work drops a 41-char key
    * build + string compares to long compares, and the doc-partitioned
    * shuffle carries 16 hash bytes per gram instead of ~40.
    *
    * Documents shorter than `w` grams fall back to one whole-document
    * window, so every tokenizable document yields at least one
    * fingerprint. One doc-partitioned window pass (sort within doc)
    * then a distinct on the selected (doc, pos) — work tracks corpus
    * tokens; nothing is quadratic.
    *
    * Returns (id, fp_pos, fp): the selected gram position and its
    * 32-hex fingerprint.
    */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, w: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val big = 99999999
    val signFlip = lit(Long.MinValue)
    val toks = split(col(textCol), " ")
    val grams = df
      .select(col(idCol).as("id"), toks.as("l"), size(toks).as("n"))
      .filter(col("n") >= k)
      .select(col("id"), col("l"),
        explode(sequence(lit(1), col("n") - (k - 1))).as("pos"))
      .select(col("id"), col("pos").cast("int").as("pos"),
        graft.plans.HashOps.md5FullPair(
          concat_ws(" ", slice(col("l"), col("pos"), lit(k)))).as("hp"))
    val frame = Window.partitionBy("id").orderBy("pos")
      .rowsBetween(Window.currentRow, w - 1)
    val whole = Window.partitionBy("id")
    grams
      .select(col("id"), col("pos"),
        min(struct(
          col("hp.h1").bitwiseXOR(signFlip).as("a"),
          col("hp.h2").bitwiseXOR(signFlip).as("b"),
          (lit(big) - col("pos")).as("ip")))
          .over(frame).as("wk"),
        count(lit(1)).over(frame).as("wn"),
        max(col("pos")).over(whole).as("maxpos"))
      .filter(col("wn") === w || (col("pos") === 1 && col("maxpos") < w))
      .select(col("id"),
        (lit(big) - col("wk.ip")).as("fp_pos"),
        lower(concat(
          lpad(hex(col("wk.a").bitwiseXOR(signFlip)), 16, "0"),
          lpad(hex(col("wk.b").bitwiseXOR(signFlip)), 16, "0"))).as("fp"))
      .distinct()
  }
}
