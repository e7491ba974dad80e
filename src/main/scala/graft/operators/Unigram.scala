package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Unigram-LM tokenizer training (Kudo 2018, "Subword Regularization" —
  * the SentencePiece unigram model), as the EM twin of [[Bpe]]. The
  * reference repo has no tokenizer; together with BPE this completes
  * the tokenizer-training family of the LLM-pipeline surface
  * (SURVEY.md §2B).
  *
  * Algorithm (hard-EM / Viterbi variant, chosen for cross-engine
  * reproducibility): seed the vocabulary with every length-1 substring
  * plus the top-K frequency-weighted substrings of length 2..maxPiece;
  * then per EM round, (E) Viterbi-segment every DISTINCT word under the
  * current Laplace-smoothed piece probabilities and (M) re-estimate
  * counts from the segmentations. Single-character pieces are never
  * dropped, so every word stays segmentable (SentencePiece's character
  * -coverage rule).
  *
  * Determinism contract (what lets DuckDB replay the EM rounds and
  * hash-match the learned model): NO transcendentals anywhere — piece
  * probabilities are one integer-derived division and the Viterbi DP
  * multiplies doubles left-to-right, so every score is a chain of
  * correctly-rounded IEEE ops that evaluates bit-identically on any
  * engine; ties break structurally (the candidate chain replaces only
  * on strictly-greater score, so the shortest piece wins), and the
  * seed's top-K cut orders by (count desc, piece asc) — a total order.
  *
  * Scale shape (the [[Bpe]] discipline): the corpus is scanned once —
  * the distinct-word frequency count — and every EM iteration runs
  * over the |vocab| word table only. The per-round state collected to
  * the driver is the piece-count table (|pieces| = chars + topK rows,
  * the same O(model) footprint as k-means centroids or BPE's argmax);
  * the probabilities ride back to executors as a literal map, a few MB
  * even at a 32k production vocabulary. Encoding a corpus is one
  * explode + broadcast-joinable segmented-vocab table, so tokenization
  * cost rides on DISTINCT words, never corpus tokens. The Viterbi fold
  * is an interpreted higher-order function, safe for the same reason
  * Bpe.applyMerge is: it executes per distinct word, never per token.
  */
object Unigram {

  /** Trained model: final EM piece counts plus the smoothed
    * probabilities they imply (both in (count desc, piece) order).
    */
  case class Model(counts: Seq[(String, Long)], probs: Seq[(String, Double)]) {
    /** The Laplace floor of this model's smoothing — the probability a
      * zero-count piece would have received: 1 / (Σcnt + |vocab|).
      * [[viterbiSeg]] scores OUT-OF-VOCABULARY single characters at
      * this floor (SentencePiece's UNK/character-coverage behavior), so
      * applying the model to text containing characters the training
      * corpus never saw still segments (OOV chars become their own
      * floor-scored pieces) instead of poisoning the DP with nulls.
      */
    def unkProb: Double = {
      val t = counts.map(_._2).sum + counts.size
      1.0 / t.toDouble
    }
  }

  /** Frequency-weighted counts of every substring of length
    * 1..maxPiece across the distinct-word table — the seed statistics.
    * One explode of a per-word substring list (≤ L·maxPiece entries),
    * one map-side-combined shuffle.
    */
  def substrCounts(words: DataFrame, maxPiece: Int): DataFrame =
    words.select(col("freq"), explode(flatten(transform(
      sequence(lit(1), length(col("w"))),
      s => transform(
        sequence(lit(1), least(lit(maxPiece), length(col("w")) - s + 1)),
        m => col("w").substr(s, m))))).as("piece"))
      .groupBy("piece").agg(sum("freq").as("cnt"))

  /** Laplace-smoothed probabilities from integer counts:
    * p = (cnt + 1) / (Σcnt + |vocab|). Smoothing keeps every piece
    * strictly positive so zero-count character pieces never create
    * score-0 ties in the Viterbi DP.
    */
  def smoothedProbs(counts: Seq[(String, Long)]): Seq[(String, Double)] = {
    val t = counts.map(_._2).sum + counts.size
    counts.map { case (p, c) => (p, (c + 1).toDouble / t.toDouble) }
  }

  // One Literal node (typedLit), not a 2·|vocab|-child CreateMap —
  // the Viterbi fold references the map once per candidate length, so
  // a wide literal would multiply the expression tree (measured: the
  // CreateMap form cost ~7 s/round in plan analysis alone at sf0.01).
  private def probMap(probs: Seq[(String, Double)]): Column =
    typedLit(probs.toMap)

  /** Viterbi segmentation of one word under a piece→probability map:
    * a left-to-right fold where acc(j) holds the best (score, seg) of
    * the length-(j-1) prefix. At position i, candidates are the vocab
    * pieces ending at i with length m = 1..maxPiece, scored
    * prev.score · p(piece). The winner is array_max over
    * (score, -m, seg) — max score, ties to the SHORTEST piece — which
    * is exactly the oracle's replace-on-strictly-greater CASE chain
    * (the (score, -m) key is unique per candidate set, so the seg
    * field never decides). Words are bounded (whitespace splitting),
    * so the DP state — an array of (double, string) structs — is a
    * few hundred bytes.
    *
    * `unk` is the score for an OUT-OF-VOCABULARY single character (the
    * model's Laplace floor, [[Model.unkProb]]): training always seeds
    * every length-1 substring of its own corpus, so `unk` never fires
    * during training or same-corpus encoding — it exists so APPLYING a
    * trained model to unseen text segments OOV characters as
    * floor-scored singletons instead of folding the
    * whole word to null (all candidates null at the OOV position, and
    * a null prev poisons the rest of the DP).
    */
  def viterbiSeg(word: Column, vm: Column, maxPiece: Int,
      unk: Column = lit(null)): Column = {
    val folded = aggregate(
      sequence(lit(1), length(word)),
      array(struct(lit(1.0).as("score"), lit("").as("seg"))),
      (acc, i) => {
        def cand(m: Int): Column = {
          val piece = word.substr(i - m + 1, lit(m))
          val p =
            if (m == 1) coalesce(try_element_at(vm, piece), unk)
            else try_element_at(vm, piece)
          val prev = element_at(acc, greatest(i - m + 1, lit(1)))
          when(i >= m && p.isNotNull,
            struct((prev.getField("score") * p).as("score"),
              lit(-m).as("mneg"),
              concat(prev.getField("seg"), lit(" "), piece).as("seg")))
        }
        val best = array_max(array((1 to maxPiece).map(cand): _*))
        concat(acc, array(struct(best.getField("score").as("score"),
          best.getField("seg").as("seg"))))
      })
    ltrim(element_at(folded, length(word) + 1).getField("seg"))
  }

  /** Train `rounds` hard-EM iterations over `docs(textCol)`. The corpus
    * is scanned once (the persisted distinct-word table); each round is
    * one vocab-sized Spark job plus an O(model) driver collect of the
    * new piece counts (documented bounded model state, like Bpe's
    * per-merge argmax).
    */
  def train(docs: DataFrame, textCol: String, topK: Int, maxPiece: Int,
      rounds: Int): Model = {
    val words = Bpe.vocab(docs, textCol).persist(StorageLevel.MEMORY_AND_DISK)
    words.count()
    val subs = substrCounts(words, maxPiece)
    val singles = subs.filter(length(col("piece")) === 1)
    val multis = subs.filter(length(col("piece")) >= 2)
      .orderBy(col("cnt").desc, col("piece")).limit(topK)
    // model-state collect: chars + topK rows (the fixed vocabulary)
    val seed: Seq[(String, Long)] = singles.unionByName(multis)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq.sortBy(_._1)
    var cnts = seed
    for (_ <- 1 to rounds) {
      val vm = probMap(smoothedProbs(cnts))
      // model-state collect: at most |vocab| used-piece rows
      val used: Map[String, Long] = words
        .select(explode(split(viterbiSeg(col("w"), vm, maxPiece), " "))
          .as("piece"), col("freq"))
        .groupBy("piece").agg(sum("freq").as("used"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      cnts = cnts.map { case (p, _) => (p, used.getOrElse(p, 0L)) }
    }
    words.unpersist()
    val fin = cnts.sortBy { case (p, c) => (-c, p) }
    Model(fin, smoothedProbs(fin))
  }

  /** Distinct-word table with each word's Viterbi segmentation and
    * token count under a trained model — the broadcast-joinable
    * encoding table (corpus tokenization = explode words → join this).
    */
  def encodeVocab(docs: DataFrame, textCol: String, model: Model,
      maxPiece: Int): DataFrame = {
    val vm = probMap(model.probs)
    Bpe.vocab(docs, textCol)
      .select(col("w"),
        viterbiSeg(col("w"), vm, maxPiece, lit(model.unkProb)).as("syms"))
  }
}
