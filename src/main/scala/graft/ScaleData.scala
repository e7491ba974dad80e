package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthetic scale-up generator: blows the testdata fact tables up by an
  * integer factor so the bench can measure how every query's runtime
  * scales with data volume (the sf-ratio evidence in SCALING.md).
  *
  * Usage: `runMain graft.ScaleData <srcSfDir> <outDir> [factor=10]`
  *
  * Design — each copy is an ISOMORPHIC image of the original corpus, not
  * a verbatim duplicate, so the algorithmic structure scales the way real
  * data growth does:
  *
  *  - `orders`/`lineitem`: orderkeys shift by `copy * (max+1)` with the
  *    SAME stride on both tables, preserving the FK join; dimension keys
  *    stay put (dims are copied verbatim — dimension tables grow far
  *    slower than facts in real deployments, and the broadcast-ability
  *    the plans rely on must survive the scale-up to be credible).
  *  - `events`: event ids and user ids both shift — 10× the users with
  *    the same per-user behavior, so sessionization/retention state
  *    grows with keys (the realistic axis) instead of 10×-longer
  *    per-user timelines.
  *  - `documents`: doc ids shift and each copy's text goes through a
  *    per-copy LETTER BIJECTION (`translate` over a–z/A–Z). A bijection
  *    on characters preserves every within-copy shingle relation exactly
  *    (same near-dup pairs, same fingerprint collisions, copy-for-copy)
  *    while making cross-copy texts unrelated — verbatim duplication
  *    would instead make every doc a 10-way near-dup and blow the
  *    candidate-pair count up quadratically, an artifact of the
  *    generator rather than a property of data growth. The bijection for
  *    copy i is `R_(i/26) ∘ shift(i mod 26)`: a Caesar shift composed
  *    with a per-GROUP seeded full-alphabet shuffle (`R_0` = identity,
  *    so copies 0–25 are the plain shifts of earlier rounds and the
  *    generator's content hashes at factor ≤ 26 are unchanged). Two
  *    copies in the SAME group differ by a nonzero shift under a common
  *    outer bijection, hence are discordant at EVERY letter — provably
  *    zero shared shingles. Two copies in DIFFERENT groups differ by a
  *    random relabeling, which agrees with a shift at ~1 letter in
  *    expectation — a cross-copy WORD collision then needs every letter
  *    of the word inside that agreement set, which real text never
  *    produces (ScaleDataSpec asserts empirical cross-copy distinct-word
  *    disjointness above factor 26; candidate-count linearity is
  *    re-measured at each scale in SCALING.md). Maximal-discordance
  *    families over a 26-letter alphabet cap at 26 members (rows of a
  *    Latin square), so some statistical leg is unavoidable past 26; an
  *    earlier vowel-permutation variant showed what a BAD statistical
  *    leg does: adjacent permutations shared fixed points ('a'→'a',
  *    'e'→'e' across copies 1–5), shared shingles leaked through, and
  *    measured MinHash candidates grew 31× instead of 10× at factor 10.
  *  - `embeddings`: vec ids shift and each copy applies a per-copy
  *    SIGN-FLIP pattern over dimensions (flip dim d in copy i iff
  *    `hash(d, i)` is odd). A fixed sign pattern is an orthogonal
  *    transform, so all within-copy cosines are preserved exactly;
  *    cross-copy cosines collapse toward zero (~half the terms negate),
  *    so ANN/near-dup structure scales linearly for the same reason.
  *    Copy 0 is the identity for every table — the original data is a
  *    subset of the scaled data.
  */
object ScaleData {

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/graft_scaled")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val tables = args.lift(3).map(_.split(",").map(_.trim).toSet)
    val spark = GraftSession.build("graft-scaledata")
    generate(spark, src, out, factor, tables)
    println(s"""{"scaled":"$out","factor":$factor}""")
    spark.stop()
  }

  /** The copy-i letter bijection as a `translate` target string over a–z
    * (callers apply the same map to A–Z via `.toUpperCase`): Caesar shift
    * by `i mod 26` composed with the group-`i/26` seeded shuffle. Group 0
    * is the identity shuffle, so factors ≤ 26 reproduce the historical
    * plain-shift output bit-for-bit.
    */
  private[graft] def copyPermutation(i: Int): String = {
    val alphabet = ('a' to 'z').mkString
    val shifted = alphabet.drop(i % 26) + alphabet.take(i % 26)
    val group = i / 26
    if (group == 0) shifted
    else {
      val rng = new scala.util.Random(0x5ca1ab1eL + group)
      val relabel = rng.shuffle(('a' to 'z').toList).toArray
      shifted.map(c => relabel(c - 'a'))
    }
  }

  def generate(spark: SparkSession, src: String, out: String, factor: Int,
               only: Option[Set[String]] = None): Unit = {
    require(factor >= 1 && factor <= 676, "factor must be in [1, 676]")
    def wanted(name: String): Boolean = only.forall(_.contains(name))

    def read(name: String): DataFrame = {
      // events.ts flavor varies by testdata generation (TIMESTAMP(NANOS)
      // → raw long under the legacy conf; TIMESTAMP(MICROS) → NTZ).
      // Either is written back verbatim — Sources.table normalizes both
      // flavors on read, branching on the inferred type.
      if (name == "events") {
        val key = "spark.sql.legacy.parquet.nanosAsLong"
        val prev = spark.conf.getOption(key)
        try { spark.conf.set(key, "true"); spark.read.parquet(s"$src/events.parquet") }
        finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      } else spark.read.parquet(s"$src/$name.parquet")
    }
    def write(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")

    // Dimensions: verbatim.
    Seq("region", "nation", "customer", "supplier", "part")
      .filter(wanted).foreach(n => write(read(n), n))

    def stride(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head().getLong(0) + 1L

    def scaled(df: DataFrame)(perCopy: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(i => perCopy(df, i)).reduce(_ union _)

    // orders + lineitem share the orderkey stride (FK preserved).
    if (wanted("orders") || wanted("lineitem")) {
      val orders = read("orders")
      val lineitem = read("lineitem")
      val okStride = math.max(stride(orders, "o_orderkey"), stride(lineitem, "l_orderkey"))
      if (wanted("orders")) write(scaled(orders)((d, i) =>
        d.withColumn("o_orderkey", col("o_orderkey") + lit(i * okStride))), "orders")
      if (wanted("lineitem")) write(scaled(lineitem)((d, i) =>
        d.withColumn("l_orderkey", col("l_orderkey") + lit(i * okStride))), "lineitem")
    }

    if (wanted("events")) {
      val events = read("events")
      val evStride = stride(events, "event_id")
      val userStride = stride(events, "user_id")
      write(scaled(events)((d, i) => d
        .withColumn("event_id", col("event_id") + lit(i * evStride))
        .withColumn("user_id", col("user_id") + lit(i * userStride))), "events")
    }

    // Per-copy letter bijection (shift ∘ group shuffle); copy 0 = identity.
    if (wanted("documents")) {
      val alphabet = ('a' to 'z').mkString
      val documents = read("documents")
      val docStride = stride(documents, "doc_id")
      write(scaled(documents)((d, i) => {
        val p = copyPermutation(i)
        d.withColumn("doc_id", col("doc_id") + lit(i * docStride))
          .withColumn("text",
            translate(col("text"), alphabet + alphabet.toUpperCase, p + p.toUpperCase))
      }), "documents")
    }

    if (wanted("embeddings")) {
      val embeddings = read("embeddings")
      val vecStride = stride(embeddings, "vec_id")
      write(scaled(embeddings)((d, i) =>
        d.withColumn("vec_id", col("vec_id") + lit(i * vecStride))
          .withColumn("embedding",
            if (i == 0) col("embedding")
            else transform(col("embedding"),
              (x, j) => when(pmod(hash(j, lit(i)), lit(2)) === 0, x).otherwise(-x)))),
        "embeddings")
    }
  }
}
