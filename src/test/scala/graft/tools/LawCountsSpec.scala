package graft.tools

import graft.SparkFunSuite
import graft.operators.Dedup

/** [[LawCounts]] measures the stages the queries run, not look-alikes:
  * its pair count is d_minhash's row count and its auto cell count is
  * the corpus-size law d_semantic_auto applies.
  */
class LawCountsSpec extends SparkFunSuite {

  test("LawCounts at sf0.001 matches d_minhash and chooseNlist") {
    val c = LawCounts(spark, sf0001)
    val nEmb = spark.read.parquet(s"$sf0001/embeddings.parquet").count()
    assert(c.minhash_pairs ==
      graft.SparkEntry.queries("d_minhash")(spark, sf0001).count())
    assert(c.embeddings == nEmb)
    assert(c.auto_nlist == Dedup.chooseNlist(nEmb))
    assert(c.minhash_candidates >= c.minhash_pairs)
    assert(c.json.startsWith(s"""{"sf":"$sf0001","docs":${c.docs},"""))
  }
}
