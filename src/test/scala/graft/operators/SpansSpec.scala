package graft.operators

import org.apache.spark.sql.functions.col
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.SparkFunSuite

/** Brute-force cross-check of [[Dedup.duplicatedSpans]]: on random
  * small-alphabet corpora (engineered so repeats are common), the
  * operator's maximal spans must equal an independent in-memory
  * reference computed directly from the definition.
  */
class SpansSpec extends SparkFunSuite {

  /** Reference implementation, straight from the definition: a gram
    * start is duplicated iff its `l`-char substring occurs in ≥2
    * distinct docs; spans are maximal runs of consecutive duplicated
    * starts, [min, max + l - 1].
    */
  private def bruteSpans(docs: Seq[(Long, String)], l: Int): Set[(Long, Int, Int)] = {
    val grams = for {
      (id, t) <- docs
      p <- 1 to t.length - l + 1
    } yield (id, p, t.substring(p - 1, p - 1 + l))
    val docsPerGram = grams.groupBy(_._3).map { case (g, xs) =>
      g -> xs.map(_._1).toSet
    }
    val dupStarts = grams.collect {
      case (id, p, g) if docsPerGram(g).size >= 2 => (id, p)
    }
    dupStarts.groupBy(_._1).flatMap { case (id, ps) =>
      val sorted = ps.map(_._2).distinct.sorted
      val runs = sorted.foldLeft(List.empty[(Int, Int)]) {
        case ((s0, e0) :: rest, p) if p == e0 + 1 => (s0, p) :: rest
        case (acc, p) => (p, p) :: acc
      }
      runs.map { case (s0, e0) => (id, s0, e0 + l - 1) }
    }.toSet
  }

  test("hand case: shared passage inside unique documents") {
    val s = graft.SparkTestBase.spark
    import s.implicits._
    val shared = "the quick brown fox jumps over it"
    val docs = Seq(
      (1L, s"alpha beta $shared gamma delta"),
      (2L, s"unrelated prefix text $shared and a tail"),
      (3L, "completely different content with no overlap at all here"))
    val got = Dedup.duplicatedSpans(docs.toDF("doc_id", "text"),
      "doc_id", "text", gramLen = 10)
      .collect().map(r => (r.getLong(0), r.getInt(2), r.getInt(3))).toSet
    assert(got == bruteSpans(docs, 10))
    // both docs 1 and 2 carry exactly one span covering the passage
    assert(got.count(_._1 == 1L) == 1 && got.count(_._1 == 2L) == 1)
    assert(got.forall { case (_, s0, e0) => e0 - s0 + 1 >= shared.length })
    assert(!got.exists(_._1 == 3L))
  }

  test("property: operator == brute force on random small-alphabet corpora") {
    val s = graft.SparkTestBase.spark
    import s.implicits._
    val word = Gen.oneOf("aa", "ab", "ba", "bb", "ccc")
    val doc = Gen.chooseNum(0, 14).flatMap(n =>
      Gen.listOfN(n, word).map(_.mkString(" ")))
    val corpus = Gen.chooseNum(2, 6).flatMap(n =>
      Gen.listOfN(n, doc).map(_.zipWithIndex.map {
        case (t, i) => (i.toLong, t)
      }))
    val prop = Prop.forAll(corpus) { docs =>
      val got = Dedup.duplicatedSpans(docs.toDF("doc_id", "text"),
        "doc_id", "text", gramLen = 5)
        .collect().map(r => (r.getLong(0), r.getInt(2), r.getInt(3))).toSet
      got == bruteSpans(docs, 5)
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(res.passed, res.status.toString)
  }
}
