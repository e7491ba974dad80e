package graft.operators

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.SparkFunSuite
import graft.model.PartitionId

class PartitionsSpec extends SparkFunSuite {

  lazy val lineitem = spark.read.parquet(s"$sf0001/lineitem.parquet")

  test("partitionPredicate arity mismatch is an error") {
    assertThrows[IllegalArgumentException](
      Partitions.partitionPredicate(Seq("dt", "channel"), Seq(PartitionId.single("x"))))
  }

  test("enumeratePartitions is distinct, ordered, complete") {
    val withKey = lineitem.withColumn("part", date_format(col("l_shipdate"), "yyyy-MM"))
    val parts = Partitions.enumeratePartitions(withKey, Seq("part"))
    assert(parts.nonEmpty)
    assert(parts == parts.distinct)
    assert(parts.map(_.values.head) == parts.map(_.values.head).sorted)
  }

  test("predicate selects exactly the enumerated partition's rows") {
    val withKey = lineitem.withColumn("part", date_format(col("l_shipdate"), "yyyy-MM"))
    val parts = Partitions.enumeratePartitions(withKey, Seq("part"))
    val counts = Partitions.countsByPartition(withKey, Seq("part"))
    // spot-check 3 partitions: filter count == groupBy count; total adds up
    parts.take(3).foreach { p =>
      val pred = Partitions.partitionPredicate(Seq("part"), Seq(p))
      assert(withKey.filter(pred).count() == counts(p))
    }
    assert(counts.values.sum == lineitem.count())
  }

  test("countsByPartition covers every enumerated partition") {
    val withKey = lineitem.withColumn("part", date_format(col("l_shipdate"), "yyyy-MM"))
    val parts = Partitions.enumeratePartitions(withKey, Seq("part")).toSet
    val counts = Partitions.countsByPartition(withKey, Seq("part"))
    assert(counts.keySet == parts)
    assert(counts.values.forall(_ > 0))
  }

  test("property: composite predicate round-trips generated partitions") {
    val s = graft.SparkTestBase.spark
    import s.implicits._
    val pairGen = for {
      a <- Gen.oneOf("2024-01", "2024-02", "x,y", "7")
      b <- Gen.oneOf("novel", "blog", "3")
    } yield (a, b)
    val prop = Prop.forAll(Gen.nonEmptyListOf(pairGen)) { rows =>
      val df = rows.toDF("k1", "k2")
      val parts = Partitions.enumeratePartitions(df, Seq("k1", "k2"))
      parts.size == rows.distinct.size && parts.forall { p =>
        val pred = Partitions.partitionPredicate(Seq("k1", "k2"), Seq(p))
        df.filter(pred).count() ==
          rows.count(r => r == ((p.values.head, p.values(1))))
      }
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(15), prop)
    assert(res.passed, res.status.toString)
  }

  test("property: countsInOrder sorts as orderBy does, NULL and non-BMP keys included") {
    val s = graft.SparkTestBase.spark
    import s.implicits._
    // U+FF5A sorts after U+1D538 in UTF-16 (String.compareTo) but before
    // it in UTF-8 byte order, which is Spark's
    val value = Gen.option(Gen.oneOf("a", "B", "ｚ", "𝔸", "𝔸a", ""))
    val prop = Prop.forAll(Gen.nonEmptyListOf(Gen.zip(value, value))) { rows =>
      val df = rows.toDF("k1", "k2")
      val expected = df.distinct().orderBy("k1", "k2").collect()
        .map(r => PartitionId(Seq(r.getString(0), r.getString(1)))).toSeq
      val got = Partitions.countsInOrder(df, Seq("k1", "k2"))
      got.map(_._1) == expected &&
        got.forall { case (p, n) => n == rows.count(r =>
          r == ((Option(p.values.head), Option(p.values(1))))) }
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(15), prop)
    assert(res.passed, res.status.toString)
  }
}
