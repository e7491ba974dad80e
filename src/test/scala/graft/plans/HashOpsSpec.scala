package graft.plans

import graft.SparkFunSuite
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Pins the fused md5-prefix expressions to the four-expression chain
  * they replace: identical values (codegen AND interpreted paths) for
  * every (pos, len) the repo uses, on adversarial and random inputs.
  * The DuckDB oracle SQL still spells the chain — these expressions
  * must forever compute the same numbers or every consuming query's
  * hash compare breaks.
  */
class HashOpsSpec extends SparkFunSuite {
  private val ss0 = spark
  import ss0.implicits._

  private val posLens = Seq((1, 8), (9, 8), (1, 4), (1, 2), (3, 5), (26, 7))

  private val edgeInputs = Seq(
    "", " ", "a", "doc-1", "dsir:the quick",
    "épée ünïcode 字符串",
    " nul", "x" * 4096, "0123456789abcdef" * 3)

  test("md5PrefixLong == conv(substring(md5(s), p, l), 16, 10) cast long — edges") {
    val df = edgeInputs.toDF("s")
    posLens.foreach { case (p, l) =>
      val rows = df.select(
        HashOps.md5PrefixLong(col("s"), p, l).as("fused"),
        conv(substring(md5(col("s")), p, l), 16, 10).cast("long").as("chain"))
        .collect()
      rows.foreach(r => assert(r.getLong(0) == r.getLong(1), s"(p=$p,l=$l)"))
    }
  }

  test("md5PrefixLong == chain — random strings (property)") {
    val prop = Prop.forAll(Gen.listOfN(48, Gen.asciiPrintableStr)) { ss =>
      val df = ss.toDF("s")
      posLens.forall { case (p, l) =>
        df.select(
          HashOps.md5PrefixLong(col("s"), p, l).as("fused"),
          conv(substring(md5(col("s")), p, l), 16, 10).cast("long").as("chain"))
          .filter(col("fused") =!= col("chain")).count() == 0L
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(5), prop)
    assert(res.passed, res.status.toString)
  }

  test("md5PrefixLong: null in, null out") {
    val r = Seq[Option[String]](None, Some("x")).toDF("s")
      .select(HashOps.md5PrefixLong(col("s"), 1, 8).as("h")).collect()
    assert(r.exists(_.isNullAt(0)) && r.exists(!_.isNullAt(0)))
  }

  test("md5PrefixLong: interpreted eval matches codegen") {
    // force the interpreted path via a direct Expression eval
    edgeInputs.foreach { s =>
      val e = Md5PrefixLong(org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString(s),
        org.apache.spark.sql.types.StringType), 9, 8)
      val viaEval = e.eval(null).asInstanceOf[Long]
      val viaDf = Seq(s).toDF("s")
        .select(conv(substring(md5(col("s")), 9, 8), 16, 10).cast("long"))
        .head().getLong(0)
      assert(viaEval == viaDf, s"input '$s'")
    }
  }

  test("md5Pair == (1,8)/(9,8) chain pair, one digest — edges + random") {
    val ssx = edgeInputs ++ (1 to 200).map(i => s"shingle $i of doc ${i % 7}")
    val df = ssx.toDF("s")
    val bad = df.select(
      HashOps.md5Pair(col("s")).as("p"),
      conv(substring(md5(col("s")), 1, 8), 16, 10).cast("long").as("c1"),
      conv(substring(md5(col("s")), 9, 8), 16, 10).cast("long").as("c2"))
      .filter(col("p.h1") =!= col("c1") || col("p.h2") =!= col("c2"))
      .count()
    assert(bad == 0L)
  }

  test("md5Pair inside a transform lambda (interpreted HOF path)") {
    val df = Seq(Seq("a b c", "b c d", "")).toDF("arr")
    val viaPair = df.select(transform(col("arr"),
      s => HashOps.md5Pair(s)).as("hs"))
      .select(explode(col("hs")).as("p"))
      .select(col("p.h1"), col("p.h2")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val viaChain = df.select(explode(col("arr")).as("s"))
      .select(conv(substring(md5(col("s")), 1, 8), 16, 10).cast("long"),
        conv(substring(md5(col("s")), 9, 8), 16, 10).cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(viaPair == viaChain)
  }

  test("md5FullPair: hex round-trip — lower(lpad(hex(h1))||lpad(hex(h2))) == md5(s)") {
    val ssx = edgeInputs ++ (1 to 200).map(i => s"gram $i of doc ${i % 7}")
    val bad = ssx.toDF("s").select(
      HashOps.md5FullPair(col("s")).as("p"), md5(col("s")).as("hx"))
      .select(lower(concat(
        lpad(hex(col("p.h1")), 16, "0"),
        lpad(hex(col("p.h2")), 16, "0"))).as("re"), col("hx"))
      .filter(col("re") =!= col("hx")).count()
    assert(bad == 0L)
  }

  test("md5FullPair: sign-flipped struct order == hex-string order (winnow key)") {
    // the exact substitution winnowFingerprints makes: ordering by
    // (h1^MIN, h2^MIN, BIG-pos) must equal ordering by
    // md5hex || '#' || zeropad(BIG-pos)
    val big = 99999999
    val rnd = new scala.util.Random(7)
    val rows = (1 to 400).map(i =>
      (s"tok${rnd.nextInt(40)} tok${rnd.nextInt(40)} tok${rnd.nextInt(40)}",
        1 + rnd.nextInt(5000)))
    val df = rows.toDF("s", "pos")
    val flip = lit(Long.MinValue)
    // one md5FullPair alias selected once, then read as .h1/.h2 — the
    // operator's plan shape
    val keyed = df
      .select(col("s"), col("pos"), HashOps.md5FullPair(col("s")).as("hp"))
      .select(
        concat(md5(col("s")), lit("#"),
          lpad((lit(big) - col("pos")).cast("string"), 8, "0")).as("skey"),
        struct(
          col("hp.h1").bitwiseXOR(flip).as("a"),
          col("hp.h2").bitwiseXOR(flip).as("b"),
          (lit(big) - col("pos")).as("ip")).as("nkey"))
    val byString = keyed.orderBy(col("skey")).select("skey").collect().map(_.getString(0))
    val byStruct = keyed.orderBy(col("nkey")).select("skey").collect().map(_.getString(0))
    assert(byString.sameElements(byStruct))
    // and the two MINIMA select the same element (the operator's use)
    assert(byString.head == byStruct.head)
  }

  test("md5FullPair: null in, null out; interpreted eval matches codegen") {
    val r = Seq[Option[String]](None, Some("x")).toDF("s")
      .select(HashOps.md5FullPair(col("s")).as("p")).collect()
    assert(r.exists(_.isNullAt(0)) && r.exists(!_.isNullAt(0)))
    edgeInputs.foreach { s =>
      val e = Md5FullPair(org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString(s),
        org.apache.spark.sql.types.StringType))
      val row = e.eval(null)
        .asInstanceOf[org.apache.spark.sql.catalyst.expressions.GenericInternalRow]
      val (h1, h2) = (row.getLong(0), row.getLong(1))
      val hx = Seq(s).toDF("s").select(md5(col("s"))).head().getString(0)
      assert(f"$h1%016x$h2%016x" == hx, s"input '$s'")
    }
  }
}
