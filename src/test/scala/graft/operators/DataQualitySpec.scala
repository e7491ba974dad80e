package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkFunSuite

/** One-pass schema-driven profiling: exact completeness/bounds on a
  * hand-built frame.
  */
class DataQualitySpec extends SparkFunSuite {

  private def frame = {
    val s = spark
    import s.implicits._
    Seq(
      (1L, Some("a"), Some(10.0)),
      (2L, None, Some(20.0)),
      (3L, Some("c"), None),
      (4L, Some("c"), Some(40.0))
    ).toDF("id", "tag", "score")
  }

  test("profile: exact nulls, completeness, bounds per column") {
    val p = DataQuality.profile(frame).orderBy("column").collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getString(5), r.getString(6)))
      .toMap
    assert(p("id") == ((4L, 0L, 1.0, "1", "4")))
    assert(p("tag") == ((4L, 1L, 0.75, "a", "c")))
    assert(p("score") == ((4L, 1L, 0.75, "10.0", "40.0")))
  }

  test("profile survives exotic column names and empty tables (ADVICE r11)") {
    val s = spark
    import s.implicits._
    // names with quotes/backticks previously broke the stack() SQL text
    val exotic = Seq((1L, "x")).toDF("we`ird", "qu'ote")
    val pe = DataQuality.profile(exotic).collect()
    assert(pe.map(_.getString(0)).toSet == Set("we`ird", "qu'ote"))
    assert(pe.forall(_.getDouble(3) == 1.0))
    // an empty table must report defined completeness, not NaN
    // (MigrateCli writes these values straight into a JSON report)
    val empty = DataQuality.profile(frame.limit(0)).collect()
    assert(empty.length == 3)
    assert(empty.forall(r => r.getLong(1) == 0L && r.getDouble(3) == 1.0))
    assert(empty.forall(r => !r.getDouble(3).isNaN))
  }

  test("drift gate: fires on removal, completeness drop, cardinality swing, bound escape") {
    import DataQuality.{ColumnProfile, drift}
    def p(c: String, comp: Double, nd: Long, lo: String, hi: String) =
      ColumnProfile(c, 100L, ((1 - comp) * 100).toLong, comp, nd,
        Some(lo), Some(hi))
    val base = Seq(
      p("price", 1.0, 90L, "1.0", "100.0"),
      p("tag", 0.95, 5L, "a", "z"),
      p("ts", 1.0, 100L, "1000.0", "2000.0"),
      p("gone", 1.0, 10L, "0", "9"))

    // identical profile → no drift
    assert(drift(base, base, 0.1).isEmpty)

    // each rule in isolation
    val cur = Seq(
      // numeric min escaped far below the historical floor
      p("price", 1.0, 90L, "-50.0", "100.0"),
      // completeness dropped 0.95 → 0.5
      p("tag", 0.5, 5L, "a", "z"),
      // ts grew a LITTLE (inside tolerance×span) and cardinality is
      // stable → quiet, the growing-column case
      p("ts", 1.0, 102L, "1000.0", "2050.0"))
    // `gone` missing entirely
    val found = drift(base, cur, 0.1)
    assert(found.map(f => (f.column, f.metric)).toSet == Set(
      ("price", "min_bound"), ("tag", "completeness"), ("gone", "presence")))

    // cardinality collapse (constant-stuck column) fires; an added
    // column is benign
    val collapsed = Seq(
      p("price", 1.0, 1L, "1.0", "100.0"),
      p("tag", 0.95, 5L, "a", "z"),
      p("ts", 1.0, 100L, "1000.0", "2000.0"),
      p("gone", 1.0, 10L, "0", "9"),
      p("brand_new", 1.0, 3L, "x", "y"))
    assert(drift(base, collapsed, 0.1).map(f => (f.column, f.metric))
      == Seq(("price", "approx_distinct")))

    // max escaping beyond tolerance×span fires; rise in completeness
    // does not
    val escaped = base.map {
      case c if c.column == "ts" => c.copy(maxValue = Some("2500.0"))
      case c if c.column == "tag" => c.copy(completeness = 1.0, nullCount = 0)
      case c => c
    }
    assert(drift(base, escaped, 0.1).map(f => (f.column, f.metric))
      == Seq(("ts", "max_bound")))

    // non-numeric bounds never fire (lexicographic span is not a
    // distance)
    val tagMoved = base.map {
      case c if c.column == "tag" => c.copy(maxValue = Some("zzzz"))
      case c => c
    }
    assert(drift(base, tagMoved, 0.1).isEmpty)
  }

  test("profile on a real testdata table runs one pass and covers all columns") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val p = DataQuality.profile(docs).collect()
    assert(p.map(_.getString(0)).toSet == docs.columns.toSet)
    assert(p.forall(_.getDouble(3) == 1.0)) // synthetic data has no nulls
  }

  test("PSI catches a same-bounds same-cardinality shape shift the profile rules miss") {
    val s = spark
    import s.implicits._
    // baseline: score uniform over the integer grid 0..999, each value
    // 10 times (10 000 rows).
    val base = (0 until 10000).map(i => (i.toLong, (i % 1000).toDouble))
      .toDF("id", "score")
    // current: the EXACT SAME distinct-value set (so the HLL estimate
    // is bit-identical — cardinality rule provably silent), same
    // bounds, same row count, but 91% of the mass collapsed into the
    // top decile: 0..899 once each, 900..999 ninety-one times each.
    val shifted = ((0 until 900).map(_.toDouble) ++
      (0 until 9100).map(j => (900 + j % 100).toDouble))
      .zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "score")
    // the existing gate provably misses it…
    val bProf = DataQuality.collectProfile(base)
    val cProf = DataQuality.collectProfile(shifted)
    val missed = DataQuality.drift(bProf, cProf, tolerance = 0.1)
      .filter(_.column == "score")
    assert(missed.isEmpty,
      s"bounds/cardinality/completeness must NOT fire here: $missed")
    // …and the PSI rule flags it
    val hists = DataQuality.collectHistograms(base, Seq("score"), bins = 10)
    assert(hists.map(_.column) == Seq("score"))
    assert(hists.head.counts.sum == 10000L && hists.head.lo == 0.0 &&
      hists.head.hi == 999.0)
    val findings = DataQuality.psiDrift(hists, shifted, threshold = 0.2)
    assert(findings.map(d => (d.column, d.metric)) == Seq(("score", "psi")),
      s"the collapse must flag as psi drift: $findings")
    assert(findings.head.current.toDouble > 1.0,
      s"a 90%-mass collapse is a large PSI: ${findings.head.current}")
    // an unshifted current is quiet
    assert(DataQuality.psiDrift(hists, base, threshold = 0.2).isEmpty)
    // and the pure fold agrees with the query face on a known vector
    assert(math.abs(DataQuality.psi(Seq(500L, 500L), Seq(500L, 500L))) < 1e-12)
    val queryPsi = DataQuality.psiBetween(base, shifted, "score", bins = 10)
      .collect().head
    assert(queryPsi.getAs[Long]("n_base") == 10000L &&
      queryPsi.getAs[Long]("n_cur") == 10000L)
    val direct = DataQuality.psi(hists.head.counts,
      DataQuality.histogramCounts(shifted, hists, 10)("score"))
    assert(math.abs(queryPsi.getAs[Double]("psi") - direct) < 1e-3,
      s"query face ${queryPsi.getAs[Double]("psi")} vs fold $direct")
  }

  test("categorical PSI catches a category-MIX shift inside stable cardinality and completeness (VERDICT r19)") {
    val s = spark
    import s.implicits._
    // baseline: 4 categories, 25% each (4000 rows). current: the SAME
    // category set (HLL bit-identical — cardinality rule provably
    // silent), same row count, zero nulls (completeness silent), no
    // numeric bounds at all — but 85% of the mass collapsed onto 'a'.
    val cats = Seq("a", "b", "c", "d")
    val base = (0 until 4000).map(i => (i.toLong, cats(i % 4)))
      .toDF("id", "region")
    val shifted = (0 until 4000).map { i =>
      (i.toLong, if (i < 3400) "a" else cats(1 + (i % 3)))
    }.toDF("id", "region")
    val missed = DataQuality.drift(DataQuality.collectProfile(base),
      DataQuality.collectProfile(shifted), tolerance = 0.1)
      .filter(_.column == "region")
    assert(missed.isEmpty,
      s"profile rules must NOT fire on a pure mix shift: $missed")
    // the categorical profile: top-K by (count desc, value asc)
    val prof = DataQuality.collectCategoryHistograms(base,
      Seq("region"), topK = 3)
    assert(prof.map(p => (p.column, p.categories, p.counts, p.otherCount))
      == Seq(("region", Seq("a", "b", "c"), Seq(1000L, 1000L, 1000L),
        1000L)), prof.toString)
    // …and the categorical PSI rule flags the collapse
    val findings = DataQuality.psiDriftCategorical(prof, shifted,
      threshold = 0.2)
    assert(findings.map(d => (d.column, d.metric)) ==
      Seq(("region", "psi_cat")), findings.toString)
    assert(findings.head.current.toDouble > 1.0, findings.toString)
    // an unshifted current is quiet; so is an empty one (no evidence)
    assert(DataQuality.psiDriftCategorical(prof, base, 0.2).isEmpty)
    assert(DataQuality.psiDriftCategorical(prof,
      base.where(lit(false)), 0.2).isEmpty)
    // query face ≡ driver-side fold on the same bins
    val q = DataQuality.psiBetweenCategorical(base, shifted, "region",
      topK = 3).collect().head
    val direct = DataQuality.psi(
      prof.head.counts :+ prof.head.otherCount,
      DataQuality.categoryCounts(shifted, prof)("region"))
    assert(q.getAs[Long]("n_base") == 4000L &&
      q.getAs[Long]("n_cur") == 4000L)
    assert(math.abs(q.getAs[Double]("psi") - direct) < 1e-3,
      s"query face ${q.getAs[Double]("psi")} vs fold $direct")
    // one scan profiles many columns; nulls excluded; ties broken by
    // value asc so two runs profile identically
    val multi = Seq(("x", "m"), ("y", "m"), ("x", null), ("x", "n"))
      .toDF("c1", "c2")
    val got = DataQuality.collectCategoryHistograms(multi,
      Seq("c1", "c2"), topK = 1)
    assert(got.map(p => (p.column, p.categories, p.counts, p.otherCount))
      == Seq(("c1", Seq("x"), Seq(3L), 1L), ("c2", Seq("m"), Seq(2L), 1L)),
      got.toString)
  }

  test("property: PSI is non-negative, zero on identical proportions, floor-safe") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val counts = Gen.listOfN(8, Gen.choose(0L, 10000L))
    val prop = Prop.forAll(counts, counts) { (a: List[Long], b: List[Long]) =>
      val v = DataQuality.psi(a, b)
      // each term (p−q)·ln(p/q) has matching signs, so the fold can
      // never go negative — including through the 1e-6 empty-bin floor
      v >= -1e-12 &&
        // identical proportions (same vector, and any scalar multiple)
        // read zero
        math.abs(DataQuality.psi(a, a)) < 1e-12 &&
        math.abs(DataQuality.psi(a, a.map(_ * 3))) < 1e-9
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(50), prop)
    assert(res.passed, res.status.toString)
  }
}
