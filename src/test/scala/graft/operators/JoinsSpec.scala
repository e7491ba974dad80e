package graft.operators

import graft.SparkFunSuite

class JoinsSpec extends SparkFunSuite {

  test("asofJoin: latest right row at or before left ts, per key") {
    val s = graft.SparkTestBase.spark
    import s.implicits._
    val left = Seq(
      (1L, "u1", 5L), (2L, "u1", 20L), (3L, "u1", 10L), (4L, "u2", 7L)
    ).toDF("lid", "k", "ts")
    val right = Seq(
      ("u1", 4L, 100L), ("u1", 10L, 200L), ("u1", 30L, 300L)
    ).toDF("k", "ts", "payload")
    val res = Joins.asofJoin(left, right, Seq("k"), "ts", "ts",
        Seq("payload"), rightTieBreak = Some("payload"))
      .select("lid", "payload_asof")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(res(1L) == 100L) // ts=5 → right@4
    assert(res(2L) == 200L) // ts=20 → right@10 (30 is in the future)
    assert(res(3L) == 200L) // ts=10 → right@10 (simultaneous matches)
    assert(res(4L) == -1L)  // u2 has no right rows → null
  }

  test("asofForwardJoin: earliest right row at or after left ts, per key") {
    val s = graft.SparkTestBase.spark
    import s.implicits._
    val left = Seq(
      (1L, "u1", 5L), (2L, "u1", 20L), (3L, "u1", 10L), (4L, "u2", 7L),
      (5L, "u1", 31L)
    ).toDF("lid", "k", "ts")
    val right = Seq(
      ("u1", 4L, 100L), ("u1", 10L, 200L), ("u1", 30L, 300L)
    ).toDF("k", "ts", "payload")
    val res = Joins.asofForwardJoin(left, right, Seq("k"), "ts", "ts",
        Seq("payload"), rightTieBreak = Some("payload"))
      .select("lid", "payload_fwd")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(res(1L) == 200L) // ts=5 → right@10 (4 is in the past)
    assert(res(2L) == 300L) // ts=20 → right@30
    assert(res(3L) == 200L) // ts=10 → right@10 (simultaneous matches)
    assert(res(4L) == -1L)  // u2 has no right rows → null
    assert(res(5L) == -1L)  // ts=31 → nothing at or after
  }

  test("asofForwardJoin: simultaneous right rows resolve by tie-break (max wins)") {
    val s = graft.SparkTestBase.spark
    import s.implicits._
    val left = Seq((1L, "u", 10L)).toDF("lid", "k", "ts")
    val right = Seq(("u", 10L, 7L), ("u", 10L, 9L)).toDF("k", "ts", "payload")
    val res = Joins.asofForwardJoin(left, right, Seq("k"), "ts", "ts",
      Seq("payload"), rightTieBreak = Some("payload")).collect()
    assert(res.head.getAs[Long]("payload_fwd") == 9L)
  }

  test("asofJoin: simultaneous right rows resolve by tie-break (max wins)") {
    val s = graft.SparkTestBase.spark
    import s.implicits._
    val left = Seq((1L, "u", 10L)).toDF("lid", "k", "ts")
    val right = Seq(("u", 10L, 7L), ("u", 10L, 9L)).toDF("k", "ts", "payload")
    val res = Joins.asofJoin(left, right, Seq("k"), "ts", "ts",
      Seq("payload"), rightTieBreak = Some("payload")).collect()
    assert(res.head.getAs[Long]("payload_asof") == 9L)
  }

  test("as-of allowExactMatches=false: simultaneous right rows excluded, both directions") {
    val s = graft.SparkTestBase.spark
    import s.implicits._
    val left = Seq((1L, "u", 10L)).toDF("lid", "k", "ts")
    val right = Seq(("u", 4L, 1L), ("u", 10L, 5L), ("u", 30L, 9L))
      .toDF("k", "ts", "payload")
    def one(df: org.apache.spark.sql.DataFrame, c: String): Long = {
      val r = df.collect().head
      if (r.isNullAt(r.fieldIndex(c))) -1L else r.getAs[Long](c)
    }
    // backward: inclusive picks the simultaneous row; strict skips to
    // the strictly-earlier one
    assert(one(Joins.asofJoin(left, right, Seq("k"), "ts", "ts",
      Seq("payload")), "payload_asof") == 5L)
    assert(one(Joins.asofJoin(left, right, Seq("k"), "ts", "ts",
      Seq("payload"), allowExactMatches = false), "payload_asof") == 1L)
    // forward: strict skips to the strictly-later one
    assert(one(Joins.asofForwardJoin(left, right, Seq("k"), "ts", "ts",
      Seq("payload")), "payload_fwd") == 5L)
    assert(one(Joins.asofForwardJoin(left, right, Seq("k"), "ts", "ts",
      Seq("payload"), allowExactMatches = false), "payload_fwd") == 9L)
    // strict with nothing strictly before → null
    val earliest = Seq((1L, "u", 4L)).toDF("lid", "k", "ts")
    assert(one(Joins.asofJoin(earliest, right, Seq("k"), "ts", "ts",
      Seq("payload"), allowExactMatches = false), "payload_asof") == -1L)
    // strict composes with tolerance: strictly-earlier match at gap 6
    // admitted at tol=6, rejected at tol=5
    assert(one(Joins.asofJoin(left, right, Seq("k"), "ts", "ts",
      Seq("payload"), allowExactMatches = false,
      tolerance = Some(6.0)), "payload_asof") == 1L)
    assert(one(Joins.asofJoin(left, right, Seq("k"), "ts", "ts",
      Seq("payload"), allowExactMatches = false,
      tolerance = Some(5.0)), "payload_asof") == -1L)
  }

  test("as-of tolerance: inclusive at the bound, null just outside, all directions") {
    val s = graft.SparkTestBase.spark
    import s.implicits._
    def bwd(tol: Double): Map[Long, Long] = {
      val left = Seq((1L, "u", 100L), (2L, "u", 200L), (3L, "u", 300L),
        (4L, "v", 100L)).toDF("lid", "k", "ts")
      val right = Seq(("u", 90L, 1L), ("u", 150L, 2L)).toDF("k", "ts", "payload")
      Joins.asofJoin(left, right, Seq("k"), "ts", "ts", Seq("payload"),
          tolerance = Some(tol))
        .select("lid", "payload_asof").collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1)))
        .toMap
    }
    // tol=10: gap 10 matches EXACTLY at the bound (inclusive); gaps 50
    // and 150 null out; the genuinely-unmatched key stays null
    assert(bwd(10.0) == Map(1L -> 1L, 2L -> -1L, 3L -> -1L, 4L -> -1L))
    // tol=49: gap 50 is JUST outside
    assert(bwd(49.0) == Map(1L -> 1L, 2L -> -1L, 3L -> -1L, 4L -> -1L))
    // tol=50: gap 50 now matches; gap 150 still out
    assert(bwd(50.0) == Map(1L -> 1L, 2L -> 2L, 3L -> -1L, 4L -> -1L))

    def fwd(tol: Double): Map[Long, Long] = {
      val left = Seq((1L, "u", 100L), (2L, "u", 140L)).toDF("lid", "k", "ts")
      val right = Seq(("u", 150L, 9L)).toDF("k", "ts", "payload")
      Joins.asofForwardJoin(left, right, Seq("k"), "ts", "ts", Seq("payload"),
          tolerance = Some(tol))
        .select("lid", "payload_fwd").collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1)))
        .toMap
    }
    assert(fwd(10.0) == Map(1L -> -1L, 2L -> 9L)) // gap 50 out, gap 10 at bound
    assert(fwd(50.0) == Map(1L -> 9L, 2L -> 9L))

    def near(tol: Double): Long = {
      val left = Seq((1L, "u", 120L)).toDF("lid", "k", "ts")
      val right = Seq(("u", 90L, 1L), ("u", 150L, 2L)).toDF("k", "ts", "payload")
      val r = Joins.asofNearestJoin(left, right, Seq("k"), "ts", "ts",
        Seq("payload"), tolerance = Some(tol)).collect().head
      if (r.isNullAt(r.fieldIndex("payload_near"))) -1L
      else r.getAs[Long]("payload_near")
    }
    assert(near(30.0) == 1L)  // both gaps 30; tie → backward, at the bound
    assert(near(29.0) == -1L) // nearest candidate just outside → null
  }

  test("asofJoin: latest right ROW wins atomically — null payload values " +
      "do not inherit older rows, columns never mix across rows") {
    val s = graft.SparkTestBase.spark
    import s.implicits._
    val left = Seq((1L, "u", 30L)).toDF("lid", "k", "ts")
    // latest right row (ts=20) has a NULL a and a fresh b: the left row
    // must see (null, "y2"), not (10, "y2") stitched from two rows.
    val right = Seq(
      ("u", 10L, Option(10L), "y1"),
      ("u", 20L, Option.empty[Long], "y2")
    ).toDF("k", "ts", "a", "b")
    val res = Joins.asofJoin(left, right, Seq("k"), "ts", "ts",
      Seq("a", "b"), rightTieBreak = Some("ts")).collect().head
    assert(res.isNullAt(res.fieldIndex("a_asof")),
      "null payload value must win, not inherit the older row's 10")
    assert(res.getAs[String]("b_asof") == "y2")
  }

  test("hamming_dist: codegen and interpreted paths agree") {
    val s = graft.SparkTestBase.spark
    import org.apache.spark.sql.functions._
    import graft.plans.StringOps.hammingDist
    // literal operands constant-fold through the interpreted eval path
    assert(s.range(1).select(hammingDist(lit("10110"), lit("10011")))
      .head().getLong(0) == 2L)
    // Column API over real rows (codegen path) vs the HOF formulation
    val sigs = graft.operators.Dedup.simhashBits(
      s.read.parquet(s"$sf0001/documents.parquet").limit(50), "doc_id", "text")
    val pairs = sigs.as("a").join(sigs.as("b"), col("a.id") < col("b.id"))
      .select(col("a.simhash").as("x"), col("b.simhash").as("y"))
    val hof = aggregate(sequence(lit(1), lit(32)), lit(0L),
      (acc, p) => acc + when(
        col("x").substr(p, lit(1)) =!= col("y").substr(p, lit(1)), 1L)
        .otherwise(0L))
    val mismatches = pairs.select(
      graft.plans.StringOps.hammingDist(col("x"), col("y")).as("fast"),
      hof.as("slow"))
      .filter(col("fast") =!= col("slow")).count()
    assert(mismatches == 0L)
    // null propagation (interpreted eval path)
    assert(s.range(1)
      .select(hammingDist(lit(null).cast("string"), lit("1")))
      .head().isNullAt(0))
  }

  test("float_dot: the Column API gives the exact dot, interpreted and codegen") {
    val s = graft.SparkTestBase.spark
    import org.apache.spark.sql.functions._
    // literal operands constant-fold through the interpreted eval path
    val viaLit = s.range(1).select(graft.plans.FloatVecOps.floatDot(
        array(lit(1.5f), lit(2f)), array(lit(3f), lit(0.5f))))
      .head().getDouble(0)
    assert(viaLit == 1.5 * 3 + 2 * 0.5)
    val emb = s.read.parquet(s"$sf0001/embeddings.parquet").limit(5)
    val rows = emb.select(
      graft.plans.FloatVecOps.floatDot(col("embedding"), col("embedding")).as("a"))
      .collect()
    rows.foreach(r => assert(r.getDouble(0) > 0))
  }

  test("binnedRangeJoin == naive containment join, incl. bin boundaries") {
    val s = graft.SparkTestBase.spark
    import s.implicits._
    // boundary-heavy points: exact bin edges (10.0, 20.0), interval
    // endpoints, an inverted interval, and an interval spanning 3 bins
    val pts = Seq((1L, 0.0), (2L, 9.99), (3L, 10.0), (4L, 15.0),
      (5L, 20.0), (6L, 25.0), (7L, 34.99), (8L, 35.0))
      .toDF("pid", "p")
    val iv = Seq((100L, 10.0, 20.0), (200L, 9.5, 34.99),
      (300L, 35.0, 35.0), (400L, 30.0, 5.0) /* inverted: matches none */)
      .toDF("iid", "lo", "hi")
    val got = Joins.binnedRangeJoin(pts, "p", iv, "lo", "hi", 10.0)
      .select("pid", "iid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    val want = pts.crossJoin(iv)
      .filter($"p" >= $"lo" && $"p" <= $"hi")
      .select("pid", "iid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(got.nonEmpty && got.sameElements(want))
    // each qualifying pair meets exactly once (no bin-replica dups)
    assert(got.distinct.length == got.length)
  }

  test("binnedRangeJoin plans an equi shuffle join, never a nested loop") {
    val s = graft.SparkTestBase.spark
    import s.implicits._
    val prev = s.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val pts = (1 to 500).map(i => (i.toLong, i * 7.0 % 100)).toDF("pid", "p")
      val iv = (1 to 200).map(i => (i.toLong, i * 1.0, i * 1.0 + 5))
        .toDF("iid", "lo", "hi")
      val plan = Joins.binnedRangeJoin(pts, "p", iv, "lo", "hi", 5.0)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin")
        && !plan.contains("CartesianProduct"),
        s"range join fell back to a nested loop:\n$plan")
      assert(plan.contains("SortMergeJoin")
        || plan.contains("ShuffledHashJoin"),
        s"expected an equi shuffle join on the bin key:\n$plan")
    } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("binnedIntervalJoin == naive overlap join; each pair meets once") {
    val s = graft.SparkTestBase.spark
    import s.implicits._
    // boundary-heavy intervals: bin-edge endpoints, single-point
    // intervals, a 3-bin span, touching-at-a-point overlaps, an
    // inverted interval
    val a = Seq((1L, 0.0, 10.0), (2L, 10.0, 10.0), (3L, 5.0, 34.0),
      (4L, 40.0, 45.0), (5L, 50.0, 20.0) /* inverted */)
      .toDF("aid", "lo_a", "hi_a")
    val b = Seq((10L, 10.0, 12.0), (20L, 30.0, 41.0), (30L, 46.0, 49.0),
      (40L, 0.0, 60.0)).toDF("bid", "lo_b", "hi_b")
    val got = Joins.binnedIntervalJoin(a, "lo_a", "hi_a",
        b, "lo_b", "hi_b", 10.0)
      .select("aid", "bid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    val want = a.crossJoin(b)
      .filter($"lo_a" <= $"hi_b" && $"lo_b" <= $"hi_a"
        && $"lo_a" <= $"hi_a" && $"lo_b" <= $"hi_b")
      .select("aid", "bid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(got.nonEmpty && got.sameElements(want))
    // the first-overlap-bin residual, not a distinct, dedups replicas
    assert(got.distinct.length == got.length)
    // and the plan stays an equi shuffle join with broadcast disabled
    val prev = s.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val big = (1 to 300).map(i => (i.toLong, i * 3.0, i * 3.0 + 7.0))
        .toDF("aid", "lo_a", "hi_a")
      val big2 = (1 to 300).map(i => (i.toLong, i * 2.0, i * 2.0 + 9.0))
        .toDF("bid", "lo_b", "hi_b")
      val plan = Joins.binnedIntervalJoin(big, "lo_a", "hi_a",
          big2, "lo_b", "hi_b", 8.0)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin")
        && !plan.contains("CartesianProduct"), plan)
    } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("binned joins fail fast on an interval spanning more bins than the cap") {
    val s = graft.SparkTestBase.spark
    import s.implicits._
    // An interval spanning ≫ maxBinsPerRow bins means binWidth was
    // mis-sized — the guard raises a sizing message instead of letting
    // `sequence` balloon the row (or die on the array-length cap).
    val pts = Seq((1L, 5.0)).toDF("pid", "p")
    val iv = Seq((1L, 0.0, 1e9)).toDF("iid", "lo", "hi")
    val e = intercept[Exception](
      Joins.binnedRangeJoin(pts, "p", iv, "lo", "hi",
        binWidth = 1.0, maxBinsPerRow = 100).count())
    def root(t: Throwable): Throwable =
      if (t.getCause == null) t else root(t.getCause)
    assert((e.getMessage + root(e).getMessage).contains("size binWidth"),
      e.getMessage)
    val a = Seq((1L, 0.0, 1e9)).toDF("aid", "lo_a", "hi_a")
    val b = Seq((2L, 3.0, 4.0)).toDF("bid", "lo_b", "hi_b")
    val e2 = intercept[Exception](
      Joins.binnedIntervalJoin(a, "lo_a", "hi_a", b, "lo_b", "hi_b",
        binWidth = 1.0, maxBinsPerRow = 100).count())
    assert((e2.getMessage + root(e2).getMessage).contains("size binWidth"),
      e2.getMessage)
    // in-cap intervals are untouched by the guard
    val ok = Joins.binnedRangeJoin(pts, "p",
      Seq((1L, 0.0, 50.0)).toDF("iid", "lo", "hi"), "lo", "hi",
      binWidth = 1.0, maxBinsPerRow = 100).count()
    assert(ok == 1L)
  }

  test("asofNearestJoin: closest right row either direction, ties backward") {
    val s = graft.SparkTestBase.spark
    import s.implicits._
    def ts(sec: Int) = new java.sql.Timestamp(sec * 1000L)
    // key 1 rights at t=10 and t=20; key 2 has none
    val right = Seq((1L, ts(10), 100L), (1L, ts(20), 200L))
      .toDF("k", "rts", "rid")
    val left = Seq(
      (1L, ts(8), "before-all"),     // only forward exists → 100
      (1L, ts(12), "nearer-bwd"),    // d(10)=2 < d(20)=8 → 100
      (1L, ts(15), "exact-tie"),     // d=5 both → backward → 100
      (1L, ts(16), "nearer-fwd"),    // d(20)=4 < d(10)=6 → 200
      (1L, ts(20), "simultaneous"),  // d=0 → 200
      (1L, ts(99), "after-all"),     // only backward-ish → 200
      (2L, ts(12), "no-rights")      // null payload
    ).toDF("k", "lts", "tag")
    val got = Joins.asofNearestJoin(left, right, Seq("k"),
      "lts", "rts", Seq("rid"))
      .select("tag", "rid_near").collect()
      .map(r => r.getString(0) ->
        (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(got == Map(
      "before-all" -> 100L, "nearer-bwd" -> 100L, "exact-tie" -> 100L,
      "nearer-fwd" -> 200L, "simultaneous" -> 200L, "after-all" -> 200L,
      "no-rights" -> -1L), got)
  }

  test("asofNearestJoin: simultaneous right rows resolve by the tie-break, both directions") {
    val s = graft.SparkTestBase.spark
    import s.implicits._
    def ts(sec: Int) = new java.sql.Timestamp(sec * 1000L)
    // two rights at the SAME instant: the tie-break MAX must win
    // whether matched from before or after
    val right = Seq((1L, ts(10), 7L), (1L, ts(10), 9L))
      .toDF("k", "rts", "rid")
    val left = Seq((1L, ts(5), "fwd"), (1L, ts(15), "bwd"))
      .toDF("k", "lts", "tag")
    val got = Joins.asofNearestJoin(left, right, Seq("k"),
      "lts", "rts", Seq("rid"), rightTieBreak = Some("rid"))
      .select("tag", "rid_near").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("fwd" -> 9L, "bwd" -> 9L), got)
  }

  test("asofNearestJoin allowExactMatches=false: boundary rows match pandas") {
    val s = graft.SparkTestBase.spark
    import s.implicits._
    // pandas merge_asof(direction='nearest', allow_exact_matches=False):
    // a right row AT the left ts is excluded from BOTH scans; the
    // winner is the nearest among STRICTLY earlier/later rights.
    val right = Seq((1L, 10L, 100L), (1L, 20L, 200L), (2L, 5L, 500L))
      .toDF("k", "rts", "rid")
    val left = Seq(
      (1L, 10L, "at-first"),   // 10 excluded → nearest is 20 → 200
      (1L, 20L, "at-second"),  // 20 excluded → nearest is 10 → 100
      (1L, 14L, "between"),    // no exclusion → d(10)=4 < d(20)=6 → 100
      (2L, 5L, "only-exact")   // its ONLY right is simultaneous → null
    ).toDF("k", "lts", "tag")
    val got = Joins.asofNearestJoin(left, right, Seq("k"),
      "lts", "rts", Seq("rid"), allowExactMatches = false)
      .select("tag", "rid_near").collect()
      .map(r => r.getString(0) ->
        (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(got == Map("at-first" -> 200L, "at-second" -> 100L,
      "between" -> 100L, "only-exact" -> -1L), got)
    // and with exact matches allowed the boundary rows flip back
    val loose = Joins.asofNearestJoin(left, right, Seq("k"),
      "lts", "rts", Seq("rid"))
      .select("tag", "rid_near").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(loose("at-first") == 100L && loose("at-second") == 200L &&
      loose("only-exact") == 500L, loose)
  }

  test("as-of joins fail loud on internal working-column collisions") {
    val s = graft.SparkTestBase.spark
    import s.implicits._
    val right = Seq((1L, 10L, 100L)).toDF("k", "ts", "payload")
    // a left frame already carrying `_payload` would previously be
    // silently overwritten by the join machinery — now a loud require
    val dirty = Seq((1L, 12L, "x")).toDF("k", "ts", "_payload")
    val e1 = intercept[IllegalArgumentException] {
      Joins.asofJoin(dirty, right, Seq("k"), "ts", "ts", Seq("payload"))
    }
    assert(e1.getMessage.contains("_payload"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Joins.asofNearestJoin(
        Seq((1L, 12L, "x")).toDF("k", "ts", "_fwd"),
        right, Seq("k"), "ts", "ts", Seq("payload"))
    }
    assert(e2.getMessage.contains("_fwd"), e2.getMessage)
    // output collision: a left column named like a suffixed payload
    val e3 = intercept[IllegalArgumentException] {
      Joins.asofJoin(
        Seq((1L, 12L, 9L)).toDF("k", "ts", "payload_asof"),
        right, Seq("k"), "ts", "ts", Seq("payload"))
    }
    assert(e3.getMessage.contains("payload_asof"), e3.getMessage)
    // binned joins guard their `_bin` working column the same way
    val e4 = intercept[IllegalArgumentException] {
      Joins.binnedRangeJoin(
        Seq((1.0, 1L)).toDF("p", "_bin"), "p",
        Seq((0.0, 2.0)).toDF("lo", "hi"), "lo", "hi", binWidth = 1.0)
    }
    assert(e4.getMessage.contains("_bin"), e4.getMessage)
  }

  test("as-of joins reject a non-numeric rightTieBreak instead of degrading") {
    val s = graft.SparkTestBase.spark
    import s.implicits._
    val left = Seq((1L, 12L)).toDF("k", "ts")
    val right = Seq((1L, 10L, 100L, "b"), (1L, 10L, 200L, "a"))
      .toDF("k", "ts", "payload", "name")
    // a string tie-break used to cast("long") to null — every tie
    // silently became arbitrary; now the type is rejected loud
    val e = intercept[IllegalArgumentException] {
      Joins.asofJoin(left, right, Seq("k"), "ts", "ts", Seq("payload"),
        rightTieBreak = Some("name"))
    }
    assert(e.getMessage.contains("name") &&
      e.getMessage.contains("string"), e.getMessage)
    // numeric, boolean, and timestamp keys all remain accepted
    val okNum = Joins.asofJoin(left, right, Seq("k"), "ts", "ts",
      Seq("payload"), rightTieBreak = Some("payload")).collect()
    assert(okNum.head.getAs[Long]("payload_asof") == 200L)
    val rightB = Seq((1L, 10L, 100L, false), (1L, 10L, 200L, true))
      .toDF("k", "ts", "payload", "flag")
    val okBool = Joins.asofJoin(left, rightB, Seq("k"), "ts", "ts",
      Seq("payload"), rightTieBreak = Some("flag")).collect()
    assert(okBool.head.getAs[Long]("payload_asof") == 200L)
  }
}
