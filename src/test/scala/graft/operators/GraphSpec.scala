package graft.operators

import scala.jdk.CollectionConverters._

import graft.SparkFunSuite
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Join, LogicalPlan, ResolvedHint}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** Graph.pageRank invariants on handcrafted graphs where the answer is
  * known analytically, the fail-fast dangling contract, and the layout
  * every loop derives from its edge index.
  */
class GraphSpec extends SparkFunSuite {

  val s = spark; import s.implicits._

  private val Scale = 1000000000000L

  /** One-shot weighted rank: materialize a weighted bucketed edge index
    * (with its positivity and dangling-node checks), then rank it. */
  private def pageRankWeighted(edges: org.apache.spark.sql.DataFrame,
      iters: Int, symmetrize: Boolean = false) =
    Graph.pageRankWeightedIndexed(spark,
      Graph.materializeEdges(edges, java.util.UUID.randomUUID().toString,
        symmetrize = symmetrize, weighted = true),
      iters)

  /** Analyzed plans of every query `body` runs, from a query-execution
    * listener: bfsHops and hits land their rounds on scratch files, so
    * their joins live only in the plans of those writes.
    */
  private def analyzedDuring(body: => Unit): Seq[LogicalPlan] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[LogicalPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.analyzed)
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try { body; drainListeners() }
    finally spark.listenerManager.unregister(listener)
    plans.asScala.toSeq
  }

  /** Whether a plan broadcasts a per-round side: a broadcast hint over a
    * relation keyed by `src` or `dst` (trustRank's seed-teleport table,
    * keyed by `node`, broadcasts at every layout).
    */
  private def broadcastsRoundSide(plans: Seq[LogicalPlan]): Boolean =
    plans.exists(_.exists {
      case h: ResolvedHint => h.hints.strategy.contains(BROADCAST) &&
        h.output.exists(a => a.name == "src" || a.name == "dst")
      case _ => false
    })

  test("symmetric cycle: all ranks equal and mass ≈ scale") {
    // 3-cycle a→b→c→a symmetrized: every node indistinguishable.
    val e0 = Seq((0L, 1L), (1L, 2L), (2L, 0L)).toDF("src", "dst")
    val und = e0.union(e0.select($"dst".as("src"), $"src".as("dst")))
    val r = Graph.pageRank(und, iters = 5).collect()
    assert(r.length == 3)
    val ranks = r.map(_.getLong(1)).toSet
    assert(ranks.size == 1, s"symmetric nodes must tie: $ranks")
    val mass = r.map(_.getLong(1)).sum
    // every iteration can floor away ≤3 micro-units per node (contrib
    // div, damping div, and the teleport base's own floor)
    assert(math.abs(mass - Scale) <= 5L * 3 * 3 + 3, s"mass drifted: $mass")
  }

  test("star: hub outranks spokes; spokes tie; exact fixed-point values") {
    // hub 0 ↔ spokes 1..3. hub deg 3, spokes deg 1.
    val e0 = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("src", "dst")
    val und = e0.union(e0.select($"dst".as("src"), $"src".as("dst")))
    val got = Graph.pageRank(und, iters = 5).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // replay the documented integer recurrence in plain Scala
    val n = 4L
    val r0 = Scale / n
    val base = (15L * r0) / 100L
    var rank = Map(0L -> r0, 1L -> r0, 2L -> r0, 3L -> r0)
    val deg = Map(0L -> 3L, 1L -> 1L, 2L -> 1L, 3L -> 1L)
    val edges = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 0L), (2L, 0L), (3L, 0L))
    for (_ <- 1 to 5) {
      val in = edges.groupBy(_._2).map { case (v, es) =>
        v -> es.map { case (u, _) => rank(u) / deg(u) }.sum
      }
      rank = rank.keys.map(v => v -> (base + (85L * in.getOrElse(v, 0L)) / 100L)).toMap
    }
    assert(got == rank, s"fixed-point mismatch: $got vs $rank")
    assert(got(0L) > got(1L), "hub must outrank spokes")
    assert(got(1L) == got(2L) && got(2L) == got(3L), "spokes must tie")
  }

  test("trustRank: seed-biased recurrence replayed; islands get none") {
    // star 0↔{1,2,3} plus island 10↔11; seed = hub 0
    val e0 = Seq((0L, 1L), (0L, 2L), (0L, 3L), (10L, 11L))
      .toDF("src", "dst")
    val und = e0.union(e0.select($"dst".as("src"), $"src".as("dst")))
    val idx = Graph.materializeEdges(und, "tr-spec", nodeCap = 100L)
    val got = Graph.trustRank(spark, idx, Seq(0L).toDF("node"), iters = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // replay the documented integer recurrence in plain Scala
    val r0 = Scale / 1L
    val base = (15L * r0) / 100L
    val deg = Map(0L -> 3L, 1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 1L, 11L -> 1L)
    val edges = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 0L), (2L, 0L),
      (3L, 0L), (10L, 11L), (11L, 10L))
    var rank = Map(0L -> r0)
    for (_ <- 1 to 5) {
      val in = edges.flatMap { case (u, v) =>
        rank.get(u).map(r => v -> r / deg(u))
      }.groupBy(_._1).map { case (v, xs) => v -> xs.map(_._2).sum }
      val nodes = in.keySet + 0L
      rank = nodes.map(v => v ->
        ((if (v == 0L) base else 0L) +
          (85L * in.getOrElse(v, 0L)) / 100L)).toMap
    }
    assert(got == rank, s"trust mismatch: $got vs $rank")
    assert(!got.contains(10L) && !got.contains(11L),
      "unreachable island must hold zero trust")
    assert(got(0L) > got(1L), "the seed holds the most trust")
  }

  test("pageRankWeighted: recurrence replayed; weights steer the flow") {
    // triangle 0-1-2 with one heavy edge (0-1 at w=900k vs 100k):
    // weighted ranks must differ from uniform ones, and node 2 (the
    // one weakly attached to both) must fall behind
    val e0 = Seq((0L, 1L, 900000L), (1L, 2L, 100000L), (0L, 2L, 100000L))
      .toDF("src", "dst", "w")
    val got = pageRankWeighted(e0, iters = 5, symmetrize = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // Scala replay of the documented integer recurrence
    val edges = Seq((0L, 1L, 900000L), (1L, 2L, 100000L),
      (0L, 2L, 100000L), (1L, 0L, 900000L), (2L, 1L, 100000L),
      (2L, 0L, 100000L))
    val ws = edges.groupBy(_._1).map { case (u, es) => u -> es.map(_._3).sum }
    val r0 = Scale / 3L
    val base = (15L * r0) / 100L
    var rank = Map(0L -> r0, 1L -> r0, 2L -> r0)
    for (_ <- 1 to 5) {
      val in = edges.groupBy(_._2).map { case (v, es) =>
        v -> es.map { case (u, _, w) => rank(u) * w / ws(u) }.sum
      }
      rank = in.map { case (v, s) => v -> (base + (85L * s) / 100L) }
    }
    assert(got == rank, s"weighted mismatch: $got vs $rank")
    assert(got(2L) < got(0L) && got(2L) < got(1L),
      "the weakly-linked node must rank last")
    // and it genuinely differs from the uniform split on this graph
    val uni = Graph.pageRank(e0.select("src", "dst"), iters = 5,
        symmetrize = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(uni(0L) == uni(1L) && uni(1L) == uni(2L),
      "uniform split ties the symmetric triangle")
    assert(got.values.toSet.size > 1, "weights must break the tie")
  }

  test("pageRankWeighted: guards reject nonpositive weights and overflow") {
    val e = Seq((0L, 1L, 0L)).toDF("src", "dst", "w")
    val err1 = intercept[IllegalArgumentException] {
      pageRankWeighted(e, iters = 1, symmetrize = true)
    }
    assert(err1.getMessage.contains("positive"))
    val big = Seq((0L, 1L, Long.MaxValue / 2)).toDF("src", "dst", "w")
    val err2 = intercept[IllegalArgumentException] {
      pageRankWeighted(big, iters = 1, symmetrize = true)
    }
    assert(err2.getMessage.contains("overflow"))
  }

  test("bfsHops: min-hop on a path, hop cap honored, islands unreached") {
    // path 0-1-2-3 plus island 10-11, symmetrized; seed {0}
    val e0 = Seq((0L, 1L), (1L, 2L), (2L, 3L), (10L, 11L))
      .toDF("src", "dst")
    val und = e0.union(e0.select($"dst".as("src"), $"src".as("dst")))
    val idx = Graph.materializeEdges(und, "bfs-spec", nodeCap = 100L)
    val seeds = Seq(0L).toDF("node")
    def hops(maxHops: Int) =
      Graph.bfsHops(spark, idx, seeds, maxHops).collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(hops(4) == Map(0L -> 0, 1L -> 1, 2L -> 2, 3L -> 3))
    // the cap cuts the walk, and the back-edge does NOT revisit node 0
    assert(hops(2) == Map(0L -> 0, 1L -> 1, 2L -> 2))
    // a seed outside the graph is dropped, not walked
    val stray = Seq(0L, 999L).toDF("node")
    assert(Graph.bfsHops(spark, idx, stray, 1).collect()
      .map(_.getLong(0)).toSet == Set(0L, 1L))
  }

  test("dangling node fails fast when validation is on") {
    // an unsymmetrized build validates
    val directed = Seq((0L, 1L)).toDF("src", "dst") // 1 has no out-edge
    val err = intercept[IllegalArgumentException] {
      Graph.pageRank(directed, iters = 1)
    }
    assert(err.getMessage.contains("out-edge"))
  }

  test("pageRankWeighted: dangling sink fails fast too (directed input)") {
    // the r14 ADVICE gap: the weighted one-shot used to stage its own
    // edges with no dangling check, silently dropping the sink's mass
    val directed = Seq((0L, 1L, 5L)).toDF("src", "dst", "w")
    val err = intercept[IllegalArgumentException] {
      pageRankWeighted(directed, iters = 1)
    }
    assert(err.getMessage.contains("out-edge"))
  }

  test("triangles: K4 counts and coefficients are analytic; stars have none") {
    // K4 ∪ a star center 10 with leaves 11..13: K4 has C(4,3)=4
    // triangles, each node in C(3,2)=3 of them, deg 3 → coeff
    // 2·3·1e6/(3·2) = 1e6 (a clique is maximally clustered); the star
    // is triangle-free and absent from the census.
    val k4 = for (a <- 0L to 3L; b <- 0L to 3L if a < b) yield (a, b)
    val star = Seq((10L, 11L), (10L, 12L), (10L, 13L))
    val idx = Graph.materializeEdges((k4 ++ star).toDF("src", "dst"),
      "tri-spec", symmetrize = true, nodeCap = 100L)
    val got = Graph.triangles(spark, idx).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got.keySet == Set(0L, 1L, 2L, 3L))
    got.values.foreach { case (tri, deg, coeff) =>
      assert(tri == 3L && deg == 3L && coeff == 1000000L)
    }
  }

  test("property: oriented triangle census == naive triple enumeration") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // random undirected graphs on ≤9 nodes: the degree-ordered
    // orientation must produce exactly the naive per-node triangle
    // counts on every draw — ties in degree, hubs, and disconnected
    // fragments included
    val edgeGen = for {
      n <- Gen.chooseNum(3, 9)
      all = for { a <- 0 until n; b <- a + 1 until n }
        yield (a.toLong, b.toLong)
      m <- Gen.chooseNum(2, all.size)
      pairs <- Gen.pick(m, all)
    } yield pairs.toSeq
    var draw = 0
    val prop = Prop.forAll(edgeGen) { pairs =>
      draw += 1
      val idx = Graph.materializeEdges(pairs.toDF("src", "dst"),
        s"tri-prop-$draw", symmetrize = true, nodeCap = 100L)
      val got = Graph.triangles(spark, idx).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val es = pairs.toSet
      def linked(a: Long, b: Long) = es.contains((a, b)) || es.contains((b, a))
      val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct.sorted
      val tris = for {
        a <- nodes; b <- nodes if a < b && linked(a, b)
        c <- nodes if b < c && linked(b, c) && linked(a, c)
      } yield (a, b, c)
      val want = tris.flatMap(t => Seq(t._1, t._2, t._3))
        .groupBy(identity).map { case (v, xs) => v -> xs.size.toLong }
      got == want
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  test("hits: recurrence replayed in Scala on a bipartite graph") {
    // hubs {1, 3}, authorities {0, 2}: 1→{0,2}, 3→{2}. Authority 2 is
    // endorsed by both hubs → top authority; hub 1 covers both
    // authorities → top hub.
    // the odd-source half of the symmetrized index is the input
    val idx = Graph.materializeEdges(
      Seq((1L, 0L), (1L, 2L), (3L, 2L)).toDF("src", "dst"), "hits-spec",
      symmetrize = true)
    val (hubDf, authDf) = Graph.hits(spark, idx, col("src") % 2 === 1,
      iters = 3)
    val hub = hubDf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val auth = authDf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // replay the documented integer recurrence
    val edges = Seq((1L, 0L), (1L, 2L), (3L, 2L))
    val scale = 1000000L
    var h = Map(1L -> scale, 3L -> scale)
    var a = Map.empty[Long, Long]
    for (_ <- 1 to 3) {
      val a0 = edges.groupBy(_._2).map { case (v, es) =>
        v -> es.map { case (u, _) => h(u) }.sum }
      val am = a0.values.max
      a = a0.map { case (v, x) => v -> (x * scale) / am }
      val h0 = edges.groupBy(_._1).map { case (u, es) =>
        u -> es.map { case (_, v) => a(v) }.sum }
      val hm = h0.values.max
      h = h0.map { case (u, x) => u -> (x * scale) / hm }
    }
    assert(hub == h, s"hubs $hub vs replay $h")
    assert(auth == a, s"authorities $auth vs replay $a")
    assert(hub(1L) == 1000000L && hub(1L) > hub(3L),
      "the two-authority hub must dominate")
    assert(auth(2L) == 1000000L && auth(2L) > auth(0L),
      "the doubly-endorsed authority must dominate")
  }

  test("hits: empty edge set fails loud, mirroring pageRank") {
    // Without the guard the max normalizer aggregates to a null row
    // and every score divides by zero. No edge passes the hub filter.
    val idx = Graph.materializeEdges(Seq((0L, 1L)).toDF("src", "dst"),
      "hits-empty", symmetrize = true)
    val e = intercept[IllegalArgumentException](
      Graph.hits(spark, idx, lit(false)))
    assert(e.getMessage.contains("empty edge set"))
  }

  test("nodeCap: layout choice is data-driven at build time") {
    val e0 = Seq((0L, 1L), (1L, 0L)).toDF("src", "dst")
    // 2 nodes ≤ cap → plain parquet (broadcastable regime)
    val small = Graph.materializeEdges(e0, "cap-small", nodeCap = 10L)
    assert(!small.bucketed)
    // 2 nodes > cap 1 → bucketed standing layout
    val big = Graph.materializeEdges(e0, "cap-big", nodeCap = 1L)
    assert(big.bucketed)
    // both produce identical ranks
    val a = Graph.pageRankIndexed(spark, small, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = Graph.pageRankIndexed(spark, big, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b)
  }

  test("bucketed build lands exactly one file per bucket, however the input splits") {
    // The standing-index compactness contract (SCALING.md r17): the
    // per-round task count of every rank loop rides files-per-bucket,
    // so the build must pin it to the bucket count — a write straight
    // off the staged join leaves files ∝ input partitions (measured
    // 10× the loop tasks at the sf1 probe on an identical table).
    // 500 sources fill all 32 buckets
    val e0 = spark.range(4000).selectExpr(
      "id % 500 AS src", "(id * 7) % 500 AS dst")
      .filter($"src" =!= $"dst")
      .repartition(13) // deliberately awkward input split
    val idx = Graph.materializeEdges(e0, "bucketfile-spec", symmetrize = true)
    assert(idx.bucketed)
    val loc = spark.sql(s"DESC FORMATTED ${idx.edgesRef}")
      .filter($"col_name" === "Location").head().getString(1)
    val dataFiles = new java.io.File(new java.net.URI(loc).getPath)
      .listFiles().filter(f => f.getName.endsWith(".parquet"))
    assert(dataFiles.length == 32,
      s"expected one file per bucket (32), got ${dataFiles.length}: " +
        dataFiles.map(_.getName).mkString(", "))
  }

  test("round sides broadcast iff the index is not bucketed; symmetric builds skip the node join") {
    // path 0-1-2-3 plus chord 1-3; odd sources are the hits hubs
    val e0 = Seq((0L, 1L), (1L, 2L), (2L, 3L), (1L, 3L)).toDF("src", "dst")
    val seeds = Seq(0L).toDF("node")
    for (cap <- Seq(0L, 100L)) {
      val idx = Graph.materializeEdges(e0, s"hint-$cap", symmetrize = true,
        nodeCap = cap)
      val widx = Graph.materializeEdges(e0.withColumn("w", lit(2L)),
        s"hint-w-$cap", symmetrize = true, weighted = true, nodeCap = cap)
      assert(idx.bucketed == (cap == 0L) && widx.bucketed == idx.bucketed)
      val loops: Seq[(String, () => Unit)] = Seq(
        "pageRankIndexed" -> (() => Graph.pageRankIndexed(spark, idx, 2).collect()),
        "pageRankWeightedIndexed" ->
          (() => Graph.pageRankWeightedIndexed(spark, widx, 2).collect()),
        "trustRank" -> (() => Graph.trustRank(spark, idx, seeds, 2).collect()),
        "bfsHops" -> (() => Graph.bfsHops(spark, idx, seeds, 2).collect()),
        "hits" -> { () =>
          val (hub, auth) = Graph.hits(spark, idx, col("src") % 2 === 1, 2)
          hub.collect(); auth.collect()
        })
      loops.foreach { case (name, run) =>
        assert(broadcastsRoundSide(analyzedDuring(run())) == !idx.bucketed,
          s"$name over nodeCap $cap (bucketed = ${idx.bucketed})")
      }
    }
    // a symmetrized index certifies in-degree ≥ 1: one join per round;
    // the same edges built unsymmetrized add the node re-add join
    val und = e0.union(e0.select($"dst".as("src"), $"src".as("dst")))
    def joins(idx: Graph.EdgeIndex) = Graph.pageRankIndexed(spark, idx, 3)
      .queryExecution.analyzed.collect { case j: Join => j }.size
    assert(joins(Graph.materializeEdges(e0, "join-sym", symmetrize = true)) == 3)
    assert(joins(Graph.materializeEdges(und, "join-dir")) == 6)
  }
}
