package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Graph
import graft.sources.{ArtifactRegistry, Sources}
import graft.sources.ArtifactRegistry.Kind

/** Graph-analytics queries (SURVEY.md §2B — joins/iterative category):
  * link-analysis ranking over graphs derived from the relational
  * tables. Complements DedupQueries' `d_components` (structural
  * clustering) with NUMERIC iterative graph computation.
  */
object GraphQueries {

  private def t(s: SparkSession, dir: String, name: String) =
    Sources.table(s, dir, name)

  /** PageRank iterations — small and fixed so the DuckDB oracle can
    * replay each round as a chained CTE.
    */
  private val PrIters = 5

  /** |V| cap under which the per-round rank table is BROADCAST
    * instead of shuffled into the bucketed edge layout. The
    * part∪supplier node set is a catalog vocabulary, but catalog
    * vocabularies still grow linearly with SF (200k·SF parts), so an
    * unconditional broadcast would eventually hit the driver-memory /
    * 8 GB broadcast wall — the layout choice is therefore DATA-DRIVEN
    * at index-build time (materializeEdges' `nodeCap`): ≤ 2M
    * nodes (~32 MB of (node, r) rows) broadcast comfortably; above
    * that the standing bucketed layout takes over and each round
    * exchanges only the |V| rank rows.
    */
  private val BroadcastNodeCap = 2000000L

  /** The part–supplier edge index, materialized once per JVM per
    * dataset dir (the standing-index convention: the build is a
    * one-time cost, so the bench's min-of-2 reports the warm SEARCH
    * path — the 5 rank iterations — exactly as production amortizes
    * one graph build across rank/parameter reruns).
    */
  private val EdgeIndex = new Kind[Graph.EdgeIndex]("g_pagerank edge index")
  private def builtEdgeIndex(s: SparkSession, dir: String): Graph.EdgeIndex =
    ArtifactRegistry(EdgeIndex, dir) {
      val e0 = t(s, dir, "lineitem")
        .select((col("l_partkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
        .distinct()
      // Parity split makes the reverse set disjoint from the forward
      // set, so plain unionAll symmetrizes without a dedup pass; every
      // node gains an out-edge, satisfying the no-dangling contract
      // (validation skipped — true by construction).
      Graph.materializeEdges(e0, dir, symmetrize = true,
        nodeCap = BroadcastNodeCap)
    }

  /** The DOCUMENT near-dup edge indexes (uniform and weighted), built
    * once per JVM per dataset dir like the co-sourcing graph above:
    * the minhash pair pipeline is by far the expensive half, and both
    * rank queries re-run across bench repetitions / parameter sweeps
    * against the same standing bucketed edges. Corpus-derived |V| —
    * no broadcast assumption, always the bucketed layout.
    */
  private val DocIndex = new Kind[Graph.EdgeIndex]("g_doc_rank doc-edge index")
  // the d_minhash pair relation is staged once per JVM per dataset in
  // DedupQueries.stagedMinhashPairs and shared with the per-source
  // audit; both index builds read that file
  private def builtDocIndex(s: SparkSession, dir: String,
      weighted: Boolean): Graph.EdgeIndex =
    ArtifactRegistry(DocIndex, dir, if (weighted) "weighted" else "uniform") {
      val pairs0 = s.read.parquet(DedupQueries.stagedMinhashPairs(s, dir))
      val pairs =
        if (weighted) pairs0.select(col("id_a").as("src"),
          col("id_b").as("dst"),
          round(col("jac") * 1000000).cast("long").as("w"))
        else pairs0.select(col("id_a").as("src"), col("id_b").as("dst"))
      // symmetrize INSIDE the build: the reverse direction derives
      // from the staged copy, so the pair relation reads once
      Graph.materializeEdges(pairs,
        s"doc${if (weighted) "w" else ""}:$dir",
        symmetrize = true, weighted = weighted)
    }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // PageRank over the part–supplier co-sourcing graph: nodes are
    // parts (even ids: partkey·2) and suppliers (odd ids:
    // suppkey·2+1); an undirected edge links a part to every supplier
    // that shipped it (distinct lineitem pairs, symmetrized). The
    // ranking surfaces the suppliers whose catalog spans many
    // well-connected parts — the same link-analysis centrality a
    // web-corpus curation pipeline computes over page/domain graphs
    // before sampling. Integer fixed-point arithmetic end to end
    // (Graph.pageRank scaladoc), so every rank hash-matches the
    // oracle's 5-round CTE replay. Top-100 keeps the output bounded
    // at every SF while the rank computation itself touches the whole
    // graph.
    "g_pagerank" -> ((s, dir) => {
      // The rank side rides the index's DATA-DRIVEN layout choice
      // (BroadcastNodeCap): below the cap the rank vector broadcasts
      // and each iteration's only shuffle is the |V|-bounded
      // partial-agg exchange; above it the standing bucketed edges
      // absorb the join and only the rank rows exchange. Symmetry
      // gives every node an in-edge, so the per-round zero-in-degree
      // re-add join is skipped too.
      Graph.pageRankIndexed(s, builtEdgeIndex(s, dir), iters = PrIters)
        .select(
          kindOf(col("node")).as("kind"),
          expr("node div 2").as("key"),
          col("r").as("rank_e12"))
        .orderBy(col("rank_e12").desc, col("kind"), col("key"))
        .limit(100)
    }),

    // TrustRank: trust mass originates at the five lowest-keyed
    // suppliers and decays outward through damped propagation over the
    // same co-sourcing graph — the propagation half of the seed prior
    // whose census half is g_bfs. Same fixed-point integer arithmetic
    // as g_pagerank (Graph.trustRank scaladoc); the oracle replays all
    // 5 rounds, seed-biased teleport included, as chained CTEs.
    "g_trustrank" -> ((s, dir) => {
      val idx = builtEdgeIndex(s, dir)
      val seeds = idx.nodes(s)
        .filter(col("node").isin(1L, 3L, 5L, 7L, 9L)).select("node")
      Graph.trustRank(s, idx, seeds, iters = PrIters)
        .select(kindOf(col("node")).as("kind"),
          expr("node div 2").as("key"),
          col("r").as("trust_e12"))
        .orderBy(col("trust_e12").desc, col("kind"), col("key"))
        .limit(50)
    }),

    // PageRank over the DOCUMENT near-dup graph: nodes are documents,
    // edges the oracle-checked d_minhash pairs (jac ≥ 0.5) symmetrized
    // — dedup-cluster CENTRALITY, the principled alternative to min-id
    // when choosing which duplicate to keep (the most-connected copy
    // is the best-attested text). Corpus-derived |V|, so this query
    // exercises pageRank's DEFAULT layout: bucketed standing edges,
    // per-round joins shuffle only the rank rows — no broadcast
    // assumption anywhere. The oracle chains the full minhash pipeline
    // into the 3-round integer rank replay.
    "g_doc_rank" -> ((s, dir) => {
      Graph.pageRankIndexed(s, builtDocIndex(s, dir, weighted = false),
        iters = DocRankIters)
        .select(col("node").as("doc_id"), col("r").as("rank_e12"))
        .orderBy(col("rank_e12").desc, col("doc_id"))
    }),

    // WEIGHTED PageRank over the same document near-dup graph: edge
    // weight = the pair's Jaccard in micro-units, so centrality flows
    // preferentially along STRONGER duplicate links — g_doc_rank's
    // uniform split treats a 0.5 and a 0.99 duplicate alike, this
    // variant doesn't (the difference is the point; values diverge
    // from g_doc_rank wherever a node's edge weights differ).
    // Integer end to end: contrib = (r·w) div Σw with the scale·maxW
    // overflow guard (Graph.pageRankWeightedIndexed scaladoc). Same
    // standing BUCKETED per-JVM index discipline as g_doc_rank — the
    // weighted |E| table is written once and never re-exchanged; each
    // round shuffles only the |V| rank rows (the r14 perf-weak flag,
    // closed). The oracle chains the minhash pipeline into the
    // weighted 3-round replay.
    "g_rank_weighted" -> ((s, dir) => {
      Graph.pageRankWeightedIndexed(s,
        builtDocIndex(s, dir, weighted = true), iters = DocRankIters)
        .select(col("node").as("doc_id"), col("r").as("rank_e12"))
        .orderBy(col("rank_e12").desc, col("doc_id"))
    }),

    // HITS hubs & authorities (Kleinberg 1999, "Authoritative sources
    // in a hyperlinked environment") over the BIPARTITE co-sourcing
    // graph — its canonical setting: suppliers are hubs (good hubs
    // ship many good parts), parts are authorities (good parts are
    // shipped by good hubs), the mutual-reinforcement recurrence
    //   a(p) = Σ h(s),  h(s) = Σ a(p)
    // run 3 rounds with MAX-normalization each half-step — integer
    // fixed-point in 1e6 units (a max-norm is one 1-row agg broadcast
    // + a trunc division of non-negative longs, where the textbook
    // L2 norm would need engine-divergent sqrt), so every score
    // hash-matches the oracle's chained-CTE replay. Shapes: each
    // half-round is one join + one map-combined sum + a 1-row max —
    // the pageRank execution shape with a normalization join instead
    // of a teleport; rides the standing co-sourcing edge index.
    "g_hits" -> ((s, dir) => {
      // directed supplier→part half of the symmetrized edge table
      val (hub, auth) = Graph.hits(s, builtEdgeIndex(s, dir),
        col("src") % 2 === 1, iters = 3)
      auth.select(lit("part").as("kind"), expr("dst div 2").as("key"),
          col("a").as("score_e6"))
        .unionByName(hub.select(lit("supplier").as("kind"),
          expr("src div 2").as("key"), col("h").as("score_e6")))
        .orderBy(col("score_e6").desc, col("kind"), col("key"))
        .limit(50)
    }),

    // TRIANGLE counting + local clustering coefficient over the
    // document near-dup graph — the cohesion diagnostic of a dedup
    // pipeline: a triangle-rich neighborhood is a genuine duplicate
    // CLUSTER (every member vouches for every other), while a
    // triangle-free star around one doc is the signature of a template
    // / boilerplate hub that banding glued together. Algorithm is the
    // degree-ordered orientation standard (each undirected edge
    // oriented from its (deg, id)-smaller endpoint): wedge work is
    // bounded by arboricity instead of max degree — a hub of degree d
    // generates ZERO wedges from its own adjacency unless its
    // neighbors out-rank it, the difference between Σdeg² and the
    // O(|E|^1.5) the orientation guarantees. One wedge self-join plus
    // one closing equi-join, all on the standing per-JVM edge index;
    // coefficient stays rational micro-units (2·tri·1e6 div d(d−1)) —
    // integer-exact, hash-checkable. Oracle replays orientation,
    // wedge, close, and membership explode in SQL over the shared
    // minhash CTEs.
    "g_triangles" -> ((s, dir) =>
      Graph.triangles(s, builtDocIndex(s, dir, weighted = false))
        .select(col("node").as("doc_id"), col("tri"), col("deg"),
          col("coeff_e6"))
        .orderBy(col("tri").desc, col("doc_id"))),

    // LINK PREDICTION by resource allocation (Zhou, Lü, Zhang 2009,
    // "Predicting missing links via local information") over the
    // BIPARTITE co-sourcing graph: part pairs are never directly
    // linked, so every part–part affinity is a PREDICTED link scored
    // through shared suppliers — Σ over shared z of 1e6 div deg(z),
    // the item–item collaborative-filtering primitive (a supplier
    // shipping few parts is strong evidence of relatedness, a
    // catalog-spanning hub is weak). RA's degree damping is RATIONAL
    // (no libm log, the Adamic-Adar alternative the lift/t_dsir
    // precedent rules out), so scores are integer-exact. Scale shape:
    // the wedge self-join through the supplier is the quadratic
    // hazard, bounded here the winnow-df way — endpoints restricted
    // to a catalog slice (p_size = 1, a broadcast dim filter) so
    // per-supplier wedge fan-out is the SLICE's density, not the full
    // catalog's; supplier degree stays the FULL catalog degree (the
    // RA semantics). All legs ride the standing co-sourcing index.
    "g_predict" -> ((s, dir) => {
      val idx = builtEdgeIndex(s, dir)
      // supplier-centered rows of the symmetrized edge table: src odd
      // (suppliers), dst even (parts), deg = the supplier's full
      // distinct-part degree
      val ed = idx.edges(s).select("src", "dst", "deg")
        .filter(col("src") % 2 === 1)
      val slice = broadcast(t(s, dir, "part")
        .filter(col("p_size") === 1)
        .select((col("p_partkey") * 2).as("dst")))
      val hub = ed.join(slice, "dst")
      val ra = hub.as("e1").join(hub.as("e2"),
          col("e1.src") === col("e2.src") &&
            col("e1.dst") < col("e2.dst"))
        .select(col("e1.dst").as("x"), col("e2.dst").as("y"),
          col("e1.deg").as("zdeg"))
      ra.groupBy("x", "y")
        .agg(count(lit(1)).as("common"),
          sum(expr("1000000 div zdeg")).as("ra_e6"))
        .select(expr("x div 2").as("part_a"), expr("y div 2").as("part_b"),
          col("common"), col("ra_e6"))
        .orderBy(col("ra_e6").desc, col("part_a"), col("part_b"))
        .limit(50)
    }),

    // Multi-source BFS hop census from a trusted-seed set — the
    // TrustRank-style seed-proximity prior (Graph.bfsHops scaladoc):
    // how far is every part/supplier from the five lowest-keyed
    // suppliers over the same co-sourcing graph? Reuses the standing
    // edge index; 4 frontier rounds (the bipartite graph alternates
    // kinds per hop), unreached nodes reported at hop −1 via a node
    // census left-join. Output is the (kind, hop) histogram — a dozen
    // rows at every SF while the walk touches the whole graph.
    "g_bfs" -> ((s, dir) => {
      val idx = builtEdgeIndex(s, dir)
      val seeds = idx.nodes(s)
        .filter(col("node").isin(1L, 3L, 5L, 7L, 9L)).select("node")
      val d = Graph.bfsHops(s, idx, seeds, maxHops = 4)
      idx.nodes(s).select("node")
        .join(d, Seq("node"), "left")
        .select(kindOf(col("node")).as("kind"),
          coalesce(col("hop"), lit(-1)).as("hop"))
        .groupBy("kind", "hop").agg(count(lit(1)).as("n"))
        .orderBy("kind", "hop")
    }),
  )

  private def kindOf(node: org.apache.spark.sql.Column) =
    when(node % 2 === 0, lit("part")).otherwise(lit("supplier"))

  /** Shared oracle CTEs over any `und(src, dst)` edge relation:
    * deg/ed/params plus the uniform-teleport rounds rt0..rtN — the
    * exact integer recurrence of [[Graph.pageRankIndexed]].
    */
  private def prChainSql(iters: Int): String = {
    val head =
      """deg AS (SELECT src AS node, count(*) AS deg FROM und GROUP BY 1),
        |ed AS (SELECT u.src, u.dst, d.deg
        |  FROM und u JOIN deg d ON u.src = d.node),
        |params AS (SELECT 1000000000000 // count(*) AS r0,
        |    (15 * (1000000000000 // count(*))) // 100 AS base FROM deg),
        |rt0 AS (SELECT node, (SELECT r0 FROM params) AS r FROM deg)"""
        .stripMargin
    val rounds = (1 to iters).map { i =>
      s"""rt$i AS (SELECT n.node,
         |    (SELECT base FROM params) + (85 * coalesce(s.sc, 0)) // 100 AS r
         |  FROM deg n LEFT JOIN (
         |    SELECT e.dst AS node, sum(p.r // e.deg) AS sc
         |    FROM ed e JOIN rt${i - 1} p ON e.src = p.node GROUP BY 1) s
         |  ON n.node = s.node)""".stripMargin
    }
    (head +: rounds).mkString(",\n")
  }

  private def prOracle(iters: Int): String = {
    val head =
      """WITH e0 AS (SELECT DISTINCT l_partkey * 2 AS src,
        |    l_suppkey * 2 + 1 AS dst FROM lineitem),
        |und AS (SELECT src, dst FROM e0
        |  UNION ALL SELECT dst AS src, src AS dst FROM e0)"""
        .stripMargin
    val tail =
      s"""SELECT CASE WHEN node % 2 = 0 THEN 'part' ELSE 'supplier' END
         |    AS kind,
         |  node // 2 AS key, CAST(r AS BIGINT) AS rank_e12
         |FROM rt$iters
         |ORDER BY rank_e12 DESC, kind, key LIMIT 100""".stripMargin
    head + ",\n" + prChainSql(iters) + "\n" + tail
  }

  /** Rank iterations for the document near-dup graph — 3 keeps the
    * oracle's chained-CTE replay over the minhash pipeline compact.
    */
  private val DocRankIters = 3

  private def docRankOracle: String = {
    val head =
      s"""WITH ${DedupQueries.minhashPairCtes},
         |pe AS (SELECT j.id_a AS src, j.id_b AS dst
         |  FROM jac j JOIN cand USING (id_a, id_b) WHERE j.jac >= 0.5),
         |und AS (SELECT src, dst FROM pe
         |  UNION ALL SELECT dst AS src, src AS dst FROM pe)""".stripMargin
    val tail =
      s"""SELECT node AS doc_id, CAST(r AS BIGINT) AS rank_e12
         |FROM rt$DocRankIters
         |ORDER BY rank_e12 DESC, doc_id""".stripMargin
    head + ",\n" + prChainSql(DocRankIters) + "\n" + tail
  }

  private val bfsOracle: String = {
    val head =
      """WITH e0 AS (SELECT DISTINCT l_partkey * 2 AS src,
        |    l_suppkey * 2 + 1 AS dst FROM lineitem),
        |und AS (SELECT src, dst FROM e0
        |  UNION ALL SELECT dst AS src, src AS dst FROM e0),
        |nodes AS (SELECT DISTINCT src AS node FROM und),
        |h0 AS (SELECT node FROM nodes WHERE node IN (1, 3, 5, 7, 9)),
        |v0 AS (SELECT node FROM h0)""".stripMargin
    val rounds = (1 to 4).map { i =>
      s"""h$i AS (SELECT DISTINCT e.dst AS node
         |  FROM und e JOIN h${i - 1} f ON e.src = f.node
         |  WHERE e.dst NOT IN (SELECT node FROM v${i - 1})),
         |v$i AS (SELECT node FROM v${i - 1}
         |  UNION ALL SELECT node FROM h$i)""".stripMargin
    }
    val tail =
      """dist AS (
        |  SELECT node, 0 AS hop FROM h0
        |  UNION ALL SELECT node, 1 FROM h1
        |  UNION ALL SELECT node, 2 FROM h2
        |  UNION ALL SELECT node, 3 FROM h3
        |  UNION ALL SELECT node, 4 FROM h4),
        |census AS (SELECT n.node, coalesce(d.hop, -1) AS hop
        |  FROM nodes n LEFT JOIN dist d ON n.node = d.node)
        |SELECT CASE WHEN node % 2 = 0 THEN 'part' ELSE 'supplier' END
        |    AS kind,
        |  hop, count(*) AS n
        |FROM census GROUP BY 1, 2 ORDER BY kind, hop""".stripMargin
    (head +: rounds).mkString(",\n") + ",\n" + tail
  }

  private def trOracle(iters: Int): String = {
    val head =
      """WITH e0 AS (SELECT DISTINCT l_partkey * 2 AS src,
        |    l_suppkey * 2 + 1 AS dst FROM lineitem),
        |und AS (SELECT src, dst FROM e0
        |  UNION ALL SELECT dst AS src, src AS dst FROM e0),
        |deg AS (SELECT src AS node, count(*) AS deg FROM und GROUP BY 1),
        |ed AS (SELECT u.src, u.dst, d.deg
        |  FROM und u JOIN deg d ON u.src = d.node),
        |seeds AS (SELECT node FROM deg WHERE node IN (1, 3, 5, 7, 9)),
        |params AS (SELECT count(*) AS ns FROM seeds),
        |rt0 AS (SELECT node,
        |    (SELECT 1000000000000 // ns FROM params) AS r FROM seeds)"""
        .stripMargin
    val rounds = (1 to iters).map { i =>
      s"""rt$i AS (SELECT coalesce(s.node, b.node) AS node,
         |    CASE WHEN b.node IS NOT NULL THEN
         |      (SELECT (15 * (1000000000000 // ns)) // 100 FROM params)
         |    ELSE 0 END + coalesce(s.dr, 0) AS r
         |  FROM (
         |    SELECT e.dst AS node, (85 * sum(p.r // e.deg)) // 100 AS dr
         |    FROM ed e JOIN rt${i - 1} p ON e.src = p.node GROUP BY 1) s
         |  FULL JOIN seeds b ON s.node = b.node)""".stripMargin
    }
    val tail =
      s"""SELECT CASE WHEN node % 2 = 0 THEN 'part' ELSE 'supplier' END
         |    AS kind,
         |  node // 2 AS key, CAST(r AS BIGINT) AS trust_e12
         |FROM rt$iters
         |ORDER BY trust_e12 DESC, kind, key LIMIT 50""".stripMargin
    (head +: rounds).mkString(",\n") + "\n" + tail
  }

  /** Shared oracle prefix for the doc near-dup graph queries: the
    * minhash pipeline → ordered pairs `pe` → symmetric `und` → `deg`.
    */
  private def docGraphCtes: String =
    s"""${DedupQueries.minhashPairCtes},
       |pe AS (SELECT j.id_a AS src, j.id_b AS dst
       |  FROM jac j JOIN cand USING (id_a, id_b) WHERE j.jac >= 0.5),
       |und AS (SELECT src, dst FROM pe
       |  UNION ALL SELECT dst AS src, src AS dst FROM pe),
       |deg AS (SELECT src AS node, count(*) AS deg FROM und GROUP BY 1)"""
      .stripMargin

  private def hitsOracle: String = {
    val head =
      """WITH e0 AS (SELECT DISTINCT l_suppkey AS s, l_partkey AS p
        |  FROM lineitem),
        |h0 AS (SELECT DISTINCT s, 1000000 AS h FROM e0)""".stripMargin
    val rounds = (1 to 3).map { i =>
      s"""a${i}r AS (SELECT e.p, sum(h.h) AS a0
         |  FROM e0 e JOIN h${i - 1} h USING (s) GROUP BY 1),
         |a$i AS (SELECT p, CAST((a0 * 1000000)
         |    // (SELECT max(a0) FROM a${i}r) AS BIGINT) AS a
         |  FROM a${i}r),
         |h${i}r AS (SELECT e.s, sum(a.a) AS hh
         |  FROM e0 e JOIN a$i a USING (p) GROUP BY 1),
         |h$i AS (SELECT s, CAST((hh * 1000000)
         |    // (SELECT max(hh) FROM h${i}r) AS BIGINT) AS h
         |  FROM h${i}r)""".stripMargin
    }
    val tail =
      """SELECT kind, key, score_e6 FROM (
        |  SELECT 'part' AS kind, p AS key, a AS score_e6 FROM a3
        |  UNION ALL
        |  SELECT 'supplier' AS kind, s AS key, h AS score_e6 FROM h3)
        |ORDER BY score_e6 DESC, kind, key LIMIT 50""".stripMargin
    (head +: rounds).mkString(",\n") + "\n" + tail
  }

  private def trianglesOracle: String =
    s"""WITH $docGraphCtes,
       |ore AS (SELECT u.src, u.dst, dd.deg AS ddeg
       |  FROM und u JOIN deg ds ON u.src = ds.node
       |  JOIN deg dd ON u.dst = dd.node
       |  WHERE ds.deg < dd.deg OR (ds.deg = dd.deg AND u.src < u.dst)),
       |tri AS (SELECT e1.src AS u, e1.dst AS v, e2.dst AS w
       |  FROM ore e1 JOIN ore e2 ON e1.src = e2.src
       |    AND (e1.ddeg < e2.ddeg
       |      OR (e1.ddeg = e2.ddeg AND e1.dst < e2.dst))
       |  JOIN ore e3 ON e3.src = e1.dst AND e3.dst = e2.dst),
       |mem AS (SELECT u AS node FROM tri
       |  UNION ALL SELECT v FROM tri UNION ALL SELECT w FROM tri),
       |cnt AS (SELECT node, count(*) AS tri FROM mem GROUP BY 1)
       |SELECT c.node AS doc_id, c.tri, d.deg,
       |  CAST((2 * c.tri * 1000000) // (d.deg * (d.deg - 1)) AS BIGINT)
       |    AS coeff_e6
       |FROM cnt c JOIN deg d ON c.node = d.node
       |ORDER BY tri DESC, doc_id""".stripMargin

  private def predictOracle: String =
    """WITH e0 AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s
      |  FROM lineitem),
      |deg AS (SELECT s, count(*) AS deg FROM e0 GROUP BY 1),
      |flt AS (SELECT e.p, e.s, d.deg
      |  FROM e0 e JOIN deg d USING (s)
      |  JOIN part pt ON pt.p_partkey = e.p WHERE pt.p_size = 1),
      |ra AS (SELECT e1.p AS x, e2.p AS y, e1.deg AS zdeg
      |  FROM flt e1 JOIN flt e2 ON e1.s = e2.s AND e1.p < e2.p),
      |sc AS (SELECT x, y, count(*) AS common,
      |    CAST(sum(1000000 // zdeg) AS BIGINT) AS ra_e6
      |  FROM ra GROUP BY 1, 2)
      |SELECT x AS part_a, y AS part_b, common, ra_e6
      |FROM sc ORDER BY ra_e6 DESC, part_a, part_b LIMIT 50""".stripMargin

  private def rankWeightedOracle: String = {
    val head =
      s"""WITH ${DedupQueries.minhashPairCtes},
         |pe AS (SELECT j.id_a AS src, j.id_b AS dst,
         |    CAST(round(j.jac * 1000000) AS BIGINT) AS w
         |  FROM jac j JOIN cand USING (id_a, id_b) WHERE j.jac >= 0.5),
         |und AS (SELECT src, dst, w FROM pe
         |  UNION ALL SELECT dst AS src, src AS dst, w FROM pe),
         |wsum AS (SELECT src AS node, sum(w) AS ws FROM und GROUP BY 1),
         |ed AS (SELECT u.src, u.dst, u.w, s.ws
         |  FROM und u JOIN wsum s ON u.src = s.node),
         |params AS (SELECT 1000000000000 // count(*) AS r0,
         |    (15 * (1000000000000 // count(*))) // 100 AS base FROM wsum),
         |rt0 AS (SELECT node, (SELECT r0 FROM params) AS r FROM wsum)"""
        .stripMargin
    val rounds = (1 to DocRankIters).map { i =>
      s"""rt$i AS (SELECT n.node,
         |    (SELECT base FROM params) + (85 * coalesce(s.sc, 0)) // 100 AS r
         |  FROM wsum n LEFT JOIN (
         |    SELECT e.dst AS node, sum((p.r * e.w) // e.ws) AS sc
         |    FROM ed e JOIN rt${i - 1} p ON e.src = p.node GROUP BY 1) s
         |  ON n.node = s.node)""".stripMargin
    }
    val tail =
      s"""SELECT node AS doc_id, CAST(r AS BIGINT) AS rank_e12
         |FROM rt$DocRankIters
         |ORDER BY rank_e12 DESC, doc_id""".stripMargin
    (head +: rounds).mkString(",\n") + "\n" + tail
  }

  val oracles: Map[String, String] = Map(
    "g_pagerank" -> prOracle(PrIters),
    "g_bfs" -> bfsOracle,
    "g_trustrank" -> trOracle(PrIters),
    "g_doc_rank" -> docRankOracle,
    "g_rank_weighted" -> rankWeightedOracle,
    "g_triangles" -> trianglesOracle,
    "g_predict" -> predictOracle,
    "g_hits" -> hitsOracle,
  )
}
