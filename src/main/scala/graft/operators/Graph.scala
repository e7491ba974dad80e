package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iterative graph analytics over edge-list DataFrames — the numeric
  * complement to [[Dedup.connectedComponents]]' structural clustering.
  *
  * PageRank (Page, Brin, Motwani, Winograd 1999, "The PageRank
  * citation ranking") here drives DATA-CURATION weighting: rank the
  * nodes of a similarity / co-occurrence graph (documents sharing
  * near-dup clusters, parts co-sourced with suppliers, pages linking
  * pages) so sampling can favor central, well-connected items — the
  * link-analysis quality prior web-corpus pipelines apply before
  * training.
  *
  * Arithmetic is FIXED-POINT INTEGER end to end: ranks are micro-units
  * of `Scale` (1e12), every division is a trunc division of
  * non-negative longs, and every per-node update is a sum of exact
  * integers — no float appears anywhere, so the result is
  * bit-reproducible across engines and partitionings (float summation
  * order would otherwise make a hash-checked oracle impossible). The
  * floor steps drop ≤3 micro-units of mass per node per iteration —
  * deterministic, documented, and irrelevant at 1e12 scale.
  *
  * Every loop takes its layout from the [[EdgeIndex]] it runs over:
  * the per-round rank/frontier/score side is broadcast iff the index
  * is not bucketed, and a symmetrized index certifies in-degree ≥ 1
  * everywhere. Every loop runs exactly its `iters`/`maxHops` rounds —
  * 3 to 5 at every caller.
  */
object Graph {

  /** Fixed-point unit of the rank loops (the oracle SQL's 1e12). */
  private val Scale = 1000000000000L

  /** Fixed-point unit of [[hits]] (the oracle SQL's 1e6): small enough
    * that Σ-then-rescale stays far from long overflow at any degree.
    */
  private val HitsScale = 1000000L

  /** Bucket count of the bucketed layout, and the file fan-out of the
    * plain-parquet one.
    */
  private val Buckets = 32

  /** Handle to a materialized loop relation: the degree-denormalized
    * edge table (a parquet path, or a bucketed catalog table when
    * `bucketed`) and the (node, deg[, ws]) parquet. Strings, not
    * DataFrames, so a per-JVM registry can hand the standing artifact
    * to later sessions/queries — the same contract as the persisted
    * IVF/IVFPQ index paths.
    *
    * `symmetric` records a `symmetrize = true` build: every node then
    * has in-degree ≥ 1, which the rank loops rely on to skip their
    * zero-in-degree re-add join.
    *
    * `weighted` indexes additionally denormalize the per-source weight
    * sum `ws` onto the edge rows and carry `maxW`, the build-measured
    * weight ceiling the rank-time overflow guard checks against
    * (Scale·maxW must fit a long — rank·weight products appear in the
    * weighted recurrence).
    */
  final case class EdgeIndex(edgesRef: String, nodesPath: String,
      bucketed: Boolean, symmetric: Boolean, weighted: Boolean, maxW: Long) {
    def edges(spark: SparkSession): DataFrame =
      if (bucketed) spark.table(edgesRef) else spark.read.parquet(edgesRef)
    def nodes(spark: SparkSession): DataFrame =
      spark.read.parquet(nodesPath)
  }

  /** The per-round side a loop joins against the standing edges:
    * broadcast over a plain-parquet index (its |V| is under the build's
    * node cap), shuffled into the bucket layout otherwise.
    */
  private def roundSide(idx: EdgeIndex, side: DataFrame): DataFrame =
    if (idx.bucketed) side else broadcast(side)

  /** Materialize the loop-INVARIANT relation the iterative algorithms
    * consume once per round (lineage roots at a file, executor loss
    * re-reads instead of failing; a per-round re-execution of the
    * caller's distinct/union lineage would multiply its shuffles by the
    * iteration count).
    *
    * The raw edges are STAGED to parquet first; degree, validation,
    * and the final degree-denormalized table all derive from the
    * staged copy, so the caller's plan executes exactly once (the
    * writeIvfPqIndex staging rationale: one extra write+read of a slim
    * 2-3 column table beats re-running the upstream shuffles per
    * consumer). Layout by who is big, decided by `nodeCap`:
    *  - bucketed (the default `nodeCap = 0`, nothing assumed small, no
    *    count job): the edge table lands BUCKETED on `src`, so each
    *    iteration's join shuffles ONLY the |V|-row rank table into the
    *    bucket layout — the |E| side is never exchanged again after
    *    this one write (the standing band-index trick,
    *    [[Dedup.writeBandIndex]]).
    *  - `nodeCap > 0` makes the choice DATA-DRIVEN: the staged node
    *    count decides (|V| ≤ nodeCap → plain parquet, scanned map-side
    *    per round with the rank rows broadcast; above → bucketed). A
    *    domain that "broadcasts at any SF" still passes a cap — TPC-H
    *    part/supplier vocabularies grow linearly with SF, so an
    *    unconditional broadcast eventually hits the driver-memory /
    *    8 GB broadcast wall.
    *
    * `weighted = true` expects a positive long `w` column on the
    * edges: the build denormalizes Σw per source onto the edge rows
    * (the weighted recurrence's denominator), fails fast on a
    * non-positive weight, and records max(w) for the rank-time
    * overflow guard.
    *
    * Contract: every node must appear as a `src` (out-degree ≥ 1).
    * `symmetrize = true` satisfies this by construction; otherwise a
    * dangling node would silently LEAK its mass each iteration, so the
    * build fails fast on one (a one-time anti-join over the staged
    * copy — one |E| shuffle, amortized over every later search).
    */
  def materializeEdges(edges: DataFrame, key: String,
      symmetrize: Boolean = false,
      weighted: Boolean = false,
      nodeCap: Long = 0L): EdgeIndex = {
    val spark = edges.sparkSession
    val tag = if (weighted) "pagerank_w" else "pagerank"
    val scratch = graft.sources.Scratch.dir(tag, key)
    // `symmetrize`: callers with an UNDIRECTED pair relation pass the
    // pairs raw — the reverse direction derives from the STAGED copy,
    // so the (possibly expensive) caller plan executes once, not once
    // per union leg (a caller-side union(reverse) re-ran a full
    // minhash pipeline per leg: measured 22.9 → ~12 s at 10× for
    // g_doc_rank).
    val baseCols = if (weighted) Seq("src", "dst", "w") else Seq("src", "dst")
    edges.select(baseCols.map(col): _*)
      .write.mode("overwrite").parquet(s"$scratch/staging")
    val staged0 = spark.read.parquet(s"$scratch/staging")
    val staged =
      if (!symmetrize) staged0
      else staged0.union(staged0.select(
        (col("dst").as("src") +: col("src").as("dst") +:
          (if (weighted) Seq(col("w")) else Nil)): _*))
    val nodeAggs =
      if (weighted)
        Seq(count(lit(1)).as("deg"), sum(col("w")).as("ws"),
          max(col("w")).as("mw"), min(col("w")).as("nw"))
      else Seq(count(lit(1)).as("deg"))
    staged.groupBy("src").agg(nodeAggs.head, nodeAggs.tail: _*)
      .withColumnRenamed("src", "node")
      .write.mode("overwrite").parquet(s"$scratch/nodes")
    val nodes = spark.read.parquet(s"$scratch/nodes")
    // Weight extremes are O(1) driver model state (one 1-row agg over
    // the slim node table): positivity is a BUILD contract (a zero
    // weight would divide mass into nothing; a negative one breaks the
    // non-negative-longs arithmetic), max(w) feeds the rank-time
    // Scale·w overflow guard.
    val maxW =
      if (!weighted) 0L
      else {
        val ext = nodes.agg(max(col("mw")), min(col("nw"))).head()
        require(!ext.isNullAt(1) && ext.getLong(1) > 0,
          "materializeEdges: edge weights must be positive")
        ext.getLong(0)
      }
    if (!symmetrize) {
      val dangling = staged.select(col("dst")).distinct()
        .join(nodes, col("dst") === col("node"), "left_anti")
      require(dangling.isEmpty,
        "pageRank contract: every node needs an out-edge — " +
          "symmetrize the graph or drop dangling sinks first")
    }
    val bucketed = nodeCap <= 0L || nodes.count() > nodeCap
    // Degree (and for weighted graphs the weight sum) rides
    // DENORMALIZED on the edge table (one |E| write), so each
    // iteration is exactly one join + one map-combined sum, with no
    // per-round |V|-side lookup.
    val denorm =
      if (weighted) nodes.select(col("node").as("src"), col("deg"), col("ws"))
      else nodes.select(col("node").as("src"), col("deg"))
    val withDeg = staged.join(denorm, "src")
    val ref =
      if (!bucketed) {
        // Scale-adaptive fan-out of the STANDING artifact (guide §2.5
        // input skew): the broadcast-ranks path scans this file once
        // per rank round with the join+partial-agg fused map-side, so
        // a single-file landing (tiny |E|, AQE-coalesced write) makes
        // EVERY round single-task. Landing ≥ `Buckets` hash-split
        // files makes each round's map work parallel for free —
        // condition on the plan's own partitioning so a large |E|
        // (already many partitions) never repartitions downward.
        val fanned =
          if (withDeg.rdd.getNumPartitions < Buckets)
            withDeg.repartition(Buckets, col("src"))
          else withDeg
        fanned.write.mode("overwrite").parquet(s"$scratch/edges")
        s"$scratch/edges"
      } else {
        spark.sql("CREATE DATABASE IF NOT EXISTS graft_scratch")
        val tbl = graft.model.TableRef("graft_scratch",
          graft.sources.Scratch.name(s"${tag}_edges", key))
        // Repartition on the COMPUTED bucket id before the bucketed
        // write: without it the files-per-bucket count rides the
        // STAGED layout's partition count, so a 10× input leaves ~10×
        // more files per bucket and
        // every rank round pays ~10× the scan tasks and partial-agg
        // fan over an IDENTICAL edge table (measured: 3 rounds
        // 2.7 s → 10.7 s and 2.6× the shuffled records at the sf1
        // probe, same |V|/|E|). One extra |E| exchange at build time
        // buys a permanently one-file-per-bucket standing index.
        graft.sources.CatalogOps.writeBucketed(
          withDeg.repartition(Buckets,
            pmod(hash(col("src")), lit(Buckets))),
          tbl, bucketCols = Seq("src"), numBuckets = Buckets,
          sortCols = Seq("src"))
        // nonce-scoped warehouse files die with the JVM like tmp scratch
        graft.sources.Scratch.trackTable(spark, tbl)
        tbl.qualified
      }
    val fs = new org.apache.hadoop.fs.Path(scratch)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$scratch/staging"), true)
    EdgeIndex(ref, s"$scratch/nodes", bucketed, symmetrize, weighted, maxW)
  }

  /** The shared damped-propagation loop of [[pageRankIndexed]] and
    * [[pageRankWeightedIndexed]] — one join (edges ⋈ ranks on src) and
    * one map-combined sum to dst per round, with the per-edge
    * contribution expression as the only difference between the
    * uniform and weighted recurrences. Lineage grows one join/agg
    * layer per round; at the 3–5 rounds every caller runs, the plan
    * stays small and no round is materialized.
    */
  private def dampedLoop(spark: SparkSession, idx: EdgeIndex, iters: Int,
      contrib: String): DataFrame = {
    require(iters >= 1, "pageRank needs at least one iteration")
    val ed = idx.edges(spark)
    val nodes = idx.nodes(spark)
    // |V| is O(1) driver model state (a single count), same class as
    // the collected centroid seeds in Similarity.trainCentroidsLiteral.
    val n = nodes.count()
    require(n > 0, "pageRank over an empty graph")
    val r0 = Scale / n
    val base = (15L * r0) / 100L
    var rank = nodes.select(col("node"), lit(r0).as("r"))
    for (_ <- 1 to iters) {
      val sums = ed.join(roundSide(idx, rank.withColumnRenamed("node", "src")), "src")
        .select(col("dst"), expr(contrib).as("c"))
        .groupBy("dst").agg(sum(col("c")).as("sc"))
        .select(col("dst").as("node"),
          (lit(base) + expr("(85 * sc) div 100")).as("r"))
      // Zero-in-degree nodes drop out of the sum — re-add them at the
      // teleport base unless the index is symmetrized (in-degree ≥ 1
      // everywhere), which skips a |V| join per round.
      rank =
        if (idx.symmetric) sums
        else nodes.select("node")
          .join(sums, Seq("node"), "left")
          .select(col("node"), coalesce(col("r"), lit(base)).as("r"))
    }
    rank
  }

  /** Fixed-point PageRank over a [[materializeEdges]] artifact.
    *
    * Execution shape (the Pregel loop, declaratively): each iteration
    * is one join (edges ⋈ ranks on src) and one map-combined sum to
    * dst. With a bucketed index the join shuffles only the |V| rank
    * rows; over a plain-parquet index (|V| under the build's node cap)
    * the rank rows broadcast and the only shuffle per round is the
    * |V|-bounded partial-agg exchange of the sum. Ranks never collect:
    * the rank table is a DataFrame of |V| rows throughout, so the loop
    * works at any |V| a cluster can shuffle.
    *
    * Per-iteration update, all in longs:
    *   contrib(u→v) = r(u) div outdeg(u)
    *   r'(v) = base + (85 · Σ contrib) div 100,   base = (15·r₀) div 100
    * with r₀ = Scale div |V| — i.e. damping 0.85 with the uniform
    * teleport term frozen at its initial-mass value (rank mass then
    * stays ≈ Scale without needing a global re-normalization pass per
    * round).
    *
    * @return (node, r) — r in micro-units of 1e12.
    */
  def pageRankIndexed(spark: SparkSession, idx: EdgeIndex,
      iters: Int = 5): DataFrame =
    dampedLoop(spark, idx, iters, "r div deg")

  /** WEIGHTED PageRank over a `materializeEdges(weighted = true)`
    * artifact: each node pushes rank proportional to edge weight,
    *   contrib(u→v) = (r(u) · w(u,v)) div Σ_x w(u,x)
    * — on a similarity graph, stronger duplicates pull more
    * centrality, which plain [[pageRankIndexed]]'s uniform split
    * ignores. Same fixed-point integer recurrence, same execution
    * shape (bucketed index → per-round joins exchange only the |V|
    * rank rows — the |E| weighted edge table is never re-shuffled
    * after the one build write). Overflow is a REAL constraint here —
    * r·w must fit a long — so the guard checks Scale · maxW < 2⁶³
    * against the build-measured weight ceiling (1e12 · 1e6 = 1e18 ✓).
    *
    * @return (node, r) — r in micro-units of 1e12.
    */
  def pageRankWeightedIndexed(spark: SparkSession, idx: EdgeIndex,
      iters: Int = 5): DataFrame = {
    require(idx.weighted,
      "pageRankWeightedIndexed needs materializeEdges(weighted = true)")
    require(idx.maxW > 0 && Scale <= Long.MaxValue / idx.maxW,
      s"pageRankWeightedIndexed: scale·max(w) overflows a long " +
        s"(max w = ${idx.maxW})")
    dampedLoop(spark, idx, iters, "(r * w) div ws")
  }

  /** Multi-source BFS hop distance from a seed set over a
    * [[materializeEdges]] artifact — the seed-proximity prior of
    * TrustRank (Gyöngyi, Garcia-Molina, Pedersen 2004, "Combating web
    * spam with TrustRank"): distance from trusted seeds is the
    * cheapest link-analysis quality signal a web-corpus curation
    * pipeline computes, and its simplest form is exactly this BFS.
    *
    * Iterative frontier expansion, declaratively: each round is one
    * join (edges ⋈ frontier on src), a distinct, and an anti-join
    * against the visited set — O(|E_frontier|) work per round, and
    * min-hop semantics fall out of visiting each node once (the
    * anti-join), which a UnionLoop recursive CTE cannot express over a
    * cyclic graph without re-walking. Frontiers never collect; over a
    * plain-parquet index the frontier broadcasts and the per-round join
    * is map-side over the standing edge scan. `maxHops` bounds rounds
    * the way q_recursive's depth cap does.
    *
    * @param seeds one `node` column; rows outside the graph are
    *              dropped (intersected with the node table).
    * @return (node, hop) for every node reached within `maxHops`,
    *         hop 0 = seed. Unreached nodes are absent — left-join the
    *         node table and coalesce to -1 for a full census.
    */
  def bfsHops(spark: SparkSession, idx: EdgeIndex, seeds: DataFrame,
      maxHops: Int = 4): DataFrame = {
    require(maxHops >= 1, "bfsHops needs at least one round")
    val ed = idx.edges(spark).select("src", "dst")
    // Each round's frontier MATERIALIZES to scratch (|level| rows —
    // small next to |E|): round i's anti-join needs the whole visited
    // set, and leaving the rounds lazy would nest every prior round's
    // subplan into the next one — the plan tree doubles per level and
    // early rounds re-execute ~2^maxHops times (measured 26 s → 2 s at
    // sf0.1 for this 4-level census). Files also root the lineage, the
    // q_recursive shape.
    val scratch = graft.sources.Scratch.dir("bfs",
      java.util.UUID.randomUUID().toString)
    seeds.select("node").distinct()
      .join(idx.nodes(spark).select("node"), "node")
      .select(col("node"), lit(0).as("hop"))
      .write.mode("overwrite").parquet(s"$scratch/r0")
    for (i <- 1 to maxHops) {
      val frontier = spark.read.parquet(s"$scratch/r${i - 1}")
      val visited = spark.read
        .parquet((0 until i).map(j => s"$scratch/r$j"): _*)
      ed.join(roundSide(idx, frontier.select(col("node").as("src"))), "src")
        .select(col("dst").as("node")).distinct()
        .join(visited, Seq("node"), "left_anti")
        .select(col("node"), lit(i).as("hop"))
        .write.mode("overwrite").parquet(s"$scratch/r$i")
    }
    spark.read.parquet((0 to maxHops).map(j => s"$scratch/r$j"): _*)
  }

  /** TrustRank (Gyöngyi et al. 2004) — PageRank with the teleport
    * BIASED to a trusted seed set: trust mass originates only at the
    * seeds and decays outward through the damped propagation, so a
    * node's score is its link-proximity to trust — the propagation
    * half of the seed prior whose cheap census half is [[bfsHops]].
    *
    * Same fixed-point integer recurrence and execution shape as
    * [[pageRankIndexed]] with two deltas: r₀ = Scale div |S| on seeds
    * (0 elsewhere), and the per-round teleport lands on seeds only —
    * the |S| seed rows join each round's contributions in its one
    * aggregate (seed sets are small by definition: that is what makes
    * them trustable).
    *   r'(v) = [v ∈ S]·base + (85 · Σ contrib) div 100,
    *   base = (15·(Scale div |S|)) div 100
    * Non-seed nodes that receive nothing simply stay off the rank
    * table (their trust is 0 — the TrustRank semantics), so no
    * zero-in-degree re-add join is ever needed.
    *
    * @return (node, r) — trust in micro-units of 1e12; nodes with
    *         zero trust are ABSENT (left-join the node table and
    *         coalesce to 0 for a census).
    */
  def trustRank(spark: SparkSession, idx: EdgeIndex, seeds: DataFrame,
      iters: Int = 5): DataFrame = {
    require(iters >= 1, "trustRank needs at least one iteration")
    val ed = idx.edges(spark)
    val inGraph = seeds.select("node").distinct()
      .join(idx.nodes(spark).select("node"), "node")
    // The |S| seeds are O(1) driver model state, like |V| in
    // pageRankIndexed: held as a local relation, no round re-derives them.
    val seedRows = inGraph.collect()
    val seeds0 = spark.createDataFrame(
      java.util.Arrays.asList(seedRows: _*), inGraph.schema)
    val nSeeds = seedRows.length.toLong
    require(nSeeds > 0, "trustRank needs at least one in-graph seed")
    val r0 = Scale / nSeeds
    val base = (15L * r0) / 100L
    // Seeds ride in the round's aggregate as (c = 0, b = base) rows, so
    // a seed that receives no in-flow this round still keeps its
    // teleport base, with no join against the seed set.
    val seedBase = seeds0.select(col("node"), lit(0L).as("c"), lit(base).as("b"))
    var rank = seeds0.select(col("node"), lit(r0).as("r"))
    for (_ <- 1 to iters) {
      rank = ed.join(roundSide(idx, rank.withColumnRenamed("node", "src")), "src")
        .select(col("dst").as("node"), expr("r div deg").as("c"),
          lit(null).cast("long").as("b"))
        .unionByName(seedBase)
        .groupBy("node").agg(sum(col("c")).as("sc"), max(col("b")).as("b"))
        .select(col("node"),
          (coalesce(col("b"), lit(0L)) + expr("(85 * sc) div 100")).as("r"))
    }
    rank
  }

  /** Triangle census over a [[materializeEdges]] artifact: per-node
    * triangle count and local clustering coefficient (rational
    * micro-units, 2·tri·1e6 div d(d−1)) — the cohesion diagnostic
    * separating genuine duplicate cliques from template/boilerplate
    * stars in a near-dup graph.
    *
    * Algorithm is the degree-ordered orientation standard: each
    * undirected edge is oriented from its (deg, id)-smaller endpoint,
    * so wedge generation is bounded by ARBORICITY instead of max
    * degree — a degree-d hub generates zero wedges from its own
    * adjacency unless its neighbors out-rank it (the difference
    * between Σdeg² and the O(|E|^1.5) the orientation guarantees).
    * One wedge self-join plus one closing equi-join, both riding the
    * standing edge layout; nodes in no triangle are absent.
    *
    * @return (node, tri, deg, coeff_e6).
    */
  def triangles(spark: SparkSession, idx: EdgeIndex): DataFrame = {
    val nodes = idx.nodes(spark)
    val ed = idx.edges(spark).select("src", "dst", "deg")
      .join(nodes.select(col("node").as("dst"), col("deg").as("ddeg")),
        "dst")
    val ore = ed.filter(col("deg") < col("ddeg") ||
        (col("deg") === col("ddeg") && col("src") < col("dst")))
      .select("src", "dst", "ddeg")
    val tri = ore.as("e1").join(ore.as("e2"),
        col("e1.src") === col("e2.src") &&
          (col("e1.ddeg") < col("e2.ddeg") ||
            (col("e1.ddeg") === col("e2.ddeg") &&
              col("e1.dst") < col("e2.dst"))))
      .select(col("e1.src").as("u"), col("e1.dst").as("v"),
        col("e2.dst").as("w"))
      .join(ore.select(col("src").as("v"), col("dst").as("w")),
        Seq("v", "w"))
    tri.select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("tri"))
      .join(nodes.select("node", "deg"), "node")
      .select(col("node"), col("tri"), col("deg"),
        expr("(2 * tri * 1000000) div (deg * (deg - 1))").as("coeff_e6"))
  }

  /** Exact max of an INT64 column read from parquet footer statistics —
    * driver-side ranged reads, one per part file, no Spark job. Returns
    * None (caller falls back to an agg job) if any footer lacks
    * trustworthy stats; INT64 min/max stats are never truncated the way
    * binary stats can be, so present ⇒ exact.
    */
  private def footerLongMax(spark: SparkSession, dir: String,
      column: String): Option[Long] = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    try {
      val conf = spark.sessionState.newHadoopConf()
      val p = new Path(dir)
      val files = p.getFileSystem(conf).listStatus(p)
        .filter(_.getPath.getName.endsWith(".parquet"))
      var mx = Long.MinValue
      var sawRows = false
      files.foreach { f =>
        val rdr = ParquetFileReader.open(HadoopInputFile.fromPath(f.getPath, conf))
        try rdr.getFooter.getBlocks.forEach { b =>
          if (b.getRowCount > 0) {
            sawRows = true
            b.getColumns.forEach { c =>
              if (c.getPath.toDotString == column) {
                val st = c.getStatistics
                if (st == null || st.isEmpty || !st.hasNonNullValue)
                  return None
                st.genericGetMax match {
                  case l: java.lang.Long => if (l > mx) mx = l
                  case _ => return None
                }
              }
            }
          }
        } finally rdr.close()
      }
      if (sawRows) Some(mx) else None
    } catch { case _: Exception => None }
  }

  /** HITS hubs & authorities (Kleinberg 1999, "Authoritative sources
    * in a hyperlinked environment") over the DIRECTED hub→authority
    * edges of a [[materializeEdges]] artifact — the `(src, dst)` rows
    * whose `src` satisfies `hubs`; src rows are hubs, dst rows
    * authorities. The mutual-reinforcement recurrence
    *   a(v) = Σ_{u→v} h(u),   h(u) = Σ_{u→v} a(v)
    * runs `iters` rounds with MAX-normalization each half-step, all
    * in fixed-point integer 1e6 units: the max-norm is one 1-row
    * agg broadcast plus a trunc division of non-negative longs, where
    * the textbook L2 norm would need engine-divergent sqrt — so
    * scores are bit-reproducible. Each half-round is one join + one
    * map-combined sum (the pageRank execution shape with a
    * normalization join instead of a teleport); over a plain-parquet
    * index the score side broadcasts, so the |E| side scans map-side
    * per half-round instead of being hash-exchanged 2·iters times.
    *
    * Every half-round MATERIALIZES its raw sums to scratch
    * (|V|-bounded rows — the bfsHops shape): unlike the damped rank
    * loops, each half-round here is consumed TWICE (its max-normalizer
    * plus the next half-round's join), so lazy chaining re-executes
    * every prior round's joins once per consumer — the plan tree grows
    * multiplicatively with `iters` and the first cut measured 7.5 s
    * for 3 rounds at sf0.1 where the materialized loop is ~1.5 s.
    * Files also root the lineage, executor-loss safe. The
    * max-normalizer itself stays FUSED: the rescale is a lazy
    * projection over the landed file with max(sum) folded in as a
    * broadcast 1-row agg of that same file, so it executes inside
    * whichever job consumes the half-round — one write job per
    * half-round total, where the first materialized cut spent three
    * (raw write, driver max collect, rescaled write) and local mode
    * pays ~0.2 s launch overhead per job (12 jobs ≈ 4.5-5.6 s wall at
    * sf0.1 measured in r15; fusing to 2·iters+1 roughly halves it).
    *
    * @return (hubs, authorities): ((src, h), (dst, a)) in 1e6 units;
    *         the best hub/authority scores exactly 1e6.
    */
  def hits(spark: SparkSession, idx: EdgeIndex, hubs: Column,
      iters: Int = 3): (DataFrame, DataFrame) = {
    require(iters >= 1, "hits needs at least one iteration")
    val ed = idx.edges(spark).select("src", "dst").filter(hubs)
    // Mirrors pageRank's empty-graph require: on an empty edge set the
    // max normalizer aggregates to a null row and every score divides
    // by 0 — fail loud instead.
    require(!ed.isEmpty, "hits over an empty edge set")
    val ck = graft.sources.Scratch.dir("hits",
      java.util.UUID.randomUUID().toString)
    // All scratch reads pass the known schema explicitly — each bare
    // spark.read.parquet fires a footer/schema-inference job first, and
    // at 2 landings per round those launches are pure overhead on
    // |V|-bounded files.
    val h0Init = ed.select("src").distinct()
      .select(col("src"), lit(HitsScale).as("h"))
    h0Init.write.mode("overwrite").parquet(s"$ck/h0")
    var hub = spark.read.schema(h0Init.schema).parquet(s"$ck/h0")
    var auth: DataFrame = null
    // Max-norm rescale as a lazy LITERAL projection over the landed raw
    // sums: the max comes straight from the parquet FOOTER statistics of
    // the file just written (driver-side ranged reads, one per part file
    // — the same I/O query planning already does; no Spark job, no
    // broadcast build), with a 1-row agg job as the fallback if any
    // footer lacks INT64 stats. Exact and bit-identical either way.
    def rescale(raw: DataFrame, rawCol: String, key: String,
        out: String, path: String) = {
      val mx = footerLongMax(spark, path, rawCol).getOrElse(
        raw.agg(max(col(rawCol))).head().getLong(0))
      raw.select(col(key), expr(s"($rawCol * ${HitsScale}L) div ${mx}L").as(out))
    }
    for (i <- 1 to iters) {
      val a0 = ed.join(roundSide(idx, hub), "src").groupBy("dst")
        .agg(sum(col("h")).as("a0"))
      a0.write.mode("overwrite").parquet(s"$ck/a0_$i")
      auth = rescale(spark.read.schema(a0.schema).parquet(s"$ck/a0_$i"),
        "a0", "dst", "a", s"$ck/a0_$i")
      val h0 = ed.join(roundSide(idx, auth), "dst").groupBy("src")
        .agg(sum(col("a")).as("h0"))
      h0.write.mode("overwrite").parquet(s"$ck/h0_$i")
      hub = rescale(spark.read.schema(h0.schema).parquet(s"$ck/h0_$i"),
        "h0", "src", "h", s"$ck/h0_$i")
      // Prior-round raw files have no readers left (round i's writes
      // consumed them) — purge instead of accreting until JVM exit.
      if (i > 1) {
        graft.sources.Scratch.purge(s"$ck/a0_${i - 1}")
        graft.sources.Scratch.purge(s"$ck/h0_${i - 1}")
      }
    }
    (hub, auth)
  }

  /** One-shot convenience: materialize + rank. Prefer materializing
    * once per graph generation and reusing the [[EdgeIndex]] across
    * searches/parameter sweeps (the build is the expensive half).
    */
  def pageRank(edges: DataFrame, iters: Int = 5,
      symmetrize: Boolean = false): DataFrame =
    pageRankIndexed(edges.sparkSession, materializeEdges(edges,
      java.util.UUID.randomUUID().toString, symmetrize), iters)
}
