package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Similarity}
import graft.sources.Sources

/** Law-bearing COUNTS (not timings) at one SF dir: the quantities the
  * 100 TB claims say track the corpus linearly (SCALING.md "Law
  * counts"). Run at each scale decade and ratio the counts — a
  * wall-clock ratio says how this box behaved; a candidate-count ratio
  * is the algorithm's law itself, host-independent.
  *
  * Usage: runMain graft.tools.LawCounts <sfDir> — prints one JSON line.
  */
object LawCounts {

  final case class Counts(sf: String, docs: Long, shingle_rows: Long,
      minhash_candidates: Long, minhash_pairs: Long, embeddings: Long,
      geom: String, embed_candidates: Long, semantic_cell_pairs: Long,
      wide_geom: String, wide_candidates: Long, auto_nlist: Int,
      auto_cell_pairs: Long) {
    def json: String = productElementNames.zip(productIterator).map {
      case (k, v: String) => s""""$k":"$v""""
      case (k, v) => s""""$k":$v"""
    }.mkString("{", ",", "}")
  }

  /** Distinct (id, id') pairs sharing some band key of `sig`. */
  private def bandCandidates(sig: DataFrame, bands: Int,
      bandBits: Int): Long = {
    val keys = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        col("sig").substr(b * bandBits + 1, bandBits).as("key"))
    }
    val probes = sig.select(col("id"), explode(array(keys: _*)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.key").as("key"))
    probes.as("x").join(probes.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.id") < col("y.id"))
      .select(col("x.id"), col("y.id")).distinct().count()
  }

  /** Σ |cell|·(|cell|−1)/2 over the trained `nlist`-cell k-means cells
    * (2 rounds) — the semantic-dedup verify budget. */
  private def cellPairs(e: DataFrame, nlist: Int): Long = {
    val cents = Similarity.trainCentroidsLiteral(e, nlist, 2)
    Similarity.assignCells(e, cents)
      .groupBy("cell").count()
      .agg(sum(col("count") * (col("count") - lit(1)) / lit(2)).cast("long"))
      .head().getLong(0)
  }

  def apply(spark: SparkSession, sfDir: String): Counts = {
    val docs = Sources.table(spark, sfDir, "documents")
    val rel = Dedup.shingleRelation(docs, "doc_id", "text")
    val e = Sources.table(spark, sfDir, "embeddings")
    val nEmb = e.count()
    def sig(bits: Column) = e.select(col("vec_id").as("id"), bits.as("sig"))
    // s_embed_neardup_scaled's candidate stage under the geometry
    // chooseGeometry picks for THIS corpus size (the query's budget law)
    val geom = Similarity.chooseGeometry(n = nEmb, threshold = 0.9,
      recallTarget = 0.9)
    // the r20 fixes' laws, measured beside the quadratics they replace:
    // the width-scaled geometry's candidates (constant per-item budget →
    // linear) and the √n-cell verify pairs (n^1.5)
    val wGeom = Similarity.chooseGeometryWide(nEmb, threshold = 0.9,
      recallTarget = 0.9)
    val wPlanes = Similarity.rademacherPlanes(
      wGeom.bands * wGeom.bandBits, Similarity.SigBits, Similarity.WidePlaneSeed)
    val autoNlist = Dedup.chooseNlist(nEmb)
    Counts(sfDir, docs.count(), rel.count(),
      // d_minhash's exact stages: its band geometry, verify at 0.5
      Dedup.lshCandidates(Dedup.bandsFromRelation(rel)).count(),
      Dedup.minhashNearDups(docs, "doc_id", "text", 0.5).count(),
      nEmb, s"${geom.bands}x${geom.bandBits}",
      bandCandidates(sig(Similarity.signSignature(col("embedding"))),
        geom.bands, geom.bandBits),
      // d_semantic's verify budget: the query's own 16 cells
      cellPairs(e, 16),
      s"${wGeom.bands}x${wGeom.bandBits}",
      bandCandidates(sig(graft.plans.FloatVecOps.rademacherSig(
        col("embedding"), wPlanes)), wGeom.bands, wGeom.bandBits),
      autoNlist, cellPairs(e, autoNlist))
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 1, "usage: LawCounts <sfDir>")
    val sfDir = args(0)
    val spark = graft.GraftSession.build("graft-lawcounts")
    try println(LawCounts(spark, sfDir).json) finally spark.stop()
  }
}
