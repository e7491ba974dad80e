package graft.operators

import org.apache.spark.sql.functions.col

import graft.SparkFunSuite

/** The standing DECONTAMINATION index: contamination against the
  * persisted train-shingle table must equal the inline computation
  * and stay exchange-free on the index side.
  */
class ShingleIndexSpec extends SparkFunSuite {

  private lazy val docs =
    spark.read.parquet(s"$sf0001/documents.parquet")
  private def split(s: String) =
    docs.filter(TextAnalysis.hashSplit(col("doc_id")) === s)

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet

  test("contaminationAgainstIndex == inline t_contamination; index side exchange-free") {
    val s = spark
    s.sql("CREATE DATABASE IF NOT EXISTS graft_test")
    val idxT = graft.model.TableRef("graft_test", "shingle_idx")
    try {
      Dedup.writeShingleIndex(split("train"), "doc_id", "text", idxT)
      val viaIndex = Dedup.contaminationAgainstIndex(
        split("test"), "doc_id", "text", idxT)
      val inline = graft.SparkEntry.queries("t_contamination")(s, sf0001)
      assert(rows(viaIndex).nonEmpty && rows(viaIndex) == rows(inline))

      // index side exchange-free: with broadcast disabled, the only
      // shingle exchange in the plan is the arriving batch's own — the
      // join rides the bucketed (shingle) scan
      val prev = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val q = Dedup.contaminationAgainstIndex(
          split("test"), "doc_id", "text", idxT)
        q.collect()
        val plan = q.queryExecution.executedPlan.toString
          .split("== Initial Plan ==").head
        assert(plan.contains("SelectedBucketsCount"), plan)
        assert("hashpartitioning\\(shingle".r.findAllMatchIn(plan).length == 1,
          s"index must join without its own exchange:\n$plan")
      } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    } finally s.sql(s"DROP TABLE IF EXISTS ${idxT.qualified}")
  }
}
