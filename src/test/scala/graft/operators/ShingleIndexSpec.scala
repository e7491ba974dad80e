package graft.operators

import org.apache.spark.sql.functions.col

import graft.SparkFunSuite

/** The standing DECONTAMINATION index: contamination against the
  * persisted train-shingle table must equal the inline computation,
  * stay exchange-free on the index side, and grow by appends without
  * drifting from a rebuild.
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
      // shingle exchange in the plan is the arriving batch's own —
      // the index-side DISTINCT and the join both ride the bucketed
      // (shingle) scan
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
          s"index must join and distinct without its own exchange:\n$plan")
      } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    } finally graft.sources.CatalogOps.dropEpochIndex(s, idxT)
  }

  test("appendToShingleIndex: grown index == rebuild, duplicates across batches tolerated") {
    val s = spark
    s.sql("CREATE DATABASE IF NOT EXISTS graft_test")
    val grownT = graft.model.TableRef("graft_test", "shingle_idx_grown")
    val rebuiltT = graft.model.TableRef("graft_test", "shingle_idx_rebuilt")
    try {
      val train = split("train")
      val base = train.filter(col("doc_id") < 250)
      val wave = train.filter(col("doc_id") >= 250)
      Dedup.writeShingleIndex(base, "doc_id", "text", grownT)
      Dedup.appendToShingleIndex(wave, "doc_id", "text", grownT)
      // second append of the SAME wave: duplicate shingle rows land in
      // the index — the read-side distinct must absorb them
      Dedup.appendToShingleIndex(wave, "doc_id", "text", grownT)
      Dedup.writeShingleIndex(train, "doc_id", "text", rebuiltT)
      val a = Dedup.contaminationAgainstIndex(
        split("test"), "doc_id", "text", grownT)
      val b = Dedup.contaminationAgainstIndex(
        split("test"), "doc_id", "text", rebuiltT)
      assert(rows(a).nonEmpty && rows(a) == rows(b))
    } finally {
      graft.sources.CatalogOps.dropEpochIndex(spark, grownT)
      graft.sources.CatalogOps.dropEpochIndex(spark, rebuiltT)
    }
  }

  test("compactBucketedIndex on the shingle index: fewer files, same result") {
    val s = spark
    s.sql("CREATE DATABASE IF NOT EXISTS graft_test")
    val idxT = graft.model.TableRef("graft_test", "shingle_idx_compact")
    try {
      val train = split("train")
      Dedup.writeShingleIndex(train.filter(col("doc_id") < 250),
        "doc_id", "text", idxT)
      Dedup.appendToShingleIndex(train.filter(col("doc_id") >= 250),
        "doc_id", "text", idxT)
      val before = Dedup.contaminationAgainstIndex(
        split("test"), "doc_id", "text", idxT)
      val want = rows(before)
      Dedup.compactBucketedIndex(s, idxT, Seq("shingle"))
      val loc = new java.io.File(new java.net.URI(
        s.sql(s"DESC FORMATTED ${graft.sources.CatalogOps
            .liveEpochTable(s, idxT).qualified}")
          .filter(col("col_name") === "Location")
          .head().getString(1)))
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else if (f.getName.startsWith("part-")) Seq(f) else Nil
      assert(walk(loc).size == 8, s"expected 8 bucket files")
      val after = Dedup.contaminationAgainstIndex(
        split("test"), "doc_id", "text", idxT)
      assert(rows(after) == want)
    } finally graft.sources.CatalogOps.dropEpochIndex(spark, idxT)
  }
}
