package graft.operators

import org.apache.spark.sql.functions.col

import graft.SparkFunSuite
import graft.sources.{CatalogOps, EpochDir}

/** OPTIMIZE for the standing indexes: compaction must cut file counts
  * to one-per-bucket / one-per-cell while PRESERVING the layout that
  * makes the index an index — the bucket spec (zero index-side
  * exchange in the band join) and the cell partitioning (partition
  * pruning in the probed search) — and must not change any result.
  * Publish is epoch-based (EpochDir / CatalogOps.publishEpoch): new
  * epochs appear beside the live one and the pointer flips atomically,
  * so crash states are stale-but-complete epochs, never torn swaps.
  */
class CompactionSpec extends SparkFunSuite {

  private lazy val docs =
    spark.read.parquet(s"$sf0001/documents.parquet")
  private lazy val emb =
    spark.read.parquet(s"$sf0001/embeddings.parquet")

  private def dataFiles(dir: java.io.File): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".parquet") ||
        f.getName.startsWith("part-")) Seq(f)
      else Nil
    walk(dir)
  }

  // EpochDir paths come back with the fs scheme (file:/…) — go
  // through URI for local File assertions
  private def localFile(p: String): java.io.File =
    new java.io.File(new java.net.URI(p))

  private def epochLoc(t: graft.model.TableRef): java.io.File = {
    val s = spark
    new java.io.File(new java.net.URI(
      s.sql(s"DESC FORMATTED ${CatalogOps.liveEpochTable(s, t).qualified}")
        .filter(col("col_name") === "Location").head().getString(1)))
  }

  test("compactBandIndex: one file per bucket, same pairs, still exchange-free") {
    val s = spark
    s.sql("CREATE DATABASE IF NOT EXISTS graft_test")
    val idxT = graft.model.TableRef("graft_test", "band_idx_compact")
    val corpus = docs.filter(col("doc_id") < 300)
    val wave1 = docs.filter(col("doc_id") >= 300 && col("doc_id") < 350)
    val wave2 = docs.filter(col("doc_id") >= 350 && col("doc_id") < 400)
    val batch = docs.filter(col("doc_id") >= 400)
    try {
      Dedup.writeBandIndex(corpus, "doc_id", "text", idxT)
      Dedup.appendToBandIndex(wave1, "doc_id", "text", idxT)
      Dedup.appendToBandIndex(wave2, "doc_id", "text", idxT)
      val grown = corpus.unionByName(wave1).unionByName(wave2)
      val before = Dedup.minhashNearDupsAgainstIndex(
        batch, grown, "doc_id", "text", 0.5, idxT)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

      val filesBefore = dataFiles(epochLoc(idxT)).size
      assert(filesBefore > 8,
        s"appends should have accreted >8 files, found $filesBefore")

      Dedup.compactBandIndex(s, idxT)
      val filesAfter = dataFiles(epochLoc(idxT)).size
      assert(filesAfter == 8, s"expected 8 bucket files, got $filesAfter")

      val after = Dedup.minhashNearDupsAgainstIndex(
        batch, grown, "doc_id", "text", 0.5, idxT)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(after.nonEmpty && after == before)

      // bucket spec preserved THROUGH THE EPOCH VIEW: with broadcast
      // disabled the band join still reads the index side straight off
      // its bucketed scan — exactly ONE (band, key) exchange in the
      // plan (the batch's)
      val prev = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val cand = Dedup.bandsFromRelation(
          Dedup.shingleRelation(batch, "doc_id", "text")).as("x")
          .join(s.table(idxT.qualified).as("y"),
            col("x.band") === col("y.band") && col("x.key") === col("y.key"))
        cand.collect()
        val plan = cand.queryExecution.executedPlan.toString
          .split("== Initial Plan ==").head
        assert(plan.contains("SelectedBucketsCount"), plan)
        assert("hashpartitioning\\(band".r.findAllMatchIn(plan).length == 1,
          s"compacted index must still join without its own exchange:\n$plan")
      } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    } finally CatalogOps.dropEpochIndex(s, idxT)
  }

  test("compactIvfIndex: one file per cell, same search, still pruned") {
    val path = tmpDir("ivf_compact")
    val corpus = emb.filter(col("vec_id") < 400)
    val wave = emb.filter(col("vec_id") >= 400)
    val queries = emb.filter(col("vec_id").isin(0L, 1L, 2L))
    Similarity.writeIvfIndex(corpus, path, nlist = 16)
    Similarity.appendToIvfIndex(wave, path)

    def liveDir = localFile(EpochDir.live(spark, s"$path/cells"))
    val cellCount = liveDir.listFiles()
      .count(_.getName.startsWith("cell="))
    val filesBefore = dataFiles(liveDir).size
    assert(filesBefore > cellCount,
      s"append should leave >1 file in some cell ($filesBefore/$cellCount)")
    val before = Similarity.ivfTopKIndexed(spark, path, queries, k = 5)
      .collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet

    Similarity.compactIvfIndex(spark, path)
    val filesAfter = dataFiles(liveDir).size
    assert(filesAfter == cellCount,
      s"expected one file per cell ($cellCount), got $filesAfter")

    val indexed = Similarity.ivfTopKIndexed(spark, path, queries, k = 5)
    val after = indexed.collect().map(r =>
      (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(after.nonEmpty && after == before)

    // cell partitioning preserved: the probed scan still prunes
    val plan = indexed.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert("PartitionFilters: \\[cell#\\d+ INSET".r
      .findFirstIn(plan).isDefined, s"pruning lost after compaction:\n$plan")
  }

  test("compactIvfPqIndex: one file per cell, ADC search unchanged") {
    val cbooks = Similarity
      .pqSubvecs(emb.filter(col("vec_id") < 16))
      .select(col("vec_id").cast("int").as("cid"), col("m"),
        col("sv").as("cv"))
    val queries = emb.filter(col("vec_id").isin(0L, 1L, 2L))
    val path = tmpDir("ivfpq_compact")
    val base = emb.filter(col("vec_id") < 400)
    val baseCodes = Similarity.pqEncode(base, cbooks)
    Similarity.writeIvfPqIndex(baseCodes, cbooks, path)
    Similarity.appendToIvfPqIndex(emb.filter(col("vec_id") >= 400), path)

    val before = Similarity.adcIvfTopKIndexed(spark, path, queries, k = 5)
      .collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    Similarity.compactIvfPqIndex(spark, path)
    val liveDir = localFile(EpochDir.live(spark, s"$path/codes"))
    val cellCount = liveDir.listFiles().count(_.getName.startsWith("cell="))
    assert(dataFiles(liveDir).size == cellCount,
      s"expected one file per cell ($cellCount), got ${dataFiles(liveDir).size}")
    val after = Similarity.adcIvfTopKIndexed(spark, path, queries, k = 5)
      .collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(after.nonEmpty && after == before)
  }

  test("compactCellIndex: hot cell splits into size-bounded files, pruning kept") {
    // A deliberately skewed layout: cell 0 holds 50× the rows of every
    // other cell — the "one arbitrarily large task and file per hot
    // cell" hazard the size bound exists for. Accrete it over several
    // appends (the small-files state compaction starts from), then
    // compact with a small per-file cap and assert the cap holds for
    // EVERY emitted file while partition pruning survives.
    import org.apache.spark.sql.functions.{input_file_name, lit}
    val s = spark
    import s.implicits._
    val dir = tmpDir("cell_skew") + "/cells"
    val hot = (0L until 5000L).map(v => (v, 0))
    val cold = (5000L until 5400L).map(v => (v, 1 + (v % 4).toInt))
    def rows(chunk: Seq[(Long, Int)]) =
      chunk.toDF("vid", "cell").withColumn("_batch", lit(-1L))
    // initial epoch, then appends INSIDE the live epoch (the layout
    // the write/append APIs produce)
    EpochDir.publish(s, dir) { target =>
      rows(hot.take(2000)).write.mode("overwrite")
        .partitionBy("cell", "_batch").parquet(target)
    }
    Seq(hot.slice(2000, 4000), hot.drop(4000) ++ cold)
      .foreach(c => rows(c).write.mode("append")
        .partitionBy("cell", "_batch").parquet(EpochDir.live(s, dir)))
    assert(dataFiles(localFile(EpochDir.live(s, dir))).size > 5)

    Similarity.compactCellIndex(s, dir, maxRecordsPerFile = 500L)

    val live = EpochDir.live(s, dir)
    val perFile = s.read.parquet(live)
      .groupBy(input_file_name().as("f")).count().collect()
    assert(perFile.forall(_.getLong(1) <= 500L),
      s"files over the 500-row cap: ${perFile.filter(_.getLong(1) > 500L).mkString(", ")}")
    // the hot cell must have split into >1 file, not one giant one
    val hotFiles = perFile.count(_.getString(0).contains("cell=0/"))
    assert(hotFiles >= 10, s"hot cell should span >=10 capped files, got $hotFiles")
    // pruning survives the rewrite
    val pruned = s.read.parquet(live).filter(col("cell") === 1)
    pruned.collect()
    val plan = pruned.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert("PartitionFilters: \\[.*cell".r.findFirstIn(plan).isDefined, plan)
    assert(s.read.parquet(live).count() == 5400L)
  }

  test("band index: a crashed epoch publish is invisible and self-heals") {
    // Crash model: the compacted epoch TABLE materialized fully but the
    // view flip never ran. Readers must keep answering from the still-
    // referenced epoch; the next compaction must republish over the
    // debris and advance the view.
    val s = spark
    s.sql("CREATE DATABASE IF NOT EXISTS graft_test")
    val idxT = graft.model.TableRef("graft_test", "band_idx_crash")
    val corpus = docs.filter(col("doc_id") < 300)
    val batch = docs.filter(col("doc_id") >= 400)
    try {
      Dedup.writeBandIndex(corpus, "doc_id", "text", idxT)
      val before = Dedup.minhashNearDupsAgainstIndex(
        batch, corpus, "doc_id", "text", 0.5, idxT)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(before.nonEmpty)
      // simulate the crash: epoch 1 table complete, view still at e0
      CatalogOps.writeBucketed(
        s.table(idxT.qualified), CatalogOps.epochRef(idxT, 1),
        bucketCols = Seq("band", "key"), numBuckets = 8,
        sortCols = Seq("band", "key"))
      assert(CatalogOps.currentEpoch(s, idxT).contains(0L))
      val during = Dedup.minhashNearDupsAgainstIndex(
        batch, corpus, "doc_id", "text", 0.5, idxT)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(during == before, "debris epoch must be invisible to readers")
      // the next OPTIMIZE republishes over the debris and flips
      Dedup.compactBandIndex(s, idxT)
      assert(CatalogOps.currentEpoch(s, idxT).contains(1L))
      val healed = Dedup.minhashNearDupsAgainstIndex(
        batch, corpus, "doc_id", "text", 0.5, idxT)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(healed == before)
    } finally CatalogOps.dropEpochIndex(s, idxT)
  }

  test("cell index: an uncommitted epoch is invisible; appends land in the live one") {
    // Crash model: a compaction died mid-write, leaving an epoch dir
    // WITHOUT _SUCCESS. The resolver must ignore it, appends must land
    // in the committed epoch, and the next compaction must publish
    // cleanly over the debris.
    val s = spark
    val path = tmpDir("ivf_epoch_debris")
    val base = emb.filter(col("vec_id") < 400)
    val wave = emb.filter(col("vec_id") >= 400)
    Similarity.writeIvfIndex(base, path, nlist = 16)
    val live0 = EpochDir.live(s, s"$path/cells")
    assert(live0.endsWith("/e0"))
    // debris: an uncommitted e1 (partial write — no _SUCCESS)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$path/cells/e1/cell=0"))
    assert(EpochDir.live(s, s"$path/cells") == live0,
      "uncommitted epoch must be invisible")

    Similarity.appendToIvfIndex(wave, path)
    assert(EpochDir.live(s, s"$path/cells") == live0)
    val vids = s.read.parquet(EpochDir.live(s, s"$path/cells"))
      .select("vid").distinct().count()
    assert(vids == emb.count(), s"index holds $vids of ${emb.count()} vids")

    // next OPTIMIZE publishes e1 over the debris and retains e0 as grace
    Similarity.compactIvfIndex(s, path)
    assert(EpochDir.live(s, s"$path/cells").endsWith("/e1"))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$path/cells/e0")),
      "the superseded epoch must be retained as reader grace")
    // and the one after that purges e0
    Similarity.compactIvfIndex(s, path)
    assert(EpochDir.live(s, s"$path/cells").endsWith("/e2"))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/cells/e0")),
      "epochs older than the grace window must be purged")
    val after = s.read.parquet(EpochDir.live(s, s"$path/cells"))
      .select("vid").distinct().count()
    assert(after == emb.count())
  }
}
