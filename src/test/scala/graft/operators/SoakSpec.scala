package graft.operators

import org.apache.spark.sql.functions.col

import graft.SparkFunSuite
import graft.sources.{CatalogOps, EpochDir}

/** Standing-index SOAK: the small-files spiral, the compaction rewrite,
  * and the probed search exercised TOGETHER on one index instance —
  * N append batches × interleaved compactions × searches — rather than
  * in the separate per-mechanism cases of IvfIndexSpec/CompactionSpec.
  * After every cycle the index must answer exactly like a fresh full
  * rebuild over the same content, and every compaction must leave the
  * bounded file layout the OPTIMIZE contract promises.
  *
  * The CONCURRENT cases drive the epoch-publish safety claim: a search
  * loop runs in its own thread WHILE ≥20 compaction cycles rewrite the
  * index, and every single search must return the exact reference
  * result — never an error, never a torn read. The compactor paces
  * itself by the production contract (each OPTIMIZE waits for the
  * searches in flight at its start to finish — i.e. the OPTIMIZE
  * cadence exceeds the slowest query), which is precisely what the
  * one-epoch grace window guarantees safety for.
  */
class SoakSpec extends SparkFunSuite {

  private lazy val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
  private lazy val docs = spark.read.parquet(s"$sf0001/documents.parquet")

  private def dataFiles(dir: java.io.File): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".parquet") ||
        f.getName.startsWith("part-")) Seq(f)
      else Nil
    walk(dir)
  }

  private def localFile(p: String): java.io.File =
    new java.io.File(new java.net.URI(p))

  test("IVFPQ index: interleaved append x compact x search stays rebuild-exact") {
    val cbooks = Similarity
      .pqSubvecs(emb.filter(col("vec_id") < 16))
      .select(col("vec_id").cast("int").as("cid"), col("m"),
        col("sv").as("cv"))
    val queries = emb.filter(col("vec_id").isin(0L, 1L, 2L))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet

    val path = tmpDir("ivfpq_soak")
    Similarity.writeIvfPqIndex(
      Similarity.pqEncode(emb.filter(col("vec_id") < 300), cbooks),
      cbooks, path)
    val waves = Seq((300L, 350L), (350L, 400L), (400L, 450L), (450L, 500L))
    waves.zipWithIndex.foreach { case ((lo, hi), i) =>
      Similarity.appendToIvfPqIndex(
        emb.filter(col("vec_id") >= lo && col("vec_id") < hi), path)
      if (i % 2 == 1) {
        // every other cycle: compact mid-life, not just at the end
        val before =
          dataFiles(localFile(EpochDir.live(spark, s"$path/codes"))).size
        Similarity.compactIvfPqIndex(spark, path)
        val liveDir = localFile(EpochDir.live(spark, s"$path/codes"))
        val cells = liveDir.listFiles().count(_.getName.startsWith("cell="))
        val after = dataFiles(liveDir).size
        assert(after == cells,
          s"cycle $i: expected one file per cell ($cells), got $after")
        assert(after < before,
          s"cycle $i: compaction must shrink the file count ($before→$after)")
      }
      // the soaked index answers exactly like a fresh rebuild over the
      // same content — append/compact mechanics leave no trace
      val ref = tmpDir(s"ivfpq_soak_ref$i")
      Similarity.writeIvfPqIndex(
        Similarity.pqEncode(emb.filter(col("vec_id") < hi), cbooks),
        cbooks, ref)
      val got = rows(Similarity.adcIvfTopKIndexed(spark, path, queries, k = 5))
      val want = rows(Similarity.adcIvfTopKIndexed(spark, ref, queries, k = 5))
      assert(got.nonEmpty && got == want, s"cycle $i diverged from rebuild")
    }
  }

  test("band index: interleaved append x compact x probe stays rebuild-exact") {
    val s = spark
    s.sql("CREATE DATABASE IF NOT EXISTS graft_test")
    val idxT = graft.model.TableRef("graft_test", "band_idx_soak")
    val refTs = (0 to 2).map(i =>
      graft.model.TableRef("graft_test", s"band_idx_soak_ref$i"))
    val batch = docs.filter(col("doc_id") >= 450)
    try {
      Dedup.writeBandIndex(docs.filter(col("doc_id") < 300),
        "doc_id", "text", idxT)
      val waves = Seq((300L, 350L), (350L, 400L), (400L, 450L))
      var anyPair = false
      waves.zipWithIndex.foreach { case ((lo, hi), i) =>
        Dedup.appendToBandIndex(
          docs.filter(col("doc_id") >= lo && col("doc_id") < hi),
          "doc_id", "text", idxT)
        if (i % 2 == 1) {
          Dedup.compactBandIndex(s, idxT)
          val loc = localFile(
            s.sql(s"DESC FORMATTED ${CatalogOps
                .liveEpochTable(s, idxT).qualified}")
              .filter(col("col_name") === "Location").head().getString(1))
          assert(dataFiles(loc).size == 8,
            s"cycle $i: expected 8 bucket files, got ${dataFiles(loc).size}")
        }
        val grown = docs.filter(col("doc_id") < hi)
        Dedup.writeBandIndex(grown, "doc_id", "text", refTs(i))
        val got = Dedup.minhashNearDupsAgainstIndex(
          batch, grown, "doc_id", "text", 0.5, idxT)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val want = Dedup.minhashNearDupsAgainstIndex(
          batch, grown, "doc_id", "text", 0.5, refTs(i))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(got == want, s"cycle $i diverged from rebuild")
        anyPair ||= got.nonEmpty
      }
      assert(anyPair, "soak must exercise at least one real near-dup pair")
    } finally {
      CatalogOps.dropEpochIndex(s, idxT)
      refTs.foreach(CatalogOps.dropEpochIndex(s, _))
    }
  }

  test("band index: TWO uncoordinated appender threads + live reader — " +
      "writer lock serializes, grown index equals the serial-order union") {
    val s = spark
    s.sql("CREATE DATABASE IF NOT EXISTS graft_test")
    val idxT = graft.model.TableRef("graft_test", "band_idx_mw")
    val refT = graft.model.TableRef("graft_test", "band_idx_mw_ref")
    val batch = docs.filter(col("doc_id") >= 450)
    try {
      Dedup.writeBandIndex(docs.filter(col("doc_id") < 300),
        "doc_id", "text", idxT)
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      def appender(waves: Seq[(Long, Long)]) = new Thread(() =>
        try waves.foreach { case (lo, hi) =>
          Dedup.appendToBandIndex(
            docs.filter(col("doc_id") >= lo && col("doc_id") < hi),
            "doc_id", "text", idxT)
        } catch { case t: Throwable => errs.add(t) })
      @volatile var stop = false
      val reads = new java.util.concurrent.atomic.AtomicInteger
      val reader = new Thread(() =>
        try while (!stop) {
          // readers take NO lock — they must stay green while the two
          // writers race (result varies as the index grows; the
          // contract is no error, no torn read)
          Dedup.minhashNearDupsAgainstIndex(
            batch, docs, "doc_id", "text", 0.5, idxT).count()
          reads.incrementAndGet()
        } catch { case t: Throwable => errs.add(t) })
      val a = appender(Seq((300L, 320L), (320L, 340L), (340L, 360L)))
      val b = appender(Seq((360L, 380L), (380L, 400L), (400L, 420L)))
      reader.start(); a.start(); b.start()
      a.join(); b.join()
      stop = true; reader.join()
      assert(errs.isEmpty,
        s"concurrent writers/reader errored: ${errs.peek()}")
      assert(reads.get() > 0, "the reader must have probed mid-race")
      // appends are insert-only, so EVERY serialization of the six
      // waves yields the same multiset: the grown index must equal a
      // fresh rebuild over the union — no lost, duplicated, or
      // interleave-torn rows
      Dedup.writeBandIndex(docs.filter(col("doc_id") < 420),
        "doc_id", "text", refT)
      def counted(t: graft.model.TableRef) =
        s.table(t.qualified).collect().toSeq
          .map(_.toSeq).groupBy(identity).view.mapValues(_.size).toMap
      assert(counted(idxT) == counted(refT),
        "grown index diverged from the serial-order union of the appends")
    } finally {
      CatalogOps.dropEpochIndex(s, idxT)
      CatalogOps.dropEpochIndex(s, refT)
    }
  }

  test("pinSnapshot: pinned epoch reads bit-identical WHILE appends land mid-scan") {
    val s = spark
    s.sql("CREATE DATABASE IF NOT EXISTS graft_test")
    val idxT = graft.model.TableRef("graft_test", "band_idx_pin")
    try {
      Dedup.writeBandIndex(docs.filter(col("doc_id") < 300),
        "doc_id", "text", idxT)
      Dedup.appendToBandIndex(
        docs.filter(col("doc_id") >= 300 && col("doc_id") < 330),
        "doc_id", "text", idxT)
      // the pin: one OPTIMIZE at the snapshot boundary; the returned
      // epoch is the just-RETIRED one — immutable by construction
      val pin = CatalogOps.pinSnapshot(s, idxT)(
        Dedup.compactBandIndex(s, idxT))
      assert(CatalogOps.currentEpoch(s, idxT).exists(_ > pin))
      def pinnedRows() = CatalogOps.tableAtEpoch(s, idxT, pin)
        .collect().toSeq.map(_.toSeq).groupBy(identity)
        .view.mapValues(_.size).toMap
      val expect = pinnedRows()
      assert(expect.nonEmpty)
      // an appender lands waves into the LIVE epoch while a reader
      // loop re-reads the PINNED epoch — every read must be
      // bit-identical to the snapshot (this was exactly the documented
      // caveat: before pinSnapshot, a pin taken on the live epoch saw
      // batch growth)
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val appender = new Thread(() =>
        try Seq((330L, 360L), (360L, 390L), (390L, 420L)).foreach {
          case (lo, hi) =>
            Dedup.appendToBandIndex(
              docs.filter(col("doc_id") >= lo && col("doc_id") < hi),
              "doc_id", "text", idxT)
        } catch { case t: Throwable => errs.add(t) })
      @volatile var stop = false
      val reads = new java.util.concurrent.atomic.AtomicInteger
      val reader = new Thread(() =>
        try while (!stop) {
          assert(pinnedRows() == expect, "pinned read saw a torn/grown snapshot")
          reads.incrementAndGet()
        } catch { case t: Throwable => errs.add(t) })
      reader.start(); appender.start()
      appender.join()
      stop = true; reader.join()
      assert(errs.isEmpty, s"pinned-read race errored: ${errs.peek()}")
      assert(reads.get() > 0, "the reader must have read mid-append")
      assert(pinnedRows() == expect,
        "pinned epoch changed after the append waves")
      // the appends ARE visible in the live epoch (the pin froze the
      // snapshot, not the index)
      val liveRows = s.table(idxT.qualified).count()
      assert(liveRows > expect.values.map(_.toLong).sum,
        s"live epoch must have grown past the pinned snapshot")
    } finally CatalogOps.dropEpochIndex(s, idxT)
  }

  test("pinSnapshot (dir-backed): IVFPQ pin frozen across appends; live grows") {
    val cbooks = Similarity
      .pqSubvecs(emb.filter(col("vec_id") < 16))
      .select(col("vec_id").cast("int").as("cid"), col("m"),
        col("sv").as("cv"))
    val path = tmpDir("ivfpq_pin")
    Similarity.writeIvfPqIndex(
      Similarity.pqEncode(emb.filter(col("vec_id") < 300), cbooks),
      cbooks, path)
    Similarity.appendToIvfPqIndex(
      emb.filter(col("vec_id") >= 300 && col("vec_id") < 350), path)
    val codes = s"$path/codes"
    val pin = EpochDir.pinSnapshot(spark, codes)(
      Similarity.compactIvfPqIndex(spark, path))
    def pinnedVids() = spark.read.parquet(EpochDir.at(spark, codes, pin))
      .select("vid").distinct().collect().map(_.getLong(0)).toSet
    val expect = pinnedVids()
    assert(expect == (0L until 350L).toSet)
    Similarity.appendToIvfPqIndex(
      emb.filter(col("vec_id") >= 350 && col("vec_id") < 400), path)
    assert(pinnedVids() == expect, "pinned epoch saw the post-pin append")
    assert(spark.read.parquet(EpochDir.live(spark, codes))
      .select("vid").distinct().count() == 400L,
      "live epoch must include the post-pin append")
  }

  /** Drive `cycles` compactions while `search()` loops in another
    * thread; every search result must equal `want` and no search may
    * error. The compactor waits, before each cycle, for every search
    * in flight at that moment to finish — the production OPTIMIZE
    * cadence the one-epoch grace window is sized for (a reader is only
    * ever one epoch behind). Returns the number of completed searches.
    */
  private def concurrentSoak[T](want: T, search: () => T,
      compactOnce: () => Unit, cycles: Int): Int = {
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val started = new java.util.concurrent.atomic.AtomicLong
    val finished = new java.util.concurrent.atomic.AtomicLong
    @volatile var stop = false
    val searcher = new Thread(() => {
      while (!stop) {
        started.incrementAndGet()
        try {
          val got = search()
          if (got != want) failures.add(s"torn read: $got != $want")
        } catch {
          case e: Throwable =>
            failures.add(s"search error: ${e.getClass.getName}: " +
              s"${String.valueOf(e.getMessage).take(300)}")
        }
        finished.incrementAndGet()
      }
    }, "soak-searcher")
    searcher.setDaemon(true)
    searcher.start()
    try {
      (1 to cycles).foreach { _ =>
        // read barrier: all searches in flight now must finish before
        // this compaction may retire the epoch they could be holding
        val inFlightHorizon = started.get()
        val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
        while (finished.get() < inFlightHorizon &&
            System.nanoTime() < deadline) Thread.sleep(5)
        assert(finished.get() >= inFlightHorizon,
          "searcher stalled — cannot safely compact")
        compactOnce()
      }
    } finally {
      stop = true
      searcher.join(120000)
    }
    assert(failures.isEmpty,
      s"${failures.size} bad searches: ${failures.peek()}")
    finished.get().toInt
  }

  test("IVFPQ index: live search loop across 20 compaction cycles — no errors, no torn reads") {
    val cbooks = Similarity
      .pqSubvecs(emb.filter(col("vec_id") < 16))
      .select(col("vec_id").cast("int").as("cid"), col("m"),
        col("sv").as("cv"))
    val queries = emb.filter(col("vec_id").isin(0L, 1L, 2L))
    val path = tmpDir("ivfpq_live_soak")
    Similarity.writeIvfPqIndex(Similarity.pqEncode(emb, cbooks), cbooks, path)
    def search() = Similarity.adcIvfTopKIndexed(spark, path, queries, k = 5)
      .collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val want = search()
    assert(want.nonEmpty)
    val n = concurrentSoak(want, () => search(),
      () => Similarity.compactIvfPqIndex(spark, path), cycles = 20)
    // the loop genuinely overlapped the rewrites (not one search at
    // the end): the barrier alone forces ≥1 search per cycle
    assert(n >= 20, s"only $n searches across 20 compactions")
    // content-addressed end state: still the reference result, live
    // epoch advanced past the initial build
    assert(search() == want)
    assert(!EpochDir.live(spark, s"$path/codes").endsWith("/e0"))
  }

  test("band index: live probe loop across 20 compaction cycles — no errors, no torn reads") {
    val s = spark
    s.sql("CREATE DATABASE IF NOT EXISTS graft_test")
    val idxT = graft.model.TableRef("graft_test", "band_idx_live_soak")
    val corpus = docs.filter(col("doc_id") < 450)
    val batch = docs.filter(col("doc_id") >= 450)
    try {
      Dedup.writeBandIndex(corpus, "doc_id", "text", idxT)
      def probe() = Dedup.minhashNearDupsAgainstIndex(
        batch, corpus, "doc_id", "text", 0.5, idxT)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = probe()
      assert(want.nonEmpty)
      val n = concurrentSoak(want, () => probe(),
        () => Dedup.compactBandIndex(s, idxT), cycles = 20)
      assert(n >= 20, s"only $n probes across 20 compactions")
      assert(probe() == want)
      assert(CatalogOps.currentEpoch(s, idxT).exists(_ >= 20L))
    } finally CatalogOps.dropEpochIndex(s, idxT)
  }

  test("retain=3 keeps a reader lagging THREE publishes alive; the fourth retires it") {
    // The retention knob sized to a deliberately-lagged reader: a
    // query that resolved its epoch path long ago (planned, then
    // stalled) must still find every file through `retain` subsequent
    // publishes — and strand only at retain+1, the documented edge of
    // the widened grace window.
    val cbooks = Similarity
      .pqSubvecs(emb.filter(col("vec_id") < 16))
      .select(col("vec_id").cast("int").as("cid"), col("m"),
        col("sv").as("cv"))
    val path = tmpDir("ivfpq_retain_soak")
    Similarity.writeIvfPqIndex(Similarity.pqEncode(emb, cbooks), cbooks, path)
    // the lagged reader resolves its epoch NOW (e0)...
    val laggedPath = EpochDir.live(spark, s"$path/codes")
    val want = spark.read.parquet(laggedPath).count()
    assert(want > 0)
    // ...then THREE compactions publish past it with retain=3
    (1 to 3).foreach(_ =>
      Similarity.compactIvfPqIndex(spark, path, retain = 3))
    assert(EpochDir.live(spark, s"$path/codes").endsWith("/e3"))
    // the stalled reader's planned file paths still resolve, in full
    assert(spark.read.parquet(laggedPath).count() == want,
      "a reader inside the retain=3 grace window lost its files")
    // the FOURTH publish retires e0 — the reader is now past the edge
    Similarity.compactIvfPqIndex(spark, path, retain = 3)
    assert(!localFile(laggedPath).exists(),
      "epoch e0 must fall out of the retain=3 window at the 4th publish")
    assert(spark.read.parquet(EpochDir.live(spark, s"$path/codes"))
      .count() == want)
  }
}
