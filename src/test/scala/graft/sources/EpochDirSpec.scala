package graft.sources

import graft.SparkFunSuite

/** EpochDir lifecycle: the rejected pre-epoch flat layout, the
  * `_SUCCESS` commit-record verification (the marksuccessfuljobs=false
  * failure mode), uncommitted-epoch debris, snapshot pins under
  * concurrent publishes, and the configurable grace retention.
  */
class EpochDirSpec extends SparkFunSuite {
  import graft.SparkTestBase.spark.implicits._

  private def writeEpoch(target: String, ids: Seq[Long]): Unit =
    ids.toDF("id").coalesce(1).write.mode("overwrite").parquet(target)

  private def readIds(path: String): Set[Long] =
    spark.read.parquet(path).as[Long].collect().toSet

  private def epochDirs(base: String): Set[String] =
    new java.io.File(base).listFiles().toSeq
      .filter(f => f.isDirectory && f.getName.matches("e\\d+"))
      .map(_.getName).toSet

  test("flat layout is rejected by live and publish, files untouched") {
    val base = tmpDir("epoch_flat") + "/idx"
    // pre-epoch layout: parquet files + _SUCCESS directly under base
    writeEpoch(base, Seq(1L, 2L, 3L))
    def listing = new java.io.File(base).list().toSet
    val before = listing
    assert(before.contains("_SUCCESS"))
    val onLive = intercept[IllegalStateException](EpochDir.live(spark, base))
    assert(onLive.getMessage.contains("pre-epoch flat layout"), onLive.getMessage)
    var wrote = false
    val onPublish = intercept[IllegalStateException] {
      EpochDir.publish(spark, base) { t => wrote = true; writeEpoch(t, Seq(4L)) }
    }
    assert(onPublish.getMessage.contains("pre-epoch flat layout"),
      onPublish.getMessage)
    assert(!wrote, "publish must not write an e0 that shadows the flat files")
    assert(listing == before && epochDirs(base).isEmpty)
    assert(readIds(base) == Set(1L, 2L, 3L))
  }

  test("epoch-pinned reads: epochs() lists snapshots, at() resolves them, purged pins fail loud") {
    val base = tmpDir("epoch_pinned") + "/idx"
    for (i <- 0 to 2)
      EpochDir.publish(spark, base, retain = 2)(t =>
        writeEpoch(t, Seq(i.toLong)))
    // retain=2 beside live e2: epochs 0,1,2 all committed and pinnable
    assert(EpochDir.epochs(spark, base) == Seq(0L, 1L, 2L))
    assert(readIds(EpochDir.at(spark, base, 0)) == Set(0L))
    assert(readIds(EpochDir.at(spark, base, 1)) == Set(1L))
    assert(EpochDir.at(spark, base, 2) == EpochDir.live(spark, base))
    // the reproducible-run protocol: a run pins epoch 1 at start; a
    // publish lands meanwhile; the pinned read is UNCHANGED while the
    // live read moved
    val pinned = EpochDir.at(spark, base, 1)
    EpochDir.publish(spark, base, retain = 2)(t =>
      writeEpoch(t, Seq(3L)))
    assert(readIds(pinned) == Set(1L),
      "a pinned snapshot must survive a concurrent publish")
    assert(readIds(EpochDir.live(spark, base)) == Set(3L))
    // epoch 0 fell out of the retain window: pinning it fails loud
    // with the committed list and the retain hint
    val e = intercept[IllegalArgumentException](EpochDir.at(spark, base, 0))
    assert(e.getMessage.contains("retain"))
    assert(EpochDir.epochs(spark, base) == Seq(1L, 2L, 3L))
  }

  test("publish fails loud (and purges nothing) when the write leaves no _SUCCESS") {
    val base = tmpDir("epoch_nomarker") + "/idx"
    EpochDir.publish(spark, base)(t => writeEpoch(t, Seq(1L)))
    EpochDir.publish(spark, base)(t => writeEpoch(t, Seq(2L)))
    assert(epochDirs(base) == Set("e0", "e1"))
    // a writer configured with marksuccessfuljobs=false: files land,
    // no commit marker — the epoch is invisible to every reader, so
    // publishing must throw instead of purging the live index
    val e = intercept[IllegalStateException] {
      EpochDir.publish(spark, base) { t =>
        writeEpoch(t, Seq(3L))
        new java.io.File(t, "_SUCCESS").delete()
      }
    }
    assert(e.getMessage.contains("marksuccessfuljobs"))
    // the pre-publish epochs survived untouched and e1 is still live
    assert(epochDirs(base).intersect(Set("e0", "e1")) == Set("e0", "e1"))
    assert(readIds(EpochDir.live(spark, base)) == Set(2L))
  }

  test("retain widens the grace window for lagging readers") {
    val base = tmpDir("epoch_retain") + "/idx"
    for (i <- 0 to 3)
      EpochDir.publish(spark, base, retain = 2)(t =>
        writeEpoch(t, Seq(i.toLong)))
    // retain=2: epochs 1 and 2 survive as grace beside live e3
    assert(epochDirs(base) == Set("e1", "e2", "e3"))
    // a reader that resolved two publishes ago can still finish
    assert(readIds(s"$base/e1") == Set(1L))
    assert(readIds(EpochDir.live(spark, base)) == Set(3L))
    // default retain=1 on the next publish shrinks the window back
    EpochDir.publish(spark, base)(t => writeEpoch(t, Seq(4L)))
    assert(epochDirs(base) == Set("e3", "e4"))
  }

  test("an uncommitted epoch is invisible and the next publish writes over it") {
    // Crash model: a publish died mid-write, leaving an epoch dir
    // WITHOUT _SUCCESS. The resolver must ignore it and the next publish
    // must land cleanly in its place.
    val base = tmpDir("epoch_debris") + "/idx"
    EpochDir.publish(spark, base)(t => writeEpoch(t, Seq(1L, 2L)))
    val live0 = EpochDir.live(spark, base)
    assert(live0.endsWith("/e0"))
    new java.io.File(s"$base/e1/part=0").mkdirs()
    new java.io.File(s"$base/e1/part=0/torn.parquet").createNewFile()
    assert(EpochDir.live(spark, base) == live0,
      "uncommitted epoch must be invisible")
    assert(EpochDir.epochs(spark, base) == Seq(0L))
    assert(readIds(EpochDir.live(spark, base)) == Set(1L, 2L))
    EpochDir.publish(spark, base)(t => writeEpoch(t, Seq(3L)))
    assert(EpochDir.live(spark, base).endsWith("/e1"))
    assert(readIds(EpochDir.live(spark, base)) == Set(3L),
      "the debris must not leak into the published epoch")
    assert(!new java.io.File(s"$base/e1/part=0").exists())
  }

  test("pinSnapshot: pinned epoch reads stay bit-identical while publishes land") {
    val base = tmpDir("epoch_pin_live") + "/idx"
    EpochDir.publish(spark, base, retain = 4)(t =>
      writeEpoch(t, 0L until 50L))
    // the pin: the epoch live at entry, superseded by the publish it runs
    val pin = EpochDir.pinSnapshot(spark, base)(
      EpochDir.publish(spark, base, retain = 4)(t =>
        writeEpoch(t, 0L until 60L)))
    assert(pin == 0L && EpochDir.epochs(spark, base) == Seq(0L, 1L))
    def pinned(): Seq[Long] = spark.read.parquet(EpochDir.at(spark, base, pin))
      .as[Long].collect().toSeq.sorted
    val expect = pinned()
    assert(expect == (0L until 50L))
    // a publisher lands three more epochs while a reader loop re-reads
    // the pinned one: every read must equal the snapshot
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val publisher = new Thread(() =>
      try Seq(70L, 80L, 90L).foreach(n =>
        EpochDir.publish(spark, base, retain = 4)(t =>
          writeEpoch(t, 0L until n)))
      catch { case t: Throwable => errs.add(t) })
    @volatile var stop = false
    val reads = new java.util.concurrent.atomic.AtomicInteger
    val reader = new Thread(() =>
      try while (!stop) {
        assert(pinned() == expect, "pinned read saw another snapshot")
        reads.incrementAndGet()
      } catch { case t: Throwable => errs.add(t) })
    reader.start(); publisher.start()
    publisher.join()
    stop = true; reader.join()
    assert(errs.isEmpty, s"pinned-read race errored: ${errs.peek()}")
    assert(reads.get() > 0, "the reader must have read during the publishes")
    assert(pinned() == expect, "pinned epoch changed after the publishes")
    assert(readIds(EpochDir.live(spark, base)) == (0L until 90L).toSet,
      "the live epoch moves on; the pin froze only the snapshot")
  }

  test("retain=3 keeps a reader lagging THREE publishes alive; the fourth retires it") {
    // a query that resolved its epoch path long ago (planned, then
    // stalled) must still find every file through `retain` subsequent
    // publishes — and strand only at retain+1
    val base = tmpDir("epoch_retain3") + "/idx"
    EpochDir.publish(spark, base, retain = 3)(t => writeEpoch(t, Seq(0L)))
    val lagged = EpochDir.live(spark, base)
    for (i <- 1 to 3)
      EpochDir.publish(spark, base, retain = 3)(t =>
        writeEpoch(t, Seq(i.toLong)))
    assert(EpochDir.live(spark, base).endsWith("/e3"))
    assert(readIds(lagged) == Set(0L),
      "a reader inside the retain=3 grace window lost its files")
    EpochDir.publish(spark, base, retain = 3)(t => writeEpoch(t, Seq(4L)))
    assert(!new java.io.File(lagged.stripPrefix("file:")).exists(),
      "epoch e0 must fall out of the retain=3 window at the 4th publish")
    assert(epochDirs(base) == Set("e1", "e2", "e3", "e4"))
  }
}
