package graft.sources

import graft.SparkFunSuite

/** EpochDir lifecycle edges beyond CompactionSpec's happy path: the
  * rejected pre-epoch flat layout, the `_SUCCESS` commit-record
  * verification (the marksuccessfuljobs=false failure mode), and the
  * configurable grace retention.
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
}
