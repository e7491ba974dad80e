package graft.tools

import org.apache.spark.sql.functions.col

/** Forked-JVM appender for the CROSS-PROCESS single-writer soak
  * (CrossProcessSoakSpec): appends a half-open `vec_id` range of an
  * embeddings parquet into one shared dir-backed IVF index in `waves`
  * batches, compacting every `compactEvery` waves. Two of these run as
  * SEPARATE OPERATING-SYSTEM PROCESSES against ONE index — the only
  * thing serializing their append/compact cycles is the flock behind
  * [[graft.sources.IndexLock]] (the reference's cross-process lock
  * discipline, reference: clickhouse_migrator/utils/lock.py:27-101, at
  * the standing-index tier). Everything this main touches is
  * filesystem state (EpochDir epochs + centroid store + lock files):
  * no catalog, so no embedded-metastore single-JVM limit applies.
  *
  * Args: embParquet indexPath lockDir lo hi waves compactEvery
  * Exit 0 on success; any exception kills the JVM nonzero (the spec
  * asserts both exit codes).
  */
object CrossProcessSoak {
  def main(args: Array[String]): Unit = {
    require(args.length == 7, "usage: CrossProcessSoak <embParquet> " +
      "<indexPath> <lockDir> <lo> <hi> <waves> <compactEvery>")
    val Array(embParquet, indexPath, lockDir, loS, hiS, wavesS, everyS) = args
    val (lo, hi, waves, every) =
      (loS.toLong, hiS.toLong, wavesS.toInt, everyS.toInt)
    require(lo < hi && waves >= 1, s"bad range [$lo,$hi) x $waves")
    val pid = ProcessHandle.current().pid()
    // SPARK_GRAFT_MASTER lets the chaos harness run one of these under
    // real multi-JVM executors (local-cluster[n,c,mem]) and kill an
    // executor mid-ingest. cpus stays 4 whatever SPARK_GRAFT_CPUS says:
    // the soak spec's parallelism is part of what it proves.
    val spark = graft.GraftSession.build(s"graft-xsoak-$lo", 4,
      graft.GraftSession.envMaster(4))
    spark.conf.set(graft.sources.IndexLock.LockDirConf, lockDir)
    // contention is the POINT here: two processes' append/compact
    // cycles overlap constantly, so waiting on the peer's flock is
    // the expected steady state, not a stuck-writer signal
    spark.conf.set(graft.sources.IndexLock.TimeoutConf, "600")
    try {
      val emb = spark.read.parquet(embParquet)
      // standalone (chaos-harness) convenience: seed epoch 0 over
      // vec_id < lo when the index doesn't exist yet. The soak spec
      // seeds before forking, so contending processes never race this.
      val cellsPath = new org.apache.hadoop.fs.Path(s"$indexPath/cells")
      val cfs = cellsPath.getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      if (!cfs.exists(cellsPath)) {
        require(lo > 0, "seeding needs lo > 0 (seed corpus is vec_id < lo)")
        graft.operators.Similarity.writeIvfIndex(
          emb.filter(col("vec_id") < lo), indexPath, nlist = 8)
        println(s"[xsoak] pid=$pid seeded [0,$lo)")
      }
      val per = math.max(1L, (hi - lo) / waves)
      (0 until waves).foreach { w =>
        val a = lo + w * per
        val b = if (w == waves - 1) hi else math.min(hi, a + per)
        if (a < b) {
          graft.operators.Similarity.appendToIvfIndex(
            emb.filter(col("vec_id") >= a && col("vec_id") < b), indexPath)
          println(s"[xsoak] pid=$pid wave=$w appended [$a,$b)")
        }
        if (every > 0 && w % every == every - 1) {
          // retain=3: the spec's live reader plans against an epoch
          // with no way to pace the two uncoordinated compactors by
          // its in-flight searches, so the grace window carries it
          graft.operators.Similarity.compactIvfIndex(spark, indexPath,
            retain = 3)
          println(s"[xsoak] pid=$pid wave=$w compacted")
        }
      }
      println(s"[xsoak] pid=$pid done")
    } finally spark.stop()
  }
}
