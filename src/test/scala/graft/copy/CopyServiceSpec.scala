package graft.copy

import org.apache.spark.sql.functions._

import graft.SparkFunSuite
import graft.model.PartitionId
import graft.operators.Partitions

/** Hive-path escaping and null-partition handling in the copy layer:
  * values containing '/', '=', '%XX' and nulls must round-trip through
  * write + partition discovery unchanged (ADVICE: raw `$k=$v` paths
  * corrupt the directory tree and partition-discovery unescaping mutates
  * values silently).
  */
class CopyServiceSpec extends SparkFunSuite {

  private val nastyValues =
    Seq("plain", "a/b", "k=v", "pct%2Fenc", "space y", "q'uote")

  test("partitionDir escapes '/', '=', '%' so one partition = one directory") {
    nastyValues.foreach { v =>
      val dir = CopyService.partitionDir(Seq("k"), PartitionId.single(v))
      assert(!dir.stripPrefix("k=").contains("/"), s"$v leaked a path separator: $dir")
      assert(!dir.stripPrefix("k=").contains("="), s"$v leaked '=': $dir")
    }
    // null renders as the Hive default-partition sentinel
    val nullDir = CopyService.partitionDir(Seq("k"), PartitionId(Seq(null)))
    assert(nullDir == "k=__HIVE_DEFAULT_PARTITION__")
  }

  test("nasty partition values round-trip through copy + partition discovery") {
    val s = spark
    import s.implicits._
    val df = nastyValues.zipWithIndex
      .map { case (v, i) => (i.toLong, v) }
      .toDF("id", "k")
    val root = tmpDir("esc") + "/t"
    val parts = Partitions.enumeratePartitions(df, Seq("k"))
    assert(parts.size == nastyValues.size)
    parts.foreach { p =>
      CopyService.copyPartition(df, Seq("k"), p, Seq(col("k")), root)
      // per-partition count sees exactly the partition's rows
      assert(CopyService.countPartitionDir(spark, root, Seq("k"), p) == 1L)
    }
    // Spark partition discovery unescapes back to the original values
    val back = spark.read.option("basePath", root).parquet(root)
    assert(back.count() == nastyValues.size.toLong)
    val readBack = back.select("k").collect().map(_.getString(0)).toSet
    assert(readBack == nastyValues.toSet)
    // the same values as ONE wave: one copy job, one read-back job
    assert(copyAndReadWave(df, parts) == parts.map(_ -> 1L).toMap)
  }

  /** `parts` of `df` (keyed by string column `k`) copied as one wave
    * into a fresh root, then read back as per-partition counts.
    */
  private def copyAndReadWave(df: org.apache.spark.sql.DataFrame,
      parts: Seq[PartitionId]): Map[PartitionId, Long] = {
    val root = tmpDir("wave") + "/t"
    CopyService.copyWave(df, Seq("k"), parts, root)
    CopyService.readBack(spark, root, df.schema, Seq("k"), parts)(
      Partitions.countsByPartition(_, Seq("k")))
  }

  test("null partition value selects IS NULL rows, not an empty copy") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, Option("x")), (2L, None), (3L, None))
      .toDF("id", "k")
    val root = tmpDir("nullpart") + "/t"
    val parts = Partitions.enumeratePartitions(df, Seq("k"))
    assert(parts.exists(_.values.head == null))
    parts.foreach(p =>
      CopyService.copyPartition(df, Seq("k"), p, Seq(col("k")), root))
    val nullPart = parts.find(_.values.head == null).get
    assert(CopyService.countPartitionDir(spark, root, Seq("k"), nullPart) == 2L)
    val back = spark.read.option("basePath", root).parquet(root)
    assert(back.count() == 3L)
    assert(back.filter(col("k").isNull).count() == 2L)
    assert(copyAndReadWave(df, parts) ==
      Map(PartitionId(Seq(null)) -> 2L, PartitionId.single("x") -> 1L))
  }
}
