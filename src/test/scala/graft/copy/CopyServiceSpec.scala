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

  /** `parts` of `df` (keyed by string columns `keys`) copied as one
    * wave into a fresh root, then read back as per-partition counts.
    */
  private def copyAndReadWave(df: org.apache.spark.sql.DataFrame,
      parts: Seq[PartitionId],
      keys: Seq[String] = Seq("k")): Map[PartitionId, Long] = {
    val root = tmpDir("wave") + "/t"
    CopyService.copyWave(df, keys, parts, root)
    CopyService.readBack(spark, root, df.schema, keys, parts)(
      Partitions.countsByPartition(_, keys))
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
    // a composite key with a NULL component: struct equality matches
    // NULL fields to NULL fields, and (x, y) stays out of (x, NULL)
    val pairs = Seq((1L, Option("x"), Option("y")), (2L, Option("x"), None),
      (3L, Option("x"), None), (4L, None, None), (5L, None, Option("y")))
      .toDF("id", "k1", "k2")
    val pairParts = Partitions.enumeratePartitions(pairs, Seq("k1", "k2"))
    assert(copyAndReadWave(pairs, pairParts, Seq("k1", "k2")) == Map(
      PartitionId(Seq("x", "y")) -> 1L, PartitionId(Seq("x", null)) -> 2L,
      PartitionId(Seq(null, null)) -> 1L, PartitionId(Seq(null, "y")) -> 1L))
  }

  test("a 2,000-partition wave is filtered by one IN, not an OR tree") {
    import org.apache.spark.sql.catalyst.expressions.{In, InSet, Or}
    import org.apache.spark.sql.catalyst.plans.logical.Filter
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val df = spark.range(2000)
      .select(col("id"), (col("id") % 1000).cast("string").as("k1"),
        (col("id") / 1000).cast("long").cast("string").as("k2"))
    Seq(Seq("k1"), Seq("k1", "k2")).foreach { keys =>
      val wave = (0 until 2000).map(i =>
        PartitionId(if (keys.size == 1) Seq(i.toString)
          else Seq((i % 1000).toString, (i / 1000).toString)))
      @volatile var planned: Option[QueryExecution] = None
      val listener = new QueryExecutionListener {
        def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
          if (qe.optimizedPlan.exists(_.isInstanceOf[Filter])) planned = Some(qe)
        def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      try {
        CopyService.copyWave(df, keys, wave, tmpDir("in") + "/t")
        val deadline = System.nanoTime() + 10_000_000_000L
        while (planned.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
      } finally spark.listenerManager.unregister(listener)
      val conds = planned.toSeq.flatMap(_.optimizedPlan.collect {
        case f: Filter => f.condition })
      val ins = conds.flatMap(_.collect { case e @ (_: In | _: InSet) => e })
      assert(ins.size == 1, s"$keys: ${conds.mkString("; ").take(300)}")
      assert(conds.forall(_.find(_.isInstanceOf[Or]).isEmpty),
        s"$keys: OR in ${conds.mkString("; ").take(300)}")
    }
  }
}
