package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkFunSuite
import graft.model.PartitionId

class ValidateSpec extends SparkFunSuite {

  private def li = spark.read.parquet(s"$sf0001/lineitem.parquet")
    .withColumn("part", date_format(col("l_shipdate"), "yyyy-MM"))

  test("checksum gate passes for a faithful copy, fails for a corrupted one") {
    val src = Validate.checksumByPartition(li, Seq("part"))
    // faithful copy: same data, different row order / partitioning
    val copy = li.repartition(7).sortWithinPartitions("l_quantity")
    val dst = Validate.checksumByPartition(copy, Seq("part"))
    assert(Validate.checksumsMatch(src, dst))

    // corrupted copy: same COUNTS but values changed in one partition —
    // the count gate would pass, the checksum gate must not.
    val corrupted = li.withColumn("l_quantity",
      when(col("part") === "1995-02", col("l_quantity") + 1)
        .otherwise(col("l_quantity")))
    val bad = Validate.checksumByPartition(corrupted, Seq("part"))
    assert(bad.values.map(_._1).sum == src.values.map(_._1).sum) // counts equal
    assert(!Validate.checksumsMatch(src, bad))
  }

  test("checksum detects a missing partition on either side") {
    val src = Validate.checksumByPartition(li, Seq("part"))
    val dst = Validate.checksumByPartition(
      li.filter(col("part") =!= "1995-01"), Seq("part"))
    assert(!Validate.checksumsMatch(src, dst))
    assert(!Validate.checksumsMatch(dst, src))
  }
}
