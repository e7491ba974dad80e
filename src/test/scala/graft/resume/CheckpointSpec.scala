package graft.resume

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.model.{PartitionId, TableStatus}

class CheckpointSpec extends AnyFunSuite {

  private def fresh() = new Checkpoint(
    Files.createTempDirectory("ckpt").resolve("migration_progress.json"))

  test("load of missing file is empty") {
    assert(fresh().load().isEmpty)
  }

  test("markPartition round-trips and is idempotent") {
    val c = fresh()
    c.markPartition("db", "t", PartitionId.single("2024-01"))
    c.markPartition("db", "t", PartitionId.single("2024-02"))
    c.markPartition("db", "t", PartitionId.single("2024-01")) // dup ignored
    val p = c.tableProgress("db", "t").get
    assert(p.completedPartitions == Seq("'2024-01'", "'2024-02'"))
    assert(p.status == TableStatus.Running)
  }

  test("markPartitions leaves the file a markPartition loop would") {
    val wave = Seq("2024-01", "2024-02", "2024-01", "2024-03").map(PartitionId.single)
    val one = fresh()
    one.markPartition("db", "t", PartitionId.single("2024-02"))
    wave.foreach(one.markPartition("db", "t", _))
    val batched = fresh()
    batched.markPartition("db", "t", PartitionId.single("2024-02"))
    batched.markPartitions("db", "t", wave)
    assert(batched.load() == one.load())
    assert(batched.tableProgress("db", "t").get.completedPartitions ==
      Seq("'2024-02'", "'2024-01'", "'2024-03'"))
  }

  test("composite and numeric partitions render CH-style in the file") {
    val c = fresh()
    c.markPartition("db", "t", PartitionId(Seq("2024-01-01", "novel")))
    c.markPartition("db", "t", PartitionId.single("20240101"))
    val p = c.tableProgress("db", "t").get
    assert(p.completedPartitions == Seq("('2024-01-01','novel')", "20240101"))
    // parses back to the same ids
    assert(p.completedSet == Set(
      PartitionId(Seq("2024-01-01", "novel")), PartitionId(Seq("20240101"))))
  }

  test("uncompleted: running table skips done, completed table skips all") {
    val c = fresh()
    val all = Seq("2024-01", "2024-02", "2024-03").map(PartitionId.single)
    assert(c.uncompleted("db", "t", all) == all) // table absent → all
    c.markPartition("db", "t", PartitionId.single("2024-02"))
    assert(c.uncompleted("db", "t", all) ==
      Seq("2024-01", "2024-03").map(PartitionId.single))
    c.markStatus("db", "t", TableStatus.Completed)
    assert(c.uncompleted("db", "t", all).isEmpty)
  }

  test("status marking persists") {
    val c = fresh()
    c.initTable("db", "t")
    c.markStatus("db", "t", TableStatus.Failed)
    assert(c.tableProgress("db", "t").get.status == TableStatus.Failed)
  }

  test("two tables in two dbs don't clobber each other") {
    val c = fresh()
    c.markPartition("db1", "a", PartitionId.single("1"))
    c.markPartition("db2", "b", PartitionId.single("2"))
    assert(c.tableProgress("db1", "a").get.completedPartitions == Seq("1"))
    assert(c.tableProgress("db2", "b").get.completedPartitions == Seq("2"))
  }

  test("save leaves no temp droppings and survives reload") {
    val dir = Files.createTempDirectory("ckpt2")
    val path = dir.resolve("p.json")
    val c = new Checkpoint(path)
    (1 to 20).foreach(i => c.markPartition("db", "t", PartitionId.single(i.toString)))
    val reloaded = new Checkpoint(path).tableProgress("db", "t").get
    assert(reloaded.completedPartitions.size == 20)
    val leftovers = Files.list(dir).filter(p =>
      p.getFileName.toString.endsWith(".tmp")).count()
    assert(leftovers == 0)
  }
}
