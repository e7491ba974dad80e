package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkFunSuite
import graft.model.{PartitionId, TableRef}

/** Exercises the catalog surface end-to-end against spark_catalog: the
  * DDL lifecycle (create → insert partitions → enumerate → drop
  * partition → rename → drop, the reference's A5-A14 on a real catalog
  * table), schema drift, view resolution and the epoch-view lifecycle
  * (publish, grace retention, crash debris, snapshot pins).
  */
class CatalogOpsSpec extends SparkFunSuite {

  test("catalog lifecycle: create/insert/enumerate/drop-partition/rename/drop") {
    val s = spark
    s.sql("CREATE DATABASE IF NOT EXISTS graft_test")
    val src = TableRef("graft_test", "li_src")
    val bak = TableRef("graft_test", "li_bak")
    val renamed = TableRef("graft_test", "li_final")
    try {
      // source: a managed partitioned table from testdata
      val li = s.read.parquet(s"$sf0001/lineitem.parquet")
        .withColumn("l_month", date_format(col("l_shipdate"), "yyyy-MM"))
        .filter(col("l_month") < "1995-04") // 3 partitions
      CatalogOps.dropTable(s, src); CatalogOps.dropTable(s, bak)
      CatalogOps.dropTable(s, renamed)
      li.write.partitionBy("l_month").saveAsTable(src.qualified)

      assert(CatalogOps.tableExists(s, src))
      assert(!CatalogOps.tableExists(s, TableRef("graft_test", "nope")))
      assert(CatalogOps.listDataTables(s, "graft_test").contains("li_src"))
      assert(CatalogOps.schemaOf(s, src).fieldNames.contains("l_month"))

      // backup table clone (empty, same structure)
      CatalogOps.createBackupTable(s, src, bak, partitionKeys = Seq("l_month"))
      assert(CatalogOps.schemaOf(s, bak).fieldNames.sorted.sameElements(
        CatalogOps.schemaOf(s, src).fieldNames.sorted))

      // partition-wise copy with dynamic overwrite (idempotent: run twice)
      val parts = CatalogOps.listPartitions(s, src, Seq("l_month"))
      assert(parts.size == 3)
      CatalogOps.insertPartition(s, bak, s.table(src.qualified))
      CatalogOps.insertPartition(s, bak, s.table(src.qualified)) // retry
      assert(s.table(bak.qualified).count() == li.count())

      // drop one partition from the backup
      CatalogOps.dropPartition(s, bak, Seq("l_month"), PartitionId.single("1995-01"))
      val after = CatalogOps.listPartitions(s, bak, Seq("l_month"))
      assert(after.map(_.values.head) == Seq("1995-02", "1995-03"))

      // swap: rename backup into place
      CatalogOps.dropTable(s, src)
      CatalogOps.renameTable(s, bak, renamed)
      assert(CatalogOps.tableExists(s, renamed))
      assert(!CatalogOps.tableExists(s, bak))
    } finally {
      Seq(src, bak, renamed).foreach(CatalogOps.dropTable(s, _))
    }
  }

  test("schemaDiff: added/removed/changed columns, order-insensitive") {
    import org.apache.spark.sql.types._
    val src = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("qty", DoubleType),
      StructField("note", StringType)))
    // same columns reordered → no drift
    assert(CatalogOps.schemaDiff(src,
      StructType(src.fields.reverse.toSeq)).isEmpty)
    val dst = StructType(Seq(
      StructField("id", LongType), // nullability drift
      StructField("qty", DecimalType(18, 2)), // type drift
      StructField("legacy", StringType))) // note added, legacy removed
    val diff = CatalogOps.schemaDiff(src, dst)
    assert(diff == Seq(
      ("id", "changed", "bigint not null", "bigint"),
      ("legacy", "removed", "", "string"),
      ("note", "added", "string", ""),
      ("qty", "changed", "double", "decimal(18,2)")))
  }

  test("epoch views: publish/resolve/advance/grace-purge/drop lifecycle") {
    val s = spark
    import s.implicits._
    s.sql("CREATE DATABASE IF NOT EXISTS graft_test")
    val ref = TableRef("graft_test", "epoch_unit")
    try {
      assert(CatalogOps.currentEpoch(s, ref).isEmpty)
      // epoch 0: readers resolve the view; the live epoch table is e0
      CatalogOps.publishEpoch(s, ref)(e =>
        Seq((1L, "a")).toDF("k", "v").write.saveAsTable(e.qualified))
      assert(CatalogOps.currentEpoch(s, ref).contains(0L))
      assert(CatalogOps.liveEpochTable(s, ref) == CatalogOps.epochRef(ref, 0))
      assert(s.table(ref.qualified).count() == 1)
      // epoch 1: the view flips atomically; e0 is retained as grace
      CatalogOps.publishEpoch(s, ref)(e =>
        Seq((1L, "a"), (2L, "b")).toDF("k", "v")
          .write.saveAsTable(e.qualified))
      assert(CatalogOps.currentEpoch(s, ref).contains(1L))
      assert(s.table(ref.qualified).count() == 2)
      assert(CatalogOps.tableExists(s, CatalogOps.epochRef(ref, 0)),
        "the superseded epoch must survive one publish as reader grace")
      // epoch 2: e0 falls out of the grace window
      CatalogOps.publishEpoch(s, ref)(e =>
        Seq((3L, "c")).toDF("k", "v").write.saveAsTable(e.qualified))
      assert(CatalogOps.currentEpoch(s, ref).contains(2L))
      assert(!CatalogOps.tableExists(s, CatalogOps.epochRef(ref, 0)))
      assert(CatalogOps.tableExists(s, CatalogOps.epochRef(ref, 1)))
      // teardown removes the view and every epoch table
      CatalogOps.dropEpochIndex(s, ref)
      assert(!CatalogOps.tableExists(s, ref))
      (0 to 2).foreach(n => assert(
        !CatalogOps.tableExists(s, CatalogOps.epochRef(ref, n))))
    } finally CatalogOps.dropEpochIndex(s, ref)
  }

  test("publishEpoch refuses a name bound to a plain TABLE, table intact") {
    val s = spark
    import s.implicits._
    s.sql("CREATE DATABASE IF NOT EXISTS graft_test")
    val ref = TableRef("graft_test", "epoch_plain")
    def cleanup(): Unit = {
      if (CatalogOps.tableExists(s, ref) &&
          s.catalog.getTable(ref.db, ref.table).tableType != "VIEW")
        CatalogOps.dropTable(s, ref)
      CatalogOps.dropEpochIndex(s, ref)
    }
    try {
      // pre-epoch layout: the index name bound to a plain TABLE
      cleanup()
      Seq((1L, "old")).toDF("k", "v").write.saveAsTable(ref.qualified)
      // reads through currentEpoch/liveEpochTable fail with an explicit
      // migration message, not a misleading "view does not exist"
      val e = intercept[IllegalStateException](CatalogOps.currentEpoch(s, ref))
      assert(e.getMessage.contains("pre-epoch layout"))
      var wrote = false
      val p = intercept[IllegalStateException] {
        CatalogOps.publishEpoch(s, ref) { t =>
          wrote = true
          Seq((2L, "new")).toDF("k", "v").write.saveAsTable(t.qualified)
        }
      }
      assert(p.getMessage.contains("pre-epoch layout"), p.getMessage)
      assert(!wrote && CatalogOps.epochs(s, ref).isEmpty)
      assert(s.catalog.getTable(ref.db, ref.table).tableType != "VIEW")
      assert(s.table(ref.qualified).as[(Long, String)].collect().toSeq ==
        Seq((1L, "old")), "the plain table must be left as it was")
    } finally cleanup()
  }

  test("resolveToBaseTable: views (nested too) resolve to the single base; join views fail") {
    val s = spark
    import s.implicits._
    s.sql("CREATE DATABASE IF NOT EXISTS graft_test")
    def ref(n: String) = TableRef("graft_test", n)
    try {
      Seq((1L, "a")).toDF("k", "v").write
        .mode("overwrite").saveAsTable("graft_test.rv_base")
      s.sql("CREATE OR REPLACE VIEW graft_test.rv_v1 AS " +
        "SELECT * FROM graft_test.rv_base")
      s.sql("CREATE OR REPLACE VIEW graft_test.rv_v2 AS " +
        "SELECT k FROM graft_test.rv_v1 WHERE k > 0")
      // a plain table resolves to itself; one and two levels of view
      // indirection both land on the physical base (structural plan
      // resolution — nesting depth is free)
      assert(CatalogOps.resolveToBaseTable(s, ref("rv_base")) == ref("rv_base"))
      assert(CatalogOps.resolveToBaseTable(s, ref("rv_v1")) == ref("rv_base"))
      assert(CatalogOps.resolveToBaseTable(s, ref("rv_v2")) == ref("rv_base"))
      // a join view has no single migratable base
      Seq(1L).toDF("k").write.mode("overwrite")
        .saveAsTable("graft_test.rv_other")
      s.sql("CREATE OR REPLACE VIEW graft_test.rv_join AS " +
        "SELECT a.k FROM graft_test.rv_base a " +
        "JOIN graft_test.rv_other b ON a.k = b.k")
      val e = intercept[IllegalArgumentException](
        CatalogOps.resolveToBaseTable(s, ref("rv_join")))
      assert(e.getMessage.contains("2 base tables"))
    } finally {
      Seq("rv_join", "rv_v2", "rv_v1").foreach(v =>
        s.sql(s"DROP VIEW IF EXISTS graft_test.$v"))
      Seq("rv_base", "rv_other").foreach(t =>
        s.sql(s"DROP TABLE IF EXISTS graft_test.$t"))
    }
  }

  test("epoch views: UNMARKED orphan debris is dropped, never rebound live (ADVICE r18)") {
    val s = spark
    import s.implicits._
    s.sql("CREATE DATABASE IF NOT EXISTS graft_test")
    val ref = TableRef("graft_test", "epoch_debris")
    try {
      CatalogOps.dropEpochIndex(s, ref)
      // a first-epoch saveAsTable that died before CREATE VIEW leaves
      // an orphan __e0 WITHOUT the adoption marker — possibly partial
      // data. Recovery must NOT rebind the view over it (which would
      // publish torn data live); it drops the debris and the publish
      // writes epoch 0 fresh.
      Seq((1L, "torn")).toDF("k", "v")
        .write.saveAsTable(CatalogOps.epochRef(ref, 0).qualified)
      assert(!CatalogOps.tableExists(s, ref))
      CatalogOps.publishEpoch(s, ref)(t =>
        Seq((2L, "fresh")).toDF("k", "v").write.saveAsTable(t.qualified))
      assert(CatalogOps.currentEpoch(s, ref).contains(0L),
        "debris must not advance the epoch counter")
      assert(s.table(ref.qualified).as[(Long, String)].collect().toSeq ==
        Seq((2L, "fresh")), "the torn write must never be served")
    } finally CatalogOps.dropEpochIndex(s, ref)
  }

  test("epoch views: base names carrying the reserved __e infix are rejected") {
    val s = spark
    s.sql("CREATE DATABASE IF NOT EXISTS graft_test")
    val bad = TableRef("graft_test", "idx__e2")
    val e = intercept[IllegalArgumentException] {
      CatalogOps.publishEpoch(s, bad)(_ => ())
    }
    assert(e.getMessage.contains("__e<digits>"))
    assert(!CatalogOps.tableExists(s, bad))
  }

  test("epoch views: epochs()/tableAtEpoch pin reads to a snapshot; purged pins fail loud") {
    val s = spark
    import s.implicits._
    s.sql("CREATE DATABASE IF NOT EXISTS graft_test")
    val ref = TableRef("graft_test", "epoch_pin")
    try {
      CatalogOps.dropEpochIndex(s, ref)
      for (i <- 0 to 2)
        CatalogOps.publishEpoch(s, ref, retain = 2)(t =>
          Seq(i.toLong).toDF("k").write.saveAsTable(t.qualified))
      assert(CatalogOps.epochs(s, ref) == Seq(0L, 1L, 2L))
      assert(CatalogOps.tableAtEpoch(s, ref, 1).as[Long].collect().toSeq
        == Seq(1L))
      // a run pins epoch 1; a publish lands; the pinned read is
      // unchanged while the view moved
      CatalogOps.publishEpoch(s, ref, retain = 2)(t =>
        Seq(3L).toDF("k").write.saveAsTable(t.qualified))
      assert(CatalogOps.tableAtEpoch(s, ref, 1).as[Long].collect().toSeq
        == Seq(1L), "a pinned snapshot must survive a concurrent publish")
      assert(s.table(ref.qualified).as[Long].collect().toSeq == Seq(3L))
      val e = intercept[IllegalArgumentException](
        CatalogOps.tableAtEpoch(s, ref, 0))
      assert(e.getMessage.contains("retain"))
    } finally CatalogOps.dropEpochIndex(s, ref)
  }

  test("epoch views: retain widens the grace window") {
    val s = spark
    import s.implicits._
    s.sql("CREATE DATABASE IF NOT EXISTS graft_test")
    val ref = TableRef("graft_test", "epoch_retain")
    try {
      CatalogOps.dropEpochIndex(s, ref)
      for (i <- 0 to 3)
        CatalogOps.publishEpoch(s, ref, retain = 2)(t =>
          Seq(i.toLong).toDF("k").write.saveAsTable(t.qualified))
      // retain=2: epochs 1 and 2 survive as grace beside live e3
      assert(CatalogOps.currentEpoch(s, ref).contains(3L))
      assert(!CatalogOps.tableExists(s, CatalogOps.epochRef(ref, 0)))
      assert(CatalogOps.tableExists(s, CatalogOps.epochRef(ref, 1)))
      assert(CatalogOps.tableExists(s, CatalogOps.epochRef(ref, 2)))
      // a reader lagging two publishes still resolves its epoch table
      assert(s.table(CatalogOps.epochRef(ref, 1).qualified)
        .as[Long].head() == 1L)
    } finally CatalogOps.dropEpochIndex(s, ref)
  }

  test("epoch views: a crashed epoch publish is invisible and heals itself") {
    // Crash model: the next epoch TABLE materialized fully but the view
    // flip never ran. Readers keep answering from the referenced epoch;
    // the next publish drops the debris, rewrites it and flips.
    val s = spark
    import s.implicits._
    s.sql("CREATE DATABASE IF NOT EXISTS graft_test")
    val ref = TableRef("graft_test", "epoch_crash")
    try {
      CatalogOps.dropEpochIndex(s, ref)
      CatalogOps.publishEpoch(s, ref)(t =>
        Seq(1L, 2L).toDF("k").write.saveAsTable(t.qualified))
      Seq(99L).toDF("k").write
        .saveAsTable(CatalogOps.epochRef(ref, 1).qualified)
      assert(CatalogOps.currentEpoch(s, ref).contains(0L))
      assert(s.table(ref.qualified).as[Long].collect().toSet == Set(1L, 2L),
        "debris epoch must be invisible to readers")
      CatalogOps.publishEpoch(s, ref)(t =>
        Seq(1L, 2L, 3L).toDF("k").write.saveAsTable(t.qualified))
      assert(CatalogOps.currentEpoch(s, ref).contains(1L))
      assert(s.table(ref.qualified).as[Long].collect().toSet ==
        Set(1L, 2L, 3L), "the debris rows must never be served")
    } finally CatalogOps.dropEpochIndex(s, ref)
  }

  test("epoch views: pinSnapshot reads stay bit-identical while publishes land") {
    val s = spark
    import s.implicits._
    s.sql("CREATE DATABASE IF NOT EXISTS graft_test")
    val ref = TableRef("graft_test", "epoch_pin_live")
    def publish(n: Long): Unit = CatalogOps.publishEpoch(s, ref, retain = 4)(
      t => (0L until n).toDF("k").write.saveAsTable(t.qualified))
    try {
      CatalogOps.dropEpochIndex(s, ref)
      publish(50L)
      val pin = CatalogOps.pinSnapshot(s, ref)(publish(60L))
      assert(pin == 0L && CatalogOps.currentEpoch(s, ref).contains(1L))
      def pinned(): Seq[Long] = CatalogOps.tableAtEpoch(s, ref, pin)
        .as[Long].collect().toSeq.sorted
      val expect = pinned()
      assert(expect == (0L until 50L))
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val publisher = new Thread(() =>
        try Seq(70L, 80L, 90L).foreach(publish)
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
      assert(s.table(ref.qualified).count() == 90L,
        "the view moves on; the pin froze only the snapshot")
    } finally CatalogOps.dropEpochIndex(s, ref)
  }
}
