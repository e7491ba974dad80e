package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkFunSuite
import graft.model.{PartitionId, TableRef}

/** Exercises the catalog surface end-to-end against spark_catalog: the
  * DDL lifecycle (create → insert partitions → enumerate → drop
  * partition → rename → drop, the reference's A5-A14 on a real catalog
  * table), schema drift and view resolution.
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
}
