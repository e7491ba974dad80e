package graft.sources

import graft.SparkFunSuite
import graft.model.TableRef

/** Exercises the catalog surface against spark_catalog: existence,
  * schema drift and view resolution.
  */
class CatalogOpsSpec extends SparkFunSuite {

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
      assert(CatalogOps.tableExists(s, ref("rv_base")))
      assert(!CatalogOps.tableExists(s, ref("nope")))
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
