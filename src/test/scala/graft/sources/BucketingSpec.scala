package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkFunSuite
import graft.model.TableRef

/** Bucketed co-located joins: the write-once-shuffle-never contract.
  * Also covers the ORC source round-trip (same columnar scan machinery
  * as parquet).
  */
class BucketingSpec extends SparkFunSuite {

  test("same-bucketed tables join with zero exchanges; result matches shuffle join") {
    val s = spark
    s.sql("CREATE DATABASE IF NOT EXISTS graft_test")
    val ordersT = TableRef("graft_test", "orders_b")
    val custT = TableRef("graft_test", "cust_b")
    val orders = s.read.parquet(s"$sf0001/orders.parquet")
    val cust = s.read.parquet(s"$sf0001/customer.parquet")
    try {
      CatalogOps.writeBucketed(orders, ordersT,
        Seq("o_custkey"), 8, sortCols = Seq("o_custkey"))
      CatalogOps.writeBucketed(cust, custT,
        Seq("c_custkey"), 8, sortCols = Seq("c_custkey"))

      // Disable broadcast so the join must rely on the bucket layout.
      val prev = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val joined = s.table(ordersT.qualified)
          .join(s.table(custT.qualified),
            col("o_custkey") === col("c_custkey"))
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n"), sum("o_totalprice").as("rev"))
        joined.collect()
        val plan = joined.queryExecution.executedPlan.toString
        // SortMergeJoin fed directly by the bucketed scans: neither join
        // key is ever hash-partitioned by an exchange (the only exchange
        // in the plan is the final aggregate's, on c_mktsegment).
        assert(plan.contains("SortMergeJoin"), plan)
        assert(!plan.contains("hashpartitioning(o_custkey"), plan)
        assert(!plan.contains("hashpartitioning(c_custkey"), plan)
        assert(plan.contains("SelectedBucketsCount"), plan)

        // same result as the plain shuffle join over the raw parquet
        val expected = orders.join(cust, col("o_custkey") === col("c_custkey"))
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n"), sum("o_totalprice").as("rev"))
          .collect().map(r => (r.getString(0), r.getLong(1))).toMap
        val got = joined.collect().map(r => (r.getString(0), r.getLong(1))).toMap
        assert(got == expected)
      } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    } finally Seq(ordersT, custT).foreach(t =>
      s.sql(s"DROP TABLE IF EXISTS ${t.qualified}"))
  }

  test("ORC round-trip preserves schema and rows") {
    val dir = tmpDir("orc")
    val nation = spark.read.parquet(s"$sf0001/nation.parquet")
    nation.write.mode("overwrite").orc(s"$dir/nation.orc")
    val back = Sources.orc(spark, s"$dir/nation.orc")
    assert(back.schema == nation.schema)
    assert(back.orderBy("n_nationkey").collect().toSeq ==
      nation.orderBy("n_nationkey").collect().toSeq)
  }
}
