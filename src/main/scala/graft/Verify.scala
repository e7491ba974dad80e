package graft
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional third arg: comma-separated query-name filter (local
    // iteration aid; the driver passes two args and gets the full dump).
    val filter: String => Boolean =
      if (args.length > 2) args(2).split(",").toSet else (_ => true)
    val spark = GraftSession.build("graft-verify")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => filter(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    graft.orchestrate.ReportService.writeJson(outDir, "oracle_sql.json",
      SparkEntry.oracleSql)
    spark.stop()
  }
}
