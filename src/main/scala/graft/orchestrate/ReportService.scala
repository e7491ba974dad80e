package graft.orchestrate

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import graft.model._

/** JSON migration report with the reference's field names
  * (reference: clickhouse_migrator/services/report.py:37-62: migration_info
  * + results incl. per-partition check_results + summary counts). The
  * reference's `start_time` quirk — report-generation time, not run start
  * (report.py:42) — is fixed by threading the real start time.
  *
  * Every JSON report the CLI writes (migration, dq, vacuum, curate)
  * goes through this one mapper, so string values are escaped by the
  * JSON writer, never by hand.
  */
object ReportService {

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Pretty-printed JSON of Java or Scala maps, sequences and options
    * (an option renders as its value or null; a `ListMap` keeps its
    * field order).
    */
  private def json(value: Any): String =
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(value)

  /** Write `json(value)` to `<reportDir>/<fileName>`. */
  def writeJson(reportDir: String, fileName: String, value: Any): Path = {
    val dir = Paths.get(reportDir)
    Files.createDirectories(dir)
    val path = dir.resolve(fileName)
    Files.writeString(path, json(value))
    path
  }

  def toJson(report: MigrationReport, startTimeMillis: Long): String =
    json(tree(report, startTimeMillis))

  private def tree(report: MigrationReport,
      startTimeMillis: Long): java.util.Map[String, Object] = {
    val root = new java.util.LinkedHashMap[String, Object]()

    val info = new java.util.LinkedHashMap[String, Object]()
    info.put("mode", report.mode)
    info.put("database", report.db)
    info.put("start_time", java.time.Instant.ofEpochMilli(startTimeMillis).toString)
    info.put("end_time", java.time.Instant.now().toString)
    root.put("migration_info", info)

    val results = report.results.map { r =>
      val m = new java.util.LinkedHashMap[String, Object]()
      m.put("database", r.table.db)
      m.put("table", r.table.table)
      m.put("status", r.status.name)
      m.put("total_partitions", Int.box(r.totalPartitions))
      m.put("completed_partitions", Int.box(r.completedPartitions))
      m.put("migrated_rows", Long.box(r.migratedRows))
      r.error.foreach(e => m.put("error", e))
      val checks = r.checkResults.map { c =>
        val cm = new java.util.LinkedHashMap[String, Object]()
        cm.put("partition", c.partition)
        cm.put("src_count", Long.box(c.srcCount))
        cm.put("dst_count", Long.box(c.dstCount))
        cm.put("passed", Boolean.box(c.passed))
        cm.put("cost_time", Double.box(c.costTime))
        cm
      }.asJava
      m.put("check_results", checks)
      m
    }.asJava
    root.put("results", results)

    // Summary = the reference's client-side status group-by (report.py:20-23).
    val summary = new java.util.LinkedHashMap[String, Object]()
    summary.put("total_tables", Int.box(report.results.size))
    summary.put("completed", Int.box(report.completedCount))
    summary.put("failed", Int.box(report.failedCount))
    summary.put("skipped", Int.box(report.skippedCount))
    root.put("summary", summary)
    root
  }

  /** Write `reports/…_migration_report_{ts}.json` (report.py:64-83). */
  def write(report: MigrationReport, reportDir: String,
      startTimeMillis: Long): Path = {
    val ts = java.time.format.DateTimeFormatter
      .ofPattern("yyyyMMdd_HHmmss")
      .withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.now())
    writeJson(reportDir, s"graft_migration_report_$ts.json",
      tree(report, startTimeMillis))
  }
}
