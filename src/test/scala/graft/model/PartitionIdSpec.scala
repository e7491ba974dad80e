package graft.model

import org.scalatest.funsuite.AnyFunSuite

/** FIXTURES.md §B1 cases: partition-value parsing/rendering semantics
  * derived from the reference's quoting heuristics
  * (reference: clickhouse_migrator/services/partition.py:38-102).
  */
class PartitionIdSpec extends AnyFunSuite {

  test("numeric single partition renders unquoted") {
    assert(PartitionId.single("20240101").render == "20240101")
  }

  test("date-string single partition renders quoted") {
    assert(PartitionId.single("2024-01-01").render == "'2024-01-01'")
  }

  test("pre-quoted value is not double-quoted") {
    assert(PartitionId.single("'2024-01-01'").render == "'2024-01-01'")
  }

  test("composite renders as tuple literal") {
    assert(PartitionId(Seq("2024-01-01", "novel")).render ==
      "('2024-01-01','novel')")
  }

  test("mixed numeric composite keeps numerics bare") {
    assert(PartitionId(Seq("2024", "1")).render == "(2024,1)")
  }

  test("parse single numeric") {
    assert(PartitionId.parse("20240101") == PartitionId(Seq("20240101")))
  }

  test("parse composite tuple") {
    assert(PartitionId.parse("('2024-01-01','novel')") ==
      PartitionId(Seq("2024-01-01", "novel")))
  }

  test("parse composite with quoted comma does not split inside quotes") {
    assert(PartitionId.parse("('2024-01-01','a,b')") ==
      PartitionId(Seq("2024-01-01", "a,b")))
  }

  test("parse mixed-type tuple") {
    assert(PartitionId.parse("(2024,1)") == PartitionId(Seq("2024", "1")))
  }

  test("render/parse round-trips") {
    val cases = Seq(
      PartitionId(Seq("20240101")),
      PartitionId(Seq("2024-01-01")),
      PartitionId(Seq("2024-01-01", "novel")),
      PartitionId(Seq("2024", "1")),
      PartitionId(Seq("2024-01-01", "a,b")),
      PartitionId(Seq(null)),
      PartitionId(Seq("NULL")),
      PartitionId(Seq("2024-01-01", null)))
    cases.foreach(p => assert(PartitionId.parse(p.render) == p))
  }

  test("backup name derivation") {
    assert(TableRef("db", "t").backup() == TableRef("db", "t_backup_s3"))
  }
}
