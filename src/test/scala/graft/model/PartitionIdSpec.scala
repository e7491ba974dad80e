package graft.model

import org.scalatest.funsuite.AnyFunSuite

/** FIXTURES.md §B1 cases: partition-value rendering semantics
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

  test("render is injective") {
    val cases = Seq(
      PartitionId(Seq("20240101")),
      PartitionId(Seq("2024-01-01")),
      PartitionId(Seq("2024-01-01", "novel")),
      PartitionId(Seq("2024", "1")),
      PartitionId(Seq("2024-01-01", "a,b")),
      PartitionId(Seq(null)),
      PartitionId(Seq("NULL")),
      PartitionId(Seq("2024-01-01", null)))
    // checkpoints store rendered strings and resume compares them, so
    // distinct partitions must never render alike
    assert(cases.map(_.render).distinct.size == cases.size,
      cases.map(_.render))
  }
}
