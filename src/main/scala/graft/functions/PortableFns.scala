package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Column helpers shared by the query surface.
  *
  * Cross-engine determinism: the DuckDB oracle hash-compares values, so
  * every floating aggregate must be bit-identical between engines. Double
  * summation order is nondeterministic under parallel aggregation, so all
  * money/quantity sums go through exact decimal arithmetic and convert to
  * double only at the end — both engines then produce the same double.
  */
object PortableFns {

  /** Exact sum of a 2-decimal quantity, returned as double. */
  def dsum(c: Column): Column = sum(c.cast(DecimalType(18, 2))).cast("double")

  /** Exact sum of an arbitrary-precision value at 10 decimals. */
  def dsum10(c: Column): Column = sum(c.cast(DecimalType(28, 10))).cast("double")

  /** Mean as exact-decimal sum converted to double, divided by count in
    * double — a single IEEE division both engines perform identically.
    */
  def davg(c: Column): Column =
    sum(c.cast(DecimalType(18, 2))).cast("double") / count(c).cast("double")

  /** Timestamp → 'yyyy-MM' month-partition string (DuckDB:
    * strftime(ts, '%Y-%m')).
    */
  def monthStr(c: Column): Column = date_format(c, "yyyy-MM")

  /** Timestamp → 'yyyy-MM-dd' (DuckDB: strftime(ts, '%Y-%m-%d')). */
  def dateStr(c: Column): Column = date_format(c, "yyyy-MM-dd")
}
