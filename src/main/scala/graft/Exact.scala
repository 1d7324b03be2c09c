package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.WindowSpec
import org.apache.spark.sql.functions
import org.apache.spark.sql.types.DecimalType

/** Exact reductions of doubles: the one place that spells them.
  *
  * A double sum depends on the order its terms are added in, so the same
  * group can come out differently across partitionings, runs and engines.
  * Per-row double arithmetic is bit-identical across engines (IEEE 754),
  * so each term is cast to DECIMAL(precision, scale) (the same
  * nearest-decimal rounding in Spark and DuckDB), summed exactly in
  * decimal and cast back to DOUBLE once. The result is independent of
  * order and matches the oracle bit for bit, at the cost of one decimal
  * conversion per row. Catalyst still plans map-side partial
  * aggregation (partial_sum / merge_sum) for decimal sums.
  *
  * Spark keeps a decimal of precision <= 18 in a long and a wider one
  * in a BigDecimal, so callers that sum DECIMAL(18, s) keep that
  * precision: widening it slows the aggregate. The defaults, (28, 12),
  * are the precision and scale most queries use.
  */
object Exact {

  /** `sum(c)` as an exact, order-independent DOUBLE; null for an empty
    * group. */
  def sum(c: Column, scale: Int = 12, precision: Int = 28): Column =
    functions.sum(c.cast(DecimalType(precision, scale))).cast("double")

  /** SQL twin of [[sum]], for the DuckDB oracle and `spark.sql`. */
  def sumSql(expr: String, scale: Int = 12, precision: Int = 28): String =
    s"CAST(SUM(CAST(($expr) AS DECIMAL($precision,$scale))) AS DOUBLE)"

  /** [[sum]] as a window function over `w` (a running total). */
  def sumOver(c: Column, w: WindowSpec, scale: Int = 12, precision: Int = 28): Column =
    functions.sum(c.cast(DecimalType(precision, scale))).over(w).cast("double")

  /** SQL twin of [[sumOver]]; `window` is a window name or a
    * parenthesised window specification. */
  def sumOverSql(expr: String, window: String, scale: Int = 12, precision: Int = 28): String =
    s"CAST(SUM(CAST(($expr) AS DECIMAL($precision,$scale))) OVER $window AS DOUBLE)"

  /** [[sum]] over values already collected into a Scala collection,
    * with the same per-term rounding to `scale` places. */
  def sumLocal(xs: Iterable[Double], scale: Int = 12): Double =
    xs.map(x => BigDecimal(x).setScale(scale, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble

  /** `x` rounded to `k` decimal places in plain Scala, ties away from
    * zero (HALF_UP). */
  def round(x: Double, k: Int): Double =
    BigDecimal(x).setScale(k, BigDecimal.RoundingMode.HALF_UP).toDouble
}
