package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Helpers that make float-bearing query output hash-comparable against the
  * DuckDB oracle (BASELINE.md: float-sensitive queries are compared after
  * rounding, with a deterministic key tiebreaker).
  *
  * Two rules:
  *  1. SUM over doubles is order-dependent — different partitionings give
  *     different last-ulp results. Casting to DECIMAL before summing makes the
  *     aggregation EXACT (and therefore partitioning-independent), which also
  *     holds at 1000-executor scale where partition counts differ per run.
  *  2. Final outputs are rounded and cast back to DOUBLE so both engines emit
  *     an identical bit pattern.
  */
object OracleParity {

  /** Exact, order-independent sum of a double column: route through
    * DECIMAL(30,6). Emits DOUBLE rounded to `scale` decimal places. */
  def exactSum(c: Column, scale: Int = 2): Column =
    round(sum(c.cast("decimal(30,6)")), scale).cast("double")

  /** Exact average: exact decimal sum divided by count, single f64 divide. */
  def exactAvg(c: Column, scale: Int = 6): Column =
    round(sum(c.cast("decimal(30,6)")).cast("double") / count(c), scale).cast("double")

  /** Portable float rounding: floor(x·10ⁿ + 0.5)/10ⁿ — plain f64 ops that
    * both engines evaluate bit-identically. Spark's `round(double, n)`
    * rounds the SHORTEST DECIMAL REPR half-up (BigDecimal.valueOf) while
    * DuckDB rounds the scaled binary value, so values like 1/32 = 0.03125
    * round differently under native `round`; this form never diverges.
    * Mirror in SQL as `floor(x * 10^n + 0.5) / 10^n.0`. */
  def pround(c: Column, n: Int): Column = {
    val p = math.pow(10, n)
    // NaN guard: Spark's floor(double) returns LONG, so floor(NaN) would
    // collapse to 0 while DuckDB's floor keeps NaN — preserve NaN (the
    // reference's zero-vector cosine) explicitly.
    when(isnan(c), c).otherwise(floor(c * p + 0.5) / lit(p))
  }

  /** [[pround]] on a driver-side double, in the same f64 steps: Spark's
    * floor(double) is a LONG, so the quotient is that long over 10ⁿ. */
  def pround(x: Double, n: Int): Double = {
    val p = math.pow(10, n)
    if (x.isNaN) x else math.floor(x * p + 0.5).toLong / p
  }
}
