package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Oracle-exact numeric helpers.
  *
  * Double sums are order-dependent (Spark's shuffle order differs from
  * DuckDB's scan order), so any `sum(double)` can flip a hash compare in the
  * last ulps. Money math is therefore summed EXACTLY — but not via decimal:
  * values are rounded once to 1e-4 units ([[graft.plans.ScaledLong]],
  * HALF_UP) and accumulated in a codegen 128-bit integer aggregate
  * ([[graft.plans.SumInt128]]), which is order-independent, overflow-proof
  * to ~1.7e34 in value terms, and stays on whole-stage codegen's primitive
  * fast path — ~2.4× faster than decimal accumulation on the lineitem
  * aggregate family (PERF_NOTES, "Exact-sum decomposition"). The DuckDB
  * twins sum the identically rounded BIGINT units (DuckDB widens to
  * HUGEINT natively) and convert through the same bit-exact int128→double ([[graft.plans.Int128ToDouble]]
  * replicates DuckDB's CastBigintToFloating), so results hash-match at any
  * magnitude. Per-value rounding is HALF_UP at 4 dp like the old
  * DECIMAL(18,4) route; the two can disagree only where the binary product
  * x·1e4 rounds across a tie the decimal expansion doesn't (last-ulp
  * corner), and both engines compute the new form identically.
  */
object Exact {
  private val Scale = 10000.0

  /** Exact sum: Σ round(x·1e4) accumulated in int128, returned as double. */
  def dsum(c: Column): Column =
    graft.plans.ExactSum.sumUnits(c) / lit(Scale)

  /** Exact-numerator average rounded to 6 dp (single double division). */
  def davg(c: Column): Column =
    round(graft.plans.ExactSum.sumUnits(c) / lit(Scale) / count(lit(1)), 6)

  /** DuckDB-side equivalents, kept adjacent so they never drift. */
  private def sqlUnits(x: String): String =
    s"CAST(SUM(${graft.plans.ScaledLong.sql(x, "10000.0")}) AS DOUBLE)"
  def sqlDsum(x: String): String = s"(${sqlUnits(x)} / 10000.0)"
  def sqlDavg(x: String): String =
    s"ROUND(${sqlUnits(x)} / 10000.0 / COUNT(*), 6)"

  /** Exact sum over a window frame — the same unit/int128 stack evaluated
    * per frame by WindowExec's aggregate processor (running frames update
    * incrementally; sliding frames recompute, as with any Spark aggregate).
    */
  def dsumOver(c: Column, w: org.apache.spark.sql.expressions.WindowSpec): Column =
    graft.plans.ExactSum.sumUnits(c).over(w) / lit(Scale)

  /** DuckDB twin of [[dsumOver]]; `over` is the OVER clause ("OVER w",
    * "OVER (PARTITION BY ...)").
    */
  def sqlDsumOver(x: String, over: String): String =
    s"(CAST(SUM(${graft.plans.ScaledLong.sql(x, "10000.0")}) $over AS DOUBLE) / 10000.0)"

  /** Decimal-exact DuckDB form, kept for weighted/conditional sums whose
    * twins predate the unit form.
    */
  def sqlDecSum(x: String): String =
    s"CAST(SUM(CAST($x AS DECIMAL(18,4))) AS DOUBLE)"
}
