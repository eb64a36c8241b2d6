package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** One driver-checked query: its name, the builder that runs it over a
  * test-data directory, and the DuckDB SQL its result must equal.
  *
  * Convention (driver contract): the comparator sorts columns by name and
  * hash-compares values, so every computed column is aliased identically in
  * the Spark query and the oracle SQL, and every query ends in a total
  * ORDER BY so row order is deterministic in both engines.
  */
final case class Gate(name: String, build: (SparkSession, String) => DataFrame,
    oracleSql: String)

/** A named bundle of gates covering one slice of the operator inventory. */
trait QueryPack {
  def gates: Seq[Gate]
}

/** Shared helpers for cross-engine deterministic results.
  *
  * Floating-point aggregation order differs between Spark's partial/final
  * hash aggregates and DuckDB's, so any SUM/AVG over doubles is computed in
  * exact decimal arithmetic and only then cast back to double — both
  * engines then produce bit-identical values. Per-row double arithmetic
  * (IEEE 754) is deterministic and needs no such treatment.
  */
object QueryPack {
  /** Order-independent exact sum of a double column: cast each value to
    * DECIMAL(18,scale), sum exactly, cast the total back to double.
    * The per-row quantization runs through [[graft.plans.FastDoubleToDecimal]]
    * — bit-identical to `cast(DecimalType(18, scale))` (proof in its
    * scaladoc, locked by FastDecimalSuite) but without the
    * Double.toString/BigDecimal churn that made exact sums ~10× a plain
    * double sum (guide §4; OPTIMIZATION_r17.md "exact-decimal kernels"). */
  def dsum(c: Column, scale: Int = 4): Column =
    sum(graft.plans.GraftExpressions.fastDecimal(c, 18, scale)).cast("double")

  /** SQL text of [[dsum]] for the DuckDB oracle. The DECIMAL→DOUBLE
    * conversion goes through VARCHAR because DuckDB's direct
    * `CAST(DECIMAL AS DOUBLE)` is 1 ulp off for values needing ≥17
    * significant digits (measured: ~25% of such values), while its
    * string→double parse is correctly rounded — matching Spark's
    * `BigDecimal.doubleValue` exactly at ANY scale (the two 5× stress
    * envelope diffs in SCALING.md came from this cast). */
  def dsumSql(expr: String, scale: Int = 4): String =
    s"CAST(CAST(sum(CAST(($expr) AS DECIMAL(18,$scale))) AS VARCHAR) AS DOUBLE)"
  // The INPUT-side DOUBLE→DECIMAL cast has the dual 1-ulp hazard:
  // DuckDB scales by 10^s in double space before rounding, so a term
  // whose scaled value lands on a representable .5 boundary can round
  // the other way from Spark's exact BigDecimal path (measured:
  // value·2^-k terms in events_decayed_sum). Harmless for generic
  // doubles (boundary hits are measure-zero) but DYADIC-structured
  // terms hit it reliably — such queries must restructure to an exact
  // decimal numerator with one final binary-scaling division
  // (events_decayed_sum is the template).

  /** Exact decimal mean, returned as double (sum/count in double space). */
  def davg(c: Column, scale: Int = 4): Column =
    dsum(c, scale) / count(c).cast("double")

  def davgSql(expr: String, scale: Int = 4): String =
    s"(${dsumSql(expr, scale)} / CAST(count($expr) AS DOUBLE))"
}
