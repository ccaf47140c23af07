package graft.olap

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Exact-arithmetic helpers for money aggregation.
  *
  * Source money columns are 2-dp values stored as doubles; casting to
  * DECIMAL(18,2) is exact (no .xx5 ties exist at the data's precision), and
  * decimal sums/products are associative — so results are independent of
  * partitioning and accumulation order, unlike double sums which drift in
  * the low bits. Final results come back as doubles via one deterministic
  * correctly-rounded conversion. Scales are kept minimal (2/4 dp) so the
  * unscaled sums stay well under 2^53 and the decimal→double conversions in
  * any engine agree bitwise.
  */
object Exact {
  /** THE driver-side collect for frames that are SMALL BY CONSTRUCTION
    * (schema-bounded transition matrices, dimension-bounded gram cells,
    * 1-row scalar probes). Every scalar `collect()` in queries/ routes
    * through here so the require-ceiling pattern is enforced by
    * construction rather than hand-rolled per site: at most
    * `maxRows + 1` rows ever cross the driver boundary (the `limit`
    * bounds the fetch itself — a breached ceiling fails from one extra
    * row, never after materializing an unbounded frame), and the
    * failure names the frame. A frame bounded by DATA volume must never
    * come through here — that is what distributed aggregation is for.
    */
  def boundedCollect(df: DataFrame, maxRows: Int, why: String)
      : Array[Row] = {
    val rows = df.limit(maxRows + 1).collect()
    require(rows.length <= maxRows,
      s"$why: driver-side collect exceeded its $maxRows-row ceiling " +
        s"(frame is supposed to be bounded by schema, not data)")
    rows
  }

  /** Constant window-partition key for frames that are SMALL BY
    * CONSTRUCTION (bucket totals, part-level aggregates, 32-row bootstrap
    * reps): the single partition is deliberate, and the key must say so.
    * A plain literal won't — Spark 4's EliminateWindowPartitions folds
    * foldable partition expressions away, reintroducing the unpartitioned
    * WindowExec (and its data-to-one-partition warning) that keyed specs
    * exist to rule out. `pmod(hash(orderCol), 1)` is constant 0 on every
    * row but not foldable (and typed for any column), so the key survives
    * optimization.
    */
  def onePartition(orderCol: Column): Column = pmod(hash(orderCol), lit(1))

  /** DECIMAL(38,0) → BIGINT that FAILS LOUDLY when the value doesn't fit.
    * Spark's non-ANSI cast silently returns NULL on decimal→long overflow
    * while DuckDB's CAST raises — one engine would silently drop rows (via
    * downstream null filters) where the other aborts, the exact
    * silent-drift failure mode the lattice discipline exists to prevent.
    * Used where lattice moments (n·Σx²−S², weight numerators) are about to
    * enter BIGINT-only machinery such as log2_fp.
    */
  def checkedLong(c: Column): Column = {
    val lo = lit(Long.MinValue).cast(DecimalType(38, 0))
    val hi = lit(Long.MaxValue).cast(DecimalType(38, 0))
    when(c.between(lo, hi), c.cast("long"))
      .otherwise(raise_error(concat(
        lit("lattice moment exceeds BIGINT range: "), c.cast("string")))
        .cast("long"))
  }

  /** [[checkedLong]] with a caller-tightened envelope: raises once |c|
    * exceeds `bound`. For moments whose DOWNSTREAM product-of-two must
    * itself fit DECIMAL(38,0) on Spark AND HUGEINT on DuckDB — e.g. the
    * OLS determinant c11·c22 − c12²: plain BIGINT range leaves a sliver
    * (1.70e38 < |det| < 1.76e38) where Spark's decimal throws while
    * DuckDB's HUGEINT still succeeds. |c| ≤ 7e18 keeps 2·bound² below
    * both ceilings, so the engines share ONE loud overflow envelope
    * (the oracle enforces the same bound via error()).
    */
  def boundedLong(c: Column, bound: Long): Column = {
    val lo = lit(-bound).cast(DecimalType(38, 0))
    val hi = lit(bound).cast(DecimalType(38, 0))
    when(c.between(lo, hi), c.cast("long"))
      .otherwise(raise_error(concat(
        lit(s"lattice moment exceeds +/-$bound: "), c.cast("string")))
        .cast("long"))
  }

  /** Small-range 2-dp rate (discount/tax). */
  def rate(c: Column): Column = c.cast(DecimalType(8, 2))

  /** Exact decimal strings for (3/4)^k, k = 1..n: every power of 3/4 is
    * BOTH an exactly representable binary double (3^k fits a 53-bit
    * mantissa through k = 33) and a finite decimal (denominator 4^k), so
    * Spark and any SQL engine parsing these literals hold IDENTICAL
    * doubles — the portable decay table for time-weighted folds.
    */
  def threeQuarterPows(n: Int): IndexedSeq[java.math.BigDecimal] = {
    require(n <= 33, s"(3/4)^k exceeds a double mantissa past 33: $n")
    (1 to n).map { k =>
      new java.math.BigDecimal(3).pow(k)
        .divide(new java.math.BigDecimal(4).pow(k))
    }
  }

  /** 2-dp money as integer cents. round() snaps the within-1-ulp double to
    * its exact integer (never a true .5 tie on 2-dp data), so this is the
    * same exact value the decimal cast produces — but long hash-agg sums
    * run markedly faster than decimal sums. Overflow headroom: 2^63 cents
    * ≈ 9e16 dollars.
    */
  def cents(c: Column): Column = round(c * lit(100), 0).cast("long")

  /** Exact order-independent sum of a 2-dp money column, as double.
    * (long cents)/100.0 and the decimal-sum-cast produce the identical
    * correctly-rounded double of the same exact rational — the DuckDB
    * oracles keep the decimal formulation and match bitwise.
    */
  def sumMoney(c: Column): Column = sum(cents(c)).cast("double") / lit(100.0)

  /** avg = exact sum / count: double(exact Σ/100) then one division —
    * the same operation sequence as the decimal formulation.
    */
  def avgMoney(c: Column): Column = sumMoney(c) / count(lit(1)).cast("double")

  /** TPC-H style discounted revenue: extendedprice * (1 - discount), exact
    * in 1e-4 units (cents × percent-cents).
    */
  def sumRevenue(extendedPrice: Column, discount: Column): Column =
    sum(cents(extendedPrice) * (lit(100L) - cents(discount)))
      .cast("double") / lit(10000.0)

  /** Oracle-side SQL fragments mirroring the same arithmetic. */
  val revenueSql: String =
    "CAST(l_extendedprice AS DECIMAL(18,2)) * " +
      "(CAST(1 AS DECIMAL(8,2)) - CAST(l_discount AS DECIMAL(8,2)))"
}
