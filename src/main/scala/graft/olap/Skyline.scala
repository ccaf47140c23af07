package graft.olap

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** 2D skyline (Pareto frontier): the rows not dominated by any other row of
  * the same group, where domination means ≥ on the maximized dimension, ≤ on
  * the minimized dimension, and strict on at least one. The classic OLAP
  * dominance operator (Börzsönyi et al., "The Skyline Operator", ICDE '01).
  *
  * For two dimensions the quadratic NOT-EXISTS form collapses to one sorted
  * scan: reduce to the best (min) cost per distinct max-value first — only
  * that row per max-value can survive — then walk max-value descending and
  * keep a row iff every strictly-larger max-value seen so far costs strictly
  * more (a running min). The reduction is a partial-aggregable groupBy, so
  * the shuffle carries one row per (group, distinct max-value); the window
  * partitions on the group key. The oracle deliberately keeps the O(n²)
  * NOT-EXISTS formulation — a different algorithm reaching the same set is
  * the strongest cross-check.
  *
  * At 100 TB the same shape holds: the groupBy reduction bounds the window
  * input by value cardinality, not row count; for high-cardinality
  * dimensions the standard refinement is a per-partition local skyline
  * (skyline(A ∪ B) ⊆ skyline(A) ∪ skyline(B), so local pruning is lossless)
  * before the global pass — the reduction here IS that pruning for the
  * grouped-integer case.
  */
object Skyline {

  /** Pareto frontier per group: maximize `maxCol`, minimize `minCol`. */
  def pareto2d(df: DataFrame, groupCols: Seq[String], maxCol: String,
               minCol: String): DataFrame = {
    val keys = groupCols.map(col)
    val best = df.groupBy(keys :+ col(maxCol): _*)
      .agg(min(col(minCol)).as(minCol))
    val w = Window.partitionBy(keys: _*).orderBy(col(maxCol).desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val runMin = min(col(minCol)).over(w)
    best.withColumn("_rm", runMin)
      // no predecessor (largest max-value) or strictly cheaper than every
      // larger point -> not dominated. A predecessor at equal cost
      // dominates (strictly larger max-value, same min-value).
      .filter(col("_rm").isNull || col(minCol) < col("_rm"))
      .drop("_rm")
  }
}
