package graft.ts

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Time-series operators: the reference's daily-bar data model re-expressed
  * as distributed Spark aggregations.
  *
  * The reference ingests *pre-aggregated* daily OHLC bars from the Alpha
  * Vantage API (reference `av_etl.py:69-76`, `av_etl.py:113-121`); here the
  * bars are reconstructed from a raw tick stream with a keyed group-by, which
  * is the operation the API performs server-side. Shapes match SURVEY.md §1.1.
  *
  * Scale posture: `groupBy(seriesKey, date)` has full map-side partial
  * aggregation (min/max/min_by/max_by/count all support partial agg), so the
  * shuffle carries one row per (series, date) regardless of tick volume.
  */
object Ohlc {

  /** Daily OHLCV bars per series key from a tick stream.
    *
    * open/close are the first/last tick value by timestamp within the day
    * (deterministic: tie-broken by `tsCol` which is unique per series+day in
    * the fixtures; `min_by`/`max_by` are partial-aggregable, unlike a
    * window + row_number approach which would need a full shuffle+sort).
    */
  def dailyBars(ticks: DataFrame, seriesCols: Seq[String] = Seq("event_type"),
                tsCol: String = "ts", valueCol: String = "value"): DataFrame =
    bars(ticks, to_date(col(tsCol)).as("date"), seriesCols, tsCol, valueCol)

  /** Generalized resample: any time bucket (day, week, hour, …) works the
    * same way — the bucket is just the grouping expression.
    */
  def bars(ticks: DataFrame, bucket: Column,
           seriesCols: Seq[String] = Seq("event_type"),
           tsCol: String = "ts", valueCol: String = "value"): DataFrame = {
    val keys = seriesCols.map(col) :+ bucket
    ticks.groupBy(keys: _*).agg(
      min_by(col(valueCol), col(tsCol)).as("open"),
      max(col(valueCol)).as("high"),
      min(col(valueCol)).as("low"),
      max_by(col(valueCol), col(tsCol)).as("close"),
      count(lit(1)).as("volume"))
  }

  /** NULL-gated exclusive trailing simple moving average (reference
    * `data_viz.py:100-109`; exact semantics verified in SURVEY.md §2.7):
    * sma_n(d) = avg(close over the n rows immediately before d, current row
    * excluded), NULL while fewer than n predecessors exist.
    *
    * The sum is taken over `decimal(18,4)` so the result is independent of
    * accumulation order (bitwise-reproducible across engines and across
    * partitionings — a double sum would drift in the low bits), then cast
    * back to double for the division.
    *
    * `partitionCols` keys the window; an empty seq means a single series —
    * fine for one bar frame (O(10^3) rows/decade even at 100 TB of ticks,
    * because bars are already one row per day), but every multi-series
    * caller must partition to keep the sort distributed. Even the
    * single-series case partitions (by a constant) so the plan is always a
    * *partitioned* WindowExec — same one-partition distribution, but the
    * plan shape stays uniform with the multi-series form and Spark's
    * "No Partition Defined" degradation warning can't fire.
    *
    * The single-series case also moves its input to one partition with
    * `repartition(1)`, unless the input already ends in one
    * ([[graft.plans.OnePartition]]). Each call's constant key is a fresh
    * expression, so without it every window of an SMA chain would shuffle
    * again, and a global sort above would add a range exchange; with it
    * the chain and the sort share that one exchange.
    */
  def withSma(bars: DataFrame, n: Int, partitionCols: Seq[String] = Nil,
              orderCol: String = "date", closeCol: String = "close"): DataFrame = {
    val (input, partKeys) =
      if (partitionCols.nonEmpty) (bars, partitionCols.map(col))
      else {
        val inOne = graft.plans.OnePartition.endsIn(bars.queryExecution.analyzed)
        (if (inOne) bars else bars.repartition(1),
         Seq(graft.olap.Exact.onePartition(col(orderCol))))
      }
    val base = Window.partitionBy(partKeys: _*).orderBy(col(orderCol))
    val w = base.rowsBetween(-n, -1)
    val cnt = count(col(closeCol)).over(w)
    val sumDec = sum(col(closeCol).cast(DecimalType(18, 4))).over(w)
    input.withColumn(s"sma_$n",
      when(cnt === n, sumDec.cast("double") / lit(n).cast("double")))
  }

  /** Day-over-day simple returns per series (the lag/delta half of the
    * derived-metrics surface; the SMA is the frame-average half). Keyed
    * window; the division order is fixed so any engine reproduces the
    * doubles bitwise.
    */
  def withReturns(bars: DataFrame, partitionCols: Seq[String],
                  orderCol: String = "date",
                  closeCol: String = "close"): DataFrame = {
    val w = Window.partitionBy(partitionCols.map(col): _*)
      .orderBy(col(orderCol))
    bars.withColumn("prev_close", lag(col(closeCol), 1).over(w))
      .withColumn("return_pct",
        (col(closeCol) - col("prev_close")) / col("prev_close") * lit(100.0))
  }

  /** Reference flagship derivation (`av_etl.py:139-195`): join the USD price
    * series with the FX rate series on date (inner — the reference's
    * left-join + dropna, SURVEY.md §2.4 J1), rename (R5), multiply (F1) and
    * round half-even to 2 dp (F2: the reference's `round()` is banker's
    * rounding, hence `bround`, not `round`).
    *
    * Both sides are one row per date; Catalyst broadcasts the smaller side
    * automatically under AQE. At scale with many symbols the join key becomes
    * (symbol, date) and stays an equi-join.
    */
  def ccyDerive(priceUsd: DataFrame, fx: DataFrame,
                joinCols: Seq[String] = Seq("date"),
                carryCols: Seq[String] = Nil): DataFrame =
    // carryCols: price-side series keys carried through the join (e.g. the
    // symbol column) so downstream windows can partition on a *real* data
    // column — a literal stand-in would be constant-folded out of the
    // window spec and the plan would degrade to an unpartitioned window
    priceUsd.select(joinCols.map(col) ++ carryCols.map(col)
        :+ col("close").as("close_price_usd"): _*)
      .join(fx.select(joinCols.map(col) :+ col("close").as("close_rate"): _*),
            joinCols, "inner")
      // The multiply runs in exact decimal, not double: prices are 2-dp and
      // FX rates up-to-4-dp values, so the product lands exactly on ties
      // (x.xx50…) where double bround and decimal bround disagree. bround
      // on the exact decimal product is the reference's banker's rounding
      // with no FP tie ambiguity (and is engine-portable: DuckDB
      // round_even(DECIMAL) matches bit-for-bit). Rate keeps scale 4 —
      // quotes like 3.9810 must not be squashed to cents.
      .withColumn("close_price_ccy",
        bround(col("close_price_usd").cast(DecimalType(18, 2)) *
               col("close_rate").cast(DecimalType(18, 4)), 2).cast("double"))
}
