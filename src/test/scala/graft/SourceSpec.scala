package graft

import java.time.LocalDate

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.SeriesGen

/** The DataSource V2 connector: partition planning, predicate pushdown
  * (partition pruning), column pruning, and bit-exact generator parity.
  */
class SourceSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def read(symbols: String = "SPY,QQQ,IWM") =
    spark.read.format("graft-series")
      .option("symbols", symbols)
      .option("start", "2026-01-05")
      .option("end", "2026-03-31")
      .load()

  test("unfiltered scan plans one partition per symbol x month") {
    assert(read().count() === 3 * 62) // 62 weekdays in Jan 5 .. Mar 31 2026
    assert(SeriesGen.lastPlannedPartitions === 9) // 3 symbols x 3 months
    assert(SeriesGen.lastPushedFilters.isEmpty)
  }

  test("pushed symbol + date predicates prune input partitions") {
    val df = read()
      .filter(col("trade_date") >= lit("2026-02-02").cast("date") &&
              col("symbol").isin("SPY", "QQQ"))
    val n = df.count()
    // 2 symbols x (Feb + Mar) — January pruned by the date bound
    assert(SeriesGen.lastPlannedPartitions === 4)
    assert(SeriesGen.lastPushedFilters.nonEmpty)
    // pruning only skips; the residual Spark filter keeps exactness
    assert(n === 2 * 42)
  }

  test("equality pushdown prunes to a single partition") {
    val d = java.sql.Date.valueOf("2026-02-10")
    val one = read().filter(col("symbol") === "QQQ" &&
      col("trade_date") === lit(d)).collect()
    assert(SeriesGen.lastPlannedPartitions === 1)
    assert(one.length === 1 && one.head.getAs[String]("symbol") == "QQQ")
  }

  test("column pruning reaches the reader") {
    read().select("symbol", "close").count()
    assert(SeriesGen.lastReadSchema.fieldNames.toSet
      .subsetOf(Set("symbol", "close")))
  }

  test("pushed filters are visible in the scan description") {
    val df = read().filter(col("trade_date") >= lit("2026-03-01").cast("date"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft-series PushedFilters"))
  }

  test("micro-batch stream runs in chunks and converges to the batch answer") {
    // hand-run, not BoundedRun: it sets a trigger and reads recentProgress
    import org.apache.spark.sql.streaming.Trigger
    val q = spark.readStream.format("graft-series")
      .option("symbols", "SPY,QQQ")
      .option("start", "2026-01-05")
      .option("end", "2026-02-27")
      .option("maxDaysPerTrigger", "10")
      .load()
      .groupBy("symbol")
      .agg(count(lit(1)).as("n_days"), max(col("high")).as("max_high"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("series_stream_spec")
      .trigger(Trigger.ProcessingTime(0))
      .start()
    try q.processAllAvailable() finally q.stop()
    // 54 calendar days revealed 10 per trigger => at least 5 micro-batches
    assert(q.recentProgress.count(_.numInputRows > 0) >= 5,
      s"expected chunked reveal, got ${q.recentProgress.length} batches")
    val streamed = spark.table("series_stream_spec")
      .orderBy("symbol").collect().toSeq
    val batch = spark.read.format("graft-series")
      .option("symbols", "SPY,QQQ")
      .option("start", "2026-01-05")
      .option("end", "2026-02-27")
      .load()
      .groupBy("symbol")
      .agg(count(lit(1)).as("n_days"), max(col("high")).as("max_high"))
      .orderBy("symbol").collect().toSeq
    assert(streamed == batch)
  }

  test("aggregate pushdown: no Aggregate node, one partition per symbol, " +
       "bitwise equal to the row path") {
    val agg = read()
      .groupBy("symbol")
      .agg(count(lit(1)).as("n_days"), min(col("low")).as("min_low"),
           max(col("high")).as("max_high"),
           max(col("volume")).as("max_volume"))
      .orderBy("symbol")
    SeriesGen.lastPushedAggregation = None
    val rows = agg.collect()
    // complete pushdown: the source computed the groups...
    assert(SeriesGen.lastPushedAggregation.exists(_.contains("count_star")))
    assert(SeriesGen.lastPlannedPartitions === 3) // one per symbol, not 9
    // ...and no aggregate exec remains in the physical plan
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregates"), s"no pushdown:\n$plan")
    assert(!plan.contains("HashAggregate") && !plan.contains("SortAggregate"),
      s"aggregate exec remains despite complete pushdown:\n$plan")
    // a residual filter blocks the pushdown -> row path; results bitwise
    val rowPath = read()
      .filter(col("trade_date") >= lit("2026-01-05").cast("date"))
      .groupBy("symbol")
      .agg(count(lit(1)).as("n_days"), min(col("low")).as("min_low"),
           max(col("high")).as("max_high"),
           max(col("volume")).as("max_volume"))
      .orderBy("symbol")
    assert(rowPath.queryExecution.executedPlan.toString
      .contains("HashAggregate"))
    val expect = rowPath.collect()
    assert(rows.length == 3 && rows.length == expect.length)
    rows.zip(expect).foreach { case (a, b) =>
      assert(a.getString(0) == b.getString(0))
      assert(a.getLong(1) == b.getLong(1))
      assert(a.getDouble(2) == b.getDouble(2))
      assert(a.getDouble(3) == b.getDouble(3))
      assert(a.getLong(4) == b.getLong(4))
    }
  }

  test("aggregate pushdown over a zero-row range emits no group, like the " +
       "row path") {
    // 2026-01-03/04 is a weekend: the generator yields no bars, so the
    // un-pushed groupBy produces no group — the complete-pushdown path
    // must also emit zero rows (not a count=0 row, and min/max must not
    // throw on the empty fold)
    def weekend() = spark.read.format("graft-series")
      .option("symbols", "SPY,QQQ")
      .option("start", "2026-01-03")
      .option("end", "2026-01-04")
      .load()
    val agg = weekend()
      .groupBy("symbol")
      .agg(count(lit(1)).as("n_days"), min(col("low")).as("min_low"),
           max(col("high")).as("max_high"))
    SeriesGen.lastPushedAggregation = None
    val rows = agg.collect()
    assert(SeriesGen.lastPushedAggregation.isDefined,
      "the empty-range check must exercise the pushed path")
    assert(rows.isEmpty, "empty partitions must emit no group row")
    // row path agrees
    val rowPath = weekend()
      .filter(col("trade_date") >= lit("2026-01-01").cast("date"))
      .groupBy("symbol").agg(count(lit(1)).as("n_days"))
    assert(rowPath.collect().isEmpty)
  }

  test("connector rows equal an independent local generation, bitwise") {
    val got = read("SPY")
      .orderBy("trade_date")
      .select("trade_date", "open", "high", "low", "close", "volume")
      .collect()
    val days = Iterator.iterate(LocalDate.parse("2026-01-05"))(_.plusDays(1))
      .takeWhile(!_.isAfter(LocalDate.parse("2026-03-31")))
      .map(_.toEpochDay.toInt).filter(SeriesGen.isWeekday).toSeq
    assert(got.length === days.length)
    got.zip(days).foreach { case (row, day) =>
      val (o, h, l, c, v) = SeriesGen.barCents("SPY", day)
      assert(row.getAs[java.sql.Date]("trade_date").toLocalDate.toEpochDay == day)
      // bit-exact double comparison (no tolerance)
      assert(row.getAs[Double]("open") == o.toDouble / 100.0)
      assert(row.getAs[Double]("high") == h.toDouble / 100.0)
      assert(row.getAs[Double]("low") == l.toDouble / 100.0)
      assert(row.getAs[Double]("close") == c.toDouble / 100.0)
      assert(row.getAs[Long]("volume") == v)
      assert(row.getAs[Double]("high") >= row.getAs[Double]("open"))
      assert(row.getAs[Double]("low") <= row.getAs[Double]("close"))
    }
  }
}
