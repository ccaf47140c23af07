package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class OhlcSpec extends AnyFunSuite {
  import graft.ts.Ohlc
  lazy val spark = SparkTestSession.spark

  private def bars = {
    import spark.implicits._
    // 2 series, 3 days; in-day tick order deliberately shuffled
    Seq(
      ("a", "2024-01-01 09:00:00", 10.0), ("a", "2024-01-01 16:00:00", 12.0),
      ("a", "2024-01-01 12:00:00", 99.0), ("a", "2024-01-02 09:00:00", 11.0),
      ("a", "2024-01-03 09:00:00", 20.0), ("a", "2024-01-03 10:00:00", 5.0),
      ("b", "2024-01-01 09:00:00", 2.0)
    ).toDF("event_type", "ts0", "value")
      .withColumn("ts", to_timestamp(col("ts0"))).drop("ts0")
  }

  test("dailyBars: open/close by ts, high/low by value, volume=count") {
    val got = Ohlc.dailyBars(bars).orderBy("event_type", "date").collect()
    val a1 = got(0)
    assert(a1.getAs[Double]("open") == 10.0)   // first tick
    assert(a1.getAs[Double]("close") == 12.0)  // last tick (not max!)
    assert(a1.getAs[Double]("high") == 99.0)
    assert(a1.getAs[Double]("low") == 10.0)
    assert(a1.getAs[Long]("volume") == 3L)
    assert(got.length == 4)
  }

  test("withSma: NULL until n strictly-older rows, then exclusive mean") {
    // SURVEY.md §2.7: sma_n(d) = avg of the n rows immediately BEFORE d,
    // current excluded; NULL while fewer than n predecessors.
    import spark.implicits._
    val closes = Seq(1.0, 2.0, 3.0, 4.0, 5.0).zipWithIndex
      .map { case (v, i) => (f"2024-01-${i + 1}%02d", v) }
      .toDF("d", "close").withColumn("date", to_date(col("d")))
    val got = Ohlc.withSma(closes, 2).orderBy("date")
      .select("sma_2").collect().map(r =>
        if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    // row0: 0 preds -> null; row1: 1 pred -> null; row2: avg(1,2)=1.5 ...
    assert(got.toSeq == Seq(None, None, Some(1.5), Some(2.5), Some(3.5)))
  }

  test("single-series SMA chain and its sort share one exchange") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val dir = graft.io.WorkDir.create("graft_sma").toString
    val day0 = java.time.LocalDate.parse("2024-01-01")
    def series(name: String, f: Int => Double): String = {
      val path = s"$dir/$name"
      (0 until 60).map(i => (java.sql.Date.valueOf(day0.plusDays(i)), f(i)))
        .toDF("date", "close").repartition(3).write.parquet(path)
      path
    }
    val price = series("price", i => 100.0 + (i * 37 % 11) * 1.25)
    val fx = series("fx", i => 3.5 + (i * 13 % 7) * 0.0125)
    val d = Ohlc.ccyDerive(spark.read.parquet(price), spark.read.parquet(fx))
    val got = Ohlc.withSma(Ohlc.withSma(d, 5, Nil, "date", "close_price_ccy"),
      20, Nil, "date", "close_price_ccy").orderBy("date")
    // the same SMAs planned the old way: each window keyed by its own
    // constant, with no repartition(1) under the chain
    def oldSma(df: org.apache.spark.sql.DataFrame, n: Int) = {
      val w = Window.partitionBy(graft.olap.Exact.onePartition(col("date")))
        .orderBy(col("date")).rowsBetween(-n, -1)
      df.withColumn(s"sma_$n", when(count(col("close_price_ccy")).over(w) === n,
        sum(col("close_price_ccy").cast(DecimalType(18, 4))).over(w)
          .cast("double") / lit(n).cast("double")))
    }
    val want = oldSma(oldSma(d, 5), 20).orderBy("date")
    // the initial adaptive plan, exchanges inserted, before any stage runs
    def shuffles(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan.collect {
            case e: org.apache.spark.sql.execution.exchange
              .ShuffleExchangeExec => e }
        case p => fail(s"not an adaptive plan: $p")
      }
    val ex = shuffles(got)
    assert(ex.size == 1, got.queryExecution.executedPlan)
    assert(ex.head.outputPartitioning.numPartitions == 1)
    // the old plan: an exchange per window, and one for the sort
    assert(shuffles(want).size == 3)
    assert(got.collect().toSeq == want.collect().toSeq)
    assert(got.filter(col("sma_20").isNotNull).count() == 40)
  }

  test("ccyDerive: inner join semantics + banker's rounding on exact ties") {
    import spark.implicits._
    val p = Seq(("2024-01-01", 56.78), ("2024-01-02", 10.0))
      .toDF("d", "close").withColumn("date", to_date(col("d"))).drop("d")
    val f = Seq(("2024-01-01", 50.69), ("2024-01-03", 4.0))
      .toDF("d", "close").withColumn("date", to_date(col("d"))).drop("d")
    val got = Ohlc.ccyDerive(p, f).collect()
    assert(got.length == 1) // inner join: only the shared date survives
    // 56.78 * 50.69 = 2878.1782 exactly -> 2878.18
    assert(got(0).getAs[Double]("close_price_ccy") == 2878.18)
  }

  test("ccyDerive rounds half-even at exact 4-dp ties") {
    import spark.implicits._
    // 2.50 * 1.25 = 3.1250 -> half-even to 2dp = 3.12 (HALF_UP would give 3.13)
    val p = Seq(("2024-01-01", 2.50)).toDF("d", "close")
      .withColumn("date", to_date(col("d"))).drop("d")
    val f = Seq(("2024-01-01", 1.25)).toDF("d", "close")
      .withColumn("date", to_date(col("d"))).drop("d")
    assert(Ohlc.ccyDerive(p, f).collect()(0)
      .getAs[Double]("close_price_ccy") == 3.12)
  }

  test("entry flagship returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("queries and oracleSql keys line up — every query has an oracle") {
    // round 2 closed the last oracle gap (stateful sessions). Exactly two
    // queries are oracle-exempt BY DESIGN, not by omission: the lossy
    // JPEG round-trips (JPEG's IDCT is spec'd with a tolerance, so no
    // SQL can replay the decoded pixels bitwise) — they carry the S6
    // spec-checked contract instead (PropertySpec fidelity/determinism).
    // Anything else without an oracle fails here before it can silently
    // become a weaker rows-only row in the driver's ledger.
    val oracleExempt = SparkEntry.oracleExempt // the records with no oracle
    assert(oracleExempt == Set("mm_jpeg_decode", "mm_mjpeg_scene_cut"),
      "exemption registry changed — re-justify each entry here")
    assert(oracleExempt.subsetOf(SparkEntry.queries.keySet))
    assert(SparkEntry.oracleSql.keySet ==
      SparkEntry.queries.keySet.diff(oracleExempt),
      s"diff: ${SparkEntry.queries.keySet.diff(SparkEntry.oracleSql.keySet)
        .union(SparkEntry.oracleSql.keySet.diff(SparkEntry.queries.keySet))}")
  }

  test("per-series deciles: positions and values on a crafted series") {
    import spark.implicits._
    import graft.olap.OrderStats
    // 11 values 0..100 step 10 for one series: decile q sits at rank
    // (11-1)*q/10 + 1 -> value 10*q exactly
    val rows = (0 to 10).map(i => ("a", i.toLong, i * 10.0))
      .toDF("event_type", "event_id", "value")
    val got = OrderStats.deciles(rows, Seq("event_type"), "value", "event_id")
      .orderBy("decile").collect()
      .map(r => (r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == (1 to 9).map(q => (q.toLong, q * 10.0)))
  }

  test("daily returns: delta over previous close per series") {
    import spark.implicits._
    val bars = Seq(
      ("a", java.sql.Date.valueOf("2024-01-01"), 100.0),
      ("a", java.sql.Date.valueOf("2024-01-02"), 110.0),
      ("a", java.sql.Date.valueOf("2024-01-03"), 99.0))
      .toDF("event_type", "date", "close")
    val got = Ohlc.withReturns(bars, Seq("event_type"))
      .orderBy("date").collect()
    assert(got.length == 3)
    assert(got(0).isNullAt(got(0).fieldIndex("return_pct")))
    assert(got(1).getAs[Double]("return_pct") == 10.0)
    assert(got(2).getAs[Double]("return_pct") == (99.0 - 110.0) / 110.0 * 100.0)
  }
}
