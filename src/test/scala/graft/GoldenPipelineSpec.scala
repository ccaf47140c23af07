package graft

import org.scalatest.funsuite.AnyFunSuite

/** Golden end-to-end (SURVEY.md §5.2 layer 2): the full reference pipeline
  * — JSON ingest → join → derive → SMA — over the checked-in Alpha Vantage
  * fixtures, against hand-computed expected values.
  */
class GoldenPipelineSpec extends AnyFunSuite {
  import graft.ingest.AvJson
  import graft.ts.Ohlc
  lazy val spark = SparkTestSession.spark

  private val fxFixture =
    """{"Time Series FX (Daily)": {
      |"2026-08-07": {"1. open": "3.9810", "2. high": "4.0125", "3. low": "3.9700", "4. close": "4.0050"},
      |"2026-08-06": {"1. open": "3.9700", "2. high": "3.9900", "3. low": "3.9500", "4. close": "3.9810"},
      |"2026-08-05": {"1. open": "3.9500", "2. high": "3.9750", "3. low": "3.9400", "4. close": "3.9700"},
      |"2026-08-04": {"1. open": "3.9400", "2. high": "3.9600", "3. low": "3.9300", "4. close": "3.9500"},
      |"2026-08-03": {"1. open": "3.9600", "2. high": "3.9700", "3. low": "3.9350", "4. close": "3.9400"},
      |"2026-07-31": {"1. open": "3.9900", "2. high": "4.0000", "3. low": "3.9550", "4. close": "3.9600"},
      |"2026-07-30": {"1. open": "4.0100", "2. high": "4.0200", "3. low": "3.9850", "4. close": "3.9900"}}}"""
      .stripMargin.replace("\n", " ")

  test("ingest → join → bround derive → SMA matches hand-computed goldens") {
    import spark.implicits._
    val price = AvJson.parseDailyBars(AvJson.equityFixtureDf(spark),
      "payload", "Time Series (Daily)", withVolume = true)
    val fx = AvJson.parseDailyBars(Seq(fxFixture).toDF("payload"),
      "payload", "Time Series FX (Daily)", withVolume = false)
    val derived = Ohlc.ccyDerive(price, fx)
    val withSma = Ohlc.withSma(derived, 3, Nil, "date", "close_price_ccy")
      .orderBy("date").collect()

    // equity has 8 days, fx has 7 (no 2026-07-29) -> inner join = 7 rows
    assert(withSma.length == 7)
    val first = withSma.head
    assert(first.getAs[java.sql.Date]("date").toString == "2026-07-30")
    // 464.80 * 3.9900 = 1854.552 exactly -> bround 2 = 1854.55
    assert(first.getAs[Double]("close_price_ccy") == 1854.55)
    // last row: 473.25 * 4.0050 = 1895.36625 -> bround half-even = 1895.37
    // (third decimal 6 -> ordinary round up; value checked by hand)
    assert(withSma.last.getAs[Double]("close_price_ccy") == 1895.37)
    // SMA(3) exclusive: rows 0-2 NULL; row 3 = avg(rows 0..2)
    assert(withSma.take(3).forall(_.isNullAt(withSma.head.fieldIndex("sma_3"))))
    val expectedSma3 = {
      val closes = withSma.take(3).map(_.getAs[Double]("close_price_ccy"))
      // decimal-exact mean of 2-dp values: sum in cents then divide
      val cents = closes.map(c => math.rint(c * 100).toLong).sum
      (cents / 100.0) / 3.0
    }
    assert(withSma(3).getAs[Double]("sma_3") == expectedSma3)
  }

  test("incremental FX refresh end-to-end: decide → ingest → suffix → idempotent append") {
    import graft.inc.{FetchPlan, Watermark}
    import graft.inc.FetchPlan.Compact
    def day(s: String): Int = java.time.LocalDate.parse(s).toEpochDay.toInt
    // the table's high watermark is Mon 2026-08-03; "today" is Sat
    // 2026-08-08 → 4 NYSE business days missing (Tue-Fri) → Compact
    assert(FetchPlan.missingBusdays(day("2026-08-03"), day("2026-08-08")) == 4)
    assert(FetchPlan.decide(Some(day("2026-08-03")),
      day("2026-08-08")) == Compact)
    // the compact FX payload arrives; keep only rows past the watermark
    val bars = AvJson.parseDailyBars(AvJson.fxFixtureDf(spark),
      "payload", "Time Series FX (Daily)", withVolume = false)
    val wm = spark.sql("SELECT CAST('2026-08-03' AS DATE) AS watermark")
    val fresh = Watermark.newerThan(bars, wm, "date")
    val freshDates = fresh.orderBy("date").collect()
      .map(_.getAs[java.sql.Date]("date").toString).toSeq
    assert(freshDates ==
      Seq("2026-08-04", "2026-08-05", "2026-08-06", "2026-08-07"))
    // idempotent append: a retried load (FetchPlan.retry semantics)
    // cannot double-insert
    val sink = graft.io.WorkDir.create("graft_fx").toString + "/t"
    Watermark.appendIdempotent(spark, fresh, sink, Seq("date"))
    Watermark.appendIdempotent(spark, fresh, sink, Seq("date"))
    assert(spark.read.parquet(sink).count() == 4)
  }
}
