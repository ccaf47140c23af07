package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class CalIncIngestSpec extends AnyFunSuite {
  import graft.cal.BusdayCount
  import graft.inc.Watermark
  import graft.ingest.AvJson
  lazy val spark = SparkTestSession.spark

  private def day(s: String): Int =
    java.time.LocalDate.parse(s).toEpochDay.toInt

  test("busday_offset closed form matches np.busday_offset goldens") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // np.busday_offset(d, 10, roll='forward'), pinned from a direct run:
    val goldens = Seq(
      ("2026-01-02", "2026-01-16"), // Friday start
      ("2026-01-03", "2026-01-19"), // Saturday rolls to Monday
      ("2026-01-04", "2026-01-19"), // Sunday rolls to Monday
      ("2026-01-05", "2026-01-19"), // Monday start
      ("2026-02-27", "2026-03-13")) // month boundary
    val got = goldens.map(_._1).toDF("d")
      .withColumn("start_date", to_date(col("d")))
      .withColumn("rolled",
        when(weekday(col("start_date")) >= 5,
          date_add(col("start_date"), lit(7) - weekday(col("start_date"))))
          .otherwise(col("start_date")))
      .withColumn("busday10",
        date_add(col("rolled"),
          (lit(10) + lit(2) * expr("(weekday(rolled) + 10) DIV 5"))
            .cast("int")))
      .select("d", "busday10").collect()
      .map(r => r.getString(0) -> r.getDate(1).toString).toMap
    goldens.foreach { case (d, want) => assert(got(d) == want, s"from $d") }
  }

  test("busday_count matches np.busday_count golden vectors") {
    val h = BusdayCount.defaultHolidays
    // golden values generated with np.busday_count against the same
    // fixed-date holiday expansion (1/1, 7/4, 12/25 over 1990-2035)
    val cases = Seq(
      ("1995-01-01", "1995-01-31", 21), // Jan 1 1995 is a Sunday
      ("1995-12-20", "1996-01-05", 10), // crosses Christmas + New Year
      ("2000-06-28", "2000-07-12", 9),  // crosses July 4 (a Tuesday)
      ("2001-08-01", "2001-08-01", 0),
      ("2001-08-06", "2001-08-13", 5),
      ("1999-12-31", "2000-01-04", 2))  // Jan 1 2000 is a Saturday
    cases.foreach { case (s, e, want) =>
      assert(BusdayCount.count(day(s), day(e), h) == want, s"$s..$e")
    }
    // np's reversed-range rule: -count over (end, start]
    assert(BusdayCount.count(day("1995-01-31"), day("1995-01-01"), h) == -22)
  }

  test("NYSE calendar matches the exchange's published dates, 2020-2026") {
    import graft.cal.NyseCalendar
    // hand-written from the NYSE's published holiday schedule (observed
    // dates) — independent of the rule implementation under test. Notable
    // edges: 2021-07-05 (Jul 4 Sun->Mon), 2021-12-24 (Christmas Sat->Fri),
    // 2022 has NO New Year's closure (Jan 1 Saturday), 2022-06-20
    // (first NYSE Juneteenth, Sun->Mon), 2025-01-09 (Carter mourning).
    val published = Seq(
      "2020-01-01", "2020-01-20", "2020-02-17", "2020-04-10", "2020-05-25",
      "2020-07-03", "2020-09-07", "2020-11-26", "2020-12-25",
      "2021-01-01", "2021-01-18", "2021-02-15", "2021-04-02", "2021-05-31",
      "2021-07-05", "2021-09-06", "2021-11-25", "2021-12-24",
      "2022-01-17", "2022-02-21", "2022-04-15", "2022-05-30", "2022-06-20",
      "2022-07-04", "2022-09-05", "2022-11-24", "2022-12-26",
      "2023-01-02", "2023-01-16", "2023-02-20", "2023-04-07", "2023-05-29",
      "2023-06-19", "2023-07-04", "2023-09-04", "2023-11-23", "2023-12-25",
      "2024-01-01", "2024-01-15", "2024-02-19", "2024-03-29", "2024-05-27",
      "2024-06-19", "2024-07-04", "2024-09-02", "2024-11-28", "2024-12-25",
      "2025-01-01", "2025-01-09", "2025-01-20", "2025-02-17", "2025-04-18",
      "2025-05-26", "2025-06-19", "2025-07-04", "2025-09-01", "2025-11-27",
      "2025-12-25",
      "2026-01-01", "2026-01-19", "2026-02-16", "2026-04-03", "2026-05-25",
      "2026-06-19", "2026-07-03", "2026-09-07", "2026-11-26", "2026-12-25",
    ).map(day)
    assert(NyseCalendar.holidays(2020, 2026).toSeq == published.sorted)
    // rule-era edges: MLK joins the calendar in 1998, not before
    assert(!NyseCalendar.holidayDates(1997).contains(
      java.time.LocalDate.of(1997, 1, 20)))
    assert(NyseCalendar.holidayDates(1998).contains(
      java.time.LocalDate.of(1998, 1, 19)))
    // ad-hoc closures land in their years
    assert(NyseCalendar.holidayDates(1994).contains(
      java.time.LocalDate.of(1994, 4, 27)))
    assert(NyseCalendar.holidayDates(2001).contains(
      java.time.LocalDate.of(2001, 9, 14)))
    // computus spot-checks via Good Friday
    assert(NyseCalendar.easterSunday(1999) ==
      java.time.LocalDate.of(1999, 4, 4))
    assert(NyseCalendar.easterSunday(2035) ==
      java.time.LocalDate.of(2035, 3, 25))
  }

  test("busday_count over the NYSE calendar matches np.busday_count goldens") {
    import graft.cal.NyseCalendar
    val h = NyseCalendar.holidays(2020, 2026)
    // goldens from np.busday_count(start, end, holidays=<the hand-written
    // published list above>) — generated independently of NyseCalendar
    val cases = Seq(
      ("2020-01-01", "2020-12-31", 252),
      ("2021-12-20", "2022-01-10", 14), // Sat New Year: no closure
      ("2022-06-10", "2022-07-08", 18), // first Juneteenth + July 4
      ("2024-03-25", "2024-04-02", 5),  // Good Friday week
      ("2025-01-02", "2025-02-01", 20), // Carter mourning + MLK
      ("2025-12-20", "2026-01-05", 8),
      ("2023-11-20", "2023-11-27", 4),  // Thanksgiving
      ("2026-07-01", "2026-07-10", 6))  // observed Friday Jul 3
    cases.foreach { case (s, e, want) =>
      assert(BusdayCount.count(day(s), day(e), h) == want, s"$s..$e")
    }
  }

  test("busday_count expression works through codegen on a DataFrame") {
    import spark.implicits._
    val df = Seq(("1995-12-20", "1996-01-05"), ("2001-08-06", "2001-08-13"))
      .toDF("s", "e")
      .select(to_date(col("s")).as("s"), to_date(col("e")).as("e"))
    val got = df.select(
      BusdayCount.busday_count(col("s"), col("e")).as("n"))
      .collect().map(_.getInt(0)).toSeq
    assert(got == Seq(10, 5))
  }

  test("idempotent append: running twice equals running once") {
    import spark.implicits._
    val dir = graft.io.WorkDir.create("graft_inc").toString
    val sink = s"$dir/sink"
    val batch1 = Seq((1, "a"), (2, "b")).toDF("k", "v")
    val batch2 = Seq((2, "B"), (3, "c")).toDF("k", "v") // k=2 is a replay
    Watermark.appendIdempotent(spark, batch1, sink, Seq("k"))
    Watermark.appendIdempotent(spark, batch2, sink, Seq("k"))
    Watermark.appendIdempotent(spark, batch2, sink, Seq("k")) // replay all
    val got = spark.read.parquet(sink).orderBy("k").collect()
    assert(got.map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    assert(got(1).getString(1) == "b") // first write wins, replay rejected
  }

  test("newerThan keeps only rows strictly past the watermark") {
    import spark.implicits._
    val rows = Seq(1, 2, 3, 4, 5).toDF("k")
    val wm = rows.filter(col("k") <= 3).agg(max(col("k")).as("watermark"))
    val got = Watermark.newerThan(rows, wm, "k").collect().map(_.getInt(0))
    assert(got.sorted.toSeq == Seq(4, 5))
  }

  test("AvJson fixture parses to 8 typed bars, oldest first after sort") {
    val bars = AvJson.parseDailyBars(AvJson.equityFixtureDf(spark),
      "payload", "Time Series (Daily)", withVolume = true).orderBy("date")
    val got = bars.collect()
    assert(got.length == 8)
    assert(got.head.getAs[java.sql.Date]("date").toString == "2026-07-29")
    assert(got.head.getAs[Double]("open") == 460.00)
    assert(got.last.getAs[Long]("volume") == 71234567L)
    assert(bars.schema("date").dataType.typeName == "date")
  }

  test("FX-shaped payload (no volume) omits the volume column") {
    import spark.implicits._
    val fx = """{"Time Series FX (Daily)": {
      "2026-08-07": {"1. open": "3.9810", "2. high": "4.0125", "3. low": "3.9700", "4. close": "4.0050"}}}"""
    val df = AvJson.parseDailyBars(Seq(fx).toDF("payload"), "payload",
      "Time Series FX (Daily)", withVolume = false)
    assert(!df.columns.contains("volume"))
    assert(df.collect()(0).getAs[Double]("close") == 4.0050)
  }

  test("FetchPlan decides no-fetch/compact/full exactly like the reference") {
    import graft.inc.FetchPlan
    import graft.inc.FetchPlan.{Compact, Full, NoFetch}
    val wed = day("2024-06-12")
    // last loaded = yesterday (a business day): 0 missing -> NoFetch
    assert(FetchPlan.decide(Some(day("2024-06-11")), wed) == NoFetch)
    // one business day missing -> Compact
    assert(FetchPlan.decide(Some(day("2024-06-10")), wed) == Compact)
    // no table yet -> Full
    assert(FetchPlan.decide(None, wed) == Full)
    // >100 business days missing -> Full (2023-06-12 .. 2024-06-12 ≈ 250)
    assert(FetchPlan.decide(Some(day("2023-06-12")), wed) == Full)
    // the calendar matters: Juneteenth week counts 2 missing with the NYSE
    // calendar but 3 without it
    assert(FetchPlan.missingBusdays(day("2024-06-17"), day("2024-06-21")) == 2)
    assert(FetchPlan.missingBusdays(day("2024-06-17"), day("2024-06-21"),
      Array.empty) == 3)
    // exact compact boundary: missing == compactWindow stays Compact
    assert(FetchPlan.decide(Some(day("2024-06-10")), wed,
      compactWindow = 1) == Compact)
    assert(FetchPlan.decide(Some(day("2024-06-07")), wed,
      compactWindow = 1) == Full)
  }

  test("FetchPlan.retry: transient failures retried, permanent rethrown") {
    import graft.inc.FetchPlan
    var calls = 0
    val got = FetchPlan.retry(tries = 5, delayMs = 1L) { () =>
      calls += 1
      if (calls < 3) throw new RuntimeException("transient")
      42
    }
    assert(got == 42 && calls == 3)
    var always = 0
    val e = intercept[RuntimeException] {
      FetchPlan.retry(tries = 5, delayMs = 1L) { () =>
        always += 1; throw new RuntimeException("permanent")
      }
    }
    assert(e.getMessage == "permanent" && always == 5)
  }

  test("checked-in FX fixture parses to 8 4-metric bars (av_etl.py:113-121)") {
    val bars = AvJson.parseDailyBars(AvJson.fxFixtureDf(spark),
      "payload", "Time Series FX (Daily)", withVolume = false)
      .orderBy("date")
    val got = bars.collect()
    assert(got.length == 8)
    assert(bars.columns.toSeq == Seq("date", "open", "high", "low", "close"))
    assert(got.head.getAs[java.sql.Date]("date").toString == "2026-07-29")
    assert(got.head.getAs[Double]("open") == 3.96230)
    assert(got.last.getAs[Double]("close") == 3.93880)
  }
}
