package graft

import org.scalatest.funsuite.AnyFunSuite

/** S6 report sink: structure, null handling, and byte-determinism of the
  * rendered HTML over the real report frame.
  */
class HtmlReportSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def frame = SparkEntry.queries("ts_report_frame")(spark, sfDir)
  private val cols =
    Seq("close_price_usd", "close_rate", "close_price_ccy")

  test("report renders every series and row, nulls as gaps") {
    val df = frame
    val n = df.count()
    val html = graft.report.HtmlReport.render(df, "demo price report",
      "date", cols :+ "sma_5_ccy")
    assert(html.startsWith("<!DOCTYPE html>"))
    assert(html.contains("<h1>demo price report</h1>"))
    cols.foreach(c => assert(html.contains(s"""data-series="$c"""")))
    assert(html.linesIterator.count(_.contains("<tr><td>")) == n)
    // the SMA warms up over the first rows -> fewer chart points than rows
    val smaPoints =
      """data-points="(\d+)"""".r.findAllMatchIn(html).map(_.group(1).toInt)
        .toSeq
    assert(smaPoints.take(3).forall(_ == n.toInt))
    assert(smaPoints(3) < n.toInt && smaPoints(3) > 0)
  }

  private def barsWithSma(eventType: String) = {
    import org.apache.spark.sql.functions.col
    val bars = graft.ts.Ohlc.dailyBars(
      Tables.events(spark, sfDir).filter(col("event_type") === eventType))
    graft.ts.Ohlc.withSma(
        graft.ts.Ohlc.withSma(bars, 5, Seq("event_type")),
        20, Seq("event_type"))
      .select("date", "open", "high", "low", "close", "sma_5", "sma_20")
      .orderBy("date")
  }

  test("price report: candlestick/ohlc glyph sets and dual axis " +
       "(data_viz.py parity, data-wise)") {
    val price = barsWithSma("purchase")
    val rate = barsWithSma("view")
    val n = price.count().toInt
    val html = graft.report.HtmlReport.renderPriceReport(
      price, rate, frame, "demo price report")
    // three figure variants per series, like the reference's Select blocks
    assert(html.contains("""data-series="price (candlestick)""""))
    assert(html.contains("""data-series="price (ohlc)""""))
    assert(html.contains("""data-series="price (line)""""))
    assert(html.contains("""data-series="rate (candlestick)""""))
    // every bar renders exactly one candle mark
    val candleCounts = """data-candles="(\d+)"""".r
      .findAllMatchIn(html).map(_.group(1).toInt).toSeq
    assert(candleCounts == Seq(n, n, n, n))
    assert(html.linesIterator.count(_.contains("<rect ")) == 2 * n)
    // ohlc glyph = one open tick + one close tick per bar
    assert(html.linesIterator.count(_.contains("""data-tick="o"""")) == 2 * n)
    assert(html.linesIterator.count(_.contains("""data-tick="c"""")) == 2 * n)
    // dual-axis comparison: 3 left + 3 right traces, own axis labels
    assert(html.contains("""data-kind="dual-axis""""))
    assert(html.linesIterator.count(_.contains("""data-axis="left"""")) == 3)
    assert(html.linesIterator.count(_.contains("""data-axis="right"""")) == 3)
    assert(html.contains("""data-axis-label="left-max""""))
    assert(html.contains("""data-axis-label="right-min""""))
    // rising candles hollow, falling filled — both appear on real data
    assert(html.contains("""class="up"""") && html.contains("""class="down""""))
    // byte-determinism (the S6 publish-diff contract)
    val again = graft.report.HtmlReport.renderPriceReport(
      price, rate, frame, "demo price report")
    assert(html == again)
  }

  test("rendering is byte-deterministic and the sink writes it") {
    val a = graft.report.HtmlReport.render(frame, "t", "date", cols)
    val b = graft.report.HtmlReport.render(frame, "t", "date", cols)
    assert(a == b)
    val out = graft.io.WorkDir.create("graft-report")
      .resolve("report.html").toString
    val len = graft.report.HtmlReport.write(frame, out, "t", "date", cols)
    assert(java.nio.file.Files.size(java.nio.file.Paths.get(out)) == len)
  }
}
