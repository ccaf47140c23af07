package graft

import java.time.LocalDate

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The paper's daily tick (watermark probes, two idempotent appends, the
  * SMA report) runs a fixed number of Spark jobs per step, whatever the
  * sinks' history: probe 0, each append 2, report 3. It forks no
  * file-system subprocess.
  */
class DailyTickSpec extends AnyFunSuite {
  import graft.inc.Watermark
  import graft.report.HtmlReport
  import graft.ts.Ohlc
  lazy val spark = SparkTestSession.spark

  private val day0 = LocalDate.parse("2010-01-04")
  private val Schema = "date DATE, close DOUBLE"

  private def bars(from: Int, until: Int, base: Double): DataFrame = {
    import spark.implicits._
    (from until until).map(i => (java.sql.Date.valueOf(day0.plusDays(i)),
      base + (i * 37 % 23) * 0.25)).toDF("date", "close")
  }

  private def sink(path: String): DataFrame =
    spark.read.schema(Schema).parquet(path)

  /** Jobs per step of one tick over sinks holding `history` days, and the
    * file-system subprocesses the whole tick started.
    */
  private def tick(history: Int): (Map[String, Int], Seq[String]) = {
    val dir = graft.io.WorkDir.create("graft_tick")
    val price = dir.resolve("price").toString
    val fx = dir.resolve("fx").toString
    Watermark.appendIdempotent(spark, bars(0, history, 100.0), price,
      Seq("date"))
    Watermark.appendIdempotent(spark, bars(0, history, 3.5), fx, Seq("date"))
    val ((jobs, html), forks) = SparkProbes.subprocesses(dir) {
      val (wms, probe) = SparkProbes.countJobs(spark) {
        Seq(price, fx).map(p => Watermark.highWatermark(sink(p), "date")
          .head().getDate(0).toLocalDate)
      }
      assert(wms == Seq.fill(2)(day0.plusDays(history - 1L)))
      // a compact payload: the newest 100 days, one of them new
      val (_, appendPrice) = SparkProbes.countJobs(spark) {
        Watermark.appendIdempotent(spark, bars(history - 99, history + 1,
          100.0), price, Seq("date"))
      }
      val (_, appendFx) = SparkProbes.countJobs(spark) {
        Watermark.appendIdempotent(spark, bars(history - 99, history + 1,
          3.5), fx, Seq("date"))
      }
      val (html, report) = SparkProbes.countJobs(spark) {
        val d = Ohlc.ccyDerive(sink(price), sink(fx))
        val s5 = Ohlc.withSma(d, 5, Nil, "date", "close_price_ccy")
        HtmlReport.render(
          Ohlc.withSma(s5, 20, Nil, "date", "close_price_ccy")
            .orderBy("date"),
          "daily", "date", Seq("close_price_ccy", "sma_5", "sma_20"))
      }
      (Map("probe" -> probe, "append.price" -> appendPrice,
        "append.fx" -> appendFx, "report" -> report), html)
    }
    assert(html.contains(day0.plusDays(history.toLong).toString))
    assert(sink(price).count() == history + 1)
    assert(sink(price).agg(countDistinct(col("date"))).head().getLong(0) ==
      history + 1)
    (jobs, forks)
  }

  private lazy val ticks = Seq(260, 2600).map(h => h -> tick(h))

  test("jobs per step stay flat from 260 to 2600 days of history") {
    val want = Map("probe" -> 0, "append.price" -> 2, "append.fx" -> 2,
      "report" -> 3)
    for ((history, (jobs, _)) <- ticks)
      assert(jobs == want, s"$history days")
  }

  test("a whole tick forks no chmod, readlink, ls or stat at 260 and 2600 days") {
    for ((history, (_, forks)) <- ticks)
      assert(forks.isEmpty, s"$history days: $forks")
  }
}
