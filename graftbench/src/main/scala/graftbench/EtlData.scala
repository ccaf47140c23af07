package graftbench

import java.time.{DayOfWeek, LocalDate}

import scala.math.BigDecimal.RoundingMode

import graft.cal.NyseCalendar

/** Seeded stand-in for the Alpha Vantage daily endpoints: an equity series
  * and an FX series over NYSE business days, served as the API's JSON
  * payloads (string-encoded numbers, newest date first).
  */
object EtlData {

  /** One daily bar. Prices carry 2 decimals, FX rates 4. */
  final case class Bar(date: LocalDate, open: BigDecimal, high: BigDecimal,
                       low: BigDecimal, close: BigDecimal, volume: Long)

  final case class Series(equity: IndexedSeq[Bar], fx: IndexedSeq[Bar]) {
    def days: IndexedSeq[LocalDate] = equity.map(_.date)
  }

  /** Rows in the API's compact response. */
  val CompactWindow = 100

  private val holidays = NyseCalendar.default

  def isBusinessDay(d: LocalDate): Boolean =
    d.getDayOfWeek != DayOfWeek.SATURDAY &&
      d.getDayOfWeek != DayOfWeek.SUNDAY &&
      java.util.Arrays.binarySearch(holidays, d.toEpochDay.toInt) < 0

  def nextBusinessDay(d: LocalDate): LocalDate = {
    var x = d.plusDays(1)
    while (!isBusinessDay(x)) x = x.plusDays(1)
    x
  }

  /** `n` consecutive business days, the first on or after `from`. */
  def businessDays(from: LocalDate, n: Int): IndexedSeq[LocalDate] = {
    val first = if (isBusinessDay(from)) from else nextBusinessDay(from)
    Iterator.iterate(first)(nextBusinessDay).take(n).toIndexedSeq
  }

  private def walk(rng: scala.util.Random, days: IndexedSeq[LocalDate],
                   start: Double, vol: Double, scale: Int,
                   volume: Boolean): IndexedSeq[Bar] = {
    def q(x: Double) = BigDecimal(x).setScale(scale, RoundingMode.HALF_EVEN)
    val floor = q(start / 4)
    var prev = q(start)
    days.map { d =>
      val close = q(prev.toDouble * (1 + vol * rng.nextGaussian())).max(floor)
      val open = prev
      val high = open.max(close) + q(rng.nextDouble() * vol * start)
      val low = (open.min(close) - q(rng.nextDouble() * vol * start)).max(floor)
      val v = if (volume) 1000000L + rng.nextInt(90000000) else 0L
      prev = close
      Bar(d, open, high, low, close, v)
    }
  }

  /** `n` business days of equity and FX bars; the seed fixes the first day
    * and every value.
    */
  def series(seed: Long, n: Int): Series = {
    // one generator per series, so a longer run extends a shorter one
    def rng(stream: Int) = new scala.util.Random(seed * 3 + stream)
    val (r0, eq, fx) = (rng(0), rng(1), rng(2))
    val days = businessDays(
      LocalDate.of(2016, 1, 4).plusDays(r0.nextInt(1500).toLong), n)
    Series(
      walk(eq, days, 80 + r0.nextInt(400), 0.012, 2, volume = true),
      walk(fx, days, 3.5 + r0.nextDouble(), 0.004, 4, volume = false))
  }

  /** The API payload for bars `[from, until)`, newest first. */
  def payload(bars: IndexedSeq[Bar], from: Int, until: Int,
              equity: Boolean): String = {
    val key = if (equity) "Time Series (Daily)" else "Time Series FX (Daily)"
    val body = (until - 1 to from by -1).map { i =>
      val b = bars(i)
      val vol = if (equity) s""", "5. volume": "${b.volume}"""" else ""
      s""""${b.date}": {"1. open": "${b.open}", "2. high": "${b.high}", """ +
        s""""3. low": "${b.low}", "4. close": "${b.close}"$vol}"""
    }.mkString(", ")
    s"""{"Meta Data": {"1. Information": "Daily Prices"}, "$key": {$body}}"""
  }

  /** What the report frame must hold for bars `[0, until)`: per date the
    * derived price (USD close times rate, banker's-rounded to cents) and its
    * exclusive trailing 5- and 20-day means.
    */
  def expectedReport(s: Series, until: Int)
      : IndexedSeq[(LocalDate, Double, Option[Double], Option[Double])] = {
    val ccy = (0 until until).map { i =>
      (s.equity(i).close * s.fx(i).close).setScale(2, RoundingMode.HALF_EVEN)
    }
    def sma(i: Int, n: Int): Option[Double] =
      if (i < n) None else Some(ccy.slice(i - n, i).sum.toDouble / n)
    (0 until until).map(i => (s.days(i), ccy(i).toDouble, sma(i, 5), sma(i, 20)))
  }
}
