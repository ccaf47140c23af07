package graftbench

import java.time.LocalDate

import org.scalatest.funsuite.AnyFunSuite

import graft.cal.{BusdayCount, NyseCalendar}
import graft.inc.FetchPlan

class EtlDataSpec extends AnyFunSuite {

  test("the generator is a function of the seed") {
    val a = EtlData.series(7, 300)
    assert(a == EtlData.series(7, 300))
    assert(a != EtlData.series(8, 300))
    assert(EtlData.payload(a.equity, 100, 200, equity = true) ==
      EtlData.payload(EtlData.series(7, 300).equity, 100, 200, equity = true))
    // a longer series extends, never changes, a shorter one
    val longer = EtlData.series(7, 400)
    assert(longer.days.take(300) == a.days)
    assert(longer.fx.take(300).map(_.close) == a.fx.map(_.close))
  }

  test("bars are sane and carry the API's precision") {
    val s = EtlData.series(3, 500)
    for (b <- s.equity) {
      assert(b.low <= b.open.min(b.close) && b.high >= b.open.max(b.close))
      assert(b.close.scale == 2 && b.close > 0)
    }
    assert(s.fx.forall(b => b.close.scale == 4 && b.close > 0))
  }

  test("each tick advances exactly one NYSE business day") {
    val days = EtlData.series(11, EtlDaily.Backfill + 400).days
    val hol = NyseCalendar.default
    assert(days.forall(EtlData.isBusinessDay))
    days.sliding(2).foreach { case Seq(a, b) =>
      assert(BusdayCount.count(a.toEpochDay.toInt, b.toEpochDay.toInt, hol)
        == 1, s"$a -> $b")
    }
    // tick k loads day k with the sink at day k-1 and "today" at day k+1
    for (k <- EtlDaily.Backfill until days.size - 1) {
      val last = days(k - 1).toEpochDay.toInt
      val today = days(k + 1).toEpochDay.toInt
      assert(FetchPlan.decide(Some(last), today, hol) == FetchPlan.Compact)
    }
    assert(FetchPlan.decide(None, days(EtlDaily.Backfill).toEpochDay.toInt,
      hol) == FetchPlan.Full)
  }

  test("business days skip weekends and NYSE holidays") {
    // 2021-07-05 is the observed Independence Day
    assert(EtlData.nextBusinessDay(LocalDate.of(2021, 7, 2)) ==
      LocalDate.of(2021, 7, 6))
    assert(EtlData.businessDays(LocalDate.of(2021, 12, 24), 2) ==
      Seq(LocalDate.of(2021, 12, 27), LocalDate.of(2021, 12, 28)))
  }

  test("the payload is the API's newest-first compact window") {
    val s = EtlData.series(5, 150)
    val p = EtlData.payload(s.fx, 50, 150, equity = false)
    assert(p.contains("\"Time Series FX (Daily)\""))
    assert(!p.contains("5. volume"))
    val dates = "\"(\\d{4}-\\d{2}-\\d{2})\": \\{".r.findAllMatchIn(p)
      .map(_.group(1)).toSeq
    assert(dates.size == EtlData.CompactWindow)
    assert(dates == s.days.slice(50, 150).reverse.map(_.toString))
  }

  test("the expected report follows the exclusive trailing SMA") {
    val s = EtlData.series(9, 30)
    val r = EtlData.expectedReport(s, 30)
    assert(r.take(5).forall(_._3.isEmpty) && r(5)._3.isDefined)
    assert(r.take(20).forall(_._4.isEmpty) && r(20)._4.isDefined)
    val ccy = r.map(_._2)
    assert(math.abs(r(7)._3.get - ccy.slice(2, 7).sum / 5) < 1e-9)
    assert(EtlDaily.sameReport(r, r))
    assert(!EtlDaily.sameReport(r, r.updated(3, r(3).copy(_2 = r(3)._2 + 0.01))))
  }
}
