package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ts.Indicators

/** Pins the TA indicator family (drawdown / VWAP / Bollinger / RSI) against
  * hand-computed values and a brute-force reimplementation using the same
  * exact-integer-then-fixed-double contract, so any reassociation or frame
  * drift shows up as a bitwise diff.
  */
class TaIndicatorsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def frame(closes: Seq[Double], key: String = "a") = {
    import spark.implicits._
    closes.zipWithIndex
      .map { case (v, i) => (key, f"2024-01-${i + 1}%02d", v) }
      .toDF("event_type", "d", "close")
      .withColumn("date", to_date(col("d"))).drop("d")
  }

  test("one-pass EMA is bitwise-equal to the declarative prefix fold") {
    import graft.ts.Ema
    // real data, multiple keys, awkward partitioning: the scale variant
    // must reproduce the window fold's doubles exactly, bit for bit
    val bars = graft.ts.Ohlc
      .dailyBars(Tables.events(spark, "/root/testdata/sf0.001"))
      .select("event_type", "date", "close")
      .repartition(13) // deliberately unaligned input layout
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[String]("event_type"), r.getAs[java.sql.Date]("date").toString)
    val declarative = Ema.withEma(bars, 0.25, Seq("event_type"))
      .collect().map(r => key(r) ->
        java.lang.Double.doubleToLongBits(r.getAs[Double]("ema"))).toMap
    val onePass = Ema.withEmaOnePass(bars, 0.25, Seq("event_type"))
      .collect().map(r => key(r) ->
        java.lang.Double.doubleToLongBits(r.getAs[Double]("ema"))).toMap
    assert(declarative.nonEmpty && onePass == declarative)
    // null handling: null rows carry the prior EMA forward, leading nulls
    // stay null (the declarative form cannot run this case — ANSI
    // element_at errors on the empty leading prefix — so the one-pass
    // variant is strictly more tolerant; pin its behavior directly)
    import spark.implicits._
    val withNulls = Seq(("a", "2024-01-01", None),
                        ("a", "2024-01-02", Some(10.0)),
                        ("a", "2024-01-03", None),
                        ("a", "2024-01-04", Some(20.0)))
      .toDF("event_type", "d", "close")
      .withColumn("date", to_date(col("d"))).drop("d")
    val gotN = Ema.withEmaOnePass(withNulls, 0.25, Seq("event_type"))
      .orderBy("date").collect()
      .map(r => if (r.isNullAt(r.fieldIndex("ema"))) None
                else Some(r.getAs[Double]("ema")))
    assert(gotN.toSeq == Seq(None, Some(10.0), Some(10.0),
                             Some(10.0 * 0.75 + 20.0 * 0.25)))
  }

  test("withDrawdown: peak is running max, drawdown ≤ 0 and exact") {
    val got = Indicators.withDrawdown(
        frame(Seq(10.0, 12.0, 9.0, 12.0, 8.0)), Seq("event_type"))
      .orderBy("date").collect()
    assert(got.map(_.getAs[Double]("peak")).toSeq ==
      Seq(10.0, 12.0, 12.0, 12.0, 12.0))
    val dd = got.map(_.getAs[Double]("drawdown_pct"))
    assert(dd(0) == 0.0 && dd(1) == 0.0 && dd(3) == 0.0)
    assert(dd(2) == (9.0 - 12.0) / 12.0 * 100.0)
    assert(dd(4) == (8.0 - 12.0) / 12.0 * 100.0)
    assert(dd.forall(_ <= 0.0))
  }

  test("vwap: exact cents·volume over volume, per bucket") {
    import spark.implicits._
    val bars = Seq(
      ("a", "2024-01-01", 10.00, 2L), ("a", "2024-01-02", 20.00, 6L),
      ("a", "2024-02-01", 5.50, 4L))
      .toDF("event_type", "d", "close", "volume")
      .withColumn("date", to_date(col("d"))).drop("d")
    val got = Indicators.vwap(bars,
        date_trunc("month", col("date")).cast("date").as("month"),
        Seq("event_type"))
      .orderBy("month").collect()
    // Jan: (1000·2 + 2000·6)/8/100 = 17.5 exactly
    assert(got(0).getAs[Double]("vwap") == 14000.0 / 8.0 / 100.0)
    assert(got(0).getAs[Long]("volume") == 8L)
    assert(got(1).getAs[Double]("vwap") == 5.5)
  }

  test("withBollinger: NULL until full frame; matches brute force bitwise") {
    val closes = Seq(10.0, 11.5, 9.25, 14.0, 8.0, 12.75, 10.1, 9.9)
    val n = 3
    val got = Indicators.withBollinger(frame(closes), n, 2.0,
        Seq("event_type"))
      .orderBy("date")
      .select("bb_mid", "bb_sd", "bb_upper", "bb_lower").collect()
    // brute force with the identical op order: long cents sums, one
    // double division, correctly-rounded sqrt
    val cents = closes.map(v => math.round(v * 100))
    for (i <- closes.indices) {
      if (i < n - 1) assert(got(i).isNullAt(0) && got(i).isNullAt(3))
      else {
        val win = cents.slice(i - n + 1, i + 1)
        val sc = win.sum
        val sc2 = win.map(c => c * c).sum
        val mid = sc.toDouble / (n * 100.0)
        val sd = math.sqrt((n * sc2 - sc * sc).toDouble) / (n * 100.0)
        assert(got(i).getDouble(0) == mid)
        assert(got(i).getDouble(1) == sd)
        assert(got(i).getDouble(2) == mid + 2.0 * sd)
        assert(got(i).getDouble(3) == mid - 2.0 * sd)
      }
    }
  }

  test("share/rank/corr window queries hold their invariants on real data") {
    val sf = "/root/testdata/sf0.001"
    // shares: within each month the shares sum to 1 exactly in cents space
    val share = SparkEntry.queries("agg_share_of_total")(spark, sf).collect()
    share.groupBy(_.getAs[java.sql.Date]("month")).values.foreach { rows =>
      val s = rows.map(_.getAs[Double]("share_of_month")).sum
      assert(math.abs(s - 1.0) < 1e-9, s"month shares sum to $s")
    }
    assert(math.abs(share.map(_.getAs[Double]("share_of_total")).sum - 1.0)
      < 1e-9)
    // cross-sectional ranks: a permutation with rank 1 present every date
    val ranks = SparkEntry.queries("ts_cross_sectional_rank")(spark, sf)
      .collect()
    ranks.groupBy(_.getAs[java.sql.Date]("date")).values.foreach { rows =>
      val rs = rows.map(_.getAs[Int]("day_rank"))
      assert(rs.min == 1 && rs.max <= rows.size)
    }
    // rolling correlation: bounded by [-1, 1] wherever defined
    SparkEntry.queries("ts_rolling_corr")(spark, sf).collect()
      .filterNot(_.isNullAt(1))
      .foreach(r => assert(math.abs(r.getDouble(1)) <= 1.0))
  }

  test("acf multilag: lag-1 row is bitwise-identical to ts_autocorr_lag1") {
    val sf = "/root/testdata/sf0.001"
    val multi = SparkEntry.queries("ts_acf_multilag")(spark, sf)
      .filter(col("lag") === 1L).collect()
      .map(r => r.getAs[String]("event_type") ->
        ((r.getAs[Long]("n"),
          java.lang.Double.doubleToLongBits(r.getAs[Double]("acf"))))).toMap
    val single = SparkEntry.queries("ts_autocorr_lag1")(spark, sf)
      .collect()
      .map(r => r.getAs[String]("event_type") ->
        ((r.getAs[Long]("n"), java.lang.Double.doubleToLongBits(
          r.getAs[Double]("autocorr_lag1"))))).toMap
    assert(multi.nonEmpty && multi == single)
    // and every ACF is a correlation: |acf| ≤ 1 at all lags
    assert(SparkEntry.queries("ts_acf_multilag")(spark, sf).collect()
      .forall(r => math.abs(r.getAs[Double]("acf")) <= 1.0))
  }

  test("turning points: strict extrema alternate on a hand series") {
    // closes: 1 3 2 4 4 1 5 — strict maxima at 3 (idx1), strict minima at
    // 2 (idx2) and 1 (idx5); the 4,4 plateau is one flat step, and the
    // plateau's second 4 is NOT a strict max (prev == c)
    val bars = frame(Seq(1.0, 3.0, 2.0, 4.0, 4.0, 1.0, 5.0))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy("date")
    val r = bars
      .select(col("event_type"),
        graft.olap.Exact.cents(col("close")).as("c"),
        lag(graft.olap.Exact.cents(col("close")), 1).over(w).as("p"),
        lead(graft.olap.Exact.cents(col("close")), 1).over(w).as("nx"))
      .groupBy("event_type")
      .agg(
        sum(when(col("p").isNotNull && col("nx").isNotNull &&
                 col("p") < col("c") && col("c") > col("nx"), 1L)
          .otherwise(0L)).as("mx"),
        sum(when(col("p").isNotNull && col("nx").isNotNull &&
                 col("p") > col("c") && col("c") < col("nx"), 1L)
          .otherwise(0L)).as("mn"),
        sum(when(col("p").isNotNull && col("p") === col("c"), 1L)
          .otherwise(0L)).as("fl"))
      .collect()(0)
    assert((r.getAs[Long]("mx"), r.getAs[Long]("mn"), r.getAs[Long]("fl"))
      == ((1L, 2L, 1L)))
  }

  test("cdc apply: delete finals drop out, survivors carry the last op") {
    val sf = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("inc_cdc_apply")(spark, sf).collect()
      .map(r => r.getAs[Long]("user_id") ->
        r.getAs[Long]("last_event_id")).toMap
    // independent reference: positional window over the raw events
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)
    val ref = Tables.events(spark, sf)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("event_type"),
                 r.getAs[Long]("event_id")))
    val expect = ref.filter(_._2 != "error").map(t => t._1 -> t._3).toMap
    assert(got.nonEmpty && got == expect)
    // deleted keys really are absent
    assert(ref.filter(_._2 == "error").forall(t => !got.contains(t._1)))
  }

  test("atr: TR dominates high-low, ATR stays inside the prefix envelope") {
    val sf = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("ts_atr")(spark, sf)
      .orderBy("event_type", "date").collect()
    assert(rows.nonEmpty)
    // per series: tr >= 0 and ATR (a convex prefix fold) never leaves
    // the [min, max] envelope of the TRs seen so far
    rows.groupBy(_.getAs[String]("event_type")).foreach { case (_, rs) =>
      var (lo, hi) = (Double.MaxValue, Double.MinValue)
      rs.foreach { r =>
        val tr = r.getAs[Double]("tr")
        assert(tr >= 0.0)
        lo = math.min(lo, tr); hi = math.max(hi, tr)
        val atr = r.getAs[Double]("atr")
        assert(atr >= lo && atr <= hi)
      }
    }
  }

  test("ulcer index: zero on monotone series, bounded by max drawdown") {
    val sf = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("ts_ulcer_index")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val ui = r.getAs[Double]("ulcer_pct")
      val mx = r.getAs[Long]("max_dd_bp").toDouble / 100.0
      // RMS of drawdowns is between 0 and the worst drawdown
      assert(ui >= 0.0 && ui <= mx + 1e-9)
    }
    // vocab growth: cumulative monotone, vocab <= tokens, ttr decreases
    val vg = SparkEntry.queries("text_vocab_growth")(spark, sf)
      .orderBy("bucket").collect()
    assert(vg.nonEmpty)
    vg.sliding(2).foreach { case Array(a, b) =>
      assert(b.getAs[Long]("cum_tokens") >= a.getAs[Long]("cum_tokens"))
      assert(b.getAs[Long]("cum_vocab") >= a.getAs[Long]("cum_vocab"))
      case _ => ()
    }
    vg.foreach(r =>
      assert(r.getAs[Long]("cum_vocab") <= r.getAs[Long]("cum_tokens")))
  }

  test("transition matrix rows sum to 1; sortino dominates sharpe magnitude") {
    val sf = "/root/testdata/sf0.001"
    val tm = SparkEntry.queries("mine_transition_matrix")(spark, sf)
      .collect()
    assert(tm.nonEmpty)
    tm.groupBy(_.getAs[String]("e_from")).values.foreach { rs =>
      assert(math.abs(rs.map(_.getAs[Double]("prob")).sum - 1.0) < 1e-9)
    }
    // both ratios share the mean numerator over positive denominators,
    // so their signs must agree wherever both are defined
    SparkEntry.queries("ts_sharpe_sortino")(spark, sf).collect()
      .foreach { r =>
        val (si, so) = (r.fieldIndex("sharpe"), r.fieldIndex("sortino"))
        if (!r.isNullAt(si) && !r.isNullAt(so))
          assert(math.signum(r.getDouble(so)) == math.signum(r.getDouble(si)))
      }
  }

  test("two-sample KS: engine matches the local exact lattice") {
    // the exact-integer KS lattice: D_num = max|n2*cum1 - n1*cum2|
    def dnum(a: Seq[Long], b: Seq[Long]): Long = {
      val support = (a ++ b).distinct.sorted
      val (n1, n2) = (a.size.toLong, b.size.toLong)
      support.map { v =>
        math.abs(n2 * a.count(_ <= v) - n1 * b.count(_ <= v))
      }.max
    }
    assert(dnum(Seq(1L, 2L, 3L), Seq(1L, 2L, 3L)) == 0L)
    // disjoint supports: all of a precedes b -> D = 1 = n1*n2/(n1*n2)
    assert(dnum(Seq(1L, 2L), Seq(10L, 11L, 12L)) == 2L * 3L)
    val sf = "/root/testdata/sf0.001"
    val r = SparkEntry.queries("agg_ks_statistic")(spark, sf).collect()(0)
    val ev = Tables.events(spark, sf)
      .filter(col("event_type").isin("click", "view"))
      .select("event_type", "value").collect()
      .map(x => (x.getString(0), math.round(x.getDouble(1) * 100)))
    val a = ev.filter(_._1 == "click").map(_._2).toSeq
    val b = ev.filter(_._1 == "view").map(_._2).toSeq
    assert(r.getAs[Long]("n1") == a.size && r.getAs[Long]("n2") == b.size)
    assert(r.getAs[Long]("d_num") == dnum(a, b))
  }

  test("withRsi: gain/loss split, NULL before n deltas and on flat frames") {
    // deltas (cents): +100, -50, +25, 0, +75
    val closes = Seq(10.0, 11.0, 10.5, 10.75, 10.75, 11.5)
    val got = Indicators.withRsi(frame(closes), 3, Seq("event_type"))
      .orderBy("date").select("rsi_3").collect()
    assert(got(0).isNullAt(0) && got(1).isNullAt(0) && got(2).isNullAt(0))
    // rows 3..5 have 3 trailing deltas each
    val expect3 = 125.0 * 100.0 / 175.0 // gains 100+25, losses 50
    assert(got(3).getDouble(0) == 125.0 * 100.0 / 175.0 && expect3 > 0)
    assert(got(4).getDouble(0) == 25.0 * 100.0 / 75.0)
    assert(got(5).getDouble(0) == 100.0 * 100.0 / 100.0)
    // all-flat series -> denominator 0 -> NULL once frame is full
    val flat = Indicators.withRsi(frame(Seq(5.0, 5.0, 5.0, 5.0, 5.0)), 3,
        Seq("event_type"))
      .orderBy("date").select("rsi_3").collect()
    assert(flat.forall(_.isNullAt(0)))
  }

  test("dow seasonality: bitwise brute-force replay, weekdays partition days") {
    val sf = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("ts_seasonality_dow")(spark, sf).collect()
    // independent exact recompute from the daily bars (cents are exact
    // longs, the divisions replay the query's fixed order → bitwise)
    val cents = graft.ts.Ohlc.dailyBars(Tables.events(spark, sf))
      .select(col("event_type"),
        (weekday(col("date")) + 1).cast("int").as("dw"),
        graft.olap.Exact.cents(col("close")).as("c")).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    rows.groupBy(_.getAs[String]("event_type")).foreach { case (et, rs) =>
      val mine = cents.filter(_._1 == et)
      val dows = rs.map(_.getAs[Int]("dow"))
      assert(dows.forall(d => d >= 1 && d <= 7)
        && dows.distinct.length == dows.length)
      assert(rs.map(_.getAs[Long]("n")).sum == mine.length)
      val (tn, tc) = (mine.length.toLong, mine.map(_._3).sum)
      rs.foreach { r =>
        val grp = mine.filter(_._2 == r.getAs[Int]("dow"))
        val (n, sc) = (grp.length.toLong, grp.map(_._3).sum)
        assert(r.getAs[Long]("n") == n)
        val avg = sc.toDouble / n.toDouble / 100.0
        assert(r.getAs[Double]("avg_close") == avg)
        assert(r.getAs[Double]("ratio_to_mean")
          == avg / (tc.toDouble / tn.toDouble / 100.0))
      }
    }
  }

  test("holiday effect: day classes partition every bar with a predecessor") {
    val sf = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("ts_holiday_effect")(spark, sf).collect()
    val classes = rows.map(_.getAs[String]("day_class")).distinct.toSet
    assert(classes.subsetOf(
      Set("holiday", "pre_holiday", "post_holiday", "regular")))
    // every series' class counts sum to (bars − 1): each bar except the
    // first has exactly one predecessor and exactly one class
    val bars = graft.ts.Ohlc.dailyBars(Tables.events(spark, sf))
      .groupBy("event_type").count().collect()
      .map(r => r.getAs[String]("event_type") -> r.getAs[Long]("count")).toMap
    rows.groupBy(_.getAs[String]("event_type")).foreach { case (et, rs) =>
      assert(rs.map(_.getAs[Long]("n_days")).sum == bars(et) - 1, et)
    }
  }

  test("ewma irregular: exact fold replay over real calendar gaps") {
    val sf = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("ts_ewma_irregular")(spark, sf).collect()
    assert(out.nonEmpty)
    // the thin segment genuinely has holes — the op is not ts_ema in
    // disguise on this fixture
    assert(out.exists(_.getAs[Long]("gap_days") > 1L))
    val pows = graft.olap.Exact.threeQuarterPows(30).map(_.doubleValue)
    out.groupBy(_.getAs[String]("event_type")).foreach { case (et, rs) =>
      val seq = rs.sortBy(_.getAs[java.sql.Date]("date").toString)
      var ewma = 0.0
      seq.zipWithIndex.foreach { case (r, i) =>
        val x = r.getAs[Double]("close")
        val g = pows(math.min(r.getAs[Long]("gap_days"), 30L).toInt - 1)
        ewma = if (i == 0) x else ewma * g + x * (1.0 - g)
        assert(r.getAs[Double]("ewma") == ewma, s"$et row $i") // bitwise
      }
    }
    // decay weights are exact finite decimals AND exact doubles: the
    // table round-trips text -> double -> text unchanged
    graft.olap.Exact.threeQuarterPows(30).foreach { p =>
      assert(new java.math.BigDecimal(p.doubleValue).compareTo(p) == 0)
    }
  }
}
