package graft
package queries

import org.apache.spark.sql.functions._
import graft.CacheRegistry.QueryCached
import graft.olap.Exact
import graft.ts.{Indicators, Intervals, Ohlc}

/** Time-series (ts_*) family — one `Query` record per
  * query, its DuckDB oracle next to its Spark closure; SparkEntry
  * concatenates the family Seqs into `queries`/`oracleSql`.
  */
object TsQueries {

  val all: Seq[Query] = Seq(
    // §2.7 group-by resample (row "group-by aggregation"): tick stream →
    // daily OHLCV bars per series. Covers S3 scan, P1 projection, R3/R4
    // casts (ts → date), O1 sort.
    Query("ts_ohlc_resample", (s, dir) =>
      Ohlc.dailyBars(Tables.events(s, dir))
        .orderBy("event_type", "date"),
      Some("""SELECT event_type, CAST(ts AS DATE) AS date,
         arg_min(value, ts) AS open, max(value) AS high, min(value) AS low,
         arg_max(value, ts) AS close, count(*) AS volume
         FROM events GROUP BY 1, 2 ORDER BY 1, 2""")),

    // Banded dynamic time warping between every pair of daily close
    // series — the phase-tolerant alignment distance (Sakoe–Chiba band
    // max(8, |n−m|)). The corpus-sized work (bar resampling) stays
    // declarative; each series reduces to a bounded array (first 64
    // closes, cents lattice) and the 10 pairs fan out as rows, each task
    // running the O(n·band) exact-Long DP — the distributed DTW shape at
    // any scale is exactly this "one bounded pair per task". The oracle
    // unrolls the identical row recurrence as generated chained CTEs.
    Query("ts_dtw_band", (s, dir) => {
      import s.implicits._
      val ser = Ohlc.dailyBars(Tables.events(s, dir))
        .select(col("event_type"), col("date"),
          Exact.cents(col("close")).as("cc"))
        .groupBy("event_type")
        .agg(expr("slice(transform(array_sort(collect_list(" +
          "named_struct('d', date, 'c', cc))), x -> x.c), 1, 64)")
          .as("ser"))
      val pairs = ser
        .select(col("event_type").as("type_a"), col("ser").as("ser_a"))
        .join(broadcast(ser.select(col("event_type").as("type_b"),
          col("ser").as("ser_b"))), col("type_a") < col("type_b"))
      pairs.select("type_a", "ser_a", "type_b", "ser_b")
        .as[(String, Seq[Long], String, Seq[Long])]
        .map { case (ta, sa, tb, sb) =>
          (ta, tb, sa.length.toLong, sb.length.toLong,
            graft.ts.Dtw.banded(sa.toArray, sb.toArray, 8)) }
        .toDF("type_a", "type_b", "n_a", "n_b", "dtw_cents")
        .withColumn("dtw_norm", col("dtw_cents").cast("double")
          / (col("n_a") + col("n_b")).cast("double") / lit(100.0))
        .orderBy("type_a", "type_b")
    },
      // the DP is unrolled row-by-row as GENERATED chained CTEs (the
      // oracle string is built here in Scala, so no recursion is needed):
      // a warping path enters row i at column l from (i−1,l) or (i−1,l−1)
      // and then only moves right, so D(i,j) = min over entry points l of
      // [row-prefix-cost(l..j) + min(D(i−1,l), D(i−1,l−1))] — each row is
      // one set-wise join+min over the previous row's CTE
      Some {
      val inf = "1000000000000000"
      val maxRows = 64
      // MATERIALIZED is load-bearing: each row CTE references the
      // previous one TWICE (vertical + diagonal predecessor); inlined,
      // the 64-deep chain expands exponentially
      val rowCtes = (1 to maxRows).map { i =>
        s"""r$i AS MATERIALIZED (SELECT c.ta, c.tb, c.j,
               min(c.pref - (l.pref - l.c)
                   + least(coalesce(p1.d, $inf), coalesce(p0.d, $inf)))
                 AS d
             FROM pp c
             JOIN pp l ON l.ta = c.ta AND l.tb = c.tb AND l.i = $i
                       AND l.j <= c.j
             LEFT JOIN r${i - 1} p1 ON p1.ta = c.ta AND p1.tb = c.tb
                       AND p1.j = l.j
             LEFT JOIN r${i - 1} p0 ON p0.ta = c.ta AND p0.tb = c.tb
                       AND p0.j = l.j - 1
             WHERE c.i = $i
             GROUP BY 1, 2, 3)"""
      }.mkString(",\n            ")
      val finUnion = (1 to maxRows).map(i =>
        s"SELECT ta, tb, $i AS i, j, d FROM r$i").mkString("\n               UNION ALL ")
      s"""WITH b AS (SELECT event_type, CAST(ts AS DATE) AS date,
                       CAST(round(arg_max(value, ts) * 100, 0) AS BIGINT)
                         AS cc
                     FROM events GROUP BY 1, 2),
            ser AS (SELECT event_type,
                      (list(cc ORDER BY date))[1:$maxRows] AS ser
                    FROM b GROUP BY 1),
            pr AS (SELECT a.event_type AS ta, b2.event_type AS tb,
                     a.ser AS sa, b2.ser AS sb,
                     len(a.ser) AS na, len(b2.ser) AS nb,
                     greatest(8, abs(len(a.ser) - len(b2.ser))) AS rr
                   FROM ser a JOIN ser b2
                     ON a.event_type < b2.event_type),
            pc AS (SELECT ta, tb, ii.i AS i, jj.j AS j,
                     abs(sa[ii.i] - sb[jj.j]) AS c
                   FROM pr,
                     (SELECT unnest(generate_series(1, $maxRows)) AS i) ii,
                     (SELECT unnest(generate_series(1, $maxRows)) AS j) jj
                   WHERE ii.i <= na AND jj.j <= nb
                     AND abs(ii.i - jj.j) <= rr),
            pp AS MATERIALIZED (SELECT ta, tb, i, j, c,
                     sum(c) OVER (PARTITION BY ta, tb, i ORDER BY j)
                       AS pref
                   FROM pc),
            r0 AS (SELECT ta, tb, 0 AS j, CAST(0 AS BIGINT) AS d FROM pr),
            $rowCtes,
            fin AS ($finUnion)
         SELECT pr.ta AS type_a, pr.tb AS type_b, pr.na AS n_a,
                pr.nb AS n_b, CAST(f.d AS BIGINT) AS dtw_cents,
                CAST(CAST(f.d AS BIGINT) AS DOUBLE)
                  / CAST(pr.na + pr.nb AS DOUBLE) / 100.0 AS dtw_norm
         FROM pr JOIN fin f ON f.ta = pr.ta AND f.tb = pr.tb
                            AND f.i = pr.na AND f.j = pr.nb
         ORDER BY type_a, type_b"""
      }),

    // Resample generality: the same partial-aggregable OHLC over weekly
    // buckets (any granularity is just a different grouping expression).
    Query("ts_ohlc_resample_weekly", (s, dir) =>
      Ohlc.bars(Tables.events(s, dir),
          date_trunc("week", col("ts")).cast("date").as("week_start"))
        .orderBy("event_type", "week_start"),
      Some("""SELECT event_type, date_trunc('week', ts) AS week_start,
         arg_min(value, ts) AS open, max(value) AS high, min(value) AS low,
         arg_max(value, ts) AS close, count(*) AS volume
         FROM events GROUP BY 1, 2 ORDER BY 1, 2""")),

    // §2.4 J1 + §2.5 F1/F2 + §2.2 R5: keyed inner join of two daily series,
    // rename, multiply, bround (half-even) — the reference's
    // prd_{sym}_price_{ccy} table (av_etl.py:186-195).
    Query("ts_ccy_join_derive", (s, dir) => {
      val ev = Tables.events(s, dir)
      Ohlc.ccyDerive(
          Ohlc.dailyBars(ev.filter(col("event_type") === "purchase")),
          Ohlc.dailyBars(ev.filter(col("event_type") === "view")))
        .select("date", "close_price_usd", "close_rate", "close_price_ccy")
        .orderBy("date")
    },
      Some("""WITH p AS (SELECT CAST(ts AS DATE) AS date, arg_max(value, ts) AS close
                    FROM events WHERE event_type = 'purchase' GROUP BY 1),
              f AS (SELECT CAST(ts AS DATE) AS date, arg_max(value, ts) AS close
                    FROM events WHERE event_type = 'view' GROUP BY 1)
         SELECT p.date AS date, p.close AS close_price_usd,
                f.close AS close_rate,
                round_even(CAST(p.close AS DECIMAL(18,2)) *
                           CAST(f.close AS DECIMAL(18,4)), 2) AS close_price_ccy
         FROM p JOIN f USING (date) ORDER BY date""")),

    // §2.7 W1: NULL-gated exclusive trailing SMA (data_viz.py:100-109
    // semantics: avg of the n rows strictly before the current one, NULL
    // until n predecessors exist).
    Query("ts_sma", (s, dir) => {
      val ev = Tables.events(s, dir).filter(col("event_type") === "purchase")
      // the real series column keys the window even with one series, so
      // this plan is literally the multi-series plan at width 1
      val bars = Ohlc.dailyBars(ev).select("event_type", "date", "close")
      Ohlc.withSma(Ohlc.withSma(bars, 5, Seq("event_type")), 20,
          Seq("event_type"))
        .select("date", "close", "sma_5", "sma_20")
        .orderBy("date")
    },
      Some("""WITH b AS (SELECT CAST(ts AS DATE) AS date, arg_max(value, ts) AS close
                    FROM events WHERE event_type = 'purchase' GROUP BY 1)
         SELECT date, close,
           CASE WHEN count(close) OVER w5 = 5
                THEN CAST(sum(CAST(close AS DECIMAL(18,4))) OVER w5 AS DOUBLE) / 5
           END AS sma_5,
           CASE WHEN count(close) OVER w20 = 20
                THEN CAST(sum(CAST(close AS DECIMAL(18,4))) OVER w20 AS DOUBLE) / 20
           END AS sma_20
         FROM b
         WINDOW w5 AS (ORDER BY date ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING),
                w20 AS (ORDER BY date ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
         ORDER BY date""")),

    // §2.9 V2 data side / FIXTURES.md §C report frame: the joined derived
    // table with NULL-gated SMAs over BOTH price columns — the exact table
    // the reference's dual-axis report consumes (rendering stays out of
    // engine scope per SURVEY §7.5).
    Query("ts_report_frame", (s, dir) => {
      val ev = Tables.events(s, dir)
      val derived = Ohlc.ccyDerive(
        Ohlc.dailyBars(ev.filter(col("event_type") === "purchase")),
        Ohlc.dailyBars(ev.filter(col("event_type") === "view")),
        carryCols = Seq("event_type"))
      val k = Seq("event_type") // real series key -> partitioned windows
      val withCcySma =
        Ohlc.withSma(Ohlc.withSma(derived, 5, k, "date", "close_price_ccy"),
          20, k, "date", "close_price_ccy")
          .withColumnRenamed("sma_5", "sma_5_ccy")
          .withColumnRenamed("sma_20", "sma_20_ccy")
      val withUsdSma =
        Ohlc.withSma(Ohlc.withSma(withCcySma, 5, k, "date", "close_price_usd"),
          20, k, "date", "close_price_usd")
          .withColumnRenamed("sma_5", "sma_5_usd")
          .withColumnRenamed("sma_20", "sma_20_usd")
      // the reference's report also SMAs the exchange-rate series itself
      // (data_viz.py:103-104) — all three report figures get their frames
      Ohlc.withSma(Ohlc.withSma(withUsdSma, 5, k, "date", "close_rate"),
          20, k, "date", "close_rate")
        .withColumnRenamed("sma_5", "sma_5_rate")
        .withColumnRenamed("sma_20", "sma_20_rate")
        .select("date", "close_price_usd", "close_rate", "close_price_ccy",
                "sma_5_ccy", "sma_20_ccy", "sma_5_usd", "sma_20_usd",
                "sma_5_rate", "sma_20_rate")
        .orderBy("date")
    },
      Some("""WITH p AS (SELECT CAST(ts AS DATE) AS date, arg_max(value, ts) AS close
                    FROM events WHERE event_type = 'purchase' GROUP BY 1),
              f AS (SELECT CAST(ts AS DATE) AS date, arg_max(value, ts) AS close
                    FROM events WHERE event_type = 'view' GROUP BY 1),
              d AS (SELECT p.date AS date, p.close AS close_price_usd,
                           f.close AS close_rate,
                           round_even(CAST(p.close AS DECIMAL(18,2)) *
                                      CAST(f.close AS DECIMAL(18,4)), 2)
                             AS close_price_ccy
                    FROM p JOIN f USING (date))
         SELECT date, close_price_usd, close_rate, close_price_ccy,
           CASE WHEN count(close_price_ccy) OVER w5 = 5
                THEN CAST(sum(CAST(close_price_ccy AS DECIMAL(18,4))) OVER w5
                          AS DOUBLE) / 5 END AS sma_5_ccy,
           CASE WHEN count(close_price_ccy) OVER w20 = 20
                THEN CAST(sum(CAST(close_price_ccy AS DECIMAL(18,4))) OVER w20
                          AS DOUBLE) / 20 END AS sma_20_ccy,
           CASE WHEN count(close_price_usd) OVER w5 = 5
                THEN CAST(sum(CAST(close_price_usd AS DECIMAL(18,4))) OVER w5
                          AS DOUBLE) / 5 END AS sma_5_usd,
           CASE WHEN count(close_price_usd) OVER w20 = 20
                THEN CAST(sum(CAST(close_price_usd AS DECIMAL(18,4))) OVER w20
                          AS DOUBLE) / 20 END AS sma_20_usd,
           CASE WHEN count(close_rate) OVER w5 = 5
                THEN CAST(sum(CAST(close_rate AS DECIMAL(18,4))) OVER w5
                          AS DOUBLE) / 5 END AS sma_5_rate,
           CASE WHEN count(close_rate) OVER w20 = 20
                THEN CAST(sum(CAST(close_rate AS DECIMAL(18,4))) OVER w20
                          AS DOUBLE) / 20 END AS sma_20_rate
         FROM d
         WINDOW w5 AS (ORDER BY date ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING),
                w20 AS (ORDER BY date ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
         ORDER BY date""")),

    // Lag-family window: day-over-day simple returns per series — the
    // other half of the reference's derived-metrics surface (SMA is the
    // frame average; returns are the frame delta). Keyed window, exact
    // division order on both engines.
    Query("ts_daily_returns", (s, dir) =>
      Ohlc.withReturns(
          Ohlc.dailyBars(Tables.events(s, dir))
            .select(col("event_type"), col("date"), col("close")),
          Seq("event_type"))
        .orderBy("event_type", "date"),
      Some("""WITH b AS (SELECT event_type, CAST(ts AS DATE) AS date,
                           arg_max(value, ts) AS close
                    FROM events GROUP BY 1, 2)
         SELECT event_type, date, close,
                lag(close) OVER w AS prev_close,
                (close - lag(close) OVER w) / lag(close) OVER w * 100.0
                  AS return_pct
         FROM b WINDOW w AS (PARTITION BY event_type ORDER BY date)
         ORDER BY event_type, date""")),

    // W1 at scale: the same SMA with the window keyed by series — the
    // form every multi-series caller uses (one exchange on the series key,
    // sort within partitions; no single-partition global window).
    Query("ts_sma_multi_series", (s, dir) => {
      val bars = Ohlc.dailyBars(Tables.events(s, dir))
        .select("event_type", "date", "close")
      Ohlc.withSma(bars, 5, Seq("event_type"))
        .select("event_type", "date", "close", "sma_5")
        .orderBy("event_type", "date")
    },
      Some("""WITH b AS (SELECT event_type, CAST(ts AS DATE) AS date,
                           arg_max(value, ts) AS close
                    FROM events GROUP BY 1, 2)
         SELECT event_type, date, close,
           CASE WHEN count(close) OVER w5 = 5
                THEN CAST(sum(CAST(close AS DECIMAL(18,4))) OVER w5 AS DOUBLE) / 5
           END AS sma_5
         FROM b
         WINDOW w5 AS (PARTITION BY event_type ORDER BY date
                       ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING)
         ORDER BY event_type, date""")),

    // Sliding event-time windows (2-day windows, 1-day step): each event
    // lands in two windows — the windowed-aggregation shape shared by the
    // batch and streaming paths.
    Query("ts_sliding_window_2d", (s, dir) =>
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "2 days", "1 day"), col("event_type"))
        .agg(count(lit(1)).as("n"),
             sum(Exact.cents(col("value"))).cast("double")./(lit(100.0))
               .as("sum_value"))
        .select(col("window.start").cast("date").as("window_start"),
                col("event_type"), col("n"), col("sum_value"))
        .orderBy("window_start", "event_type"),
      Some("""WITH e AS (SELECT event_type, value,
                           unnest([date_trunc('day', ts) - INTERVAL 1 DAY,
                                   date_trunc('day', ts)]) AS wstart
                    FROM events)
         SELECT CAST(wstart AS DATE) AS window_start, event_type,
                count(*) AS n,
                CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS DOUBLE)
                  / 100.0 AS sum_value
         FROM e GROUP BY 1, 2 ORDER BY 1, 2""")),

    // MACD (12/26/9): the EMA prefix fold composed three times — fast and
    // slow EMAs of close, then the signal EMA over the derived MACD
    // sequence itself. Alphas are 2/(n+1) computed as one IEEE division
    // on both engines (identical bits), folds are step-for-step identical.
    Query("ts_macd", (s, dir) => {
      import graft.ts.Ema
      val bars = Ohlc.dailyBars(Tables.events(s, dir))
        .select("event_type", "date", "close")
      val e12 = Ema.withEma(bars, 2.0 / 13.0, Seq("event_type"))
        .withColumnRenamed("ema", "ema12")
      val e26 = Ema.withEma(e12, 2.0 / 27.0, Seq("event_type"))
        .withColumnRenamed("ema", "ema26")
      val m = e26.withColumn("macd", col("ema12") - col("ema26"))
      Ema.withEma(m, 2.0 / 10.0, Seq("event_type"), closeCol = "macd")
        .withColumnRenamed("ema", "signal")
        .withColumn("histogram", col("macd") - col("signal"))
        .select("event_type", "date", "macd", "signal", "histogram")
        .orderBy("event_type", "date")
    },
      Some("""WITH b AS (SELECT event_type, CAST(ts AS DATE) AS date,
                           arg_max(value, ts) AS close
                    FROM events GROUP BY 1, 2),
              l AS (SELECT event_type, date, close,
                           list(close) OVER (PARTITION BY event_type
                             ORDER BY date ROWS UNBOUNDED PRECEDING) AS cl
                    FROM b),
              m AS (SELECT event_type, date,
                      list_reduce(cl, (a, x) ->
                          a * (CAST(1 AS DOUBLE)
                               - CAST(2 AS DOUBLE) / CAST(13 AS DOUBLE))
                        + x * (CAST(2 AS DOUBLE) / CAST(13 AS DOUBLE)))
                      - list_reduce(cl, (a, x) ->
                          a * (CAST(1 AS DOUBLE)
                               - CAST(2 AS DOUBLE) / CAST(27 AS DOUBLE))
                        + x * (CAST(2 AS DOUBLE) / CAST(27 AS DOUBLE)))
                        AS macd
                    FROM l),
              sl AS (SELECT event_type, date, macd,
                            list(macd) OVER (PARTITION BY event_type
                              ORDER BY date ROWS UNBOUNDED PRECEDING) AS ml
                     FROM m),
              sg AS (SELECT event_type, date, macd,
                       list_reduce(ml, (a, x) ->
                           a * (CAST(1 AS DOUBLE)
                                - CAST(2 AS DOUBLE) / CAST(10 AS DOUBLE))
                         + x * (CAST(2 AS DOUBLE) / CAST(10 AS DOUBLE)))
                         AS signal
                     FROM sl)
         SELECT event_type, date, macd, signal,
                macd - signal AS histogram
         FROM sg ORDER BY event_type, date""")),

    // Running peak + percent drawdown per series — the prefix-max half of
    // the indicator family (SMA = prefix average, returns = prefix delta).
    // Keyed running-max window; two fixed-order IEEE ops for the percent.
    Query("ts_drawdown", (s, dir) =>
      Indicators.withDrawdown(
          Ohlc.dailyBars(Tables.events(s, dir))
            .select("event_type", "date", "close"),
          Seq("event_type"))
        .orderBy("event_type", "date"),
      Some("""WITH b AS (SELECT event_type, CAST(ts AS DATE) AS date,
                           arg_max(value, ts) AS close
                    FROM events GROUP BY 1, 2)
         SELECT event_type, date, close,
                max(close) OVER w AS peak,
                (close - max(close) OVER w) / max(close) OVER w
                  * CAST(100 AS DOUBLE) AS drawdown_pct
         FROM b
         WINDOW w AS (PARTITION BY event_type ORDER BY date
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         ORDER BY event_type, date""")),

    // Monthly VWAP per series from daily bars: exact long Σ(cents·volume)
    // and Σvolume (partial-aggregable groupBy — one row per series·month
    // on the shuffle), one double division chain.
    Query("ts_vwap_monthly", (s, dir) =>
      Indicators.vwap(
          Ohlc.dailyBars(Tables.events(s, dir)),
          date_trunc("month", col("date")).cast("date").as("month"),
          Seq("event_type"))
        .select("event_type", "month", "volume", "vwap")
        .orderBy("event_type", "month"),
      Some("""WITH b AS (SELECT event_type, CAST(ts AS DATE) AS date,
                           arg_max(value, ts) AS close, count(*) AS volume
                    FROM events GROUP BY 1, 2)
         SELECT event_type, CAST(date_trunc('month', date) AS DATE) AS month,
                CAST(sum(volume) AS BIGINT) AS volume,
                CAST(sum(CAST(round(close * 100, 0) AS BIGINT) * volume)
                     AS DOUBLE)
                  / CAST(sum(volume) AS DOUBLE) / CAST(100 AS DOUBLE) AS vwap
         FROM b GROUP BY 1, 2 ORDER BY 1, 2""")),

    // Bollinger bands (20-day, 2σ): trailing mean ± k·population stddev
    // from exact integer moment sums (Σc, Σc² as longs), sd via one
    // correctly-rounded sqrt — bit-portable like agg_value_stats.
    Query("ts_bollinger", (s, dir) =>
      Indicators.withBollinger(
          Ohlc.dailyBars(Tables.events(s, dir))
            .select("event_type", "date", "close"),
          20, 2.0, Seq("event_type"))
        .select("event_type", "date", "close",
                "bb_mid", "bb_sd", "bb_upper", "bb_lower")
        .orderBy("event_type", "date"),
      Some("""WITH b AS (SELECT event_type, CAST(ts AS DATE) AS date,
                           arg_max(value, ts) AS close
                    FROM events GROUP BY 1, 2),
              c AS (SELECT event_type, date, close,
                           CAST(round(close * 100, 0) AS BIGINT) AS cts
                    FROM b),
              m AS (SELECT event_type, date, close,
                           count(*) OVER w AS cnt,
                           sum(cts) OVER w AS sc,
                           sum(cts * cts) OVER w AS sc2
                    FROM c
                    WINDOW w AS (PARTITION BY event_type ORDER BY date
                                 ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
              d AS (SELECT event_type, date, close, cnt,
                           CAST(sc AS DOUBLE) / CAST(2000 AS DOUBLE) AS mid,
                           sqrt(CAST(20 * sc2 - sc * sc AS DOUBLE))
                             / CAST(2000 AS DOUBLE) AS sd
                    FROM m)
         SELECT event_type, date, close,
                CASE WHEN cnt = 20 THEN mid END AS bb_mid,
                CASE WHEN cnt = 20 THEN sd END AS bb_sd,
                CASE WHEN cnt = 20
                     THEN mid + CAST(2 AS DOUBLE) * sd END AS bb_upper,
                CASE WHEN cnt = 20
                     THEN mid - CAST(2 AS DOUBLE) * sd END AS bb_lower
         FROM d ORDER BY event_type, date""")),

    // Cutler's RSI (14-day): trailing gain/loss split of exact cent
    // deltas; the /n cancels so the result is one multiply + one divide.
    Query("ts_rsi", (s, dir) =>
      Indicators.withRsi(
          Ohlc.dailyBars(Tables.events(s, dir))
            .select("event_type", "date", "close"),
          14, Seq("event_type"))
        .select("event_type", "date", "close", "rsi_14")
        .orderBy("event_type", "date"),
      Some("""WITH b AS (SELECT event_type, CAST(ts AS DATE) AS date,
                           arg_max(value, ts) AS close
                    FROM events GROUP BY 1, 2),
              c AS (SELECT event_type, date, close,
                           CAST(round(close * 100, 0) AS BIGINT) AS cts
                    FROM b),
              d AS (SELECT event_type, date, close,
                           cts - lag(cts, 1) OVER
                             (PARTITION BY event_type ORDER BY date) AS delta
                    FROM c),
              g AS (SELECT event_type, date, close, delta,
                           CASE WHEN delta > 0 THEN delta ELSE 0 END AS gain,
                           CASE WHEN delta < 0 THEN -delta ELSE 0 END AS loss
                    FROM d),
              m AS (SELECT event_type, date, close,
                           count(delta) OVER w AS cnt,
                           sum(gain) OVER w AS sg,
                           sum(loss) OVER w AS sl
                    FROM g
                    WINDOW w AS (PARTITION BY event_type ORDER BY date
                                 ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
         SELECT event_type, date, close,
                CASE WHEN cnt = 14 AND sg + sl <> 0
                     THEN CAST(sg AS DOUBLE) * CAST(100 AS DOUBLE)
                          / CAST(sg + sl AS DOUBLE)
                END AS rsi_14
         FROM m ORDER BY event_type, date""")),

    // 7-day sliding distinct users: each event lands in the 7 windows
    // ending on days d..d+6 (explode of a constant offset range — linear,
    // no self-join), then an exact distinct per window end. At 100 TB the
    // scale path replaces countDistinct with merged daily HLL sketches
    // (sketch_hll_distinct) — same window explode, mergeable state.
    Query("ts_sliding_distinct_users", (s, dir) =>
      Tables.events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("d"))
        .select(col("user_id"),
                explode(sequence(lit(0), lit(6))).as("off"), col("d"))
        .select(col("user_id"), date_add(col("d"), col("off")).as("wend"))
        .groupBy("wend")
        .agg(count(lit(1)).as("n_events"),
             countDistinct(col("user_id")).as("n_users"))
        .orderBy("wend"),
      Some("""WITH e AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
              x AS (SELECT user_id, d + off AS wend
                    FROM e CROSS JOIN
                         (SELECT unnest([0, 1, 2, 3, 4, 5, 6]) AS off) t)
         SELECT wend, count(*) AS n_events,
                count(DISTINCT user_id) AS n_users
         FROM x GROUP BY 1 ORDER BY 1""")),

    // Day-of-week seasonality: per-series ISO-dow average close vs the
    // series overall average — exact cent sums, two fixed division
    // chains, ratio > 1 means the weekday trades rich.
    Query("ts_seasonality_dow", (s, dir) => {
      val bars = Ohlc.dailyBars(Tables.events(s, dir))
        .select(col("event_type"), col("date"),
                Exact.cents(col("close")).as("cents"))
      val dow = bars.groupBy(col("event_type"),
          (weekday(col("date")) + 1).as("dow"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sc"))
      val tot = bars.groupBy("event_type")
        .agg(count(lit(1)).as("tn"), sum(col("cents")).as("tc"))
      val avgDow = col("sc").cast("double") / col("n").cast("double") /
        lit(100.0)
      val avgAll = col("tc").cast("double") / col("tn").cast("double") /
        lit(100.0)
      dow.join(broadcast(tot), "event_type")
        .select(col("event_type"), col("dow"), col("n"),
          avgDow.as("avg_close"), (avgDow / avgAll).as("ratio_to_mean"))
        .orderBy("event_type", "dow")
    },
      Some("""WITH b AS (SELECT event_type, CAST(ts AS DATE) AS date,
                           CAST(round(arg_max(value, ts) * 100, 0) AS BIGINT)
                             AS cents
                    FROM events GROUP BY 1, 2),
              d AS (SELECT event_type, isodow(date) AS dow, count(*) AS n,
                           sum(cents) AS sc
                    FROM b GROUP BY 1, 2),
              t AS (SELECT event_type, count(*) AS tn, sum(cents) AS tc
                    FROM b GROUP BY 1)
         SELECT d.event_type, d.dow, d.n,
                CAST(sc AS DOUBLE) / CAST(n AS DOUBLE) / 100.0 AS avg_close,
                (CAST(sc AS DOUBLE) / CAST(n AS DOUBLE) / 100.0)
                  / (CAST(tc AS DOUBLE) / CAST(tn AS DOUBLE) / 100.0)
                  AS ratio_to_mean
         FROM d JOIN t ON d.event_type = t.event_type
         ORDER BY d.event_type, d.dow""")),

    // Cross-sectional daily rank: each day, rank the series by simple
    // return — the per-date window is the transpose of the per-series
    // return window (two keyed exchanges). First-day NULL returns are
    // filtered before ranking: engines disagree on default NULL ordering.
    Query("ts_cross_sectional_rank", (s, dir) => {
      val ret = Ohlc.withReturns(
          Ohlc.dailyBars(Tables.events(s, dir))
            .select("event_type", "date", "close"),
          Seq("event_type"))
        .filter(col("return_pct").isNotNull)
      val wDate = org.apache.spark.sql.expressions.Window
        .partitionBy(col("date"))
        .orderBy(col("return_pct").desc, col("event_type").asc)
      ret.withColumn("day_rank", rank().over(wDate))
        .select("date", "event_type", "return_pct", "day_rank")
        .orderBy("date", "event_type")
    },
      Some("""WITH b AS (SELECT event_type, CAST(ts AS DATE) AS date,
                           arg_max(value, ts) AS close
                    FROM events GROUP BY 1, 2),
              r AS (SELECT event_type, date, close,
                           lag(close, 1) OVER (PARTITION BY event_type
                                               ORDER BY date) AS prev_close
                    FROM b),
              p AS (SELECT event_type, date,
                           (close - prev_close) / prev_close * 100.0
                             AS return_pct
                    FROM r WHERE prev_close IS NOT NULL)
         SELECT date, event_type, return_pct,
                rank() OVER (PARTITION BY date
                             ORDER BY return_pct DESC, event_type ASC)
                  AS day_rank
         FROM p ORDER BY date, event_type""")),

    // Rolling 20-day correlation of the purchase and view series: all six
    // moment sums exact longs over the trailing window, one fixed-order
    // double formula (sqrt correctly rounded) — the pairwise cousin of
    // emb_dim_correlation, NULL until the frame fills or when degenerate.
    Query("ts_rolling_corr", (s, dir) => {
      val bars = Ohlc.dailyBars(Tables.events(s, dir))
      val x = bars.filter(col("event_type") === "purchase")
        .select(col("date"), Exact.cents(col("close")).as("cx"))
      val y = bars.filter(col("event_type") === "view")
        .select(col("date"), Exact.cents(col("close")).as("cy"))
      val j = x.join(y, Seq("date"))
      // one date-joined series by construction — deliberate single
      // partition, keyed so the intent survives constant folding
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(Exact.onePartition(col("cx")))
        .orderBy(col("date")).rowsBetween(-19, 0)
      val n = count(lit(1)).over(w)
      val sx = sum(col("cx")).over(w)
      val sy = sum(col("cy")).over(w)
      val sxx = sum(col("cx") * col("cx")).over(w)
      val syy = sum(col("cy") * col("cy")).over(w)
      val sxy = sum(col("cx") * col("cy")).over(w)
      val num = lit(20L) * sxy - sx * sy
      val dx = lit(20L) * sxx - sx * sx
      val dy = lit(20L) * syy - sy * sy
      j.withColumn("corr_20",
          when(n === 20 && dx > 0L && dy > 0L,
            num.cast("double") /
              (sqrt(dx.cast("double")) * sqrt(dy.cast("double")))))
        .select("date", "corr_20")
        .orderBy("date")
    },
      Some("""WITH b AS (SELECT event_type, CAST(ts AS DATE) AS date,
                           arg_max(value, ts) AS close
                    FROM events GROUP BY 1, 2),
              x AS (SELECT date, CAST(round(close * 100, 0) AS BIGINT) AS cx
                    FROM b WHERE event_type = 'purchase'),
              y AS (SELECT date, CAST(round(close * 100, 0) AS BIGINT) AS cy
                    FROM b WHERE event_type = 'view'),
              j AS (SELECT x.date, cx, cy FROM x JOIN y USING (date)),
              m AS (SELECT date,
                           count(*) OVER w AS n,
                           sum(cx) OVER w AS sx, sum(cy) OVER w AS sy,
                           sum(cx * cx) OVER w AS sxx,
                           sum(cy * cy) OVER w AS syy,
                           sum(cx * cy) OVER w AS sxy
                    FROM j
                    WINDOW w AS (ORDER BY date
                                 ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
         SELECT date,
                CASE WHEN n = 20 AND 20 * sxx - sx * sx > 0
                              AND 20 * syy - sy * sy > 0
                     THEN CAST(20 * sxy - sx * sy AS DOUBLE)
                          / (sqrt(CAST(20 * sxx - sx * sx AS DOUBLE))
                             * sqrt(CAST(20 * syy - sy * sy AS DOUBLE)))
                END AS corr_20
         FROM m ORDER BY date""")),

    // Interval union / coverage per user: each event spans 30 min; merge
    // overlapping-or-touching spans into islands (running-max-end), count
    // them and sum covered time — exact epoch-microsecond longs.
    Query("ts_interval_coverage", (s, dir) =>
      Intervals.coverage(Tables.events(s, dir), "user_id", "ts", 1800L)
        .orderBy("user_id"),
      Some("""WITH iv AS (SELECT user_id, epoch_us(ts) AS s,
                            epoch_us(ts) + 1800000000 AS e
                     FROM events),
              m AS (SELECT user_id, s, e,
                           max(e) OVER (PARTITION BY user_id ORDER BY s, e
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND 1 PRECEDING) AS pm
                    FROM iv),
              i AS (SELECT user_id, s, e,
                           sum(CASE WHEN pm IS NULL OR s > pm
                                    THEN 1 ELSE 0 END)
                             OVER (PARTITION BY user_id ORDER BY s, e
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS island
                    FROM m),
              g AS (SELECT user_id, island, min(s) AS st, max(e) AS en
                    FROM i GROUP BY 1, 2)
         SELECT user_id, count(*) AS n_intervals,
                CAST(sum(en - st) AS BIGINT) AS covered_us
         FROM g GROUP BY 1 ORDER BY user_id""")),

    // Gaps-and-islands: longest up/down streak of daily closes per series
    // via the rank-difference trick (two keyed row_numbers, no iteration).
    // Calendar completeness audit per series: expected weekdays between
    // the series' own first and last bar vs the weekday bars actually
    // present — the missing-bar count a market-data QA job alerts on.
    // The per-series day range explodes from a 1-row-per-series bound
    // frame (sequence + explode), never from the bar rows themselves.
    Query("ts_calendar_gaps", (s, dir) => {
      val bars = Ohlc.dailyBars(Tables.events(s, dir))
        .select(col("event_type"), col("date"))
      val isWeekday = !dayofweek(col("day")).isin(1, 7)
      val bounds = bars.groupBy("event_type")
        .agg(min(col("date")).as("dmin"), max(col("date")).as("dmax"),
             countDistinct(when(!dayofweek(col("date")).isin(1, 7),
               col("date"))).as("n_observed"))
      bounds
        .withColumn("day", explode(sequence(col("dmin"), col("dmax"))))
        .filter(isWeekday)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_expected"),
             max(col("n_observed")).as("n_observed"))
        .select(col("event_type"), col("n_expected"), col("n_observed"),
                (col("n_expected") - col("n_observed")).as("n_missing"))
        .orderBy("event_type")
    },
      Some("""WITH b AS (SELECT DISTINCT event_type, CAST(ts AS DATE) AS date
                    FROM events),
              bounds AS (SELECT event_type, min(date) AS dmin,
                                max(date) AS dmax,
                                CAST(count(DISTINCT CASE WHEN isodow(date) <= 5
                                  THEN date END) AS BIGINT) AS n_observed
                         FROM b GROUP BY 1),
              days AS (SELECT event_type, n_observed,
                              CAST(unnest(generate_series(dmin, dmax,
                                INTERVAL 1 DAY)) AS DATE) AS day
                       FROM bounds),
              exp AS (SELECT event_type, count(*) AS n_expected,
                             max(n_observed) AS n_observed
                      FROM days WHERE isodow(day) <= 5 GROUP BY 1)
         SELECT event_type, n_expected, n_observed,
                n_expected - n_observed AS n_missing
         FROM exp ORDER BY event_type""")),

    // Regular-grid resample + forward fill (pandas resample().ffill()):
    // project each series onto a uniform 6-hour grid spanning its own
    // range, carrying the last event value at-or-before each grid point
    // via the engine's as-of join. The grid explodes from a
    // 1-row-per-series bounds frame, so grid generation is never
    // proportional to event rows; the fill is one keyed as-of shuffle.
    Query("ts_resample_grid_ffill", (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_type"), col("ts"), col("value"))
      val grid = ev.groupBy("event_type")
        .agg(min(col("ts")).as("tmin"), max(col("ts")).as("tmax"))
        .withColumn("ts", explode(sequence(
          date_trunc("hour", col("tmin")),
          col("tmax"), expr("INTERVAL 6 HOURS"))))
        .select("event_type", "ts")
      graft.ts.AsOfJoin.asOf(grid, ev, Seq("event_type"), "ts",
          Seq("value"))
        .select(col("event_type"), col("ts"),
                col("asof_ts"), col("asof_value"))
        .orderBy("event_type", "ts")
    },
      Some("""WITH ev AS (SELECT event_type, ts, value FROM events),
              b AS (SELECT event_type, min(ts) AS tmin, max(ts) AS tmax
                    FROM ev GROUP BY 1),
              g AS (SELECT event_type,
                           unnest(generate_series(date_trunc('hour', tmin),
                             tmax, INTERVAL 6 HOUR)) AS ts
                    FROM b)
         SELECT g.event_type, g.ts, e.ts AS asof_ts, e.value AS asof_value
         FROM g ASOF LEFT JOIN ev e
           ON g.event_type = e.event_type AND e.ts <= g.ts
         ORDER BY g.event_type, g.ts""")),

    // Regular-grid resample + LINEAR INTERPOLATION (pandas
    // resample().interpolate()): each 6-hour grid point takes
    // prev + (next − prev)·(t − t_prev)/(t_next − t_prev) between its
    // surrounding events — backward and forward as-of joins supply the
    // brackets, the fraction is µs-exact integers divided once. Grid
    // boundary rows (no bracket on one side) carry the available side.
    Query("ts_resample_interpolate", (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_type"), col("ts"), col("value"))
      val grid = ev.groupBy("event_type")
        .agg(min(col("ts")).as("tmin"), max(col("ts")).as("tmax"))
        .withColumn("ts", explode(sequence(
          date_trunc("hour", col("tmin")),
          col("tmax"), expr("INTERVAL 6 HOURS"))))
        .select("event_type", "ts")
      val back = graft.ts.AsOfJoin.asOf(grid, ev, Seq("event_type"), "ts",
          Seq("value"))
        .select(col("event_type"), col("ts"),
                col("asof_ts").as("bt"), col("asof_value").as("bv"))
      val fwd = graft.ts.AsOfJoin.asOfForward(grid, ev, Seq("event_type"),
          "ts", Seq("value"))
        .select(col("event_type"), col("ts"),
                col("asof_ts").as("ft"), col("asof_value").as("fv"))
      val t = unix_micros(col("ts"))
      val bt = unix_micros(col("bt"))
      val ft = unix_micros(col("ft"))
      back.join(fwd, Seq("event_type", "ts"))
        .withColumn("interp",
          when(col("bt").isNull, col("fv"))
            .when(col("ft").isNull, col("bv"))
            .when(col("ft") === col("bt"), col("bv"))
            .otherwise(col("bv") + (col("fv") - col("bv"))
              * ((t - bt).cast("double") / (ft - bt).cast("double"))))
        .select(col("event_type"), col("ts"), col("bt"), col("ft"),
                col("interp"))
        .orderBy("event_type", "ts")
    },
      Some("""WITH ev AS (SELECT event_type, ts, value FROM events),
              b AS (SELECT event_type, min(ts) AS tmin, max(ts) AS tmax
                    FROM ev GROUP BY 1),
              g AS (SELECT event_type,
                           unnest(generate_series(date_trunc('hour', tmin),
                             tmax, INTERVAL 6 HOUR)) AS ts
                    FROM b),
              bk AS (SELECT g.event_type, g.ts, e.ts AS bt, e.value AS bv
                     FROM g ASOF LEFT JOIN ev e
                       ON g.event_type = e.event_type AND e.ts <= g.ts),
              fw AS (SELECT g.event_type, g.ts, e.ts AS ft, e.value AS fv
                     FROM g ASOF LEFT JOIN ev e
                       ON g.event_type = e.event_type AND e.ts >= g.ts)
         SELECT bk.event_type, bk.ts, bk.bt, fw.ft,
                CASE WHEN bk.bt IS NULL THEN fw.fv
                     WHEN fw.ft IS NULL THEN bk.bv
                     WHEN fw.ft = bk.bt THEN bk.bv
                     ELSE bk.bv + (fw.fv - bk.bv)
                       * (CAST(epoch_us(bk.ts) - epoch_us(bk.bt) AS DOUBLE)
                          / CAST(epoch_us(fw.ft) - epoch_us(bk.bt)
                                 AS DOUBLE))
                END AS interp
         FROM bk JOIN fw ON fw.event_type = bk.event_type
                        AND fw.ts = bk.ts
         ORDER BY bk.event_type, bk.ts""")),

    // Sequential pattern matching (the MATCH_RECOGNIZE shape): count
    // down-down-up reversals per series via a lag chain over exact
    // cents — keyed window, three comparisons, one partial-aggregable
    // summary; ties (flat days) count as neither down nor up.
    Query("ts_pattern_ddu", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy("date")
      Ohlc.dailyBars(Tables.events(s, dir))
        .select(col("event_type"), col("date"),
                Exact.cents(col("close")).as("c"))
        .withColumn("c1", lag(col("c"), 1).over(w))
        .withColumn("c2", lag(col("c"), 2).over(w))
        .withColumn("c3", lag(col("c"), 3).over(w))
        .withColumn("is_ddu",
          when(col("c3").isNotNull &&
               col("c2") < col("c3") && col("c1") < col("c2") &&
               col("c") > col("c1"), 1L)
            .otherwise(0L))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_days"),
             sum(col("is_ddu")).as("n_patterns"),
             min(when(col("is_ddu") === 1, col("date"))).as("first_hit"))
        .orderBy("event_type")
    },
      Some("""WITH b AS (SELECT event_type, CAST(ts AS DATE) AS date,
                           CAST(round(arg_max(value, ts) * 100, 0) AS BIGINT)
                             AS c
                    FROM events GROUP BY 1, 2),
              l AS (SELECT event_type, date, c,
                           lag(c, 1) OVER w AS c1,
                           lag(c, 2) OVER w AS c2,
                           lag(c, 3) OVER w AS c3
                    FROM b
                    WINDOW w AS (PARTITION BY event_type ORDER BY date)),
              m AS (SELECT event_type, date,
                           CASE WHEN c3 IS NOT NULL AND c2 < c3
                                 AND c1 < c2 AND c > c1
                                THEN 1 ELSE 0 END AS is_ddu
                    FROM l)
         SELECT event_type, count(*) AS n_days,
                CAST(sum(is_ddu) AS BIGINT) AS n_patterns,
                min(CASE WHEN is_ddu = 1 THEN date END) AS first_hit
         FROM m GROUP BY 1 ORDER BY 1""")),

    // Running distinct users per series — the cumulative-cardinality
    // curve, computed WITHOUT any running distinct state: a user's first
    // (series, date) is one groupBy min, the per-date first-seen counts
    // are partial-aggregable, and the running sum is a keyed window over
    // date rows (one per series·day). The trick that turns an O(n·d)
    // distinct-scan into two aggregates + a tiny window.
    Query("ts_running_distinct_users", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy("date")
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, 0)
      val firstSeen = Tables.events(s, dir)
        .select(col("event_type"), col("user_id"),
                col("ts").cast("date").as("date"))
        .groupBy("event_type", "user_id")
        .agg(min(col("date")).as("first_date"))
      firstSeen.groupBy(col("event_type"), col("first_date").as("date"))
        .agg(count(lit(1)).as("n_new"))
        .withColumn("cum_distinct_users", sum(col("n_new")).over(w))
        .orderBy("event_type", "date")
    },
      Some("""WITH fs AS (SELECT event_type, user_id,
                            min(CAST(ts AS DATE)) AS first_date
                     FROM events GROUP BY 1, 2),
              nn AS (SELECT event_type, first_date AS date,
                            count(*) AS n_new
                     FROM fs GROUP BY 1, 2)
         SELECT event_type, date, n_new,
                CAST(sum(n_new) OVER (PARTITION BY event_type ORDER BY date
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum_distinct_users
         FROM nn ORDER BY event_type, date""")),

    // Cross-series return correlation matrix (the portfolio risk
    // diagonal's off-diagonal): Pearson r for every series pair over
    // date-aligned quantized returns — the ts_beta template applied
    // pairwise, exact BIGINT cross-sums, DECIMAL products of sums, one
    // fixed final chain per pair. The date equi-join aligns pairs; pair
    // count is (k choose 2) over a handful of series, never data-sized.
    Query("ts_corr_matrix", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy("date")
      val rq = Ohlc.dailyBars(Tables.events(s, dir))
        .select(col("event_type"), col("date"),
                Exact.cents(col("close")).as("c"))
        .withColumn("prev", lag(col("c"), 1).over(w))
        .filter(col("prev").isNotNull)
        .select(col("event_type"), col("date"),
          floor((col("c") - col("prev")).cast("double")
            / col("prev").cast("double") * lit(1048576.0)).cast("long")
            .as("r"))
      val a = rq.select(col("event_type").as("type_a"), col("date"),
                        col("r").as("x"))
      val b = rq.select(col("event_type").as("type_b"), col("date"),
                        col("r").as("y"))
      val agg = a.join(b, "date").filter(col("type_a") < col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
             sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
             sum(col("x") * col("x")).as("sxx"),
             sum(col("y") * col("y")).as("syy"))
      val nd = col("n").cast("decimal(38,0)")
      def d(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
      agg.select(col("type_a"), col("type_b"), col("n"),
        ((nd * col("sxy") - d(col("sx")) * col("sy")).cast("double")
          / (sqrt((nd * col("sxx") - d(col("sx")) * col("sx"))
               .cast("double"))
             * sqrt((nd * col("syy") - d(col("sy")) * col("sy"))
               .cast("double"))))
          .as("corr"))
        .orderBy("type_a", "type_b")
    },
      Some("""WITH b AS (SELECT event_type, CAST(ts AS DATE) AS date,
                           CAST(round(arg_max(value, ts) * 100, 0) AS BIGINT)
                             AS c
                    FROM events GROUP BY 1, 2),
              r AS (SELECT event_type, date, c,
                           lag(c, 1) OVER (PARTITION BY event_type
                                           ORDER BY date) AS prev
                    FROM b),
              q AS (SELECT event_type, date,
                           CAST(floor(CAST(c - prev AS DOUBLE)
                             / CAST(prev AS DOUBLE)
                             * CAST(1048576 AS DOUBLE)) AS BIGINT) AS r
                    FROM r WHERE prev IS NOT NULL),
              p AS (SELECT x.event_type AS type_a, y.event_type AS type_b,
                           x.r AS x, y.r AS y
                    FROM q x JOIN q y ON x.date = y.date
                     AND x.event_type < y.event_type),
              ag AS (SELECT type_a, type_b,
                            CAST(count(*) AS HUGEINT) AS n,
                            CAST(sum(x) AS HUGEINT) AS sx,
                            CAST(sum(y) AS HUGEINT) AS sy,
                            CAST(sum(x * y) AS HUGEINT) AS sxy,
                            CAST(sum(x * x) AS HUGEINT) AS sxx,
                            CAST(sum(y * y) AS HUGEINT) AS syy
                     FROM p GROUP BY 1, 2)
         SELECT type_a, type_b, CAST(n AS BIGINT) AS n,
                CAST(CAST(n * sxy - sx * sy AS BIGINT) AS DOUBLE)
                  / (sqrt(CAST(CAST(n * sxx - sx * sx AS BIGINT) AS DOUBLE))
                     * sqrt(CAST(CAST(n * syy - sy * sy AS BIGINT)
                                 AS DOUBLE))) AS corr
         FROM ag ORDER BY type_a, type_b""")),

    // Realized volatility per series: sqrt(Σ r²) over the once-quantized
    // daily returns — the exact-integer sum of squares makes the whole
    // statistic one sqrt + one division from a BIGINT.
    Query("ts_realized_vol", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy("date")
      Ohlc.dailyBars(Tables.events(s, dir))
        .select(col("event_type"), col("date"),
                Exact.cents(col("close")).as("c"))
        .withColumn("prev", lag(col("c"), 1).over(w))
        .filter(col("prev").isNotNull)
        .select(col("event_type"),
          floor((col("c") - col("prev")).cast("double")
            / col("prev").cast("double") * lit(1048576.0)).cast("long")
            .as("rq"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("rq") * col("rq")).as("s2"))
        .select(col("event_type"), col("n"),
          (sqrt(col("s2").cast("double")) / lit(1048576.0))
            .as("realized_vol"))
        .orderBy("event_type")
    },
      Some("""WITH b AS (SELECT event_type, CAST(ts AS DATE) AS date,
                           CAST(round(arg_max(value, ts) * 100, 0) AS BIGINT)
                             AS c
                    FROM events GROUP BY 1, 2),
              r AS (SELECT event_type, c,
                           lag(c, 1) OVER (PARTITION BY event_type
                                           ORDER BY date) AS prev
                    FROM b),
              q AS (SELECT event_type,
                           CAST(floor(CAST(c - prev AS DOUBLE)
                             / CAST(prev AS DOUBLE)
                             * CAST(1048576 AS DOUBLE)) AS BIGINT) AS rq
                    FROM r WHERE prev IS NOT NULL)
         SELECT event_type, count(*) AS n,
                sqrt(CAST(CAST(sum(rq * rq) AS BIGINT) AS DOUBLE))
                  / CAST(1048576 AS DOUBLE) AS realized_vol
         FROM q GROUP BY 1 ORDER BY 1""")),

    // Lag-1 autocorrelation of daily returns per series (the momentum /
    // mean-reversion diagnostic): Pearson r over (return_t, return_{t-1})
    // pairs with the same once-quantized returns as ts_beta — every
    // cross-sum exact BIGINT, products of sums in DECIMAL(38,0), one
    // final fixed IEEE chain (two sqrts + a division).
    Query("ts_autocorr_lag1", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy("date")
      val rq = Ohlc.dailyBars(Tables.events(s, dir))
        .select(col("event_type"), col("date"),
                Exact.cents(col("close")).as("c"))
        .withColumn("prev", lag(col("c"), 1).over(w))
        .filter(col("prev").isNotNull)
        .select(col("event_type"), col("date"),
          floor((col("c") - col("prev")).cast("double")
            / col("prev").cast("double") * lit(1048576.0)).cast("long")
            .as("x"))
      val pairs = rq
        .withColumn("y", lag(col("x"), 1).over(w))
        .filter(col("y").isNotNull)
      val agg = pairs.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
             sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
             sum(col("x") * col("x")).as("sxx"),
             sum(col("y") * col("y")).as("syy"))
      val nd = col("n").cast("decimal(38,0)")
      def d(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
      agg.select(col("event_type"), col("n"),
        ((nd * col("sxy") - d(col("sx")) * col("sy")).cast("double")
          / (sqrt((nd * col("sxx") - d(col("sx")) * col("sx"))
               .cast("double"))
             * sqrt((nd * col("syy") - d(col("sy")) * col("sy"))
               .cast("double"))))
          .as("autocorr_lag1"))
        .orderBy("event_type")
    },
      Some("""WITH b AS (SELECT event_type, CAST(ts AS DATE) AS date,
                           CAST(round(arg_max(value, ts) * 100, 0) AS BIGINT)
                             AS c
                    FROM events GROUP BY 1, 2),
              r AS (SELECT event_type, date, c,
                           lag(c, 1) OVER w AS prev
                    FROM b
                    WINDOW w AS (PARTITION BY event_type ORDER BY date)),
              q AS (SELECT event_type, date,
                           CAST(floor(CAST(c - prev AS DOUBLE)
                             / CAST(prev AS DOUBLE)
                             * CAST(1048576 AS DOUBLE)) AS BIGINT) AS x
                    FROM r WHERE prev IS NOT NULL),
              p AS (SELECT event_type, x,
                           lag(x, 1) OVER (PARTITION BY event_type
                                           ORDER BY date) AS y
                    FROM q),
              ag AS (SELECT event_type,
                            CAST(count(*) AS HUGEINT) AS n,
                            CAST(sum(x) AS HUGEINT) AS sx,
                            CAST(sum(y) AS HUGEINT) AS sy,
                            CAST(sum(x * y) AS HUGEINT) AS sxy,
                            CAST(sum(x * x) AS HUGEINT) AS sxx,
                            CAST(sum(y * y) AS HUGEINT) AS syy
                     FROM p WHERE y IS NOT NULL GROUP BY 1)
         SELECT event_type, CAST(n AS BIGINT) AS n,
                CAST(CAST(n * sxy - sx * sy AS BIGINT) AS DOUBLE)
                  / (sqrt(CAST(CAST(n * sxx - sx * sx AS BIGINT) AS DOUBLE))
                     * sqrt(CAST(CAST(n * syy - sy * sy AS BIGINT)
                                 AS DOUBLE)))
                  AS autocorr_lag1
         FROM ag ORDER BY event_type""")),

    // Per-series market beta — the reference domain's flagship analytic:
    // β = cov(series, market) / var(market) over daily returns, with the
    // market as the equal-weight basket of all series. Returns are
    // quantized once (floor(r·2²⁰), a fixed IEEE chain), so every
    // covariance term is an exact BIGINT sum; with m the per-date SUM of
    // quantized returns (n·mean), β = n·(TΣxm − ΣxΣm)/(TΣm² − (Σm)²) —
    // products of sums in DECIMAL(38,0), one final division.
    Query("ts_beta", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy("date")
      val rq = Ohlc.dailyBars(Tables.events(s, dir))
        .select(col("event_type"), col("date"),
                Exact.cents(col("close")).as("c"))
        .withColumn("prev", lag(col("c"), 1).over(w))
        .filter(col("prev").isNotNull)
        .select(col("event_type"), col("date"),
          floor((col("c") - col("prev")).cast("double")
            / col("prev").cast("double") * lit(1048576.0)).cast("long")
            .as("rq"))
      val nSeries = rq.agg(countDistinct(col("event_type")).as("n"))
      // market: per-date sum over ALL series, kept only where every
      // series traded (so n is a constant scale, not a per-date one)
      val mkt = rq.groupBy("date")
        .agg(sum(col("rq")).as("m"), count(lit(1)).as("k"))
        .crossJoin(broadcast(nSeries))
        .filter(col("k") === col("n"))
        .select(col("date"), col("m"), col("n"))
      rq.join(mkt, "date")
        .groupBy("event_type")
        .agg(count(lit(1)).as("t"),
             sum(col("rq") * col("m")).as("sxm"),
             sum(col("rq")).as("sx"),
             sum(col("m")).as("sm"),
             sum(col("m") * col("m")).as("smm"),
             max(col("n")).as("n"))
        .select(col("event_type"), col("t"),
          (col("n").cast("decimal(38,0)")
            * (col("t").cast("decimal(38,0)") * col("sxm")
               - col("sx").cast("decimal(38,0)") * col("sm")))
            .cast("double")
            ./((col("t").cast("decimal(38,0)") * col("smm")
                - col("sm").cast("decimal(38,0)") * col("sm"))
              .cast("double"))
            .as("beta"))
        .orderBy("event_type")
    },
      Some("""WITH b AS (SELECT event_type, CAST(ts AS DATE) AS date,
                           CAST(round(arg_max(value, ts) * 100, 0) AS BIGINT)
                             AS c
                    FROM events GROUP BY 1, 2),
              r AS (SELECT event_type, date, c,
                           lag(c, 1) OVER (PARTITION BY event_type
                                           ORDER BY date) AS prev
                    FROM b),
              q AS (SELECT event_type, date,
                           CAST(floor(CAST(c - prev AS DOUBLE)
                             / CAST(prev AS DOUBLE)
                             * CAST(1048576 AS DOUBLE)) AS BIGINT) AS rq
                    FROM r WHERE prev IS NOT NULL),
              nn AS (SELECT count(DISTINCT event_type) AS n FROM q),
              mk AS (SELECT date, CAST(sum(rq) AS BIGINT) AS m,
                            count(*) AS k
                     FROM q GROUP BY 1),
              mkt AS (SELECT mk.date, mk.m, nn.n
                      FROM mk, nn WHERE mk.k = nn.n),
              ag AS (SELECT q.event_type,
                            CAST(count(*) AS HUGEINT) AS t,
                            CAST(sum(q.rq * mkt.m) AS HUGEINT) AS sxm,
                            CAST(sum(q.rq) AS HUGEINT) AS sx,
                            CAST(sum(mkt.m) AS HUGEINT) AS sm,
                            CAST(sum(mkt.m * mkt.m) AS HUGEINT) AS smm,
                            CAST(max(mkt.n) AS HUGEINT) AS n
                     FROM q JOIN mkt ON mkt.date = q.date
                     GROUP BY 1)
         SELECT event_type, CAST(t AS BIGINT) AS t,
                CAST(CAST(n * (t * sxm - sx * sm) AS BIGINT) AS DOUBLE)
                  / CAST(CAST(t * smm - sm * sm AS BIGINT) AS DOUBLE)
                  AS beta
         FROM ag ORDER BY event_type""")),

    // Min-max feature scaling per series (the preprocessing normalizer):
    // scaled = (c − min)/(max − min) from exact cents, one division per
    // row against broadcast per-series bounds; constant series scale to
    // 0.5 by convention (not NaN).
    Query("ts_minmax_scale", (s, dir) => {
      val bars = Ohlc.dailyBars(Tables.events(s, dir))
        .select(col("event_type"), col("date"),
                Exact.cents(col("close")).as("c"))
      val bounds = bars.groupBy("event_type")
        .agg(min(col("c")).as("cmin"), max(col("c")).as("cmax"))
      bars.join(broadcast(bounds), "event_type")
        .select(col("event_type"), col("date"),
          when(col("cmax") === col("cmin"), lit(0.5))
            .otherwise((col("c") - col("cmin")).cast("double")
              / (col("cmax") - col("cmin")).cast("double"))
            .as("scaled"))
        .orderBy("event_type", "date")
    },
      Some("""WITH b AS (SELECT event_type, CAST(ts AS DATE) AS date,
                           CAST(round(arg_max(value, ts) * 100, 0) AS BIGINT)
                             AS c
                    FROM events GROUP BY 1, 2),
              m AS (SELECT event_type, min(c) AS cmin, max(c) AS cmax
                    FROM b GROUP BY 1)
         SELECT b.event_type, b.date,
                CASE WHEN m.cmax = m.cmin THEN CAST(0.5 AS DOUBLE)
                     ELSE CAST(b.c - m.cmin AS DOUBLE)
                          / CAST(m.cmax - m.cmin AS DOUBLE) END AS scaled
         FROM b JOIN m ON m.event_type = b.event_type
         ORDER BY b.event_type, b.date""")),

    // Theil–Sen robust trend per series: the positional median of all
    // pairwise slopes (y_j−y_i)/(j−i) over the daily bars — the
    // outlier-immune counterpart of ts_linreg_trend's OLS. Slopes are one
    // IEEE division of exact integers (deterministic bits on any engine);
    // the median is a keyed positional pick with (slope, i, j) totalized.
    // O(n²) pairs per series, bounded by daily-bar counts (same posture
    // as the EMA prefix form: 10³ bars/decade regardless of tick volume),
    // and the window is keyed by series — never global.
    Query("ts_theil_sen", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
      val b = Ohlc.dailyBars(Tables.events(s, dir))
        .select(col("event_type"), col("date"),
                Exact.cents(col("close")).as("cents"))
        .withColumn("i", row_number().over(
          w.partitionBy("event_type").orderBy("date")))
      val x = b.select(col("event_type"), col("i").as("ia"),
                       col("cents").as("ca"))
      val y = b.select(col("event_type"), col("i").as("ib"),
                       col("cents").as("cb"))
      val pairs = x.join(y, Seq("event_type")).filter(col("ia") < col("ib"))
        .select(col("event_type"), col("ia"), col("ib"),
          ((col("cb") - col("ca")).cast("double")
            / (col("ib") - col("ia")).cast("double")).as("slope"))
      val ws = w.partitionBy("event_type")
        .orderBy(col("slope"), col("ia"), col("ib"))
      pairs
        .withColumn("rn", row_number().over(ws))
        .withColumn("m", count(lit(1)).over(w.partitionBy("event_type")))
        .filter(col("rn") === expr("(m + 1) DIV 2"))
        .select(col("event_type"), col("slope").as("theil_sen_slope"),
                col("m").as("n_pairs"))
        .orderBy("event_type")
    },
      Some("""WITH b AS (SELECT event_type, CAST(ts AS DATE) AS date,
                           CAST(round(arg_max(value, ts) * 100, 0) AS BIGINT)
                             AS cents
                    FROM events GROUP BY 1, 2),
              r AS (SELECT event_type, cents,
                           row_number() OVER (PARTITION BY event_type
                             ORDER BY date) AS i
                    FROM b),
              p AS (SELECT x.event_type, x.i AS ia, y.i AS ib,
                           CAST(y.cents - x.cents AS DOUBLE)
                             / CAST(y.i - x.i AS DOUBLE) AS slope
                    FROM r x JOIN r y
                      ON x.event_type = y.event_type AND x.i < y.i),
              k AS (SELECT event_type, ia, ib, slope,
                           row_number() OVER (PARTITION BY event_type
                             ORDER BY slope, ia, ib) AS rn,
                           count(*) OVER (PARTITION BY event_type) AS m
                    FROM p)
         SELECT event_type, slope AS theil_sen_slope,
                CAST(m AS BIGINT) AS n_pairs
         FROM k WHERE rn = (m + 1) // 2
         ORDER BY event_type""")),

    // Changepoint detection per series: the point where the prefix sum
    // deviates most from uniform drift — argmax_i |n·S_i − i·S_n| over
    // exact cent integers (the CUSUM-style statistic with the mean
    // factored out so no division ever happens; ties → earliest date).
    // Keyed window prefix sum + partial-aggregable argmax; magnitudes
    // bounded by n·S_n ≈ 10¹³ at sf0.1, far inside BIGINT even at 100×.
    Query("ts_changepoint", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
      val bars = Ohlc.dailyBars(Tables.events(s, dir))
        .select(col("event_type"), col("date"),
                Exact.cents(col("close")).as("cents"))
      val p = bars
        .withColumn("i", row_number().over(
          w.partitionBy("event_type").orderBy("date")).cast("long"))
        .withColumn("s", sum(col("cents")).over(
          w.partitionBy("event_type").orderBy("date")
            .rowsBetween(org.apache.spark.sql.expressions.Window
              .unboundedPreceding, 0)))
      val t = p.groupBy("event_type")
        .agg(max(col("i")).as("n"), sum(col("cents")).as("sn"))
      p.join(t, "event_type")
        .withColumn("stat", abs(col("n") * col("s") - col("i") * col("sn")))
        .withColumn("d", datediff(col("date"), lit("1970-01-01")))
        .groupBy("event_type")
        .agg(max(col("n")).as("n_days"),
             max_by(col("date"), struct(col("stat"), negate(col("d"))))
               .as("change_date"),
             max(col("stat")).as("max_stat"))
        .orderBy("event_type")
    },
      Some("""WITH b AS (SELECT event_type, CAST(ts AS DATE) AS date,
                           CAST(round(arg_max(value, ts) * 100, 0) AS BIGINT)
                             AS cents
                    FROM events GROUP BY 1, 2),
              p AS (SELECT event_type, date, cents,
                           CAST(row_number() OVER w AS BIGINT) AS i,
                           CAST(sum(cents) OVER (PARTITION BY event_type
                             ORDER BY date ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS BIGINT) AS s
                    FROM b
                    WINDOW w AS (PARTITION BY event_type ORDER BY date)),
              t AS (SELECT event_type, max(i) AS n,
                           CAST(sum(cents) AS BIGINT) AS sn
                    FROM p GROUP BY 1),
              j AS (SELECT p.event_type, p.date, t.n,
                           abs(t.n * p.s - p.i * t.sn) AS stat
                    FROM p JOIN t ON t.event_type = p.event_type),
              r AS (SELECT event_type, date, n, stat,
                           row_number() OVER (PARTITION BY event_type
                             ORDER BY stat DESC, date ASC) AS rn
                    FROM j)
         SELECT event_type, CAST(n AS BIGINT) AS n_days,
                date AS change_date, CAST(stat AS BIGINT) AS max_stat
         FROM r WHERE rn = 1 ORDER BY event_type""")),

    Query("ts_streaks", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
      val bars = Ohlc.dailyBars(Tables.events(s, dir))
        .select("event_type", "date", "close")
      val wd = w.partitionBy("event_type").orderBy("date")
      val dir0 = bars.withColumn("prev", lag("close", 1).over(wd))
        .filter(col("prev").isNotNull)
        .withColumn("dir",
          when(col("close") > col("prev"), lit("up")).otherwise(lit("down")))
      val isl = dir0.withColumn("island",
        row_number().over(wd)
          - row_number().over(w.partitionBy("event_type", "dir")
              .orderBy("date")))
      isl.groupBy("event_type", "dir", "island")
        .agg(count(lit(1)).as("len"))
        .groupBy("event_type")
        .agg(max(when(col("dir") === "up", col("len"))).as("max_up_streak"),
             max(when(col("dir") === "down", col("len")))
               .as("max_down_streak"),
             sum(when(col("dir") === "up", 1L).otherwise(0L))
               .as("n_up_streaks"),
             sum(when(col("dir") === "down", 1L).otherwise(0L))
               .as("n_down_streaks"))
        .orderBy("event_type")
    },
      Some("""WITH b AS (SELECT event_type, CAST(ts AS DATE) AS date,
                           arg_max(value, ts) AS close
                    FROM events GROUP BY 1, 2),
              l AS (SELECT event_type, date, close,
                           lag(close) OVER (PARTITION BY event_type
                                            ORDER BY date) AS prev
                    FROM b),
              d AS (SELECT event_type, date,
                           CASE WHEN close > prev THEN 'up' ELSE 'down' END
                             AS dir
                    FROM l WHERE prev IS NOT NULL),
              i AS (SELECT event_type, dir,
                           row_number() OVER (PARTITION BY event_type
                                              ORDER BY date)
                           - row_number() OVER (PARTITION BY event_type, dir
                                                ORDER BY date) AS island
                    FROM d),
              s AS (SELECT event_type, dir, island, count(*) AS len
                    FROM i GROUP BY 1, 2, 3)
         SELECT event_type,
                max(CASE WHEN dir = 'up' THEN len END) AS max_up_streak,
                max(CASE WHEN dir = 'down' THEN len END) AS max_down_streak,
                CAST(sum(CASE WHEN dir = 'up' THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_up_streaks,
                CAST(sum(CASE WHEN dir = 'down' THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_down_streaks
         FROM s GROUP BY 1 ORDER BY 1""")),

    // Imputation: last-observation-carried-forward over a complete daily
    // spine (bars thinned deterministically to exercise the fill). The
    // fill is last(ignoreNulls) over a keyed window — one exchange on the
    // series key, linear state.
    Query("ts_locf_impute", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
      val bars = Ohlc.dailyBars(Tables.events(s, dir))
        .select("event_type", "date", "close")
      val thinned = bars.filter(dayofmonth(col("date")) % 3 =!= 0)
      val spine = bars.groupBy("event_type")
        .agg(min("date").as("d0"), max("date").as("d1"))
        .select(col("event_type"),
          explode(expr("sequence(d0, d1, interval 1 day)")).as("date"))
      spine.join(thinned, Seq("event_type", "date"), "left")
        .withColumn("close_filled",
          last("close", ignoreNulls = true).over(
            w.partitionBy("event_type").orderBy("date")
              .rowsBetween(w.unboundedPreceding, w.currentRow)))
        .withColumn("is_imputed", col("close").isNull)
        .orderBy("event_type", "date")
    },
      Some("""WITH b AS (SELECT event_type, CAST(ts AS DATE) AS date,
                           arg_max(value, ts) AS close
                    FROM events GROUP BY 1, 2),
              th AS (SELECT * FROM b WHERE day(date) % 3 <> 0),
              sp AS (SELECT event_type,
                       CAST(unnest(generate_series(
                         CAST(min(date) AS TIMESTAMP),
                         CAST(max(date) AS TIMESTAMP),
                         INTERVAL 1 DAY)) AS DATE) AS date
                     FROM b GROUP BY event_type),
              j AS (SELECT sp.event_type, sp.date, th.close
                    FROM sp LEFT JOIN th USING (event_type, date))
         SELECT event_type, date, close,
                last_value(close IGNORE NULLS) OVER (
                  PARTITION BY event_type ORDER BY date
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS close_filled,
                close IS NULL AS is_imputed
         FROM j ORDER BY event_type, date""")),

    // EMA: the recursive per-series indicator, SHIPPED as the linear
    // one-pass fold (repartition(key) + sortWithinPartitions +
    // mapPartitions carrying one running double — O(n) per series; the
    // declarative collect_list prefix window is O(n²) in series length
    // and lives on only as the spec's semantic cross-check). Sequential
    // double arithmetic reproduced fold-step-for-fold-step by the
    // oracle's list_reduce.
    Query("ts_ema", (s, dir) =>
      graft.ts.Ema.withEmaOnePass(
          Ohlc.dailyBars(Tables.events(s, dir))
            .select("event_type", "date", "close"),
          alpha = 0.25, partitionCols = Seq("event_type"))
        .orderBy("event_type", "date"),
      // list_reduce seeds with the first element and folds left in index
      // order — the identical sequential double recursion as the Spark
      // aggregate over the running collect_list
      Some("""WITH b AS (SELECT event_type, CAST(ts AS DATE) AS date,
                           arg_max(value, ts) AS close
                    FROM events GROUP BY 1, 2),
              l AS (SELECT event_type, date, close,
                           list(close) OVER (PARTITION BY event_type
                             ORDER BY date ROWS UNBOUNDED PRECEDING) AS cl
                    FROM b)
         SELECT event_type, date, close,
                list_reduce(cl, (a, x) -> a * CAST(0.75 AS DOUBLE)
                                          + x * CAST(0.25 AS DOUBLE)) AS ema
         FROM l ORDER BY event_type, date""")),

    // Exact rolling median (windowed order statistic): NULL-gated like the
    // SMA (full 5-row window only), the middle of a sorted window — an
    // order statistic no associative aggregate expresses; the bounded
    // window keeps the per-row sort O(w log w).
    Query("ts_rolling_median", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("date"))
        .rowsBetween(-4, 0)
      val lst = sort_array(collect_list(col("close")).over(w))
      Ohlc.dailyBars(Tables.events(s, dir))
        .select(col("event_type"), col("date"), col("close"))
        .withColumn("median_5",
          when(size(lst) === 5, element_at(lst, 3)))
        .orderBy("event_type", "date")
    },
      Some("""WITH b AS (SELECT event_type, CAST(ts AS DATE) AS date,
                           arg_max(value, ts) AS close
                    FROM events GROUP BY 1, 2),
              l AS (SELECT event_type, date, close,
                           list(close) OVER (PARTITION BY event_type
                             ORDER BY date ROWS BETWEEN 4 PRECEDING
                             AND CURRENT ROW) AS cl
                    FROM b)
         SELECT event_type, date, close,
                CASE WHEN len(cl) = 5 THEN list_sort(cl)[3] END AS median_5
         FROM l ORDER BY event_type, date""")),

    // Outlier ranking by z-score against the exact-sum series moments:
    // the top-50 most anomalous events corpus-wide, ranked on doubles
    // that both engines compute identically (TakeOrderedAndProject — no
    // full sort).
    Query("ts_zscore_topk", (s, dir) => {
      val c = Exact.cents(col("value"))
      val stats = Tables.events(s, dir)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(c).as("sc"), sum(c * c).as("ssq"))
        .select(col("event_type"),
          (col("sc").cast("double") / (col("n").cast("double") * lit(100.0)))
            .as("mean_value"),
          sqrt(col("ssq").cast("double")
             / (col("n").cast("double") * lit(10000.0))
           - (col("sc").cast("double")
              / (col("n").cast("double") * lit(100.0)))
             * (col("sc").cast("double")
                / (col("n").cast("double") * lit(100.0))))
            .as("stddev"))
      Tables.events(s, dir)
        .join(broadcast(stats), Seq("event_type"))
        .withColumn("z",
          (col("value") - col("mean_value")) / col("stddev"))
        .select("event_type", "event_id", "value", "z")
        .orderBy(abs(col("z")).desc, col("event_id").asc)
        .limit(50)
    },
      // ranked on doubles both engines compute identically from the exact
      // integer moment sums; ties totalized by event_id
      Some("""WITH a AS (SELECT event_type, count(*) AS n,
                      sum(CAST(round(value * 100, 0) AS BIGINT)) AS sc,
                      sum(CAST(round(value * 100, 0) AS BIGINT)
                          * CAST(round(value * 100, 0) AS BIGINT)) AS ssq
                    FROM events GROUP BY 1),
              s AS (SELECT event_type,
                      CAST(sc AS DOUBLE)
                        / (CAST(n AS DOUBLE) * CAST(100 AS DOUBLE))
                        AS mean_value,
                      sqrt(CAST(ssq AS DOUBLE)
                        / (CAST(n AS DOUBLE) * CAST(10000 AS DOUBLE))
                        - (CAST(sc AS DOUBLE)
                           / (CAST(n AS DOUBLE) * CAST(100 AS DOUBLE)))
                          * (CAST(sc AS DOUBLE)
                             / (CAST(n AS DOUBLE) * CAST(100 AS DOUBLE))))
                        AS stddev
                    FROM a)
         SELECT event_type, event_id, value,
                (value - mean_value) / stddev AS z
         FROM events JOIN s USING (event_type)
         ORDER BY abs((value - mean_value) / stddev) DESC, event_id ASC
         LIMIT 50""")),

    // Per-series least-squares trend over (epoch day, close cents): all
    // five sums exact BIGINT, slope/intercept/r² as one fixed-order
    // double projection — the regression every drift monitor runs, with
    // the same bitwise-reproducibility contract as the SMA.
    Query("ts_linreg_trend", (s, dir) => {
      val bars = Ohlc.dailyBars(Tables.events(s, dir))
      val d = datediff(col("date"), lit("1970-01-01").cast("date"))
        .cast("long")
      val c = Exact.cents(col("close"))
      val agg = bars.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(d).as("sx"), sum(c).as("sy"),
             sum(d * d).as("sxx"), sum(c * c).as("syy"),
             sum(d * c).as("sxy"))
      val num = (col("n") * col("sxy") - col("sx") * col("sy"))
        .cast("double")
      val den = (col("n") * col("sxx") - col("sx") * col("sx"))
        .cast("double")
      val deny = (col("n") * col("syy") - col("sy") * col("sy"))
        .cast("double")
      agg.select(col("event_type"), col("n"),
          (num / den / lit(100.0)).as("slope_per_day"),
          (col("sy").cast("double") / (col("n").cast("double") * lit(100.0))
            - num / den / lit(100.0)
              * (col("sx").cast("double") / col("n").cast("double")))
            .as("intercept"),
          (num * num / (den * deny)).as("r2"))
        .orderBy("event_type")
    },
      Some("""WITH b AS (SELECT event_type, CAST(ts AS DATE) AS date,
                           arg_max(value, ts) AS close
                    FROM events GROUP BY 1, 2),
              x AS (SELECT event_type,
                      CAST(date - DATE '1970-01-01' AS BIGINT) AS d,
                      CAST(round(close * 100, 0) AS BIGINT) AS c
                    FROM b),
              g AS (SELECT event_type, count(*) AS n, sum(d) AS sx,
                      sum(c) AS sy, sum(d * d) AS sxx, sum(c * c) AS syy,
                      sum(d * c) AS sxy
                    FROM x GROUP BY 1)
         SELECT event_type, n,
                CAST(n * sxy - sx * sy AS DOUBLE)
                  / CAST(n * sxx - sx * sx AS DOUBLE)
                  / CAST(100 AS DOUBLE) AS slope_per_day,
                CAST(sy AS DOUBLE)
                  / (CAST(n AS DOUBLE) * CAST(100 AS DOUBLE))
                  - CAST(n * sxy - sx * sy AS DOUBLE)
                    / CAST(n * sxx - sx * sx AS DOUBLE)
                    / CAST(100 AS DOUBLE)
                    * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) AS intercept,
                CAST(n * sxy - sx * sy AS DOUBLE)
                  * CAST(n * sxy - sx * sy AS DOUBLE)
                  / (CAST(n * sxx - sx * sx AS DOUBLE)
                     * CAST(n * syy - sy * sy AS DOUBLE)) AS r2
         FROM g ORDER BY event_type""")),

    // Multi-lag autocorrelation function (ACF lags 1-3) per series — the
    // generalization of ts_autocorr_lag1: ONE keyed window pass computes
    // all three lagged partners, stack() unpivots to (lag, x, y) rows, and
    // each (series, lag) Pearson is the exact quantized-moment formula
    // (floor(r·2²⁰) once, BIGINT/DECIMAL sums, one final double chain).
    // One window exchange + one partial-aggregable groupBy regardless of
    // the lag count.
    Query("ts_acf_multilag", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy("date")
      val rq = Ohlc.dailyBars(Tables.events(s, dir))
        .select(col("event_type"), col("date"),
                Exact.cents(col("close")).as("c"))
        .withColumn("prev", lag(col("c"), 1).over(w))
        .filter(col("prev").isNotNull)
        .select(col("event_type"), col("date"),
          floor((col("c") - col("prev")).cast("double")
            / col("prev").cast("double") * lit(1048576.0)).cast("long")
            .as("x"))
      val pairs = rq
        .withColumn("y1", lag(col("x"), 1).over(w))
        .withColumn("y2", lag(col("x"), 2).over(w))
        .withColumn("y3", lag(col("x"), 3).over(w))
        .select(col("event_type"), col("x"),
          expr("stack(3, 1L, y1, 2L, y2, 3L, y3) AS (lag, y)"))
        .filter(col("y").isNotNull)
      val agg = pairs.groupBy("event_type", "lag")
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
             sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
             sum(col("x") * col("x")).as("sxx"),
             sum(col("y") * col("y")).as("syy"))
      val nd = col("n").cast("decimal(38,0)")
      def d(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
      agg.select(col("event_type"), col("lag"), col("n"),
        ((nd * col("sxy") - d(col("sx")) * col("sy")).cast("double")
          / (sqrt((nd * col("sxx") - d(col("sx")) * col("sx"))
               .cast("double"))
             * sqrt((nd * col("syy") - d(col("sy")) * col("sy"))
               .cast("double"))))
          .as("acf"))
        .orderBy("event_type", "lag")
    },
      Some("""WITH b AS (SELECT event_type, CAST(ts AS DATE) AS date,
                           CAST(round(arg_max(value, ts) * 100, 0) AS BIGINT)
                             AS c
                    FROM events GROUP BY 1, 2),
              r AS (SELECT event_type, date, c,
                           lag(c, 1) OVER w AS prev
                    FROM b
                    WINDOW w AS (PARTITION BY event_type ORDER BY date)),
              q AS (SELECT event_type, date,
                           CAST(floor(CAST(c - prev AS DOUBLE)
                             / CAST(prev AS DOUBLE)
                             * CAST(1048576 AS DOUBLE)) AS BIGINT) AS x
                    FROM r WHERE prev IS NOT NULL),
              p0 AS (SELECT event_type, x,
                            lag(x, 1) OVER w AS y1,
                            lag(x, 2) OVER w AS y2,
                            lag(x, 3) OVER w AS y3
                     FROM q
                     WINDOW w AS (PARTITION BY event_type ORDER BY date)),
              p AS (SELECT event_type, CAST(1 AS BIGINT) AS lag, x, y1 AS y
                    FROM p0
                    UNION ALL
                    SELECT event_type, 2, x, y2 FROM p0
                    UNION ALL
                    SELECT event_type, 3, x, y3 FROM p0),
              ag AS (SELECT event_type, lag,
                            CAST(count(*) AS HUGEINT) AS n,
                            CAST(sum(x) AS HUGEINT) AS sx,
                            CAST(sum(y) AS HUGEINT) AS sy,
                            CAST(sum(x * y) AS HUGEINT) AS sxy,
                            CAST(sum(x * x) AS HUGEINT) AS sxx,
                            CAST(sum(y * y) AS HUGEINT) AS syy
                     FROM p WHERE y IS NOT NULL GROUP BY 1, 2)
         SELECT event_type, lag, CAST(n AS BIGINT) AS n,
                CAST(CAST(n * sxy - sx * sy AS BIGINT) AS DOUBLE)
                  / (sqrt(CAST(CAST(n * sxx - sx * sx AS BIGINT) AS DOUBLE))
                     * sqrt(CAST(CAST(n * syy - sy * sy AS BIGINT)
                                 AS DOUBLE)))
                  AS acf
         FROM ag ORDER BY event_type, lag""")),

    // Turning-point census per series: strict local maxima/minima and
    // flat steps of the daily close, from one keyed window pass
    // (lag + lead on exact cents — integer comparisons, no doubles).
    // The shape statistic behind peak/trough detection and trend-quality
    // screens; series ends (no two-sided neighborhood) are excluded by
    // the null filter.
    Query("ts_turning_points", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy("date")
      Ohlc.dailyBars(Tables.events(s, dir))
        .select(col("event_type"), col("date"),
                Exact.cents(col("close")).as("c"))
        .withColumn("p", lag(col("c"), 1).over(w))
        .withColumn("nx", lead(col("c"), 1).over(w))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_days"),
          sum(when(col("p").isNotNull && col("nx").isNotNull &&
                   col("p") < col("c") && col("c") > col("nx"), 1L)
            .otherwise(0L)).as("n_maxima"),
          sum(when(col("p").isNotNull && col("nx").isNotNull &&
                   col("p") > col("c") && col("c") < col("nx"), 1L)
            .otherwise(0L)).as("n_minima"),
          sum(when(col("p").isNotNull && col("p") === col("c"), 1L)
            .otherwise(0L)).as("n_flat"))
        .orderBy("event_type")
    },
      Some("""WITH b AS (SELECT event_type, CAST(ts AS DATE) AS date,
                           CAST(round(arg_max(value, ts) * 100, 0) AS BIGINT)
                             AS c
                    FROM events GROUP BY 1, 2),
              r AS (SELECT event_type, c,
                           lag(c, 1) OVER w AS p,
                           lead(c, 1) OVER w AS nx
                    FROM b
                    WINDOW w AS (PARTITION BY event_type ORDER BY date))
         SELECT event_type,
                count(*) AS n_days,
                CAST(sum(CASE WHEN p IS NOT NULL AND nx IS NOT NULL
                               AND p < c AND c > nx THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_maxima,
                CAST(sum(CASE WHEN p IS NOT NULL AND nx IS NOT NULL
                               AND p > c AND c < nx THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_minima,
                CAST(sum(CASE WHEN p IS NOT NULL AND p = c THEN 1
                              ELSE 0 END) AS BIGINT) AS n_flat
         FROM r GROUP BY 1 ORDER BY event_type""")),

    // Inter-event gap histogram: per-user gaps in EXACT integer seconds
    // (unix_micros diffs floor-divided — no timestamp-to-double), log₂
    // buckets via the portable length(bin(n+1))−1 trick, one keyed window
    // pass + one partial-aggregable groupBy. The arrival-process
    // diagnostic behind session-timeout and watermark-delay tuning.
    Query("ts_gap_histogram", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts", "event_id")
      Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
                unix_micros(col("ts")).as("us"))
        .withColumn("prev_us", lag(col("us"), 1).over(w))
        .filter(col("prev_us").isNotNull)
        .select(expr("(us - prev_us) DIV 1000000").as("gap_s"))
        .select((length(bin(col("gap_s") + 1)) - 1).cast("long")
          .as("gap_bucket"), col("gap_s"))
        .groupBy("gap_bucket")
        .agg(count(lit(1)).as("n_gaps"), min(col("gap_s")).as("min_gap_s"),
             max(col("gap_s")).as("max_gap_s"))
        .orderBy("gap_bucket")
    },
      Some("""WITH g AS (SELECT (epoch_us(ts) - lag(epoch_us(ts), 1)
                              OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id)) // 1000000
                             AS gap_s
                    FROM events)
         SELECT length(bin(gap_s + 1)) - 1 AS gap_bucket,
                count(*) AS n_gaps,
                min(gap_s) AS min_gap_s, max(gap_s) AS max_gap_s
         FROM g WHERE gap_s IS NOT NULL
         GROUP BY 1 ORDER BY gap_bucket""")),

    // Value-at-Risk + Expected Shortfall per series (the reference
    // domain's tail-risk pair): VaR(5%) is the EXACT positional order
    // statistic of quantized daily returns — per-series return histogram
    // + broadcast triangular cumulative pick (the KCore-median shape,
    // O(distinct returns), no window over the return frame) — and ES is
    // the exact integer mean of the tail at-or-below VaR. One final
    // division each; everything else BIGINT.
    Query("ts_var_es", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy("date")
      val rq = Ohlc.dailyBars(Tables.events(s, dir))
        .select(col("event_type"), col("date"),
                Exact.cents(col("close")).as("c"))
        .withColumn("prev", lag(col("c"), 1).over(w))
        .filter(col("prev").isNotNull)
        .select(col("event_type"),
          floor((col("c") - col("prev")).cast("double")
            / col("prev").cast("double") * lit(1048576.0)).cast("long")
            .as("x"))
        .tracked
      val hist = rq.groupBy("event_type", "x").agg(count(lit(1)).as("cnt"))
      val cum = hist.as("a")
        .join(broadcast(hist.as("b")),
              col("a.event_type") === col("b.event_type") &&
              col("b.x") <= col("a.x"))
        .groupBy(col("a.event_type").as("event_type"), col("a.x").as("x"))
        .agg(sum(col("b.cnt")).as("cum"))
      val rank = hist.groupBy("event_type")
        .agg(expr("CAST((sum(cnt) + 19) DIV 20 AS BIGINT)").as("r"),
             sum(col("cnt")).as("n_days"))
      val varq = cum.join(broadcast(rank), Seq("event_type"))
        .filter(col("cum") >= col("r"))
        .groupBy("event_type")
        .agg(min(col("x")).as("var_q"))
      rq.join(broadcast(varq), Seq("event_type"))
        .filter(col("x") <= col("var_q"))
        .groupBy("event_type")
        .agg(sum(col("x")).as("tail_sum"), count(lit(1)).as("tail_n"),
             min(col("var_q")).as("var_q"))
        .join(broadcast(rank.select("event_type", "n_days")),
              Seq("event_type"))
        .select(col("event_type"), col("n_days"), col("var_q"),
          col("tail_sum"), col("tail_n"),
          (col("var_q").cast("double") / lit(1048576.0)).as("var_return"),
          (col("tail_sum").cast("double")
            / (col("tail_n") * lit(1048576L)).cast("double"))
            .as("es_return"))
        .orderBy("event_type")
    },
      Some("""WITH b AS (SELECT event_type, CAST(ts AS DATE) AS date,
                           CAST(round(arg_max(value, ts) * 100, 0) AS BIGINT)
                             AS c
                    FROM events GROUP BY 1, 2),
              r AS (SELECT event_type, date, c,
                           lag(c, 1) OVER w AS prev
                    FROM b
                    WINDOW w AS (PARTITION BY event_type ORDER BY date)),
              q AS (SELECT event_type,
                           CAST(floor(CAST(c - prev AS DOUBLE)
                             / CAST(prev AS DOUBLE)
                             * CAST(1048576 AS DOUBLE)) AS BIGINT) AS x
                    FROM r WHERE prev IS NOT NULL),
              n AS (SELECT event_type, count(*) AS n_days,
                           (count(*) + 19) // 20 AS rk
                    FROM q GROUP BY 1),
              cum AS (SELECT event_type, x,
                             CAST(count(*) AS BIGINT) AS cnt,
                             sum(count(*)) OVER (PARTITION BY event_type
                                                 ORDER BY x) AS cum
                      FROM q GROUP BY 1, 2),
              v AS (SELECT c.event_type, min(c.x) AS var_q
                    FROM cum c JOIN n ON n.event_type = c.event_type
                    WHERE c.cum >= n.rk GROUP BY 1),
              t AS (SELECT q.event_type,
                           CAST(sum(q.x) AS BIGINT) AS tail_sum,
                           count(*) AS tail_n
                    FROM q JOIN v ON v.event_type = q.event_type
                    WHERE q.x <= v.var_q GROUP BY 1)
         SELECT n.event_type, n.n_days, v.var_q, t.tail_sum, t.tail_n,
                CAST(v.var_q AS DOUBLE) / 1048576.0 AS var_return,
                CAST(t.tail_sum AS DOUBLE)
                  / CAST(CAST(t.tail_n * 1048576 AS BIGINT) AS DOUBLE)
                  AS es_return
         FROM n JOIN v ON v.event_type = n.event_type
                JOIN t ON t.event_type = n.event_type
         ORDER BY n.event_type""")),

    // Average True Range (Wilder's volatility), on the REAL OHLC bars:
    // TR = max(high−low, |high−prev_close|, |low−prev_close|) — pure
    // IEEE single ops, bit-identical across engines — smoothed by the
    // same deterministic prefix-fold EMA as ts_ema (first TR seeds the
    // fold; oracle replays the identical fold with list_reduce). The
    // band-width input for Keltner/Supertrend overlays.
    Query("ts_atr", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy("date")
      val bars = Ohlc.dailyBars(Tables.events(s, dir))
        .select(col("event_type"), col("date"), col("high"), col("low"),
                col("close"))
        .withColumn("prev_close", lag(col("close"), 1).over(w))
        .filter(col("prev_close").isNotNull)
        .withColumn("tr", greatest(col("high") - col("low"),
          abs(col("high") - col("prev_close")),
          abs(col("low") - col("prev_close"))))
      graft.ts.Ema.withEma(bars, 0.25, Seq("event_type"), closeCol = "tr")
        .select(col("event_type"), col("date"), col("tr"),
                col("ema").as("atr"))
        .orderBy("event_type", "date")
    },
      Some("""WITH b AS (SELECT event_type, CAST(ts AS DATE) AS date,
                           max(value) AS high, min(value) AS low,
                           arg_max(value, ts) AS close
                    FROM events GROUP BY 1, 2),
              r AS (SELECT event_type, date, high, low,
                           lag(close, 1) OVER (PARTITION BY event_type
                                               ORDER BY date) AS prev_close
                    FROM b),
              t AS (SELECT event_type, date,
                           greatest(high - low, abs(high - prev_close),
                                    abs(low - prev_close)) AS tr
                    FROM r WHERE prev_close IS NOT NULL),
              l AS (SELECT event_type, date, tr,
                           list(tr) OVER (PARTITION BY event_type
                             ORDER BY date ROWS UNBOUNDED PRECEDING) AS cl
                    FROM t)
         SELECT event_type, date, tr,
                list_reduce(cl, (a, x) -> a * CAST(0.75 AS DOUBLE)
                                          + x * CAST(0.25 AS DOUBLE)) AS atr
         FROM l ORDER BY event_type, date""")),

    // Seasonality strength as one-way ANOVA: η² = SS_between / SS_total
    // of daily closes grouped by day-of-week, per series — EXACT end to
    // end: SST = n·Σx²−S² in BIGINT, and each DOW group's
    // (n·s_g − n_g·S)² DIV (n_g·n) is an exact non-negative integer
    // quotient (truncation == floor), summed partial-aggregably. The
    // "is the weekly pattern real" screen behind ts_seasonality_dow's
    // per-DOW means.
    Query("ts_seasonality_strength", (s, dir) => {
      val bars = Ohlc.dailyBars(Tables.events(s, dir))
        .select(col("event_type"),
                (weekday(col("date")) + 1).cast("long").as("dow"),
                Exact.cents(col("close")).as("x"))
      val tot = bars.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("x")).as("s"),
             sum(col("x") * col("x")).as("ss"))
      val grp = bars.groupBy("event_type", "dow")
        .agg(count(lit(1)).as("ng"), sum(col("x")).as("sg"))
      val ssb = grp.join(broadcast(tot), Seq("event_type"))
        .select(col("event_type"),
          expr("""(n * sg - ng * s) * (n * sg - ng * s)
                  DIV (ng * n)""").as("qg"))
        .groupBy("event_type")
        .agg(sum(col("qg")).as("ssb_q"), count(lit(1)).as("n_groups"))
      tot.select(col("event_type"), col("n"),
          (col("n") * col("ss") - col("s") * col("s")).as("sst"))
        .join(ssb, Seq("event_type"))
        .select(col("event_type"), col("n"), col("n_groups"),
          col("ssb_q"), col("sst"),
          (col("ssb_q").cast("double") / col("sst").cast("double"))
            .as("eta_sq"))
        .orderBy("event_type")
    },
      Some("""WITH b AS (SELECT event_type, CAST(ts AS DATE) AS date,
                           CAST(round(arg_max(value, ts) * 100, 0) AS BIGINT)
                             AS x
                    FROM events GROUP BY 1, 2),
              d AS (SELECT event_type,
                           CAST(isodow(date) AS BIGINT) AS dow, x
                    FROM b),
              t AS (SELECT event_type, count(*) AS n,
                           CAST(sum(x) AS BIGINT) AS s,
                           CAST(sum(x * x) AS BIGINT) AS ss
                    FROM d GROUP BY 1),
              g AS (SELECT event_type, dow, count(*) AS ng,
                           CAST(sum(x) AS BIGINT) AS sg
                    FROM d GROUP BY 1, 2),
              q AS (SELECT g.event_type,
                           ((t.n * g.sg - g.ng * t.s)
                            * (t.n * g.sg - g.ng * t.s))
                             // (g.ng * t.n) AS qg
                    FROM g JOIN t ON t.event_type = g.event_type),
              sb AS (SELECT event_type, CAST(sum(qg) AS BIGINT) AS ssb_q,
                            count(*) AS n_groups
                     FROM q GROUP BY 1)
         SELECT t.event_type, t.n, sb.n_groups, sb.ssb_q,
                CAST(t.n * t.ss - t.s * t.s AS BIGINT) AS sst,
                CAST(sb.ssb_q AS DOUBLE)
                  / CAST(CAST(t.n * t.ss - t.s * t.s AS BIGINT) AS DOUBLE)
                  AS eta_sq
         FROM t JOIN sb ON sb.event_type = t.event_type
         ORDER BY t.event_type""")),

    // Donchian channels: trailing-10-bar high/low band per series from
    // one keyed ROWS window on exact cents (integer min/max — no
    // doubles anywhere), with breakout flags as integer equality against
    // the band edges. NULL band while the frame fills (positional
    // semantics pinned by the row count guard). The breakout primitive
    // under turtle-style trend systems.
    Query("ts_donchian_channels", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy("date").rowsBetween(-9, 0)
      Ohlc.dailyBars(Tables.events(s, dir))
        .select(col("event_type"), col("date"),
                Exact.cents(col("high")).as("hi_c"),
                Exact.cents(col("low")).as("lo_c"),
                Exact.cents(col("close")).as("cl_c"))
        .withColumn("n_in_frame", count(lit(1)).over(w))
        .withColumn("chan_hi",
          when(col("n_in_frame") === 10, max(col("hi_c")).over(w)))
        .withColumn("chan_lo",
          when(col("n_in_frame") === 10, min(col("lo_c")).over(w)))
        .select(col("event_type"), col("date"), col("cl_c"),
          col("chan_hi"), col("chan_lo"),
          (col("chan_hi").isNotNull &&
            col("cl_c") === col("chan_hi")).as("breakout_up"),
          (col("chan_lo").isNotNull &&
            col("cl_c") === col("chan_lo")).as("breakout_down"))
        .orderBy("event_type", "date")
    },
      Some("""WITH b AS (SELECT event_type, CAST(ts AS DATE) AS date,
                           CAST(round(max(value) * 100, 0) AS BIGINT)
                             AS hi_c,
                           CAST(round(min(value) * 100, 0) AS BIGINT)
                             AS lo_c,
                           CAST(round(arg_max(value, ts) * 100, 0) AS BIGINT)
                             AS cl_c
                    FROM events GROUP BY 1, 2),
              r AS (SELECT event_type, date, cl_c,
                           count(*) OVER w AS n_in_frame,
                           max(hi_c) OVER w AS mh,
                           min(lo_c) OVER w AS ml
                    FROM b
                    WINDOW w AS (PARTITION BY event_type ORDER BY date
                                 ROWS BETWEEN 9 PRECEDING AND CURRENT ROW))
         SELECT event_type, date, cl_c,
                CASE WHEN n_in_frame = 10 THEN mh END AS chan_hi,
                CASE WHEN n_in_frame = 10 THEN ml END AS chan_lo,
                (n_in_frame = 10 AND cl_c = mh) AS breakout_up,
                (n_in_frame = 10 AND cl_c = ml) AS breakout_down
         FROM r ORDER BY event_type, date""")),

    // Sharpe and Sortino in one pass: per-series quantized daily returns
    // (floor(r·2²⁰), the shared exact lattice), then mean, variance, and
    // downside second moment as BIGINT/DECIMAL sums; each ratio is one
    // fixed IEEE chain (mean/σ and mean/downside-σ), NULL when the
    // deviation is zero. The two risk-adjusted return figures every
    // portfolio report pairs.
    Query("ts_sharpe_sortino", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy("date")
      val rq = Ohlc.dailyBars(Tables.events(s, dir))
        .select(col("event_type"), col("date"),
                Exact.cents(col("close")).as("c"))
        .withColumn("prev", lag(col("c"), 1).over(w))
        .filter(col("prev").isNotNull)
        .select(col("event_type"),
          floor((col("c") - col("prev")).cast("double")
            / col("prev").cast("double") * lit(1048576.0)).cast("long")
            .as("x"))
      val agg = rq.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
             sum(col("x") * col("x")).as("sxx"),
             sum(when(col("x") < 0, col("x") * col("x")).otherwise(0L))
               .as("sdd"))
      def d(c: org.apache.spark.sql.Column) = c.cast("double")
      val nd = d(col("n"))
      agg.select(col("event_type"), col("n"),
          (d(col("sx")) / nd).as("mean_q"),
          sqrt((nd * d(col("sxx")) - d(col("sx")) * d(col("sx"))))
            .divide(nd).as("std_q"),
          sqrt(d(col("sdd")) / nd).as("downside_q"))
        .select(col("event_type"), col("n"),
          when(col("std_q") > 0.0, col("mean_q") / col("std_q"))
            .as("sharpe"),
          when(col("downside_q") > 0.0, col("mean_q") / col("downside_q"))
            .as("sortino"))
        .orderBy("event_type")
    },
      Some("""WITH b AS (SELECT event_type, CAST(ts AS DATE) AS date,
                           CAST(round(arg_max(value, ts) * 100, 0) AS BIGINT)
                             AS c
                    FROM events GROUP BY 1, 2),
              r AS (SELECT event_type, date, c,
                           lag(c, 1) OVER (PARTITION BY event_type
                                           ORDER BY date) AS prev
                    FROM b),
              q AS (SELECT event_type,
                           CAST(floor(CAST(c - prev AS DOUBLE)
                             / CAST(prev AS DOUBLE)
                             * CAST(1048576 AS DOUBLE)) AS BIGINT) AS x
                    FROM r WHERE prev IS NOT NULL),
              a AS (SELECT event_type, count(*) AS n,
                           CAST(sum(x) AS BIGINT) AS sx,
                           CAST(sum(x * x) AS BIGINT) AS sxx,
                           CAST(sum(CASE WHEN x < 0 THEN x * x ELSE 0 END)
                                AS BIGINT) AS sdd
                    FROM q GROUP BY 1),
              m AS (SELECT event_type, n,
                           CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean_q,
                           sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                             / CAST(n AS DOUBLE) AS std_q,
                           sqrt(CAST(sdd AS DOUBLE) / CAST(n AS DOUBLE))
                             AS downside_q
                    FROM a)
         SELECT event_type, n,
                CASE WHEN std_q > 0 THEN mean_q / std_q END AS sharpe,
                CASE WHEN downside_q > 0 THEN mean_q / downside_q END
                  AS sortino
         FROM m ORDER BY event_type""")),

    // Calmar ratio: total return over the window divided by the maximum
    // drawdown — both sides exact integer basis points first (explicit
    // FLOOR division for the possibly-negative return; positive DIV for
    // the drawdown), one final double division, NULL when the series
    // never drew down. The risk-adjusted companion to ts_ulcer_index.
    Query("ts_calmar_ratio", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy("date")
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, 0)
      val bars = Ohlc.dailyBars(Tables.events(s, dir))
        .select(col("event_type"), col("date"),
                Exact.cents(col("close")).as("c"))
      val dd = bars.withColumn("p", max(col("c")).over(w))
        .select(col("event_type"),
                expr("((p - c) * 10000) DIV p").as("dd_bp"))
        .groupBy("event_type").agg(max(col("dd_bp")).as("max_dd_bp"))
      bars.groupBy("event_type")
        .agg(min_by(col("c"), col("date")).as("first_cents"),
             max_by(col("c"), col("date")).as("last_cents"))
        .withColumn("ret_num", (col("last_cents") - col("first_cents"))
          * lit(10000L))
        .select(col("event_type"), col("first_cents"), col("last_cents"),
          expr("""(ret_num - (((ret_num % first_cents) + first_cents)
                   % first_cents)) DIV first_cents""")
            .as("total_return_bp"))
        .join(dd, Seq("event_type"))
        .withColumn("calmar",
          when(col("max_dd_bp") > 0,
            col("total_return_bp").cast("double")
              / col("max_dd_bp").cast("double")))
        .orderBy("event_type")
    },
      Some("""WITH b AS (SELECT event_type, CAST(ts AS DATE) AS date,
                           CAST(round(arg_max(value, ts) * 100, 0) AS BIGINT)
                             AS c
                    FROM events GROUP BY 1, 2),
              p AS (SELECT event_type,
                           max(c) OVER (PARTITION BY event_type
                                        ORDER BY date
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                             AND CURRENT ROW) AS p, c
                    FROM b),
              dd AS (SELECT event_type,
                            max(((p - c) * 10000) // p) AS max_dd_bp
                     FROM p GROUP BY 1),
              fl AS (SELECT event_type,
                            arg_min(c, date) AS first_cents,
                            arg_max(c, date) AS last_cents
                     FROM b GROUP BY 1),
              r AS (SELECT event_type, first_cents, last_cents,
                           (last_cents - first_cents) * 10000 AS rn
                    FROM fl),
              t AS (SELECT event_type, first_cents, last_cents,
                           (rn - (((rn % first_cents) + first_cents)
                                  % first_cents)) // first_cents
                             AS total_return_bp
                    FROM r)
         SELECT t.event_type, t.first_cents, t.last_cents,
                t.total_return_bp, dd.max_dd_bp,
                CASE WHEN dd.max_dd_bp > 0 THEN
                  CAST(t.total_return_bp AS DOUBLE)
                    / CAST(dd.max_dd_bp AS DOUBLE)
                END AS calmar
         FROM t JOIN dd ON dd.event_type = t.event_type
         ORDER BY t.event_type""")),

    // Holiday-adjacency effect: mean daily return (exact basis points,
    // floor division handling negative moves) per series, split by
    // whether the bar lands ON an NYSE holiday, the day BEFORE one, the
    // day AFTER one, or a regular day — the event-study view a calendar
    // expression exists to serve. The holiday set is the same
    // NyseCalendar rule table the busday family uses; classification is
    // a broadcast-friendly isin over date literals, no join.
    Query("ts_holiday_effect", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy("date")
      val hol = graft.cal.NyseCalendar.defaultDateLiterals
        .map(java.sql.Date.valueOf)
      val bars = Ohlc.dailyBars(Tables.events(s, dir))
        .select(col("event_type"), col("date"),
                Exact.cents(col("close")).as("c"))
        .withColumn("p", lag(col("c"), 1).over(w))
        .filter(col("p").isNotNull)
        .withColumn("rn", (col("c") - col("p")) * lit(10000L))
        .withColumn("ret_bp",
          expr("(rn - (((rn % p) + p) % p)) DIV p"))
      bars
        .withColumn("day_class",
          when(col("date").isin(hol: _*), "holiday")
            .when(date_add(col("date"), 1).isin(hol: _*), "pre_holiday")
            .when(date_sub(col("date"), 1).isin(hol: _*), "post_holiday")
            .otherwise("regular"))
        .groupBy("event_type", "day_class")
        .agg(count(lit(1)).as("n_days"),
             sum(col("ret_bp")).as("sum_ret_bp"))
        .select(col("event_type"), col("day_class"), col("n_days"),
          (col("sum_ret_bp").cast("double") / col("n_days").cast("double"))
            .as("mean_ret_bp"))
        .orderBy("event_type", "day_class")
    },
      Some {
      val dates = graft.cal.NyseCalendar.defaultDateLiterals
        .map(d => s"DATE '$d'").mkString(", ")
      s"""WITH b AS (SELECT event_type, CAST(ts AS DATE) AS date,
                            CAST(round(arg_max(value, ts) * 100, 0) AS BIGINT)
                              AS c
                     FROM events GROUP BY 1, 2),
               r AS (SELECT event_type, date, c,
                            lag(c) OVER (PARTITION BY event_type
                                         ORDER BY date) AS p
                     FROM b),
               t AS (SELECT event_type, date,
                            (c - p) * 10000 AS rn, p
                     FROM r WHERE p IS NOT NULL),
               f AS (SELECT event_type,
                            CASE WHEN date IN ($dates) THEN 'holiday'
                                 WHEN date + 1 IN ($dates) THEN 'pre_holiday'
                                 WHEN date - 1 IN ($dates) THEN 'post_holiday'
                                 ELSE 'regular' END AS day_class,
                            (rn - (((rn % p) + p) % p)) // p AS ret_bp
                     FROM t)
          SELECT event_type, day_class, count(*) AS n_days,
                 CAST(sum(ret_bp) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                   AS mean_ret_bp
          FROM f GROUP BY 1, 2 ORDER BY 1, 2"""
      }),

    // Drawdown duration: the longest consecutive underwater spell (bars
    // strictly below the running peak) per series, with total underwater
    // bars and the deepest drawdown — the recovery-time view that calmar
    // and ulcer flatten away. Islands come from the rank-difference trick
    // (two keyed row_numbers, no iteration); every quantity is an exact
    // integer, so the cross-engine check is bitwise.
    Query("ts_drawdown_duration", (s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val w = W.partitionBy("event_type").orderBy("date")
      val bars = Ohlc.dailyBars(Tables.events(s, dir))
        .select(col("event_type"), col("date"),
                Exact.cents(col("close")).as("c"))
        .withColumn("peak", max(col("c")).over(
          w.rowsBetween(W.unboundedPreceding, 0)))
        .withColumn("uw", col("c") < col("peak"))
        .withColumn("rn_all", row_number().over(w))
      val spells = bars.filter(col("uw"))
        .withColumn("rn_uw", row_number().over(w))
        .withColumn("grp", col("rn_all") - col("rn_uw"))
        .groupBy("event_type", "grp")
        .agg(count(lit(1)).as("len"),
             max(expr("((peak - c) * 10000) DIV peak")).as("dd_bp"))
      spells.groupBy("event_type")
        .agg(sum(col("len")).as("n_underwater_days"),
             max(col("len")).as("longest_spell_days"),
             max(col("dd_bp")).as("deepest_dd_bp"))
        .orderBy("event_type")
    },
      Some("""WITH b AS (SELECT event_type, CAST(ts AS DATE) AS date,
                           CAST(round(arg_max(value, ts) * 100, 0) AS BIGINT)
                             AS c
                    FROM events GROUP BY 1, 2),
              p AS (SELECT event_type, date, c,
                           max(c) OVER (PARTITION BY event_type
                                        ORDER BY date
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                             AND CURRENT ROW) AS peak,
                           row_number() OVER (PARTITION BY event_type
                                              ORDER BY date) AS rn_all
                    FROM b),
              u AS (SELECT event_type, peak, c,
                           rn_all - row_number()
                             OVER (PARTITION BY event_type ORDER BY date)
                             AS grp
                    FROM p WHERE c < peak),
              g AS (SELECT event_type, grp, count(*) AS len,
                           max(((peak - c) * 10000) // peak) AS dd_bp
                    FROM u GROUP BY 1, 2)
         SELECT event_type,
                CAST(sum(len) AS BIGINT) AS n_underwater_days,
                max(len) AS longest_spell_days,
                max(dd_bp) AS deepest_dd_bp
         FROM g GROUP BY 1 ORDER BY 1""")),

    // Ulcer index (downside-volatility): sqrt(mean(drawdown²)) per
    // series with the drawdown quantized to EXACT integer basis points
    // first — running-max peak on integer cents, dd_bp = (p−c)·10⁴ DIV p
    // (positive floor division, identical on both engines), so Σdd_bp²
    // is an order-free BIGINT and only the final sqrt-of-mean is a fixed
    // double chain. The drawdown-severity cousin of ts_realized_vol.
    Query("ts_ulcer_index", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy("date")
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, 0)
      Ohlc.dailyBars(Tables.events(s, dir))
        .select(col("event_type"), col("date"),
                Exact.cents(col("close")).as("c"))
        .withColumn("p", max(col("c")).over(w))
        .select(col("event_type"),
                expr("((p - c) * 10000) DIV p").as("dd_bp"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_days"),
             sum(col("dd_bp") * col("dd_bp")).as("sum_sq_bp"),
             max(col("dd_bp")).as("max_dd_bp"))
        .withColumn("ulcer_pct",
          sqrt(col("sum_sq_bp").cast("double")
            / col("n_days").cast("double")) / lit(100.0))
        .orderBy("event_type")
    },
      Some("""WITH b AS (SELECT event_type, CAST(ts AS DATE) AS date,
                           CAST(round(arg_max(value, ts) * 100, 0) AS BIGINT)
                             AS c
                    FROM events GROUP BY 1, 2),
              p AS (SELECT event_type,
                           max(c) OVER (PARTITION BY event_type
                                        ORDER BY date
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                             AND CURRENT ROW) AS p, c
                    FROM b),
              d AS (SELECT event_type, ((p - c) * 10000) // p AS dd_bp
                    FROM p)
         SELECT event_type, count(*) AS n_days,
                CAST(sum(dd_bp * dd_bp) AS BIGINT) AS sum_sq_bp,
                max(dd_bp) AS max_dd_bp,
                sqrt(CAST(sum(dd_bp * dd_bp) AS BIGINT)
                     / CAST(count(*) AS DOUBLE)) / CAST(100 AS DOUBLE)
                  AS ulcer_pct
         FROM d GROUP BY 1 ORDER BY event_type""")),

    // Holt's linear (level+trend) exponential smoothing per series — the
    // two-state generalization of ts_ema's recursive fold. α=0.25 and
    // β=0.125 are binary-exact; the oracle's list_reduce replays the
    // identical IEEE sequence step-for-step (seed l₁=x₁, b₁=0). SHIPPED
    // as the linear one-pass fold (PrefixFold: keyed repartition + one
    // mapPartitions carrying the (level, trend) pair — O(n) per series;
    // the declarative collect_list prefix window is O(n²) in series
    // length and survives only as PrefixFoldSpec's semantic definition).
    Query("ts_holt_linear", (s, dir) => {
      import org.apache.spark.sql.types.{DoubleType, StructField}
      val bars = Ohlc.dailyBars(Tables.events(s, dir))
        .select(col("event_type"), col("date"), col("close"))
      val ci = bars.schema.fieldIndex("close")
      graft.ts.PrefixFold.keyedFold[(Double, Double)](bars,
          Seq("event_type"), Seq("date"),
          Seq(StructField("level", DoubleType),
              StructField("trend", DoubleType)))(
        init = r => (r.getDouble(ci), 0.0),
        step = { case ((l, b), r) =>
          // the exact op chain of the oracle lambda:
          // l' = 0.25·x + 0.75·(l+b); b' = 0.125·(l'−l) + 0.875·b
          val x = r.getDouble(ci)
          val l2 = 0.25 * x + 0.75 * (l + b)
          (l2, 0.125 * (l2 - l) + 0.875 * b)
        },
        emit = (st, _) => Seq(st._1, st._2))
        .select(col("event_type"), col("date"), col("close"),
          col("level"), col("trend"))
        .orderBy("event_type", "date")
    },
      // recursive CTE rather than a list_reduce struct fold: the (l, b)
      // state is mutually cross-dependent, which DuckDB 1.0's in-place
      // field-by-field lambda accumulator update cannot express safely
      // (see FixedLog2.sql). The row-at-a-time recursion replays the exact
      // IEEE sequence of the Spark aggregate fold.
      Some("""WITH RECURSIVE bars AS (
                SELECT event_type, CAST(ts AS DATE) AS date,
                       arg_max(value, ts) AS close,
                       row_number() OVER (PARTITION BY event_type
                         ORDER BY CAST(ts AS DATE)) AS rn
                FROM events GROUP BY 1, 2),
              rec AS (
                SELECT event_type, date, close, rn,
                       CAST(close AS DOUBLE) AS l, CAST(0.0 AS DOUBLE) AS b
                FROM bars WHERE rn = 1
                UNION ALL
                SELECT n.event_type, n.date, n.close, n.rn,
                       0.25 * n.close + 0.75 * (r.l + r.b) AS l,
                       0.125 * ((0.25 * n.close + 0.75 * (r.l + r.b)) - r.l)
                         + 0.875 * r.b AS b
                FROM rec r JOIN bars n
                  ON n.event_type = r.event_type AND n.rn = r.rn + 1)
         SELECT event_type, date, close, l AS level, b AS trend
         FROM rec ORDER BY event_type, date""")),

    // Kalman local-level filter (random-walk-plus-noise): the
    // optimal-GAIN recursive smoother — P⁺ = P+Q, K = P⁺/(P⁺+R),
    // l ← l + K·(x−l), P ← (1−K)·P⁺ — whose smoothing adapts per step
    // (high gain while uncertain, low once converged), unlike ts_ema's
    // fixed α. Q = 1/64 and R = 1 are binary-exact doubles, so the
    // ordered IEEE chain (one divide per step — correctly rounded,
    // deterministic) replays bitwise in the oracle's recursive CTE.
    // PrefixFold one-pass: O(1) state per series, linear time.
    Query("ts_kalman_level", (s, dir) => {
      import org.apache.spark.sql.types.{DoubleType, StructField}
      val bars = Ohlc.dailyBars(Tables.events(s, dir))
        .select(col("event_type"), col("date"), col("close"))
      val ci = bars.schema.fieldIndex("close")
      // state = (level, error variance P, gain K of THIS row's update)
      graft.ts.PrefixFold.keyedFold[(Double, Double, Double)](bars,
          Seq("event_type"), Seq("date"),
          Seq(StructField("level", DoubleType),
              StructField("p_var", DoubleType),
              StructField("gain", DoubleType)))(
        init = r => (r.getDouble(ci), 1.0, 0.0),
        step = { case ((l, p, _), r) =>
          // the oracle CTE's exact op chain, pp inlined identically
          val x = r.getDouble(ci)
          val pp = p + 0.015625
          val k = pp / (pp + 1.0)
          (l + k * (x - l), (1.0 - k) * pp, k)
        },
        emit = (st, _) => Seq(st._1, st._2, st._3))
        .select(col("event_type"), col("date"), col("close"),
          col("level"), col("gain"), col("p_var"))
        .orderBy("event_type", "date")
    },
      // the Kalman gain chain: pp = p + 1/64 (binary-exact), one divide,
      // then the level/variance updates — each expression inlined exactly
      // as the Scala fold computes it
      Some("""WITH RECURSIVE bars AS (
                SELECT event_type, CAST(ts AS DATE) AS date,
                       arg_max(value, ts) AS close,
                       row_number() OVER (PARTITION BY event_type
                         ORDER BY CAST(ts AS DATE)) AS rn
                FROM events GROUP BY 1, 2),
              rec AS (
                SELECT event_type, date, close, rn,
                       CAST(close AS DOUBLE) AS l,
                       CAST(1.0 AS DOUBLE) AS p,
                       CAST(0.0 AS DOUBLE) AS k
                FROM bars WHERE rn = 1
                UNION ALL
                SELECT n.event_type, n.date, n.close, n.rn,
                       r.l + ((r.p + 0.015625) / ((r.p + 0.015625) + 1.0))
                           * (n.close - r.l) AS l,
                       (1.0 - ((r.p + 0.015625) / ((r.p + 0.015625) + 1.0)))
                           * (r.p + 0.015625) AS p,
                       ((r.p + 0.015625) / ((r.p + 0.015625) + 1.0)) AS k
                FROM rec r JOIN bars n
                  ON n.event_type = r.event_type AND n.rn = r.rn + 1)
         SELECT event_type, date, close, l AS level, k AS gain,
                p AS p_var
         FROM rec ORDER BY event_type, date""")),

    // Holt–Winters ADDITIVE weekly smoothing: level + trend + a 7-slot
    // seasonal vector — the state is an ARRAY, proving PrefixFold
    // generalizes past scalar/pair accumulators (the full
    // triple-exponential forecaster production dashboards run).
    // α=¼ β=⅛ γ=¼ binary-exact; the season slot is ROW-indexed
    // ((rn−1) mod 7) so both engines share one indexing with no
    // calendar dependency; the oracle carries the seasonal vector as a
    // DuckDB LIST through a recursive CTE, updating one slot per step
    // with an index lambda. Seeds: l₁=x₁, b₁=0, s=0⃗ (additive form —
    // early seasonals absorb gradually, exactly alike in both engines).
    Query("ts_holt_winters_weekly", (s, dir) => {
      import org.apache.spark.sql.types.{DoubleType, StructField}
      val bars = Ohlc.dailyBars(Tables.events(s, dir))
        .select(col("event_type"), col("date"), col("close"))
      val ci = bars.schema.fieldIndex("close")
      // state = (level, trend, seasonal vector, this row's seasonal, rn)
      type St = (Double, Double, Array[Double], Double, Int)
      graft.ts.PrefixFold.keyedFold[St](bars,
          Seq("event_type"), Seq("date"),
          Seq(StructField("level", DoubleType),
              StructField("trend", DoubleType),
              StructField("seasonal", DoubleType)))(
        init = r => (r.getDouble(ci), 0.0, Array.fill(7)(0.0), 0.0, 1),
        step = { case ((l, b, sv, _, rn), r) =>
          // oracle CTE op chain with l2 recomputed inline identically
          val x = r.getDouble(ci)
          val i = rn % 7 // this row's slot: (rn_this − 1) mod 7
          val si = sv(i)
          val l2 = 0.25 * (x - si) + 0.75 * (l + b)
          val b2 = 0.125 * (l2 - l) + 0.875 * b
          val s2 = 0.25 * (x - l2) + 0.75 * si
          val sv2 = sv.clone(); sv2(i) = s2
          (l2, b2, sv2, s2, rn + 1)
        },
        emit = (st, _) => Seq(st._1, st._2, st._4))
        .select(col("event_type"), col("date"), col("close"),
          col("level"), col("trend"), col("seasonal"))
        .orderBy("event_type", "date")
    },
      Some("""WITH RECURSIVE bars AS (
                SELECT event_type, CAST(ts AS DATE) AS date,
                       arg_max(value, ts) AS close,
                       row_number() OVER (PARTITION BY event_type
                         ORDER BY CAST(ts AS DATE)) AS rn
                FROM events GROUP BY 1, 2),
              rec AS (
                SELECT event_type, date, close, rn,
                       CAST(close AS DOUBLE) AS l,
                       CAST(0.0 AS DOUBLE) AS b,
                       [CAST(0.0 AS DOUBLE), 0.0, 0.0, 0.0, 0.0, 0.0,
                        0.0] AS s,
                       CAST(0.0 AS DOUBLE) AS sea
                FROM bars WHERE rn = 1
                UNION ALL
                SELECT n.event_type, n.date, n.close, n.rn,
                       0.25 * (n.close - r.s[(n.rn - 1) % 7 + 1])
                         + 0.75 * (r.l + r.b) AS l,
                       0.125 * ((0.25 * (n.close - r.s[(n.rn - 1) % 7 + 1])
                                  + 0.75 * (r.l + r.b)) - r.l)
                         + 0.875 * r.b AS b,
                       list_transform(r.s, (x, i) ->
                         CASE WHEN i = (n.rn - 1) % 7 + 1
                              THEN 0.25 * (n.close
                                     - (0.25 * (n.close
                                          - r.s[(n.rn - 1) % 7 + 1])
                                        + 0.75 * (r.l + r.b)))
                                   + 0.75 * r.s[(n.rn - 1) % 7 + 1]
                              ELSE x END) AS s,
                       0.25 * (n.close
                                - (0.25 * (n.close
                                     - r.s[(n.rn - 1) % 7 + 1])
                                   + 0.75 * (r.l + r.b)))
                         + 0.75 * r.s[(n.rn - 1) % 7 + 1] AS sea
                FROM rec r JOIN bars n
                  ON n.event_type = r.event_type AND n.rn = r.rn + 1)
         SELECT event_type, date, close, l AS level, b AS trend,
                sea AS seasonal
         FROM rec ORDER BY event_type, date""")),

    // Permutation entropy (order-3) per series: each consecutive close
    // triple maps to its comparison pattern (three pairwise > tests on
    // the exact cents lattice → 3-bit id), and the pattern histogram's
    // entropy — the model-free complexity/randomness score — comes out
    // exact via FixedLog2. Keyed lead window, partial-aggregable counts.
    Query("ts_perm_entropy", (s, dir) => {
      def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
      val L = graft.functions.FixedLog2.log2_fp _
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy("date")
      Ohlc.dailyBars(Tables.events(s, dir))
        .select(col("event_type"), col("date"),
                Exact.cents(col("close")).as("c"))
        .withColumn("x1", lead(col("c"), 1).over(w))
        .withColumn("x2", lead(col("c"), 2).over(w))
        .filter(col("x2").isNotNull)
        .select(col("event_type"),
          ((col("x1") > col("c")).cast("long") * 4 +
           (col("x2") > col("x1")).cast("long") * 2 +
           (col("x2") > col("c")).cast("long")).as("pid"))
        .groupBy("event_type", "pid").agg(count(lit(1)).as("c"))
        .groupBy("event_type")
        .agg(sum(col("c")).as("n_windows"),
             count(lit(1)).as("n_patterns"),
             sum(dec(col("c")) * dec(L(col("c")))).as("sclog"))
        .select(col("event_type"), col("n_windows"), col("n_patterns"),
          ((dec(col("n_windows")) * dec(L(col("n_windows"))) - col("sclog"))
             .cast("double")
           / col("n_windows").cast("double") / lit(1048576.0))
            .as("perm_entropy_bits"))
        .orderBy("event_type")
    },
      Some {
      val lc = graft.functions.FixedLog2.sql("c")
      val lnw = graft.functions.FixedLog2.sql("n_windows")
      s"""WITH b AS (SELECT event_type, CAST(ts AS DATE) AS date,
                            CAST(round(arg_max(value, ts) * 100, 0)
                              AS BIGINT) AS c
                     FROM events GROUP BY 1, 2),
               t AS (SELECT event_type, c,
                            lead(c, 1) OVER w AS x1,
                            lead(c, 2) OVER w AS x2
                     FROM b WINDOW w AS (PARTITION BY event_type
                                         ORDER BY date)),
               pid AS (SELECT event_type,
                              (CASE WHEN x1 > c THEN 4 ELSE 0 END
                               + CASE WHEN x2 > x1 THEN 2 ELSE 0 END
                               + CASE WHEN x2 > c THEN 1 ELSE 0 END) AS pid
                       FROM t WHERE x2 IS NOT NULL),
               h AS (SELECT event_type, pid, count(*) AS c
                     FROM pid GROUP BY 1, 2),
               g AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS n_windows,
                            count(*) AS n_patterns,
                            CAST(sum(CAST(c AS HUGEINT) * $lc) AS HUGEINT)
                              AS sclog
                     FROM h GROUP BY 1)
          SELECT event_type, n_windows, n_patterns,
                 CAST(CAST(CAST(n_windows AS HUGEINT) * $lnw - sclog AS BIGINT) AS DOUBLE)
                   / CAST(n_windows AS DOUBLE) / 1048576.0
                   AS perm_entropy_bits
          FROM g ORDER BY event_type"""
      }),

    // Ljung–Box portmanteau test per series: Q = n(n+2)·Σ_k r_k²/(n−k)
    // over the same lag-1..3 autocorrelations ts_acf_multilag computes
    // (identical lattice moments, identical r chain), with the 3-term
    // sum folded in fixed lag order. The "is this series white noise"
    // gate run before fitting anything autoregressive.
    Query("ts_ljung_box", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy("date")
      val rq = Ohlc.dailyBars(Tables.events(s, dir))
        .select(col("event_type"), col("date"),
                Exact.cents(col("close")).as("c"))
        .withColumn("prev", lag(col("c"), 1).over(w))
        .filter(col("prev").isNotNull)
        .select(col("event_type"), col("date"),
          floor((col("c") - col("prev")).cast("double")
            / col("prev").cast("double") * lit(1048576.0)).cast("long")
            .as("x"))
        .tracked
      val pairs = rq
        .withColumn("y1", lag(col("x"), 1).over(w))
        .withColumn("y2", lag(col("x"), 2).over(w))
        .withColumn("y3", lag(col("x"), 3).over(w))
        .select(col("event_type"), col("x"),
          expr("stack(3, 1L, y1, 2L, y2, 3L, y3) AS (lag, y)"))
        .filter(col("y").isNotNull)
      val agg = pairs.groupBy("event_type", "lag")
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
             sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
             sum(col("x") * col("x")).as("sxx"),
             sum(col("y") * col("y")).as("syy"))
      val nd = col("n").cast("decimal(38,0)")
      def d(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
      val r = agg.select(col("event_type"), col("lag"),
        ((nd * col("sxy") - d(col("sx")) * col("sy")).cast("double")
          / (sqrt((nd * col("sxx") - d(col("sx")) * col("sx"))
               .cast("double"))
             * sqrt((nd * col("syy") - d(col("sy")) * col("sy"))
               .cast("double")))).as("r"))
      val ns = rq.groupBy("event_type").agg(count(lit(1)).as("n_obs"))
      r.join(broadcast(ns), "event_type")
        .withColumn("term", col("r") * col("r")
          / (col("n_obs") - col("lag")).cast("double"))
        .groupBy("event_type")
        .agg(first(col("n_obs")).as("n_obs"),
             expr("aggregate(array_sort(collect_list(named_struct(" +
               "'lag', lag, 't', term))), CAST(0.0 AS DOUBLE), " +
               "(a, x) -> a + x.t)").as("tsum"))
        .select(col("event_type"), col("n_obs"), lit(3L).as("df"),
          (col("n_obs").cast("double")
            * (col("n_obs") + lit(2)).cast("double") * col("tsum"))
            .as("q_stat"))
        .orderBy("event_type")
    },
      Some("""WITH b AS (SELECT event_type, CAST(ts AS DATE) AS date,
                           CAST(round(arg_max(value, ts) * 100, 0) AS BIGINT)
                             AS c
                    FROM events GROUP BY 1, 2),
              rr AS (SELECT event_type, date, c,
                            lag(c, 1) OVER w AS prev
                     FROM b
                     WINDOW w AS (PARTITION BY event_type ORDER BY date)),
              q AS (SELECT event_type, date,
                           CAST(floor(CAST(c - prev AS DOUBLE)
                             / CAST(prev AS DOUBLE)
                             * CAST(1048576 AS DOUBLE)) AS BIGINT) AS x
                    FROM rr WHERE prev IS NOT NULL),
              p0 AS (SELECT event_type, x,
                            lag(x, 1) OVER w AS y1,
                            lag(x, 2) OVER w AS y2,
                            lag(x, 3) OVER w AS y3
                     FROM q
                     WINDOW w AS (PARTITION BY event_type ORDER BY date)),
              p AS (SELECT event_type, CAST(1 AS BIGINT) AS lag, x, y1 AS y
                    FROM p0
                    UNION ALL
                    SELECT event_type, 2, x, y2 FROM p0
                    UNION ALL
                    SELECT event_type, 3, x, y3 FROM p0),
              ag AS (SELECT event_type, lag,
                            CAST(count(*) AS HUGEINT) AS n,
                            CAST(sum(x) AS HUGEINT) AS sx,
                            CAST(sum(y) AS HUGEINT) AS sy,
                            CAST(sum(x * y) AS HUGEINT) AS sxy,
                            CAST(sum(x * x) AS HUGEINT) AS sxx,
                            CAST(sum(y * y) AS HUGEINT) AS syy
                     FROM p WHERE y IS NOT NULL GROUP BY 1, 2),
              r AS (SELECT event_type, lag,
                      CAST(CAST(n * sxy - sx * sy AS BIGINT) AS DOUBLE)
                        / (sqrt(CAST(CAST(n * sxx - sx * sx AS BIGINT)
                                     AS DOUBLE))
                           * sqrt(CAST(CAST(n * syy - sy * sy AS BIGINT)
                                       AS DOUBLE))) AS r
                    FROM ag),
              ns AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_obs
                     FROM q GROUP BY 1),
              t AS (SELECT r.event_type, ns.n_obs, r.lag,
                           r.r * r.r / CAST(ns.n_obs - r.lag AS DOUBLE)
                             AS term
                    FROM r JOIN ns ON ns.event_type = r.event_type)
         SELECT event_type, any_value(n_obs) AS n_obs,
                CAST(3 AS BIGINT) AS df,
                CAST(any_value(n_obs) AS DOUBLE)
                  * CAST(any_value(n_obs) + 2 AS DOUBLE)
                  * list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                      list_transform(list_sort(list({'lag': lag,
                        't': term})), x -> x.t)),
                      (a, x) -> a + x) AS q_stat
         FROM t GROUP BY 1 ORDER BY 1""")),

    // Page–Hinkley drift detection over each type's daily mean value —
    // the sequential change monitor a feature pipeline runs on every
    // metric stream. Entirely on the integer lattice: the daily mean is
    // (Σcents·10⁴) DIV n (explicit floor-division, the HHI discipline),
    // the running mean inside the PH term is cum DIV t, so m_t and both
    // one-sided statistics (m − run-min for upward drift, run-max − m for
    // downward) are exact BIGINTs — no double accumulation order to
    // diverge. Events reduce to (type, day) cells FIRST; every window is
    // keyed by type over day-counted rows, never event volume.
    Query("ts_page_hinkley", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
      val byT = w.partitionBy("event_type").orderBy("d")
      val run = byT.rowsBetween(w.unboundedPreceding, w.currentRow)
      Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("d"))
        .agg(sum(Exact.cents(col("value"))).as("s"), count(lit(1)).as("n"))
        .withColumn("x", expr("(s * 10000) div n"))
        .withColumn("t", row_number().over(byT).cast("long"))
        .withColumn("cumx", sum("x").over(run))
        .withColumn("term", col("x") - expr("cumx div t"))
        .withColumn("m", sum("term").over(run))
        .withColumn("ph_inc", col("m") - min("m").over(run))
        .withColumn("ph_dec", max("m").over(run) - col("m"))
        .select("event_type", "d", "x", "m", "ph_inc", "ph_dec")
        .orderBy("event_type", "d")
    },
      Some("""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d,
                               CAST(sum(CAST(round(value * 100, 0)
                                 AS BIGINT)) AS BIGINT) AS s,
                               count(*) AS n
                        FROM events GROUP BY 1, 2),
              x AS (SELECT event_type, d, (s * 10000) // n AS x FROM daily),
              c AS (SELECT event_type, d, x,
                           CAST(row_number() OVER w AS BIGINT) AS t,
                           CAST(sum(x) OVER w AS BIGINT) AS cumx
                    FROM x WINDOW w AS (PARTITION BY event_type
                                        ORDER BY d)),
              tm AS (SELECT event_type, d, x, x - cumx // t AS term FROM c),
              mm AS (SELECT event_type, d, x,
                            CAST(sum(term) OVER w AS BIGINT) AS m
                     FROM tm WINDOW w AS (PARTITION BY event_type
                                          ORDER BY d)),
              ph AS (SELECT event_type, d, x, m,
                            m - CAST(min(m) OVER w AS BIGINT) AS ph_inc,
                            CAST(max(m) OVER w AS BIGINT) - m AS ph_dec
                     FROM mm WINDOW w AS (PARTITION BY event_type
                                          ORDER BY d))
         SELECT event_type, d, x, m, ph_inc, ph_dec
         FROM ph ORDER BY 1, 2""")),

    // Hurst exponent via rescaled-range (R/S) analysis of each type's
    // daily-total series — the long-memory diagnostic for metric streams
    // (H≈0.5 random walk, >0.5 trending, <0.5 mean-reverting). Blocks of
    // n ∈ {5,10,15} days; per full block the scaled deviation range n·R
    // and variance numerator n·Σx²−S² are exact BIGINTs, so
    // y = 2·L(n·R) − L(n·Σx²−S²) = 2·log2(R/σ) lands on the FixedLog2
    // lattice and per-scale sums are order-free. H is half the OLS slope
    // of mean(y) on L(n): the per-scale means get a common denominator
    // M = Πm_s (exact ≤3-element integer fold), so slope numerator and
    // denominator are exact DECIMAL(38,0) with ONE final double division.
    // Frames after the daily reduce are day-counted (≤ 3·days rows per
    // type), never event volume.
    Query("ts_hurst_rs", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
      val L = graft.functions.FixedLog2.log2_fp _
      def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("d"))
        .agg(sum(Exact.cents(col("value"))).as("x"))
        .withColumn("t", row_number().over(
          w.partitionBy("event_type").orderBy("d")).cast("long"))
      val bl = daily
        .withColumn("n", explode(array(lit(5L), lit(10L), lit(15L))))
        .withColumn("block", expr("(t - 1) div n"))
        .withColumn("i", (col("t") - 1) % col("n") + 1)
      val wb = w.partitionBy("event_type", "n", "block")
      val dv = bl
        .withColumn("cum", sum("x").over(wb.orderBy("i")))
        .withColumn("sb", sum("x").over(wb))
        .withColumn("ssb", sum(dec(col("x")) * dec(col("x"))).over(wb))
        .withColumn("cnt", count(lit(1)).over(wb))
        .filter(col("cnt") === col("n")) // classic R/S drops partial blocks
        .groupBy("event_type", "n", "block")
        .agg(max(col("n") * col("cum") - col("i") * col("sb")).as("mx"),
             min(col("n") * col("cum") - col("i") * col("sb")).as("mn"),
             first(Exact.checkedLong(dec(col("n")) * col("ssb")
               - dec(col("sb")) * dec(col("sb"))))
               .as("var_num"))
        .withColumn("rs_num", col("mx") - col("mn"))
        .filter(col("rs_num") > 0 && col("var_num") > 0) // degenerate flat
        .withColumn("y", L(col("rs_num")) * 2 - L(col("var_num")))
      val perScale = dv.groupBy("event_type", "n")
        .agg(count(lit(1)).as("m"), sum("y").as("ys"))
        .withColumn("xs", L(col("n")))
        .tracked // the M-product aggregate and the final join both read it
      val prod = perScale.groupBy("event_type")
        .agg(count(lit(1)).as("k"),
             aggregate(collect_list(col("m")), lit(1L), (a, b) => a * b)
               .as("bigm")) // exact integer product — order-free
      perScale.join(broadcast(prod), "event_type")
        .withColumn("yp", col("ys") * expr("bigm div m")) // M/m_s exact
        .groupBy("event_type")
        .agg(first("k").as("n_scales"), sum("m").as("n_blocks"),
             first("bigm").as("bigm"),
             sum("xs").as("sx"),
             sum(dec(col("xs")) * dec(col("xs"))).as("sxx"),
             sum(dec(col("xs")) * dec(col("yp"))).as("sxy"),
             sum(dec(col("yp"))).as("sy"))
        .select(col("event_type"), col("n_scales"), col("n_blocks"),
          (((dec(col("n_scales")) * col("sxy") - dec(col("sx")) * col("sy"))
              .cast("double")
            / (dec(col("bigm")) * (dec(col("n_scales")) * col("sxx")
               - dec(col("sx")) * dec(col("sx")))).cast("double"))
           / lit(2.0)).as("hurst"))
        .orderBy("event_type")
    },
      Some {
      val lrs = graft.functions.FixedLog2.sql("rs_num")
      val lvar = graft.functions.FixedLog2.sql("var_num")
      val ln = graft.functions.FixedLog2.sql("n")
      s"""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d,
                                CAST(sum(CAST(round(value * 100, 0)
                                  AS BIGINT)) AS BIGINT) AS x
                         FROM events GROUP BY 1, 2),
               tt AS (SELECT event_type, x,
                             CAST(row_number() OVER (PARTITION BY event_type
                               ORDER BY d) AS BIGINT) AS t
                      FROM daily),
               sc AS (SELECT event_type, x, t, n
                      FROM tt CROSS JOIN (SELECT CAST(unnest([5, 10, 15])
                        AS BIGINT) AS n)),
               bl AS (SELECT event_type, x, n, (t - 1) // n AS block,
                             ((t - 1) % n) + 1 AS i
                      FROM sc),
               wc AS (SELECT event_type, n, block, i, x,
                             CAST(sum(x) OVER (PARTITION BY event_type, n,
                               block ORDER BY i) AS BIGINT) AS cum,
                             CAST(sum(x) OVER (PARTITION BY event_type, n,
                               block) AS BIGINT) AS sb,
                             CAST(sum(CAST(x AS HUGEINT) * x)
                               OVER (PARTITION BY event_type, n, block)
                               AS HUGEINT) AS ssb,
                             count(*) OVER (PARTITION BY event_type, n,
                               block) AS cnt
                      FROM bl),
               dvp AS (SELECT event_type, n, block,
                              max(n * cum - i * sb)
                                - min(n * cum - i * sb) AS rs_num,
                              CAST(any_value(CAST(n AS HUGEINT) * ssb
                                - CAST(sb AS HUGEINT) * sb) AS BIGINT)
                                AS var_num
                       FROM wc WHERE cnt = n GROUP BY 1, 2, 3),
               dv AS (SELECT event_type, n,
                             2 * $lrs - $lvar AS y
                      FROM dvp WHERE rs_num > 0 AND var_num > 0),
               ps AS (SELECT event_type, n, count(*) AS m,
                             CAST(sum(y) AS BIGINT) AS ys, $ln AS xs
                      FROM dv GROUP BY 1, 2),
               pr AS (SELECT event_type, count(*) AS k,
                             list_reduce(list_prepend(CAST(1 AS BIGINT),
                               list(m)), (a, b) -> a * b) AS bigm
                      FROM ps GROUP BY 1),
               jn AS (SELECT ps.event_type, ps.m, ps.xs,
                             ps.ys * (pr.bigm // ps.m) AS yp,
                             pr.k, pr.bigm
                      FROM ps JOIN pr ON pr.event_type = ps.event_type),
               ag AS (SELECT event_type, any_value(k) AS n_scales,
                             CAST(sum(m) AS BIGINT) AS n_blocks,
                             any_value(bigm) AS bigm,
                             CAST(sum(xs) AS BIGINT) AS sx,
                             CAST(sum(CAST(xs AS HUGEINT) * xs) AS HUGEINT)
                               AS sxx,
                             CAST(sum(CAST(xs AS HUGEINT) * yp) AS HUGEINT)
                               AS sxy,
                             CAST(sum(CAST(yp AS HUGEINT)) AS HUGEINT)
                               AS sy
                      FROM jn GROUP BY 1)
          SELECT event_type, n_scales, n_blocks,
                 CAST(CAST(CAST(n_scales AS HUGEINT) * sxy
                      - CAST(sx AS HUGEINT) * sy AS BIGINT) AS DOUBLE)
                   / CAST(CAST(CAST(bigm AS HUGEINT)
                          * (CAST(n_scales AS HUGEINT) * sxx
                             - CAST(sx AS HUGEINT) * sx) AS BIGINT) AS DOUBLE)
                   / 2.0 AS hurst
          FROM ag ORDER BY event_type"""
      }),

    // SAX symbolization + motif mining over each type's event-value
    // stream: PAA frames of 64 events (frame total = 64·mean, same
    // symbolization since monotone), per-type quartile breakpoints via
    // ntile(4) on the totally-ordered (total, frame) key, 3-symbol words
    // via lead, top-10 motifs per type. Everything after the 64:1 frame
    // reduce is frame-counted; the rank window inside each type is the
    // declared keyed-window path (the two-level prefix sum is the 100 TB
    // substitute, as in agg_ks_statistic). Symbols and counts are exact
    // integers — no floats anywhere.
    Query("ts_sax_symbols", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
      val byT = w.partitionBy("event_type")
      val frames = Tables.events(s, dir)
        .select(col("event_type"), col("ts"), col("event_id"),
                Exact.cents(col("value")).as("cents"))
        .withColumn("rn", row_number().over(
          byT.orderBy("ts", "event_id")).cast("long"))
        .withColumn("frame", expr("(rn - 1) div 64"))
        .groupBy("event_type", "frame")
        .agg(count(lit(1)).as("cnt"), sum("cents").as("fsum"))
        .filter(col("cnt") === 64) // full frames only
        .withColumn("q", ntile(4).over(byT.orderBy("fsum", "frame")))
        .withColumn("sym", expr("substr('abcd', q, 1)"))
      frames
        .withColumn("s2", lead("sym", 1).over(byT.orderBy("frame")))
        .withColumn("s3", lead("sym", 2).over(byT.orderBy("frame")))
        .filter(col("s3").isNotNull)
        .withColumn("word", concat(col("sym"), col("s2"), col("s3")))
        .groupBy("event_type", "word").agg(count(lit(1)).as("n_frames"))
        .withColumn("rk", row_number().over(
          byT.orderBy(col("n_frames").desc, col("word"))))
        .filter(col("rk") <= 10).drop("rk")
        .orderBy(col("event_type"), col("n_frames").desc, col("word"))
    },
      Some("""WITH ev AS (SELECT event_type, ts, event_id,
                            CAST(round(value * 100, 0) AS BIGINT) AS cents
                     FROM events),
              rn AS (SELECT event_type, cents,
                            CAST(row_number() OVER (PARTITION BY event_type
                              ORDER BY ts, event_id) AS BIGINT) AS rn
                     FROM ev),
              fr AS (SELECT event_type, (rn - 1) // 64 AS frame,
                            count(*) AS cnt,
                            CAST(sum(cents) AS BIGINT) AS fsum
                     FROM rn GROUP BY 1, 2),
              ff AS (SELECT event_type, frame, fsum,
                            ntile(4) OVER (PARTITION BY event_type
                              ORDER BY fsum, frame) AS q
                     FROM fr WHERE cnt = 64),
              sy AS (SELECT event_type, frame,
                            substr('abcd', q, 1) AS sym
                     FROM ff),
              wd AS (SELECT event_type,
                            sym || lead(sym, 1) OVER w
                                || lead(sym, 2) OVER w AS word,
                            lead(sym, 2) OVER w AS s3
                     FROM sy WINDOW w AS (PARTITION BY event_type
                                          ORDER BY frame)),
              ct AS (SELECT event_type, word, count(*) AS n_frames
                     FROM wd WHERE s3 IS NOT NULL GROUP BY 1, 2),
              rk AS (SELECT event_type, word, n_frames,
                            row_number() OVER (PARTITION BY event_type
                              ORDER BY n_frames DESC, word) AS rk
                     FROM ct)
         SELECT event_type, word, n_frames
         FROM rk WHERE rk <= 10
         ORDER BY event_type, n_frames DESC, word""")),

    // STL-lite decomposition of each type's daily series into
    // trend + day-of-week seasonal + remainder — the decomposition a
    // metric pipeline runs before anomaly rules. Entirely on the integer
    // lattice: trend is the centered 7-day SUM (trend×7, full windows
    // only), detrended = 7·x − trend7, the seasonal index is the exact
    // floor-divided per-(type, dow) mean of detrended (the explicit
    // make-divisible floor-div portable on both engines), remainder
    // closes the identity det7 = seasonal + remainder exactly. Events
    // reduce to day cells first; windows are type-keyed over day-counted
    // rows; the 35-row seasonal index broadcasts back.
    Query("ts_stl_decompose", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
      val byT = w.partitionBy("event_type").orderBy("t")
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("d"))
        .agg(sum(Exact.cents(col("value"))).as("x"))
        .withColumn("t", row_number().over(
          w.partitionBy("event_type").orderBy("d")).cast("long"))
        .withColumn("dow", (weekday(col("d")) + 1).cast("long"))
      val tr = daily
        .withColumn("trend7", sum("x").over(byT.rowsBetween(-3, 3)))
        .withColumn("cnt7", count(lit(1)).over(byT.rowsBetween(-3, 3)))
        .filter(col("cnt7") === 7)
        .withColumn("det7", col("x") * 7 - col("trend7"))
        .tracked // seasonal index + final join both read it
      val seas = tr.groupBy("event_type", "dow")
        .agg(sum("det7").as("s_num"), count(lit(1)).as("s_cnt"))
        .withColumn("seasonal", expr(
          "(s_num - ((s_num % s_cnt) + s_cnt) % s_cnt) div s_cnt"))
        .select("event_type", "dow", "seasonal")
      tr.join(broadcast(seas), Seq("event_type", "dow"))
        .withColumn("resid", col("det7") - col("seasonal"))
        .select("event_type", "d", "x", "trend7", "det7", "seasonal",
                "resid")
        .orderBy("event_type", "d")
    },
      Some("""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d,
                               CAST(sum(CAST(round(value * 100, 0)
                                 AS BIGINT)) AS BIGINT) AS x
                        FROM events GROUP BY 1, 2),
              tt AS (SELECT event_type, d, x,
                            CAST(isodow(d) AS BIGINT) AS dow,
                            CAST(row_number() OVER (PARTITION BY event_type
                              ORDER BY d) AS BIGINT) AS t
                     FROM daily),
              tr AS (SELECT event_type, d, x, dow,
                            CAST(sum(x) OVER w AS BIGINT) AS trend7,
                            count(*) OVER w AS cnt7
                     FROM tt WINDOW w AS (PARTITION BY event_type
                       ORDER BY t ROWS BETWEEN 3 PRECEDING
                       AND 3 FOLLOWING)),
              dt AS (SELECT event_type, d, x, dow, trend7,
                            x * 7 - trend7 AS det7
                     FROM tr WHERE cnt7 = 7),
              se AS (SELECT event_type, dow,
                            CAST(sum(det7) AS BIGINT) AS s_num,
                            count(*) AS s_cnt
                     FROM dt GROUP BY 1, 2),
              si AS (SELECT event_type, dow,
                            (s_num - ((s_num % s_cnt) + s_cnt) % s_cnt)
                              // s_cnt AS seasonal
                     FROM se)
         SELECT dt.event_type, dt.d, dt.x, dt.trend7, dt.det7,
                si.seasonal, dt.det7 - si.seasonal AS resid
         FROM dt JOIN si ON si.event_type = dt.event_type
                        AND si.dow = dt.dow
         ORDER BY dt.event_type, dt.d""")),

    // Generalized-ESD-style iterative outlier extraction over each type's
    // daily totals: 3 rounds of "flag the farthest point, remove it,
    // recompute" — the anomaly sweep that a single z-pass gets wrong
    // because extreme points inflate the very moments they're judged by.
    // The argmax key |n·x − S| is an exact BIGINT (ties to the later
    // date), per-round moments are one partial-agg over the shrinking
    // day-cell frame, and only the reported z spends a fixed IEEE chain.
    // Three unrolled rounds = bounded lineage, no driver collects.
    Query("ts_esd_outliers", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
      def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
      def d(c: org.apache.spark.sql.Column) = c.cast("double")
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("d"))
        .agg(sum(Exact.cents(col("value"))).as("x"))
        .tracked // three shrinking rounds re-scan it
      var cur = daily
      val picks = (1 to 3).map { r =>
        val moms = cur.groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum("x").as("s"),
               sum(dec(col("x")) * dec(col("x"))).as("ss"))
        val dv = cur.join(broadcast(moms), "event_type")
          .withColumn("dev", abs(col("x") * col("n") - col("s")))
          .withColumn("rk", row_number().over(
            w.partitionBy("event_type")
              .orderBy(col("dev").desc, col("d").desc)))
        val pick = dv.filter(col("rk") === 1)
          .select(lit(r.toLong).as("round"), col("event_type"), col("d"),
            col("x"), col("dev"), col("n"),
            (d(col("dev")) / (d(col("n"))
              * sqrt((dec(col("n")) * col("ss")
                      - dec(col("s")) * dec(col("s"))).cast("double")
                     / d(col("n") * (col("n") - 1))))).as("z"))
        cur = dv.filter(col("rk") =!= 1).select("event_type", "d", "x")
        pick
      }
      picks.reduce(_ unionAll _).orderBy("event_type", "round")
    },
      Some {
      def round(i: Int): String =
        s"""m$i AS (SELECT event_type, count(*) AS n,
                          CAST(sum(x) AS BIGINT) AS s,
                          CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT)
                            AS ss
                   FROM c$i GROUP BY 1),
            d$i AS (SELECT c.event_type, c.d, c.x, m.n, m.s, m.ss,
                           abs(c.x * m.n - m.s) AS dev,
                           row_number() OVER (PARTITION BY c.event_type
                             ORDER BY abs(c.x * m.n - m.s) DESC, c.d DESC)
                             AS rk
                    FROM c$i c JOIN m$i m
                      ON m.event_type = c.event_type),
            p$i AS (SELECT CAST($i AS BIGINT) AS round, event_type, d, x,
                           dev, n,
                           CAST(dev AS DOUBLE) / (CAST(n AS DOUBLE)
                             * sqrt(CAST(CAST(CAST(n AS HUGEINT) * ss
                                      - CAST(s AS HUGEINT) * s AS BIGINT) AS DOUBLE)
                                    / CAST(n * (n - 1) AS DOUBLE))) AS z
                    FROM d$i WHERE rk = 1),
            c${i + 1} AS (SELECT event_type, d, x FROM d$i WHERE rk <> 1)"""
      s"""WITH c1 AS (SELECT event_type, CAST(ts AS DATE) AS d,
                             CAST(sum(CAST(round(value * 100, 0)
                               AS BIGINT)) AS BIGINT) AS x
                      FROM events GROUP BY 1, 2),
              ${round(1)},
              ${round(2)},
              ${round(3)}
          SELECT round, event_type, d, x, dev, n, z FROM p1
          UNION ALL
          SELECT round, event_type, d, x, dev, n, z FROM p2
          UNION ALL
          SELECT round, event_type, d, x, dev, n, z FROM p3
          ORDER BY event_type, round"""
      }),

    // Forecast-baseline evaluation: naive (lag-1) vs seasonal-naive
    // (lag-7) one-step-ahead error on each type's daily totals — the
    // benchmark every forecasting pipeline must beat before it ships.
    // MAE stays exact cents until ONE division; sMAPE lands on the ppm
    // lattice via explicit floor-div (positives only). Eval rows need
    // both lags (t ≥ 8), windows are type-keyed over day cells.
    Query("ts_forecast_baseline_eval", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
      val byT = w.partitionBy("event_type").orderBy("d")
      Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("d"))
        .agg(sum(Exact.cents(col("value"))).as("x"))
        .withColumn("p1", lag("x", 1).over(byT))
        .withColumn("p7", lag("x", 7).over(byT))
        .filter(col("p7").isNotNull)
        .withColumn("smape1",
          expr("(abs(x - p1) * 1000000) div (x + p1)"))
        .withColumn("smape7",
          expr("(abs(x - p7) * 1000000) div (x + p7)"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_eval"),
             sum(abs(col("x") - col("p1"))).as("ae1"),
             sum(abs(col("x") - col("p7"))).as("ae7"),
             sum("smape1").as("sm1"), sum("smape7").as("sm7"))
        .select(col("event_type"), col("n_eval"),
          (col("ae1").cast("double") / col("n_eval").cast("double")
            / lit(100.0)).as("mae_naive"),
          (col("ae7").cast("double") / col("n_eval").cast("double")
            / lit(100.0)).as("mae_snaive"),
          expr("sm1 div n_eval").as("smape_naive_ppm"),
          expr("sm7 div n_eval").as("smape_snaive_ppm"))
        .orderBy("event_type")
    },
      Some("""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d,
                               CAST(sum(CAST(round(value * 100, 0)
                                 AS BIGINT)) AS BIGINT) AS x
                        FROM events GROUP BY 1, 2),
              lg AS (SELECT event_type, d, x,
                            lag(x, 1) OVER w AS p1,
                            lag(x, 7) OVER w AS p7
                     FROM daily WINDOW w AS (PARTITION BY event_type
                                             ORDER BY d)),
              e AS (SELECT event_type, x, p1, p7,
                           (abs(x - p1) * 1000000) // (x + p1) AS smape1,
                           (abs(x - p7) * 1000000) // (x + p7) AS smape7
                    FROM lg WHERE p7 IS NOT NULL),
              g AS (SELECT event_type, count(*) AS n_eval,
                           CAST(sum(abs(x - p1)) AS BIGINT) AS ae1,
                           CAST(sum(abs(x - p7)) AS BIGINT) AS ae7,
                           CAST(sum(smape1) AS BIGINT) AS sm1,
                           CAST(sum(smape7) AS BIGINT) AS sm7
                    FROM e GROUP BY 1)
         SELECT event_type, n_eval,
                CAST(ae1 AS DOUBLE) / CAST(n_eval AS DOUBLE) / 100.0
                  AS mae_naive,
                CAST(ae7 AS DOUBLE) / CAST(n_eval AS DOUBLE) / 100.0
                  AS mae_snaive,
                sm1 // n_eval AS smape_naive_ppm,
                sm7 // n_eval AS smape_snaive_ppm
         FROM g ORDER BY event_type""")),

    // Lagged cross-correlation between the click and purchase daily
    // series (lags 0..3) — the lead-lag discovery a metric pipeline runs
    // before claiming one stream predicts another. Day cells first; the
    // aligned (a_t, b_{t+ℓ}) pairs come from 3 leads + one stack over the
    // single 30-row joint series (deliberately one partition, keyed by
    // the non-foldable Exact.onePartition); per-lag Pearson uses exact
    // DECIMAL(38,0) moments and a fixed two-sqrt IEEE chain.
    Query("ts_xcorr_lags", (s, dir) => {
      def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
      val w = org.apache.spark.sql.expressions.Window
      val daily = Tables.events(s, dir)
        .filter(col("event_type").isin("click", "purchase"))
        .groupBy(to_date(col("ts")).as("d"), col("event_type"))
        .agg(sum(Exact.cents(col("value"))).as("x"))
      val ab = daily.groupBy("d")
        .agg(sum(when(col("event_type") === "click", col("x"))).as("a"),
             sum(when(col("event_type") === "purchase", col("x"))).as("b"))
        .filter(col("a").isNotNull && col("b").isNotNull)
      val wOne = w.partitionBy(Exact.onePartition(col("d"))).orderBy("d")
      val lagged = ab
        .withColumn("b1", lead("b", 1).over(wOne))
        .withColumn("b2", lead("b", 2).over(wOne))
        .withColumn("b3", lead("b", 3).over(wOne))
        .select(col("a"), expr(
          "stack(4, 0L, b, 1L, b1, 2L, b2, 3L, b3) as (lag, bb)"))
        .filter(col("bb").isNotNull)
      lagged.groupBy("lag")
        .agg(count(lit(1)).as("n_pairs"),
             sum(dec(col("a"))).as("sa"), sum(dec(col("bb"))).as("sb"),
             sum(dec(col("a")) * dec(col("bb"))).as("sab"),
             sum(dec(col("a")) * dec(col("a"))).as("saa"),
             sum(dec(col("bb")) * dec(col("bb"))).as("sbb"))
        .select(col("lag"), col("n_pairs"),
          ((dec(col("n_pairs")) * col("sab") - col("sa") * col("sb"))
             .cast("double")
           / (sqrt((dec(col("n_pairs")) * col("saa")
                    - col("sa") * col("sa")).cast("double"))
              * sqrt((dec(col("n_pairs")) * col("sbb")
                      - col("sb") * col("sb")).cast("double"))))
            .as("xcorr"))
        .orderBy("lag")
    },
      Some("""WITH daily AS (SELECT CAST(ts AS DATE) AS d, event_type,
                               CAST(sum(CAST(round(value * 100, 0)
                                 AS BIGINT)) AS BIGINT) AS x
                        FROM events
                        WHERE event_type IN ('click', 'purchase')
                        GROUP BY 1, 2),
              ab AS (SELECT d,
                            CAST(sum(CASE WHEN event_type = 'click'
                              THEN x END) AS BIGINT) AS a,
                            CAST(sum(CASE WHEN event_type = 'purchase'
                              THEN x END) AS BIGINT) AS b
                     FROM daily GROUP BY 1),
              f AS (SELECT * FROM ab
                    WHERE a IS NOT NULL AND b IS NOT NULL),
              lg AS (SELECT a, b, lead(b, 1) OVER w AS b1,
                            lead(b, 2) OVER w AS b2,
                            lead(b, 3) OVER w AS b3
                     FROM f WINDOW w AS (ORDER BY d)),
              st AS (SELECT CAST(0 AS BIGINT) AS lag, a, b AS bb FROM lg
                     UNION ALL SELECT 1, a, b1 FROM lg
                     UNION ALL SELECT 2, a, b2 FROM lg
                     UNION ALL SELECT 3, a, b3 FROM lg),
              sf AS (SELECT * FROM st WHERE bb IS NOT NULL),
              g AS (SELECT lag, count(*) AS n_pairs,
                           CAST(sum(a) AS HUGEINT) AS sa,
                           CAST(sum(bb) AS HUGEINT) AS sb,
                           CAST(sum(CAST(a AS HUGEINT) * bb) AS HUGEINT)
                             AS sab,
                           CAST(sum(CAST(a AS HUGEINT) * a) AS HUGEINT)
                             AS saa,
                           CAST(sum(CAST(bb AS HUGEINT) * bb) AS HUGEINT)
                             AS sbb
                    FROM sf GROUP BY 1)
         SELECT lag, n_pairs,
                CAST(CAST(CAST(n_pairs AS HUGEINT) * sab - sa * sb AS BIGINT) AS DOUBLE)
                  / (sqrt(CAST(CAST(CAST(n_pairs AS HUGEINT) * saa
                               - sa * sa AS BIGINT) AS DOUBLE))
                     * sqrt(CAST(CAST(CAST(n_pairs AS HUGEINT) * sbb
                                 - sb * sb AS BIGINT) AS DOUBLE))) AS xcorr
         FROM g ORDER BY lag""")),

    // Mann–Kendall trend test per type's daily series — the standard
    // nonparametric "is this metric trending" gate (no distribution or
    // linearity assumption, unlike ts_linreg_trend). S = Σ sign(x_j−x_i)
    // over ordered day pairs and the tie-corrected variance (×18 to stay
    // integral) are exact BIGINTs; the pair self-join is over DAY CELLS
    // (n² in days per key, not events — bounded by horizon), and z spends
    // one fixed IEEE chain. Kendall's tau rides along from the same S.
    Query("ts_mann_kendall", (s, dir) => {
      def d(c: org.apache.spark.sql.Column) = c.cast("double")
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("dt"))
        .agg(sum(Exact.cents(col("value"))).as("x"))
        .tracked // pairs (both sides) + tie census read it
      val a = daily.select(col("event_type"), col("dt").as("d_i"),
        col("x").as("x_i"))
      val b = daily.select(col("event_type"), col("dt").as("d_j"),
        col("x").as("x_j"))
      val sPerType = a.join(b, Seq("event_type"))
        .filter(col("d_i") < col("d_j"))
        .groupBy("event_type")
        .agg(sum(when(col("x_j") > col("x_i"), 1L)
          .when(col("x_j") < col("x_i"), -1L).otherwise(0L)).as("s_stat"))
      val ties = daily.groupBy("event_type", "x")
        .agg(count(lit(1)).as("t"))
        .groupBy("event_type")
        .agg(sum(lit(1L)).as("n_distinct"), sum("t").as("n_days"),
             sum(col("t") * (col("t") - 1) * (col("t") * 2 + 5))
               .as("tie18"))
      sPerType.join(ties, "event_type")
        .withColumn("var18",
          col("n_days") * (col("n_days") - 1) * (col("n_days") * 2 + 5)
            - col("tie18"))
        .withColumn("s_adj",
          when(col("s_stat") > 0, col("s_stat") - 1)
            .when(col("s_stat") < 0, col("s_stat") + 1).otherwise(0L))
        .select(col("event_type"), col("n_days"), col("s_stat"),
          col("var18"),
          (d(col("s_adj")) / sqrt(d(col("var18")) / lit(18.0))).as("z"),
          (d(col("s_stat")) * 2.0
            / d(col("n_days") * (col("n_days") - 1))).as("tau"))
        .orderBy("event_type")
    },
      Some("""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS dt,
                               CAST(sum(CAST(round(value * 100, 0)
                                 AS BIGINT)) AS BIGINT) AS x
                        FROM events GROUP BY 1, 2),
              sp AS (SELECT a.event_type,
                            CAST(sum(CASE WHEN b.x > a.x THEN 1
                                          WHEN b.x < a.x THEN -1
                                          ELSE 0 END) AS BIGINT) AS s_stat
                     FROM daily a JOIN daily b
                       ON b.event_type = a.event_type AND a.dt < b.dt
                     GROUP BY 1),
              tc AS (SELECT event_type, x, count(*) AS t
                     FROM daily GROUP BY 1, 2),
              ti AS (SELECT event_type,
                            CAST(count(*) AS BIGINT) AS n_distinct,
                            CAST(sum(t) AS BIGINT) AS n_days,
                            CAST(sum(t * (t - 1) * (t * 2 + 5)) AS BIGINT)
                              AS tie18
                     FROM tc GROUP BY 1),
              j AS (SELECT s.event_type, t.n_days, s.s_stat,
                           t.n_days * (t.n_days - 1) * (t.n_days * 2 + 5)
                             - t.tie18 AS var18,
                           CASE WHEN s.s_stat > 0 THEN s.s_stat - 1
                                WHEN s.s_stat < 0 THEN s.s_stat + 1
                                ELSE 0 END AS s_adj
                    FROM sp s JOIN ti t ON t.event_type = s.event_type)
         SELECT event_type, n_days, s_stat, var18,
                CAST(s_adj AS DOUBLE)
                  / sqrt(CAST(var18 AS DOUBLE) / 18.0) AS z,
                CAST(s_stat AS DOUBLE) * 2.0
                  / CAST(n_days * (n_days - 1) AS DOUBLE) AS tau
         FROM j ORDER BY event_type""")),

    // Stochastic oscillator %K/%D over each type's daily closes — the
    // bounded-momentum indicator next to ts_rsi/ts_macd. %K lives on the
    // ppm lattice ((close−min14)·10⁶ DIV (max14−min14), numerator
    // non-negative so Spark div ≡ DuckDB //); %D is the 3-day floor
    // average of %K, NULL until its window is full (the NULL-gated SMA
    // convention). Windows are keyed by event_type — day cells per key,
    // never event rows, so the frame is horizon-bounded at any corpus
    // size.
    Query("ts_stochastic_oscillator", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy("dt")
      val w14 = w.rowsBetween(-13, 0)
      val w3 = w.rowsBetween(-2, 0)
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("dt"))
        .agg(max_by(Exact.cents(col("value")), col("ts")).as("close_c"))
      val k = daily
        .withColumn("rn", row_number().over(w))
        .withColumn("mn", min("close_c").over(w14))
        .withColumn("mx", max("close_c").over(w14))
        .withColumn("k_ppm",
          when(col("rn") >= 14 && col("mx") > col("mn"),
            expr("((close_c - mn) * 1000000) div (mx - mn)")))
      k.withColumn("k3n", count(col("k_ppm")).over(w3))
        .withColumn("k3s", sum(col("k_ppm")).over(w3))
        .withColumn("d_ppm", when(col("k3n") === 3, expr("k3s div 3")))
        .select("event_type", "dt", "close_c", "k_ppm", "d_ppm")
        .orderBy("event_type", "dt")
    },
      Some("""WITH d AS (SELECT event_type, CAST(ts AS DATE) AS dt,
                  CAST(round(arg_max(value, ts) * 100, 0) AS BIGINT)
                    AS close_c
           FROM events GROUP BY 1, 2),
     w AS (SELECT event_type, dt, close_c,
                  row_number() OVER
                    (PARTITION BY event_type ORDER BY dt) AS rn,
                  min(close_c) OVER (PARTITION BY event_type ORDER BY dt
                    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS mn,
                  max(close_c) OVER (PARTITION BY event_type ORDER BY dt
                    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS mx
           FROM d),
     k AS (SELECT event_type, dt, close_c,
                  CASE WHEN rn >= 14 AND mx > mn
                       THEN ((close_c - mn) * 1000000) // (mx - mn)
                  END AS k_ppm
           FROM w)
         SELECT event_type, dt, close_c, k_ppm,
                CASE WHEN count(k_ppm) OVER (PARTITION BY event_type
                       ORDER BY dt
                       ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) = 3
                     THEN CAST(sum(k_ppm) OVER (PARTITION BY event_type
                       ORDER BY dt
                       ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) // 3
                       AS BIGINT)
                END AS d_ppm
         FROM k ORDER BY event_type, dt""")),

    // Kaufman adaptive moving average: EMA whose smoothing follows the
    // efficiency ratio er = |10-day move| / Σ|daily moves| — fast in
    // trends, glacial in chop. ENTIRELY on the integer lattice: er/sc in
    // ppm, (price, sc²) packed into ONE BIGINT (p·2²⁰ + sc2, both fields
    // bounded and non-negative) so the per-series recursion folds a
    // single-value accumulator — immune to the DuckDB in-place-struct-
    // accumulator hazard because there is no struct. SHIPPED as the
    // linear one-pass fold (PrefixFold — O(n) per series; the prefix-list
    // window form is PrefixFoldSpec's semantic cross-check only).
    Query("ts_kama", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy("dt")
      val w10 = w.rowsBetween(-9, 0)
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("dt"))
        .agg(max_by(Exact.cents(col("value")), col("ts")).as("p"))
      // per-row smoothing constant is price-only, so it precomputes:
      // scr = er·(fast−slow)+slow with fast = 2/3, slow = 2/31 in ppm
      val sc = daily
        .withColumn("rn", row_number().over(w))
        .withColumn("v", abs(col("p") - lag("p", 1).over(w)))
        .withColumn("mom", abs(col("p") - lag("p", 10).over(w)))
        .withColumn("vol10", sum("v").over(w10))
        .filter(col("rn") >= 11)
        .withColumn("er_ppm", when(col("vol10") > 0,
          expr("(mom * 1000000) div vol10")).otherwise(0L))
        .withColumn("scr", expr("(er_ppm * 602150) div 1000000 + 64516"))
        .withColumn("sc2", expr("(scr * scr) div 1000000"))
        .withColumn("packed", col("p") * 1048576L + col("sc2"))
      // kama ← a + (sc2 · (p − a)) div 1e6, seeded with the first price;
      // integer div/% truncate toward zero identically in the JVM and
      // both SQL engines, and multiplyExact keeps overflow loud (ANSI)
      val pIdx = sc.schema.fieldIndex("packed")
      graft.ts.PrefixFold.keyedFold[Long](sc, Seq("event_type"), Seq("dt"),
          Seq(org.apache.spark.sql.types.StructField("kama_c",
            org.apache.spark.sql.types.LongType)))(
        init = r => r.getLong(pIdx) / 1048576L,
        step = (a, r) => {
          val x = r.getLong(pIdx)
          a + Math.multiplyExact(x % 1048576L, x / 1048576L - a) / 1000000L
        },
        emit = (st, _) => Seq(st))
        .select(col("event_type"), col("dt"), col("p").as("close_c"),
          col("sc2").as("sc_ppm"), col("kama_c"))
        .orderBy("event_type", "dt")
    },
      Some("""WITH d AS (SELECT event_type, CAST(ts AS DATE) AS dt,
                  CAST(round(arg_max(value, ts) * 100, 0) AS BIGINT) AS p
           FROM events GROUP BY 1, 2),
     w AS (SELECT event_type, dt, p,
                  row_number() OVER k AS rn,
                  abs(p - lag(p, 1) OVER k) AS v,
                  abs(p - lag(p, 10) OVER k) AS mom
           FROM d WINDOW k AS (PARTITION BY event_type ORDER BY dt)),
     w2 AS (SELECT event_type, dt, p, rn, mom,
                   CAST(sum(v) OVER (PARTITION BY event_type ORDER BY dt
                     ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
                     AS BIGINT) AS vol10
            FROM w),
     s AS (SELECT event_type, dt, p,
                  CASE WHEN vol10 > 0 THEN (mom * 1000000) // vol10
                       ELSE 0 END AS er_ppm
           FROM w2 WHERE rn >= 11),
     s2 AS (SELECT event_type, dt, p,
                   ((er_ppm * 602150) // 1000000 + 64516) AS scr
            FROM s),
     s3 AS (SELECT event_type, dt, p,
                   (scr * scr) // 1000000 AS sc2 FROM s2),
     pk AS (SELECT event_type, dt, p, sc2,
                   p * 1048576 + sc2 AS packed FROM s3),
     l AS (SELECT event_type, dt, p, sc2,
                  list(packed) OVER (PARTITION BY event_type ORDER BY dt
                    ROWS UNBOUNDED PRECEDING) AS pl
           FROM pk)
         SELECT event_type, dt, p AS close_c, sc2 AS sc_ppm,
                list_reduce(list_prepend(pl[1] // 1048576, pl[2:]),
                  (a, x) -> a + ((x % 1048576) * ((x // 1048576) - a))
                              // 1000000) AS kama_c
         FROM l ORDER BY event_type, dt""")),

    // Amihud illiquidity: mean |daily return| per unit of daily traded
    // value — THE price-impact proxy from public market microstructure.
    // ret and illiq live on the ppm lattice (signed div truncates toward
    // zero identically in both engines), the per-type mean is a floor
    // division, and the worst day is an argmax over a packed
    // (illiq, epoch-day) BIGINT so ties break deterministically without
    // composite arg_max.
    Query("ts_amihud_illiquidity", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy("dt")
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("dt"))
        .agg(max_by(Exact.cents(col("value")), col("ts")).as("close_c"),
             sum(Exact.cents(col("value"))).as("dv"))
      daily
        .withColumn("prev", lag("close_c", 1).over(w))
        .filter(col("prev").isNotNull && col("prev") > 0 && col("dv") > 0)
        .withColumn("ret_ppm",
          expr("((close_c - prev) * 1000000) div prev"))
        .withColumn("illiq", expr("(abs(ret_ppm) * 1000000) div dv"))
        .withColumn("pk", col("illiq") * 100000L
          + datediff(col("dt"), lit("1970-01-01")))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_days"), sum("illiq").as("sum_illiq"),
             max("illiq").as("max_illiq"),
             max_by(col("dt"), col("pk")).as("worst_day"))
        .withColumn("mean_illiq", expr("sum_illiq div n_days"))
        .select("event_type", "n_days", "sum_illiq", "mean_illiq",
                "max_illiq", "worst_day")
        .orderBy("event_type")
    },
      Some("""WITH d AS (SELECT event_type, CAST(ts AS DATE) AS dt,
                  CAST(round(arg_max(value, ts) * 100, 0) AS BIGINT)
                    AS close_c,
                  CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
                    AS BIGINT) AS dv
           FROM events GROUP BY 1, 2),
     r AS (SELECT event_type, dt, close_c, dv,
                  lag(close_c, 1) OVER (PARTITION BY event_type
                    ORDER BY dt) AS prev
           FROM d),
     i AS (SELECT event_type, dt,
                  (abs(((close_c - prev) * 1000000) // prev) * 1000000)
                    // dv AS illiq
           FROM r WHERE prev IS NOT NULL AND prev > 0 AND dv > 0),
     pkd AS (SELECT event_type, dt, illiq,
                    illiq * 100000 + (dt - DATE '1970-01-01') AS pk
             FROM i)
         SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
                CAST(sum(illiq) AS BIGINT) AS sum_illiq,
                CAST(sum(illiq) AS BIGINT) // count(*) AS mean_illiq,
                max(illiq) AS max_illiq,
                arg_max(dt, pk) AS worst_day
         FROM pkd GROUP BY 1 ORDER BY event_type""")),

    // CUSUM control chart (both one-sided statistics) against a
    // first-10-day baseline: S⁺ = max(0, S⁺ + d − k), S⁻ symmetric,
    // entirely on the cents lattice with the BRANCH-FREE max
    // (v + |v|) DIV 2 — no CASE inside the fold lambda, the documented
    // DuckDB vectorized-CASE hazard. Both one-sided statistics ride ONE
    // linear PrefixFold pass (seed 0, so the first row is just a step
    // from zero); the prefix-list window form is PrefixFoldSpec's
    // semantic cross-check only. Allowance k = 2%, alarm h = 10% of
    // baseline.
    Query("ts_cusum", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy("dt")
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("dt"))
        .agg(max_by(Exact.cents(col("value")), col("ts")).as("p"))
        .withColumn("rn", row_number().over(w))
        .tracked // baseline aggregate + fold rows both read it
      val base = daily.filter(col("rn") <= 10)
        .groupBy("event_type")
        .agg(expr("sum(p) div 10").as("b10"))
      val inc = daily.filter(col("rn") >= 11)
        .join(base, "event_type")
        .withColumn("k", expr("b10 div 50"))
        .withColumn("h", expr("b10 div 10"))
        .withColumn("dp", col("p") - col("b10") - col("k"))
        .withColumn("dm", col("b10") - col("p") - col("k"))
      val dpIdx = inc.schema.fieldIndex("dp")
      val dmIdx = inc.schema.fieldIndex("dm")
      // ((a+x) + |a+x|) div 2 — the oracle lambda verbatim; the sum is
      // non-negative so JVM / and SQL div agree
      val stepF = (st: (Long, Long), r: org.apache.spark.sql.Row) => {
        val sp = Math.addExact(st._1, r.getLong(dpIdx))
        val sm = Math.addExact(st._2, r.getLong(dmIdx))
        ((sp + Math.abs(sp)) / 2, (sm + Math.abs(sm)) / 2)
      }
      graft.ts.PrefixFold.keyedFold[(Long, Long)](inc,
          Seq("event_type"), Seq("dt"),
          Seq(org.apache.spark.sql.types.StructField("s_plus",
                org.apache.spark.sql.types.LongType),
              org.apache.spark.sql.types.StructField("s_minus",
                org.apache.spark.sql.types.LongType)))(
        init = r => stepF((0L, 0L), r),
        step = stepF,
        emit = (st, _) => Seq(st._1, st._2))
        .select(col("event_type"), col("dt"), col("p").as("close_c"),
          col("s_plus"), col("s_minus"),
          (col("s_plus") > col("h") || col("s_minus") > col("h"))
            .as("alarm"))
        .orderBy("event_type", "dt")
    },
      Some("""WITH d AS (SELECT event_type, CAST(ts AS DATE) AS dt,
                  CAST(round(arg_max(value, ts) * 100, 0) AS BIGINT) AS p
           FROM events GROUP BY 1, 2),
     r AS (SELECT event_type, dt, p,
                  row_number() OVER (PARTITION BY event_type
                    ORDER BY dt) AS rn
           FROM d),
     base AS (SELECT event_type,
                     CAST(sum(p) AS BIGINT) // 10 AS b10
              FROM r WHERE rn <= 10 GROUP BY 1),
     inc AS (SELECT r.event_type, r.dt, r.p, b.b10,
                    b.b10 // 50 AS k, b.b10 // 10 AS h,
                    r.p - b.b10 - b.b10 // 50 AS dp,
                    b.b10 - r.p - b.b10 // 50 AS dm
             FROM r JOIN base b ON b.event_type = r.event_type
             WHERE r.rn >= 11),
     l AS (SELECT event_type, dt, p, h,
                  list(dp) OVER (PARTITION BY event_type ORDER BY dt
                    ROWS UNBOUNDED PRECEDING) AS lp,
                  list(dm) OVER (PARTITION BY event_type ORDER BY dt
                    ROWS UNBOUNDED PRECEDING) AS lm
           FROM inc),
     f AS (SELECT event_type, dt, p, h,
                  list_reduce(list_prepend(CAST(0 AS BIGINT), lp),
                    (a, x) -> ((a + x) + abs(a + x)) // 2) AS s_plus,
                  list_reduce(list_prepend(CAST(0 AS BIGINT), lm),
                    (a, x) -> ((a + x) + abs(a + x)) // 2) AS s_minus
           FROM l)
         SELECT event_type, dt, p AS close_c, s_plus, s_minus,
                s_plus > h OR s_minus > h AS alarm
         FROM f ORDER BY event_type, dt""")),

    // Garman–Klass range volatility on the FixedLog2 lattice: the OHLC
    // estimator 0.5·(ln H/L)² − (2ln2−1)·(ln C/O)² with both log-ratios
    // as exact 2²⁰-scaled BIGINTs (hl = log2fp(H)−log2fp(L)) and the two
    // irrational constants as ppm integers — every per-day term is an
    // exact DECIMAL(38,0), the per-type sum is order-free, and ONE
    // final sqrt/division chain converts to daily bits-volatility.
    // Positive-price filter keeps log2_fp's loud domain guard happy.
    Query("ts_garman_klass_vol", (s, dir) => {
      val L = graft.functions.FixedLog2.log2_fp _
      def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
      def d(c: org.apache.spark.sql.Column) = c.cast("double")
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("dt"))
        .agg(max(Exact.cents(col("value"))).as("hc"),
             min(Exact.cents(col("value"))).as("lc"),
             min_by(Exact.cents(col("value")), col("ts")).as("oc"),
             max_by(Exact.cents(col("value")), col("ts")).as("cc"))
        .filter(col("lc") > 0)
      val terms = daily
        .withColumn("hl", L(col("hc")) - L(col("lc")))
        .withColumn("co", L(col("cc")) - L(col("oc")))
        .withColumn("gk", dec(col("hl")) * dec(col("hl")) * lit(500000L)
          - dec(col("co")) * dec(col("co")) * lit(386294L))
      terms.groupBy("event_type")
        .agg(count(lit(1)).as("n_days"), sum(col("gk")).as("gs"))
        .select(col("event_type"), col("n_days"),
          (d(col("gs")) / (d(col("n_days")) * lit(1.099511627776e12)
            * lit(1.0e6))).as("gk_mean_bits2"),
          when(col("gs") > 0,
            sqrt(d(col("gs")) / (d(col("n_days")) * lit(1.099511627776e12)
              * lit(1.0e6)))).as("vol_bits_daily"))
        .orderBy("event_type")
    },
      Some {
      val lh = graft.functions.FixedLog2.sql("hc")
      val ll = graft.functions.FixedLog2.sql("lc")
      val lcc = graft.functions.FixedLog2.sql("cc")
      val lo = graft.functions.FixedLog2.sql("oc")
      s"""WITH c AS (SELECT event_type, CAST(ts AS DATE) AS dt, ts,
                  CAST(round(value * 100, 0) AS BIGINT) AS cent
           FROM events),
     d AS (SELECT event_type, dt,
                  max(cent) AS hc, min(cent) AS lc,
                  arg_min(cent, ts) AS oc, arg_max(cent, ts) AS cc
           FROM c GROUP BY 1, 2),
     t AS (SELECT event_type, $lh - $ll AS hl, $lcc - $lo AS co
           FROM d WHERE lc > 0),
     g AS (SELECT event_type,
                  CAST(count(*) AS BIGINT) AS n_days,
                  CAST(sum(CAST(hl AS HUGEINT) * hl * 500000
                         - CAST(co AS HUGEINT) * co * 386294)
                    AS HUGEINT) AS gs
           FROM t GROUP BY 1)
         SELECT event_type, n_days,
                CAST(gs AS DOUBLE) / (CAST(n_days AS DOUBLE)
                  * 1099511627776.0 * 1000000.0) AS gk_mean_bits2,
                CASE WHEN gs > 0
                     THEN sqrt(CAST(gs AS DOUBLE) / (CAST(n_days AS DOUBLE)
                       * 1099511627776.0 * 1000000.0))
                END AS vol_bits_daily
         FROM g ORDER BY event_type"""
      }),

    // Granger-style lead screen: does yesterday's click revenue improve
    // the purchase forecast beyond purchase's own lag? Exact centered
    // moments (day cells, DECIMAL(38,0) cross terms), then ONE fixed
    // IEEE chain solves the 2×2 normal equations and forms the nested-SSE
    // F — the causality triage a metrics warehouse runs before any real
    // model. One aggregate row; nothing here scales with event volume.
    Query("ts_granger_screen", (s, dir) => {
      def d(c: org.apache.spark.sql.Column) = c.cast("double")
      def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
      val daily = Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("dt"))
        .agg(sum(when(col("event_type") === "purchase",
               Exact.cents(col("value"))).otherwise(0L)).as("pc"),
             sum(when(col("event_type") === "click",
               Exact.cents(col("value"))).otherwise(0L)).as("cc"))
      // single-key series: the one-partition window is deliberate and
      // keyed non-foldably (day cells only — see Exact.onePartition)
      val wk = org.apache.spark.sql.expressions.Window
        .partitionBy(Exact.onePartition(col("dt"))).orderBy("dt")
      val lagged = daily
        .withColumn("x1", lag("pc", 1).over(wk))
        .withColumn("x2", lag("cc", 1).over(wk))
        .filter(col("x1").isNotNull)
        .select(col("pc").as("y"), col("x1"), col("x2"))
      val mom = lagged.agg(
        count(lit(1)).as("n"), sum("y").as("sy"), sum("x1").as("s1"),
        sum("x2").as("s2"),
        sum(dec(col("x1")) * dec(col("x1"))).as("s11"),
        sum(dec(col("x2")) * dec(col("x2"))).as("s22"),
        sum(dec(col("x1")) * dec(col("x2"))).as("s12"),
        sum(dec(col("x1")) * dec(col("y"))).as("s1y"),
        sum(dec(col("x2")) * dec(col("y"))).as("s2y"),
        sum(dec(col("y")) * dec(col("y"))).as("syy"))
      val c11 = (dec(col("n")) * col("s11") - dec(col("s1")) * dec(col("s1"))).cast("double")
      val c22 = (dec(col("n")) * col("s22") - dec(col("s2")) * dec(col("s2"))).cast("double")
      val c12 = (dec(col("n")) * col("s12") - dec(col("s1")) * dec(col("s2"))).cast("double")
      val c1y = (dec(col("n")) * col("s1y") - dec(col("s1")) * dec(col("sy"))).cast("double")
      val c2y = (dec(col("n")) * col("s2y") - dec(col("s2")) * dec(col("sy"))).cast("double")
      val cyy = (dec(col("n")) * col("syy") - dec(col("sy")) * dec(col("sy"))).cast("double")
      val det = c11 * c22 - c12 * c12
      val b1 = (c1y * c22 - c2y * c12) / det
      val b2 = (c2y * c11 - c1y * c12) / det
      val sseF = cyy - b1 * c1y - b2 * c2y
      val sseR = cyy - (c1y / c11) * c1y
      mom.select(col("n"), b1.as("beta_own_lag"), b2.as("beta_click_lag"),
        sseF.as("sse_full"), sseR.as("sse_restricted"),
        ((sseR - sseF) / (sseF / d(col("n") - 3L))).as("f_stat"))
    },
      Some("""WITH d AS (SELECT CAST(ts AS DATE) AS dt,
                  CAST(sum(CASE WHEN event_type = 'purchase'
                    THEN CAST(round(value * 100, 0) AS BIGINT)
                    ELSE 0 END) AS BIGINT) AS pc,
                  CAST(sum(CASE WHEN event_type = 'click'
                    THEN CAST(round(value * 100, 0) AS BIGINT)
                    ELSE 0 END) AS BIGINT) AS cc
           FROM events GROUP BY 1),
     l AS (SELECT pc AS y, lag(pc) OVER (ORDER BY dt) AS x1,
                  lag(cc) OVER (ORDER BY dt) AS x2
           FROM d),
     r AS (SELECT y, x1, x2 FROM l WHERE x1 IS NOT NULL),
     m AS (SELECT CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(y) AS BIGINT) AS sy,
                  CAST(sum(x1) AS BIGINT) AS s1,
                  CAST(sum(x2) AS BIGINT) AS s2,
                  CAST(sum(CAST(x1 AS HUGEINT) * x1) AS HUGEINT) AS s11,
                  CAST(sum(CAST(x2 AS HUGEINT) * x2) AS HUGEINT) AS s22,
                  CAST(sum(CAST(x1 AS HUGEINT) * x2) AS HUGEINT) AS s12,
                  CAST(sum(CAST(x1 AS HUGEINT) * y) AS HUGEINT) AS s1y,
                  CAST(sum(CAST(x2 AS HUGEINT) * y) AS HUGEINT) AS s2y,
                  CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
           FROM r),
     c AS (SELECT n,
                  CAST(CAST(n * s11 - CAST(s1 AS HUGEINT) * s1 AS BIGINT) AS DOUBLE) AS c11,
                  CAST(CAST(n * s22 - CAST(s2 AS HUGEINT) * s2 AS BIGINT) AS DOUBLE) AS c22,
                  CAST(CAST(n * s12 - CAST(s1 AS HUGEINT) * s2 AS BIGINT) AS DOUBLE) AS c12,
                  CAST(CAST(n * s1y - CAST(s1 AS HUGEINT) * sy AS BIGINT) AS DOUBLE) AS c1y,
                  CAST(CAST(n * s2y - CAST(s2 AS HUGEINT) * sy AS BIGINT) AS DOUBLE) AS c2y,
                  CAST(CAST(n * syy - CAST(sy AS HUGEINT) * sy AS BIGINT) AS DOUBLE) AS cyy
           FROM m),
     b AS (SELECT n, c1y, c2y, cyy, c11,
                  (c1y * c22 - c2y * c12) / (c11 * c22 - c12 * c12) AS b1,
                  (c2y * c11 - c1y * c12) / (c11 * c22 - c12 * c12) AS b2
           FROM c)
         SELECT n, b1 AS beta_own_lag, b2 AS beta_click_lag,
                cyy - b1 * c1y - b2 * c2y AS sse_full,
                cyy - (c1y / c11) * c1y AS sse_restricted,
                ((cyy - (c1y / c11) * c1y) - (cyy - b1 * c1y - b2 * c2y))
                  / ((cyy - b1 * c1y - b2 * c2y)
                     / CAST(n - 3 AS DOUBLE)) AS f_stat
         FROM b""")),

    // Rolling 10-day beta of purchase revenue on click revenue — the
    // windowed-regression form of ts_beta: exact DECIMAL window moments
    // over day cells (w·Sxy−SxSy over w·Sxx−Sx², ONE IEEE division per
    // day). Single joint series ⇒ the deliberate one-partition window,
    // keyed non-foldably (Exact.onePartition) per the house rule; the
    // frame is day cells, horizon-bounded at any volume.
    Query("ts_rolling_beta", (s, dir) => {
      def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
      val wk = org.apache.spark.sql.expressions.Window
        .partitionBy(Exact.onePartition(col("dt"))).orderBy("dt")
      val w10 = wk.rowsBetween(-9, 0)
      val daily = Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("dt"))
        .agg(sum(when(col("event_type") === "click",
               Exact.cents(col("value"))).otherwise(0L)).as("x"),
             sum(when(col("event_type") === "purchase",
               Exact.cents(col("value"))).otherwise(0L)).as("y"))
      daily
        .withColumn("rn", row_number().over(wk))
        .withColumn("sx", sum("x").over(w10))
        .withColumn("sy", sum("y").over(w10))
        .withColumn("sxx", sum(dec(col("x")) * dec(col("x"))).over(w10))
        .withColumn("sxy", sum(dec(col("x")) * dec(col("y"))).over(w10))
        .filter(col("rn") >= 10)
        .withColumn("var_num", (lit(10L) * col("sxx")
          - dec(col("sx")) * dec(col("sx"))).cast("double"))
        .select(col("dt"), col("x"), col("y"),
          when(col("var_num") > 0,
            (lit(10L) * col("sxy") - dec(col("sx")) * dec(col("sy")))
              .cast("double") / col("var_num")).as("beta_10d"))
        .orderBy("dt")
    },
      Some("""WITH d AS (SELECT CAST(ts AS DATE) AS dt,
                  CAST(sum(CASE WHEN event_type = 'click'
                    THEN CAST(round(value * 100, 0) AS BIGINT)
                    ELSE 0 END) AS BIGINT) AS x,
                  CAST(sum(CASE WHEN event_type = 'purchase'
                    THEN CAST(round(value * 100, 0) AS BIGINT)
                    ELSE 0 END) AS BIGINT) AS y
           FROM events GROUP BY 1),
     w AS (SELECT dt, x, y,
                  row_number() OVER (ORDER BY dt) AS rn,
                  CAST(sum(x) OVER tw AS BIGINT) AS sx,
                  CAST(sum(y) OVER tw AS BIGINT) AS sy,
                  CAST(sum(CAST(x AS HUGEINT) * x) OVER tw AS HUGEINT)
                    AS sxx,
                  CAST(sum(CAST(x AS HUGEINT) * y) OVER tw AS HUGEINT)
                    AS sxy
           FROM d WINDOW tw AS (ORDER BY dt
             ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)),
     v AS (SELECT dt, x, y,
                  CAST(CAST(10 * sxx - CAST(sx AS HUGEINT) * sx AS BIGINT) AS DOUBLE)
                    AS var_num,
                  CAST(CAST(10 * sxy - CAST(sx AS HUGEINT) * sy AS BIGINT) AS DOUBLE)
                    AS cov_num
           FROM w WHERE rn >= 10)
         SELECT dt, x, y,
                CASE WHEN var_num > 0 THEN cov_num / var_num END
                  AS beta_10d
         FROM v ORDER BY dt""")),

    // ADF-style unit-root screen per type: regress Δp on (p lag, time
    // index) — the same exact-moment 2×2 solve as ts_granger_screen —
    // and report the lag coefficient's t statistic (a strongly negative
    // t rejects the random-walk null). Every moment is an exact
    // DECIMAL(38,0); the t spends one fixed IEEE chain including the
    // (X'X)⁻¹ diagonal term σ̂²·n·c22/det. Day cells per key.
    Query("ts_adf_screen", (s, dir) => {
      def d(c: org.apache.spark.sql.Column) = c.cast("double")
      def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy("dt")
      val rows = Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("dt"))
        .agg(max_by(Exact.cents(col("value")), col("ts")).as("p"))
        .withColumn("x1", lag("p", 1).over(w))
        .withColumn("x2", row_number().over(w).cast("long"))
        .filter(col("x1").isNotNull)
        .withColumn("y", col("p") - col("x1"))
      val mom = rows.groupBy("event_type").agg(
        count(lit(1)).as("n"), sum("y").as("sy"), sum("x1").as("s1"),
        sum("x2").as("s2"),
        sum(dec(col("x1")) * dec(col("x1"))).as("s11"),
        sum(dec(col("x2")) * dec(col("x2"))).as("s22"),
        sum(dec(col("x1")) * dec(col("x2"))).as("s12"),
        sum(dec(col("x1")) * dec(col("y"))).as("s1y"),
        sum(dec(col("x2")) * dec(col("y"))).as("s2y"),
        sum(dec(col("y")) * dec(col("y"))).as("syy"))
      val c11 = (dec(col("n")) * col("s11") - dec(col("s1")) * dec(col("s1"))).cast("double")
      val c22 = (dec(col("n")) * col("s22") - dec(col("s2")) * dec(col("s2"))).cast("double")
      val c12 = (dec(col("n")) * col("s12") - dec(col("s1")) * dec(col("s2"))).cast("double")
      val c1y = (dec(col("n")) * col("s1y") - dec(col("s1")) * dec(col("sy"))).cast("double")
      val c2y = (dec(col("n")) * col("s2y") - dec(col("s2")) * dec(col("sy"))).cast("double")
      val cyy = (dec(col("n")) * col("syy") - dec(col("sy")) * dec(col("sy"))).cast("double")
      val det = c11 * c22 - c12 * c12
      val b1 = (c1y * c22 - c2y * c12) / det
      val b2 = (c2y * c11 - c1y * c12) / det
      val sse = cyy - b1 * c1y - b2 * c2y
      val tStat = b1 / sqrt((sse / (d(col("n")) * d(col("n") - 3L)))
        * d(col("n")) * c22 / det)
      mom.select(col("event_type"), col("n"), b1.as("gamma"),
          b2.as("trend"), tStat.as("t_stat"))
        .orderBy("event_type")
    },
      Some("""WITH d AS (SELECT event_type, CAST(ts AS DATE) AS dt,
                  CAST(round(arg_max(value, ts) * 100, 0) AS BIGINT) AS p
           FROM events GROUP BY 1, 2),
     r0 AS (SELECT event_type, dt, p,
                   lag(p) OVER k AS x1,
                   CAST(row_number() OVER k AS BIGINT) AS x2
            FROM d WINDOW k AS (PARTITION BY event_type ORDER BY dt)),
     r AS (SELECT event_type, p - x1 AS y, x1, x2
           FROM r0 WHERE x1 IS NOT NULL),
     m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(y) AS BIGINT) AS sy,
                  CAST(sum(x1) AS BIGINT) AS s1,
                  CAST(sum(x2) AS BIGINT) AS s2,
                  CAST(sum(CAST(x1 AS HUGEINT) * x1) AS HUGEINT) AS s11,
                  CAST(sum(CAST(x2 AS HUGEINT) * x2) AS HUGEINT) AS s22,
                  CAST(sum(CAST(x1 AS HUGEINT) * x2) AS HUGEINT) AS s12,
                  CAST(sum(CAST(x1 AS HUGEINT) * y) AS HUGEINT) AS s1y,
                  CAST(sum(CAST(x2 AS HUGEINT) * y) AS HUGEINT) AS s2y,
                  CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
           FROM r GROUP BY 1),
     c AS (SELECT event_type, n,
                  CAST(CAST(n * s11 - CAST(s1 AS HUGEINT) * s1 AS BIGINT) AS DOUBLE) AS c11,
                  CAST(CAST(n * s22 - CAST(s2 AS HUGEINT) * s2 AS BIGINT) AS DOUBLE) AS c22,
                  CAST(CAST(n * s12 - CAST(s1 AS HUGEINT) * s2 AS BIGINT) AS DOUBLE) AS c12,
                  CAST(CAST(n * s1y - CAST(s1 AS HUGEINT) * sy AS BIGINT) AS DOUBLE) AS c1y,
                  CAST(CAST(n * s2y - CAST(s2 AS HUGEINT) * sy AS BIGINT) AS DOUBLE) AS c2y,
                  CAST(CAST(n * syy - CAST(sy AS HUGEINT) * sy AS BIGINT) AS DOUBLE) AS cyy
           FROM m),
     b AS (SELECT event_type, n, c1y, c2y, cyy, c11, c22, c12,
                  c11 * c22 - c12 * c12 AS det,
                  (c1y * c22 - c2y * c12) / (c11 * c22 - c12 * c12) AS b1,
                  (c2y * c11 - c1y * c12) / (c11 * c22 - c12 * c12) AS b2
           FROM c)
         SELECT event_type, n, b1 AS gamma, b2 AS trend,
                b1 / sqrt(((cyy - b1 * c1y - b2 * c2y)
                  / (CAST(n AS DOUBLE) * CAST(n - 3 AS DOUBLE)))
                  * CAST(n AS DOUBLE) * c22 / det) AS t_stat
         FROM b ORDER BY event_type""")),

    // Wald–Wolfowitz runs test on each type's daily up/down sequence —
    // the randomness screen (too few runs = trending, too many =
    // mean-reverting). Runs/n1/n2 are exact integers from keyed lag
    // comparisons (ties dropped, the standard convention); z is one
    // fixed IEEE chain from those integers.
    Query("ts_runs_test", (s, dir) => {
      def d(c: org.apache.spark.sql.Column) = c.cast("double")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy("dt")
      val signs = Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("dt"))
        .agg(max_by(Exact.cents(col("value")), col("ts")).as("p"))
        .withColumn("prev", lag("p", 1).over(w))
        .filter(col("prev").isNotNull && col("p") =!= col("prev"))
        .withColumn("sgn", when(col("p") > col("prev"), 1L).otherwise(-1L))
      val runs = signs
        .withColumn("prev_sgn", lag("sgn", 1).over(w))
        .groupBy("event_type")
        .agg(sum(when(col("sgn") === 1L, 1L).otherwise(0L)).as("n1"),
             sum(when(col("sgn") === -1L, 1L).otherwise(0L)).as("n2"),
             (sum(when(col("prev_sgn").isNull
                 || col("sgn") =!= col("prev_sgn"), 1L).otherwise(0L)))
               .as("runs"))
      val n = d(col("n1") + col("n2"))
      val mu = lit(2.0) * d(col("n1")) * d(col("n2")) / n + lit(1.0)
      val vr = (lit(2.0) * d(col("n1")) * d(col("n2"))
        * (lit(2.0) * d(col("n1")) * d(col("n2")) - n)) /
        (n * n * (n - lit(1.0)))
      runs.select(col("event_type"), col("n1"), col("n2"), col("runs"),
          ((d(col("runs")) - mu) / sqrt(vr)).as("z"))
        .orderBy("event_type")
    },
      Some("""WITH d AS (SELECT event_type, CAST(ts AS DATE) AS dt,
                  CAST(round(arg_max(value, ts) * 100, 0) AS BIGINT) AS p
           FROM events GROUP BY 1, 2),
     s0 AS (SELECT event_type, dt, p,
                   lag(p) OVER (PARTITION BY event_type ORDER BY dt)
                     AS prev
            FROM d),
     s AS (SELECT event_type, dt,
                  CASE WHEN p > prev THEN 1 ELSE -1 END AS sgn
           FROM s0 WHERE prev IS NOT NULL AND p <> prev),
     s2 AS (SELECT event_type, sgn,
                   lag(sgn) OVER (PARTITION BY event_type ORDER BY dt)
                     AS prev_sgn
            FROM s),
     g AS (SELECT event_type,
                  CAST(sum(CASE WHEN sgn = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n1,
                  CAST(sum(CASE WHEN sgn = -1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n2,
                  CAST(sum(CASE WHEN prev_sgn IS NULL OR sgn <> prev_sgn
                    THEN 1 ELSE 0 END) AS BIGINT) AS runs
           FROM s2 GROUP BY 1)
         SELECT event_type, n1, n2, runs,
                (CAST(runs AS DOUBLE)
                 - (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                    / CAST(n1 + n2 AS DOUBLE) + 1.0))
                / sqrt((2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                        * (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                           - CAST(n1 + n2 AS DOUBLE)))
                       / (CAST(n1 + n2 AS DOUBLE)
                          * CAST(n1 + n2 AS DOUBLE)
                          * (CAST(n1 + n2 AS DOUBLE) - 1.0))) AS z
         FROM g ORDER BY event_type""")),

    // Markov holding times from the self-inclusive transition counts:
    // P(stay) = c_aa/c_a· and the geometric expected dwell
    // E[steps] = c_a·/(c_a·−c_aa), both exact to one ppm floor-div plus
    // one IEEE division — how long a user lingers in each behavioral
    // state, the summary a session model starts from.
    Query("ts_markov_holding", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts", "event_id")
      Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
                col("event_type").as("a"))
        .withColumn("b", lead("a", 1).over(w))
        .filter(col("b").isNotNull)
        .groupBy("a")
        .agg(count(lit(1)).as("c_total"),
             sum(when(col("b") === col("a"), 1L).otherwise(0L)).as("c_self"))
        .filter(col("c_total") > col("c_self"))
        .select(col("a").as("state"), col("c_total"), col("c_self"),
          expr("(1000000 * c_self) div c_total").as("p_self_ppm"),
          expr("(1000000 * c_total) div (c_total - c_self)")
            .as("hold_steps_ppm"),
          (col("c_total").cast("double")
            / (col("c_total") - col("c_self")).cast("double"))
            .as("hold_steps"))
        .orderBy("state")
    },
      Some("""WITH p AS (SELECT event_type AS a,
                  lead(event_type) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id) AS b
           FROM events),
     g AS (SELECT a, CAST(count(*) AS BIGINT) AS c_total,
                  CAST(sum(CASE WHEN b = a THEN 1 ELSE 0 END) AS BIGINT)
                    AS c_self
           FROM p WHERE b IS NOT NULL GROUP BY 1)
         SELECT a AS state, c_total, c_self,
                (1000000 * c_self) // c_total AS p_self_ppm,
                (1000000 * c_total) // (c_total - c_self)
                  AS hold_steps_ppm,
                CAST(c_total AS DOUBLE)
                  / CAST(c_total - c_self AS DOUBLE) AS hold_steps
         FROM g WHERE c_total > c_self ORDER BY state""")),

    // Seasonal Mann–Kendall: the trend gate that ignores day-of-week
    // cycles by comparing only same-weekday day pairs — S and the
    // tie-corrected ×18 variance computed per (type, dow) stratum and
    // SUMMED (the Hirsch–Slack form), everything exact BIGINTs until
    // one z chain. Pair volume is Σ_dow C(n_dow, 2) per key — 7× less
    // than plain MK and still horizon-bounded.
    Query("ts_seasonal_mann_kendall", (s, dir) => {
      def d(c: org.apache.spark.sql.Column) = c.cast("double")
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("dt"))
        .agg(sum(Exact.cents(col("value"))).as("x"))
        .withColumn("dow", dayofweek(col("dt")).cast("long"))
        .tracked // pair sides + tie census read it
      val a = daily.select(col("event_type"), col("dow"),
        col("dt").as("d_i"), col("x").as("x_i"))
      val b = daily.select(col("event_type"), col("dow"),
        col("dt").as("d_j"), col("x").as("x_j"))
      val sPerType = a.join(b, Seq("event_type", "dow"))
        .filter(col("d_i") < col("d_j"))
        .groupBy("event_type")
        .agg(sum(when(col("x_j") > col("x_i"), 1L)
          .when(col("x_j") < col("x_i"), -1L).otherwise(0L)).as("s_stat"))
      val strata = daily.groupBy("event_type", "dow", "x")
        .agg(count(lit(1)).as("t"))
        .groupBy("event_type", "dow")
        .agg(sum("t").as("n_d"),
             sum(col("t") * (col("t") - 1) * (col("t") * 2 + 5))
               .as("tie18"))
        .groupBy("event_type")
        .agg(sum("n_d").as("n_days"),
             sum(col("n_d") * (col("n_d") - 1) * (col("n_d") * 2 + 5)
               - col("tie18")).as("var18"))
      sPerType.join(strata, "event_type")
        .withColumn("s_adj",
          when(col("s_stat") > 0, col("s_stat") - 1)
            .when(col("s_stat") < 0, col("s_stat") + 1).otherwise(0L))
        .select(col("event_type"), col("n_days"), col("s_stat"),
          col("var18"),
          (d(col("s_adj")) / sqrt(d(col("var18")) / lit(18.0))).as("z"))
        .orderBy("event_type")
    },
      Some("""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS dt,
                  CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
                    AS BIGINT) AS x,
                  CAST(dayofweek(CAST(ts AS DATE)) + 1 AS BIGINT) AS dow
           FROM events GROUP BY 1, 2, 4),
     sp AS (SELECT a.event_type,
                   CAST(sum(CASE WHEN b.x > a.x THEN 1
                                 WHEN b.x < a.x THEN -1
                                 ELSE 0 END) AS BIGINT) AS s_stat
            FROM daily a JOIN daily b
              ON b.event_type = a.event_type AND b.dow = a.dow
                 AND a.dt < b.dt
            GROUP BY 1),
     tc AS (SELECT event_type, dow, x, count(*) AS t
            FROM daily GROUP BY 1, 2, 3),
     st AS (SELECT event_type, dow, CAST(sum(t) AS BIGINT) AS n_d,
                   CAST(sum(t * (t - 1) * (t * 2 + 5)) AS BIGINT)
                     AS tie18
            FROM tc GROUP BY 1, 2),
     v AS (SELECT event_type, CAST(sum(n_d) AS BIGINT) AS n_days,
                  CAST(sum(n_d * (n_d - 1) * (n_d * 2 + 5) - tie18)
                    AS BIGINT) AS var18
           FROM st GROUP BY 1),
     j AS (SELECT s.event_type, v.n_days, s.s_stat, v.var18,
                  CASE WHEN s.s_stat > 0 THEN s.s_stat - 1
                       WHEN s.s_stat < 0 THEN s.s_stat + 1
                       ELSE 0 END AS s_adj
           FROM sp s JOIN v ON v.event_type = s.event_type)
         SELECT event_type, n_days, s_stat, var18,
                CAST(s_adj AS DOUBLE)
                  / sqrt(CAST(var18 AS DOUBLE) / 18.0) AS z
         FROM j ORDER BY event_type""")),

    // Theil–Sen slope per series, CALENDAR-DAY variant: where the
    // original ts_theil_sen takes IEEE slopes over bar indices, this one
    // measures cents/day over actual date gaps with slopes quantized to
    // the EXACT ppm lattice via the spelled-out floor division (both
    // engines), the median a rank pick over the keyed pair frame. Pair
    // volume is C(n_days, 2) per key — horizon-bounded, never event rows.
    Query("ts_theil_sen_days", (s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val d = Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("dt"))
        .agg(max_by(Exact.cents(col("value")), col("ts")).as("c"))
        .withColumn("dn",
          datediff(col("dt"), lit("1970-01-01").cast("date")).cast("long"))
        .tracked // both sides of the pair join
      val a = d.select(col("event_type"), col("c").as("ca"),
        col("dn").as("da"))
      val b = d.select(col("event_type"), col("c").as("cb"),
        col("dn").as("db"))
      val p = a.join(b, Seq("event_type")).filter(col("da") < col("db"))
        .withColumn("num", (col("cb") - col("ca")) * lit(1000000L))
        .withColumn("den", col("db") - col("da"))
        // floor division spelled out in integers (Spark DIV and DuckDB //
        // both truncate toward zero; the pmod makes the numerator exactly
        // divisible, so truncate ≡ floor on both)
        .withColumn("slope_ppm",
          expr("(num - ((num % den) + den) % den) DIV den"))
      p.withColumn("rn",
          row_number().over(W.partitionBy("event_type").orderBy("slope_ppm")))
        .withColumn("np",
          count(lit(1)).over(W.partitionBy("event_type")))
        .groupBy("event_type")
        .agg(max("np").as("n_pairs"),
             // lower median: the first order statistic with 2·rn ≥ n+1 —
             // deterministic under ties (value-defined, not row-defined)
             min(when(col("rn") * 2 >= col("np") + 1, col("slope_ppm")))
               .as("slope_ppm_med"))
        .orderBy("event_type")
    },
      Some("""WITH d0 AS (SELECT event_type, CAST(ts AS DATE) AS dt,
                            CAST(round(arg_max(value, ts) * 100, 0)
                                 AS BIGINT) AS c
                     FROM events GROUP BY 1, 2),
              d AS (SELECT event_type, c,
                           CAST(datediff('day', DATE '1970-01-01', dt)
                                AS BIGINT) AS dn
                    FROM d0),
              p AS (SELECT a.event_type,
                           (b.c - a.c) * 1000000 AS num,
                           b.dn - a.dn AS den
                    FROM d a JOIN d b ON a.event_type = b.event_type
                                     AND a.dn < b.dn),
              sl AS (SELECT event_type,
                            CAST((num - ((num % den) + den) % den) // den
                                 AS BIGINT) AS slope_ppm
                     FROM p),
              r AS (SELECT event_type, slope_ppm,
                           row_number() OVER (PARTITION BY event_type
                             ORDER BY slope_ppm) AS rn,
                           count(*) OVER (PARTITION BY event_type) AS n
                    FROM sl)
         SELECT event_type, CAST(max(n) AS BIGINT) AS n_pairs,
                CAST(min(CASE WHEN rn * 2 >= n + 1 THEN slope_ppm END)
                     AS BIGINT) AS slope_ppm_med
         FROM r GROUP BY 1 ORDER BY 1""")),

    // Haar wavelet energy per series and level (1..3 = 2/4/8-day scales)
    // over the first 32 daily closes: detail coefficient per block is the
    // first-half-minus-second-half EXACT cent sum (the unnormalized Haar
    // transform — integers end to end), energy the DECIMAL sum of squares
    // leaving as a checked BIGINT. The multi-scale volatility
    // decomposition a regime dashboard plots; incomplete tail blocks are
    // dropped (count = 2^level), so the transform is well-defined at any
    // series length.
    Query("ts_haar_energy", (s, dir) => {
      def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
      val W = org.apache.spark.sql.expressions.Window
      val d = Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("dt"))
        .agg(max_by(Exact.cents(col("value")), col("ts")).as("c"))
        .withColumn("i", row_number()
          .over(W.partitionBy("event_type").orderBy("dt")).cast("long") - 1)
        .filter(col("i") < 32)
      val lv = d.select(col("event_type"), col("c"), col("i"),
          explode(array(lit(1L), lit(2L), lit(3L))).as("level"))
        .withColumn("blk", expr("i div shiftleft(1, int(level))"))
        .withColumn("sc",
          when(expr("(i div shiftleft(1, int(level) - 1)) % 2") === 0,
            col("c")).otherwise(-col("c")))
      lv.groupBy("level", "event_type", "blk")
        .agg(sum("sc").as("detail"), count(lit(1)).as("m"))
        .filter(col("m") === expr("cast(shiftleft(1, int(level)) as bigint)"))
        .groupBy("event_type", "level")
        .agg(count(lit(1)).as("n_blocks"),
             Exact.checkedLong(sum(dec(col("detail")) * dec(col("detail"))))
               .as("energy"))
        .orderBy("event_type", "level")
    },
      Some("""WITH d0 AS (SELECT event_type, CAST(ts AS DATE) AS dt,
                            CAST(round(arg_max(value, ts) * 100, 0)
                                 AS BIGINT) AS c
                     FROM events GROUP BY 1, 2),
              d AS (SELECT event_type, c,
                           row_number() OVER (PARTITION BY event_type
                             ORDER BY dt) - 1 AS i
                    FROM d0 QUALIFY i < 32),
              lv AS (SELECT l.level, d.event_type,
                            d.i // (1 << l.level) AS blk,
                            CASE WHEN (d.i // (1 << (l.level - 1))) % 2 = 0
                                 THEN d.c ELSE -d.c END AS sc
                     FROM d CROSS JOIN
                       (SELECT unnest([1, 2, 3]) AS level) l),
              det AS (SELECT level, event_type, blk,
                             CAST(sum(sc) AS BIGINT) AS detail
                      FROM lv GROUP BY 1, 2, 3
                      HAVING count(*) = (1 << level))
         SELECT event_type, CAST(level AS BIGINT) AS level,
                count(*) AS n_blocks,
                CAST(sum(CAST(detail AS HUGEINT) * detail) AS BIGINT)
                  AS energy
         FROM det GROUP BY 1, 2 ORDER BY event_type, level""")),

    // Single changepoint by binary segmentation on daily revenue: t*
    // maximizes the between-segment objective S_L²/n_L + S_R²/n_R,
    // quantized to the EXACT integer f_q = ⌊S_L²/n_L⌋ + ⌊S_R²/n_R⌋
    // (DECIMAL squares, one DIV each — quantization error ≤ 2 on a ~1e12
    // objective, deterministic on both engines); the argmax is a keyed
    // rank over (f_q desc, t). Prefix sums come from one keyed window
    // over day cells — horizon-bounded.
    Query("ts_changepoint_binseg", (s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val wcum = W.partitionBy("event_type").orderBy("dt")
        .rowsBetween(W.unboundedPreceding, 0)
      val wall = W.partitionBy("event_type")
      val d = Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("dt"))
        .agg(sum(Exact.cents(col("value"))).as("c"))
        .withColumn("i", row_number()
          .over(W.partitionBy("event_type").orderBy("dt")).cast("long"))
        .withColumn("n", count(lit(1)).over(wall))
        .withColumn("sl", sum("c").over(wcum))
        .withColumn("st", sum("c").over(wall))
      val f = d.filter(col("i") < col("n"))
        .withColumn("fq",
          expr("(cast(sl as decimal(38,0)) * sl) DIV i")
            + expr("(cast(st - sl as decimal(38,0)) * (st - sl)) DIV (n - i)"))
      f.withColumn("rk", row_number().over(
          W.partitionBy("event_type").orderBy(col("fq").desc, col("i"))))
        .filter(col("rk") === 1)
        .select(col("event_type"), col("n").as("n_days"),
          col("i").as("t_star"), col("fq").as("f_q"),
          expr("sl DIV i").as("mean_before_c"),
          expr("(st - sl) DIV (n - i)").as("mean_after_c"))
        .orderBy("event_type")
    },
      Some("""WITH d0 AS (SELECT event_type, CAST(ts AS DATE) AS dt,
                            CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
                                 AS BIGINT) AS c
                     FROM events GROUP BY 1, 2),
              d AS (SELECT event_type, dt, c,
                           CAST(row_number() OVER (PARTITION BY event_type
                             ORDER BY dt) AS BIGINT) AS i,
                           CAST(count(*) OVER (PARTITION BY event_type)
                                AS BIGINT) AS n,
                           CAST(sum(c) OVER (PARTITION BY event_type
                             ORDER BY dt ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS BIGINT) AS sl,
                           CAST(sum(c) OVER (PARTITION BY event_type)
                                AS BIGINT) AS st
                    FROM d0),
              f AS (SELECT event_type, i, n, sl, st,
                           CAST(CAST(sl AS HUGEINT) * sl // i
                                + CAST(st - sl AS HUGEINT) * (st - sl)
                                  // (n - i) AS BIGINT) AS fq
                    FROM d WHERE i < n)
         SELECT event_type, n AS n_days, i AS t_star, fq AS f_q,
                sl // i AS mean_before_c,
                (st - sl) // (n - i) AS mean_after_c
         FROM f
         QUALIFY row_number() OVER (PARTITION BY event_type
           ORDER BY fq DESC, i) = 1
         ORDER BY event_type""")),

    // Ornstein-Uhlenbeck mean-reversion half-life per type: AR(1) slope of
    // the daily cents totals on the q16 lattice (φ_q16 = ⌊2¹⁶·(nΣxy −
    // ΣxΣy)/(nΣx² − (Σx)²)⌋, exact decimal moments), then half-life
    // −ln2/ln|φ| = 2²⁰/(16·2²⁰ − log2fp(|φ|_q16)) on the FixedLog2
    // lattice, q8 — integers end to end, defined only for 0 < |φ| < 1.
    // Day cells bound every frame; the lag window is keyed per type.
    Query("ts_ou_halflife", (s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val L = graft.functions.FixedLog2.log2_fp _
      val d = Tables.events(s, dir)
        .withColumn("cc", Exact.cents(col("value")))
        .groupBy(col("event_type"), to_date(col("ts")).as("dt"))
        .agg(sum("cc").as("x"))
      d.withColumn("px",
          lag(col("x"), 1).over(W.partitionBy("event_type").orderBy("dt")))
        .filter(col("px").isNotNull)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
             sum(expr("CAST(x AS DECIMAL(38,0)) * px")).as("sxy"),
             sum("x").as("sx"), sum("px").as("sp"),
             sum(expr("CAST(px AS DECIMAL(38,0)) * px")).as("spp"))
        .withColumn("phi_q16", expr(
          """CAST((65536 * (CAST(n AS DECIMAL(38,0)) * sxy -
             CAST(sx AS DECIMAL(38,0)) * sp)) DIV
             (CAST(n AS DECIMAL(38,0)) * spp -
              CAST(sp AS DECIMAL(38,0)) * sp) AS BIGINT)"""))
        .withColumn("aphi", abs(col("phi_q16")))
        .withColumn("lphi", when(col("aphi") >= 1L, L(col("aphi"))))
        .select(col("event_type"), col("n"), col("phi_q16"),
          when(col("aphi").between(1L, 65535L),
            expr("268435456 DIV (16777216 - lphi)"))
            .as("halflife_q8"),
          when(col("aphi").between(1L, 65535L), 1L).otherwise(0L)
            .as("reverting_flag"))
        .orderBy("event_type")
    },
      Some {
      val lphi = graft.functions.FixedLog2.sql("abs(phi_q16)")
      s"""WITH d AS (SELECT event_type, CAST(ts AS DATE) AS dt,
                            CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
                                 AS BIGINT) AS x
                     FROM events GROUP BY 1, 2),
               l AS (SELECT event_type, x,
                            lag(x) OVER (PARTITION BY event_type
                                         ORDER BY dt) AS px
                     FROM d),
               a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                            CAST(sum(CAST(x AS HUGEINT) * px) AS BIGINT)
                              AS sxy,
                            CAST(sum(x) AS BIGINT) AS sx,
                            CAST(sum(px) AS BIGINT) AS sp,
                            CAST(sum(CAST(px AS HUGEINT) * px) AS BIGINT)
                              AS spp
                     FROM l WHERE px IS NOT NULL GROUP BY 1),
               p AS (SELECT event_type, n,
                            CAST((65536 * (CAST(n AS HUGEINT)*sxy
                                           - CAST(sx AS HUGEINT)*sp))
                                 // (CAST(n AS HUGEINT)*spp
                                     - CAST(sp AS HUGEINT)*sp) AS BIGINT)
                              AS phi_q16
                     FROM a)
          SELECT event_type, n, phi_q16,
                 CASE WHEN abs(phi_q16) BETWEEN 1 AND 65535
                      THEN CAST(268435456 // (16777216 - $lphi) AS BIGINT)
                      ELSE NULL END AS halflife_q8,
                 CASE WHEN abs(phi_q16) BETWEEN 1 AND 65535
                      THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT)
                 END AS reverting_flag
          FROM p ORDER BY event_type"""
      }),

    // Historical VaR(5%) + CVaR (expected shortfall) per series: the exact
    // positional ⌈0.05n⌉-th worst q20 daily return and the exact mean of
    // the tail — rank picks over keyed windows (ties at the boundary are
    // value-equal, so every output is order-free), integer sums until the
    // final divisions. The risk pair every returns pipeline reports.
    Query("ts_var_cvar", (s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val bars = Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("date"))
        .agg(max_by(Exact.cents(col("value")), col("ts")).as("c"))
      val rets = bars
        .withColumn("prev", lag(col("c"), 1).over(
          W.partitionBy("event_type").orderBy("date")))
        .filter(col("prev").isNotNull)
        .select(col("event_type"),
          floor((col("c") - col("prev")).cast("double")
            / col("prev").cast("double") * lit(1048576.0))
            .cast("long").as("x"))
      val ranked = rets
        .withColumn("rn", row_number().over(
          W.partitionBy("event_type").orderBy("x")))
        .withColumn("n", count(lit(1)).over(W.partitionBy("event_type")))
        .withColumn("kk", expr("(n * 5 + 99) DIV 100"))
      ranked.filter(col("rn") <= col("kk"))
        .groupBy("event_type")
        .agg(max("n").as("n_days"), max("kk").as("n_tail"),
          max("x").as("var_q20"), sum("x").as("tail_sum"))
        .select(col("event_type"), col("n_days"), col("n_tail"),
          col("var_q20"),
          (col("var_q20").cast("double") / lit(1048576.0)).as("var_5pct"),
          (col("tail_sum").cast("double") / col("n_tail").cast("double")
            / lit(1048576.0)).as("cvar_5pct"))
        .orderBy("event_type")
    },
      Some("""WITH b AS (SELECT event_type, CAST(ts AS DATE) AS date,
                           CAST(round(arg_max(value, ts) * 100, 0) AS BIGINT)
                             AS c
                    FROM events GROUP BY 1, 2),
              r AS (SELECT event_type,
                           CAST(floor(CAST(c - lag(c) OVER w AS DOUBLE)
                                / CAST(lag(c) OVER w AS DOUBLE)
                                * CAST(1048576 AS DOUBLE)) AS BIGINT) AS x
                    FROM b WINDOW w AS (PARTITION BY event_type
                                        ORDER BY date)),
              q AS (SELECT event_type, x,
                           row_number() OVER (PARTITION BY event_type
                                              ORDER BY x) AS rn,
                           count(*) OVER (PARTITION BY event_type) AS n
                    FROM r WHERE x IS NOT NULL),
              v AS (SELECT event_type, CAST(max(n) AS BIGINT) AS n_days,
                           CAST(max((n * 5 + 99) // 100) AS BIGINT)
                             AS n_tail,
                           max(x) AS var_q20,
                           CAST(sum(x) AS BIGINT) AS tail_sum
                    FROM q WHERE rn <= (n * 5 + 99) // 100
                    GROUP BY 1)
         SELECT event_type, n_days, n_tail, var_q20,
                CAST(var_q20 AS DOUBLE) / CAST(1048576 AS DOUBLE)
                  AS var_5pct,
                CAST(tail_sum AS DOUBLE) / CAST(n_tail AS DOUBLE)
                  / CAST(1048576 AS DOUBLE) AS cvar_5pct
         FROM v ORDER BY event_type""")),

    // Goertzel spectral power at periods 7 and 10 of the centered daily
    // totals — "is the series weekly-seasonal?" asked in the frequency
    // domain. The two-term recurrence sₙ = yₙ + (c·sₙ₋₁) div 2¹⁶ − sₙ₋₂
    // runs on the q16 coefficient lattice (c = ⌊2¹⁶·2cos(2π/k)⌋) with the
    // (s₁,s₂) state packed into ONE BIGINT — the documented DuckDB
    // in-place-struct fold hazard — so both engines fold the identical
    // branch-free integer sequence. Day cells bound the series; the fold
    // is a codegen higher-order aggregate over a per-type array.
    Query("ts_goertzel_power", (s, dir) => {
      val B = 1073741824L // 2^30: state bias
      val M = 2147483648L // 2^31: pack modulus
      def fold(cq: Long) =
        s"""aggregate(ys, CAST(${B * M + B} AS BIGINT), (a, yq) ->
           |  (yq + ($cq * (a div $M - $B)) div 65536
           |     - (a % $M - $B) + $B) * $M
           |  + (a div $M - $B) + $B)""".stripMargin
      def power(cq: Long, k: String) = {
        val s1 = s"($k div $M - $B)"
        val s2 = s"($k % $M - $B)"
        s"($s1 * $s1 + $s2 * $s2 - ($cq * $s1 * $s2) div 65536)"
      }
      Tables.events(s, dir)
        .withColumn("cc", Exact.cents(col("value")))
        .groupBy(col("event_type"), to_date(col("ts")).as("dt"))
        .agg(sum("cc").as("x"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_days"), sum("x").as("sx"),
          sort_array(collect_list(struct(col("dt"), col("x")))).as("xs"))
        .withColumn("ys",
          expr("transform(xs, v -> (v.x - sx div n_days) div 1024)"))
        .withColumn("k7", expr(fold(81722L)))
        .withColumn("k10", expr(fold(106039L)))
        .select(col("event_type"), col("n_days"),
          expr(power(81722L, "k7")).as("power_p7"),
          expr(power(106039L, "k10")).as("power_p10"),
          when(expr(power(81722L, "k7")) > expr(power(106039L, "k10")), 1L)
            .otherwise(0L).as("weekly_dominant"))
        .orderBy("event_type")
    },
      // identical packed-state fold as the Spark higher-order aggregate;
      // state (s1,s2) biased by 2^30 and packed into one BIGINT so the
      // documented DuckDB in-place-struct hazard cannot touch it
      Some {
      val B = 1073741824L
      val M = 2147483648L
      def fold(cq: Long) =
        s"""list_reduce(list_prepend(CAST(${B * M + B} AS BIGINT), ys),
           |  (a, yq) ->
           |    (yq + ($cq * (a // $M - $B)) // 65536
           |       - (a % $M - $B) + $B) * $M
           |    + (a // $M - $B) + $B)""".stripMargin
      def power(cq: Long, k: String) = {
        val s1 = s"($k // $M - $B)"
        val s2 = s"($k % $M - $B)"
        s"($s1 * $s1 + $s2 * $s2 - ($cq * $s1 * $s2) // 65536)"
      }
      s"""WITH d AS (SELECT event_type, CAST(ts AS DATE) AS dt,
                            CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
                                 AS BIGINT) AS x
                     FROM events GROUP BY 1, 2),
              sgg AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
                             CAST(sum(x) AS BIGINT) AS sx,
                             list(x ORDER BY dt) AS xs
                      FROM d GROUP BY 1),
              y AS (SELECT event_type, n_days,
                           list_transform(xs,
                             v -> (v - sx // n_days) // 1024) AS ys
                    FROM sgg),
              g AS (SELECT event_type, n_days,
                           ${fold(81722L)} AS k7,
                           ${fold(106039L)} AS k10
                    FROM y)
          SELECT event_type, n_days,
                 CAST(${power(81722L, "k7")} AS BIGINT) AS power_p7,
                 CAST(${power(106039L, "k10")} AS BIGINT) AS power_p10,
                 CASE WHEN ${power(81722L, "k7")}
                        > ${power(106039L, "k10")}
                      THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT)
                 END AS weekly_dominant
          FROM g ORDER BY event_type"""
      }),

    // Engle–Granger-lite cointegration screen between the purchase and
    // view daily totals: exact q16 hedge ratio (decimal moments), exact
    // integer residuals scaled through the regression denominator, then
    // the residual lag-1 autocorrelation with BIGINT-checked moments —
    // the pairs-trading / do-these-series-share-a-trend screen. The
    // stationarity flag is the EXACT cross-multiplied compare ρ < 1/2
    // (4·num² < den_a·den_b in DECIMAL), so no double ever gates it.
    Query("ts_cointegration_screen", (s, dir) => {
      val d = Tables.events(s, dir)
        .withColumn("cc", Exact.cents(col("value")))
        .groupBy(to_date(col("ts")).as("dt"))
        .agg(sum(when(col("event_type") === "purchase", col("cc"))
          .otherwise(0L)).as("y"),
          sum(when(col("event_type") === "view", col("cc"))
            .otherwise(0L)).as("x")).tracked
      val m = d.agg(count(lit(1)).as("n"),
        sum("x").cast("long").as("sx"), sum("y").cast("long").as("sy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"))
      val bet = m.select(col("n"), col("sx"), col("sy"),
        expr("CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy")
          .as("bnum"),
        expr("CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx")
          .as("bden"))
      val res = d.crossJoin(broadcast(bet))
        .select(col("dt"), col("n"), col("bnum"), col("bden"),
          expr("""CAST((CAST(n AS DECIMAL(38,0)) * bden * y
                 - bden * sy
                 - bnum * (CAST(n AS DECIMAL(38,0)) * x - sx))
                 DIV (CAST(bden AS DECIMAL(38,0)) * n) AS BIGINT)""")
            .as("r"))
      val W = org.apache.spark.sql.expressions.Window
        .partitionBy(Exact.onePartition(col("dt"))).orderBy("dt")
      val ac = res
        .withColumn("pr", lag(col("r"), 1).over(W))
        .filter(col("pr").isNotNull)
        .agg(count(lit(1)).as("np"),
          sum("r").cast("long").as("sr"), sum("pr").cast("long").as("sp"),
          Exact.checkedLong(sum(expr("CAST(r AS DECIMAL(38,0)) * pr")))
            .as("srp"),
          Exact.checkedLong(sum(expr("CAST(r AS DECIMAL(38,0)) * r")))
            .as("srr"),
          Exact.checkedLong(sum(expr("CAST(pr AS DECIMAL(38,0)) * pr")))
            .as("spp"))
        .select(col("np"),
          (col("np") * col("srp") - col("sr") * col("sp")).as("rnum"),
          (col("np") * col("srr") - col("sr") * col("sr")).as("ra"),
          (col("np") * col("spp") - col("sp") * col("sp")).as("rb"))
      bet.crossJoin(broadcast(ac))
        .select(col("n").as("n_days"),
          expr("CAST((65536 * bnum) DIV bden AS BIGINT)").as("beta_q16"),
          col("np").as("n_pairs"), col("rnum").as("rho_num"),
          col("ra").as("rho_den_a"), col("rb").as("rho_den_b"),
          (col("rnum").cast("double")
            / sqrt(col("ra").cast("double") * col("rb").cast("double")))
            .as("resid_autocorr"),
          when(col("rnum") < 0 ||
            expr("CAST(4 AS DECIMAL(38,0)) * rnum * rnum") <
              expr("CAST(ra AS DECIMAL(38,0)) * rb"), 1L)
            .otherwise(0L).as("cointegrated_flag"))
    },
      Some("""WITH d AS (SELECT CAST(ts AS DATE) AS dt,
                           CAST(sum(CASE WHEN event_type = 'purchase'
                             THEN CAST(round(value * 100, 0) AS BIGINT)
                             ELSE 0 END) AS BIGINT) AS y,
                           CAST(sum(CASE WHEN event_type = 'view'
                             THEN CAST(round(value * 100, 0) AS BIGINT)
                             ELSE 0 END) AS BIGINT) AS x
                    FROM events GROUP BY 1),
              m AS (SELECT CAST(count(*) AS BIGINT) AS n,
                           CAST(sum(x) AS BIGINT) AS sx,
                           CAST(sum(y) AS BIGINT) AS sy,
                           CAST(sum(CAST(x AS DECIMAL(38,0)) * x)
                                AS DECIMAL(38,0)) AS sxx,
                           CAST(sum(CAST(x AS DECIMAL(38,0)) * y)
                                AS DECIMAL(38,0)) AS sxy
                    FROM d),
              bet AS (SELECT n, sx, sy,
                             CAST(n AS DECIMAL(38,0)) * sxy
                               - CAST(sx AS DECIMAL(38,0)) * sy AS bnum,
                             CAST(n AS DECIMAL(38,0)) * sxx
                               - CAST(sx AS DECIMAL(38,0)) * sx AS bden
                      FROM m),
              -- the residual division must TRUNCATE like Spark's DIV:
              -- DECIMAL // rounds in DuckDB, HUGEINT // truncates, so the
              -- exact decimal dividend/divisor route through HUGEINT
              res AS (SELECT d.dt,
                             CAST(CAST(CAST(bet.n AS DECIMAL(38,0))
                                     * bet.bden * d.y
                               - bet.bden * bet.sy
                               - bet.bnum * (CAST(bet.n AS DECIMAL(38,0))
                                               * d.x - bet.sx) AS HUGEINT)
                               // CAST(CAST(bet.bden AS DECIMAL(38,0))
                                       * bet.n AS HUGEINT)
                               AS BIGINT) AS r
                      FROM d, bet),
              lagr AS (SELECT dt, r, lag(r) OVER (ORDER BY dt) AS pr
                       FROM res),
              ac AS (SELECT CAST(count(*) AS BIGINT) AS np,
                            CAST(sum(r) AS BIGINT) AS sr,
                            CAST(sum(pr) AS BIGINT) AS sp,
                            CAST(sum(CAST(r AS DECIMAL(38,0)) * pr)
                                 AS BIGINT) AS srp,
                            CAST(sum(CAST(r AS DECIMAL(38,0)) * r)
                                 AS BIGINT) AS srr,
                            CAST(sum(CAST(pr AS DECIMAL(38,0)) * pr)
                                 AS BIGINT) AS spp
                     FROM lagr WHERE pr IS NOT NULL),
              rho AS (SELECT np,
                             np * srp - sr * sp AS rnum,
                             np * srr - sr * sr AS ra,
                             np * spp - sp * sp AS rb
                      FROM ac)
         SELECT b.n AS n_days,
                CAST(CAST(65536 * b.bnum AS HUGEINT)
                     // CAST(b.bden AS HUGEINT) AS BIGINT) AS beta_q16,
                r2.np AS n_pairs, r2.rnum AS rho_num, r2.ra AS rho_den_a,
                r2.rb AS rho_den_b,
                CAST(r2.rnum AS DOUBLE)
                  / sqrt(CAST(r2.ra AS DOUBLE) * CAST(r2.rb AS DOUBLE))
                  AS resid_autocorr,
                CASE WHEN r2.rnum < 0 OR
                          CAST(4 AS DECIMAL(38,0)) * r2.rnum * r2.rnum
                            < CAST(r2.ra AS DECIMAL(38,0)) * r2.rb
                     THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT)
                END AS cointegrated_flag
         FROM bet b, rho r2""")),

    // Irregular-gap EWMA: decay by ELAPSED TIME, not row count — the
    // correct smoother when a series has calendar holes (ts_ema's
    // fixed-α recursion over-weights stale values across gaps). Per-step
    // weight w = (3/4)^min(Δdays, 30): every power of 3/4 is an exactly
    // representable double AND a finite decimal, so both engines parse
    // IDENTICAL weight literals and the ordered fold
    // s ← s·w + x·(1−w) replays bitwise (the ts_ema prefix-fold
    // discipline, with the weight made a per-row datum). SHIPPED as the
    // linear one-pass PrefixFold — O(n) per series, the weight riding
    // each row — with the prefix-list window form surviving only as
    // PrefixFoldSpec's semantic cross-check. The fold never sees tick
    // volume: bars-sized frame, keyed exchange.
    Query("ts_ewma_irregular", (s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val w = W.partitionBy("event_type").orderBy("date")
      val pows = Exact.threeQuarterPows(30)
      // a thin user segment: its per-type daily series has REAL calendar
      // holes (the full fixture is dense — every type trades every day —
      // which would degenerate this into plain ts_ema)
      val bars = graft.ts.Ohlc.dailyBars(
          Tables.events(s, dir).filter(col("user_id") % 97 === 0))
        .select(col("event_type"), col("date"), col("close"))
      val withW = bars
        .withColumn("dt", datediff(col("date"),
          lag(col("date"), 1).over(w)))
        .withColumn("wgt", element_at(
          array(pows.map(p => lit(p.doubleValue)): _*),
          least(coalesce(col("dt"), lit(1)), lit(30)).cast("int")))
      val cIdx = withW.schema.fieldIndex("close")
      val gIdx = withW.schema.fieldIndex("wgt")
      graft.ts.PrefixFold.keyedFold[Double](withW,
          Seq("event_type"), Seq("date"),
          Seq(org.apache.spark.sql.types.StructField("ewma",
            org.apache.spark.sql.types.DoubleType)))(
        init = r => r.getDouble(cIdx),
        step = (acc, r) => {
          val g = r.getDouble(gIdx)
          acc * g + r.getDouble(cIdx) * (1.0 - g)
        },
        emit = (st, _) => Seq(st))
        .select(col("event_type"), col("date"), col("close"),
          coalesce(col("dt"), lit(1)).cast("long").as("gap_days"),
          col("ewma"))
        .orderBy("event_type", "date")
    },
      // the exact-decimal (3/4)^k weight table is generated by the same
      // Scala helper the engine uses, so both engines parse identical
      // doubles; the fold replays ts_ema's ordered list_reduce with the
      // weight as a per-row datum (index-fold over the paired lists)
      Some {
      val pows = graft.olap.Exact.threeQuarterPows(30)
      val caseW = (1 to 30)
        .map(k => s"WHEN $k THEN ${pows(k - 1).toPlainString}")
        .grouped(3).map(_.mkString(" ")).mkString("\n              ")
      s"""WITH b AS (SELECT event_type, CAST(ts AS DATE) AS date,
                   arg_max(value, ts) AS close
            FROM events WHERE user_id % 97 = 0 GROUP BY 1, 2),
      d AS (SELECT event_type, date, close,
                   date_diff('day', lag(date) OVER (PARTITION BY
                     event_type ORDER BY date), date) AS dt
            FROM b),
      e AS (SELECT event_type, date, close, dt,
                   CASE least(coalesce(dt, 1), 30)
              $caseW
                   END AS wgt
            FROM d),
      l AS (SELECT event_type, date, close, dt,
                   list(close) OVER wnd AS cc,
                   list(wgt) OVER wnd AS gg,
                   count(*) OVER wnd AS n
            FROM e
            WINDOW wnd AS (PARTITION BY event_type ORDER BY date
                           ROWS UNBOUNDED PRECEDING))
          SELECT event_type, date, close,
                 CAST(coalesce(dt, 1) AS BIGINT) AS gap_days,
                 list_reduce(list_prepend(cc[1],
                     list_transform(generate_series(2, CAST(n AS INT)),
                       i -> CAST(i AS DOUBLE))),
                   (a, ix) -> a * gg[CAST(ix AS INT)]
                     + cc[CAST(ix AS INT)]
                       * (1.0 - gg[CAST(ix AS INT)])) AS ewma
          FROM l ORDER BY event_type, date""" }),
  )
}
