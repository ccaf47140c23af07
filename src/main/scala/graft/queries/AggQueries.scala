package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.CacheRegistry.QueryCached
import graft.olap.Exact
import Shared._

/** Statistical aggregate (agg_*) family — one `Query` record per
  * query, its DuckDB oracle next to its Spark closure; SparkEntry
  * concatenates the family Seqs into `queries`/`oracleSql`.
  */
object AggQueries {

  val all: Seq[Query] = Seq(
    // 2-D histogram (value decile band × ISO weekday): the heatmap feed
    // a monitoring dashboard renders — two integer bucketings, one
    // partial-aggregable groupBy, exact cent sums per cell.
    Query("agg_heatmap_2d", (s, dir) =>
      Tables.events(s, dir)
        .withColumn("cc", Exact.cents(col("value")))
        .select(
          expr("(cc - ((cc % 10000) + 10000) % 10000) DIV 10000")
            .as("value_band"),
          (weekday(col("ts").cast("date")) + 1).cast("long").as("dow"),
          col("cc"))
        .groupBy("value_band", "dow")
        .agg(count(lit(1)).as("n"), sum(col("cc")).as("sum_cents"))
        .orderBy("value_band", "dow"),
      Some("""WITH c AS (SELECT CAST(round(value * 100, 0) AS BIGINT) AS cc,
                           isodow(CAST(ts AS DATE)) AS dow
                    FROM events)
         SELECT (cc - ((cc % 10000) + 10000) % 10000) // 10000
                  AS value_band,
                CAST(dow AS BIGINT) AS dow, count(*) AS n,
                CAST(sum(cc) AS BIGINT) AS sum_cents
         FROM c GROUP BY 1, 2 ORDER BY 1, 2""")),

    // Chi-square independence test, per cell: is event type independent of
    // ISO weekday? Every cell carries its exact rational contribution —
    // numerator (o·N − r·c)² in DECIMAL(38,0) (the cross term tops 10^20,
    // past BIGINT), denominator N·r·c in BIGINT — and ONE IEEE division
    // for the double. No summed-doubles total (accumulation order is not
    // portable); a consumer sums the rationals. Marginals come from one
    // count pass re-aggregated two ways — all partial-aggregable.
    Query("agg_chi2_contingency", (s, dir) => {
      val cells = Tables.events(s, dir)
        .groupBy(col("event_type"),
          (weekday(col("ts").cast("date")) + 1).cast("long").as("dow"))
        .agg(count(lit(1)).as("o"))
        .tracked // marginals + cells: three readers of one tiny frame
      val rowTot = cells.groupBy("event_type").agg(sum("o").as("r"))
      val colTot = cells.groupBy("dow").agg(sum("o").as("c"))
      val n = cells.agg(sum("o").as("n"))
      cells.join(rowTot, "event_type").join(colTot, "dow")
        .crossJoin(broadcast(n))
        .withColumn("dev", col("o") * col("n") - col("r") * col("c"))
        // dev² computed in DECIMAL(38,0) but OUTPUT as checked BIGINT:
        // decimal output columns hash engine-dependently downstream, and
        // the loud checkedLong overflow is the house discipline anyway
        .select(col("event_type"), col("dow"), col("o"), col("r"), col("c"),
          Exact.checkedLong(col("dev").cast("decimal(38,0)")
              * col("dev").cast("decimal(38,0)"))
            .as("chi2_num"),
          (col("n") * col("r") * col("c")).as("chi2_den"))
        .withColumn("chi2_cell",
          col("chi2_num").cast("double") / col("chi2_den").cast("double"))
        .orderBy("event_type", "dow")
    },
      Some("""WITH cells AS (SELECT event_type,
                               CAST(isodow(CAST(ts AS DATE)) AS BIGINT)
                                 AS dow,
                               count(*) AS o
                        FROM events GROUP BY 1, 2),
              rt AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS r
                     FROM cells GROUP BY 1),
              ct AS (SELECT dow, CAST(sum(o) AS BIGINT) AS c
                     FROM cells GROUP BY 1),
              n AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
              j AS (SELECT cells.event_type, cells.dow, cells.o,
                           rt.r, ct.c, n.n,
                           cells.o * n.n - rt.r * ct.c AS dev
                    FROM cells
                    JOIN rt ON rt.event_type = cells.event_type
                    JOIN ct ON ct.dow = cells.dow
                    CROSS JOIN n)
         SELECT event_type, dow, o, r, c,
                CAST(CAST(dev AS HUGEINT) * CAST(dev AS HUGEINT)
                     AS BIGINT) AS chi2_num,
                n * r * c AS chi2_den,
                CAST(CAST(CAST(dev AS HUGEINT) * CAST(dev AS HUGEINT)
                          AS BIGINT) AS DOUBLE)
                  / CAST(n * r * c AS DOUBLE) AS chi2_cell
         FROM j ORDER BY event_type, dow""")),

    // Herfindahl concentration index per month: Σ share² of event-type
    // revenue — deliberately the RATIONAL concentration metric (entropy
    // needs ln, which is not bit-portable); exact long numerator Σcᵢ²
    // and denominator (Σc)², one division.
    Query("agg_concentration_hhi", (s, dir) =>
      Tables.events(s, dir)
        .groupBy(date_trunc("month", col("ts")).cast("date").as("month"),
                 col("event_type"))
        .agg(sum(Exact.cents(col("value"))).as("c"))
        // quantize per-type revenue to whole dollars before squaring:
        // keeps s1² far from Long.Max at any SF while numerator and
        // denominator stay exact integers. FLOOR division, spelled out in
        // integers on BOTH engines: Spark DIV and DuckDB // each truncate
        // toward zero on negatives, so the oracle mirrors this exact
        // (a - pmod(a, b)) DIV b formula rather than relying on either
        .withColumn("d", expr("(c - ((c % 100) + 100) % 100) DIV 100"))
        .groupBy("month")
        .agg(count(lit(1)).as("n_types"),
             sum(col("d") * col("d")).as("s2"),
             sum(col("d")).as("s1"))
        .select(col("month"), col("n_types"),
          (col("s2").cast("double") / (col("s1") * col("s1")).cast("double"))
            .as("hhi"))
        .orderBy("month"),
      Some("""WITH s AS (SELECT CAST(date_trunc('month', ts) AS DATE) AS month,
                           event_type,
                           CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
                                AS BIGINT) AS c
                    FROM events GROUP BY 1, 2),
              m AS (SELECT month, event_type,
                           (c - (((c % 100) + 100) % 100)) // 100 AS d
                    FROM s)
         SELECT month, count(*) AS n_types,
                CAST(sum(d * d) AS DOUBLE)
                  / CAST(sum(d) * sum(d) AS DOUBLE) AS hhi
         FROM m GROUP BY 1 ORDER BY 1""")),

    // Gini coefficient per group from the rank formula
    // G = (2·Σ(i·xᵢ) − (n+1)·Σx) / (n·Σx) over ascending cents — the
    // numerator and denominator are exact longs (value-equal rank swaps
    // cannot change Σ i·xᵢ), one final division.
    Query("agg_gini", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("cents"), col("event_id"))
      Tables.events(s, dir)
        .select(col("event_type"), col("event_id"),
                Exact.cents(col("value")).as("cents"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
             sum(col("cents")).as("sx"),
             sum(col("rn") * col("cents")).as("six"))
        .select(col("event_type"), col("n"),
          ((lit(2L) * col("six") - (col("n") + 1L) * col("sx"))
            .cast("double") / (col("n") * col("sx")).cast("double"))
            .as("gini"))
        .orderBy("event_type")
    },
      Some("""WITH v AS (SELECT event_type, event_id,
                           CAST(round(value * 100, 0) AS BIGINT) AS cents
                    FROM events),
              r AS (SELECT event_type, cents,
                           CAST(row_number() OVER (PARTITION BY event_type
                             ORDER BY cents, event_id) AS BIGINT) AS rn
                    FROM v),
              g AS (SELECT event_type, count(*) AS n, sum(cents) AS sx,
                           sum(rn * cents) AS six
                    FROM r GROUP BY 1)
         SELECT event_type, n,
                CAST(2 * six - (n + 1) * sx AS DOUBLE)
                  / CAST(n * sx AS DOUBLE) AS gini
         FROM g ORDER BY 1""")),

    // Winsorization: clamp values at the exact positional p05/p95 per
    // group (k = ceil(q·n) in integer math, same rank both engines) and
    // report clamp counts + the winsorized mean — the outlier-capping
    // cleaning pass, exact end to end.
    Query("agg_winsorize", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
      val v = Tables.events(s, dir)
        .select(col("event_type"), col("event_id"),
                Exact.cents(col("value")).as("cents"))
      val n = v.groupBy("event_type").agg(count(lit(1)).as("n"))
      val bounds = v
        .withColumn("rn", row_number().over(
          w.partitionBy("event_type").orderBy("cents", "event_id")))
        .join(broadcast(n), "event_type")
        .filter(col("rn") === expr("(n * 5 + 99) div 100") ||
                col("rn") === expr("(n * 95 + 99) div 100"))
        .groupBy("event_type")
        .agg(min(col("cents")).as("p05_cents"),
             max(col("cents")).as("p95_cents"))
      v.join(broadcast(bounds), "event_type")
        .withColumn("cl",
          greatest(least(col("cents"), col("p95_cents")), col("p05_cents")))
        .groupBy("event_type", "p05_cents", "p95_cents")
        .agg(count(lit(1)).as("n"),
             sum(when(col("cents") < col("p05_cents"), 1L).otherwise(0L))
               .as("n_clamped_low"),
             sum(when(col("cents") > col("p95_cents"), 1L).otherwise(0L))
               .as("n_clamped_high"),
             sum(col("cl")).as("sc"))
        .select(col("event_type"), col("n"),
          (col("p05_cents").cast("double") / lit(100.0)).as("p05"),
          (col("p95_cents").cast("double") / lit(100.0)).as("p95"),
          col("n_clamped_low"), col("n_clamped_high"),
          (col("sc").cast("double") / col("n").cast("double") / lit(100.0))
            .as("winsorized_mean"))
        .orderBy("event_type")
    },
      Some("""WITH v AS (SELECT event_type, event_id,
                           CAST(round(value * 100, 0) AS BIGINT) AS cents
                    FROM events),
              nn AS (SELECT event_type, count(*) AS n FROM v GROUP BY 1),
              r AS (SELECT v.event_type, v.cents, nn.n,
                           row_number() OVER (PARTITION BY v.event_type
                             ORDER BY cents, event_id) AS rn
                    FROM v JOIN nn USING (event_type)),
              b AS (SELECT event_type, min(cents) AS p05_cents,
                           max(cents) AS p95_cents
                    FROM r WHERE rn = (n * 5 + 99) // 100
                       OR rn = (n * 95 + 99) // 100
                    GROUP BY 1),
              c AS (SELECT v.event_type, cents, p05_cents, p95_cents,
                           greatest(least(cents, p95_cents), p05_cents) AS cl
                    FROM v JOIN b USING (event_type))
         SELECT event_type, count(*) AS n,
                CAST(p05_cents AS DOUBLE) / 100.0 AS p05,
                CAST(p95_cents AS DOUBLE) / 100.0 AS p95,
                CAST(sum(CASE WHEN cents < p05_cents THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_clamped_low,
                CAST(sum(CASE WHEN cents > p95_cents THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_clamped_high,
                CAST(sum(cl) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 100.0
                  AS winsorized_mean
         FROM c GROUP BY event_type, p05_cents, p95_cents
         ORDER BY event_type""")),

    // Ratio-to-report: per (series, month) value share within the month
    // and of the grand total — numerators and denominators all exact long
    // cents (order-independent), one fixed double division each.
    Query("agg_share_of_total", (s, dir) => {
      val m = Tables.events(s, dir)
        .groupBy(col("event_type"),
                 date_trunc("month", col("ts")).cast("date").as("month"))
        .agg(count(lit(1)).as("n"), sum(Exact.cents(col("value"))).as("c"))
      val wMonth = org.apache.spark.sql.expressions.Window
        .partitionBy(col("month"))
      val tot = m.agg(sum(col("c")).as("tc"))
      m.withColumn("mc", sum(col("c")).over(wMonth))
        .crossJoin(broadcast(tot))
        .select(col("event_type"), col("month"), col("n"),
          (col("c").cast("double") / lit(100.0)).as("sum_value"),
          (col("c").cast("double") / col("mc").cast("double"))
            .as("share_of_month"),
          (col("c").cast("double") / col("tc").cast("double"))
            .as("share_of_total"))
        .orderBy("event_type", "month")
    },
      Some("""WITH m AS (SELECT event_type,
                           CAST(date_trunc('month', ts) AS DATE) AS month,
                           count(*) AS n,
                           sum(CAST(round(value * 100, 0) AS BIGINT)) AS c
                    FROM events GROUP BY 1, 2),
              w AS (SELECT event_type, month, n, c,
                           sum(c) OVER (PARTITION BY month) AS mc,
                           sum(c) OVER () AS tc
                    FROM m)
         SELECT event_type, month, n,
                CAST(c AS DOUBLE) / 100.0 AS sum_value,
                CAST(c AS DOUBLE) / CAST(mc AS DOUBLE) AS share_of_month,
                CAST(c AS DOUBLE) / CAST(tc AS DOUBLE) AS share_of_total
         FROM w ORDER BY event_type, month""")),

    // Wide-scan grouped aggregation (TPC-H Q1 shape): full map-side partial
    // agg, 4-group shuffle, exact decimal sums. The scan reads only the 7
    // referenced columns (check ReadSchema in .explain).
    Query("agg_pricing_summary", (s, dir) =>
      Tables.lineitem(s, dir)
        // raw-timestamp filter (ship timestamps are midnight-only): a
        // to_date() wrapper would block parquet predicate pushdown
        .filter(col("l_shipdate") < lit("2001-01-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          Exact.sumMoney(col("l_quantity")).as("sum_qty"),
          Exact.sumMoney(col("l_extendedprice")).as("sum_base_price"),
          Exact.sumRevenue(col("l_extendedprice"), col("l_discount"))
            .as("sum_disc_price"),
          Exact.avgMoney(col("l_quantity")).as("avg_qty"),
          Exact.avgMoney(col("l_extendedprice")).as("avg_price"),
          (sum(Exact.rate(col("l_discount"))).cast("double")
            / count(lit(1)).cast("double")).as("avg_disc"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus"),
      Some(s"""SELECT l_returnflag, l_linestatus,
                 CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
                 CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS sum_base_price,
                 CAST(sum(${Exact.revenueSql}) AS DOUBLE) AS sum_disc_price,
                 CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                   / CAST(count(*) AS DOUBLE) AS avg_qty,
                 CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                   / CAST(count(*) AS DOUBLE) AS avg_price,
                 CAST(sum(CAST(l_discount AS DECIMAL(8,2))) AS DOUBLE)
                   / CAST(count(*) AS DOUBLE) AS avg_disc,
                 count(*) AS n
          FROM lineitem
          WHERE CAST(l_shipdate AS DATE) <= DATE '2000-12-31'
          GROUP BY 1, 2 ORDER BY 1, 2""")),

    // Distinct aggregation (planned as Expand + two-phase agg): exact
    // distinct counts alongside plain counts.
    Query("agg_distinct_parts", (s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
             countDistinct(col("l_suppkey")).as("n_supps"),
             count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
                count(DISTINCT l_suppkey) AS n_supps, count(*) AS n_rows
         FROM lineitem GROUP BY 1 ORDER BY 1""")),

    // Exact distributed order statistics: per-series value deciles via a
    // keyed window (rank + per-group count, positions by integer
    // arithmetic — no interpolation, so the decile values are rows that
    // exist and compare bitwise). The window partitions by series; at
    // scale this is one exchange on the series key, like any keyed sort.
    Query("agg_value_deciles", (s, dir) =>
      graft.olap.OrderStats.deciles(Tables.events(s, dir),
          Seq("event_type"), "value", "event_id")
        .orderBy("event_type", "decile"),
      Some("""WITH r AS (SELECT event_type, event_id, value,
                      CAST(row_number() OVER (PARTITION BY event_type
                        ORDER BY value, event_id) AS BIGINT) AS rn,
                      count(*) OVER (PARTITION BY event_type) AS cnt
                    FROM events)
         SELECT event_type, CAST(q AS BIGINT) AS decile, value
         FROM r, unnest(generate_series(1, 9)) AS t(q)
         WHERE ((cnt - 1) * q) // 10 + 1 = rn
         ORDER BY event_type, decile""")),

    // Rollup (grouping sets): per-(flag,status) + per-flag + grand total
    // in one pass; grouping_id distinguishes the levels.
    Query("agg_rollup_counts", (s, dir) =>
      Tables.lineitem(s, dir)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
             sum(Exact.cents(col("l_quantity"))).cast("double")./(lit(100.0))
               .as("sum_qty"),
             grouping_id().cast("long").as("lvl"))
        .orderBy(col("lvl"), col("l_returnflag").asc_nulls_first,
                 col("l_linestatus").asc_nulls_first),
      Some("""SELECT l_returnflag, l_linestatus, count(*) AS n,
                CAST(sum(CAST(round(l_quantity * 100, 0) AS BIGINT)) AS DOUBLE)
                  / 100.0 AS sum_qty,
                CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus)
                  AS BIGINT) AS lvl
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
         ORDER BY lvl, l_returnflag ASC NULLS FIRST,
                  l_linestatus ASC NULLS FIRST""")),

    // Quantile-forecast evaluation: pinball (quantile) loss of the
    // constant τ-quantile predictor per series, τ ∈ {0.5, 0.9} — the
    // scoring rule quantile forecasts are graded by (the τ-quantile is
    // exactly its minimizer, so these are the series' irreducible
    // pinball baselines). Quantiles are positional order statistics at
    // ceil(τ·n) on the integer cents lattice; each loss is an exact
    // ×10-scaled integer sum (τ=0.9 → 9·over/1·under, τ=0.5 → 5/5), so
    // the whole evaluation is order-free with two final double
    // divisions. One keyed rank window + two partial-aggregable passes.
    Query("agg_pinball_loss", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
      val v = Tables.events(s, dir)
        .select(col("event_type"), Exact.cents(col("value")).as("cents"))
      val n = v.groupBy("event_type").agg(count(lit(1)).as("n"))
      val qs = v
        .withColumn("rn", row_number().over(
          w.partitionBy("event_type").orderBy("cents")))
        .join(broadcast(n), "event_type")
        .select(col("event_type"),
          when(col("rn") === expr("(n + 1) div 2"), col("cents")).as("c50"),
          when(col("rn") === expr("(9 * n + 9) div 10"), col("cents"))
            .as("c90"))
        .groupBy("event_type")
        .agg(min("c50").as("q50c"), min("c90").as("q90c"))
      v.join(broadcast(qs), "event_type")
        .groupBy("event_type", "q50c", "q90c")
        .agg(count(lit(1)).as("n"),
          sum(when(col("cents") >= col("q50c"),
              (col("cents") - col("q50c")) * 5)
            .otherwise((col("q50c") - col("cents")) * 5)).as("l50"),
          sum(when(col("cents") >= col("q90c"),
              (col("cents") - col("q90c")) * 9)
            .otherwise(col("q90c") - col("cents"))).as("l90"))
        .select(col("event_type"), col("n"),
          (col("q50c").cast("double") / lit(100.0)).as("q50"),
          (col("q90c").cast("double") / lit(100.0)).as("q90"),
          (col("l50").cast("double") / (col("n") * lit(1000L))
            .cast("double")).as("pinball_50"),
          (col("l90").cast("double") / (col("n") * lit(1000L))
            .cast("double")).as("pinball_90"))
        .orderBy("event_type")
    },
      // same cents lattice + positional quantiles; the ×10-scaled losses
      // are exact integer sums, HUGEINT routed through BIGINT
      Some("""WITH v AS (SELECT event_type,
                      CAST(round(value * 100, 0) AS BIGINT) AS cents
                    FROM events),
            r AS (SELECT event_type, cents,
                    row_number() OVER (PARTITION BY event_type
                      ORDER BY cents) AS rn,
                    count(*) OVER (PARTITION BY event_type) AS n
                  FROM v),
            q AS (SELECT event_type,
                    min(CASE WHEN rn = (n + 1) // 2 THEN cents END)
                      AS q50c,
                    min(CASE WHEN rn = (9 * n + 9) // 10 THEN cents END)
                      AS q90c
                  FROM r GROUP BY 1),
            l AS (SELECT v.event_type, q.q50c, q.q90c,
                    count(*) AS n,
                    CAST(sum(CASE WHEN cents >= q50c
                                  THEN (cents - q50c) * 5
                                  ELSE (q50c - cents) * 5 END)
                      AS BIGINT) AS l50,
                    CAST(sum(CASE WHEN cents >= q90c
                                  THEN (cents - q90c) * 9
                                  ELSE q90c - cents END)
                      AS BIGINT) AS l90
                  FROM v JOIN q USING (event_type) GROUP BY 1, 2, 3)
         SELECT event_type, n,
                CAST(q50c AS DOUBLE) / 100.0 AS q50,
                CAST(q90c AS DOUBLE) / 100.0 AS q90,
                CAST(l50 AS DOUBLE) / CAST(n * 1000 AS DOUBLE)
                  AS pinball_50,
                CAST(l90 AS DOUBLE) / CAST(n * 1000 AS DOUBLE)
                  AS pinball_90
         FROM l ORDER BY event_type""")),

    // Robust statistics: median + MAD (median absolute deviation) per
    // series in exact integer cents — positional selection over keyed
    // ranks, so the "median" is an existing value and every comparison is
    // integer-exact; outliers = |v - med| > 3·MAD.
    Query("agg_mad_outliers", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
      val v = Tables.events(s, dir)
        .select(col("event_type"), Exact.cents(col("value")).as("cents"))
      val n = v.groupBy("event_type").agg(count(lit(1)).as("n"))
      val med = v
        .withColumn("rn", row_number().over(
          w.partitionBy("event_type").orderBy("cents")))
        .join(broadcast(n), "event_type")
        .filter(col("rn") === expr("(n + 1) div 2"))
        .select(col("event_type"), col("cents").as("med_cents"))
      val dev = v.join(broadcast(med), "event_type")
        .withColumn("adev", abs(col("cents") - col("med_cents")))
      val mad = dev
        .withColumn("rn", row_number().over(
          w.partitionBy("event_type").orderBy("adev")))
        .join(broadcast(n), "event_type")
        .filter(col("rn") === expr("(n + 1) div 2"))
        .select(col("event_type"), col("adev").as("mad_cents"))
      dev.join(broadcast(mad), "event_type")
        .groupBy("event_type", "med_cents", "mad_cents")
        .agg(count(lit(1)).as("n"),
             sum(when(col("adev") > col("mad_cents") * 3, 1L).otherwise(0L))
               .as("n_outliers"))
        .select(col("event_type"), col("n"),
          (col("med_cents").cast("double") / lit(100.0)).as("median_value"),
          (col("mad_cents").cast("double") / lit(100.0)).as("mad_value"),
          col("n_outliers"))
        .orderBy("event_type")
    },
      Some("""WITH v AS (SELECT event_type,
                      CAST(round(value * 100, 0) AS BIGINT) AS cents
                    FROM events),
              n AS (SELECT event_type, count(*) AS n FROM v GROUP BY 1),
              r AS (SELECT event_type, cents,
                      row_number() OVER (PARTITION BY event_type
                                         ORDER BY cents) AS rn
                    FROM v),
              med AS (SELECT r.event_type, cents AS med_cents
                      FROM r JOIN n USING (event_type)
                      WHERE rn = (n + 1) // 2),
              dev AS (SELECT v.event_type, v.cents, med.med_cents,
                        abs(v.cents - med.med_cents) AS adev
                      FROM v JOIN med USING (event_type)),
              r2 AS (SELECT event_type, adev,
                       row_number() OVER (PARTITION BY event_type
                                          ORDER BY adev) AS rn
                     FROM dev),
              mad AS (SELECT r2.event_type, adev AS mad_cents
                      FROM r2 JOIN n USING (event_type)
                      WHERE rn = (n + 1) // 2)
         SELECT dev.event_type, count(*) AS n,
                CAST(med_cents AS DOUBLE) / CAST(100 AS DOUBLE)
                  AS median_value,
                CAST(mad_cents AS DOUBLE) / CAST(100 AS DOUBLE) AS mad_value,
                CAST(sum(CASE WHEN adev > mad_cents * 3 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_outliers
         FROM dev JOIN mad USING (event_type)
         GROUP BY dev.event_type, med_cents, mad_cents
         ORDER BY dev.event_type""")),

    // Cube (full grouping-sets lattice — rollup's superset): every
    // (flag, status) combination plus both one-dimension margins plus the
    // grand total in one pass, levels tagged by grouping_id.
    // Mode (most frequent value) per group with deterministic ties
    // (smallest value wins) — expressed window-free as count → per-group
    // max → equality join back → min, every stage partial-aggregable;
    // engines disagree on native mode() tie-breaking, so the explicit
    // form is both portable and the scale shape.
    Query("agg_mode_per_group", (s, dir) => {
      val c = Tables.orders(s, dir)
        .groupBy(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"))
      val m = c.groupBy("o_orderstatus").agg(max(col("cnt")).as("mx"))
      c.join(m, "o_orderstatus").filter(col("cnt") === col("mx"))
        .groupBy("o_orderstatus")
        .agg(min(col("o_orderpriority")).as("mode_priority"),
             max(col("mx")).as("n_mode"))
        .orderBy("o_orderstatus")
    },
      Some("""WITH c AS (SELECT o_orderstatus, o_orderpriority,
                           count(*) AS cnt
                    FROM orders GROUP BY 1, 2),
              m AS (SELECT o_orderstatus, max(cnt) AS mx
                    FROM c GROUP BY 1)
         SELECT c.o_orderstatus,
                min(c.o_orderpriority) AS mode_priority,
                CAST(max(m.mx) AS BIGINT) AS n_mode
         FROM c JOIN m ON m.o_orderstatus = c.o_orderstatus
                      AND c.cnt = m.mx
         GROUP BY 1 ORDER BY 1""")),

    // The general GROUPING SETS form (cube/rollup are its specializations,
    // both covered): an explicit, non-hierarchical set list — exactly the
    // shape a reporting layer asks for ("by lang, by source, by both,
    // grand total" without the unused (source-only-within-lang) stratum a
    // cube would add). grouping() markers disambiguate rollup NULLs from
    // data NULLs; Spark expands the sets into one Expand + one aggregate,
    // so the scan stays single-pass.
    Query("agg_grouping_sets", (s, dir) => {
      Tables.documents(s, dir).createOrReplaceTempView("graft_docs_gs")
      s.sql("""SELECT lang, source,
                      CAST(grouping(lang) AS BIGINT) AS g_lang,
                      CAST(grouping(source) AS BIGINT) AS g_source,
                      count(*) AS n_docs,
                      CAST(sum(n_chars) AS BIGINT) AS sum_chars
               FROM graft_docs_gs
               GROUP BY GROUPING SETS ((lang), (source), (lang, source), ())
               ORDER BY g_lang, g_source,
                        coalesce(lang, ''), coalesce(source, '')""")
    },
      Some("""SELECT lang, source,
                CAST(grouping(lang) AS BIGINT) AS g_lang,
                CAST(grouping(source) AS BIGINT) AS g_source,
                count(*) AS n_docs,
                CAST(sum(n_chars) AS BIGINT) AS sum_chars
         FROM documents
         GROUP BY GROUPING SETS ((lang), (source), (lang, source), ())
         ORDER BY g_lang, g_source, coalesce(lang, ''),
                  coalesce(source, '')""")),

    Query("agg_cube_counts", (s, dir) =>
      Tables.lineitem(s, dir)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
             sum(Exact.cents(col("l_quantity"))).cast("double")./(lit(100.0))
               .as("sum_qty"),
             grouping_id().cast("long").as("lvl"))
        .orderBy(col("lvl"), col("l_returnflag").asc_nulls_first,
                 col("l_linestatus").asc_nulls_first),
      Some("""SELECT l_returnflag, l_linestatus, count(*) AS n,
                CAST(sum(CAST(round(l_quantity * 100, 0) AS BIGINT)) AS DOUBLE)
                  / 100.0 AS sum_qty,
                CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus)
                  AS BIGINT) AS lvl
         FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
         ORDER BY lvl, l_returnflag ASC NULLS FIRST,
                  l_linestatus ASC NULLS FIRST""")),

    // Fixed-width histogram per series: fully partial-aggregable (the bin
    // is just a grouping expression), exact decimal mass per bin — the
    // profiling primitive for value distributions at scale.
    Query("agg_value_histogram", (s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("event_type"),
          floor(col("value") / lit(50.0)).cast("long").as("bin"))
        .agg(count(lit(1)).as("n"),
             sum(col("value").cast(DecimalType(18, 2))).cast("double")
               .as("sum_value"))
        .orderBy("event_type", "bin"),
      Some("""SELECT event_type,
                CAST(floor(value / CAST(50 AS DOUBLE)) AS BIGINT) AS bin,
                count(*) AS n,
                CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1, 2 ORDER BY 1, 2""")),

    // Cohort retention: users bucketed by first-activity date, activity
    // counted per day offset — two keyed aggregations (first-touch, then
    // cohort×offset distincts); the warehouse query behind every
    // retention curve.
    Query("agg_retention_cohorts", (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("activity_date"))
        .distinct()
      val firsts = ev.groupBy("user_id")
        .agg(min(col("activity_date")).as("cohort_date"))
      ev.join(firsts, Seq("user_id"))
        .groupBy(col("cohort_date"),
          datediff(col("activity_date"), col("cohort_date")).cast("long")
            .as("day_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy("cohort_date", "day_offset")
    },
      Some("""WITH ev AS (SELECT DISTINCT user_id, CAST(ts AS DATE)
                       AS activity_date FROM events),
              f AS (SELECT user_id, min(activity_date) AS cohort_date
                    FROM ev GROUP BY 1)
         SELECT cohort_date,
                CAST(activity_date - cohort_date AS BIGINT) AS day_offset,
                count(DISTINCT ev.user_id) AS n_users
         FROM ev JOIN f ON ev.user_id = f.user_id
         GROUP BY 1, 2 ORDER BY 1, 2""")),

    // Moment statistics per series from EXACT integer sums (cents and
    // squared cents both fit BIGINT), converted to doubles once in a
    // fixed expression order — mean/variance/stddev reproducible bitwise
    // under any partitioning (a naive double sum would drift).
    // Higher central moments, exactly: skewness and excess kurtosis per
    // group from raw power sums Σd..Σd⁴ over DOLLAR-quantized values
    // (explicit integer floor division, the HHI idiom). Dollars, not
    // cents, on purpose: it keeps Σd⁴ under 2⁶³, where BOTH engines'
    // integer→double conversions are a single correctly-rounded step —
    // DuckDB's HUGEINT→DOUBLE above 2⁶⁴ rounds TWICE (upper·2⁶⁴ + lower)
    // and loses the last bits. Final formulas are one fixed IEEE chain
    // with m2·sqrt(m2) instead of pow(x, 1.5) — pow is not
    // correctly-rounded across engines, sqrt is.
    Query("agg_skew_kurtosis", (s, dir) => {
      def dd(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
      val agg = Tables.events(s, dir)
        .withColumn("cc", Exact.cents(col("value")))
        .withColumn("d", expr("(cc - ((cc % 100) + 100) % 100) DIV 100"))
        .groupBy("event_type")
        // third/fourth powers on the DECIMAL lattice: d⁴ ≈ 1e14 per row
        // wraps a raw BIGINT sum within ~1e5 rows — silently on Spark,
        // loudly on the oracle (the effect-size-t asymmetry)
        .agg(count(lit(1)).as("n"), sum(col("d")).as("s1"),
             sum(dd(col("d")) * dd(col("d"))).as("s2"),
             sum(dd(col("d")) * dd(col("d")) * dd(col("d"))).as("s3"),
             sum(dd(col("d")) * dd(col("d")) * dd(col("d")) * dd(col("d")))
               .as("s4"))
      val nd = col("n").cast("double")
      val m = col("s1").cast("double") / nd
      val e2 = col("s2").cast("double") / nd
      val e3 = col("s3").cast("double") / nd
      val e4 = col("s4").cast("double") / nd
      val m2 = e2 - m * m
      agg.select(col("event_type"), col("n"),
        ((e3 - lit(3.0) * m * e2 + lit(2.0) * m * m * m)
          / (m2 * sqrt(m2))).as("skewness"),
        ((e4 - lit(4.0) * m * e3 + lit(6.0) * m * m * e2
           - lit(3.0) * m * m * m * m) / (m2 * m2) - lit(3.0))
          .as("excess_kurtosis"))
        .orderBy("event_type")
    },
      Some("""WITH cc AS (SELECT event_type,
                            CAST(round(value * 100, 0) AS BIGINT) AS cc
                     FROM events),
              c AS (SELECT event_type,
                           (cc - ((cc % 100) + 100) % 100) // 100 AS c
                    FROM cc),
              a AS (SELECT event_type,
                           CAST(count(*) AS BIGINT) AS n,
                           CAST(sum(c) AS BIGINT) AS s1,
                           CAST(sum(c * c) AS BIGINT) AS s2,
                           CAST(sum(c * c * c) AS BIGINT) AS s3,
                           CAST(sum(c * c * c * c) AS BIGINT) AS s4
                    FROM c GROUP BY 1),
              d AS (SELECT event_type, n,
                           CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS m,
                           CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS e2,
                           CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS e3,
                           CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) AS e4
                    FROM a)
         SELECT event_type, n,
                (e3 - CAST(3 AS DOUBLE) * m * e2
                  + CAST(2 AS DOUBLE) * m * m * m)
                  / ((e2 - m * m) * sqrt(e2 - m * m)) AS skewness,
                (e4 - CAST(4 AS DOUBLE) * m * e3
                  + CAST(6 AS DOUBLE) * m * m * e2
                  - CAST(3 AS DOUBLE) * m * m * m * m)
                  / ((e2 - m * m) * (e2 - m * m)) - CAST(3 AS DOUBLE)
                  AS excess_kurtosis
         FROM d ORDER BY event_type""")),

    // Quantity-weighted median price per return flag: the exact weighted
    // order statistic (first value whose cumulative weight reaches half
    // the total) — cumulative weights by a keyed window over a totalized
    // (price, pk) order, the pick a partial-aggregable min over the
    // qualifying suffix. All integers until the final /100.
    Query("agg_weighted_median", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("flag").orderBy("cents", "ok", "ln")
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, 0)
      val li = Tables.lineitem(s, dir)
        .select(col("l_returnflag").as("flag"),
                Exact.cents(col("l_extendedprice")).as("cents"),
                col("l_quantity").cast("long").as("qty"),
                col("l_orderkey").as("ok"), col("l_linenumber").as("ln"))
      val tot = li.groupBy("flag").agg(sum(col("qty")).as("total_qty"))
      li.withColumn("cum", sum(col("qty")).over(w))
        .join(tot, "flag")
        .filter(col("cum") * 2 >= col("total_qty"))
        .groupBy("flag")
        .agg(max(col("total_qty")).as("total_qty"),
             min(col("cents")).as("median_cents"))
        .select(col("flag"), col("total_qty"),
          (col("median_cents").cast("double") / lit(100.0))
            .as("weighted_median_price"))
        .orderBy("flag")
    },
      // exact BIGINT moment sums; identical double expression order for the
      // final mean/variance/stddev projection on both engines
      Some("""WITH li AS (SELECT l_returnflag AS flag,
                            CAST(round(l_extendedprice * 100, 0) AS BIGINT)
                              AS cents,
                            CAST(l_quantity AS BIGINT) AS qty,
                            l_orderkey AS ok, l_linenumber AS ln
                     FROM lineitem),
              t AS (SELECT flag, CAST(sum(qty) AS BIGINT) AS total_qty
                    FROM li GROUP BY 1),
              c AS (SELECT flag, cents,
                           CAST(sum(qty) OVER (PARTITION BY flag
                             ORDER BY cents, ok, ln
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS BIGINT) AS cum
                    FROM li)
         SELECT c.flag, max(t.total_qty) AS total_qty,
                CAST(min(c.cents) AS DOUBLE) / CAST(100 AS DOUBLE)
                  AS weighted_median_price
         FROM c JOIN t ON t.flag = c.flag
         WHERE c.cum * 2 >= t.total_qty
         GROUP BY 1 ORDER BY 1""")),

    Query("agg_value_stats", (s, dir) => {
      val c = Exact.cents(col("value"))
      val cd = c.cast("decimal(38,0)")
      Tables.events(s, dir)
        .groupBy("event_type")
        // Σc² on the decimal lattice: c² ≈ 1e11 per row wraps a raw
        // BIGINT sum at corpus row counts — silently on Spark only
        .agg(count(lit(1)).as("n"), sum(c).as("sc"),
             sum(cd * cd).as("ssq"))
        .select(col("event_type"), col("n"),
          (col("sc").cast("double") / (col("n").cast("double") * lit(100.0)))
            .as("mean_value"),
          (col("ssq").cast("double")
             / (col("n").cast("double") * lit(10000.0))
           - (col("sc").cast("double")
              / (col("n").cast("double") * lit(100.0)))
             * (col("sc").cast("double")
                / (col("n").cast("double") * lit(100.0))))
            .as("variance"),
          sqrt(col("ssq").cast("double")
             / (col("n").cast("double") * lit(10000.0))
           - (col("sc").cast("double")
              / (col("n").cast("double") * lit(100.0)))
             * (col("sc").cast("double")
                / (col("n").cast("double") * lit(100.0))))
            .as("stddev"))
        .orderBy("event_type")
    },
      Some("""WITH a AS (SELECT event_type, count(*) AS n,
                      sum(CAST(round(value * 100, 0) AS BIGINT)) AS sc,
                      sum(CAST(round(value * 100, 0) AS BIGINT)
                          * CAST(round(value * 100, 0) AS BIGINT)) AS ssq
                    FROM events GROUP BY 1)
         SELECT event_type, n,
                CAST(sc AS DOUBLE)
                  / (CAST(n AS DOUBLE) * CAST(100 AS DOUBLE)) AS mean_value,
                CAST(ssq AS DOUBLE)
                  / (CAST(n AS DOUBLE) * CAST(10000 AS DOUBLE))
                  - (CAST(sc AS DOUBLE)
                     / (CAST(n AS DOUBLE) * CAST(100 AS DOUBLE)))
                    * (CAST(sc AS DOUBLE)
                       / (CAST(n AS DOUBLE) * CAST(100 AS DOUBLE)))
                  AS variance,
                sqrt(CAST(ssq AS DOUBLE)
                  / (CAST(n AS DOUBLE) * CAST(10000 AS DOUBLE))
                  - (CAST(sc AS DOUBLE)
                     / (CAST(n AS DOUBLE) * CAST(100 AS DOUBLE)))
                    * (CAST(sc AS DOUBLE)
                       / (CAST(n AS DOUBLE) * CAST(100 AS DOUBLE))))
                  AS stddev
         FROM a ORDER BY event_type""")),

    // Two-sample z-test over every event-type pair: the A/B-experiment
    // readout next to the KS drift test. Per-group moments are ONE
    // partial-aggregable pass of exact cent sums; the variance numerator
    // n·Σx² − (Σx)² is taken in DECIMAL(38,0) ((Σx)² tops BIGINT at
    // corpus scale), and the z chain is written in one fixed operand
    // order mirrored token-for-token by the oracle, so the doubles are
    // bitwise. Pairs come from a self-join of the GROUP-COUNT-sized
    // stats frame — never of the data.
    Query("agg_two_sample_z", (s, dir) => {
      def d(c: org.apache.spark.sql.Column) = c.cast("double")
      def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
      val stats = Tables.events(s, dir)
        .select(col("event_type"), Exact.cents(col("value")).as("c"))
        .groupBy("event_type")
        // Σx² on the decimal lattice from the first product: a raw BIGINT
        // c·c sum wraps SILENTLY at corpus scale where the oracle aborts
        .agg(count(lit(1)).as("n"), sum(col("c")).as("sc"),
             sum(dec(col("c")) * dec(col("c"))).as("ss"))
        .tracked // both sides of the pair self-join
      val a = stats.select(col("event_type").as("et_a"), col("n").as("na"),
        col("sc").as("sca"), col("ss").as("ssa"))
      val b = stats.select(col("event_type").as("et_b"), col("n").as("nb"),
        col("sc").as("scb"), col("ss").as("ssb"))
      val ma = d(col("sca")) / d(col("na"))
      val mb = d(col("scb")) / d(col("nb"))
      val va = (dec(col("na")) * dec(col("ssa"))
        - dec(col("sca")) * dec(col("sca"))).cast("double") /
        d(col("na") * (col("na") - 1L))
      val vb = (dec(col("nb")) * dec(col("ssb"))
        - dec(col("scb")) * dec(col("scb"))).cast("double") /
        d(col("nb") * (col("nb") - 1L))
      a.join(b, col("et_a") < col("et_b"))
        .select(col("et_a"), col("et_b"), col("na"), col("nb"),
          (ma / 100.0).as("mean_a"), (mb / 100.0).as("mean_b"),
          ((ma - mb) / sqrt(va / d(col("na")) + vb / d(col("nb"))))
            .as("z"))
        .orderBy("et_a", "et_b")
    },
      Some("""WITH c AS (SELECT event_type,
                           CAST(round(value * 100, 0) AS BIGINT) AS c
                    FROM events),
              s AS (SELECT event_type, count(*) AS n,
                           CAST(sum(c) AS BIGINT) AS sc,
                           CAST(sum(c * c) AS BIGINT) AS ss
                    FROM c GROUP BY 1)
         SELECT a.event_type AS et_a, b.event_type AS et_b,
                a.n AS na, b.n AS nb,
                CAST(a.sc AS DOUBLE) / CAST(a.n AS DOUBLE) / 100.0
                  AS mean_a,
                CAST(b.sc AS DOUBLE) / CAST(b.n AS DOUBLE) / 100.0
                  AS mean_b,
                (CAST(a.sc AS DOUBLE) / CAST(a.n AS DOUBLE)
                  - CAST(b.sc AS DOUBLE) / CAST(b.n AS DOUBLE))
                / sqrt(
                    (CAST(CAST(CAST(a.n AS HUGEINT) * a.ss
                          - CAST(a.sc AS HUGEINT) * a.sc AS BIGINT) AS DOUBLE)
                     / CAST(a.n * (a.n - 1) AS DOUBLE))
                      / CAST(a.n AS DOUBLE)
                  + (CAST(CAST(CAST(b.n AS HUGEINT) * b.ss
                          - CAST(b.sc AS HUGEINT) * b.sc AS BIGINT) AS DOUBLE)
                     / CAST(b.n * (b.n - 1) AS DOUBLE))
                      / CAST(b.n AS DOUBLE)) AS z
         FROM s a JOIN s b ON a.event_type < b.event_type
         ORDER BY 1, 2""")),

    // Two-sample Kolmogorov–Smirnov statistic (click vs view value
    // distributions) — EXACT: D = max|F₁−F₂| is computed on the integer
    // lattice as max|n₂·cum₁(v) − n₁·cum₂(v)| over the merged support,
    // one final division. The cumulative counts use the two-level
    // distributed prefix sum (graft.text.Packing) — value-bucketed level
    // 1 in parallel, #buckets-row level 2 — NEVER a single-partition
    // window over the support. The distribution-drift test a 100 TB
    // feature pipeline runs between snapshots.
    Query("agg_ks_statistic", (s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(col("event_type").isin("click", "view"))
        .select(col("event_type"), Exact.cents(col("value")).as("v"))
      val counts = ev.groupBy("v")
        .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L))
               .as("c1"),
             sum(when(col("event_type") === "view", 1L).otherwise(0L))
               .as("c2"))
      val cum1 = graft.text.Packing.withStreamOffset(
        counts, "v", "c1", "cum1x", bucketSize = 1000L)
      val cum = graft.text.Packing.withStreamOffset(
        cum1, "v", "c2", "cum2x", bucketSize = 1000L)
        .select(col("v"),
          (col("cum1x") + col("c1")).as("cum1"),
          (col("cum2x") + col("c2")).as("cum2"))
      val n = ev.agg(
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("n1"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("n2"))
      cum.crossJoin(broadcast(n))
        .select(col("n1"), col("n2"), col("v"),
          abs(col("n2") * col("cum1") - col("n1") * col("cum2")).as("dn"))
        .groupBy("n1", "n2")
        .agg(max(col("dn")).as("d_num"),
             max_by(col("v"), struct(col("dn"), (-col("v")).as("nv")))
               .as("ks_at_value"))
        .withColumn("d_stat", col("d_num").cast("double")
          / (col("n1") * col("n2")).cast("double"))
        .select("n1", "n2", "d_num", "ks_at_value", "d_stat")
    },
      Some("""WITH ev AS (SELECT event_type,
                            CAST(round(value * 100, 0) AS BIGINT) AS v
                     FROM events WHERE event_type IN ('click', 'view')),
              c AS (SELECT v,
                           sum(CASE WHEN event_type = 'click' THEN 1
                                    ELSE 0 END) AS c1,
                           sum(CASE WHEN event_type = 'view' THEN 1
                                    ELSE 0 END) AS c2
                    FROM ev GROUP BY 1),
              cc AS (SELECT v, sum(c1) OVER (ORDER BY v) AS cum1,
                            sum(c2) OVER (ORDER BY v) AS cum2
                     FROM c),
              n AS (SELECT CAST(sum(CASE WHEN event_type = 'click' THEN 1
                                         ELSE 0 END) AS BIGINT) AS n1,
                           CAST(sum(CASE WHEN event_type = 'view' THEN 1
                                         ELSE 0 END) AS BIGINT) AS n2
                    FROM ev),
              d AS (SELECT n.n1, n.n2, cc.v,
                           CAST(abs(n.n2 * cc.cum1 - n.n1 * cc.cum2)
                                AS BIGINT) AS dn,
                           row_number() OVER (
                             ORDER BY abs(n.n2 * cc.cum1 - n.n1 * cc.cum2)
                               DESC, cc.v ASC) AS rn
                    FROM cc, n)
         SELECT n1, n2, dn AS d_num, v AS ks_at_value,
                CAST(dn AS DOUBLE) / CAST(n1 * n2 AS DOUBLE) AS d_stat
         FROM d WHERE rn = 1""")),

    // Deterministic Poisson-style bootstrap: 32 hash-weighted replicates
    // of the mean purchase value in ONE pass (explode the replicate id,
    // weight = hash(event_id, b) mod 3 ∈ {0,1,2}, E[w] = 1), each
    // replicate an exact integer (Σw·c, Σw) pair with one division; the
    // 90% CI is the exact positional P5/P95 over the B = 32 replicate
    // means (a constant-bounded 32-row rank, never data-sized). The
    // uncertainty quantification a pipeline attaches to headline metrics
    // without a second data pass.
    Query("agg_bootstrap_ci", (s, dir) => {
      val reps = Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), Exact.cents(col("value")).as("c"))
        .select(col("event_id"), col("c"),
                explode(sequence(lit(0L), lit(31L))).as("b"))
        .withColumn("wgt",
          pmod((col("event_id") * lit(31L) + col("b")) * lit(2654435761L),
               lit(2147483647L)) % lit(3L))
        .groupBy("b")
        .agg((sum(col("wgt") * col("c")).cast("double")
          / sum(col("wgt")).cast("double")).as("rep_mean"))
      // constant partition key: 32 rows by construction (B is constant), so
      // the single partition is deliberate, not a missing key
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(Exact.onePartition(col("b"))).orderBy("rep_mean", "b")
      val ranked = reps.withColumn("rn", row_number().over(w))
      val point = Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .agg((sum(Exact.cents(col("value"))).cast("double")
          / count(lit(1)).cast("double")).as("point_mean"))
      ranked.agg(count(lit(1)).as("n_replicates"),
          max(when(col("rn") === 2, col("rep_mean"))).as("ci_lo"),
          max(when(col("rn") === 31, col("rep_mean"))).as("ci_hi"))
        .crossJoin(point)
        .select("n_replicates", "point_mean", "ci_lo", "ci_hi")
    },
      Some("""WITH p AS (SELECT event_id,
                           CAST(round(value * 100, 0) AS BIGINT) AS c
                    FROM events WHERE event_type = 'purchase'),
              r AS (SELECT t.b, event_id, c,
                           ((((event_id * 31 + t.b) * 2654435761)
                             % 2147483647) + 2147483647) % 2147483647 % 3
                             AS wgt
                    FROM p, unnest(range(0, 32)) AS t(b)),
              m AS (SELECT b,
                           CAST(CAST(sum(wgt * c) AS BIGINT) AS DOUBLE)
                             / CAST(CAST(sum(wgt) AS BIGINT) AS DOUBLE)
                             AS rep_mean
                    FROM r GROUP BY 1),
              rk AS (SELECT b, rep_mean,
                            row_number() OVER (ORDER BY rep_mean, b) AS rn
                     FROM m),
              pt AS (SELECT CAST(CAST(sum(c) AS BIGINT) AS DOUBLE)
                              / CAST(count(*) AS DOUBLE) AS point_mean
                     FROM p)
         SELECT (SELECT count(*) FROM rk) AS n_replicates,
                pt.point_mean,
                (SELECT rep_mean FROM rk WHERE rn = 2) AS ci_lo,
                (SELECT rep_mean FROM rk WHERE rn = 31) AS ci_hi
         FROM pt""")),

    // Shewhart control chart: flag days whose mean ticket leaves the
    // ±3σ band around the global mean — the out-of-control test done as
    // ONE exact integer comparison with all fractions cleared:
    // (n·s_d − n_d·S)² > 9·n_d²·(n·Σx² − S²), DECIMAL(38,0) vs HUGEINT
    // bit-identical. Two partial-aggregable passes (global + per-day)
    // and a broadcast scalar join; the monitoring primitive behind
    // metric regression alerts.
    Query("agg_control_chart", (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(expr("unix_micros(ts) DIV 86400000000").as("day"),
                Exact.cents(col("value")).as("x"))
      val tot = ev.agg(count(lit(1)).as("n"), sum(col("x")).as("s"),
                       sum(col("x") * col("x")).as("ss"))
      def d38(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
      val a = d38(col("n")) * col("sd") - d38(col("nd")) * col("s")
      val rhs = lit(9) * d38(col("nd")) * col("nd") *
        (d38(col("n")) * col("ss") - d38(col("s")) * col("s"))
      ev.groupBy("day")
        .agg(count(lit(1)).as("nd"), sum(col("x")).as("sd"))
        .crossJoin(broadcast(tot))
        .select(col("day"), col("nd"),
          (col("sd").cast("double") / col("nd").cast("double"))
            .as("day_mean_cents"),
          (a * a > rhs).as("ooc"))
        .orderBy("day")
    },
      Some("""WITH ev AS (SELECT epoch_us(ts) // 86400000000 AS day,
                            CAST(round(value * 100, 0) AS BIGINT) AS x
                     FROM events),
              t AS (SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS s,
                           CAST(sum(x * x) AS BIGINT) AS ss
                    FROM ev),
              d AS (SELECT day, count(*) AS nd,
                           CAST(sum(x) AS BIGINT) AS sd
                    FROM ev GROUP BY 1)
         SELECT day, nd,
                CAST(sd AS DOUBLE) / CAST(nd AS DOUBLE) AS day_mean_cents,
                (CAST(t.n AS HUGEINT) * sd - CAST(nd AS HUGEINT) * t.s)
                  * (CAST(t.n AS HUGEINT) * sd - CAST(nd AS HUGEINT) * t.s)
                  > 9 * CAST(nd AS HUGEINT) * nd
                    * (CAST(t.n AS HUGEINT) * t.ss
                       - CAST(t.s AS HUGEINT) * t.s) AS ooc
         FROM d, t ORDER BY day""")),

    // Conversion lag: per user, first signup → first purchase AT OR
    // AFTER it; exact integer minute deltas, with quartiles as EXACT
    // positional order statistics picked from a cumulative delta
    // histogram built by the two-level distributed prefix sum (Packing)
    // — no window over the conversion frame, no triangular join, so the
    // same plan stands when conversions are billions of rows. The
    // time-to-convert funnel metric behind activation dashboards.
    Query("agg_time_to_convert", (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"),
                unix_micros(col("ts")).as("us"))
      val su = ev.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min(col("us")).as("su_us"))
      val conv = ev.filter(col("event_type") === "purchase")
        .join(su, Seq("user_id"))
        .filter(col("us") >= col("su_us"))
        .groupBy("user_id")
        .agg(min(col("us")).as("pu_us"), min(col("su_us")).as("su_us"))
        .select(col("user_id"),
          expr("(pu_us - su_us) DIV 60000000").as("delta_m"))
        .tracked
      val counts = conv.groupBy("delta_m").agg(count(lit(1)).as("cnt"))
      val cum = graft.text.Packing.withStreamOffset(
          counts, "delta_m", "cnt", "cum0", bucketSize = 1000L)
        .select(col("delta_m"), (col("cum0") + col("cnt")).as("cum"))
      val ranks = conv.agg(count(lit(1)).as("n_converted"),
        expr("CAST((count(1) + 3) DIV 4 AS BIGINT)").as("r1"),
        expr("CAST((count(1) + 1) DIV 2 AS BIGINT)").as("r2"),
        expr("CAST((3 * count(1) + 3) DIV 4 AS BIGINT)").as("r3"))
      val nSignup = su.agg(count(lit(1)).as("n_signup_users"))
      cum.crossJoin(broadcast(ranks))
        .agg(min(when(col("cum") >= col("r1"), col("delta_m"))).as("q1_m"),
             min(when(col("cum") >= col("r2"), col("delta_m")))
               .as("median_m"),
             min(when(col("cum") >= col("r3"), col("delta_m"))).as("q3_m"),
             min(col("n_converted")).as("n_converted"))
        .crossJoin(nSignup)
        .select(col("n_signup_users"), col("n_converted"),
          (col("n_converted").cast("double")
            / col("n_signup_users").cast("double")).as("conversion_rate"),
          col("q1_m"), col("median_m"), col("q3_m"))
    },
      Some("""WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS us
                     FROM events),
              su AS (SELECT user_id, min(us) AS su_us FROM ev
                     WHERE event_type = 'signup' GROUP BY 1),
              conv AS (SELECT ev.user_id,
                              (min(ev.us) - min(su.su_us)) // 60000000
                                AS delta_m
                       FROM ev JOIN su ON su.user_id = ev.user_id
                       WHERE ev.event_type = 'purchase'
                         AND ev.us >= su.su_us
                       GROUP BY 1),
              c AS (SELECT delta_m, count(*) AS cnt FROM conv GROUP BY 1),
              cum AS (SELECT delta_m,
                             sum(cnt) OVER (ORDER BY delta_m) AS cum
                      FROM c),
              r AS (SELECT count(*) AS n_converted,
                           (count(*) + 3) // 4 AS r1,
                           (count(*) + 1) // 2 AS r2,
                           (3 * count(*) + 3) // 4 AS r3
                    FROM conv),
              ns AS (SELECT count(*) AS n_signup_users FROM su),
              p AS (SELECT min(CASE WHEN cum >= r.r1 THEN delta_m END)
                             AS q1_m,
                           min(CASE WHEN cum >= r.r2 THEN delta_m END)
                             AS median_m,
                           min(CASE WHEN cum >= r.r3 THEN delta_m END)
                             AS q3_m
                    FROM cum, r)
         SELECT ns.n_signup_users, r.n_converted,
                CAST(r.n_converted AS DOUBLE)
                  / CAST(ns.n_signup_users AS DOUBLE) AS conversion_rate,
                p.q1_m, p.median_m, p.q3_m
         FROM ns, r, p""")),

    // Discount elasticity: exact OLS slope of quantity on discount per
    // return flag — every moment an integer sum on the (discount-bp ×
    // quantity-q) lattice, cross-products cleared of fractions in
    // DECIMAL(38,0) ≡ HUGEINT, one fixed double chain per figure. The
    // price-sensitivity screen, same cleared-fraction OLS as
    // ts_linreg_trend.
    Query("agg_discount_elasticity", (s, dir) => {
      val x = expr("CAST(round(l_discount * 10000, 0) AS BIGINT)")
      val y = expr("CAST(round(l_quantity * 100, 0) AS BIGINT)")
      val agg = Tables.lineitem(s, dir)
        .select(col("l_returnflag"), x.as("x"), y.as("y"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
             sum(col("y")).as("sy"), sum(col("x") * col("x")).as("sxx"),
             sum(col("x") * col("y")).as("sxy"))
      def d38(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
      val num = (d38(col("n")) * col("sxy") - d38(col("sx")) * col("sy"))
        .cast("double")
      val den = (d38(col("n")) * col("sxx") - d38(col("sx")) * col("sx"))
        .cast("double")
      agg.select(col("l_returnflag"), col("n"),
          (num / den).as("slope_q_per_bp"),
          (col("sy").cast("double") / col("n").cast("double")
            - num / den
              * (col("sx").cast("double") / col("n").cast("double")))
            .as("intercept_q"))
        .orderBy("l_returnflag")
    },
      Some("""WITH d AS (SELECT l_returnflag,
                           CAST(round(l_discount * 10000, 0) AS BIGINT) AS x,
                           CAST(round(l_quantity * 100, 0) AS BIGINT) AS y
                    FROM lineitem),
              a AS (SELECT l_returnflag, count(*) AS n,
                           CAST(sum(x) AS BIGINT) AS sx,
                           CAST(sum(y) AS BIGINT) AS sy,
                           CAST(sum(x * x) AS BIGINT) AS sxx,
                           CAST(sum(x * y) AS BIGINT) AS sxy
                    FROM d GROUP BY 1),
              m AS (SELECT l_returnflag, n,
                           CAST(CAST(CAST(n AS HUGEINT) * sxy
                                     - CAST(sx AS HUGEINT) * sy AS BIGINT)
                                AS DOUBLE) AS num,
                           CAST(CAST(CAST(n AS HUGEINT) * sxx
                                     - CAST(sx AS HUGEINT) * sx AS BIGINT)
                                AS DOUBLE) AS den,
                           sx, sy
                    FROM a)
         SELECT l_returnflag, n, num / den AS slope_q_per_bp,
                CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)
                  - num / den * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                  AS intercept_q
         FROM m ORDER BY l_returnflag""")),

    // Mann–Whitney U (rank-sum) over every event-type pair: the
    // nonparametric companion to agg_two_sample_z. Doubled-U stays on the
    // integer lattice — 2U_a = Σ_v c_a(v)·(2·cum_b(<v) + c_b(v)) — so no
    // per-row ranks and no vocabulary-sized global window: per-type
    // cumulative counts run over the merged value support via the
    // two-level prefix sum keyed by (type, bucket); the support×type grid
    // is a broadcast of the bounded type universe against the distinct
    // value frame; the tie-corrected normal z carries the exact Σ(t³−t)
    // tie term in DECIMAL(38,0) and spends ONE fixed IEEE chain. The
    // value-keyed pair join fans each support row to C(k,2) pairs —
    // bounded by the type universe, never by event volume.
    Query("agg_mann_whitney_u", (s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val cnt = Tables.events(s, dir)
        .select(col("event_type").as("et"),
                Exact.cents(col("value")).as("v"))
        .groupBy("et", "v").agg(count(lit(1)).as("c"))
      val grid = cnt.select("v").distinct()
        .crossJoin(broadcast(cnt.select("et").distinct()))
        .join(cnt, Seq("et", "v"), "left")
        .select(col("et"), col("v"),
                coalesce(col("c"), lit(0L)).as("c"))
        .withColumn("b", expr("v div 1000"))
      val w1 = W.partitionBy("et", "b").orderBy("v")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
      val w2 = W.partitionBy("et").orderBy("b")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
      val off = grid.groupBy("et", "b").agg(sum("c").as("tot"))
        .withColumn("off", sum("tot").over(w2) - col("tot"))
        .select("et", "b", "off")
      val g = grid
        .withColumn("intra", sum("c").over(w1))
        .join(broadcast(off), Seq("et", "b"))
        .select(col("et"), col("v"), col("c"),
                (col("off") + col("intra") - col("c")).as("cum"))
        .tracked // both sides of the pair join read it
      def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
      val a = g.select(col("et").as("et_a"), col("v"), col("c").as("ca"))
      val bb = g.select(col("et").as("et_b"), col("v"),
        col("c").as("cb"), col("cum").as("cumb"))
      val t = dec(col("ca") + col("cb"))
      val nn = col("na") + col("nb")
      a.join(bb, Seq("v")).filter(col("et_a") < col("et_b"))
        .groupBy("et_a", "et_b")
        .agg(sum("ca").as("na"), sum("cb").as("nb"),
             sum(dec(col("ca"))
                 * (dec(col("cumb")) * lit(2L) + dec(col("cb"))))
               .as("u2"),
             sum(t * t * t - t).as("tie3"))
        // doubled-U leaves the decimal lattice as a checked BIGINT here:
        // decimal output columns hash engine-dependently downstream
        .withColumn("u2", Exact.checkedLong(col("u2")))
        // all-tied pair ⇒ σ = 0 (tie3 hits its N³−N ceiling): null z, not
        // an engine-dependent inf/nan — the guard is an EXACT integer
        // comparison, portable by construction
        .withColumn("z",
          when(col("tie3") < dec(nn) * dec(nn) * dec(nn) - dec(nn),
            (col("u2") - dec(col("na")) * dec(col("nb"))).cast("double")
              / (lit(2.0) * sqrt(
                   (dec(col("na")) * dec(col("nb"))).cast("double")
                     / lit(12.0)
                   * ((nn + 1).cast("double")
                      - col("tie3").cast("double")
                        / (dec(nn) * dec(nn - 1)).cast("double"))))))
        .select("et_a", "et_b", "na", "nb", "u2", "z")
        .orderBy("et_a", "et_b")
    },
      Some("""WITH c AS (SELECT event_type AS et,
                           CAST(round(value * 100, 0) AS BIGINT) AS v,
                           count(*) AS c
                    FROM events GROUP BY 1, 2),
              grid AS (SELECT e.et, s.v, coalesce(c.c, 0) AS c
                       FROM (SELECT DISTINCT et FROM c) e
                       CROSS JOIN (SELECT DISTINCT v FROM c) s
                       LEFT JOIN c ON c.et = e.et AND c.v = s.v),
              g AS (SELECT et, v, c,
                           CAST(coalesce(sum(c) OVER (PARTITION BY et
                             ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING), 0) AS BIGINT) AS cum
                    FROM grid),
              p AS (SELECT a.et AS et_a, b.et AS et_b,
                           CAST(sum(a.c) AS BIGINT) AS na,
                           CAST(sum(b.c) AS BIGINT) AS nb,
                           CAST(sum(CAST(a.c AS HUGEINT)
                             * (CAST(b.cum AS HUGEINT) * 2 + b.c))
                             AS BIGINT) AS u2,
                           CAST(sum(CAST(a.c + b.c AS HUGEINT)
                             * (a.c + b.c) * (a.c + b.c) - (a.c + b.c))
                             AS HUGEINT) AS tie3
                    FROM g a JOIN g b ON a.v = b.v AND a.et < b.et
                    GROUP BY 1, 2)
         SELECT et_a, et_b, na, nb, u2,
                CASE WHEN tie3 < CAST(na + nb AS HUGEINT) * (na + nb)
                                 * (na + nb) - (na + nb) THEN
                CAST(CAST(CAST(u2 AS HUGEINT) - CAST(na AS HUGEINT) * nb
                     AS BIGINT) AS DOUBLE)
                  / (2.0 * sqrt(
                      CAST(CAST(CAST(na AS HUGEINT) * nb AS BIGINT)
                           AS DOUBLE) / 12.0
                      * (CAST(na + nb + 1 AS DOUBLE)
                         - CAST(CAST(tie3 AS BIGINT) AS DOUBLE)
                           / CAST(CAST(CAST(na + nb AS HUGEINT)
                                  * (na + nb - 1) AS BIGINT) AS DOUBLE))))
                END AS z
         FROM p ORDER BY 1, 2""")),

    // Spearman rank correlation (part size vs retail price, per brand):
    // tie-aware average ranks kept exact by DOUBLING — 2·r̄ = 2·rank_min
    // + tie_count − 1 is always an integer — then Pearson over the 2r
    // lattice with exact DECIMAL(38,0) moments and one fixed IEEE chain.
    // Rank windows partition by brand (keyed, never global); moments are
    // partial-aggregable.
    Query("agg_spearman_corr", (s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
      val r = Tables.part(s, dir)
        .select(col("p_brand").as("brand"),
                col("p_size").cast("long").as("x"),
                Exact.cents(col("p_retailprice")).as("y"))
        .withColumn("rx2",
          rank().over(W.partitionBy("brand").orderBy("x")).cast("long")
            * 2 + count(lit(1)).over(W.partitionBy("brand", "x")) - 1)
        .withColumn("ry2",
          rank().over(W.partitionBy("brand").orderBy("y")).cast("long")
            * 2 + count(lit(1)).over(W.partitionBy("brand", "y")) - 1)
      r.groupBy("brand")
        .agg(count(lit(1)).as("n"),
             sum("rx2").as("sx"), sum("ry2").as("sy"),
             sum(dec(col("rx2")) * dec(col("ry2"))).as("sxy"),
             sum(dec(col("rx2")) * dec(col("rx2"))).as("sxx"),
             sum(dec(col("ry2")) * dec(col("ry2"))).as("syy"))
        // constant-x or constant-y group ⇒ zero denominator: null rho via
        // EXACT integer guards, never an engine-dependent 0/0
        .select(col("brand"), col("n"),
          when(dec(col("n")) * col("sxx")
                 - dec(col("sx")) * dec(col("sx")) > 0 &&
               dec(col("n")) * col("syy")
                 - dec(col("sy")) * dec(col("sy")) > 0,
            ((dec(col("n")) * col("sxy") - dec(col("sx")) * dec(col("sy")))
               .cast("double")
             / (sqrt((dec(col("n")) * col("sxx")
                      - dec(col("sx")) * dec(col("sx"))).cast("double"))
                * sqrt((dec(col("n")) * col("syy")
                        - dec(col("sy")) * dec(col("sy"))).cast("double")))))
            .as("rho"))
        .orderBy("brand")
    },
      Some("""WITH b AS (SELECT p_brand AS brand, CAST(p_size AS BIGINT) AS x,
                           CAST(round(p_retailprice * 100, 0) AS BIGINT)
                             AS y
                    FROM part),
              r AS (SELECT brand,
                           CAST(rank() OVER (PARTITION BY brand
                             ORDER BY x) AS BIGINT) * 2
                             + count(*) OVER (PARTITION BY brand, x) - 1
                             AS rx2,
                           CAST(rank() OVER (PARTITION BY brand
                             ORDER BY y) AS BIGINT) * 2
                             + count(*) OVER (PARTITION BY brand, y) - 1
                             AS ry2
                    FROM b),
              m AS (SELECT brand, count(*) AS n,
                           CAST(sum(rx2) AS HUGEINT) AS sx,
                           CAST(sum(ry2) AS HUGEINT) AS sy,
                           CAST(sum(CAST(rx2 AS HUGEINT) * ry2)
                                AS HUGEINT) AS sxy,
                           CAST(sum(CAST(rx2 AS HUGEINT) * rx2)
                                AS HUGEINT) AS sxx,
                           CAST(sum(CAST(ry2 AS HUGEINT) * ry2)
                                AS HUGEINT) AS syy
                    FROM r GROUP BY 1)
         SELECT brand, n,
                CASE WHEN n * sxx - sx * sx > 0
                      AND n * syy - sy * sy > 0 THEN
                  CAST(n * sxy - sx * sy AS DOUBLE)
                    / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                       * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
                END AS rho
         FROM m ORDER BY brand""")),

    // Ordered conversion funnel view → click → purchase: a user reaches
    // stage k only via an event at-or-after their stage-(k−1) entry time.
    // Three user-keyed min-aggregates chained by inner joins (each stage
    // frame shrinks), one broadcast of the 1-row top-of-funnel count for
    // the fractions — the product-analytics staple, exact end to end.
    Query("agg_funnel_stages", (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), col("ts"))
        .tracked // three stage scans
      // v is consumed 4× (click join, stage-1 count, top-of-funnel
      // count), c twice — cache the user-keyed aggregates, not just the
      // scan, or each reference repeats the groupBy shuffle
      val v = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts").as("t1")).tracked
      val c = ev.filter(col("event_type") === "click")
        .join(v, "user_id").filter(col("ts") >= col("t1"))
        .groupBy("user_id").agg(min("ts").as("t2")).tracked
      val p = ev.filter(col("event_type") === "purchase")
        .join(c, "user_id").filter(col("ts") >= col("t2"))
        .groupBy("user_id").agg(min("ts").as("t3"))
      val stages = v.agg(count(lit(1)).as("n_users"))
        .select(lit(1L).as("stage"), lit("view").as("stage_name"),
                col("n_users"))
        .unionByName(c.agg(count(lit(1)).as("n_users"))
          .select(lit(2L).as("stage"), lit("click").as("stage_name"),
                  col("n_users")))
        .unionByName(p.agg(count(lit(1)).as("n_users"))
          .select(lit(3L).as("stage"), lit("purchase").as("stage_name"),
                  col("n_users")))
      stages
        .crossJoin(broadcast(v.agg(count(lit(1)).as("n_top"))))
        .withColumn("frac_of_top",
          col("n_users").cast("double") / col("n_top").cast("double"))
        .select("stage", "stage_name", "n_users", "frac_of_top")
        .orderBy("stage")
    },
      Some("""WITH v AS (SELECT user_id, min(ts) AS t1 FROM events
                    WHERE event_type = 'view' GROUP BY 1),
              c AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
                    JOIN v ON v.user_id = e.user_id AND e.ts >= v.t1
                    WHERE e.event_type = 'click' GROUP BY 1),
              p AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
                    JOIN c ON c.user_id = e.user_id AND e.ts >= c.t2
                    WHERE e.event_type = 'purchase' GROUP BY 1),
              s AS (SELECT 1 AS stage, 'view' AS stage_name,
                           count(*) AS n_users FROM v
                    UNION ALL
                    SELECT 2, 'click', count(*) FROM c
                    UNION ALL
                    SELECT 3, 'purchase', count(*) FROM p)
         SELECT CAST(stage AS BIGINT) AS stage, stage_name, n_users,
                CAST(n_users AS DOUBLE)
                  / CAST((SELECT count(*) FROM v) AS DOUBLE) AS frac_of_top
         FROM s ORDER BY stage""")),

    // Cramér's V — the χ² total agg_chi2_contingency deliberately refuses
    // to sum (accumulation order of doubles is not portable), made
    // portable the same way as Kruskal–Wallis: per-cell exact rational
    // contributions (over the FULL type×weekday grid, so empty cells
    // contribute (0−E)²/E like the statistic requires — the observed-only
    // report can't see them), one IEEE division each, folded in a FIXED
    // (type, dow) order via sort_array→aggregate ≡ list_sort→list_reduce.
    // V = sqrt(χ²/(N·min(R−1,C−1))) on 1-row scalars.
    Query("agg_cramers_v", (s, dir) => {
      def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
      val cells = Tables.events(s, dir)
        .groupBy(col("event_type"),
          (weekday(col("ts").cast("date")) + 1).cast("long").as("dow"))
        .agg(count(lit(1)).as("o"))
        .tracked // grid + marginals read it
      val grid = cells.select("event_type").distinct()
        .crossJoin(broadcast(cells.select("dow").distinct()))
        .join(cells, Seq("event_type", "dow"), "left")
        .select(col("event_type"), col("dow"),
                coalesce(col("o"), lit(0L)).as("o"))
      val rowTot = cells.groupBy("event_type").agg(sum("o").as("r"))
      val colTot = cells.groupBy("dow").agg(sum("o").as("c"))
      val n = cells.agg(sum("o").as("n"),
        countDistinct("event_type").as("nr"), countDistinct("dow").as("nc"))
      grid.join(rowTot, "event_type").join(colTot, "dow")
        .crossJoin(broadcast(n))
        .withColumn("dev", col("o") * col("n") - col("r") * col("c"))
        .withColumn("cell", (dec(col("dev")) * dec(col("dev")))
          .cast("double") / (col("n") * col("r") * col("c")).cast("double"))
        .groupBy("n", "nr", "nc")
        .agg(aggregate(sort_array(collect_list(
            struct(col("event_type"), col("dow"), col("cell")))),
          lit(0.0), (a, x) => a + x.getField("cell")).as("chi2"))
        .select(col("n").as("n_total"), col("nr").as("n_rows"),
          col("nc").as("n_cols"), col("chi2"),
          sqrt(col("chi2") / (col("n").cast("double")
            * least(col("nr") - 1, col("nc") - 1).cast("double")))
            .as("cramers_v"))
    },
      Some("""WITH cells AS (SELECT event_type,
                               CAST(isodow(CAST(ts AS DATE)) AS BIGINT)
                                 AS dow,
                               count(*) AS o
                        FROM events GROUP BY 1, 2),
              grid AS (SELECT e.event_type, d.dow, coalesce(c.o, 0) AS o
                       FROM (SELECT DISTINCT event_type FROM cells) e
                       CROSS JOIN (SELECT DISTINCT dow FROM cells) d
                       LEFT JOIN cells c ON c.event_type = e.event_type
                                        AND c.dow = d.dow),
              rt AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS r
                     FROM cells GROUP BY 1),
              ct AS (SELECT dow, CAST(sum(o) AS BIGINT) AS c
                     FROM cells GROUP BY 1),
              n AS (SELECT CAST(sum(o) AS BIGINT) AS n,
                           count(DISTINCT event_type) AS nr,
                           count(DISTINCT dow) AS nc
                    FROM cells),
              j AS (SELECT g.event_type, g.dow, n.n, n.nr, n.nc,
                           g.o * n.n - rt.r * ct.c AS dev, rt.r, ct.c
                    FROM grid g
                    JOIN rt ON rt.event_type = g.event_type
                    JOIN ct ON ct.dow = g.dow
                    CROSS JOIN n),
              t AS (SELECT event_type, dow, n, nr, nc,
                           CAST(CAST(CAST(dev AS HUGEINT) * dev AS BIGINT) AS DOUBLE)
                             / CAST(n * r * c AS DOUBLE) AS cell
                    FROM j),
              f AS (SELECT n AS n_total, nr AS n_rows, nc AS n_cols,
                           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                             list_transform(list_sort(list(struct_pack(
                               event_type := event_type, dow := dow,
                               cell := cell))),
                               x -> x.cell)),
                             (a, b) -> a + b) AS chi2
                    FROM t GROUP BY 1, 2, 3)
         SELECT n_total, n_rows, n_cols, chi2,
                sqrt(chi2 / (CAST(n_total AS DOUBLE)
                  * CAST(least(n_rows - 1, n_cols - 1) AS DOUBLE)))
                  AS cramers_v
         FROM f""")),

    // Cohort LTV curve: cumulative purchase revenue per signup cohort by
    // day-offset, normalized per cohort member — the companion to
    // agg_retention_cohorts that tracks VALUE instead of presence.
    // Revenue reduces to (cohort, offset) cells FIRST (partial-agg), the
    // running total is a keyed window over those cells (cohort-sized
    // partitions of offset-counted rows, never event volume), and cents
    // stay integers until the one ltv division.
    Query("agg_cohort_ltv_curve", (s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("d"),
                col("event_type"), Exact.cents(col("value")).as("cents"))
        .tracked // cohort assignment + revenue cells read it
      val firsts = ev.groupBy("user_id").agg(min(col("d")).as("cohort_date"))
      val sizes = firsts.groupBy("cohort_date")
        .agg(count(lit(1)).as("n_cohort_users"))
      val rev = ev.filter(col("event_type") === "purchase")
        .join(firsts, "user_id")
        .groupBy(col("cohort_date"),
          datediff(col("d"), col("cohort_date")).cast("long")
            .as("day_offset"))
        .agg(sum("cents").as("rev_cents"))
      rev.join(sizes, "cohort_date")
        .withColumn("cum_rev_cents", sum("rev_cents").over(
          W.partitionBy("cohort_date").orderBy("day_offset")
            .rowsBetween(W.unboundedPreceding, W.currentRow)))
        .withColumn("ltv_per_user", col("cum_rev_cents").cast("double")
          / (lit(100.0) * col("n_cohort_users").cast("double")))
        .select("cohort_date", "day_offset", "rev_cents", "cum_rev_cents",
                "n_cohort_users", "ltv_per_user")
        .orderBy("cohort_date", "day_offset")
    },
      Some("""WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS d, event_type,
                            CAST(round(value * 100, 0) AS BIGINT) AS cents
                     FROM events),
              firsts AS (SELECT user_id, min(d) AS cohort_date
                         FROM ev GROUP BY 1),
              sizes AS (SELECT cohort_date, count(*) AS n_cohort_users
                        FROM firsts GROUP BY 1),
              rev AS (SELECT f.cohort_date,
                             CAST(date_diff('day', f.cohort_date, e.d)
                                  AS BIGINT) AS day_offset,
                             CAST(sum(e.cents) AS BIGINT) AS rev_cents
                      FROM ev e JOIN firsts f ON f.user_id = e.user_id
                      WHERE e.event_type = 'purchase' GROUP BY 1, 2),
              c AS (SELECT r.cohort_date, r.day_offset, r.rev_cents,
                           s.n_cohort_users,
                           CAST(sum(r.rev_cents) OVER (
                             PARTITION BY r.cohort_date
                             ORDER BY r.day_offset
                             ROWS BETWEEN UNBOUNDED PRECEDING AND
                             CURRENT ROW) AS BIGINT) AS cum_rev_cents
                    FROM rev r
                    JOIN sizes s ON s.cohort_date = r.cohort_date)
         SELECT cohort_date, day_offset, rev_cents, cum_rev_cents,
                n_cohort_users,
                CAST(cum_rev_cents AS DOUBLE)
                  / (100.0 * CAST(n_cohort_users AS DOUBLE))
                  AS ltv_per_user
         FROM c ORDER BY cohort_date, day_offset""")),

    // Kruskal–Wallis H (the k-group Mann–Whitney): one GLOBAL combined
    // ranking instead of per-pair ranks — doubled tie-average rank at
    // value v is 2r̄ = 2·cum_all(<v) + c_all(v) + 1 (always integer), so
    // each group's doubled rank-sum 2R_i is an exact Σ over its value
    // counts, with the global cumulative from the two-level prefix sum.
    // Per-group terms (2R_i)²/(4n_i) are kept EXACT as q16 fixed-point
    // integers ⌊16·(2R_i)²/(4n_i)⌋, so the cross-group sum is order-free
    // partial aggregation (no double fold of any kind — the previous
    // fixed-order sort_array→aggregate fold proved DuckDB-build-sensitive
    // through list_reduce and HUGEINT→DOUBLE); tie correction
    // 1 − Σ(t³−t)/(N³−N) stays exact until its final division, every
    // →DOUBLE cast routed through BIGINT (the one conversion that is
    // correctly rounded on every build). H rides on every group row via a
    // 1-row broadcast.
    Query("agg_kruskal_wallis", (s, dir) => {
      def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
      val cnt = Tables.events(s, dir)
        .select(col("event_type").as("et"),
                Exact.cents(col("value")).as("v"))
        .groupBy("et", "v").agg(count(lit(1)).as("c"))
        .tracked // read twice: per-value totals and per-group rank sums
      val tot = graft.text.Packing.withStreamOffset(
        cnt.groupBy("v").agg(sum("c").as("ct")),
        "v", "ct", "cum", 1000L)
      val g = cnt.join(tot, "v")
        .groupBy("et")
        .agg(sum("c").as("n"),
             sum(dec(col("c")) * (dec(col("cum")) * lit(2L)
                 + dec(col("ct")) + lit(1L))).as("r2"))
        // q16 fixed-point per-group term ⌊16·R²/(4n)⌋ — an EXACT BIGINT,
        // so the cross-group sum is order-free partial aggregation. The
        // old formulation folded DOUBLE terms in a fixed sort order and
        // leaned on HUGEINT→DOUBLE casts, both of which proved DuckDB-
        // build-sensitive; this needs neither (BIGINT→DOUBLE is the one
        // correctly-rounded-everywhere conversion).
        .withColumn("term_q16", expr("(r2 * r2 * 16) DIV (4 * n)"))
        .tracked // feeds both the H scalar and the report rows
      val ties = tot.agg(
        sum(dec(col("ct")) * dec(col("ct")) * dec(col("ct"))
            - dec(col("ct"))).as("t3"))
      val h = g.agg(sum("n").as("nt"),
          sum(dec(col("term_q16"))).as("sq"))
        .crossJoin(ties)
        .select(col("nt"),
          (lit(12.0)
             / Exact.checkedLong(dec(col("nt")) * dec(col("nt") + 1))
                 .cast("double")
             * (Exact.checkedLong(col("sq")).cast("double") / lit(16.0))
           - lit(3.0) * (col("nt") + 1).cast("double")).as("h"),
          (lit(1.0) - Exact.checkedLong(col("t3")).cast("double")
             / Exact.checkedLong(dec(col("nt")) * dec(col("nt"))
                 * dec(col("nt")) - dec(col("nt"))).cast("double"))
            .as("corr"))
      g.crossJoin(broadcast(h))
        // 2R_i leaves the decimal lattice as a checked BIGINT at output
        .select(col("et").as("event_type"), col("n"),
                Exact.checkedLong(col("r2")).as("r2"),
                col("nt").as("n_total"), col("h"),
                // corr = 0 ⇔ every value tied (one group of size N):
                // null, not an engine-dependent division by zero
                when(col("corr") =!= 0.0, col("h") / col("corr"))
                  .as("h_tie_corrected"))
        .orderBy("event_type")
    },
      Some("""WITH c AS (SELECT event_type AS et,
                           CAST(round(value * 100, 0) AS BIGINT) AS v,
                           count(*) AS c
                    FROM events GROUP BY 1, 2),
              t0 AS (SELECT v, CAST(sum(c) AS BIGINT) AS ct
                     FROM c GROUP BY 1),
              tot AS (SELECT v, ct,
                             CAST(coalesce(sum(ct) OVER (ORDER BY v
                               ROWS BETWEEN UNBOUNDED PRECEDING AND
                               1 PRECEDING), 0) AS BIGINT) AS cum
                      FROM t0),
              g AS (SELECT c.et, CAST(sum(c.c) AS BIGINT) AS n,
                           CAST(sum(CAST(c.c AS HUGEINT)
                             * (CAST(tot.cum AS HUGEINT) * 2 + tot.ct + 1))
                             AS DECIMAL(38,0)) AS r2
                    FROM c JOIN tot ON tot.v = c.v GROUP BY 1),
              terms AS (SELECT et, n, r2,
                               CAST(CAST(r2 AS HUGEINT) * CAST(r2 AS HUGEINT)
                                    * 16 // (4 * CAST(n AS HUGEINT))
                                    AS BIGINT) AS term_q16
                        FROM g),
              ties AS (SELECT CAST(sum(CAST(ct AS HUGEINT) * ct * ct - ct)
                              AS BIGINT) AS t3
                       FROM t0),
              hh AS (SELECT CAST(sum(n) AS BIGINT) AS nt,
                            CAST(sum(CAST(term_q16 AS HUGEINT)) AS BIGINT)
                              AS sq
                     FROM terms),
              hs AS (SELECT nt,
                            12.0 / CAST(CAST(CAST(nt AS HUGEINT) * (nt + 1)
                                        AS BIGINT) AS DOUBLE)
                              * (CAST(sq AS DOUBLE) / 16.0)
                              - 3.0 * CAST(nt + 1 AS DOUBLE) AS h,
                            1.0 - CAST((SELECT t3 FROM ties) AS DOUBLE)
                              / CAST(CAST(CAST(nt AS HUGEINT) * nt * nt - nt
                                     AS BIGINT) AS DOUBLE) AS corr
                     FROM hh)
         SELECT terms.et AS event_type, terms.n,
                CAST(terms.r2 AS BIGINT) AS r2,
                hs.nt AS n_total, hs.h,
                CASE WHEN hs.corr <> 0.0 THEN hs.h / hs.corr
                END AS h_tie_corrected
         FROM terms CROSS JOIN hs ORDER BY event_type""")),

    // Shannon entropy of the event-type mix per ISO weekday — the label-
    // balance diagnostic every training pipeline runs over its class/source
    // distribution. Real logarithms are NOT bitwise portable across
    // engines (libm last-ulp drift, measured at ~0.006%/200k samples), so
    // the per-type term uses graft.functions.FixedLog2: a deterministic
    // 20-fractional-bit integer log2 whose per-row value is one exact
    // BIGINT on any engine — sums stay order-free and partial-aggregable
    // (no sorted-list folds). H_bits = (N·log2fp(N) − Σ c·log2fp(c)) /
    // (N·2^20) via the identity H = log2 N − (1/N)Σ c log2 c.
    Query("agg_entropy_by_group", (s, dir) => {
      def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
      val L = graft.functions.FixedLog2.log2_fp _
      val c = Tables.events(s, dir)
        .groupBy((weekday(to_date(col("ts"))) + 1).cast("long").as("dow"),
                 col("event_type"))
        .agg(count(lit(1)).as("c"))
      c.groupBy("dow")
        .agg(sum(col("c")).as("n_events"),
             count(lit(1)).as("n_types"),
             sum(dec(col("c")) * dec(L(col("c")))).as("sclog"))
        .select(col("dow"), col("n_events"), col("n_types"),
          ((dec(col("n_events")) * dec(L(col("n_events"))) - col("sclog"))
             .cast("double")
           / col("n_events").cast("double") / lit(1048576.0))
            .as("entropy_bits"))
        .orderBy("dow")
    },
      Some {
      val lc = graft.functions.FixedLog2.sql("c")
      val ln = graft.functions.FixedLog2.sql("n_events")
      s"""WITH c AS (SELECT CAST(isodow(CAST(ts AS DATE)) AS BIGINT) AS dow,
                            event_type, count(*) AS c
                     FROM events GROUP BY 1, 2),
               g AS (SELECT dow, CAST(sum(c) AS BIGINT) AS n_events,
                            count(*) AS n_types,
                            CAST(sum(CAST(c AS HUGEINT) * $lc) AS HUGEINT)
                              AS sclog
                     FROM c GROUP BY 1)
          SELECT dow, n_events, n_types,
                 CAST(CAST(CAST(n_events AS HUGEINT) * $ln - sclog AS BIGINT) AS DOUBLE)
                   / CAST(n_events AS DOUBLE) / 1048576.0 AS entropy_bits
          FROM g ORDER BY dow"""
      }),

    // Theil T inequality index of order revenue per market segment:
    // T = (1/n)Σ (x/μ)ln(x/μ). On the cents lattice x_i/μ = c_i·n/S
    // exactly, so the per-row term is c_i·(log2fp(c_i·n) − log2fp(S)) —
    // exact integers, decimal-summed order-free — and one final double
    // conversion applies ln2/(S·2^20). The broadcast join-back of the
    // 5-row segment aggregate is the standard two-pass moment shape.
    Query("agg_theil_index", (s, dir) => {
      def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
      val L = graft.functions.FixedLog2.log2_fp _
      val o = Tables.orders(s, dir)
        .select(col("o_custkey"), Exact.cents(col("o_totalprice")).as("cents"))
      val cust = Tables.customer(s, dir)
        .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
      val j = o.join(broadcast(cust), "o_custkey")
        .select("c_mktsegment", "cents").tracked
      val g = j.groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("s_cents"))
      j.join(broadcast(g), "c_mktsegment")
        .withColumn("term",
          dec(col("cents")) * dec(L(col("cents") * col("n")) -
                                  L(col("s_cents"))))
        .groupBy("c_mktsegment")
        .agg(first(col("n")).as("n_orders"),
             first(col("s_cents")).as("sc"),
             sum(col("term")).as("tnum"))
        .select(col("c_mktsegment"), col("n_orders"),
          (col("sc").cast("double") / lit(100.0)).as("total_revenue"),
          (col("tnum").cast("double") * lit(0.6931471805599453)
            / (col("sc").cast("double") * lit(1048576.0)))
            .as("theil"))
        .orderBy("c_mktsegment")
    },
      Some {
      val lcn = graft.functions.FixedLog2.sql("cn")
      val ls = graft.functions.FixedLog2.sql("s_cents")
      s"""WITH j AS (SELECT c.c_mktsegment,
                            CAST(round(o.o_totalprice * 100, 0) AS BIGINT)
                              AS cents
                     FROM orders o JOIN customer c
                       ON o.o_custkey = c.c_custkey),
               g AS (SELECT c_mktsegment, count(*) AS n,
                            CAST(sum(cents) AS BIGINT) AS s_cents
                     FROM j GROUP BY 1),
               t AS (SELECT j.c_mktsegment, j.cents, g.n, g.s_cents,
                            j.cents * g.n AS cn
                     FROM j JOIN g ON j.c_mktsegment = g.c_mktsegment),
               u AS (SELECT c_mktsegment,
                            CAST(cents AS HUGEINT) * ($lcn - $ls) AS term,
                            n, s_cents
                     FROM t)
          SELECT c_mktsegment, any_value(n) AS n_orders,
                 CAST(any_value(s_cents) AS DOUBLE) / 100.0
                   AS total_revenue,
                 CAST(sum(term) AS DOUBLE) * 0.6931471805599453
                   / (CAST(any_value(s_cents) AS DOUBLE) * 1048576.0)
                   AS theil
          FROM u GROUP BY 1 ORDER BY 1"""
      }),

    // Mutual information between event type and ISO weekday (one row):
    // MI = Σ p(x,y)·log2(p(x,y)/(p(x)p(y))) = (Σ c_xy·(log2fp(c_xy·N) −
    // log2fp(c_x·c_y))) / (N·2²⁰) on the FixedLog2 lattice — exact
    // integers end to end, alongside both marginal entropies (the
    // normalizers for NMI). The feature-vs-label dependence screen a
    // training pipeline runs before trusting a stratification column.
    Query("agg_mutual_information", (s, dir) => {
      def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
      val L = graft.functions.FixedLog2.log2_fp _
      val cells = Tables.events(s, dir)
        .groupBy(col("event_type"),
                 (weekday(to_date(col("ts"))) + 1).cast("long").as("dow"))
        .agg(count(lit(1)).as("c_xy")).tracked
      val mx = cells.groupBy("event_type").agg(sum(col("c_xy")).as("c_x"))
        .tracked
      val my = cells.groupBy("dow").agg(sum(col("c_xy")).as("c_y")).tracked
      val n = cells.agg(sum(col("c_xy")).as("n"))
      val mi = cells.join(broadcast(mx), "event_type")
        .join(broadcast(my), "dow")
        .crossJoin(broadcast(n.select(col("n").as("nn"))))
        .withColumn("mterm",
          dec(col("c_xy")) * dec(L(col("c_xy") * col("nn")) -
                                 L(col("c_x") * col("c_y"))))
        .agg(sum(col("mterm")).as("minum"))
      val hx = mx.agg(sum(dec(col("c_x")) * dec(L(col("c_x")))).as("sxlog"))
      val hy = my.agg(sum(dec(col("c_y")) * dec(L(col("c_y")))).as("sylog"))
      n.crossJoin(broadcast(mi)).crossJoin(broadcast(hx))
        .crossJoin(broadcast(hy))
        .select(col("n"),
          (col("minum").cast("double") / col("n").cast("double")
            / lit(1048576.0)).as("mi_bits"),
          ((dec(col("n")) * dec(L(col("n"))) - col("sxlog")).cast("double")
            / col("n").cast("double") / lit(1048576.0)).as("h_type_bits"),
          ((dec(col("n")) * dec(L(col("n"))) - col("sylog")).cast("double")
            / col("n").cast("double") / lit(1048576.0)).as("h_dow_bits"))
    },
      Some {
      val lxy = graft.functions.FixedLog2.sql("cn")
      val lmm = graft.functions.FixedLog2.sql("cxy")
      val lcx = graft.functions.FixedLog2.sql("c_x")
      val lcy = graft.functions.FixedLog2.sql("c_y")
      val ln = graft.functions.FixedLog2.sql("n")
      s"""WITH cells AS (SELECT event_type,
                                CAST(isodow(CAST(ts AS DATE)) AS BIGINT)
                                  AS dow,
                                count(*) AS c_xy
                         FROM events GROUP BY 1, 2),
               mx AS (SELECT event_type, CAST(sum(c_xy) AS BIGINT) AS c_x
                      FROM cells GROUP BY 1),
               my AS (SELECT dow, CAST(sum(c_xy) AS BIGINT) AS c_y
                      FROM cells GROUP BY 1),
               nn AS (SELECT CAST(sum(c_xy) AS BIGINT) AS n FROM cells),
               terms AS (SELECT cells.c_xy,
                                cells.c_xy * nn.n AS cn,
                                mx.c_x * my.c_y AS cxy
                         FROM cells JOIN mx ON mx.event_type = cells.event_type
                                    JOIN my ON my.dow = cells.dow
                                    CROSS JOIN nn),
               mi AS (SELECT CAST(sum(CAST(c_xy AS HUGEINT)
                          * ($lxy - $lmm)) AS HUGEINT) AS minum
                      FROM terms),
               hx AS (SELECT CAST(sum(CAST(c_x AS HUGEINT) * $lcx)
                          AS HUGEINT) AS sxlog FROM mx),
               hy AS (SELECT CAST(sum(CAST(c_y AS HUGEINT) * $lcy)
                          AS HUGEINT) AS sylog FROM my)
          SELECT n,
                 CAST(minum AS DOUBLE) / CAST(n AS DOUBLE) / 1048576.0
                   AS mi_bits,
                 CAST(CAST(CAST(n AS HUGEINT) * $ln - sxlog AS BIGINT) AS DOUBLE)
                   / CAST(n AS DOUBLE) / 1048576.0 AS h_type_bits,
                 CAST(CAST(CAST(n AS HUGEINT) * $ln - sylog AS BIGINT) AS DOUBLE)
                   / CAST(n AS DOUBLE) / 1048576.0 AS h_dow_bits
          FROM nn CROSS JOIN mi CROSS JOIN hx CROSS JOIN hy"""
      }),

    // Kaplan–Meier survival over user lifetimes (first→last event day):
    // S(t) = Π_{i≤t}(1 − dᵢ/nᵢ) is a product of exact rationals, kept
    // portable as log2 S(t) = Σ(log2fp(nᵢ−dᵢ) − log2fp(nᵢ)) — an exact
    // lattice prefix sum over the lifetime histogram (bounded by max
    // lifetime, so the deliberate single-partition window is justified
    // and keyed non-foldably). NULL once survivors hit zero (S = 0, log
    // undefined). The retention-curve statistic behind cohort LTV.
    Query("agg_kaplan_meier", (s, dir) => {
      val L = graft.functions.FixedLog2.log2_fp _
      val lives = Tables.events(s, dir)
        .groupBy("user_id")
        .agg(datediff(max(to_date(col("ts"))), min(to_date(col("ts"))))
          .cast("long").as("t"))
      val hist = lives.groupBy("t").agg(count(lit(1)).as("d"))
      val W = org.apache.spark.sql.expressions.Window
      val base = W.partitionBy(Exact.onePartition(col("t"))).orderBy("t")
      val suffix = base.rowsBetween(W.currentRow, W.unboundedFollowing)
      val prefix = base.rowsBetween(W.unboundedPreceding, W.currentRow)
      hist
        .withColumn("n_at_risk", sum(col("d")).over(suffix))
        .withColumn("surv",
          when(col("n_at_risk") > col("d"),
            L(col("n_at_risk") - col("d")) - L(col("n_at_risk"))))
        .withColumn("log2_survival",
          when(col("surv").isNotNull,
            sum(col("surv")).over(prefix).cast("double") / lit(1048576.0)))
        .select(col("t").as("lifetime_days"), col("n_at_risk"),
          col("d").as("n_churned"), col("log2_survival"))
        .orderBy("lifetime_days")
    },
      Some {
      val ls = graft.functions.FixedLog2.sql("svv")
      val ln = graft.functions.FixedLog2.sql("n_at_risk")
      s"""WITH lives AS (SELECT user_id,
                           CAST(date_diff('day', min(CAST(ts AS DATE)),
                             max(CAST(ts AS DATE))) AS BIGINT) AS t
                         FROM events GROUP BY 1),
               hist AS (SELECT t, count(*) AS d FROM lives GROUP BY 1),
               ar AS (SELECT t, d,
                        CAST(sum(d) OVER (ORDER BY t ROWS BETWEEN
                          CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT)
                          AS n_at_risk
                      FROM hist),
               sv AS (SELECT t, d, n_at_risk,
                        n_at_risk - d AS svv
                      FROM ar),
               tm AS (SELECT t, d, n_at_risk,
                        CASE WHEN n_at_risk > d
                          THEN $ls - $ln END AS surv
                      FROM sv)
          SELECT t AS lifetime_days, n_at_risk, d AS n_churned,
                 CASE WHEN surv IS NOT NULL THEN
                   CAST(sum(surv) OVER (ORDER BY t ROWS BETWEEN
                     UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                     / 1048576.0 END AS log2_survival
          FROM tm ORDER BY lifetime_days"""
      }),

    // One-way ANOVA F across event types on value cents — the "does this
    // slice move the metric" test a feature pipeline runs before shipping
    // a segment. Per-group moments (n, Σc, Σc²) come from ONE
    // partial-aggregable scan (Σc² summed in DECIMAL(38,0) so the moment
    // never wraps at corpus scale — the emb_centroid_drift lesson); the k
    // between-group terms s_g²/n_g spend one IEEE division each and fold
    // in a FIXED event_type order (sort_array→aggregate ≡
    // list_sort→list_reduce, the Cramér's-V discipline), so F is bitwise
    // portable. k is the bounded type universe, never event volume.
    Query("agg_anova_f", (s, dir) =>
      fixedFoldF(Tables.events(s, dir)
          .select(col("event_type"), Exact.cents(col("value")).as("v")))
        .select(col("k"), col("n_total"), col("ssb"), col("ssw"),
                col("stat").as("f_stat")),
      Some(s"""WITH c AS (SELECT event_type,
                            CAST(round(value * 100, 0) AS BIGINT) AS c
                     FROM events),
              ${duckFixedFoldF("c", "c")}
         SELECT k, n_total, ssb, ssw,
                (ssb / CAST(k - 1 AS DOUBLE))
                  / (ssw / CAST(n_total - k AS DOUBLE)) AS f_stat
         FROM f""")),

    // Brown–Forsythe (median-based Levene) variance-equality test across
    // event types — the heteroscedasticity gate that decides whether
    // agg_anova_f's pooled-variance assumption holds. The per-type median
    // stays exact as 2·median = the two middle order statistics (rank
    // picks via conditional sums — no DOUBLE percentile); spreads
    // z = |2c − 2·median| are exact BIGINTs; then the same fixed-fold
    // one-way-F chain as agg_anova_f runs on z. Two scans of the cents
    // frame (rank pick + spread moments), both keyed by type.
    Query("agg_levene_bf", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
      val v = Tables.events(s, dir)
        .select(col("event_type"), Exact.cents(col("value")).as("c"))
        .tracked // median ranks + spread moments read it
      val med2 = v
        .withColumn("rn", row_number().over(
          w.partitionBy("event_type").orderBy("c")).cast("long"))
        .withColumn("n", count(lit(1)).over(w.partitionBy("event_type")))
        .groupBy("event_type")
        .agg((sum(when(col("rn") === expr("(n + 1) div 2"), col("c"))
                .otherwise(0L))
              + sum(when(col("rn") === expr("(n + 2) div 2"), col("c"))
                .otherwise(0L))).as("m2"))
      fixedFoldF(v.join(broadcast(med2), "event_type")
          .select(col("event_type"),
                  abs(col("c") * 2 - col("m2")).as("v")))
        .select(col("k"), col("n_total"), col("stat").as("w_stat"))
    },
      Some(s"""WITH v AS (SELECT event_type,
                           CAST(round(value * 100, 0) AS BIGINT) AS c
                    FROM events),
              r AS (SELECT event_type, c,
                           CAST(row_number() OVER (PARTITION BY event_type
                             ORDER BY c) AS BIGINT) AS rn,
                           count(*) OVER (PARTITION BY event_type) AS n
                    FROM v),
              md AS (SELECT event_type,
                            CAST(sum(CASE WHEN rn = (n + 1) // 2 THEN c
                                          ELSE 0 END)
                              + sum(CASE WHEN rn = (n + 2) // 2 THEN c
                                         ELSE 0 END) AS BIGINT) AS m2
                     FROM r GROUP BY 1),
              z AS (SELECT v.event_type, abs(v.c * 2 - md.m2) AS z
                    FROM v JOIN md ON md.event_type = v.event_type),
              ${duckFixedFoldF("z", "z")}
         SELECT k, n_total,
                (ssb / CAST(k - 1 AS DOUBLE))
                  / (ssw / CAST(n_total - k AS DOUBLE)) AS w_stat
         FROM f""")),

    // CUPED variance reduction — the experimentation-platform adjustment:
    // split users into pseudo-arms by the seedless spread hash, use each
    // user's first-half-of-window mean value as the pre-period covariate,
    // and report the hash-arm difference raw vs CUPED-adjusted
    // (diff − θ·covariate-diff) plus θ and ρ² (the variance fraction the
    // covariate removes). Per-user means live on the ·10⁴ floor-div
    // lattice; θ and ρ² come from exact DECIMAL(38,0) cross-moments with
    // one IEEE division each. One partial-agg pass to user cells, one to
    // arm/global moments; the window-midpoint scalar is a 1-row
    // broadcast.
    Query("agg_cuped_adjustment", (s, dir) => {
      def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
      def d(c: org.apache.spark.sql.Column) = c.cast("double")
      val ev = Tables.events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("dt"),
                Exact.cents(col("value")).as("c"))
        .tracked // midpoint scalar + user cells read it
      val mid = ev.agg(date_add(min(col("dt")), 15).as("mid_d"))
      val users = ev.crossJoin(broadcast(mid))
        .groupBy("user_id")
        .agg(sum(when(col("dt") < col("mid_d"), col("c"))).as("sx"),
             sum(when(col("dt") < col("mid_d"), 1L)).as("nx"),
             sum(when(col("dt") >= col("mid_d"), col("c"))).as("sy"),
             sum(when(col("dt") >= col("mid_d"), 1L)).as("ny"))
        .filter(col("nx").isNotNull && col("ny").isNotNull)
        .withColumn("x", expr("(sx * 10000) div nx"))
        .withColumn("y", expr("(sy * 10000) div ny"))
        .withColumn("arm",
          pmod(graft.olap.Sketch.spreadHash(col("user_id")), lit(2)))
        .select("user_id", "arm", "x", "y")
        .tracked // pooled moments + per-arm means read it
      val pooled = users.agg(count(lit(1)).as("n"),
          sum("x").as("sx"), sum("y").as("sy"),
          sum(dec(col("x")) * dec(col("x"))).as("sxx"),
          sum(dec(col("x")) * dec(col("y"))).as("sxy"),
          sum(dec(col("y")) * dec(col("y"))).as("syy"))
        .withColumn("theta",
          (dec(col("n")) * col("sxy") - dec(col("sx")) * dec(col("sy")))
            .cast("double")
          / (dec(col("n")) * col("sxx") - dec(col("sx")) * dec(col("sx")))
            .cast("double"))
        .withColumn("rho2",
          ((dec(col("n")) * col("sxy") - dec(col("sx")) * dec(col("sy")))
             .cast("double")
           * (dec(col("n")) * col("sxy") - dec(col("sx")) * dec(col("sy")))
             .cast("double"))
          / ((dec(col("n")) * col("sxx") - dec(col("sx")) * dec(col("sx")))
               .cast("double")
             * (dec(col("n")) * col("syy") - dec(col("sy")) * dec(col("sy")))
               .cast("double")))
      val arms = users.groupBy("arm")
        .agg(count(lit(1)).as("na"), sum("x").as("sxa"), sum("y").as("sya"))
      val a0 = arms.filter(col("arm") === 0)
        .select(col("na").as("n_a"), col("sxa").as("sx_a"),
                col("sya").as("sy_a"))
      val a1 = arms.filter(col("arm") === 1)
        .select(col("na").as("n_b"), col("sxa").as("sx_b"),
                col("sya").as("sy_b"))
      a0.crossJoin(a1).crossJoin(broadcast(pooled))
        .withColumn("diff_raw",
          d(col("sy_a")) / d(col("n_a")) - d(col("sy_b")) / d(col("n_b")))
        .withColumn("diff_x",
          d(col("sx_a")) / d(col("n_a")) - d(col("sx_b")) / d(col("n_b")))
        .select(col("n_a"), col("n_b"),
          (col("diff_raw") / lit(10000.0) / lit(100.0)).as("diff_raw"),
          ((col("diff_raw") - col("theta") * col("diff_x"))
            / lit(10000.0) / lit(100.0)).as("diff_cuped"),
          col("theta"), col("rho2"))
    },
      Some("""WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS dt,
                            CAST(round(value * 100, 0) AS BIGINT) AS c
                     FROM events),
              mid AS (SELECT min(dt) + 15 AS mid_d FROM ev),
              uu AS (SELECT user_id,
                            CAST(sum(CASE WHEN dt < mid_d THEN c END)
                              AS BIGINT) AS sx,
                            CAST(sum(CASE WHEN dt < mid_d THEN 1 END)
                              AS BIGINT) AS nx,
                            CAST(sum(CASE WHEN dt >= mid_d THEN c END)
                              AS BIGINT) AS sy,
                            CAST(sum(CASE WHEN dt >= mid_d THEN 1 END)
                              AS BIGINT) AS ny
                     FROM ev CROSS JOIN mid GROUP BY 1),
              ux AS (SELECT user_id, (sx * 10000) // nx AS x,
                            (sy * 10000) // ny AS y
                     FROM uu
                     WHERE nx IS NOT NULL AND ny IS NOT NULL),
              f AS (SELECT user_id, x, y,
                      list_reduce(list_prepend(CAST(0 AS BIGINT),
                        list_transform(
                          string_split(CAST(user_id AS VARCHAR), ''),
                          ch -> CAST(ascii(ch) AS BIGINT))),
                        (a, c) -> (a * 31 + c) % 2147483647) AS h0
                    FROM ux),
              m1 AS (SELECT user_id, x, y,
                       (h0 * 1103515245 + 12345) % 2147483647 AS h1 FROM f),
              m2 AS (SELECT user_id, x, y, (h1 * h1) % 2147483647 AS h2
                     FROM m1),
              ar AS (SELECT user_id, x, y,
                       ((h2 * 69069 + 362437) % 2147483647) % 2 AS arm
                     FROM m2),
              po AS (SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS sx,
                            CAST(sum(y) AS BIGINT) AS sy,
                            CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT)
                              AS sxx,
                            CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT)
                              AS sxy,
                            CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT)
                              AS syy
                     FROM ar),
              th AS (SELECT n,
                            CAST(CAST(CAST(n AS HUGEINT) * sxy
                                 - CAST(sx AS HUGEINT) * sy AS BIGINT) AS DOUBLE)
                              / CAST(CAST(CAST(n AS HUGEINT) * sxx
                                 - CAST(sx AS HUGEINT) * sx AS BIGINT) AS DOUBLE)
                              AS theta,
                            (CAST(CAST(CAST(n AS HUGEINT) * sxy
                                  - CAST(sx AS HUGEINT) * sy AS BIGINT) AS DOUBLE)
                             * CAST(CAST(CAST(n AS HUGEINT) * sxy
                                  - CAST(sx AS HUGEINT) * sy AS BIGINT) AS DOUBLE))
                              / (CAST(CAST(CAST(n AS HUGEINT) * sxx
                                   - CAST(sx AS HUGEINT) * sx AS BIGINT) AS DOUBLE)
                                 * CAST(CAST(CAST(n AS HUGEINT) * syy
                                   - CAST(sy AS HUGEINT) * sy AS BIGINT) AS DOUBLE))
                              AS rho2
                     FROM po),
              am AS (SELECT arm, count(*) AS na,
                            CAST(sum(x) AS BIGINT) AS sxa,
                            CAST(sum(y) AS BIGINT) AS sya
                     FROM ar GROUP BY 1),
              ab AS (SELECT a0.na AS n_a, a1.na AS n_b,
                            CAST(a0.sya AS DOUBLE) / CAST(a0.na AS DOUBLE)
                              - CAST(a1.sya AS DOUBLE)
                                / CAST(a1.na AS DOUBLE) AS diff_raw,
                            CAST(a0.sxa AS DOUBLE) / CAST(a0.na AS DOUBLE)
                              - CAST(a1.sxa AS DOUBLE)
                                / CAST(a1.na AS DOUBLE) AS diff_x
                     FROM (SELECT * FROM am WHERE arm = 0) a0
                     CROSS JOIN (SELECT * FROM am WHERE arm = 1) a1)
         SELECT ab.n_a, ab.n_b,
                ab.diff_raw / 10000.0 / 100.0 AS diff_raw,
                (ab.diff_raw - th.theta * ab.diff_x) / 10000.0 / 100.0
                  AS diff_cuped,
                th.theta, th.rho2
         FROM ab CROSS JOIN th""")),

    // Delta-method standard error of a ratio metric (value per event)
    // under user-level clustering — the correct SE every experimentation
    // platform needs because events within a user correlate: naive
    // per-event SE is anticonservative. Per-user totals (x = events,
    // y = cents) are exact integers from one partial-agg pass;
    // R = ȳ/x̄ and Var(R) ≈ (Var(y) − 2R·Cov + R²·Var(x))/(n·x̄²) use
    // exact DECIMAL(38,0) moments with a FIXED IEEE chain (each moment
    // one division, combined once). Output in dollars per event.
    Query("agg_ratio_delta_se", (s, dir) => {
      def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
      def d(c: org.apache.spark.sql.Column) = c.cast("double")
      val u = Tables.events(s, dir)
        .groupBy("user_id")
        .agg(count(lit(1)).as("x"), sum(Exact.cents(col("value"))).as("y"))
      u.agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
            sum(dec(col("x")) * dec(col("x"))).as("sxx"),
            sum(dec(col("x")) * dec(col("y"))).as("sxy"),
            sum(dec(col("y")) * dec(col("y"))).as("syy"))
        .withColumn("xbar", d(col("sx")) / d(col("n")))
        .withColumn("r", d(col("sy")) / d(col("sx")))
        .withColumn("var_x",
          (dec(col("n")) * col("sxx") - dec(col("sx")) * dec(col("sx")))
            .cast("double") / d(col("n") * (col("n") - 1)))
        .withColumn("var_y",
          (dec(col("n")) * col("syy") - dec(col("sy")) * dec(col("sy")))
            .cast("double") / d(col("n") * (col("n") - 1)))
        .withColumn("cov_xy",
          (dec(col("n")) * col("sxy") - dec(col("sx")) * dec(col("sy")))
            .cast("double") / d(col("n") * (col("n") - 1)))
        .select(col("n").as("n_users"),
          (col("r") / lit(100.0)).as("ratio"),
          (sqrt((col("var_y") - lit(2.0) * col("r") * col("cov_xy")
                 + col("r") * col("r") * col("var_x"))
                / (d(col("n")) * col("xbar") * col("xbar")))
            / lit(100.0)).as("se_delta"))
    },
      Some("""WITH u AS (SELECT user_id, count(*) AS x,
                           CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
                             AS BIGINT) AS y
                    FROM events GROUP BY 1),
              po AS (SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS sx,
                            CAST(sum(y) AS BIGINT) AS sy,
                            CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT)
                              AS sxx,
                            CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT)
                              AS sxy,
                            CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT)
                              AS syy
                     FROM u),
              m AS (SELECT n,
                           CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS xbar,
                           CAST(sy AS DOUBLE) / CAST(sx AS DOUBLE) AS r,
                           CAST(CAST(CAST(n AS HUGEINT) * sxx
                                - CAST(sx AS HUGEINT) * sx AS BIGINT) AS DOUBLE)
                             / CAST(n * (n - 1) AS DOUBLE) AS var_x,
                           CAST(CAST(CAST(n AS HUGEINT) * syy
                                - CAST(sy AS HUGEINT) * sy AS BIGINT) AS DOUBLE)
                             / CAST(n * (n - 1) AS DOUBLE) AS var_y,
                           CAST(CAST(CAST(n AS HUGEINT) * sxy
                                - CAST(sx AS HUGEINT) * sy AS BIGINT) AS DOUBLE)
                             / CAST(n * (n - 1) AS DOUBLE) AS cov_xy
                    FROM po)
         SELECT n AS n_users, r / 100.0 AS ratio,
                sqrt((var_y - 2.0 * r * cov_xy + r * r * var_x)
                     / (CAST(n AS DOUBLE) * xbar * xbar)) / 100.0
                  AS se_delta
         FROM m""")),

    // Pooled-variance Student t, Cohen's d effect size and the
    // Welch–Satterthwaite df for every event-type pair — the effect-size
    // report A/B readouts need next to agg_two_sample_z's z. Moments are
    // exact (cents lattice, DECIMAL(38,0) cross terms); the t/d/df
    // formulas spend fixed IEEE chains mirrored verbatim in the oracle.
    Query("agg_effect_size_t", (s, dir) => {
      def d(c: org.apache.spark.sql.Column) = c.cast("double")
      def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
      val stats = Tables.events(s, dir)
        .select(col("event_type"), Exact.cents(col("value")).as("c"))
        .groupBy("event_type")
        // second moment in DECIMAL(38,0): a raw BIGINT c·c sum wraps
        // SILENTLY at corpus scale on Spark while the oracle's HUGEINT
        // sum → BIGINT cast aborts loudly — the decimal lattice keeps
        // both engines exact (the neighboring anova/mde discipline)
        .agg(count(lit(1)).as("n"), sum(col("c")).as("sc"),
             sum(dec(col("c")) * dec(col("c"))).as("ss"))
        .tracked // both sides of the pair self-join
      val a = stats.select(col("event_type").as("et_a"), col("n").as("na"),
        col("sc").as("sca"), col("ss").as("ssa"))
      val b = stats.select(col("event_type").as("et_b"), col("n").as("nb"),
        col("sc").as("scb"), col("ss").as("ssb"))
      val ma = d(col("sca")) / d(col("na"))
      val mb = d(col("scb")) / d(col("nb"))
      val va = (dec(col("na")) * dec(col("ssa"))
        - dec(col("sca")) * dec(col("sca"))).cast("double") /
        d(col("na") * (col("na") - 1L))
      val vb = (dec(col("nb")) * dec(col("ssb"))
        - dec(col("scb")) * dec(col("scb"))).cast("double") /
        d(col("nb") * (col("nb") - 1L))
      val sp2 = (d(col("na") - 1L) * va + d(col("nb") - 1L) * vb) /
        d(col("na") + col("nb") - 2L)
      val vna = va / d(col("na"))
      val vnb = vb / d(col("nb"))
      a.join(b, col("et_a") < col("et_b"))
        .select(col("et_a"), col("et_b"), col("na"), col("nb"),
          ((ma - mb) / (sqrt(sp2)
            * sqrt(lit(1.0) / d(col("na")) + lit(1.0) / d(col("nb")))))
            .as("t_pooled"),
          ((ma - mb) / sqrt(sp2)).as("cohen_d"),
          ((vna + vnb) * (vna + vnb)
            / (vna * vna / d(col("na") - 1L)
               + vnb * vnb / d(col("nb") - 1L))).as("df_welch"))
        .orderBy("et_a", "et_b")
    },
      Some("""WITH st AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
                     AS BIGINT) AS sc,
                   CAST(sum(CAST(round(value * 100, 0) AS BIGINT)
                          * CAST(round(value * 100, 0) AS BIGINT))
                     AS BIGINT) AS ss
            FROM events GROUP BY 1),
     pr AS (SELECT a.event_type AS et_a, b.event_type AS et_b,
                   a.n AS na, b.n AS nb,
                   CAST(a.sc AS DOUBLE) / CAST(a.n AS DOUBLE) AS ma,
                   CAST(b.sc AS DOUBLE) / CAST(b.n AS DOUBLE) AS mb,
                   CAST(CAST(CAST(a.n AS HUGEINT) * a.ss
                        - CAST(a.sc AS HUGEINT) * a.sc AS BIGINT) AS DOUBLE)
                     / CAST(a.n * (a.n - 1) AS DOUBLE) AS va,
                   CAST(CAST(CAST(b.n AS HUGEINT) * b.ss
                        - CAST(b.sc AS HUGEINT) * b.sc AS BIGINT) AS DOUBLE)
                     / CAST(b.n * (b.n - 1) AS DOUBLE) AS vb
            FROM st a JOIN st b ON a.event_type < b.event_type)
         SELECT et_a, et_b, na, nb,
                (ma - mb)
                  / (sqrt((CAST(na - 1 AS DOUBLE) * va
                           + CAST(nb - 1 AS DOUBLE) * vb)
                          / CAST(na + nb - 2 AS DOUBLE))
                     * sqrt(1.0 / CAST(na AS DOUBLE)
                            + 1.0 / CAST(nb AS DOUBLE))) AS t_pooled,
                (ma - mb)
                  / sqrt((CAST(na - 1 AS DOUBLE) * va
                          + CAST(nb - 1 AS DOUBLE) * vb)
                         / CAST(na + nb - 2 AS DOUBLE)) AS cohen_d,
                (va / CAST(na AS DOUBLE) + vb / CAST(nb AS DOUBLE))
                  * (va / CAST(na AS DOUBLE) + vb / CAST(nb AS DOUBLE))
                  / ((va / CAST(na AS DOUBLE)) * (va / CAST(na AS DOUBLE))
                       / CAST(na - 1 AS DOUBLE)
                     + (vb / CAST(nb AS DOUBLE)) * (vb / CAST(nb AS DOUBLE))
                       / CAST(nb - 1 AS DOUBLE)) AS df_welch
         FROM pr ORDER BY et_a, et_b""")),

    // 10% trimmed mean per type WITHOUT a row-level rank: cumulative
    // counts over the (type, value) HISTOGRAM cells (keyed window over
    // the value support, never event rows), each cell contributing
    // max(0, overlap of its cumulative range with the kept band) — the
    // robust-location estimate at 100 TB, where sorting rows per key is
    // the thing you must not do.
    Query("agg_trimmed_mean", (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_type"), Exact.cents(col("value")).as("c"))
      val cells = ev.groupBy("event_type", "c")
        .agg(count(lit(1)).as("cnt"))
      val wc = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy("c")
        .rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val tot = ev.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("c").as("s_all"))
      cells
        .withColumn("cum", sum("cnt").over(wc))
        .withColumn("cum_prev", col("cum") - col("cnt"))
        .join(tot, "event_type")
        .withColumn("lo", expr("n div 10"))
        .withColumn("kept", greatest(lit(0L),
          least(col("cum"), col("n") - col("lo"))
            - greatest(col("cum_prev") + 1L, col("lo") + 1L) + 1L))
        .groupBy("event_type")
        .agg(max("n").as("n"), max("s_all").as("s_all"),
             sum("kept").as("n_trimmed"),
             sum(col("c") * col("kept")).as("t_sum"))
        .select(col("event_type"), col("n"), col("n_trimmed"),
          (col("s_all").cast("double") / col("n").cast("double"))
            .as("mean_c"),
          (col("t_sum").cast("double") / col("n_trimmed").cast("double"))
            .as("trimmed_mean_c"),
          expr("t_sum div n_trimmed").as("trimmed_floor_c"))
        .orderBy("event_type")
    },
      Some("""WITH ev AS (SELECT event_type,
                  CAST(round(value * 100, 0) AS BIGINT) AS c FROM events),
     cells AS (SELECT event_type, c, CAST(count(*) AS BIGINT) AS cnt
               FROM ev GROUP BY 1, 2),
     cum AS (SELECT event_type, c, cnt,
                    CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY c
                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
             FROM cells),
     tot AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                    CAST(sum(c) AS BIGINT) AS s_all
             FROM ev GROUP BY 1),
     k AS (SELECT cum.event_type, cum.c, cum.cnt, cum.cum,
                  cum.cum - cum.cnt AS cum_prev,
                  tot.n, tot.s_all, tot.n // 10 AS lo
           FROM cum JOIN tot ON tot.event_type = cum.event_type),
     kept AS (SELECT event_type, c, n, s_all,
                     greatest(CAST(0 AS BIGINT),
                       least(cum, n - lo)
                         - greatest(cum_prev + 1, lo + 1) + 1) AS kept
              FROM k)
         SELECT event_type, max(n) AS n,
                CAST(sum(kept) AS BIGINT) AS n_trimmed,
                CAST(max(s_all) AS DOUBLE) / CAST(max(n) AS DOUBLE)
                  AS mean_c,
                CAST(CAST(sum(c * kept) AS BIGINT) AS DOUBLE)
                  / CAST(CAST(sum(kept) AS BIGINT) AS DOUBLE)
                  AS trimmed_mean_c,
                CAST(sum(c * kept) AS BIGINT)
                  // CAST(sum(kept) AS BIGINT) AS trimmed_floor_c
         FROM kept GROUP BY 1 ORDER BY event_type""")),

    // Simpson's-paradox screen: the (discount → quantity) association
    // judged pooled AND per brand, with only the SIGNS of exact centered
    // covariance numerators compared — signs of integers, so the flip
    // report is bitwise trivially and immune to IEEE noise. The
    // aggregation-bias tripwire every metrics rollup should run before
    // shipping a "discounts don't work" conclusion.
    Query("agg_simpson_check", (s, dir) => {
      def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
      def covSign(g: DataFrame): DataFrame = g
        .withColumn("cov_num", Exact.checkedLong(
          dec(col("n")) * col("sdq") - dec(col("sd")) * dec(col("sq"))))
        .withColumn("assoc_sign", signum(col("cov_num")).cast("long"))
      val j = Tables.lineitem(s, dir)
        .join(Tables.part(s, dir),
          col("p_partkey") === col("l_partkey"))
        .select(col("p_brand"),
          Exact.cents(col("l_discount")).as("d"),
          col("l_quantity").cast("long").as("q"))
        .tracked // pooled + per-brand moments scan it
      val perBrand = covSign(j.groupBy("p_brand")
        .agg(count(lit(1)).as("n"), sum("d").as("sd"), sum("q").as("sq"),
             sum(dec(col("d")) * dec(col("q"))).as("sdq")))
      val pooled = covSign(j.agg(count(lit(1)).as("n"), sum("d").as("sd"),
          sum("q").as("sq"), sum(dec(col("d")) * dec(col("q"))).as("sdq")))
        .select(col("assoc_sign").as("pooled_sign"))
      perBrand.crossJoin(broadcast(pooled))
        .select(col("p_brand"), col("n"), col("cov_num"),
          col("assoc_sign"), col("pooled_sign"),
          (col("assoc_sign") =!= lit(0L)
            && col("assoc_sign") =!= col("pooled_sign")).as("sign_flip"))
        .orderBy("p_brand")
    },
      Some("""WITH j AS (SELECT p.p_brand,
                  CAST(round(l.l_discount * 100, 0) AS BIGINT) AS d,
                  CAST(l.l_quantity AS BIGINT) AS q
           FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
     g AS (SELECT p_brand, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(d) AS BIGINT) AS sd,
                  CAST(sum(q) AS BIGINT) AS sq,
                  CAST(sum(CAST(d AS HUGEINT) * q) AS HUGEINT) AS sdq
           FROM j GROUP BY 1),
     gb AS (SELECT p_brand, n,
                   CAST(CAST(n AS HUGEINT) * sdq
                     - CAST(sd AS HUGEINT) * sq AS BIGINT) AS cov_num
            FROM g),
     p AS (SELECT CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(d) AS BIGINT) AS sd,
                  CAST(sum(q) AS BIGINT) AS sq,
                  CAST(sum(CAST(d AS HUGEINT) * q) AS HUGEINT) AS sdq
           FROM j),
     ps AS (SELECT CAST(sign(CAST(CAST(n AS HUGEINT) * sdq
                     - CAST(sd AS HUGEINT) * sq AS BIGINT)) AS BIGINT)
                     AS pooled_sign
            FROM p)
         SELECT gb.p_brand, gb.n, gb.cov_num,
                CAST(sign(gb.cov_num) AS BIGINT) AS assoc_sign,
                ps.pooled_sign,
                sign(gb.cov_num) <> 0
                  AND CAST(sign(gb.cov_num) AS BIGINT) <> ps.pooled_sign
                  AS sign_flip
         FROM gb CROSS JOIN ps ORDER BY gb.p_brand""")),

    // Top-decile value concentration: what share of each type's total
    // value the top 10% of events carry — the same histogram-overlap
    // machinery as agg_trimmed_mean (cumulative counts over value CELLS,
    // never a row-level rank), share exact in ppm plus one IEEE double.
    Query("agg_top_decile_share", (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_type"), Exact.cents(col("value")).as("c"))
      val cells = ev.groupBy("event_type", "c")
        .agg(count(lit(1)).as("cnt"))
      val wc = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy("c")
        .rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val tot = ev.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("c").as("s_all"))
      cells
        .withColumn("cum", sum("cnt").over(wc))
        .withColumn("cum_prev", col("cum") - col("cnt"))
        .join(tot, "event_type")
        .withColumn("lo", expr("n div 10"))
        .withColumn("kept", greatest(lit(0L),
          least(col("cum"), col("n"))
            - greatest(col("cum_prev") + 1L, col("n") - col("lo") + 1L)
            + 1L))
        .groupBy("event_type")
        .agg(max("n").as("n"), max("s_all").as("s_all"),
             sum("kept").as("n_top"),
             sum(col("c") * col("kept")).as("top_sum"))
        .select(col("event_type"), col("n"), col("n_top"), col("top_sum"),
          expr("(1000000 * cast(top_sum as decimal(38,0))) div s_all")
            .as("share_ppm"),
          (col("top_sum").cast("double") / col("s_all").cast("double"))
            .as("share"))
        .orderBy("event_type")
    },
      Some("""WITH ev AS (SELECT event_type,
                  CAST(round(value * 100, 0) AS BIGINT) AS c FROM events),
     cells AS (SELECT event_type, c, CAST(count(*) AS BIGINT) AS cnt
               FROM ev GROUP BY 1, 2),
     cum AS (SELECT event_type, c, cnt,
                    CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY c
                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
             FROM cells),
     tot AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                    CAST(sum(c) AS BIGINT) AS s_all
             FROM ev GROUP BY 1),
     k AS (SELECT cum.event_type, cum.c, cum.cnt, cum.cum,
                  cum.cum - cum.cnt AS cum_prev,
                  tot.n, tot.s_all, tot.n // 10 AS lo
           FROM cum JOIN tot ON tot.event_type = cum.event_type),
     kept AS (SELECT event_type, c, n, s_all,
                     greatest(CAST(0 AS BIGINT),
                       least(cum, n)
                         - greatest(cum_prev + 1, n - lo + 1) + 1) AS kept
              FROM k)
         SELECT event_type, max(n) AS n,
                CAST(sum(kept) AS BIGINT) AS n_top,
                CAST(sum(c * kept) AS BIGINT) AS top_sum,
                CAST((1000000 * CAST(sum(c * kept) AS HUGEINT))
                  // max(s_all) AS BIGINT) AS share_ppm,
                CAST(CAST(sum(c * kept) AS BIGINT) AS DOUBLE)
                  / CAST(max(s_all) AS DOUBLE) AS share
         FROM kept GROUP BY 1 ORDER BY event_type""")),

    // KS uniformity audit of the engine's own LCG spread hash — the
    // self-test any hash-partitioned sampler owes its users: D =
    // max|F̂(u) − u/10⁶| evaluated on the integer lattice at both sides
    // of every occupied cell (the discrete-KS boundary convention), via
    // the global two-level prefix sum — never a single-partition window
    // over the support.
    Query("agg_hash_uniformity_ks", (s, dir) => {
      val m = 2147483647L
      val cells = Tables.events(s, dir)
        .withColumn("h1", ((col("event_id") % m) * 1103515245L + 12345L) % m)
        .withColumn("hm", (col("h1") * col("h1")) % m)
        .withColumn("u", ((col("hm") * 69069L + 362437L) % m) % 1000000L)
        .groupBy("u").agg(count(lit(1)).as("cnt"))
      val cum = graft.text.Packing.withStreamOffset(
        cells, "u", "cnt", "cum_prev", bucketSize = 10000L)
        .withColumn("cum", col("cum_prev") + col("cnt"))
      val tot = cells.agg(sum("cnt").as("n"))
      cum.crossJoin(broadcast(tot))
        .select(col("n"),
          greatest(
            abs(col("cum") * lit(1000000L) - col("n") * (col("u") + 1L)),
            abs(col("cum_prev") * lit(1000000L) - col("n") * col("u")))
            .as("dn"))
        .groupBy("n").agg(max("dn").as("d_num"))
        .select(col("n"), col("d_num"),
          (col("d_num").cast("double")
            / (col("n").cast("double") * lit(1.0e6))).as("d_stat"),
          ((col("d_num").cast("double")
            / (col("n").cast("double") * lit(1.0e6)))
            * sqrt(col("n").cast("double"))).as("d_sqrt_n"))
    },
      Some("""WITH h AS (SELECT ((((event_id % 2147483647) * 1103515245
                     + 12345) % 2147483647)
                   * (((event_id % 2147483647) * 1103515245 + 12345)
                     % 2147483647)) % 2147483647 AS hm
           FROM events),
     u AS (SELECT ((hm * 69069 + 362437) % 2147483647) % 1000000 AS u
           FROM h),
     cells AS (SELECT u, CAST(count(*) AS BIGINT) AS cnt
               FROM u GROUP BY 1),
     cum AS (SELECT u, cnt,
                    CAST(sum(cnt) OVER (ORDER BY u
                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
             FROM cells),
     tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM cells),
     d AS (SELECT t.n,
                  greatest(abs(c.cum * 1000000 - t.n * (c.u + 1)),
                           abs((c.cum - c.cnt) * 1000000 - t.n * c.u))
                    AS dn
           FROM cum c CROSS JOIN tot t)
         SELECT n, CAST(max(dn) AS BIGINT) AS d_num,
                CAST(max(dn) AS DOUBLE)
                  / (CAST(n AS DOUBLE) * 1000000.0) AS d_stat,
                (CAST(max(dn) AS DOUBLE)
                  / (CAST(n AS DOUBLE) * 1000000.0))
                  * sqrt(CAST(n AS DOUBLE)) AS d_sqrt_n
         FROM d GROUP BY 1""")),

    // Power analysis / minimum detectable effect per metric: with this
    // type's variance and a 50/50 split of its current volume, what
    // lift could a two-arm test detect at α = 0.05, power = 0.8?
    // mde = (z_α/2 + z_β)·√(2σ²/n_arm) with the two z's as DEFINED
    // constants (1.96, 0.8416) — variance from exact DECIMAL moments,
    // the mde one fixed IEEE chain. The sizing readout every experiment
    // platform publishes next to its metrics.
    Query("agg_mde_power", (s, dir) => {
      def d(c: org.apache.spark.sql.Column) = c.cast("double")
      def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
      val stats = Tables.events(s, dir)
        .select(col("event_type"), Exact.cents(col("value")).as("c"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("c").as("sc"),
             sum(dec(col("c")) * dec(col("c"))).as("ss"))
        .withColumn("n_arm", expr("n div 2"))
      val v = (dec(col("n")) * col("ss") - dec(col("sc")) * dec(col("sc")))
        .cast("double") / d(col("n") * (col("n") - 1L))
      val mde = lit(1.96 + 0.8416) * sqrt(lit(2.0) * v / d(col("n_arm")))
      stats.select(col("event_type"), col("n"), col("n_arm"),
          (d(col("sc")) / d(col("n")) / lit(100.0)).as("mean_value"),
          (v / lit(10000.0)).as("var_value"),
          (mde / lit(100.0)).as("mde_abs"),
          (mde / (d(col("sc")) / d(col("n")))).as("mde_rel"))
        .orderBy("event_type")
    },
      Some("""WITH st AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
                    AS BIGINT) AS sc,
                  CAST(sum(CAST(round(value * 100, 0) AS BIGINT)
                         * CAST(round(value * 100, 0) AS BIGINT))
                    AS BIGINT) AS ss
           FROM events GROUP BY 1),
     v AS (SELECT event_type, n, sc, n // 2 AS n_arm,
                  CAST(CAST(CAST(n AS HUGEINT) * ss
                       - CAST(sc AS HUGEINT) * sc AS BIGINT) AS DOUBLE)
                    / CAST(n * (n - 1) AS DOUBLE) AS var_c
           FROM st)
         SELECT event_type, n, n_arm,
                CAST(sc AS DOUBLE) / CAST(n AS DOUBLE) / 100.0
                  AS mean_value,
                var_c / 10000.0 AS var_value,
                (1.96 + 0.8416) * sqrt(2.0 * var_c
                  / CAST(n_arm AS DOUBLE)) / 100.0 AS mde_abs,
                (1.96 + 0.8416) * sqrt(2.0 * var_c
                  / CAST(n_arm AS DOUBLE))
                  / (CAST(sc AS DOUBLE) / CAST(n AS DOUBLE)) AS mde_rel
         FROM v ORDER BY event_type""")),

    // Sequential probability ratio test per metric: is the daily total
    // running at baseline μ₀ or at a 5% lift μ₁? The LLR is kept as the
    // EXACT integer score Σ(2Δμ·x − (μ₁²−μ₀²)) (the 2σ² factor moved to
    // the boundary), baseline moments come from the first 10 days, and
    // the accept/reject boundaries spend one IEEE chain with ln 19 as a
    // DEFINED constant. The always-on alternative to fixed-horizon
    // testing — decisions per day, exact cumulative state.
    Query("agg_sprt_monitor", (s, dir) => {
      def d(c: org.apache.spark.sql.Column) = c.cast("double")
      def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy("dt")
      val wcum = w.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("dt"))
        .agg(sum(Exact.cents(col("value"))).as("x"))
        .withColumn("rn", row_number().over(w))
        .tracked // baseline + monitored slice both read it
      val base = daily.filter(col("rn") <= 10)
        .groupBy("event_type")
        .agg(expr("sum(x) div 10").as("mu0"),
             sum(dec(col("x")) * dec(col("x"))).as("ss"),
             sum("x").as("sx"))
        .withColumn("var_num", Exact.checkedLong(
          dec(lit(10L)) * col("ss") - dec(col("sx")) * dec(col("sx"))))
        .withColumn("mu1", col("mu0") + expr("mu0 div 20"))
        .select("event_type", "mu0", "mu1", "var_num")
      val scored = daily.filter(col("rn") >= 11)
        .join(broadcast(base), "event_type")
        .withColumn("term", lit(2L) * (col("mu1") - col("mu0")) * col("x")
          - (col("mu1") * col("mu1") - col("mu0") * col("mu0")))
        .withColumn("cum_score", sum("term").over(wcum))
      // boundary: LLR >= ln 19 ⇔ score >= 2σ²·ln 19, σ² = var_num/90
      val thr = lit(2.0) * (d(col("var_num")) / lit(90.0)) *
        lit(2.9444389791664403)
      scored.select(col("event_type"), col("dt"), col("x"),
          col("cum_score"),
          when(d(col("cum_score")) >= thr, lit("accept_lift"))
            .when(d(col("cum_score")) <= -thr, lit("accept_baseline"))
            .otherwise(lit("continue")).as("decision"))
        .orderBy("event_type", "dt")
    },
      Some("""WITH d AS (SELECT event_type, CAST(ts AS DATE) AS dt,
                  CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
                    AS BIGINT) AS x
           FROM events GROUP BY 1, 2),
     r AS (SELECT event_type, dt, x,
                  row_number() OVER (PARTITION BY event_type
                    ORDER BY dt) AS rn
           FROM d),
     base AS (SELECT event_type,
                     CAST(sum(x) AS BIGINT) // 10 AS mu0,
                     CAST(10 * sum(CAST(x AS HUGEINT) * x)
                       - CAST(sum(x) AS HUGEINT) * sum(x) AS BIGINT)
                       AS var_num
              FROM r WHERE rn <= 10 GROUP BY 1),
     b2 AS (SELECT event_type, mu0, mu0 + mu0 // 20 AS mu1, var_num
            FROM base),
     sc AS (SELECT r.event_type, r.dt, r.x, b2.var_num,
                   2 * (b2.mu1 - b2.mu0) * r.x
                     - (b2.mu1 * b2.mu1 - b2.mu0 * b2.mu0) AS term
            FROM r JOIN b2 ON b2.event_type = r.event_type
            WHERE r.rn >= 11),
     cumq AS (SELECT event_type, dt, x, var_num,
                     CAST(sum(term) OVER (PARTITION BY event_type
                       ORDER BY dt ROWS UNBOUNDED PRECEDING) AS BIGINT)
                       AS cum_score
              FROM sc)
         SELECT event_type, dt, x, cum_score,
                CASE WHEN CAST(cum_score AS DOUBLE)
                       >= 2.0 * (CAST(var_num AS DOUBLE) / 90.0)
                          * 2.9444389791664403 THEN 'accept_lift'
                     WHEN CAST(cum_score AS DOUBLE)
                       <= -(2.0 * (CAST(var_num AS DOUBLE) / 90.0)
                          * 2.9444389791664403) THEN 'accept_baseline'
                     ELSE 'continue' END AS decision
         FROM cumq ORDER BY event_type, dt""")),

    // Sample-ratio-mismatch guardrail: the 1-df χ² of the hash-split arm
    // counts against 50/50 — THE first check an experimentation readout
    // runs before any metric (a biased splitter invalidates everything
    // downstream). Seed reduces mod-first (the documented overflow-safe
    // LCG discipline); χ² numerator exact through DECIMAL, the 3.8415
    // critical compare done in scaled integers so the flag is portable.
    // The fixture's signup split genuinely trips it.
    Query("agg_srm_check", (s, dir) => {
      def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
      val m = 2147483647L
      val arm = ((col("user_id") % m) * 1103515245L + 12345L) % m
      Tables.events(s, dir)
        .withColumn("arm", when(arm % 2 === 0, "a").otherwise("b"))
        .groupBy("event_type")
        .agg(sum(when(col("arm") === "a", 1L).otherwise(0L)).as("na"),
             sum(when(col("arm") === "b", 1L).otherwise(0L)).as("nb"))
        .withColumn("srm_num", Exact.checkedLong(
          dec(col("na") - col("nb")) * dec(col("na") - col("nb"))))
        .withColumn("srm_den", col("na") + col("nb"))
        .withColumn("srm_chi2",
          col("srm_num").cast("double") / col("srm_den").cast("double"))
        .withColumn("srm_flag",
          when(dec(col("srm_num")) * lit(10000L)
                 > dec(col("srm_den")) * lit(38415L), 1L).otherwise(0L))
        .select("event_type", "na", "nb", "srm_num", "srm_den",
          "srm_chi2", "srm_flag")
        .orderBy("event_type")
    },
      Some("""WITH h AS (SELECT event_type,
                           CASE WHEN (((user_id % 2147483647) * 1103515245
                                       + 12345) % 2147483647) % 2 = 0
                                THEN 'a' ELSE 'b' END AS arm
                    FROM events),
              c AS (SELECT event_type,
                           CAST(sum(CASE WHEN arm = 'a' THEN 1 ELSE 0 END)
                                AS BIGINT) AS na,
                           CAST(sum(CASE WHEN arm = 'b' THEN 1 ELSE 0 END)
                                AS BIGINT) AS nb
                    FROM h GROUP BY 1)
         SELECT event_type, na, nb,
                CAST(CAST(na - nb AS HUGEINT) * (na - nb) AS BIGINT)
                  AS srm_num,
                na + nb AS srm_den,
                CAST(CAST(CAST(na - nb AS HUGEINT) * (na - nb) AS BIGINT)
                     AS DOUBLE) / CAST(na + nb AS DOUBLE) AS srm_chi2,
                CASE WHEN CAST(na - nb AS HUGEINT) * (na - nb) * 10000
                          > CAST(na + nb AS HUGEINT) * 38415
                     THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT)
                END AS srm_flag
         FROM c ORDER BY event_type""")),

    // G-test of value-mix homogeneity: are the three fixed value buckets
    // ($0-75 / 75-150 / 150+) distributed identically across event types?
    // The log-likelihood-ratio sibling of agg_chi2_contingency, and a
    // FixedLog2 showcase: each cell's O·ln(O·N/(R·C)) term is the exact
    // integer O·(log2fp(O·N) − log2fp(R·C)), decimal-summed order-free;
    // the df=8 critical compare happens on the same lattice
    // (crit_q = ⌊15.507/(2ln2)·2²⁰⌋ = 11729304) so the flag is portable.
    // 15 cells by construction — every frame after the first groupBy is
    // bounded, and the 1-row total attaches via broadcast.
    Query("agg_g_test", (s, dir) => {
      def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
      val L = graft.functions.FixedLog2.log2_fp _
      val c = Tables.events(s, dir)
        .withColumn("cc", Exact.cents(col("value")))
        .groupBy(col("event_type"),
                 least(lit(2L), expr("cc DIV 7500")).as("vb"))
        .agg(count(lit(1)).as("o")).tracked
      val r = c.groupBy("event_type").agg(sum("o").as("rt"))
      val k = c.groupBy("vb").agg(sum("o").as("ct"))
      val n = c.agg(sum("o").as("nt"))
      c.join(broadcast(r), "event_type").join(broadcast(k), "vb")
        .crossJoin(broadcast(n))
        .withColumn("term",
          dec(col("o")) * dec(L(col("o") * col("nt")) -
                              L(col("rt") * col("ct"))))
        .agg(max("nt").as("n_events"), count(lit(1)).as("n_cells"),
             sum("term").cast("long").as("g_scaled"))
        .select(col("n_events"), col("n_cells"), col("g_scaled"),
          lit(8L).as("df"),
          (col("g_scaled").cast("double") * lit(1.3862943611198906)
            / lit(1048576.0)).as("g_stat"),
          when(col("g_scaled") > lit(11729304L), 1L).otherwise(0L)
            .as("reject_flag"))
    },
      Some {
      val lon = graft.functions.FixedLog2.sql("on_")
      val lrc = graft.functions.FixedLog2.sql("rc")
      s"""WITH c AS (SELECT event_type,
                            least(CAST(2 AS BIGINT),
                                  CAST(round(value*100,0) AS BIGINT) // 7500)
                              AS vb, count(*) AS o
                     FROM events GROUP BY 1, 2),
               r AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS rt
                     FROM c GROUP BY 1),
               k AS (SELECT vb, CAST(sum(o) AS BIGINT) AS ct
                     FROM c GROUP BY 1),
               n AS (SELECT CAST(sum(o) AS BIGINT) AS nt FROM c),
               t AS (SELECT c.o, c.o * n.nt AS on_, r.rt * k.ct AS rc
                     FROM c JOIN r USING (event_type) JOIN k USING (vb)
                     CROSS JOIN n)
          SELECT (SELECT nt FROM n) AS n_events,
                 CAST(count(*) AS BIGINT) AS n_cells,
                 CAST(sum(CAST(o AS HUGEINT) * ($lon - $lrc)) AS BIGINT)
                   AS g_scaled,
                 CAST(8 AS BIGINT) AS df,
                 CAST(CAST(sum(CAST(o AS HUGEINT) * ($lon - $lrc))
                      AS BIGINT) AS DOUBLE)
                   * 1.3862943611198906 / 1048576.0 AS g_stat,
                 CASE WHEN CAST(sum(CAST(o AS HUGEINT) * ($lon - $lrc))
                           AS BIGINT) > 11729304
                      THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT)
                 END AS reject_flag
          FROM t"""
      }),

    // Poisson rate-shift guardrail: per type, first-half vs second-half
    // event counts against their day exposures — the conditional-binomial
    // score test (n1·E − n·e1)²/(n·e1·e2) vs χ²(1), cross-multiplied into
    // one exact integer compare (10⁴·num² > 38415·den) so the flag is
    // portable. The global date bounds attach as a 1-row broadcast.
    Query("agg_poisson_rate_test", (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_type"), to_date(col("ts")).as("d")).tracked
      val b = ev.agg(min("d").as("mn"), max("d").as("mx"))
        .select(col("mn"),
          date_add(col("mn"),
            ((datediff(col("mx"), col("mn")) + 1) / 2)
              .cast("int")).as("mid"), col("mx"))
      ev.crossJoin(broadcast(b))
        .groupBy("event_type")
        .agg(sum(when(col("d") < col("mid"), 1L).otherwise(0L)).as("n1"),
             sum(when(col("d") >= col("mid"), 1L).otherwise(0L)).as("n2"),
             datediff(min("mid"), min("mn")).cast("long").as("e1"),
             (datediff(min("mx"), min("mid")) + 1).cast("long").as("e2"))
        .withColumn("num", col("n1") * (col("e1") + col("e2")) -
                           (col("n1") + col("n2")) * col("e1"))
        .withColumn("den", (col("n1") + col("n2")) * col("e1") * col("e2"))
        .select(col("event_type"), col("n1"), col("n2"), col("e1"),
          col("e2"),
          expr("(10000 * n1 * e2) DIV (n2 * e1)").as("rate_ratio_q4"),
          expr("""CAST((CAST(num AS DECIMAL(38,0)) * num * 10000) DIV den
                  AS BIGINT)""").as("score_q4"),
          when(expr("CAST(num AS DECIMAL(38,0)) * num * 10000") >
               expr("CAST(den AS DECIMAL(38,0)) * 38415"), 1L)
            .otherwise(0L).as("rate_shift_flag"))
        .orderBy("event_type")
    },
      Some("""WITH b AS (SELECT min(CAST(ts AS DATE)) AS mn,
                           max(CAST(ts AS DATE)) AS mx FROM events),
              s AS (SELECT mn,
                           mn + CAST((datediff('day', mn, mx) + 1) // 2
                                     AS INTEGER) AS mid,
                           mx FROM b),
              g AS (SELECT event_type,
                           CAST(sum(CASE WHEN CAST(ts AS DATE) < s.mid
                                         THEN 1 ELSE 0 END) AS BIGINT) AS n1,
                           CAST(sum(CASE WHEN CAST(ts AS DATE) >= s.mid
                                         THEN 1 ELSE 0 END) AS BIGINT) AS n2,
                           CAST(datediff('day', min(s.mn), min(s.mid))
                                AS BIGINT) AS e1,
                           CAST(datediff('day', min(s.mid), min(s.mx)) + 1
                                AS BIGINT) AS e2
                    FROM events, s GROUP BY 1)
         SELECT event_type, n1, n2, e1, e2,
                CAST((10000 * n1 * e2) // (n2 * e1) AS BIGINT)
                  AS rate_ratio_q4,
                CAST((CAST(n1*(e1+e2) - (n1+n2)*e1 AS HUGEINT)
                      * (n1*(e1+e2) - (n1+n2)*e1) * 10000)
                     // ((n1+n2) * e1 * e2) AS BIGINT) AS score_q4,
                CASE WHEN CAST(n1*(e1+e2) - (n1+n2)*e1 AS HUGEINT)
                          * (n1*(e1+e2) - (n1+n2)*e1) * 10000
                          > CAST((n1+n2) AS HUGEINT) * e1 * e2 * 38415
                     THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT)
                END AS rate_shift_flag
         FROM g ORDER BY event_type""")),

    // Tukey HSD post-hoc: after the one-way ANOVA, which of the 10 type
    // pairs actually differ in mean value? Means quantized to the q8 cents
    // lattice (⌊256·S/n⌋), within-group SS to ⌊S²/n⌋ cells — the
    // statistic is DEFINED on those lattices (the kruskal discipline) so
    // both engines compare identical integers: 100·Δq²·(N−k)·2·nₐn_b vs
    // 1488·2¹⁶·SSW·(nₐ+n_b), q²(5,∞)=14.88 truncated at 2dp; the q4 ratio
    // of the two sides carries continuous signal beside the flag. The
    // 5-row stats self-join and 1-row totals combine are bounded
    // broadcasts (allowlisted BNLJ shapes).
    Query("agg_tukey_hsd", (s, dir) => {
      val g = Tables.events(s, dir)
        .withColumn("cc", Exact.cents(col("value")))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("cc").as("s"),
             sum(expr("CAST(cc AS DECIMAL(38,0)) * cc")).as("ss")).tracked
      val t = g.agg(sum("n").cast("long").as("nn"),
                    count(lit(1)).as("k"),
                    sum(expr("ss - (CAST(s AS DECIMAL(38,0)) * s) DIV n"))
                      .cast("long").as("ssw_q"))
      val a = g.select(col("event_type").as("type_a"), col("n").as("n_a"),
                       col("s").as("s_a"))
      val b = g.select(col("event_type").as("type_b"), col("n").as("n_b"),
                       col("s").as("s_b"))
      a.join(broadcast(b), col("type_a") < col("type_b"))
        .crossJoin(broadcast(t))
        .withColumn("dq", expr("(256 * s_a) DIV n_a - (256 * s_b) DIV n_b"))
        .withColumn("lhs", expr(
          "CAST(100 AS DECIMAL(38,0)) * dq * dq * (nn - k) * 2 * n_a * n_b"))
        .withColumn("rhs", expr(
          "CAST(1488 AS DECIMAL(38,0)) * 65536 * ssw_q * (n_a + n_b)"))
        .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
          col("dq").as("mean_diff_q8"),
          expr("CAST((CAST(10000 AS DECIMAL(38,0)) * lhs) DIV rhs AS BIGINT)")
            .as("hsd_ratio_q4"),
          when(col("lhs") > col("rhs"), 1L).otherwise(0L).as("hsd_flag"))
        .orderBy("type_a", "type_b")
    },
      Some("""WITH g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                           CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
                                AS BIGINT) AS s,
                           CAST(sum(CAST(CAST(round(value * 100, 0)
                                    AS BIGINT) AS HUGEINT)
                                    * CAST(round(value * 100, 0) AS BIGINT))
                                AS BIGINT) AS ss
                    FROM events GROUP BY 1),
              t AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
                           CAST(count(*) AS BIGINT) AS k,
                           CAST(sum(ss - (CAST(s AS HUGEINT) * s) // n)
                                AS BIGINT) AS ssw_q
                    FROM g),
              p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
                           a.n AS n_a, b.n AS n_b,
                           (256 * a.s) // a.n - (256 * b.s) // b.n AS dq,
                           100 * CAST((256*a.s)//a.n - (256*b.s)//b.n
                                      AS HUGEINT)
                               * ((256*a.s)//a.n - (256*b.s)//b.n)
                               * (t.nn - t.k) * 2 * a.n * b.n AS lhs,
                           1488 * 65536 * CAST(t.ssw_q AS HUGEINT)
                               * (a.n + b.n) AS rhs
                    FROM g a JOIN g b ON a.event_type < b.event_type
                    CROSS JOIN t)
         SELECT type_a, type_b, n_a, n_b,
                CAST(dq AS BIGINT) AS mean_diff_q8,
                CAST((10000 * lhs) // rhs AS BIGINT) AS hsd_ratio_q4,
                CASE WHEN lhs > rhs THEN CAST(1 AS BIGINT)
                     ELSE CAST(0 AS BIGINT) END AS hsd_flag
         FROM p ORDER BY type_a, type_b""")),

    // Cohen's kappa inter-labeler agreement between the two cheap length
    // labelings every curation pipeline accumulates (char-class terciles
    // vs word-count terciles): κ = (N·ΣOᵢᵢ − ΣRᵢCᵢ)/(N² − ΣRᵢCᵢ), exact
    // integers through one final IEEE division. The contingency is ≤ 9
    // cells after the first groupBy, so margins and totals are bounded
    // 1-row broadcasts (allowlisted scalar combines).
    Query("agg_cohens_kappa", (s, dir) => {
      def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
      val words = length(col("text")) -
        length(regexp_replace(col("text"), lit(" "), lit(""))) + 1
      val l = Tables.documents(s, dir).select(
        when(col("n_chars") < 220, 0L).when(col("n_chars") < 380, 1L)
          .otherwise(2L).as("la"),
        when(words < 40, 0L).when(words < 69, 1L).otherwise(2L).as("lb"))
      val o = l.groupBy("la", "lb").agg(count(lit(1)).as("n")).tracked
      val tot = o.agg(sum("n").cast("long").as("n_total"),
        sum(when(col("la") === col("lb"), col("n")).otherwise(0L))
          .cast("long").as("n_agree"))
      val r = o.groupBy("la").agg(sum("n").as("rn"))
      val k = o.groupBy("lb").agg(sum("n").as("cn"))
      val chance = r.join(k, col("la") === col("lb"))
        .agg(Exact.checkedLong(sum(dec(col("rn")) * dec(col("cn"))))
          .as("chance"))
      tot.crossJoin(broadcast(chance))
        .select(col("n_total"), col("n_agree"), col("chance"),
          Exact.checkedLong(dec(col("n_total")) * dec(col("n_agree"))
            - dec(col("chance"))).as("kappa_num"),
          Exact.checkedLong(dec(col("n_total")) * dec(col("n_total"))
            - dec(col("chance"))).as("kappa_den"))
        .withColumn("kappa", col("kappa_num").cast("double")
          / col("kappa_den").cast("double"))
    },
      Some("""WITH l AS (SELECT CASE WHEN n_chars < 220 THEN 0
                                WHEN n_chars < 380 THEN 1 ELSE 2 END AS la,
                           CASE WHEN length(text)
                                     - length(replace(text, ' ', '')) + 1
                                     < 40 THEN 0
                                WHEN length(text)
                                     - length(replace(text, ' ', '')) + 1
                                     < 69 THEN 1
                                ELSE 2 END AS lb
                    FROM documents),
              o AS (SELECT la, lb, count(*) AS n FROM l GROUP BY 1, 2),
              tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_total,
                             CAST(sum(CASE WHEN la = lb THEN n ELSE 0 END)
                                  AS BIGINT) AS n_agree
                      FROM o),
              marg AS (SELECT CAST(sum(r.rn * c.cn) AS BIGINT) AS chance
                       FROM (SELECT la, sum(n) AS rn FROM o GROUP BY 1) r
                       JOIN (SELECT lb, sum(n) AS cn FROM o GROUP BY 1) c
                         ON r.la = c.lb)
         SELECT t.n_total, t.n_agree, m.chance,
                CAST(t.n_total * t.n_agree - m.chance AS BIGINT)
                  AS kappa_num,
                CAST(t.n_total * t.n_total - m.chance AS BIGINT)
                  AS kappa_den,
                CAST(t.n_total * t.n_agree - m.chance AS DOUBLE)
                  / CAST(t.n_total * t.n_total - m.chance AS DOUBLE)
                  AS kappa
         FROM tot t, marg m""")),

    // Delete-one-DAY jackknife variance of the per-type mean value — the
    // grouped-resampling SE that respects within-day correlation (the
    // i.i.d. formula understates it). Leave-one-out means on the q10
    // lattice θᵢ = ⌊2¹⁰(S−sᵢ)/(n−nᵢ)⌋, then the (d−1)(dΣθ²−(Σθ)²)/d²
    // spread with decimal-exact moments — integers end to end, one final
    // sqrt. Day cells bound every frame; the per-type totals broadcast.
    Query("agg_jackknife_variance", (s, dir) => {
      val g = Tables.events(s, dir)
        .withColumn("cc", Exact.cents(col("value")))
        .groupBy(col("event_type"), to_date(col("ts")).as("d"))
        .agg(count(lit(1)).as("ni"), sum("cc").as("si"))
      val t = g.groupBy("event_type")
        .agg(sum("ni").cast("long").as("n"), sum("si").cast("long").as("s"))
      val th = g.join(broadcast(t), "event_type")
        .select(col("event_type"),
          expr("(1024 * (s - si)) DIV (n - ni)").as("theta"))
      th.groupBy("event_type")
        .agg(count(lit(1)).as("n_days"),
          sum("theta").cast("long").as("st"),
          sum(expr("CAST(theta AS DECIMAL(38,0)) * theta")).as("stt"))
        .join(broadcast(t), "event_type")
        // the θ-spread core leaves the decimal lattice as a checked
        // BIGINT BEFORE the final division: DuckDB's DECIMAL `//`
        // ROUNDS (measured: N/900 = x.74 gave x+1) where BIGINT `//`
        // truncates like Spark's DIV — and θ is mean-scaled, so the
        // core is BIGINT-safe at any data volume
        .withColumn("core", Exact.checkedLong(expr(
          "n_days * stt - CAST(st AS DECIMAL(38,0)) * st")))
        .select(col("event_type"), col("n_days"),
          expr("(1024 * s) DIV n").as("mean_q10"),
          expr("((n_days - 1) * core) DIV (n_days * n_days)")
            .as("jk_var_num_q20"),
          (sqrt(expr("((n_days - 1) * core) DIV (n_days * n_days)")
            .cast("double")) / lit(1024.0)).as("jk_se"))
        .orderBy("event_type")
    },
      Some("""WITH r AS (SELECT event_type, CAST(ts AS DATE) AS d,
                           CAST(round(value * 100, 0) AS BIGINT) AS cc
                    FROM events),
              g AS (SELECT event_type, d, CAST(count(*) AS BIGINT) AS ni,
                           CAST(sum(cc) AS BIGINT) AS si
                    FROM r GROUP BY 1, 2),
              t AS (SELECT event_type, CAST(sum(ni) AS BIGINT) AS n,
                           CAST(sum(si) AS BIGINT) AS s
                    FROM g GROUP BY 1),
              th AS (SELECT g.event_type,
                            (1024 * (t.s - g.si)) // (t.n - g.ni) AS theta
                     FROM g JOIN t ON t.event_type = g.event_type),
              a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
                           CAST(sum(theta) AS BIGINT) AS st,
                           CAST(sum(CAST(theta AS DECIMAL(38,0)) * theta)
                                AS DECIMAL(38,0)) AS stt
                    FROM th GROUP BY 1),
              core AS (SELECT event_type, n_days, st,
                              CAST(n_days * stt
                                   - CAST(st AS DECIMAL(38,0)) * st
                                   AS BIGINT) AS core
                       FROM a)
         SELECT c.event_type, c.n_days,
                (1024 * t.s) // t.n AS mean_q10,
                ((c.n_days - 1) * c.core)
                  // (c.n_days * c.n_days) AS jk_var_num_q20,
                sqrt(CAST(((c.n_days - 1) * c.core)
                     // (c.n_days * c.n_days) AS DOUBLE))
                  / CAST(1024 AS DOUBLE) AS jk_se
         FROM core c JOIN t ON t.event_type = c.event_type
         ORDER BY c.event_type""")),

    // Randomization (permutation) test for the purchase-vs-rest value
    // difference: 64 deterministic sign-splits from the spread-hash chain,
    // statistic d = |n·S₁ − n₁·S| (zero-mean under exchangeability),
    // DECIMAL-exact per split, p̂ = (#{|d_p| ≥ |d_obs|}+1)/65. ONE pass:
    // the 64 re-labelings are gated sums inside a single wide partial
    // aggregation — never 64 scans and never an explode — which is the
    // only shape that survives 100 TB. Monte-Carlo over fixed hash splits,
    // so reruns, retries and the oracle all see identical permutations.
    Query("agg_permutation_test", (s, dir) => {
      def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
      val h = Tables.events(s, dir).select(
        col("event_type"), Exact.cents(col("value")).as("cc"),
        graft.olap.Sketch.spreadHash(col("event_id")).as("h3"))
      def bit(p: Int) = expr(
        s"((h3 * 1000003 + ${p * 7919 + 12345}) % 2147483647 >> 7) & 1")
      val base = Seq(
        count(lit(1)).as("n"), sum(col("cc")).as("s"),
        sum(when(col("event_type") === "purchase", col("cc"))
          .otherwise(0L)).as("s_obs"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("n_obs"))
      val perms = (0 until 64).flatMap { p =>
        Seq(sum(when(bit(p) === 1, col("cc")).otherwise(0L)).as(s"s$p"),
            sum(when(bit(p) === 1, 1L).otherwise(0L)).as(s"m$p"))
      }
      val agg = h.agg((base ++ perms).head, (base ++ perms).tail: _*)
      val dObs = abs(dec(col("n")) * dec(col("s_obs"))
        - dec(col("n_obs")) * dec(col("s")))
      val ge = (0 until 64).map { p =>
        when(abs(dec(col("n")) * dec(col(s"s$p"))
          - dec(col(s"m$p")) * dec(col("s"))) >= dObs, 1L).otherwise(0L)
      }.reduce(_ + _)
      agg.select(col("n").as("n_events"), col("n_obs").as("n_treat"),
        Exact.checkedLong(dObs).as("d_obs"), ge.as("n_perm_ge"),
        ((ge + lit(1L)).cast("double") / lit(65.0)).as("p_value"))
    },
      // 64 hash sign-splits as gated sums in one wide aggregation; the
      // spread-hash chain replayed inline exactly as sample_hash_split does
      Some {
      val sums = (0 until 64).map { p =>
        s"""sum(CASE WHEN ((h3 * 1000003 + ${p * 7919 + 12345})
           |  % 2147483647 >> 7) & 1 = 1 THEN cc ELSE 0 END) AS s$p,
           |sum(CASE WHEN ((h3 * 1000003 + ${p * 7919 + 12345})
           |  % 2147483647 >> 7) & 1 = 1 THEN 1 ELSE 0 END) AS m$p"""
          .stripMargin
      }.mkString(",\n")
      val dterms = (0 until 64).map { p =>
        s"abs(CAST(n AS DECIMAL(38,0)) * s$p" +
          s" - CAST(m$p AS DECIMAL(38,0)) * s) AS d$p"
      }.mkString(",\n")
      val cnt = (0 until 64)
        .map(p => s"(CASE WHEN d$p >= d_obs THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH e AS (SELECT event_id, event_type,
                            CAST(round(value * 100, 0) AS BIGINT) AS cc
                     FROM events),
              f AS (SELECT *,
                      list_reduce(list_prepend(CAST(0 AS BIGINT),
                        list_transform(string_split(CAST(event_id AS VARCHAR),
                                                    ''),
                          ch -> CAST(ascii(ch) AS BIGINT))),
                        (a, c) -> (a * 31 + c) % 2147483647) AS h0
                    FROM e),
              h AS (SELECT event_id, event_type, cc,
                           ((((h0 * 1103515245 + 12345) % 2147483647)
                             * ((h0 * 1103515245 + 12345) % 2147483647))
                            % 2147483647
                            * 69069 + 362437) % 2147483647 AS h3
                    FROM f),
              agg AS (SELECT count(*) AS n, sum(cc) AS s,
                             sum(CASE WHEN event_type = 'purchase'
                                      THEN cc ELSE 0 END) AS s_obs,
                             sum(CASE WHEN event_type = 'purchase'
                                      THEN 1 ELSE 0 END) AS n_obs,
                             $sums
                      FROM h),
              d AS (SELECT n, s, n_obs, s_obs,
                           abs(CAST(n AS DECIMAL(38,0)) * s_obs
                               - CAST(n_obs AS DECIMAL(38,0)) * s) AS d_obs,
                           $dterms
                    FROM agg)
         SELECT CAST(n AS BIGINT) AS n_events,
                CAST(n_obs AS BIGINT) AS n_treat,
                CAST(d_obs AS BIGINT) AS d_obs,
                CAST($cnt AS BIGINT) AS n_perm_ge,
                CAST(($cnt) + 1 AS DOUBLE) / CAST(65 AS DOUBLE) AS p_value
         FROM d"""
      }),

    // Lincoln–Petersen capture–recapture: estimate the per-type user
    // population from two single-day "capture" samples (first and last
    // active day) — the coverage estimator crawl/census pipelines use
    // when the full population is unobservable. N̂ = n₁n₂ div m₁₂ exact;
    // the true count rides along so the estimator's bias is measured,
    // not assumed. Global date bounds attach as the 1-row broadcast.
    Query("agg_capture_recapture", (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_type"), col("user_id"),
          to_date(col("ts")).as("d")).tracked
      val b = ev.agg(min("d").as("mn"), max("d").as("mx"))
      ev.crossJoin(broadcast(b))
        .groupBy("event_type", "user_id")
        .agg(max(when(col("d") === col("mn"), 1L).otherwise(0L)).as("c1"),
             max(when(col("d") === col("mx"), 1L).otherwise(0L)).as("c2"))
        .groupBy("event_type")
        .agg(sum("c1").cast("long").as("n1"),
          sum("c2").cast("long").as("n2"),
          sum(col("c1") * col("c2")).cast("long").as("m12"),
          sum(when(col("c1") === 1L || col("c2") === 1L, 1L).otherwise(0L))
            .cast("long").as("n_seen"),
          count(lit(1)).as("n_true"))
        .select(col("event_type"), col("n1"), col("n2"), col("m12"),
          col("n_seen"), col("n_true"),
          when(col("m12") > 0, expr("(n1 * n2) DIV m12")).as("n_hat"),
          when(col("m12") > 0,
            (expr("(n1 * n2) DIV m12") - col("n_true")).cast("double")
              / col("n_true").cast("double")).as("rel_bias"))
        .orderBy("event_type")
    },
      Some("""WITH b AS (SELECT min(CAST(ts AS DATE)) AS mn,
                           max(CAST(ts AS DATE)) AS mx FROM events),
              u AS (SELECT event_type, user_id,
                           max(CASE WHEN CAST(ts AS DATE) =
                               (SELECT mn FROM b) THEN 1 ELSE 0 END) AS c1,
                           max(CASE WHEN CAST(ts AS DATE) =
                               (SELECT mx FROM b) THEN 1 ELSE 0 END) AS c2
                    FROM events GROUP BY 1, 2),
              a AS (SELECT event_type,
                           CAST(sum(c1) AS BIGINT) AS n1,
                           CAST(sum(c2) AS BIGINT) AS n2,
                           CAST(sum(c1 * c2) AS BIGINT) AS m12,
                           CAST(sum(CASE WHEN c1 = 1 OR c2 = 1
                                    THEN 1 ELSE 0 END) AS BIGINT) AS n_seen,
                           CAST(count(*) AS BIGINT) AS n_true
                    FROM u GROUP BY 1)
         SELECT event_type, n1, n2, m12, n_seen, n_true,
                CASE WHEN m12 > 0 THEN (n1 * n2) // m12 END AS n_hat,
                CASE WHEN m12 > 0 THEN
                  CAST((n1 * n2) // m12 - n_true AS DOUBLE)
                    / CAST(n_true AS DOUBLE) END AS rel_bias
         FROM a ORDER BY event_type""")),

    // Hill tail-index estimator over the top-200 order totals — "how
    // heavy is the revenue tail?" (α ≈ 1 Zipf-like, α large thin). The
    // order statistics come from one rank window, the log-moment is the
    // exact FixedLog2 sum Σ(log2fp(xᵢ) − log2fp(x₍ₖ₊₁₎)), and α spends
    // one IEEE chain. Pairs with the Zipf/Heaps text laws on the exact
    // same lattice.
    Query("agg_hill_tail_index", (s, dir) => {
      val L = graft.functions.FixedLog2.log2_fp _
      val W = org.apache.spark.sql.expressions.Window
        .partitionBy(Exact.onePartition(col("x"))).orderBy(col("x").desc)
      // distributed top-k first (TakeOrderedAndProject — per-partition
      // heads, never a global sort); the rank window then runs over the
      // 201-row frame (deliberate onePartition). Value ties at either
      // boundary are harmless: the statistic reads only the x multiset.
      val r = Tables.orders(s, dir)
        .select(Exact.cents(col("o_totalprice")).as("x"))
        .orderBy(col("x").desc).limit(201)
        .withColumn("rn", row_number().over(W))
        .tracked
      val xk = r.filter(col("rn") === 201).select(L(col("x")).as("lxk"))
      r.filter(col("rn") <= 200)
        .crossJoin(broadcast(xk))
        .agg(count(lit(1)).as("k"),
          (sum(L(col("x"))) - lit(200L) * max("lxk")).cast("long")
            .as("s_q20"))
        .withColumn("hill_alpha",
          col("k").cast("double") * lit(1048576.0)
            / (col("s_q20").cast("double") * lit(0.6931471805599453)))
    },
      Some {
      val lx = graft.functions.FixedLog2.sql("r.x")
      val lxk = graft.functions.FixedLog2.sql("xk")
      s"""WITH c AS (SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT)
                       AS x
                     FROM orders),
               r AS (SELECT x, row_number() OVER (ORDER BY x DESC) AS rn
                     FROM c),
               k AS (SELECT x AS xk FROM r WHERE rn = 201),
               top AS (SELECT r.x, $lx AS lx FROM r WHERE rn <= 200),
               s AS (SELECT CAST(count(*) AS BIGINT) AS k,
                            CAST(sum(lx) AS BIGINT)
                              - 200 * (SELECT $lxk FROM k) AS s_q20
                     FROM top)
          SELECT k, s_q20,
                 CAST(k AS DOUBLE) * 1048576.0
                   / (CAST(s_q20 AS DOUBLE) * 0.6931471805599453)
                   AS hill_alpha
          FROM s"""
      }),

    // Two-factor OLS by normal equations in ONE aggregation pass: daily
    // purchase revenue (cents) regressed on daily click and view counts.
    // The nine raw moments (n, Σx₁, Σx₂, Σy, Σx₁², Σx₂², Σx₁x₂, Σx₁y,
    // Σx₂y, Σy²) reduce the fact stream to one row — the only shape that
    // regresses 100 TB (never a per-row residual pass); the n-scaled
    // centered 2×2 system solves by Cramer on the DECIMAL(38,0) lattice,
    // and every quotient is integer DIV (truncating in both engines —
    // DuckDB runs it in HUGEINT) so coefficients leave as exact q6 ppm
    // BIGINTs. R² rides on the same moments.
    Query("agg_ols_two_factor", (s, dir) => {
      def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
      val d = Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("dt"))
        .agg(
          sum(when(col("event_type") === "click", 1L).otherwise(0L))
            .as("x1"),
          sum(when(col("event_type") === "view", 1L).otherwise(0L))
            .as("x2"),
          sum(when(col("event_type") === "purchase",
            Exact.cents(col("value"))).otherwise(0L)).as("y"))
      val m = d.agg(count(lit(1)).as("n"),
        sum("x1").as("s1"), sum("x2").as("s2"), sum("y").as("sy"),
        sum(dec(col("x1")) * col("x1")).as("s11"),
        sum(dec(col("x2")) * col("x2")).as("s22"),
        sum(dec(col("x1")) * col("x2")).as("s12"),
        sum(dec(col("x1")) * col("y")).as("s1y"),
        sum(dec(col("x2")) * col("y")).as("s2y"),
        sum(dec(col("y")) * col("y")).as("syy"))
      // moments feed a product-of-two determinant: the 7e18 bound (not
      // plain BIGINT range) keeps det within DECIMAL(38,0) AND HUGEINT,
      // so Spark and the oracle share one loud overflow envelope
      val momentBound = 7000000000000000000L
      def mom(c: org.apache.spark.sql.Column) =
        Exact.boundedLong(c, momentBound)
      m.select(col("n"), col("s1"), col("s2"), col("sy"),
          mom(col("n") * col("s11")
            - dec(col("s1")) * col("s1")).as("c11"),
          mom(col("n") * col("s22")
            - dec(col("s2")) * col("s2")).as("c22"),
          mom(col("n") * col("s12")
            - dec(col("s1")) * col("s2")).as("c12"),
          mom(col("n") * col("s1y")
            - dec(col("s1")) * col("sy")).as("cy1"),
          mom(col("n") * col("s2y")
            - dec(col("s2")) * col("sy")).as("cy2"),
          mom(col("n") * col("syy")
            - dec(col("sy")) * col("sy")).as("cyy"))
        .select(col("n").as("n_days"), col("s1"), col("s2"), col("sy"),
          expr("""cast(c11 as decimal(38,0)) * c22
                  - cast(c12 as decimal(38,0)) * c12""").as("det"),
          expr("""cast(cy1 as decimal(38,0)) * c22
                  - cast(cy2 as decimal(38,0)) * c12""").as("b1n"),
          expr("""cast(c11 as decimal(38,0)) * cy2
                  - cast(c12 as decimal(38,0)) * cy1""").as("b2n"),
          col("cy1"), col("cy2"), col("cyy"))
        .select(col("n_days"), col("s1"), col("s2"), col("sy"),
          expr("(1000000 * b1n) DIV det").as("beta1_ppm"),
          expr("(1000000 * b2n) DIV det").as("beta2_ppm"),
          col("cy1"), col("cy2"), col("cyy"))
        .select(col("n_days"), col("sy"),
          col("beta1_ppm"), col("beta2_ppm"),
          // intercept on the same q6 lattice: ȳ − β₁x̄₁ − β₂x̄₂, cents·ppm
          expr("""(1000000 * sy - beta1_ppm * s1 - beta2_ppm * s2)
                  DIV n_days""").as("alpha_ppm_cents"),
          // R² = (β·Sxy)/Syy with the q6 betas — q6 lattice, DECIMAL-safe
          expr("""(cast(beta1_ppm as decimal(38,0)) * cy1
                   + cast(beta2_ppm as decimal(38,0)) * cy2)
                  DIV cast(cyy as decimal(38,0))""").as("r2_ppm"),
          (col("beta1_ppm").cast("double") / lit(1e6)).as("beta1"),
          (col("beta2_ppm").cast("double") / lit(1e6)).as("beta2"))
    },
      // nine raw moments in one pass, n-scaled centered 2x2 Cramer on the
      // integer lattice; every quotient is HUGEINT // (truncating toward
      // zero, matching Spark's decimal DIV — verified on negatives)
      Some("""WITH d AS (SELECT CAST(ts AS DATE) AS dt,
                  CAST(sum(CASE WHEN event_type = 'click'
                                THEN 1 ELSE 0 END) AS BIGINT) AS x1,
                  CAST(sum(CASE WHEN event_type = 'view'
                                THEN 1 ELSE 0 END) AS BIGINT) AS x2,
                  CAST(sum(CASE WHEN event_type = 'purchase'
                                THEN CAST(round(value * 100, 0) AS BIGINT)
                                ELSE 0 END) AS BIGINT) AS y
           FROM events GROUP BY 1),
     m AS (SELECT CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(x1) AS BIGINT) AS s1,
                  CAST(sum(x2) AS BIGINT) AS s2,
                  CAST(sum(y) AS BIGINT) AS sy,
                  CAST(sum(CAST(x1 AS HUGEINT) * x1) AS HUGEINT) AS s11,
                  CAST(sum(CAST(x2 AS HUGEINT) * x2) AS HUGEINT) AS s22,
                  CAST(sum(CAST(x1 AS HUGEINT) * x2) AS HUGEINT) AS s12,
                  CAST(sum(CAST(x1 AS HUGEINT) * y) AS HUGEINT) AS s1y,
                  CAST(sum(CAST(x2 AS HUGEINT) * y) AS HUGEINT) AS s2y,
                  CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
           FROM d),
     c0 AS (SELECT n, s1, s2, sy,
                   n * s11 - CAST(s1 AS HUGEINT) * s1 AS h11,
                   n * s22 - CAST(s2 AS HUGEINT) * s2 AS h22,
                   n * s12 - CAST(s1 AS HUGEINT) * s2 AS h12,
                   n * s1y - CAST(s1 AS HUGEINT) * sy AS h1y,
                   n * s2y - CAST(s2 AS HUGEINT) * sy AS h2y,
                   n * syy - CAST(sy AS HUGEINT) * sy AS hyy
            FROM m),
     -- 7e18 moment bound, mirroring Exact.boundedLong: the determinant
     -- c11*c22 - c12^2 must fit HUGEINT here AND DECIMAL(38,0) on Spark,
     -- so both engines fail loudly at the SAME point
     c AS (SELECT n, s1, s2, sy,
                  CASE WHEN abs(h11) > 7000000000000000000
                       THEN error('moment exceeds shared envelope')
                       ELSE CAST(h11 AS BIGINT) END AS c11,
                  CASE WHEN abs(h22) > 7000000000000000000
                       THEN error('moment exceeds shared envelope')
                       ELSE CAST(h22 AS BIGINT) END AS c22,
                  CASE WHEN abs(h12) > 7000000000000000000
                       THEN error('moment exceeds shared envelope')
                       ELSE CAST(h12 AS BIGINT) END AS c12,
                  CASE WHEN abs(h1y) > 7000000000000000000
                       THEN error('moment exceeds shared envelope')
                       ELSE CAST(h1y AS BIGINT) END AS cy1,
                  CASE WHEN abs(h2y) > 7000000000000000000
                       THEN error('moment exceeds shared envelope')
                       ELSE CAST(h2y AS BIGINT) END AS cy2,
                  CASE WHEN abs(hyy) > 7000000000000000000
                       THEN error('moment exceeds shared envelope')
                       ELSE CAST(hyy AS BIGINT) END AS cyy
           FROM c0),
     sol AS (SELECT n AS n_days, s1, s2, sy, cy1, cy2, cyy,
                    CAST(c11 AS HUGEINT) * c22
                      - CAST(c12 AS HUGEINT) * c12 AS det,
                    CAST(cy1 AS HUGEINT) * c22
                      - CAST(cy2 AS HUGEINT) * c12 AS b1n,
                    CAST(c11 AS HUGEINT) * cy2
                      - CAST(c12 AS HUGEINT) * cy1 AS b2n
             FROM c),
     b AS (SELECT n_days, s1, s2, sy, cy1, cy2, cyy,
                  CAST((1000000 * b1n) // det AS BIGINT) AS beta1_ppm,
                  CAST((1000000 * b2n) // det AS BIGINT) AS beta2_ppm
           FROM sol)
         SELECT n_days, sy, beta1_ppm, beta2_ppm,
                (1000000 * sy - beta1_ppm * s1 - beta2_ppm * s2) // n_days
                  AS alpha_ppm_cents,
                CAST((CAST(beta1_ppm AS HUGEINT) * cy1
                      + CAST(beta2_ppm AS HUGEINT) * cy2)
                     // CAST(cyy AS HUGEINT) AS BIGINT) AS r2_ppm,
                CAST(beta1_ppm AS DOUBLE) / 1e6 AS beta1,
                CAST(beta2_ppm AS DOUBLE) / 1e6 AS beta2
         FROM b""")),

    // Raking / iterative proportional fitting (survey calibration): the
    // first-week (event_type × weekday) joint seeds weights that are
    // raked to the FULL-period row then column margins — one row pass +
    // one column pass, both on the q10 integer lattice with explicit
    // DIV (trunc ≡ floor on nonnegatives, both engines), so the fitted
    // weights are bitwise-portable with no float ratio anywhere. BOTH
    // passes' products ride DECIMAL(38,0)/HUGEINT into the integral
    // divide (the ols/beta precedent) — at extreme scale the BIGINT
    // re-entry fails loudly on both engines rather than drifting. Seed
    // and margin frames are dimension-sized (types × weekdays); the
    // only fact-scale work is the three counting groupBys.
    Query("agg_raking_ipf", (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_type"),
          dayofweek(to_date(col("ts"))).as("dow"),
          to_date(col("ts")).as("d"))
        .tracked // seed + both margins scan it
      val clock = ev.agg(min("d").as("d0"))
      val seed = ev.crossJoin(broadcast(clock))
        .filter(col("d") < date_add(col("d0"), 7))
        .groupBy("event_type", "dow").agg(count(lit(1)).as("n_seed"))
        .tracked // row sums and the column pass reuse it
      val rTot = ev.groupBy("event_type").agg(count(lit(1)).as("r_i"))
      val cTot = ev.groupBy("dow").agg(count(lit(1)).as("c_j"))
      val rs = seed.groupBy("event_type")
        .agg(sum("n_seed").cast("long").as("rs0"))
      val w1 = seed
        .join(broadcast(rTot), "event_type")
        .join(broadcast(rs), "event_type")
        .withColumn("w1",
          expr("cast(n_seed as decimal(38,0)) * 1024 * r_i div rs0"))
        .tracked // column sums and the final projection reuse it
      val cs = w1.groupBy("dow").agg(sum("w1").cast("long").as("cs1"))
      w1.join(broadcast(cTot), "dow")
        .join(broadcast(cs), "dow")
        .withColumn("w2", expr(
          "(cast(w1 as decimal(38,0)) * c_j * 1024)" +
            " div cast(cs1 as decimal(38,0))"))
        .select(col("event_type"), col("dow").cast("long").as("dow"),
          col("n_seed"), col("w2").as("w_q10"),
          (col("w2").cast("double") / lit(1024.0)).as("weight"))
        .orderBy("event_type", "dow")
    },
      // q10-lattice row pass then column pass; the column product rides
      // HUGEINT and re-enters BIGINT loudly (the Spark side's DECIMAL div)
      Some("""WITH ev AS (SELECT event_type,
                  CAST(dayofweek(CAST(ts AS DATE)) + 1 AS BIGINT) AS dow,
                  CAST(ts AS DATE) AS d
           FROM events),
     d0 AS (SELECT min(d) AS d0 FROM ev),
     seed AS (SELECT event_type, dow, CAST(count(*) AS BIGINT) AS n_seed
              FROM ev CROSS JOIN d0 WHERE d < d0 + 7 GROUP BY 1, 2),
     rt AS (SELECT event_type, CAST(count(*) AS BIGINT) AS r_i
            FROM ev GROUP BY 1),
     ct AS (SELECT dow, CAST(count(*) AS BIGINT) AS c_j
            FROM ev GROUP BY 1),
     rs AS (SELECT event_type, CAST(sum(n_seed) AS BIGINT) AS rs0
            FROM seed GROUP BY 1),
     w1 AS (SELECT seed.event_type, seed.dow, seed.n_seed,
                   CAST((CAST(seed.n_seed AS HUGEINT) * 1024 * rt.r_i)
                        // rs.rs0 AS BIGINT) AS w1
            FROM seed JOIN rt USING (event_type)
                      JOIN rs USING (event_type)),
     cs AS (SELECT dow, CAST(sum(w1) AS BIGINT) AS cs1
            FROM w1 GROUP BY 1),
     w2 AS (SELECT w1.event_type, w1.dow, w1.n_seed,
                   CAST((CAST(w1.w1 AS HUGEINT) * ct.c_j * 1024)
                        // CAST(cs.cs1 AS HUGEINT) AS BIGINT) AS w_q10
            FROM w1 JOIN ct USING (dow) JOIN cs USING (dow))
         SELECT event_type, dow, n_seed, w_q10,
                CAST(w_q10 AS DOUBLE) / CAST(1024 AS DOUBLE) AS weight
         FROM w2 ORDER BY 1, 2""")),
  )
}
