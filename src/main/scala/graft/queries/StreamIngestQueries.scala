package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.CacheRegistry.QueryCached
import graft.cal.BusdayCount
import graft.inc.Watermark
import graft.ingest.AvJson
import graft.olap.Exact
import graft.streaming.BoundedRun
import graft.ts.Ohlc
import Shared._

/** Streaming, ingest, incremental, watermark, calendar and DQ families — one `Query` record per
  * query, its DuckDB oracle next to its Spark closure; SparkEntry
  * concatenates the family Seqs into `queries`/`oracleSql`.
  */
object StreamIngestQueries {

  val all: Seq[Query] = Seq(
    // §2.1 S4 / §2.7 W2: high-watermark scalar probe — max(date) of the
    // sink (av_etl.py:12-19; ORDER BY date DESC LIMIT 1 ≡ max(date)).
    Query("wm_watermark_max", (s, dir) =>
      Watermark.highWatermark(
        Tables.lineitem(s, dir).select(to_date(col("l_shipdate")).as("d")),
        "d"),
      Some("SELECT max(CAST(l_shipdate AS DATE)) AS watermark FROM lineitem")),

    // §2.8 I1 / §2.3 P2: missing-suffix incremental fetch — the reference's
    // positional tail(k) re-expressed as a key predicate over the watermark
    // (scales: pushes to row-group skipping on a date-partitioned sink).
    Query("inc_missing_suffix", (s, dir) => {
      val li = Tables.lineitem(s, dir)
        .withColumn("ship_date", to_date(col("l_shipdate")))
      val wm = li.agg(date_sub(max(col("ship_date")), 90).as("watermark"))
      Watermark.newerThan(li, wm, "ship_date")
        .select("l_orderkey", "l_linenumber", "ship_date", "l_quantity")
        // (l_orderkey, l_linenumber) is NOT unique in this generator —
        // order by every output column for a total order (identical full
        // rows are then interchangeable)
        .orderBy("l_orderkey", "l_linenumber", "ship_date", "l_quantity")
    },
      Some("""SELECT l_orderkey, l_linenumber, CAST(l_shipdate AS DATE) AS ship_date,
                l_quantity
         FROM lineitem
         WHERE CAST(l_shipdate AS DATE) >
               (SELECT max(CAST(l_shipdate AS DATE)) - 90 FROM lineitem)
         ORDER BY l_orderkey, l_linenumber, ship_date, l_quantity""")),

    // §2.8 I2: keyed idempotent append — incoming daily aggregates whose
    // key is absent from the sink (left-anti ≡ the PK-reject of
    // av_etl.py:34-38). Revenue summed in exact decimal, cast back.
    Query("inc_idempotent_antijoin", (s, dir) => {
      val incoming = Tables.lineitem(s, dir)
        .groupBy(to_date(col("l_shipdate")).as("ship_date"))
        .agg(count(lit(1)).as("n_items"),
             sum(col("l_extendedprice").cast(DecimalType(18, 4)))
               .cast("double").as("revenue"))
      val existing = Tables.orders(s, dir)
        .select(to_date(col("o_orderdate")).as("ship_date"))
      Watermark.dedupAgainst(incoming, existing, Seq("ship_date"))
        .orderBy("ship_date")
    },
      Some("""SELECT CAST(l_shipdate AS DATE) AS ship_date, count(*) AS n_items,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
                  AS revenue
         FROM lineitem
         GROUP BY 1
         HAVING NOT EXISTS (SELECT 1 FROM orders
                            WHERE CAST(o_orderdate AS DATE)
                                  = CAST(l_shipdate AS DATE))
         ORDER BY 1""")),

    // Backfill planner: calendar-spine anti-join finds the date gaps an
    // incremental pipeline must re-fetch — the complement of the
    // missing-suffix watermark (holes INSIDE history, not just the tail).
    // Spine from one 2-value aggregate, explode, left-anti on distinct
    // present dates, monthly rollup.
    Query("inc_backfill_missing", (s, dir) => {
      val o = Tables.orders(s, dir)
        .select(to_date(col("o_orderdate")).as("d"))
      val b = o.agg(min(col("d")).as("lo"), max(col("d")).as("hi"))
      val spine = b.select(explode(sequence(col("lo"), col("hi"))).as("d"))
      spine.join(o.distinct(), Seq("d"), "left_anti")
        .groupBy(date_trunc("month", col("d")).cast("date").as("month"))
        .agg(count(lit(1)).as("n_missing"),
             min(col("d")).as("first_missing"),
             max(col("d")).as("last_missing"))
        .orderBy("month")
    },
      Some("""WITH o AS (SELECT DISTINCT CAST(o_orderdate AS DATE) AS d
                    FROM orders),
              b AS (SELECT min(d) AS lo, max(d) AS hi FROM o),
              spine AS (SELECT CAST(unnest(generate_series(lo, hi,
                               INTERVAL 1 DAY)) AS DATE) AS d FROM b),
              m AS (SELECT d FROM spine
                    WHERE d NOT IN (SELECT d FROM o))
         SELECT CAST(date_trunc('month', d) AS DATE) AS month,
                count(*) AS n_missing, min(d) AS first_missing,
                max(d) AS last_missing
         FROM m GROUP BY 1 ORDER BY 1""")),

    // §2.8 I3: derived-table incremental rebuild — the ccy-derive join over
    // ONLY the missing suffix: the watermark predicate lands on both source
    // scans (filter-below-join), so the rebuild touches k days, not
    // history (av_etl.py:158-172's LIMIT-k reads as key predicates).
    Query("inc_derived_rebuild", (s, dir) => {
      val ev = Tables.events(s, dir)
      val wm = ev.agg(date_sub(max(to_date(col("ts"))), 10).as("watermark"))
      val recent = Watermark.newerThan(
        ev.withColumn("date", to_date(col("ts"))), wm, "date").drop("date")
      Ohlc.ccyDerive(
          Ohlc.dailyBars(recent.filter(col("event_type") === "purchase")),
          Ohlc.dailyBars(recent.filter(col("event_type") === "view")))
        .select("date", "close_price_usd", "close_rate", "close_price_ccy")
        .orderBy("date")
    },
      Some("""WITH wm AS (SELECT max(CAST(ts AS DATE)) - 10 AS watermark FROM events),
              r AS (SELECT * FROM events
                    WHERE CAST(ts AS DATE) > (SELECT watermark FROM wm)),
              p AS (SELECT CAST(ts AS DATE) AS date, arg_max(value, ts) AS close
                    FROM r WHERE event_type = 'purchase' GROUP BY 1),
              f AS (SELECT CAST(ts AS DATE) AS date, arg_max(value, ts) AS close
                    FROM r WHERE event_type = 'view' GROUP BY 1)
         SELECT p.date AS date, p.close AS close_price_usd,
                f.close AS close_rate,
                round_even(CAST(p.close AS DECIMAL(18,2)) *
                           CAST(f.close AS DECIMAL(18,4)), 2) AS close_price_ccy
         FROM p JOIN f USING (date) ORDER BY date""")),

    // Primary-key uniqueness audit across every table in the warehouse:
    // rows / distinct keys / duplicated keys / excess rows per table, the
    // load-correctness certification that catches double-applied batches
    // before they poison joins. Each table reduces to per-key counts
    // FIRST (partial-aggregable; join-free), then to one audit row; the
    // union of 10 one-row frames is the report. Not a vacuous pass: the
    // synthetic generator does NOT enforce lineitem's composite
    // (l_orderkey, l_linenumber) key, and the audit surfaces those
    // duplicates at every SF.
    Query("dq_duplicate_pk_audit", (s, dir) => {
      def audit(table: String, df: DataFrame, key: Seq[String]): DataFrame =
        df.groupBy(key.map(col): _*).agg(count(lit(1)).as("cnt"))
          .agg(sum(col("cnt")).as("n_rows"),
               count(lit(1)).as("n_keys"),
               sum(when(col("cnt") > 1, 1L).otherwise(0L)).as("n_dup_keys"),
               sum(col("cnt") - 1).as("n_excess_rows"))
          .select(lit(table).as("table_name"), col("n_rows"), col("n_keys"),
                  col("n_dup_keys"), col("n_excess_rows"))
      audit("customer", Tables.customer(s, dir), Seq("c_custkey"))
        .unionAll(audit("documents", Tables.documents(s, dir), Seq("doc_id")))
        .unionAll(audit("embeddings", Tables.embeddings(s, dir), Seq("vec_id")))
        .unionAll(audit("events", Tables.events(s, dir), Seq("event_id")))
        .unionAll(audit("lineitem", Tables.lineitem(s, dir),
          Seq("l_orderkey", "l_linenumber")))
        .unionAll(audit("nation", Tables.nation(s, dir), Seq("n_nationkey")))
        .unionAll(audit("orders", Tables.orders(s, dir), Seq("o_orderkey")))
        .unionAll(audit("part", Tables.part(s, dir), Seq("p_partkey")))
        .unionAll(audit("region", Tables.region(s, dir), Seq("r_regionkey")))
        .unionAll(audit("supplier", Tables.supplier(s, dir), Seq("s_suppkey")))
        .orderBy("table_name")
    },
      Some {
      val tables = Seq(
        "customer" -> "c_custkey", "documents" -> "doc_id",
        "embeddings" -> "vec_id", "events" -> "event_id",
        "lineitem" -> "l_orderkey, l_linenumber", "nation" -> "n_nationkey",
        "orders" -> "o_orderkey", "part" -> "p_partkey",
        "region" -> "r_regionkey", "supplier" -> "s_suppkey")
      tables.map { case (t, k) =>
        s"""SELECT '$t' AS table_name, CAST(sum(cnt) AS BIGINT) AS n_rows,
                   count(*) AS n_keys,
                   CAST(sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_dup_keys,
                   CAST(sum(cnt - 1) AS BIGINT) AS n_excess_rows
            FROM (SELECT count(*) AS cnt FROM $t GROUP BY $k)"""
      }.mkString("", "\nUNION ALL\n", "\nORDER BY table_name")
      }),

    // §2.5 F3/F4: busday_count with holiday calendar — custom Catalyst
    // Expression with codegen (graft.cal.BusdayCountExpr).
    // numpy busday_offset(roll='forward') companion to busday_count:
    // shift each date +10 business days in closed form — roll weekend
    // starts to Monday, then result = rolled + n + 2·((w0 + n) DIV 5)
    // calendar days, where w0 = Monday-based weekday. Pure integer date
    // arithmetic, identical on both engines; no generator, no join.
    Query("cal_busday_offset", (s, dir) => {
      val n = 10
      Tables.orders(s, dir)
        .select(to_date(col("o_orderdate")).as("start_date")).distinct()
        .withColumn("rolled",
          when(weekday(col("start_date")) >= 5,
            date_add(col("start_date"),
              lit(7) - weekday(col("start_date"))))
            .otherwise(col("start_date")))
        .withColumn("busday10",
          date_add(col("rolled"),
            (lit(n) + lit(2) * expr(s"(weekday(rolled) + $n) DIV 5"))
              .cast("int")))
        .select("start_date", "busday10")
        .orderBy("start_date")
    },
      Some("""WITH d AS (SELECT DISTINCT CAST(o_orderdate AS DATE) AS start_date
                    FROM orders),
              r AS (SELECT start_date,
                           CASE WHEN isodow(start_date) - 1 >= 5
                                THEN start_date
                                  + CAST(7 - (isodow(start_date) - 1)
                                         AS INT)
                                ELSE start_date END AS rolled
                    FROM d)
         SELECT start_date,
                rolled + CAST(10 + 2 * (((isodow(rolled) - 1) + 10) // 5)
                              AS INT) AS busday10
         FROM r ORDER BY start_date""")),

    Query("cal_busday_count", (s, dir) =>
      Tables.orders(s, dir)
        .select(to_date(col("o_orderdate")).as("start_date")).distinct()
        .withColumn("busdays", BusdayCount.busday_count(
          col("start_date"), date_add(col("start_date"), 30)))
        .orderBy("start_date"),
      Some("""WITH d AS (SELECT DISTINCT CAST(o_orderdate AS DATE) AS start_date
                    FROM orders),
              g AS (SELECT start_date,
                           CAST(unnest(generate_series(start_date,
                                start_date + 29, INTERVAL 1 DAY)) AS DATE) AS day
                    FROM d)
         SELECT start_date,
                CAST(count(*) FILTER (WHERE isodow(day) <= 5 AND NOT (
                       (month(day) = 1  AND day(day) = 1) OR
                       (month(day) = 7  AND day(day) = 4) OR
                       (month(day) = 12 AND day(day) = 25))) AS INT) AS busdays
         FROM g GROUP BY 1 ORDER BY 1""")),

    // §2.5 F3/F4 at full fidelity: the same codegen busday expression over
    // the rule-generated NYSE trading calendar (MLK, Presidents, Good
    // Friday via computus, Memorial, Juneteenth, Labor, Thanksgiving,
    // observed-date shifts, ad-hoc closures) — the reference's
    // mcal.get_calendar('NYSE').holidays() as data (av_etl.py:50-51).
    Query("cal_busday_nyse", (s, dir) =>
      Tables.orders(s, dir)
        .select(to_date(col("o_orderdate")).as("start_date")).distinct()
        .withColumn("busdays", BusdayCount.busday_count(
          col("start_date"), date_add(col("start_date"), 30),
          graft.cal.NyseCalendar.default))
        .orderBy("start_date"),
      // The oracle carries the same explicit holiday-date list the engine
      // generated (both sides then agree by construction on the *rules*,
      // which the spec pins independently against hand-written NYSE dates).
      Some {
      val dates = graft.cal.NyseCalendar.defaultDateLiterals
        .map(d => s"DATE '$d'").mkString(", ")
      s"""WITH d AS (SELECT DISTINCT CAST(o_orderdate AS DATE) AS start_date
                     FROM orders),
               g AS (SELECT start_date,
                            CAST(unnest(generate_series(start_date,
                                 start_date + 29, INTERVAL 1 DAY)) AS DATE)
                              AS day
                     FROM d)
          SELECT start_date,
                 CAST(count(*) FILTER (WHERE isodow(day) <= 5
                        AND day NOT IN ($dates)) AS INT) AS busdays
          FROM g GROUP BY 1 ORDER BY 1"""
      }),

    // §2.5 F5 + §2.3 P3: weekday predicate + drop-newest-row filter (the
    // reference's still-forming-bar drop, av_etl.py:123-127).
    Query("cal_weekday_filter", (s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("date"))
        .agg(count(lit(1)).as("n_events"))
      val wm = daily.agg(max(col("date")).as("watermark"))
      daily.join(broadcast(wm), col("date") < col("watermark"))
        .drop("watermark")
        .withColumn("dow", (expr("weekday(date)") + 1).cast("long"))
        .filter(col("dow") <= 5)
        .select("date", "dow", "n_events")
        .orderBy("date")
    },
      Some("""WITH daily AS (SELECT CAST(ts AS DATE) AS date, count(*) AS n_events
                        FROM events GROUP BY 1)
         SELECT date, isodow(date) AS dow, n_events
         FROM daily
         WHERE date < (SELECT max(date) FROM daily) AND isodow(date) <= 5
         ORDER BY date""")),

    // §2.2 R1–R4: map-of-maps JSON ingest — the Alpha Vantage wire format
    // decoded via from_json + explode(map_entries), string→double/long/date
    // casts (av_etl.py:76-81 semantics, distributed).
    Query("ingest_av_json", (s, dir) =>
      AvJson.parseDailyBars(AvJson.equityFixtureDf(s), "payload",
                            "Time Series (Daily)", withVolume = true)
        .orderBy("date"),
      Some {
      val path = "'$.\"Time Series (Daily)\".\"' || d || '\""
      s"""WITH p AS (SELECT '${AvJson.equityFixture}' AS j),
               k AS (SELECT unnest(json_keys(j, '$$."Time Series (Daily)"')) AS d, j
                     FROM p)
          SELECT CAST(d AS DATE) AS date,
                 CAST(j->>($path."1. open"') AS DOUBLE) AS open,
                 CAST(j->>($path."2. high"') AS DOUBLE) AS high,
                 CAST(j->>($path."3. low"') AS DOUBLE) AS low,
                 CAST(j->>($path."4. close"') AS DOUBLE) AS close,
                 CAST(j->>($path."5. volume"') AS BIGINT) AS volume
          FROM k ORDER BY date"""
      }),

    // §2.2 ingest, FX variant (av_etl.py:113-121): "Time Series FX
    // (Daily)" outer key, four metrics, no volume — the reference's
    // second of two extract paths.
    Query("ingest_av_fx_json", (s, dir) =>
      AvJson.parseDailyBars(AvJson.fxFixtureDf(s), "payload",
                            "Time Series FX (Daily)", withVolume = false)
        .orderBy("date"),
      Some {
      val path = "'$.\"Time Series FX (Daily)\".\"' || d || '\""
      s"""WITH p AS (SELECT '${AvJson.fxFixture}' AS j),
               k AS (SELECT unnest(json_keys(j, '$$."Time Series FX (Daily)"')) AS d, j
                     FROM p)
          SELECT CAST(d AS DATE) AS date,
                 CAST(j->>($path."1. open"') AS DOUBLE) AS open,
                 CAST(j->>($path."2. high"') AS DOUBLE) AS high,
                 CAST(j->>($path."3. low"') AS DOUBLE) AS low,
                 CAST(j->>($path."4. close"') AS DOUBLE) AS close
          FROM k ORDER BY date"""
      }),

    // §2.1 S1 as a full DataSource V2 connector: spark.read.format(
    // "graft-series") plans one InputPartition per (symbol × month) — the
    // unit a remote quote API pages by — pushes symbol/date predicates
    // into partition pruning (server-side filtering in the live reading),
    // and prunes columns in the reader. The deterministic generator
    // (graft.sources.SeriesGen) stands in for the wire fetch; the oracle
    // replays its exact integer arithmetic.
    Query("source_dsv2_series", (s, dir) =>
      s.read.format("graft-series")
        .option("symbols", "SPY,QQQ,IWM")
        .option("start", "2026-01-05")
        .option("end", "2026-03-31")
        .load()
        .filter(col("trade_date") >= lit("2026-02-02").cast("date") &&
                col("symbol").isin("SPY", "QQQ"))
        .select("symbol", "trade_date", "open", "high", "low", "close",
                "volume")
        .orderBy("symbol", "trade_date"),
      // replays graft.sources.SeriesGen bit-for-bit: the affine→square→affine
      // spread in exact BIGINT steps, prices as one int→double conversion +
      // one correctly-rounded division (both IEEE-exact on each engine)
      Some(s"""WITH ${duckSeriesBars("('SPY'), ('QQQ')", "2026-02-02", "2026-03-31")}
         SELECT symbol, trade_date, open, high, low, close, volume
         FROM bars ORDER BY symbol, trade_date""")),

    // DSv2 aggregate pushdown (SupportsPushDownAggregates, COMPLETE
    // pushdown): groupBy(symbol) count/min/max evaluate inside the
    // source — one partition per symbol, one emitted row per group, NO
    // Aggregate node in the plan (the quote-API summary-endpoint shape).
    // Sound because each group is computed wholly inside one reader.
    Query("source_dsv2_agg_pushdown", (s, dir) =>
      s.read.format("graft-series")
        .option("symbols", "SPY,QQQ,IWM")
        .option("start", "2026-01-05")
        .option("end", "2026-03-31")
        .load()
        .groupBy("symbol")
        .agg(count(lit(1)).as("n_days"),
             min(col("low")).as("min_low"),
             max(col("high")).as("max_high"),
             max(col("volume")).as("max_volume"))
        .orderBy("symbol"),
      Some(s"""WITH ${duckSeriesBars("('SPY'), ('QQQ'), ('IWM')", "2026-01-05", "2026-03-31")}
         SELECT symbol, count(*) AS n_days, min(low) AS min_low,
                max(high) AS max_high, max(volume) AS max_volume
         FROM bars GROUP BY 1 ORDER BY 1""")),

    // The SAME connector read as a micro-batch STREAM: the date range is
    // revealed 10 days per trigger (a bounded replay of a live feed),
    // complete-mode monthly aggregate converges to the batch answer —
    // one declarative transform, two execution modes.
    Query("stream_dsv2_source", (s, dir) =>
      BoundedRun.toMemory(s.readStream.format("graft-series")
          .option("symbols", "SPY,QQQ")
          .option("start", "2026-01-05")
          .option("end", "2026-02-27")
          .option("maxDaysPerTrigger", "10")
          .load()
          .groupBy(col("symbol"),
                   date_trunc("month", col("trade_date")).cast("date")
                     .as("month"))
          .agg(count(lit(1)).as("n_days"),
               sum(Exact.cents(col("close"))).cast("double")./(lit(100.0))
                 .as("sum_close"),
               min(col("low")).as("min_low"),
               max(col("high")).as("max_high")),
        "graft_stream_dsv2", "complete")
        .orderBy("symbol", "month"),
      // the streaming read of the same connector must converge to the batch
      // semantics: monthly aggregate over the full revealed range
      Some(s"""WITH ${duckSeriesBars("('SPY'), ('QQQ')", "2026-01-05", "2026-02-27")}
         SELECT symbol, date_trunc('month', trade_date) AS month,
                count(*) AS n_days,
                CAST(sum(CAST(round(close * 100, 0) AS BIGINT)) AS DOUBLE)
                  / 100.0 AS sum_close,
                min(low) AS min_low, max(high) AS max_high
         FROM bars GROUP BY 1, 2 ORDER BY 1, 2""")),

    // JSON field extraction over a data column (events.props) + group-agg;
    // long sums are exact integer arithmetic on both engines.
    Query("json_props_extract", (s, dir) =>
      Tables.events(s, dir)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))
        .orderBy("event_type"),
      Some("""SELECT event_type, count(*) AS n,
                CAST(sum(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k
         FROM events GROUP BY 1 ORDER BY 1""")),

    // Spark 4 VARIANT round-trip: nested JSON (built from typed columns
    // with a stable field order) → parse_json into the shredded binary
    // VARIANT type → typed variant_get extraction — the semi-structured
    // ingestion path a modern lake runs instead of string-typed JSON
    // columns (parse once, extract many, no re-tokenizing per path).
    // The oracle reads the ORIGINAL typed columns: it pins that the
    // whole build→shred→extract chain is lossless, including the double
    // (JSON prints round-trippable doubles) and the nested path.
    Query("json_variant_roundtrip", (s, dir) =>
      Tables.events(s, dir)
        .select(to_json(struct(
          col("event_id").as("id"),
          struct(col("event_type").as("t"), col("value").as("v")).as("m"),
          get_json_object(col("props"), "$.k").cast("long").as("k")))
          .as("js"))
        .select(parse_json(col("js")).as("v"))
        .select(
          expr("variant_get(v, '$.m.t', 'string')").as("event_type"),
          expr("variant_get(v, '$.m.v', 'double')").as("value"),
          expr("variant_get(v, '$.k', 'long')").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          (sum(Exact.cents(col("value"))).cast("double") / lit(100.0))
            .as("sum_value"),
          sum(col("k")).as("sum_k"))
        .orderBy("event_type"),
      // the original typed columns — losslessness of the build→shred→
      // extract chain IS the thing under test
      Some("""SELECT event_type, count(*) AS n,
                CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS DOUBLE)
                  / 100.0 AS sum_value,
                CAST(sum(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k
         FROM events GROUP BY 1 ORDER BY 1""")),

    // The pure-SQL entry path: the function surface GraftSession installs
    // (GraftExtensions) driving a query through spark.sql —
    // the engine's custom codegen expressions are first-class SQL
    // citizens, not just DataFrame helpers. Same plan as the DataFrame
    // formulation (the parser resolves to the identical expressions).
    Query("sql_api_dedup_report", (s, dir) => {
      Tables.documents(s, dir).createOrReplaceTempView("documents_v")
      s.sql("""
        SELECT simhash32(text) AS sh,
               count(*) AS n_docs,
               min(doc_id) AS min_doc_id,
               min(doc_fingerprint(text)) AS min_fingerprint
        FROM documents_v
        GROUP BY simhash32(text)
        ORDER BY n_docs DESC, sh ASC
        LIMIT 25""")
    },
      Some(s"""WITH h AS (SELECT doc_id, $duckTokHashes AS th FROM documents),
              x AS (SELECT doc_id, $duckSimhash AS sh,
                      CASE WHEN len(th) >= 3 THEN
                        list_min(list_transform(generate_series(1, len(th) - 2), i ->
                          ((th[i] * 31 + th[i+1]) * 31 + th[i+2]) % 2147483647))
                      ELSE list_reduce(list_prepend(CAST(0 AS BIGINT), th),
                             (a, b) -> a * 31 + b) % 2147483647
                      END AS fp
                    FROM h)
         SELECT sh, count(*) AS n_docs, min(doc_id) AS min_doc_id,
                min(fp) AS min_fingerprint
         FROM x GROUP BY 1 ORDER BY n_docs DESC, sh ASC LIMIT 25""")),

    // Right-to-erasure propagation (the GDPR deletion sweep): a
    // deterministic erasure list (user_id ≡ 0 mod 97) anti-joins through
    // every user-keyed table; the report shows per-table rows erased vs
    // retained — the audit evidence a deletion job must emit. Broadcast
    // erasure set, one anti/semi-join pair per table, no full rewrite in
    // the query (the write is the sink's idempotent append of survivors).
    Query("inc_gdpr_erasure", (s, dir) => {
      val ev = Tables.events(s, dir)
      val erase = ev.select(col("user_id")).distinct()
        .filter(col("user_id") % 97 === 0)
      val evErased = ev.join(broadcast(erase), Seq("user_id"), "leftsemi")
        .agg(count(lit(1)).as("n_erased"))
      val evKept = ev.join(broadcast(erase), Seq("user_id"), "left_anti")
        .agg(count(lit(1)).as("n_kept"))
      val sess = graft.ts.Sessionize
        .sessions(ev.filter(col("event_type") === "view")
            .select(col("user_id"), col("ts"), col("value")),
          "user_id", "ts", "value", 1800)
      val seErased = sess.join(broadcast(erase), Seq("user_id"), "leftsemi")
        .agg(count(lit(1)).as("n_erased"))
      val seKept = sess.join(broadcast(erase), Seq("user_id"), "left_anti")
        .agg(count(lit(1)).as("n_kept"))
      val s1 = evErased.crossJoin(evKept)
        .select(lit("events").as("table_name"), col("n_erased"),
                col("n_kept"))
      val s2 = seErased.crossJoin(seKept)
        .select(lit("view_sessions").as("table_name"), col("n_erased"),
                col("n_kept"))
      s1.unionByName(s2).orderBy("table_name")
    },
      Some("""WITH erase AS (SELECT DISTINCT user_id FROM events
                       WHERE user_id % 97 = 0),
              ev AS (SELECT 'events' AS table_name,
                CAST(count(*) FILTER (WHERE user_id IN
                  (SELECT user_id FROM erase)) AS BIGINT) AS n_erased,
                CAST(count(*) FILTER (WHERE user_id NOT IN
                  (SELECT user_id FROM erase)) AS BIGINT) AS n_kept
                FROM events),
              x AS (SELECT user_id, ts,
                      CASE WHEN lag(ts) OVER w IS NULL
                             OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                                > 1800000000
                           THEN 1 ELSE 0 END AS is_new
                    FROM events WHERE event_type = 'view'
                    WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
              sess AS (SELECT user_id,
                         CAST(sum(is_new) OVER (PARTITION BY user_id
                           ORDER BY ts ROWS UNBOUNDED PRECEDING) AS BIGINT)
                           AS session_seq
                       FROM x),
              sg AS (SELECT user_id, session_seq FROM sess
                     GROUP BY 1, 2),
              se AS (SELECT 'view_sessions' AS table_name,
                CAST(count(*) FILTER (WHERE user_id IN
                  (SELECT user_id FROM erase)) AS BIGINT) AS n_erased,
                CAST(count(*) FILTER (WHERE user_id NOT IN
                  (SELECT user_id FROM erase)) AS BIGINT) AS n_kept
                FROM sg)
         SELECT * FROM ev UNION ALL SELECT * FROM se
         ORDER BY table_name""")),

    // Data freshness report — the staleness check an incremental
    // pipeline alerts on: per series, last event time and its lag behind
    // the globally freshest series, in exact microseconds.
    Query("wm_freshness_report", (s, dir) => {
      val last = Tables.events(s, dir)
        .groupBy("event_type").agg(max(col("ts")).as("last_event"))
      val global = last.agg(max(col("last_event")).as("global_max"))
      last.crossJoin(broadcast(global))
        .select(col("event_type"), col("last_event"),
          expr("(unix_micros(global_max) - unix_micros(last_event)) " +
               "DIV 1000000").as("lag_seconds"))
        .orderBy("event_type")
    },
      Some("""WITH l AS (SELECT event_type, max(ts) AS last_event
                    FROM events GROUP BY 1),
              g AS (SELECT max(last_event) AS global_max FROM l)
         SELECT l.event_type, l.last_event,
                (epoch_us(g.global_max) - epoch_us(l.last_event)) // 1000000
                  AS lag_seconds
         FROM l, g ORDER BY l.event_type""")),

    // North-star streaming: tumbling daily windows + watermark over the
    // events stream (Structured Streaming, memory sink; batch-equivalent
    // by construction, which is exactly what the oracle checks).
    Query("stream_tumbling_daily", (s, dir) =>
      graft.streaming.EventStream.runTumblingDaily(s, dir)
        .orderBy("date", "event_type"),
      Some("""SELECT CAST(ts AS DATE) AS date, event_type, count(*) AS n,
                CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1, 2 ORDER BY 1, 2""")),

    // The mergeable HLL sketch maintained by streaming state: per-day
    // distinct-user estimates where the TypedImperativeAggregate's
    // serialized registers ARE the state rows — sketches at 100 TB are
    // only useful if the stream can keep them, and this pins that the
    // custom aggregate survives incremental merge + state round-trips
    // with the estimator's bitwise-portable arithmetic intact.
    Query("stream_hll_daily", (s, dir) =>
      graft.streaming.EventStream.runHllDaily(s, dir)
        .orderBy("date"),
      Some("""WITH f AS (SELECT CAST(ts AS DATE) AS date, user_id,
                      list_reduce(list_prepend(CAST(0 AS BIGINT),
                        list_transform(string_split(CAST(user_id AS VARCHAR), ''),
                          ch -> CAST(ascii(ch) AS BIGINT))),
                        (a, c) -> (a * 31 + c) % 2147483647) AS h0
                    FROM events),
              m1 AS (SELECT date, user_id,
                       (h0 * 1103515245 + 12345) % 2147483647 AS h1 FROM f),
              m2 AS (SELECT date, user_id, (h1 * h1) % 2147483647 AS h2
                     FROM m1),
              m3 AS (SELECT date, user_id,
                       (h2 * 69069 + 362437) % 2147483647 AS hv FROM m2),
              r AS (SELECT date, hv % 512 AS bucket,
                      CASE WHEN hv // 512 = 0 THEN 23
                           ELSE 23 - length(bin(hv // 512)) END AS rho
                    FROM m3),
              regs AS (SELECT date, bucket, max(rho) AS r
                       FROM r GROUP BY 1, 2),
              sq AS (SELECT date,
                       CAST(sum(CAST(1 AS BIGINT) << (32 - r)) AS BIGINT)
                         + (512 - count(*)) * CAST(4294967296 AS BIGINT) AS s,
                       512 - count(*) AS zero_regs
                     FROM regs GROUP BY 1)
         SELECT date,
                (((CAST(0.7213 AS DOUBLE) / (CAST(1 AS DOUBLE)
                    + CAST(1.079 AS DOUBLE) / CAST(512 AS DOUBLE)))
                  * CAST(512 AS DOUBLE)) * CAST(512 AS DOUBLE))
                  * CAST(4294967296 AS DOUBLE) / CAST(s AS DOUBLE) AS hll_est,
                CAST(zero_regs AS BIGINT) AS zero_regs
         FROM sq ORDER BY date""")),

    // Streaming quantiles: the stream maintains only deterministic
    // log2_fp bucket counts per (day, type) — bounded state at any
    // volume — and the p95 pick runs post-stream on the sketch table.
    // Streamed sketch == batch sketch bitwise (integer buckets), so the
    // DuckDB oracle replays the identical estimator.
    Query("stream_ddsketch_p95", (s, dir) =>
      graft.streaming.EventStream.runDdsketchDaily(s, dir)
        .orderBy("date", "event_type"),
      // same register arithmetic as sketch_hll_distinct, grouped per day
      // same estimator as sketch_ddsketch_quantiles, per day cell — the
      // streamed sketch is integer-bucketed so batch SQL replays it bitwise
      Some {
      val lg = graft.functions.FixedLog2.sql("cents")
      s"""WITH v AS (SELECT CAST(ts AS DATE) AS date, event_type,
                   CAST(round(value * 100, 0) AS BIGINT) AS cents
            FROM events
            WHERE CAST(round(value * 100, 0) AS BIGINT) > 0),
      b AS (SELECT date, event_type, $lg // 65536 AS bucket,
                   CAST(count(*) AS BIGINT) AS cnt,
                   CAST(min(cents) AS BIGINT) AS lo
            FROM v GROUP BY 1, 2, 3),
      n AS (SELECT date, event_type, CAST(sum(cnt) AS BIGINT) AS n
            FROM b GROUP BY 1, 2),
      c AS (SELECT b.*, sum(cnt) OVER (PARTITION BY date, event_type
                     ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW) AS cum
            FROM b),
      pick AS (SELECT c.date, c.event_type, n.n,
                      min(bucket) AS p95_bucket
               FROM c JOIN n ON n.date = c.date
                     AND n.event_type = c.event_type
               WHERE cum >= (n.n * 95 + 99) // 100
               GROUP BY 1, 2, 3)
          SELECT p.date, p.event_type, p.n, p.p95_bucket,
                 CAST(b.lo AS DOUBLE) / 100 AS p95_est
          FROM pick p JOIN b ON b.date = p.date
               AND b.event_type = p.event_type
               AND b.bucket = p.p95_bucket
          ORDER BY 1, 2""" }),

    // Sliding windows in streaming: the batch ts_sliding_window_2d shape
    // declared against the unbounded source — each event in two open
    // windows, state watermark-bounded, streamed == batch bitwise (same
    // oracle SQL as the batch query).
    Query("stream_sliding_2d", (s, dir) =>
      graft.streaming.EventStream.runSlidingTwoDay(s, dir)
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

    // North-star streaming: deduplication over an at-least-once stream —
    // the fixture replayed twice (union) collapses back to exact counts
    // via dropDuplicates on the event key (streaming form of I2).
    Query("stream_dedup_replay", (s, dir) =>
      graft.streaming.EventStream.runDedupedCounts(s, dir)
        .orderBy("event_type"),
      Some("""SELECT event_type, count(DISTINCT event_id) AS n_unique
         FROM events GROUP BY 1 ORDER BY 1""")),

    // The state-BOUNDED streaming dedup: dropDuplicatesWithinWatermark
    // TTLs each key's dedup state to the watermark delay (plain
    // dropDuplicates above keeps every key forever — correct, but state
    // grows with the key universe; this is the form an unbounded-id
    // stream runs at scale). Redeliveries share their event time, so
    // they always collapse inside the delay and the emitted set is
    // exactly one row per event_id.
    Query("stream_dedup_ttl", (s, dir) =>
      graft.streaming.EventStream.runDedupTtl(s, dir)
        .orderBy("date", "event_type"),
      // redeliveries share the original event time, so the TTL'd dedup
      // state always covers them and the emitted set is exactly distinct
      Some("""SELECT CAST(ts AS DATE) AS date, event_type,
                count(DISTINCT event_id) AS n_unique
         FROM events GROUP BY 1, 2 ORDER BY 1, 2""")),

    // North-star streaming: custom keyed state via flatMapGroupsWithState —
    // sessions spanning micro-batches, closed by gap or event-time timeout.
    // The emitted set IS SQL-expressible (gap-closed sessions plus final
    // sessions timed out below the final watermark), so this has a full
    // oracle; the spec additionally pins batch equivalence.
    Query("stream_sessionize_stateful", (s, dir) =>
      graft.streaming.StatefulSessions.runOverFixture(s, dir)
        .orderBy("user_id", "session_start"),
      // The stateful sessionizer's emitted set is deterministic: every
      // gap-closed session (a later same-user event exists past the gap),
      // plus each user's final session iff its event-time timeout
      // (session_end + gap, in ms — Spark tracks watermarks in millis) is
      // strictly below the final watermark (max ts - 1 hour). Expressed as
      // the batch sessionize SQL plus that one filter.
      Some("""WITH x AS (SELECT user_id, ts, value,
                      CASE WHEN lag(ts) OVER w IS NULL
                             OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                                > 1800000000
                           THEN 1 ELSE 0 END AS is_new
                    FROM events
                    WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
              y AS (SELECT user_id, ts, value,
                      CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
                    FROM x),
              s AS (SELECT user_id, session_seq,
                      min(ts) AS session_start, max(ts) AS session_end,
                      count(*) AS n_events,
                      CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                        AS sum_value
                    FROM y GROUP BY 1, 2),
              s2 AS (SELECT *,
                       max(session_seq) OVER (PARTITION BY user_id)
                         AS last_seq
                     FROM s),
              m AS (SELECT (max(epoch_us(ts)) // 1000) - 3600000 AS wm_ms
                    FROM events)
         SELECT user_id, session_start, session_end, n_events, sum_value
         FROM s2, m
         WHERE session_seq < last_seq
            OR (epoch_us(session_end) // 1000) + 1800000 < wm_ms
         ORDER BY user_id, session_start""")),

    // Built-in session_window running as a STREAMING aggregate: sessions
    // merge in-operator across micro-batches and the watermark evicts a
    // session's state once it passes the gap-extended close. Append mode
    // emits exactly the watermark-finalized sessions — the deterministic
    // set the oracle replays as batch sessionization plus that single
    // filter. Complements stream_sessionize_stateful (hand-rolled
    // flatMapGroupsWithState) with the engine-native operator.
    Query("stream_session_window", (s, dir) =>
      graft.streaming.EventStream.runSessionWindow(s, dir)
        .orderBy("user_id", "session_start"),
      // batch sessionization + the append-mode finalization filter: a
      // session emits iff its gap-extended end is at or below the final
      // watermark (max event time − 1 h, at Spark's ms watermark grain)
      Some("""WITH x AS (SELECT user_id, ts, value,
                      CASE WHEN lag(ts) OVER w IS NULL
                             OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                                > 1800000000
                           THEN 1 ELSE 0 END AS is_new
                    FROM events
                    WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
            y AS (SELECT user_id, ts, value,
                    CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
                  FROM x),
            s AS (SELECT user_id,
                    min(ts) AS session_start,
                    max(ts) + INTERVAL 30 MINUTE AS session_end_gap,
                    count(*) AS n_events,
                    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                      AS sum_value
                  FROM y GROUP BY user_id, session_seq),
            m AS (SELECT (max(epoch_us(ts)) // 1000) - 3600000 AS wm_ms
                  FROM events)
         SELECT user_id, session_start, session_end_gap, n_events,
                sum_value
         FROM s, m
         WHERE epoch_us(session_end_gap) <= wm_ms * 1000
         ORDER BY user_id, session_start""")),

    // Streaming extension: stream-stream time-bounded inner join — both
    // sides watermarked, state bounded by the range condition (one hour
    // of activity, not history). Emitted set == the batch join over a
    // bounded replay.
    Query("stream_stream_join", (s, dir) =>
      graft.streaming.EventStream.runStreamStreamJoin(s, dir)
        .orderBy("event_id", "view_ts", "view_value"),
      Some("""SELECT p.event_id, p.user_id, p.ts,
                v.ts AS view_ts, v.value AS view_value
         FROM events p JOIN events v
           ON p.event_type = 'purchase' AND v.event_type = 'view'
          AND p.user_id = v.user_id
          AND v.ts >= p.ts - INTERVAL 1 HOUR AND v.ts <= p.ts
         ORDER BY p.event_id, view_ts, view_value""")),

    // Left-semi stream-stream join: purchases with ≥1 view in their
    // trailing hour, each emitted exactly once on first match — the
    // batch-boundary-INDEPENDENT member of the join family (no eviction
    // semantics at all), so the oracle is a plain EXISTS
    Query("stream_stream_semi_join", (s, dir) =>
      graft.streaming.EventStream.runStreamStreamSemiJoin(s, dir)
        .orderBy("event_id"),
      // plain EXISTS — the semi join emits each matched purchase once,
      // with no watermark/batch-boundary dependence anywhere
      Some("""SELECT p.event_id, p.user_id, p.ts
         FROM events p
         WHERE p.event_type = 'purchase'
           AND EXISTS (SELECT 1 FROM events v
                       WHERE v.event_type = 'view'
                         AND v.user_id = p.user_id
                         AND v.ts >= p.ts - INTERVAL 1 HOUR
                         AND v.ts <= p.ts)
         ORDER BY p.event_id""")),

    // Left-outer stream-stream join: matches + watermark-evicted
    // unmatched lefts (see EventStream.runStreamStreamLeftJoin for the
    // eviction contract the oracle mirrors)
    Query("stream_stream_left_join", (s, dir) =>
      graft.streaming.EventStream.runStreamStreamLeftJoin(s, dir)
        .orderBy("event_id", "view_ts", "view_value"),
      // matches (the inner join) + null-joined lefts evicted before the
      // final watermark min(max p_ts, max view_ts) - 1h
      Some("""WITH p AS (SELECT event_id, user_id, ts AS p_ts FROM events
                    WHERE event_type = 'purchase'),
              v AS (SELECT user_id, ts AS view_ts, value AS view_value
                    FROM events WHERE event_type = 'view'),
              wm AS (SELECT least((SELECT max(p_ts) FROM p),
                                  (SELECT max(view_ts) FROM v))
                            - INTERVAL 1 HOUR AS w)
         SELECT p.event_id, p.user_id, p.p_ts AS ts,
                v.view_ts, v.view_value
         FROM p JOIN v
           ON v.user_id = p.user_id
          AND v.view_ts >= p.p_ts - INTERVAL 1 HOUR
          AND v.view_ts <= p.p_ts
         UNION ALL
         SELECT p.event_id, p.user_id, p.p_ts AS ts,
                CAST(NULL AS TIMESTAMP) AS view_ts,
                CAST(NULL AS DOUBLE) AS view_value
         FROM p CROSS JOIN wm
         WHERE p.p_ts < wm.w
           AND NOT EXISTS (SELECT 1 FROM v
                           WHERE v.user_id = p.user_id
                             AND v.view_ts >= p.p_ts - INTERVAL 1 HOUR
                             AND v.view_ts <= p.p_ts)
         ORDER BY event_id, view_ts, view_value""")),

    // Full-outer stream-stream join: both sides' evictions emit (see
    // EventStream.runStreamStreamFullJoin); the sort key coalesces the
    // two id columns so no engine ever orders by NULL
    Query("stream_stream_full_join", (s, dir) =>
      graft.streaming.EventStream.runStreamStreamFullJoin(s, dir)
        .orderBy(coalesce(col("purchase_id"), col("view_id")),
          col("view_id")),
      // the left-join oracle plus the right side's evictions: a view is
      // provably unmatchable once the watermark passes view_ts + 1h
      Some("""WITH p AS (SELECT event_id AS purchase_id, user_id, ts AS p_ts
                    FROM events WHERE event_type = 'purchase'),
              v AS (SELECT event_id AS view_id, user_id, ts AS view_ts,
                           value AS view_value
                    FROM events WHERE event_type = 'view'),
              wm AS (SELECT least((SELECT max(p_ts) FROM p),
                                  (SELECT max(view_ts) FROM v))
                            - INTERVAL 1 HOUR AS w)
         SELECT * FROM (
           SELECT p.purchase_id, v.view_id, p.user_id, p.p_ts,
                  v.view_ts, v.view_value
           FROM p JOIN v
             ON v.user_id = p.user_id
            AND v.view_ts >= p.p_ts - INTERVAL 1 HOUR
            AND v.view_ts <= p.p_ts
           UNION ALL
           SELECT p.purchase_id, CAST(NULL AS BIGINT), p.user_id,
                  p.p_ts, CAST(NULL AS TIMESTAMP), CAST(NULL AS DOUBLE)
           FROM p CROSS JOIN wm
           WHERE p.p_ts < wm.w
             AND NOT EXISTS (SELECT 1 FROM v
                             WHERE v.user_id = p.user_id
                               AND v.view_ts >= p.p_ts - INTERVAL 1 HOUR
                               AND v.view_ts <= p.p_ts)
           UNION ALL
           SELECT CAST(NULL AS BIGINT), v.view_id, v.user_id,
                  CAST(NULL AS TIMESTAMP), v.view_ts, v.view_value
           FROM v CROSS JOIN wm
           WHERE v.view_ts + INTERVAL 1 HOUR < wm.w
             AND NOT EXISTS (SELECT 1 FROM p
                             WHERE p.user_id = v.user_id
                               AND v.view_ts >= p.p_ts - INTERVAL 1 HOUR
                               AND v.view_ts <= p.p_ts))
         ORDER BY coalesce(purchase_id, view_id), view_id""")),

    // Benford first-digit audit (the classic fabricated-data screen):
    // distribution of leading digits of order totals. The digit comes
    // from the integer-cent string — never from double formatting, which
    // differs across engines — so the whole audit is exact.
    Query("dq_benford_digits", (s, dir) => {
      val cents = Exact.cents(col("o_totalprice"))
      val total = Tables.orders(s, dir).agg(count(lit(1)).as("n_total"))
      Tables.orders(s, dir)
        .select(substring(cents.cast("string"), 1, 1).as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("n"))
        .crossJoin(broadcast(total))
        .select(col("digit"), col("n"),
          (col("n").cast("double") / col("n_total").cast("double"))
            .as("share"))
        .orderBy("digit")
    },
      Some("""WITH c AS (SELECT substr(CAST(CAST(round(o_totalprice * 100, 0)
                      AS BIGINT) AS VARCHAR), 1, 1) AS digit
                    FROM orders),
              t AS (SELECT count(*) AS n_total FROM orders)
         SELECT digit, count(*) AS n,
                CAST(count(*) AS DOUBLE) / CAST(t.n_total AS DOUBLE)
                  AS share
         FROM c, t GROUP BY digit, t.n_total ORDER BY digit""")),

    // Data-quality table profiler: per-column null count + exact distinct
    // cardinality + the table row count, all from ONE scan (the multiple
    // exact countDistincts plan as a single Expand + aggregate — one pass
    // over the data, the standard exact shape; the 100 TB variant swaps
    // the exact distincts for the engine's mergeable HLL sketches, same
    // output schema, see sketch_hll_distinct). Wide-to-long via stack().
    Query("dq_profile_table", (s, dir) => {
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
                     "o_totalprice", "o_orderdate", "o_orderpriority")
      val aggs = count(lit(1)).as("n_rows") +: cols.flatMap(c => Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nulls"),
        countDistinct(col(c)).as(s"${c}__distinct")))
      val stackArgs = cols.map(c =>
        s"'$c', ${c}__nulls, ${c}__distinct").mkString(", ")
      Tables.orders(s, dir)
        .agg(aggs.head, aggs.tail: _*)
        .select(
          expr(s"stack(${cols.size}, $stackArgs) AS " +
            "(column_name, n_nulls, n_distinct)"),
          col("n_rows"))
        .orderBy("column_name")
    },
      Some("""WITH prof AS (
           SELECT 'o_orderkey' AS column_name,
                  CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_nulls,
                  CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct
           FROM orders
           UNION ALL
           SELECT 'o_custkey',
                  CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT),
                  CAST(count(DISTINCT o_custkey) AS BIGINT)
           FROM orders
           UNION ALL
           SELECT 'o_orderstatus',
                  CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT),
                  CAST(count(DISTINCT o_orderstatus) AS BIGINT)
           FROM orders
           UNION ALL
           SELECT 'o_totalprice',
                  CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT),
                  CAST(count(DISTINCT o_totalprice) AS BIGINT)
           FROM orders
           UNION ALL
           SELECT 'o_orderdate',
                  CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT),
                  CAST(count(DISTINCT o_orderdate) AS BIGINT)
           FROM orders
           UNION ALL
           SELECT 'o_orderpriority',
                  CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT),
                  CAST(count(DISTINCT o_orderpriority) AS BIGINT)
           FROM orders)
         SELECT p.column_name, p.n_nulls, p.n_distinct,
                (SELECT count(*) FROM orders) AS n_rows
         FROM prof p ORDER BY column_name""")),

    // SCD2 dimension history from a change stream: every purchase
    // versions the user's attribute with a validity interval — the
    // point-in-time-join form of the reference's latest-wins watermark
    // table. Keyed window; (ts, event_id) makes versioning total.
    Query("inc_scd2_history", (s, dir) =>
      graft.inc.Scd2.history(
          Tables.events(s, dir)
            .filter(col("event_type") === "purchase" && col("user_id") < 50)
            .select("user_id", "event_id", "ts", "value"),
          keyCols = Seq("user_id"), tsCol = "ts", tieCol = "event_id")
        .select("user_id", "version", "valid_from", "valid_to", "value",
                "is_current")
        .orderBy("user_id", "version"),
      Some("""SELECT user_id, CAST(row_number() OVER w AS BIGINT) AS version,
                ts AS valid_from, lead(ts) OVER w AS valid_to, value,
                lead(ts) OVER w IS NULL AS is_current
         FROM events
         WHERE event_type = 'purchase' AND user_id < 50
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
         ORDER BY user_id, version""")),

    // Point-in-time dimension join: facts pick the SCD2 version valid at
    // fact time — expressed as an as-of join on valid_from and executed by
    // the NATIVE AsOfJoinExec plan node (its second production context:
    // same operator, warehouse semantics). The as-of pick automatically
    // satisfies valid_from <= ts < valid_to since valid_to is the next
    // version's valid_from.
    Query("inc_scd2_pointintime", (s, dir) => {
      val ev = Tables.events(s, dir)
      val dim = graft.inc.Scd2.history(
          ev.filter(col("event_type") === "purchase" && col("user_id") < 50)
            .select("user_id", "event_id", "ts", "value"),
          keyCols = Seq("user_id"), tsCol = "ts", tieCol = "event_id")
        .select(col("user_id").as("dim_user_id"), col("valid_from"),
          col("version").as("dim_version"), col("value").as("dim_value"))
      val facts = ev
        .filter(col("event_type") === "view" && col("user_id") < 50)
        .select("event_id", "user_id", "ts")
      graft.plans.AsOfJoinPlan.asOf(facts, dim,
          Seq("user_id"), Seq("dim_user_id"), "ts", "valid_from")
        .select("event_id", "user_id", "ts", "dim_version", "dim_value",
          "valid_from")
        .orderBy("event_id")
    },
      Some("""WITH ch AS (SELECT user_id, event_id, ts, value FROM events
                     WHERE event_type = 'purchase' AND user_id < 50),
              d AS (SELECT user_id AS dim_user_id, ts AS valid_from,
                      value AS dim_value,
                      CAST(row_number() OVER (PARTITION BY user_id
                        ORDER BY ts, event_id) AS BIGINT) AS dim_version
                    FROM ch),
              f AS (SELECT event_id, user_id, ts FROM events
                    WHERE event_type = 'view' AND user_id < 50)
         SELECT f.event_id, f.user_id, f.ts, d.dim_version, d.dim_value,
                d.valid_from
         FROM f ASOF LEFT JOIN d
           ON f.user_id = d.dim_user_id AND d.valid_from <= f.ts
         ORDER BY f.event_id""")),

    // Streaming extension: stream-static enrich — unbounded events joined
    // to the broadcast customer dimension (stateless; no watermark, no
    // join state), then aggregated per segment.
    Query("stream_static_enrich", (s, dir) =>
      graft.streaming.EventStream.runStaticEnrich(s, dir)
        .orderBy("c_mktsegment", "event_type"),
      Some("""SELECT c_mktsegment, event_type, count(*) AS n,
                CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM events JOIN customer ON user_id = c_custkey
         GROUP BY 1, 2 ORDER BY 1, 2""")),

    // CDC compaction (latest-wins upsert): one surviving row per key via
    // partial-aggregable max_by over the packed payload — the shuffle
    // carries one pre-reduced row per key per map partition, not the
    // change log (a window formulation would sort every change).
    Query("inc_upsert_latest", (s, dir) =>
      graft.inc.Watermark.latestByKey(
          Tables.events(s, dir).filter(col("event_type") === "purchase")
            .select("user_id", "ts", "event_id", "value"),
          keyCols = Seq("user_id"), tsCol = "ts", tieCol = "event_id",
          payloadCols = Seq("value"))
        .orderBy("user_id"),
      Some("""SELECT user_id, ts, event_id, value FROM (
           SELECT user_id, ts, event_id, value,
                  row_number() OVER (PARTITION BY user_id
                    ORDER BY ts DESC, event_id DESC) AS rn
           FROM events WHERE event_type = 'purchase')
         WHERE rn = 1 ORDER BY user_id""")),

    // Data-quality gate (Deequ-style): five row-level constraints in ONE
    // aggregation pass (conditional counts, partial-aggregable) plus two
    // table-level checks with their own minimal plans (anti-join orphans,
    // group-count duplicates), unioned to one (check_name, n_violations)
    // report — the pre-ingest gate every pipeline runs.
    Query("dq_constraint_checks", (s, dir) => {
      import graft.olap.Quality
      val li = Tables.lineitem(s, dir)
      val rowChecks = Quality.violationCounts(li, Seq(
        "null_orderkey" -> col("l_orderkey").isNull,
        "nonpositive_quantity" -> (col("l_quantity") <= 0),
        "discount_out_of_range" ->
          (col("l_discount") < 0 || col("l_discount") > 1),
        "null_shipdate" -> col("l_shipdate").isNull,
        "flag_domain" -> !col("l_returnflag").isin("A", "N", "R")))
      rowChecks
        .unionByName(Quality.orphanCount(li, "l_orderkey",
          Tables.orders(s, dir), "o_orderkey", "orphan_orderkey"))
        .unionByName(Quality.duplicateCount(li,
          Seq("l_orderkey", "l_linenumber", "l_shipdate", "l_quantity"),
          "duplicate_line_identity"))
        .orderBy("check_name")
    },
      Some("""SELECT check_name, n_violations FROM (
           SELECT 'null_orderkey' AS check_name,
                  CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_violations FROM lineitem
           UNION ALL
           SELECT 'nonpositive_quantity',
                  CAST(sum(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END)
                    AS BIGINT) FROM lineitem
           UNION ALL
           SELECT 'discount_out_of_range',
                  CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 1
                                THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
           UNION ALL
           SELECT 'null_shipdate',
                  CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) FROM lineitem
           UNION ALL
           SELECT 'flag_domain',
                  CAST(sum(CASE WHEN l_returnflag NOT IN ('A', 'N', 'R')
                                THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
           UNION ALL
           SELECT 'orphan_orderkey', CAST(count(*) AS BIGINT) FROM lineitem
           WHERE NOT EXISTS (SELECT 1 FROM orders
                             WHERE o_orderkey = l_orderkey)
           UNION ALL
           SELECT 'duplicate_line_identity',
                  CAST(coalesce(sum(n - 1), 0) AS BIGINT)
           FROM (SELECT count(*) AS n FROM lineitem
                 GROUP BY l_orderkey, l_linenumber, l_shipdate, l_quantity))
         ORDER BY check_name""")),

    // Algebraic partial-aggregate merge — the property incremental
    // aggregate maintenance rests on: agg(history) ⊕ agg(increment) ==
    // agg(all), checked against the oracle computing agg(all) directly.
    // Counts and exact cent sums merge by addition; the watermark splits
    // the input the same way an incremental run would.
    Query("inc_agg_merge", (s, dir) => {
      val ev = Tables.events(s, dir)
      val wm = ev.agg(max(to_date(col("ts"))).as("maxd"))
      def partial(df: DataFrame): DataFrame =
        df.groupBy("event_type")
          .agg(count(lit(1)).as("n"),
               sum(Exact.cents(col("value"))).as("cents"))
      val hist = partial(ev.join(broadcast(wm),
        to_date(col("ts")) <= date_sub(col("maxd"), 10)))
      val delta = partial(ev.join(broadcast(wm),
        to_date(col("ts")) > date_sub(col("maxd"), 10)))
      hist.unionByName(delta)
        .groupBy("event_type")
        .agg(sum(col("n")).as("n"), sum(col("cents")).as("cents"))
        .select(col("event_type"), col("n"),
          (col("cents").cast("double") / lit(100.0)).as("sum_value"))
        .orderBy("event_type")
    },
      Some("""SELECT event_type, count(*) AS n,
                CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS DOUBLE)
                  / CAST(100 AS DOUBLE) AS sum_value
         FROM events GROUP BY 1 ORDER BY 1""")),

    // Snapshot reconciliation — the audit step of every incremental
    // pipeline: diff two watermark-relative snapshots (history ≤ wm−10
    // vs trailing 20 days) per key, classify added / removed / changed /
    // unchanged. One full-outer join on the key; the per-key sums are
    // exact cents so "changed" is exact, not float-fuzzy.
    Query("inc_snapshot_diff", (s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
      val wm = ev.agg(max(to_date(col("ts"))).as("maxd"))
      val older = ev.join(broadcast(wm),
          to_date(col("ts")) <= date_sub(col("maxd"), 10))
        .groupBy("user_id")
        .agg(sum(Exact.cents(col("value"))).as("cents_old"))
      val newer = ev.join(broadcast(wm),
          to_date(col("ts")) > date_sub(col("maxd"), 20))
        .groupBy(col("user_id").as("user_id_n"))
        .agg(sum(Exact.cents(col("value"))).as("cents_new"))
      graft.inc.SnapshotDiff.classify(
        older.select(col("user_id"), col("cents_old").as("cents")),
        newer.select(col("user_id_n").as("user_id"),
          col("cents_new").as("cents")),
        "user_id", "cents")
    },
      Some("""WITH wm AS (SELECT max(CAST(ts AS DATE)) AS maxd FROM events
                     WHERE event_type = 'purchase'),
              o AS (SELECT user_id,
                      sum(CAST(round(value * 100, 0) AS BIGINT)) AS cents_old
                    FROM events, wm
                    WHERE event_type = 'purchase'
                      AND CAST(ts AS DATE) <= maxd - 10
                    GROUP BY 1),
              n AS (SELECT user_id,
                      sum(CAST(round(value * 100, 0) AS BIGINT)) AS cents_new
                    FROM events, wm
                    WHERE event_type = 'purchase'
                      AND CAST(ts AS DATE) > maxd - 20
                    GROUP BY 1),
              j AS (SELECT o.user_id AS uo, n.user_id AS un,
                           cents_old, cents_new
                    FROM o FULL OUTER JOIN n ON o.user_id = n.user_id)
         SELECT CAST(sum(CASE WHEN uo IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_added,
                CAST(sum(CASE WHEN un IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_removed,
                CAST(sum(CASE WHEN uo IS NOT NULL AND un IS NOT NULL
                               AND cents_old <> cents_new
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
                CAST(sum(CASE WHEN uo IS NOT NULL AND un IS NOT NULL
                               AND cents_old = cents_new
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged
         FROM j""")),

    // End-to-end exactly-once streaming SINK: at-least-once delivery
    // (every event twice) through foreachBatch + keyed idempotent append
    // into parquet; the sink holds each event exactly once (n_rows ==
    // n_unique is part of the checked output).
    Query("stream_foreach_upsert", (s, dir) => {
      val sink = graft.io.WorkDir.create("graft_upsert_sink").toString
      graft.streaming.EventStream.runForeachBatchUpsert(s, dir, sink)
        .orderBy("event_type")
    },
      // the sink must hold each event exactly once despite double delivery:
      // n_rows == n_unique == the batch distinct count
      Some("""SELECT event_type, count(*) AS n_rows,
                count(DISTINCT event_id) AS n_unique,
                CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1 ORDER BY 1""")),

    // Streaming point-in-time enrichment: streamed purchases as-of join
    // a static view history per micro-batch — batch boundaries can't
    // change any row's match, so streamed == batch as-of bitwise (the
    // oracle is DuckDB's native ASOF, same as the batch query).
    // The admission gate running per micro-batch over a document file
    // stream: row-local rules mean per-batch partial summaries ADD, so
    // streamed == batch bitwise — same oracle as pipeline_quality_gate.
    Query("stream_quality_gate", (s, dir) => {
      val sink = graft.io.WorkDir.create("graft_gate_sink").toString
      graft.streaming.EventStream.runQualityGate(s, dir, sink)
        .orderBy("lang", "reason")
    },
      // identical semantics streamed per micro-batch (row-local rules, so
      // partial summaries add): same oracle
      Some(qualityGateOracle)),

    Query("stream_asof_enrich", (s, dir) => {
      val sink = graft.io.WorkDir.create("graft_asof_sink").toString
      graft.streaming.EventStream.runAsOfEnrich(s, dir, sink)
        .orderBy("event_id")
    },
      Some("""WITH p AS (SELECT event_id, user_id, ts FROM events
                    WHERE event_type = 'purchase'),
              v AS (SELECT user_id, ts, value FROM events
                    WHERE event_type = 'view')
         SELECT p.event_id, p.user_id, p.ts,
                v.ts AS asof_ts, v.value AS asof_value
         FROM p ASOF LEFT JOIN v
           ON p.user_id = v.user_id AND v.ts <= p.ts
         ORDER BY p.event_id""")),

    // Referential-integrity audit across the star schema: per FK relation,
    // child rows, distinct / null keys, and orphan keys+rows (non-null key
    // with no parent). Child keys are pre-aggregated per key BEFORE the
    // parent anti-join, so the join input is |distinct keys| not |rows|,
    // and small parents broadcast. The audit-over-clean-data output (zero
    // orphans here) is the point: it is the certification a 100 TB
    // warehouse runs after every load.
    Query("dq_referential_integrity", (s, dir) => {
      def audit(rel: String, child: DataFrame, key: org.apache.spark.sql.Column,
                parent: DataFrame, pkey: org.apache.spark.sql.Column) = {
        val keyed = child.select(key.as("k"))
        val counts = keyed.groupBy("k").agg(count(lit(1)).as("cnt"))
        val orphans = counts.filter(col("k").isNotNull)
          .join(broadcast(parent.select(pkey.as("k")).distinct()),
                Seq("k"), "leftanti")
          .agg(coalesce(count(lit(1)), lit(0L)).as("n_orphan_keys"),
               coalesce(sum(col("cnt")), lit(0L)).as("n_orphan_rows"))
        keyed.agg(count(lit(1)).as("n_child_rows"),
            count_distinct(col("k")).as("n_distinct_keys"),
            sum(when(col("k").isNull, 1L).otherwise(0L)).as("n_null_keys"))
          .crossJoin(orphans)
          .select(lit(rel).as("relation"), col("n_child_rows"),
                  col("n_distinct_keys"), col("n_null_keys"),
                  col("n_orphan_keys"), col("n_orphan_rows"))
      }
      val li = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir)
      audit("lineitem.orderkey->orders", li, col("l_orderkey"),
            o, col("o_orderkey"))
        .unionByName(audit("lineitem.partkey->part", li, col("l_partkey"),
            Tables.part(s, dir), col("p_partkey")))
        .unionByName(audit("lineitem.suppkey->supplier", li, col("l_suppkey"),
            Tables.supplier(s, dir), col("s_suppkey")))
        .unionByName(audit("orders.custkey->customer", o, col("o_custkey"),
            Tables.customer(s, dir), col("c_custkey")))
        .unionByName(audit("events.user_id->customer",
            Tables.events(s, dir), col("user_id"),
            Tables.customer(s, dir), col("c_custkey")))
        .orderBy("relation")
    },
      Some("""WITH a1 AS (SELECT 'lineitem.orderkey->orders' AS relation,
                            count(*) AS n_child_rows,
                            count(DISTINCT l_orderkey) AS n_distinct_keys,
                            CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1
                                          ELSE 0 END) AS BIGINT)
                              AS n_null_keys,
                            (SELECT count(*) FROM
                              (SELECT l_orderkey AS k FROM lineitem
                               WHERE l_orderkey IS NOT NULL GROUP BY 1) ck
                             WHERE NOT EXISTS (SELECT 1 FROM orders
                                               WHERE o_orderkey = ck.k))
                              AS n_orphan_keys,
                            (SELECT count(*) FROM lineitem
                             WHERE l_orderkey IS NOT NULL
                               AND NOT EXISTS (SELECT 1 FROM orders
                                     WHERE o_orderkey = l_orderkey))
                              AS n_orphan_rows
                     FROM lineitem),
              a2 AS (SELECT 'lineitem.partkey->part',
                            count(*),
                            count(DISTINCT l_partkey),
                            CAST(sum(CASE WHEN l_partkey IS NULL THEN 1
                                          ELSE 0 END) AS BIGINT),
                            (SELECT count(*) FROM
                              (SELECT l_partkey AS k FROM lineitem
                               WHERE l_partkey IS NOT NULL GROUP BY 1) ck
                             WHERE NOT EXISTS (SELECT 1 FROM part
                                               WHERE p_partkey = ck.k)),
                            (SELECT count(*) FROM lineitem
                             WHERE l_partkey IS NOT NULL
                               AND NOT EXISTS (SELECT 1 FROM part
                                     WHERE p_partkey = l_partkey))
                     FROM lineitem),
              a3 AS (SELECT 'lineitem.suppkey->supplier',
                            count(*),
                            count(DISTINCT l_suppkey),
                            CAST(sum(CASE WHEN l_suppkey IS NULL THEN 1
                                          ELSE 0 END) AS BIGINT),
                            (SELECT count(*) FROM
                              (SELECT l_suppkey AS k FROM lineitem
                               WHERE l_suppkey IS NOT NULL GROUP BY 1) ck
                             WHERE NOT EXISTS (SELECT 1 FROM supplier
                                               WHERE s_suppkey = ck.k)),
                            (SELECT count(*) FROM lineitem
                             WHERE l_suppkey IS NOT NULL
                               AND NOT EXISTS (SELECT 1 FROM supplier
                                     WHERE s_suppkey = l_suppkey))
                     FROM lineitem),
              a4 AS (SELECT 'orders.custkey->customer',
                            count(*),
                            count(DISTINCT o_custkey),
                            CAST(sum(CASE WHEN o_custkey IS NULL THEN 1
                                          ELSE 0 END) AS BIGINT),
                            (SELECT count(*) FROM
                              (SELECT o_custkey AS k FROM orders
                               WHERE o_custkey IS NOT NULL GROUP BY 1) ck
                             WHERE NOT EXISTS (SELECT 1 FROM customer
                                               WHERE c_custkey = ck.k)),
                            (SELECT count(*) FROM orders
                             WHERE o_custkey IS NOT NULL
                               AND NOT EXISTS (SELECT 1 FROM customer
                                     WHERE c_custkey = o_custkey))
                     FROM orders),
              a5 AS (SELECT 'events.user_id->customer',
                            count(*),
                            count(DISTINCT user_id),
                            CAST(sum(CASE WHEN user_id IS NULL THEN 1
                                          ELSE 0 END) AS BIGINT),
                            (SELECT count(*) FROM
                              (SELECT user_id AS k FROM events
                               WHERE user_id IS NOT NULL GROUP BY 1) ck
                             WHERE NOT EXISTS (SELECT 1 FROM customer
                                               WHERE c_custkey = ck.k)),
                            (SELECT count(*) FROM events
                             WHERE user_id IS NOT NULL
                               AND NOT EXISTS (SELECT 1 FROM customer
                                     WHERE c_custkey = user_id))
                     FROM events)
         SELECT * FROM (
           SELECT * FROM a1 UNION ALL SELECT * FROM a2
           UNION ALL SELECT * FROM a3 UNION ALL SELECT * FROM a4
           UNION ALL SELECT * FROM a5)
           t(relation, n_child_rows, n_distinct_keys, n_null_keys,
             n_orphan_keys, n_orphan_rows)
         ORDER BY relation""")),

    // CDC apply with delete semantics: events are a change stream where
    // event_type = 'error' marks a key deletion and everything else
    // upserts (documented synthetic mapping). The final state per key is
    // decided by the LAST op in (ts, event_id) order — computed with a
    // partial-aggregable max_by over the packed op struct (no window, no
    // full-history shuffle beyond the one keyed aggregate), then delete
    // finals drop out. This is MERGE INTO semantics as one aggregate —
    // the shape that survives a 100 TB changelog.
    Query("inc_cdc_apply", (s, dir) => {
      val fin = Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
                col("event_type"), Exact.cents(col("value")).as("vc"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_ops"),
          max_by(struct(col("event_type").as("et"), col("event_id").as("eid"),
                        col("vc")),
                 struct(col("ts"), col("event_id"))).as("last"))
      fin.filter(col("last.et") =!= "error")
        .select(col("user_id"), col("n_ops"),
                col("last.eid").as("last_event_id"),
                col("last.vc").as("last_value_cents"))
        .orderBy("user_id")
    },
      // final op per key via the positional window (a different algorithm
      // from the engine's partial-aggregable max_by)
      Some("""WITH o AS (SELECT user_id, ts, event_id, event_type,
                           CAST(round(value * 100, 0) AS BIGINT) AS vc,
                           row_number() OVER (PARTITION BY user_id
                                              ORDER BY ts DESC,
                                                       event_id DESC) AS rn,
                           count(*) OVER (PARTITION BY user_id) AS n_ops
                    FROM events)
         SELECT user_id, n_ops, event_id AS last_event_id,
                vc AS last_value_cents
         FROM o WHERE rn = 1 AND event_type <> 'error'
         ORDER BY user_id""")),

    // Streaming windowed top-k: per-day event-type counts maintained by
    // the watermarked tumbling aggregation, deterministic per-day top-3
    // rank applied to the finalized sink table (see
    // EventStream.runWindowedTopk for why the rank lives sink-side).
    Query("stream_windowed_topk", (s, dir) =>
      graft.streaming.EventStream.runWindowedTopk(s, dir)
        .orderBy("date", "rnk"),
      Some("""WITH c AS (SELECT CAST(ts AS DATE) AS date, event_type,
                           count(*) AS n
                    FROM events GROUP BY 1, 2),
              r AS (SELECT date, event_type, n,
                           row_number() OVER (PARTITION BY date
                                              ORDER BY n DESC,
                                                       event_type) AS rnk
                    FROM c)
         SELECT date, event_type, n, rnk FROM r
         WHERE rnk <= 3 ORDER BY date, rnk""")),

    // Schema evolution on read: two parquet snapshots written with
    // DIFFERENT schemas (the second adds a column), unified by
    // mergeSchema — the missing column surfaces as NULLs for old
    // snapshot rows. The report certifies the merged read: per-parity
    // row counts, nulls in the late-added column, exact cent sums.
    // The append-only schema-drift story every long-lived 100 TB table
    // eventually needs.
    Query("inc_schema_evolution", (s, dir) => {
      val base = graft.io.WorkDir.create("graft_schema_evo").toString
      val o = Tables.orders(s, dir)
      o.filter(col("o_orderkey") % 2 === 0)
        .select("o_orderkey", "o_totalprice")
        .write.mode("overwrite").parquet(s"$base/snap=0")
      o.filter(col("o_orderkey") % 2 === 1)
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
        .write.mode("overwrite").parquet(s"$base/snap=1")
      s.read.option("mergeSchema", "true").parquet(base)
        .groupBy((col("o_orderkey") % 2).as("parity"))
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("o_orderpriority").isNull, 1L).otherwise(0L))
            .as("n_null_priority"),
          sum(Exact.cents(col("o_totalprice"))).as("sum_cents"))
        .orderBy("parity")
    },
      // parity 0 rows were written WITHOUT the priority column, so the
      // merged read surfaces NULL for every one of them
      Some("""SELECT o_orderkey % 2 AS parity, count(*) AS n_rows,
                CAST(sum(CASE WHEN o_orderkey % 2 = 0 THEN 1
                              WHEN o_orderpriority IS NULL THEN 1
                              ELSE 0 END) AS BIGINT) AS n_null_priority,
                CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                     AS BIGINT) AS sum_cents
         FROM orders GROUP BY 1 ORDER BY parity""")),

    // Watermark-lateness what-if: replay events in (deterministic
    // hash-jittered) ARRIVAL order and count, per source partition
    // (event_type — the Kafka-partition model, where watermarks are
    // tracked per partition), how many events each candidate watermark
    // delay would drop: event late iff its event time is older than the
    // partition's running max event time at arrival minus the threshold.
    // One keyed window pass (exclusive running max), three thresholds
    // counted in the same aggregate — the tuning report that sizes
    // withWatermark() before a stream ships.
    Query("wm_lateness_whatif", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy("arrival_us", "event_id")
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, -1)
      Tables.events(s, dir)
        .select(col("event_type"), col("event_id"),
                unix_micros(col("ts")).as("us"))
        .withColumn("delay_s",
          pmod(col("event_id") * lit(2654435761L), lit(2147483647L))
            % lit(7200L))
        .withColumn("arrival_us", col("us") + col("delay_s") * lit(1000000L))
        .withColumn("wm_us", max(col("us")).over(w))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("us") < col("wm_us") - lit(900L * 1000000L), 1L)
            .otherwise(0L)).as("late_15m"),
          sum(when(col("us") < col("wm_us") - lit(3600L * 1000000L), 1L)
            .otherwise(0L)).as("late_1h"),
          sum(when(col("us") < col("wm_us") - lit(7200L * 1000000L), 1L)
            .otherwise(0L)).as("late_2h"))
        .orderBy("event_type")
    },
      Some("""WITH e AS (SELECT event_type, event_id, epoch_us(ts) AS us,
                           (((event_id * 2654435761) % 2147483647)
                            + 2147483647) % 2147483647 % 7200 AS delay_s
                    FROM events),
              a AS (SELECT event_type, event_id, us,
                           us + delay_s * 1000000 AS arrival_us
                    FROM e),
              m AS (SELECT event_type, us,
                           max(us) OVER (PARTITION BY event_type
                                         ORDER BY arrival_us, event_id
                                         ROWS BETWEEN UNBOUNDED PRECEDING
                                              AND 1 PRECEDING) AS wm_us
                    FROM a)
         SELECT event_type, count(*) AS n_events,
                CAST(sum(CASE WHEN us < wm_us - 900 * CAST(1000000 AS BIGINT)
                              THEN 1 ELSE 0 END) AS BIGINT) AS late_15m,
                CAST(sum(CASE WHEN us < wm_us - 3600 * CAST(1000000 AS BIGINT)
                              THEN 1 ELSE 0 END) AS BIGINT) AS late_1h,
                CAST(sum(CASE WHEN us < wm_us - 7200 * CAST(1000000 AS BIGINT)
                              THEN 1 ELSE 0 END) AS BIGINT) AS late_2h
         FROM m GROUP BY 1 ORDER BY event_type""")),

    // Pure-SQL surface parity: the whole query is one spark.sql() text
    // (CTE + windowed rank over an aggregate) against registered views —
    // what a SQL-first consumer of the engine writes. Exact integer
    // cents; deterministic rank tie-break.
    Query("sql_api_topdays_report", (s, dir) => {
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_v")
      s.sql("""
        WITH d AS (SELECT l_returnflag AS rf, CAST(l_shipdate AS DATE) AS sd,
                          sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
                            AS cents
                   FROM lineitem_v GROUP BY 1, 2),
             r AS (SELECT rf, sd, cents,
                          CAST(row_number() OVER (PARTITION BY rf
                            ORDER BY cents DESC, sd) AS BIGINT) AS rn
                   FROM d)
        SELECT rf, sd, cents, rn FROM r WHERE rn <= 3
        ORDER BY rf, rn""")
    },
      Some("""WITH d AS (SELECT l_returnflag AS rf, CAST(l_shipdate AS DATE)
                            AS sd,
                          CAST(sum(CAST(round(l_extendedprice * 100, 0)
                                        AS BIGINT)) AS BIGINT) AS cents
                   FROM lineitem GROUP BY 1, 2),
             r AS (SELECT rf, sd, cents,
                          CAST(row_number() OVER (PARTITION BY rf
                            ORDER BY cents DESC, sd) AS BIGINT) AS rn
                   FROM d)
        SELECT rf, sd, cents, rn FROM r WHERE rn <= 3
        ORDER BY rf, rn""")),

    // Dynamic partition overwrite: the day-partitioned table is rewritten
    // with mode=dynamic so ONLY the partitions present in the incoming
    // frame are replaced — here one day is compacted to its even event
    // ids while every other day's files are untouched. This is the
    // surgical-backfill mechanic of a partitioned 100 TB table (static
    // overwrite would truncate the whole table). The read-back report
    // certifies exactly one day changed.
    Query("inc_dynamic_partition_overwrite", (s, dir) => {
      val base = graft.io.WorkDir.create("graft_dyn_overwrite").toString
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"),
                Exact.cents(col("value")).as("cents"),
                expr("unix_micros(ts) DIV 86400000000").as("day"))
      ev.write.partitionBy("day").mode("overwrite").parquet(base)
      val d0 = Exact.boundedCollect(ev.agg(min(col("day"))), 1,
        "min-day scalar probe")(0).getLong(0)
      // the writer option scopes dynamic mode to this one write; the
      // session conf stays as it is
      ev.filter(col("day") === d0 && col("event_id") % 2 === 0)
        .write.option("partitionOverwriteMode", "dynamic")
        .partitionBy("day").mode("overwrite").parquet(base)
      s.read.parquet(base)
        // partition-column inference narrows day to INT32 on read-back;
        // restore the BIGINT the rest of the engine (and oracle) uses
        .groupBy(col("day").cast("long").as("day"))
        .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("sum_cents"))
        .orderBy("day")
    },
      // day d0 keeps only its even event ids after the dynamic overwrite;
      // every other day is untouched
      Some("""WITH ev AS (SELECT event_id,
                            CAST(round(value * 100, 0) AS BIGINT) AS cents,
                            epoch_us(ts) // 86400000000 AS day
                     FROM events),
              d0 AS (SELECT min(day) AS d0 FROM ev),
              f AS (SELECT ev.* FROM ev, d0
                    WHERE ev.day <> d0.d0 OR ev.event_id % 2 = 0)
         SELECT day, count(*) AS n_events,
                CAST(sum(cents) AS BIGINT) AS sum_cents
         FROM f GROUP BY 1 ORDER BY day""")),

    // Streaming CDC apply (delete semantics) over three replayed
    // micro-batches with versioned compacted key state — same output
    // columns and SAME oracle as the batch inc_cdc_apply, so the driver
    // compare itself pins streamed == batch (see EventStream.runCdcApply
    // for why deletes must stay in state until read time).
    Query("stream_cdc_apply", (s, dir) => {
      val work = graft.io.WorkDir.create("graft_cdc_stream").toString
      graft.streaming.EventStream.runCdcApply(s, dir, work)
        .orderBy("user_id")
    },
      // identical to inc_cdc_apply's oracle: the stream must converge to
      // exactly the batch CDC result regardless of micro-batch boundaries
      Some("""WITH o AS (SELECT user_id, ts, event_id, event_type,
                           CAST(round(value * 100, 0) AS BIGINT) AS vc,
                           row_number() OVER (PARTITION BY user_id
                                              ORDER BY ts DESC,
                                                       event_id DESC) AS rn,
                           count(*) OVER (PARTITION BY user_id) AS n_ops
                    FROM events)
         SELECT user_id, n_ops, event_id AS last_event_id,
                vc AS last_value_cents
         FROM o WHERE rn = 1 AND event_type <> 'error'
         ORDER BY user_id""")),

    // Business-calendar feature frame (ML feature engineering over the
    // real NYSE rule-set calendar): per order date — weekend/holiday/
    // business-day flags and the roll-forward distance to the next
    // business day, found as the MIN qualifying offset over a 7-day
    // explode (a holiday weekend is never longer). Broadcast holiday
    // set; all flags exact; the oracle carries the same pinned holiday
    // literals the calendar spec pins against numpy.
    Query("cal_feature_frame", (s, dir) => {
      val hol = graft.cal.NyseCalendar.defaultDateLiterals
        .map(java.sql.Date.valueOf)
      val holDf = broadcast(s.createDataFrame(
        s.sparkContext.parallelize(hol.map(org.apache.spark.sql.Row(_))),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("hday",
            org.apache.spark.sql.types.DateType)))))
      val d = Tables.orders(s, dir)
        .select(to_date(col("o_orderdate")).as("d")).distinct()
      val flagged = d
        .join(holDf, col("d") === col("hday"), "left")
        .select(col("d"), (weekday(col("d")) >= 5).as("is_weekend"),
                col("hday").isNotNull.as("is_holiday"))
        .withColumn("is_busday", !col("is_weekend") && !col("is_holiday"))
      flagged
        .select(col("d"), col("is_weekend"), col("is_holiday"),
          col("is_busday"), explode(sequence(lit(0), lit(7))).as("off"))
        .withColumn("cand", date_add(col("d"), col("off")))
        .join(holDf, col("cand") === col("hday"), "left")
        .filter(weekday(col("cand")) < 5 && col("hday").isNull)
        .groupBy("d")
        .agg(min(col("is_weekend")).as("is_weekend"),
             min(col("is_holiday")).as("is_holiday"),
             min(col("is_busday")).as("is_busday"),
             min(col("off")).cast("long").as("days_to_next_busday"))
        .orderBy("d")
    },
      Some {
      val dates = graft.cal.NyseCalendar.defaultDateLiterals
        .map(d => s"DATE '$d'").mkString(", ")
      s"""WITH d AS (SELECT DISTINCT CAST(o_orderdate AS DATE) AS d
                     FROM orders),
              f AS (SELECT d, isodow(d) >= 6 AS is_weekend,
                           d IN ($dates) AS is_holiday
                    FROM d),
              g AS (SELECT d, CAST(unnest(generate_series(0, 7)) AS INT)
                             AS off
                    FROM d),
              c AS (SELECT d, off, d + off AS cand FROM g),
              ok AS (SELECT d, CAST(min(off) AS BIGINT)
                              AS days_to_next_busday
                     FROM c
                     WHERE isodow(cand) <= 5 AND cand NOT IN ($dates)
                     GROUP BY 1)
         SELECT f.d, f.is_weekend, f.is_holiday,
                (NOT f.is_weekend AND NOT f.is_holiday) AS is_busday,
                ok.days_to_next_busday
         FROM f JOIN ok ON ok.d = f.d ORDER BY f.d"""
      }),

    // Inline pipeline metrics via the Observation API: the aggregation
    // pass ships its own audit counters (row count, exact cent sum,
    // shipdate bounds) as observe() metrics — zero extra scan, the
    // metrics ride the same job — and the query's result IS the observed
    // metric row. The pattern that instruments a 100 TB job without a
    // second pass.
    Query("dq_observe_metrics", (s, dir) => {
      val obs = new org.apache.spark.sql.Observation()
      val li = Tables.lineitem(s, dir)
        .observe(obs, count(lit(1)).as("n_rows"),
          sum(Exact.cents(col("l_extendedprice"))).as("sum_cents"),
          min(to_date(col("l_shipdate"))).as("min_ship"),
          max(to_date(col("l_shipdate"))).as("max_ship"))
      li.write.format("noop").mode("overwrite").save() // one real pass
      val m = obs.get
      import s.implicits._
      Seq((m("n_rows").asInstanceOf[Long],
           m("sum_cents").asInstanceOf[Long],
           m("min_ship").asInstanceOf[java.sql.Date].toString,
           m("max_ship").asInstanceOf[java.sql.Date].toString))
        .toDF("n_rows", "sum_cents", "min_ship_s", "max_ship_s")
        .select(col("n_rows"), col("sum_cents"),
                to_date(col("min_ship_s")).as("min_ship"),
                to_date(col("max_ship_s")).as("max_ship"))
    },
      // the observed metrics are exactly the one-pass aggregates
      Some("""SELECT count(*) AS n_rows,
                CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
                     AS BIGINT) AS sum_cents,
                min(CAST(l_shipdate AS DATE)) AS min_ship,
                max(CAST(l_shipdate AS DATE)) AS max_ship
         FROM lineitem""")),

    // Time-travel diff: the CDC state as of snapshot 1 (first chunk of
    // the changelog) vs the final state, compared key-by-key into an
    // added / changed / deleted / unchanged census — the audit a
    // versioned table (Delta/Iceberg time travel) answers with two
    // snapshot reads. Both snapshots are rebuilt deterministically with
    // the same partial-aggregable max_by fold as inc_cdc_apply; the diff
    // is one full-outer join on the key.
    Query("inc_time_travel_diff", (s, dir) => {
      def stateOf(f: DataFrame): DataFrame = f
        .groupBy("user_id")
        .agg(max_by(struct(col("event_type").as("et"),
                           col("event_id").as("eid"), col("vc")),
                    struct(col("ts"), col("event_id"))).as("last"))
        .filter(col("last.et") =!= "error")
        .select(col("user_id"), col("last.eid").as("eid"),
                col("last.vc").as("vc"))
      val ops = Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
                col("event_type"), Exact.cents(col("value")).as("vc"))
      val s1 = stateOf(ops.filter(col("event_id") % 3 === 0))
      val s2 = stateOf(ops)
      s1.select(col("user_id"), col("eid").as("eid1"), col("vc").as("vc1"))
        .join(s2.select(col("user_id"), col("eid").as("eid2"),
                        col("vc").as("vc2")), Seq("user_id"), "full_outer")
        .select(
          when(col("eid1").isNull, "added")
            .when(col("eid2").isNull, "deleted")
            .when(col("eid1") === col("eid2") && col("vc1") === col("vc2"),
              "unchanged")
            .otherwise("changed").as("status"))
        .groupBy("status").agg(count(lit(1)).as("n_keys"))
        .orderBy("status")
    },
      Some("""WITH ops AS (SELECT user_id, ts, event_id, event_type,
                             CAST(round(value * 100, 0) AS BIGINT) AS vc
                      FROM events),
              s1 AS (SELECT user_id, event_id AS eid1, vc AS vc1 FROM (
                       SELECT user_id, event_id, event_type, vc,
                              row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
                       FROM ops WHERE event_id % 3 = 0)
                     WHERE rn = 1 AND event_type <> 'error'),
              s2 AS (SELECT user_id, event_id AS eid2, vc AS vc2 FROM (
                       SELECT user_id, event_id, event_type, vc,
                              row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
                       FROM ops)
                     WHERE rn = 1 AND event_type <> 'error'),
              d AS (SELECT CASE
                             WHEN s1.user_id IS NULL THEN 'added'
                             WHEN s2.user_id IS NULL THEN 'deleted'
                             WHEN s1.eid1 = s2.eid2 AND s1.vc1 = s2.vc2
                               THEN 'unchanged'
                             ELSE 'changed' END AS status
                    FROM s1 FULL OUTER JOIN s2
                      ON s1.user_id = s2.user_id)
         SELECT status, count(*) AS n_keys FROM d
         GROUP BY 1 ORDER BY status""")),

    // Cross-table reconciliation: does each order's header total match
    // the sum of its line items? Exact integer cents on both sides, a
    // per-order delta histogram bucketed by delta sign/size — the
    // financial-close audit that catches partial loads and double
    // applies. One keyed aggregate + one broadcast-joined census.
    Query("dq_order_total_reconciliation", (s, dir) => {
      val li = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey").as("o_orderkey"))
        .agg(sum(Exact.cents(col("l_extendedprice"))).as("li_cents"))
      Tables.orders(s, dir)
        .select(col("o_orderkey"), Exact.cents(col("o_totalprice"))
          .as("hdr_cents"))
        .join(li, Seq("o_orderkey"), "left")
        .select(
          when(col("li_cents").isNull, "1_no_lineitems")
            .when(col("hdr_cents") === col("li_cents"), "2_exact_match")
            .when(abs(col("hdr_cents") - col("li_cents")) <= 100L,
              "3_within_dollar")
            .otherwise("4_mismatch").as("status"),
          coalesce(abs(col("hdr_cents") - col("li_cents")), lit(0L))
            .as("abs_delta"))
        .groupBy("status")
        .agg(count(lit(1)).as("n_orders"),
             sum(col("abs_delta")).as("sum_abs_delta_cents"),
             max(col("abs_delta")).as("max_abs_delta_cents"))
        .orderBy("status")
    },
      Some("""WITH li AS (SELECT l_orderkey AS o_orderkey,
                            CAST(sum(CAST(round(l_extendedprice * 100, 0)
                                          AS BIGINT)) AS BIGINT) AS li_cents
                     FROM lineitem GROUP BY 1),
              j AS (SELECT o.o_orderkey,
                           CAST(round(o.o_totalprice * 100, 0) AS BIGINT)
                             AS hdr_cents,
                           li.li_cents
                    FROM orders o LEFT JOIN li USING (o_orderkey)),
              c AS (SELECT CASE
                             WHEN li_cents IS NULL THEN '1_no_lineitems'
                             WHEN hdr_cents = li_cents THEN '2_exact_match'
                             WHEN abs(hdr_cents - li_cents) <= 100
                               THEN '3_within_dollar'
                             ELSE '4_mismatch' END AS status,
                           coalesce(abs(hdr_cents - li_cents), 0)
                             AS abs_delta
                    FROM j)
         SELECT status, count(*) AS n_orders,
                CAST(sum(abs_delta) AS BIGINT) AS sum_abs_delta_cents,
                max(abs_delta) AS max_abs_delta_cents
         FROM c GROUP BY 1 ORDER BY status""")),

    // Streaming mixture monitor: per-day event-type entropy where the
    // stream holds only watermark-bounded (day, type) counts and the
    // exact lattice entropy derives on the finalized sink — the live
    // label-balance drift alarm over ingest, bitwise-equal to its batch
    // formulation (which is what the oracle pins).
    Query("stream_entropy_daily", (s, dir) =>
      graft.streaming.EventStream.runEntropyDaily(s, dir)
        .orderBy("date"),
      Some {
      val lc = graft.functions.FixedLog2.sql("c")
      val ln = graft.functions.FixedLog2.sql("n_events")
      s"""WITH c AS (SELECT CAST(ts AS DATE) AS date, event_type,
                            count(*) AS c
                     FROM events GROUP BY 1, 2),
               g AS (SELECT date, CAST(sum(c) AS BIGINT) AS n_events,
                            count(*) AS n_types,
                            CAST(sum(CAST(c AS HUGEINT) * $lc) AS HUGEINT)
                              AS sclog
                     FROM c GROUP BY 1)
          SELECT date, n_events, n_types,
                 CAST(CAST(CAST(n_events AS HUGEINT) * $ln - sclog AS BIGINT) AS DOUBLE)
                   / CAST(n_events AS DOUBLE) / 1048576.0 AS entropy_bits
          FROM g ORDER BY date"""
      }),

    // Ingest-time near-duplicate detection: the LSH band buckets as
    // streaming state — each (band, key) group holds its members, a pair
    // emits exactly when its second member arrives, and the emitted SET
    // is micro-batch-boundary-invariant, so streamed == the batch banded
    // self-join (whose oracle text this query shares verbatim). The
    // streaming half of the dedup pipeline's signature → candidates
    // chain.
    Query("stream_lsh_neardup", (s, dir) =>
      graft.streaming.StreamNearDup.pairs(s, dir)
        .orderBy("doc_a", "doc_b"),
      // the streamed stateful detector's pair set == the batch banded
      // self-join's, by construction — same oracle text, shared
      Some(bandedPairsOracle)),

    // Pure-SQL surface over the registered custom expressions: one
    // spark.sql query exercising char_fold_hash, log2_fp AND busday_count
    // together through the FunctionRegistry (GraftExtensions) — the
    // contract that a SQL-only client of the engine gets the same
    // portable lattice primitives the DataFrame API uses, oracle-checked
    // end-to-end.
    Query("sql_api_lattice_report", (s, dir) => {
      Tables.events(s, dir).createOrReplaceTempView("events_v")
      s.sql("""
        SELECT event_type,
               char_fold_hash(event_type) AS type_hash,
               count(*) AS n,
               log2_fp(count(*)) AS log2_n_q20,
               busday_count(min(cast(ts as date)), max(cast(ts as date)))
                 AS busdays
        FROM events_v
        GROUP BY event_type
        ORDER BY event_type""")
    },
      Some {
      val ln = graft.functions.FixedLog2.sql("n")
      s"""WITH g AS (SELECT event_type, count(*) AS n,
                            min(CAST(ts AS DATE)) AS d0,
                            max(CAST(ts AS DATE)) AS d1
                     FROM events GROUP BY 1),
               h AS (SELECT event_type, n, d0, d1,
                            list_reduce(list_prepend(CAST(0 AS BIGINT),
                              list_transform(string_split(event_type, ''),
                                c -> CAST(ascii(c) AS BIGINT))),
                              (a, c) -> (a * 31 + c) % 2147483647)
                              AS type_hash
                     FROM g),
               bb AS (SELECT event_type,
                             CAST(unnest(generate_series(d0, d1 - 1,
                               INTERVAL 1 DAY)) AS DATE) AS day
                      FROM h),
               bc AS (SELECT event_type,
                             CAST(count(*) FILTER (WHERE isodow(day) <= 5
                               AND NOT ((month(day) = 1 AND day(day) = 1)
                                 OR (month(day) = 7 AND day(day) = 4)
                                 OR (month(day) = 12 AND day(day) = 25)))
                               AS INT) AS busdays
                      FROM bb GROUP BY 1)
          SELECT h.event_type, h.type_hash, h.n, $ln AS log2_n_q20,
                 coalesce(bc.busdays, CAST(0 AS INT)) AS busdays
          FROM h LEFT JOIN bc ON bc.event_type = h.event_type
          ORDER BY h.event_type"""
      }),

    // Population Stability Index between each type's first-15-day and
    // remaining value distributions — the drift alarm scoring pipelines
    // run between snapshots. Bins are integer log2 magnitudes (the
    // relative-error binning that works at any scale), the full
    // type×bin×side grid gets add-1 smoothing so empty cells contribute,
    // and PSI = ln2·Σ(p−q)log2(p/q) is EXACT on the FixedLog2 lattice:
    // term = (a·n2 − b·n1)·(L(a·n2) − L(b·n1)) in DECIMAL(38,0), one
    // final double conversion.
    Query("dq_psi_value_drift", (s, dir) => {
      val L = graft.functions.FixedLog2.log2_fp _
      def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
      val ev = Tables.events(s, dir)
        .select(col("event_type"), to_date(col("ts")).as("dt"),
                Exact.cents(col("value")).as("c"))
        .filter(col("c") > 0)
        .tracked // midpoint + both sides scan it
      val mid = ev.agg(date_add(min(col("dt")), 15).as("mid_d"))
      val binned = ev.crossJoin(broadcast(mid))
        .withColumn("lg", L(col("c")))
        .withColumn("bin", expr("lg div 1048576"))
        .withColumn("side", when(col("dt") < col("mid_d"), 1L)
          .otherwise(2L))
        .groupBy("event_type", "bin", "side")
        .agg(count(lit(1)).as("cnt"))
        .tracked // grid + totals read it
      val grid = binned.select("event_type", "bin").distinct()
        .join(binned.groupBy("event_type", "side").agg(sum("cnt").as("nr"))
          .select("event_type", "side"), Seq("event_type"))
        .join(binned, Seq("event_type", "bin", "side"), "left")
        .select(col("event_type"), col("bin"), col("side"),
          (coalesce(col("cnt"), lit(0L)) + 1L).as("sm"))
      val wide = grid.groupBy("event_type", "bin")
        .agg(sum(when(col("side") === 1L, col("sm"))).as("a"),
             sum(when(col("side") === 2L, col("sm"))).as("b"))
      val totals = wide.groupBy("event_type")
        .agg(sum("a").as("n1"), sum("b").as("n2"),
             count(lit(1)).as("n_bins"))
      wide.join(broadcast(totals), "event_type")
        .withColumn("term",
          dec(col("a") * col("n2") - col("b") * col("n1"))
            * dec(L(col("a") * col("n2")) - L(col("b") * col("n1"))))
        .groupBy("event_type")
        .agg(first("n_bins").as("n_bins"), first("n1").as("n1"),
             first("n2").as("n2"), sum("term").as("tsum"))
        .select(col("event_type"), col("n_bins"), col("n1"), col("n2"),
          (col("tsum").cast("double") * lit(0.6931471805599453)
            / (col("n1").cast("double") * col("n2").cast("double")
               * lit(1048576.0))).as("psi"))
        .orderBy("event_type")
    },
      Some {
      val lan2 = graft.functions.FixedLog2.sql("an2")
      val lbn1 = graft.functions.FixedLog2.sql("bn1")
      val lc = graft.functions.FixedLog2.sql("c")
      s"""WITH ev AS (SELECT event_type, CAST(ts AS DATE) AS dt,
                             CAST(round(value * 100, 0) AS BIGINT) AS c
                      FROM events
                      WHERE CAST(round(value * 100, 0) AS BIGINT) > 0),
               mid AS (SELECT min(dt) + 15 AS mid_d FROM ev),
               binned AS (SELECT event_type, $lc // 1048576 AS bin,
                                 CASE WHEN dt < mid_d THEN 1 ELSE 2 END
                                   AS side,
                                 count(*) AS cnt
                          FROM ev CROSS JOIN mid GROUP BY 1, 2, 3),
               grid AS (SELECT g.event_type, g.bin, s.side,
                               coalesce(b.cnt, 0) + 1 AS sm
                        FROM (SELECT DISTINCT event_type, bin
                              FROM binned) g
                        JOIN (SELECT DISTINCT event_type, side
                              FROM binned) s
                          ON s.event_type = g.event_type
                        LEFT JOIN binned b
                          ON b.event_type = g.event_type
                         AND b.bin = g.bin AND b.side = s.side),
               wide AS (SELECT event_type, bin,
                               CAST(sum(CASE WHEN side = 1 THEN sm END)
                                 AS BIGINT) AS a,
                               CAST(sum(CASE WHEN side = 2 THEN sm END)
                                 AS BIGINT) AS b
                        FROM grid GROUP BY 1, 2),
               tt AS (SELECT event_type, CAST(sum(a) AS BIGINT) AS n1,
                             CAST(sum(b) AS BIGINT) AS n2,
                             count(*) AS n_bins
                      FROM wide GROUP BY 1),
               tm AS (SELECT w.event_type, t.n_bins, t.n1, t.n2,
                             w.a * t.n2 AS an2, w.b * t.n1 AS bn1
                      FROM wide w JOIN tt t
                        ON t.event_type = w.event_type),
               terms AS (SELECT event_type, n_bins, n1, n2,
                                CAST(an2 - bn1 AS HUGEINT)
                                  * ($lan2 - $lbn1) AS term
                         FROM tm),
               agg AS (SELECT event_type, any_value(n_bins) AS n_bins,
                              any_value(n1) AS n1, any_value(n2) AS n2,
                              CAST(sum(term) AS HUGEINT) AS tsum
                       FROM terms GROUP BY 1)
          SELECT event_type, n_bins, n1, n2,
                 CAST(tsum AS DOUBLE) * 0.6931471805599453
                   / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                      * 1048576.0) AS psi
          FROM agg ORDER BY event_type"""
      }),

    // Daily ingest-volume anomaly gate: each (type, day) count against
    // its own trailing 7 closed days — z = (7n−Σn)/√(7Σn²−(Σn)²), the
    // population-σ lattice form with ONE IEEE division, |z|>3 flags. The
    // volume sentinel every scheduled 100 TB ingest runs before
    // publishing a partition; day cells per key keep the window frame
    // horizon-bounded.
    Query("dq_volume_anomaly", (s, dir) =>
      trailing7VolumeGate(
        Tables.events(s, dir)
          .groupBy(col("event_type"), to_date(col("ts")).as("dt"))
          .agg(count(lit(1)).as("n"))),
      Some("""WITH d AS (SELECT event_type, CAST(ts AS DATE) AS dt,
                  CAST(count(*) AS BIGINT) AS n
           FROM events GROUP BY 1, 2),
     w AS (SELECT event_type, dt, n,
                  count(*) OVER tw AS wn,
                  CAST(sum(n) OVER tw AS BIGINT) AS s1,
                  CAST(sum(n * n) OVER tw AS BIGINT) AS s2
           FROM d WINDOW tw AS (PARTITION BY event_type ORDER BY dt
             ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
         SELECT event_type, dt, n, s1 AS trail_sum,
                7 * s2 - s1 * s1 AS var_num,
                CASE WHEN 7 * s2 - s1 * s1 > 0
                     THEN CAST(7 * n - s1 AS DOUBLE)
                       / sqrt(CAST(7 * s2 - s1 * s1 AS DOUBLE)) END AS z,
                CASE WHEN 7 * s2 - s1 * s1 > 0
                     THEN abs(CAST(7 * n - s1 AS DOUBLE)
                       / sqrt(CAST(7 * s2 - s1 * s1 AS DOUBLE))) > 3.0
                END AS is_anomaly
         FROM w WHERE wn = 7 ORDER BY event_type, dt""")),

    // Partition fingerprints: per (type, day) row count, portable
    // LCG-mix checksum of the id set, exact cent total and id bounds —
    // what a 100 TB replication/backfill audit compares across clusters
    // instead of re-reading both copies. Order-free sums only, so the
    // fingerprint is partial-aggregable and layout-independent.
    Query("dq_partition_checksum", (s, dir) => {
      val m = 2147483647L
      Tables.events(s, dir)
        .withColumn("h1", ((col("event_id") % m) * 1103515245L + 12345L) % m)
        .withColumn("hm", (col("h1") * col("h1")) % m)
        .withColumn("hv", (col("hm") * 69069L + 362437L) % m)
        .groupBy(col("event_type"), to_date(col("ts")).as("dt"))
        .agg(count(lit(1)).as("n"), sum("hv").as("checksum"),
             sum(Exact.cents(col("value"))).as("sum_c"),
             min("event_id").as("min_id"), max("event_id").as("max_id"))
        .orderBy("event_type", "dt")
    },
      Some("""WITH h AS (SELECT event_type, CAST(ts AS DATE) AS dt, event_id,
                  CAST(round(value * 100, 0) AS BIGINT) AS c,
                  (((event_id % 2147483647) * 1103515245 + 12345)
                    % 2147483647) AS h1
           FROM events),
     h2 AS (SELECT event_type, dt, event_id, c,
                   (h1 * h1) % 2147483647 AS hm FROM h),
     h3 AS (SELECT event_type, dt, event_id, c,
                   (hm * 69069 + 362437) % 2147483647 AS hv FROM h2)
         SELECT event_type, dt, CAST(count(*) AS BIGINT) AS n,
                CAST(sum(hv) AS BIGINT) AS checksum,
                CAST(sum(c) AS BIGINT) AS sum_c,
                min(event_id) AS min_id, max(event_id) AS max_id
         FROM h3 GROUP BY 1, 2 ORDER BY event_type, dt""")),

    // The dq_volume_anomaly gate as a STREAMING monitor: per-day counts
    // come from the watermarked tumbling aggregation (the unbounded
    // ingest path), the trailing-7 z runs sink-side on finalized windows
    // — the split a production monitor uses, since an anomaly verdict is
    // only meaningful once its window is final. Streamed counts == batch
    // counts, so the oracle is the batch SQL verbatim.
    Query("stream_volume_anomaly", (s, dir) =>
      trailing7VolumeGate(
        graft.streaming.EventStream.runTumblingDaily(s, dir)
          .select(col("event_type"), col("date").as("dt"), col("n"))),
      Some("""WITH d AS (SELECT event_type, CAST(ts AS DATE) AS dt,
                  CAST(count(*) AS BIGINT) AS n
           FROM events GROUP BY 1, 2),
     w AS (SELECT event_type, dt, n,
                  count(*) OVER tw AS wn,
                  CAST(sum(n) OVER tw AS BIGINT) AS s1,
                  CAST(sum(n * n) OVER tw AS BIGINT) AS s2
           FROM d WINDOW tw AS (PARTITION BY event_type ORDER BY dt
             ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
         SELECT event_type, dt, n, s1 AS trail_sum,
                7 * s2 - s1 * s1 AS var_num,
                CASE WHEN 7 * s2 - s1 * s1 > 0
                     THEN CAST(7 * n - s1 AS DOUBLE)
                       / sqrt(CAST(7 * s2 - s1 * s1 AS DOUBLE)) END AS z,
                CASE WHEN 7 * s2 - s1 * s1 > 0
                     THEN abs(CAST(7 * n - s1 AS DOUBLE)
                       / sqrt(CAST(7 * s2 - s1 * s1 AS DOUBLE))) > 3.0
                END AS is_anomaly
         FROM w WHERE wn = 7 ORDER BY event_type, dt""")),

    // Per-source document-length outliers — the corpus-intake screen
    // (truncated scrapes, concatenated pages) as robust MAD flags on
    // n_chars: median and MAD by positional rank (exact, an existing
    // value), the 1.4826 normal-consistency constant as the DEFINED
    // integer 14826/10⁴ so the flag comparison stays on the integer
    // lattice. The agg_mad_outliers machinery pointed at the corpus.
    Query("dq_doc_length_outliers", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
      val v = Tables.documents(s, dir)
        .select(col("source"), col("doc_id"), col("n_chars"))
        .tracked // median, MAD and flag passes scan it
      val n = v.groupBy("source").agg(count(lit(1)).as("n"))
      val med = v
        .withColumn("rn", row_number().over(
          w.partitionBy("source").orderBy("n_chars", "doc_id")))
        .join(broadcast(n), "source")
        .filter(col("rn") === expr("(n + 1) div 2"))
        .select(col("source"), col("n_chars").as("med_len"))
      val dev = v.join(broadcast(med), "source")
        .withColumn("adev", abs(col("n_chars") - col("med_len")))
      val mad = dev
        .withColumn("rn", row_number().over(
          w.partitionBy("source").orderBy("adev", "doc_id")))
        .join(broadcast(n), "source")
        .filter(col("rn") === expr("(n + 1) div 2"))
        .select(col("source"), col("adev").as("mad_len"))
      dev.join(broadcast(mad), "source")
        .groupBy("source", "med_len", "mad_len")
        .agg(count(lit(1)).as("n_docs"),
             sum(when(col("adev") * 10000L > col("mad_len") * 3L * 14826L,
               1L).otherwise(0L)).as("n_outliers"))
        .select("source", "n_docs", "med_len", "mad_len", "n_outliers")
        .orderBy("source")
    },
      Some("""WITH v AS (SELECT source, doc_id, n_chars FROM documents),
     n AS (SELECT source, CAST(count(*) AS BIGINT) AS n
           FROM v GROUP BY 1),
     r AS (SELECT v.source, v.n_chars,
                  row_number() OVER (PARTITION BY v.source
                    ORDER BY v.n_chars, v.doc_id) AS rn, n.n
           FROM v JOIN n ON n.source = v.source),
     med AS (SELECT source, n_chars AS med_len FROM r
             WHERE rn = (n + 1) // 2),
     dev AS (SELECT v.source, v.doc_id,
                    abs(v.n_chars - med.med_len) AS adev, med.med_len
             FROM v JOIN med ON med.source = v.source),
     r2 AS (SELECT dev.source, dev.adev,
                   row_number() OVER (PARTITION BY dev.source
                     ORDER BY dev.adev, dev.doc_id) AS rn, n.n
            FROM dev JOIN n ON n.source = dev.source),
     mad AS (SELECT source, adev AS mad_len FROM r2
             WHERE rn = (n + 1) // 2)
         SELECT dev.source, CAST(count(*) AS BIGINT) AS n_docs,
                max(dev.med_len) AS med_len,
                max(mad.mad_len) AS mad_len,
                CAST(sum(CASE WHEN dev.adev * 10000
                       > mad.mad_len * 3 * 14826
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
         FROM dev JOIN mad ON mad.source = dev.source
         GROUP BY 1 ORDER BY dev.source""")),

    // Ingest-order vs event-time certification: timestamp regressions per
    // type along the event_id sequence. The fixture is CLEAN (zero
    // regressions at every SF) and that certification is the point —
    // like the referential-integrity audit, the value is the proved
    // invariant plus a counter that a spec proves actually counts.
    Query("dq_ts_monotonicity", (s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      Tables.events(s, dir)
        .withColumn("pts", lag(col("ts"), 1)
          .over(W.partitionBy("event_type").orderBy("event_id")))
        .filter(col("pts").isNotNull)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_checked"),
             sum(when(col("ts") < col("pts"), 1L).otherwise(0L))
               .as("n_regressions"))
        .withColumn("regression_ppm",
          expr("(1000000 * n_regressions) DIV n_checked"))
        .orderBy("event_type")
    },
      Some("""WITH o AS (SELECT event_type, ts,
                           lag(ts) OVER (PARTITION BY event_type
                             ORDER BY event_id) AS pts
                    FROM events)
         SELECT event_type, count(*) AS n_checked,
                CAST(sum(CASE WHEN ts < pts THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_regressions,
                CAST(1000000 * sum(CASE WHEN ts < pts THEN 1 ELSE 0 END)
                     // count(*) AS BIGINT) AS regression_ppm
         FROM o WHERE pts IS NOT NULL GROUP BY 1 ORDER BY 1""")),

    // Order-to-ship business-day lag histogram through the codegen
    // busday expression over the lineitem→orders FK join (the one real
    // fact-to-fact equi-join in the calendar family): [order, ship)
    // busdays in O(1) per row, log₂ lag buckets, non-positive spans kept
    // explicit as bucket −1 (a data-quality signal, not a silent drop).
    Query("cal_order_ship_busdays", (s, dir) => {
      val j = Tables.lineitem(s, dir)
        .select(col("l_orderkey"),
          to_date(col("l_shipdate")).as("sd"),
          Exact.cents(col("l_extendedprice")).as("cents"))
        .join(Tables.orders(s, dir)
          .select(col("o_orderkey").as("l_orderkey"),
            to_date(col("o_orderdate")).as("od")), "l_orderkey")
      j.withColumn("lag_bucket",
          when(col("sd") <= col("od"), lit(-1L))
            .otherwise((length(bin(
              BusdayCount.busday_count(col("od"), col("sd")))) - 1)
              .cast("long")))
        .groupBy("lag_bucket")
        .agg(count(lit(1)).as("n_lineitems"),
          sum("cents").cast("long").as("revenue_cents"))
        .orderBy("lag_bucket")
    },
      // busdays via the calendar-cumulative join (cum[sd] - cum[od] over
      // the [start, end) convention), the day-enumeration-free replay of
      // the codegen busday expression
      Some("""WITH j AS (SELECT CAST(o.o_orderdate AS DATE) AS od,
                           CAST(l.l_shipdate AS DATE) AS sd,
                           CAST(round(l.l_extendedprice * 100, 0) AS BIGINT)
                             AS cents
                    FROM lineitem l
                    JOIN orders o ON o.o_orderkey = l.l_orderkey),
              bounds AS (SELECT min(od) AS mn, max(sd) AS mx FROM j),
              cal AS (SELECT CAST(unnest(generate_series(mn, mx,
                               INTERVAL 1 DAY)) AS DATE) AS day
                      FROM bounds),
              cb AS (SELECT day,
                            CAST(coalesce(sum(CASE WHEN isodow(day) <= 5
                              AND NOT (
                                (month(day) = 1  AND day(day) = 1) OR
                                (month(day) = 7  AND day(day) = 4) OR
                                (month(day) = 12 AND day(day) = 25))
                              THEN 1 ELSE 0 END)
                              OVER (ORDER BY day
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING), 0) AS BIGINT) AS cum
                     FROM cal),
              lag_ AS (SELECT c2.cum - c1.cum AS busdays, j.cents,
                              j.sd, j.od
                       FROM j JOIN cb c1 ON c1.day = j.od
                              JOIN cb c2 ON c2.day = j.sd),
              allb AS (SELECT CASE WHEN sd <= od THEN -1
                                   ELSE CAST(length(bin(busdays)) - 1
                                             AS BIGINT)
                              END AS lag_bucket, cents
                       FROM lag_)
         SELECT lag_bucket, CAST(count(*) AS BIGINT) AS n_lineitems,
                CAST(sum(cents) AS BIGINT) AS revenue_cents
         FROM allb GROUP BY 1 ORDER BY 1""")),

    // k-anonymity census over the quasi-identifier (event_type, weekday,
    // value band): the re-identification risk report a governance
    // pipeline runs before release. Group sizes k roll up into log2
    // buckets with the rows-at-risk (k < 5) mass explicit per bucket and
    // as a grand share — one groupBy at fact scale, everything after is
    // bucket-cardinality. The 1-row total joins via broadcast.
    Query("dq_k_anonymity", (s, dir) => {
      val g = Tables.events(s, dir)
        .select(col("event_type"),
          dayofweek(to_date(col("ts"))).as("dow"),
          Exact.cents(col("value")).as("cc"))
        .withColumn("band", expr("cc DIV 2000"))
        .groupBy("event_type", "dow", "band")
        .agg(count(lit(1)).as("k"))
        .tracked // bucketed rollup AND grand total
      val tot = g.agg(sum("k").cast("long").as("n_total"))
      g.withColumn("kb", expr("length(bin(k)) - 1"))
        .groupBy("kb")
        .agg(count(lit(1)).as("n_groups"), sum("k").cast("long")
          .as("n_rows"),
          sum(when(col("k") < 5, col("k")).otherwise(0L)).cast("long")
            .as("n_rows_at_risk"))
        .crossJoin(broadcast(tot))
        .select(col("kb").cast("long").as("log2_k"), col("n_groups"),
          col("n_rows"), col("n_rows_at_risk"),
          (col("n_rows").cast("double") / col("n_total").cast("double"))
            .as("row_share"))
        .orderBy("log2_k")
    },
      // dayofweek(date)+1 is the proven Spark mapping; group sizes roll
      // into log2 buckets via length(bin(k)) - 1 on both engines
      Some("""WITH b AS (SELECT event_type,
                  CAST(dayofweek(CAST(ts AS DATE)) + 1 AS BIGINT) AS dow,
                  CAST(round(value * 100, 0) AS BIGINT) // 2000 AS band
           FROM events),
     g AS (SELECT event_type, dow, band,
                  CAST(count(*) AS BIGINT) AS k
           FROM b GROUP BY 1, 2, 3),
     t AS (SELECT CAST(sum(k) AS BIGINT) AS n_total FROM g),
     kb AS (SELECT CAST(length(bin(k)) - 1 AS BIGINT) AS log2_k,
                   count(*) AS n_groups,
                   CAST(sum(k) AS BIGINT) AS n_rows,
                   CAST(sum(CASE WHEN k < 5 THEN k ELSE 0 END)
                     AS BIGINT) AS n_rows_at_risk
            FROM g GROUP BY 1)
         SELECT log2_k, n_groups, n_rows, n_rows_at_risk,
                CAST(n_rows AS DOUBLE) / CAST(t.n_total AS DOUBLE)
                  AS row_share
         FROM kb CROSS JOIN t ORDER BY log2_k""")),

    // l-diversity audit — the k-anonymity follow-on over the SAME
    // quasi-identifier groups (event_type, weekday, $20 value band):
    // a group with large k still re-identifies its members when every
    // row belongs to the same handful of SUBJECTS, so the privacy unit
    // is distinct user_id per group (l), not row count. Reports group
    // count / row mass per log2(l) and the rows at risk under l < 3.
    // Same two partial-aggregable groupBys + 1-row total combine as the
    // k audit; countDistinct shuffles the (group, user) pairs once.
    Query("dq_l_diversity", (s, dir) => {
      val g = Tables.events(s, dir)
        .select(col("event_type"),
          dayofweek(to_date(col("ts"))).as("dow"),
          Exact.cents(col("value")).as("cc"), col("user_id"))
        .withColumn("band", expr("cc DIV 2000"))
        .groupBy("event_type", "dow", "band")
        .agg(count(lit(1)).as("k"),
          countDistinct("user_id").as("l"))
        .tracked // bucketed rollup AND grand total
      val tot = g.agg(sum("k").cast("long").as("n_total"))
      g.withColumn("lb", expr("length(bin(l)) - 1"))
        .groupBy("lb")
        .agg(count(lit(1)).as("n_groups"),
          sum("k").cast("long").as("n_rows"),
          sum(when(col("l") < 3, col("k")).otherwise(0L)).cast("long")
            .as("n_rows_at_risk"))
        .crossJoin(broadcast(tot))
        .select(col("lb").cast("long").as("log2_l"), col("n_groups"),
          col("n_rows"), col("n_rows_at_risk"),
          (col("n_rows").cast("double") / col("n_total").cast("double"))
            .as("row_share"))
        .orderBy("log2_l")
    },
      Some("""WITH b AS (SELECT event_type,
                  CAST(dayofweek(CAST(ts AS DATE)) + 1 AS BIGINT) AS dow,
                  CAST(round(value * 100, 0) AS BIGINT) // 2000 AS band,
                  user_id
           FROM events),
     g AS (SELECT event_type, dow, band,
                  CAST(count(*) AS BIGINT) AS k,
                  CAST(count(DISTINCT user_id) AS BIGINT) AS l
           FROM b GROUP BY 1, 2, 3),
     t AS (SELECT CAST(sum(k) AS BIGINT) AS n_total FROM g),
     lb AS (SELECT CAST(length(bin(l)) - 1 AS BIGINT) AS log2_l,
                   count(*) AS n_groups,
                   CAST(sum(k) AS BIGINT) AS n_rows,
                   CAST(sum(CASE WHEN l < 3 THEN k ELSE 0 END)
                     AS BIGINT) AS n_rows_at_risk
            FROM g GROUP BY 1)
         SELECT log2_l, n_groups, n_rows, n_rows_at_risk,
                CAST(n_rows AS DOUBLE) / CAST(t.n_total AS DOUBLE)
                  AS row_share
         FROM lb CROSS JOIN t ORDER BY log2_l""")),

    // t-closeness audit — the third of the release-gate privacy trio
    // (k-anonymity: group size; l-diversity: distinct subjects;
    // t-closeness: a large, diverse group still leaks when its SENSITIVE
    // ATTRIBUTE distribution diverges from the table's). Sensitive
    // attribute: $100 spend tier; distance: total variation (the EMD
    // under uniform categorical ground distance). Exact rational
    // arithmetic throughout — tv = num/den in one final IEEE division:
    //   num = Σ_tiers |n_cv·N − g_v·n_c|  (absent tiers contribute
    //         g_v·n_c, folded in closed form via N − Σ_present g_v)
    //   den = 2·n_c·N
    // One fact-scale groupBy builds the (class, tier) cells; every later
    // frame is class- or tier-sized, joined by broadcast.
    Query("dq_t_closeness", (s, dir) => {
      val cell = Tables.events(s, dir)
        .select(col("event_type"),
          dayofweek(to_date(col("ts"))).as("dow"),
          expr("CAST(round(value * 100, 0) AS BIGINT) DIV 10000")
            .as("tier"))
        .groupBy("event_type", "dow", "tier")
        .agg(count(lit(1)).as("n_cv"))
        .tracked // class totals, tier totals and terms all derive from it
      val cls = cell.groupBy("event_type", "dow")
        .agg(sum("n_cv").cast("long").as("n_c"))
      val glob = cell.groupBy("tier")
        .agg(sum("n_cv").cast("long").as("g_v"))
      val tot = cell.agg(sum("n_cv").cast("long").as("n_total"))
      cell
        .join(broadcast(glob), "tier")
        .join(broadcast(cls), Seq("event_type", "dow"))
        .crossJoin(broadcast(tot))
        .groupBy(col("event_type"), col("dow"), col("n_c"),
          col("n_total"))
        .agg(sum(abs(col("n_cv") * col("n_total")
            - col("g_v") * col("n_c"))).cast("long").as("present_num"),
          sum("g_v").cast("long").as("g_present"))
        .withColumn("tv_num", col("present_num")
          + (col("n_total") - col("g_present")) * col("n_c"))
        .withColumn("tv_den", col("n_c") * col("n_total") * 2L)
        .select(col("event_type"), col("dow").cast("long").as("dow"),
          col("n_c").as("n_rows"), col("tv_num"), col("tv_den"),
          (col("tv_num").cast("double") / col("tv_den").cast("double"))
            .as("tv"))
        .orderBy("event_type", "dow")
    },
      // exact-rational total variation per quasi-identifier class; absent
      // tiers fold in closed form via N - Σ_present g_v (see the query)
      Some("""WITH cell AS (SELECT event_type,
                  CAST(dayofweek(CAST(ts AS DATE)) + 1 AS BIGINT) AS dow,
                  CAST(round(value * 100, 0) AS BIGINT) // 10000 AS tier,
                  CAST(count(*) AS BIGINT) AS n_cv
           FROM events GROUP BY 1, 2, 3),
     cls AS (SELECT event_type, dow, CAST(sum(n_cv) AS BIGINT) AS n_c
             FROM cell GROUP BY 1, 2),
     gt AS (SELECT tier, CAST(sum(n_cv) AS BIGINT) AS g_v
            FROM cell GROUP BY 1),
     tot AS (SELECT CAST(sum(n_cv) AS BIGINT) AS n_total FROM cell),
     term AS (SELECT cell.event_type, cell.dow, cls.n_c, tot.n_total,
                CAST(sum(abs(cell.n_cv * tot.n_total
                             - gt.g_v * cls.n_c)) AS BIGINT)
                  AS present_num,
                CAST(sum(gt.g_v) AS BIGINT) AS g_present
              FROM cell
              JOIN gt ON gt.tier = cell.tier
              JOIN cls ON cls.event_type = cell.event_type
                      AND cls.dow = cell.dow
              CROSS JOIN tot
              GROUP BY 1, 2, 3, 4)
         SELECT event_type, dow, n_c AS n_rows,
                present_num + (n_total - g_present) * n_c AS tv_num,
                n_c * n_total * 2 AS tv_den,
                CAST(present_num + (n_total - g_present) * n_c AS DOUBLE)
                  / CAST(n_c * n_total * 2 AS DOUBLE) AS tv
         FROM term ORDER BY event_type, dow""")),
  )
}
