package graft
package queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.CacheRegistry.QueryCached
import graft.olap.Exact
import graft.text.TextAnalysis
import graft.ts.Ohlc
import Shared._

/** Warehouse surface: sampling, multimodal, joins, windows, packing and the composed pipelines — one `Query` record per
  * query, its DuckDB oracle next to its Spark closure; SparkEntry
  * concatenates the family Seqs into `queries`/`oracleSql`.
  */
object WarehouseQueries {

  val all: Seq[Query] = Seq(
    // Window value-position family: first/last/nth over the full frame
    // plus symmetric lead/lag offsets — completes the window-function
    // surface next to the rank family (window_rank_suite). Order is
    // tie-free (date unique per series), so every engine agrees.
    Query("window_value_positions", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("date"))
      val wf = w.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
      Ohlc.dailyBars(Tables.events(s, dir))
        .select("event_type", "date", "close")
        .withColumn("first_close", first(col("close")).over(wf))
        .withColumn("last_close", last(col("close")).over(wf))
        .withColumn("third_close", nth_value(col("close"), 3).over(wf))
        .withColumn("lead2", lead(col("close"), 2).over(w))
        .withColumn("lag2", lag(col("close"), 2).over(w))
        .orderBy("event_type", "date")
    },
      Some("""WITH b AS (SELECT event_type, CAST(ts AS DATE) AS date,
                           arg_max(value, ts) AS close
                    FROM events GROUP BY 1, 2)
         SELECT event_type, date, close,
                first_value(close) OVER wf AS first_close,
                last_value(close) OVER wf AS last_close,
                nth_value(close, 3) OVER wf AS third_close,
                lead(close, 2) OVER w AS lead2,
                lag(close, 2) OVER w AS lag2
         FROM b
         WINDOW w AS (PARTITION BY event_type ORDER BY date),
                wf AS (PARTITION BY event_type ORDER BY date
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND UNBOUNDED FOLLOWING)
         ORDER BY event_type, date""")),

    // Typed Dataset surface: case-class rows, groupByKey + custom
    // Aggregator (partial-aggregable typed buffer in exact cents) —
    // bitwise-equal to the SQL formulation.
    Query("ds_typed_agg", (s, dir) => {
      import s.implicits._
      import graft.olap.TypedAgg
      Tables.lineitem(s, dir)
        .select(col("l_returnflag"), col("l_linestatus"),
                col("l_quantity"), col("l_extendedprice"))
        .as[TypedAgg.LiRow]
        .filter((r: TypedAgg.LiRow) => r.l_quantity > 10.0)
        .groupByKey(r => (r.l_returnflag, r.l_linestatus))
        .agg(TypedAgg.flagStats.toColumn)
        .map { case ((f, st), v) =>
          (f, st, v.n_items, v.qty_cents.toDouble / 100.0,
           v.price_cents.toDouble / 100.0)
        }
        .toDF("l_returnflag", "l_linestatus", "n_items", "sum_qty",
              "sum_price")
        .orderBy("l_returnflag", "l_linestatus")
    },
      Some("""SELECT l_returnflag, l_linestatus, count(*) AS n_items,
                CAST(sum(CAST(round(l_quantity * 100, 0) AS BIGINT))
                     AS DOUBLE) / 100.0 AS sum_qty,
                CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
                     AS DOUBLE) / 100.0 AS sum_price
         FROM lineitem WHERE l_quantity > 10.0
         GROUP BY 1, 2 ORDER BY 1, 2""")),

    // Deterministic weighted (probability-proportional-to-size) sample:
    // priority = spread_hash(id)/weight, k smallest per stratum — seedless,
    // mergeable (k smallest of a union = k smallest of per-shard k
    // smallest), and bitwise-portable (one IEEE division; ties totalized
    // by doc_id).
    Query("sample_weighted_topk", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang"))
        .orderBy(col("priority").asc, col("doc_id").asc)
      Tables.documents(s, dir)
        .withColumn("priority",
          graft.olap.Sketch.spreadHash(col("doc_id")).cast("double") /
            col("n_chars").cast("double"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 10)
        .select("lang", "doc_id", "n_chars", "priority")
        .orderBy("lang", "doc_id")
    },
      Some("""WITH f AS (SELECT lang, doc_id, n_chars,
                      list_reduce(list_prepend(CAST(0 AS BIGINT),
                        list_transform(string_split(CAST(doc_id AS VARCHAR), ''),
                          ch -> CAST(ascii(ch) AS BIGINT))),
                        (a, c) -> (a * 31 + c) % 2147483647) AS h0
                    FROM documents),
              m1 AS (SELECT lang, doc_id, n_chars,
                       (h0 * 1103515245 + 12345) % 2147483647 AS h1 FROM f),
              m2 AS (SELECT lang, doc_id, n_chars,
                       (h1 * h1) % 2147483647 AS h2 FROM m1),
              h AS (SELECT lang, doc_id, n_chars,
                      CAST((h2 * 69069 + 362437) % 2147483647 AS DOUBLE)
                        / CAST(n_chars AS DOUBLE) AS priority FROM m2),
              r AS (SELECT lang, doc_id, n_chars, priority,
                      row_number() OVER (PARTITION BY lang
                        ORDER BY priority, doc_id) AS rn FROM h)
         SELECT lang, doc_id, n_chars, priority FROM r WHERE rn <= 10
         ORDER BY lang, doc_id""")),

    // RANGE window frame (value-distance, not row-count): per series, how
    // many bars close within ±50 cents of each bar, and their exact cent
    // sum — the frame type ROWS cannot express; completes the window
    // frame surface (ROWS bounded/unbounded + RANGE now covered).
    Query("window_range_frame", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("cents"))
        .rangeBetween(-50L, 50L)
      Ohlc.dailyBars(Tables.events(s, dir))
        .select(col("event_type"), col("date"),
                Exact.cents(col("close")).as("cents"))
        .withColumn("n_near", count(lit(1)).over(w))
        .withColumn("sum_near", sum(col("cents")).over(w))
        .select(col("event_type"), col("date"), col("cents"),
                col("n_near"), col("sum_near"))
        .orderBy("event_type", "date")
    },
      Some("""WITH b AS (SELECT event_type, CAST(ts AS DATE) AS date,
                           CAST(round(arg_max(value, ts) * 100, 0) AS BIGINT)
                             AS cents
                    FROM events GROUP BY 1, 2)
         SELECT event_type, date, cents,
                count(*) OVER w AS n_near,
                CAST(sum(cents) OVER w AS BIGINT) AS sum_near
         FROM b
         WINDOW w AS (PARTITION BY event_type ORDER BY cents
                      RANGE BETWEEN 50 PRECEDING AND 50 FOLLOWING)
         ORDER BY event_type, date""")),

    // §2.6 O2: sort + limit-k (top-k newest) — planned as
    // TakeOrderedAndProject (distributed per-partition top-k + merge,
    // no global sort).
    Query("sort_topk_newest", (s, dir) =>
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"),
                to_date(col("l_shipdate")).as("ship_date"),
                col("l_extendedprice"))
        // (l_orderkey, l_linenumber) is the lineitem primary key, so the
        // sort is already total — extendedprice in the key would only add
        // comparator work to every heap sift in TakeOrderedAndProject
        .orderBy(col("ship_date").desc, col("l_orderkey").asc,
                 col("l_linenumber").asc)
        .limit(100),
      Some("""SELECT l_orderkey, l_linenumber, CAST(l_shipdate AS DATE) AS ship_date,
                l_extendedprice
         FROM lineitem
         ORDER BY ship_date DESC, l_orderkey ASC, l_linenumber ASC
         LIMIT 100""")),

    // §2.5 F6 as data functions: the reference's casing/format ops
    // (constants.py:9-11, data_viz titles) applied to a column — lower/
    // upper/capitalize/concat (capitalize composed from substrings since
    // not every engine ships initcap).
    Query("fn_string_casing", (s, dir) =>
      Tables.nation(s, dir)
        .select(col("n_nationkey"),
          lower(col("n_name")).as("lower_name"),
          upper(col("n_name")).as("upper_name"),
          expr("concat(upper(substr(lower(n_name), 1, 1)), substr(lower(n_name), 2))")
            .as("capitalized"),
          concat(lit("nation: "), lower(col("n_name")),
                 lit(" ("), col("n_nationkey").cast("string"), lit(")"))
            .as("label"),
          length(col("n_name")).cast("long").as("name_len"))
        .orderBy("n_nationkey"),
      Some("""SELECT n_nationkey, lower(n_name) AS lower_name,
                upper(n_name) AS upper_name,
                concat(upper(substr(lower(n_name), 1, 1)),
                       substr(lower(n_name), 2)) AS capitalized,
                concat('nation: ', lower(n_name), ' (',
                       CAST(n_nationkey AS VARCHAR), ')') AS label,
                CAST(length(n_name) AS BIGINT) AS name_len
         FROM nation ORDER BY n_nationkey""")),

    // §2.2 restructuring, pivot direction: long→wide with a FIXED value
    // set (dynamic pivot would need a driver-side distinct pass; the
    // explicit list keeps the plan static and the schema declared).
    Query("restructure_pivot_daily", (s, dir) =>
      Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("date"))
        .pivot("event_type",
               Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("date"),
      Some("""SELECT CAST(ts AS DATE) AS date,
                count(*) FILTER (WHERE event_type = 'click') AS click,
                count(*) FILTER (WHERE event_type = 'error') AS error,
                count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
                count(*) FILTER (WHERE event_type = 'signup') AS signup,
                count(*) FILTER (WHERE event_type = 'view') AS view
         FROM events GROUP BY 1 ORDER BY 1""")),

    // §2.2 restructuring, unpivot direction: wide→long (the relational
    // form of the reference's transpose at av_etl.py:76) — OHLC columns
    // melt to (date, metric, value) rows.
    Query("restructure_unpivot_ohlc", (s, dir) => {
      val bars = Ohlc.dailyBars(
        Tables.events(s, dir).filter(col("event_type") === "purchase"))
      bars.select(col("date"), col("open"), col("high"), col("low"),
                  col("close"))
        .unpivot(Array(col("date")),
                 Array(col("open"), col("high"), col("low"), col("close")),
                 "metric", "value")
        .orderBy("date", "metric")
    },
      Some("""WITH b AS (SELECT CAST(ts AS DATE) AS date,
                           arg_min(value, ts) AS open, max(value) AS high,
                           min(value) AS low, arg_max(value, ts) AS close
                    FROM events WHERE event_type = 'purchase' GROUP BY 1)
         SELECT date, metric, value FROM (
           SELECT date, 'open' AS metric, open AS value FROM b
           UNION ALL SELECT date, 'high', high FROM b
           UNION ALL SELECT date, 'low', low FROM b
           UNION ALL SELECT date, 'close', close FROM b)
         ORDER BY date, metric""")),

    // Semi-join (EXISTS, TPC-H Q4 shape): priority counts over orders
    // having at least one returned lineitem. leftsemi materializes no
    // right-side columns and short-circuits per key — with the date
    // window pushed into the orders scan before the join.
    Query("join_semi_late_orders", (s, dir) => {
      val late = Tables.lineitem(s, dir)
        .filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"))
      Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
                col("o_orderdate") < lit("1996-01-01").cast("timestamp"))
        .join(late, col("o_orderkey") === col("l_orderkey"), "leftsemi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"))
        .orderBy("o_orderpriority")
    },
      Some("""SELECT o_orderpriority, count(*) AS n_orders
         FROM orders
         WHERE CAST(o_orderdate AS DATE) >= DATE '1995-01-01'
           AND CAST(o_orderdate AS DATE) < DATE '1996-01-01'
           AND EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey
                         AND l_returnflag = 'R')
         GROUP BY 1 ORDER BY 1""")),

    // Selective 3-way join + top-k (TPC-H Q3 shape): the customer dim is
    // broadcast (no shuffle of lineitem for it); orders⋈lineitem shuffles
    // on the order key; top-10 via TakeOrderedAndProject.
    Query("join_shipping_priority", (s, dir) => {
      val cust = Tables.customer(s, dir)
        .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
      val ord = Tables.orders(s, dir)
        .filter(col("o_orderdate") < lit("1998-07-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey"),
                to_date(col("o_orderdate")).as("order_date"),
                col("o_orderpriority"))
      val li = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") > lit("1998-07-01").cast("timestamp"))
        .select("l_orderkey", "l_extendedprice", "l_discount")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy("l_orderkey", "order_date", "o_orderpriority")
        .agg(Exact.sumRevenue(col("l_extendedprice"), col("l_discount"))
          .as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey").asc)
        .limit(10)
    },
      Some(s"""SELECT l_orderkey, CAST(o_orderdate AS DATE) AS order_date,
                 o_orderpriority,
                 CAST(sum(${Exact.revenueSql}) AS DOUBLE) AS revenue
          FROM lineitem
          JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          WHERE c_mktsegment = 'BUILDING'
            AND CAST(o_orderdate AS DATE) < DATE '1998-07-01'
            AND CAST(l_shipdate AS DATE) > DATE '1998-07-01'
          GROUP BY 1, 2, 3
          ORDER BY revenue DESC, l_orderkey ASC
          LIMIT 10""")),

    Query("join_region_revenue", (s, dir) => {
      val nat = Tables.nation(s, dir).join(
        broadcast(Tables.region(s, dir).filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
        .select("n_nationkey", "n_name")
      val cust = Tables.customer(s, dir).select("c_custkey", "c_nationkey")
      val ord = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp")
          && col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .select("o_orderkey", "o_custkey")
      val li = Tables.lineitem(s, dir)
        .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
      val supp = Tables.supplier(s, dir).select("s_suppkey", "s_nationkey")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey")
          && col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(Exact.sumRevenue(col("l_extendedprice"), col("l_discount"))
          .as("revenue"))
        .orderBy(col("revenue").desc, col("n_name").asc)
    },
      Some(s"""SELECT n_name, CAST(sum(${Exact.revenueSql}) AS DOUBLE) AS revenue
          FROM lineitem
          JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN supplier ON l_suppkey = s_suppkey
                       AND c_nationkey = s_nationkey
          JOIN nation ON s_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
          WHERE r_name = 'ASIA'
            AND CAST(o_orderdate AS DATE) BETWEEN DATE '1996-01-01'
                                              AND DATE '1996-12-31'
          GROUP BY 1 ORDER BY revenue DESC, n_name ASC""")),

    // TPC-H Q17 shape — the correlated scalar subquery ("quantity below
    // 0.2× this part's average") DECORRELATED into one per-part
    // aggregate joined back: the rewrite Catalyst's subquery
    // decorrelation performs, declared directly so the plan is the
    // intended one at any scale (per-part aggregate is part-cardinality
    // — shuffle-joined on the same key the aggregate just grouped by, so
    // AQE/bucketing can co-locate it; the selective part filter
    // broadcasts). The threshold test is exact integer arithmetic:
    // q < 0.2·avg ⟺ 5·n·q_cents < sum_q_cents — no division, no
    // double rounding anywhere until the final money casts.
    Query("join_small_qty_revenue", (s, dir) => {
      val li = Tables.lineitem(s, dir).select(col("l_partkey"),
        Exact.cents(col("l_quantity")).as("qc"),
        Exact.cents(col("l_extendedprice")).as("pc"))
      val pavg = li.groupBy("l_partkey")
        .agg(sum("qc").as("sum_qc"), count(lit(1)).as("n_li"))
      val parts = Tables.part(s, dir)
        .filter(col("p_brand") === "Brand#4" && col("p_size") <= 15)
        .select(col("p_partkey"))
      li.join(broadcast(parts), col("l_partkey") === col("p_partkey"))
        .join(pavg, "l_partkey")
        .filter(col("qc") * col("n_li") * lit(5L) < col("sum_qc"))
        .agg(count(lit(1)).as("n_lineitems"),
          (sum(col("pc")).cast("double") / lit(100.0))
            .as("sum_extendedprice"))
        .select(col("n_lineitems"), col("sum_extendedprice"),
          (col("sum_extendedprice") / lit(7.0)).as("avg_yearly"))
    },
      // the correlated form, which DuckDB decorrelates itself — the engines
      // meet at the same exact integer threshold (5·n·q < Σq)
      Some("""WITH li AS (SELECT l_partkey,
                       CAST(round(l_quantity * 100, 0) AS BIGINT) AS qc,
                       CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS pc
                     FROM lineitem),
            pa AS (SELECT l_partkey, CAST(sum(qc) AS BIGINT) AS sum_qc,
                          count(*) AS n_li
                   FROM li GROUP BY 1),
            sel AS (SELECT p_partkey FROM part
                    WHERE p_brand = 'Brand#4' AND p_size <= 15)
         SELECT count(*) AS n_lineitems,
                CAST(CAST(sum(pc) AS BIGINT) AS DOUBLE) / 100.0
                  AS sum_extendedprice,
                (CAST(CAST(sum(pc) AS BIGINT) AS DOUBLE) / 100.0) / 7.0
                  AS avg_yearly
         FROM li
         JOIN sel ON li.l_partkey = sel.p_partkey
         JOIN pa ON li.l_partkey = pa.l_partkey
         WHERE li.qc * pa.n_li * 5 < pa.sum_qc""")),

    // North-star train/val/test split: deterministic hash-mod bucketing
    // (the engine-portable spread hash) — reproducible on any engine and
    // any cluster size, no RNG state to coordinate.
    Query("sample_hash_split", (s, dir) =>
      Tables.documents(s, dir)
        .withColumn("bucket",
          (graft.olap.Sketch.spreadHash(col("doc_id")) % 100).cast("int"))
        .withColumn("split",
          when(col("bucket") < 90, "train")
            .when(col("bucket") < 95, "validation")
            .otherwise("test"))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
             min(col("doc_id")).as("min_doc_id"),
             max(col("doc_id")).as("max_doc_id"))
        .orderBy("split"),
      Some("""WITH f AS (SELECT doc_id,
                      list_reduce(list_prepend(CAST(0 AS BIGINT),
                        list_transform(string_split(CAST(doc_id AS VARCHAR), ''),
                          ch -> CAST(ascii(ch) AS BIGINT))),
                        (a, c) -> (a * 31 + c) % 2147483647) AS h0
                    FROM documents),
              m1 AS (SELECT doc_id,
                       (h0 * 1103515245 + 12345) % 2147483647 AS h1 FROM f),
              m2 AS (SELECT doc_id, (h1 * h1) % 2147483647 AS h2 FROM m1),
              b AS (SELECT doc_id,
                      ((h2 * 69069 + 362437) % 2147483647) % 100 AS bucket
                    FROM m2)
         SELECT CASE WHEN bucket < 90 THEN 'train'
                     WHEN bucket < 95 THEN 'validation'
                     ELSE 'test' END AS split,
                count(*) AS n_docs, min(doc_id) AS min_doc_id,
                max(doc_id) AS max_doc_id
         FROM b GROUP BY 1 ORDER BY 1""")),

    // North-star pretraining packing: concatenate documents in doc_id
    // order into one token stream, chop into 256-token training
    // sequences, report per-sequence occupancy. The global offset is a
    // two-level distributed prefix sum (Packing.withStreamOffset) — never
    // a single unpartitioned window.
    Query("pack_sequences", (s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"),
        size(TextAnalysis.tokens("text")).cast("long").as("n_tokens"))
      graft.text.Packing
        .packSequences(docs, "doc_id", "n_tokens", seqLen = 256L,
          bucketSize = 100L)
        .groupBy("seq_id")
        .agg(count(lit(1)).as("n_docs"),
             sum("n_overlap").as("n_tokens"),
             min("doc_id").as("min_doc_id"),
             max("doc_id").as("max_doc_id"))
        .orderBy("seq_id")
    },
      Some("""WITH t AS (SELECT doc_id,
                      CAST(len(regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[a-z0-9]+')) AS BIGINT) AS n
                    FROM documents),
              c AS (SELECT doc_id, n,
                      CAST(sum(n) OVER (ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                           - n AS BIGINT) AS tok_start
                    FROM t),
              e AS (SELECT doc_id, n, tok_start,
                      unnest(generate_series(tok_start // 256,
                        (tok_start + n - 1) // 256)) AS seq_id
                    FROM c WHERE n > 0)
         SELECT seq_id, count(*) AS n_docs,
                CAST(sum(least(tok_start + n, (seq_id + 1) * 256)
                       - greatest(tok_start, seq_id * 256)) AS BIGINT)
                  AS n_tokens,
                min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
         FROM e GROUP BY 1 ORDER BY 1""")),

    // North-star mixture temperature resampling (the multilingual
    // upsampling rule: p_l^α with α = 0.5): per-language weight relative
    // to the LARGEST language — sqrt(n)/sqrt(n_max) is a fixed IEEE chain
    // (two sqrts + one division, no cross-group double sum whose
    // accumulation order could differ between engines), so weights and
    // the derived integer targets are bitwise-portable. One
    // partial-aggregable groupBy + a broadcast 1-row max.
    Query("sample_temperature", (s, dir) => {
      val n = Tables.documents(s, dir)
        .groupBy("lang").agg(count(lit(1)).as("n_docs"))
      val m = n.agg(max(col("n_docs")).as("nmax"))
      n.crossJoin(broadcast(m))
        .withColumn("rel_weight",
          sqrt(col("n_docs").cast("double"))
            / sqrt(col("nmax").cast("double")))
        .select(col("lang"), col("n_docs"), col("rel_weight"),
          floor(lit(1000.0) * col("rel_weight")).cast("long")
            .as("target_docs"))
        .orderBy("lang")
    },
      Some("""WITH n AS (SELECT lang, count(*) AS n_docs FROM documents
                    GROUP BY 1),
              m AS (SELECT max(n_docs) AS nmax FROM n)
         SELECT lang, n_docs,
                sqrt(CAST(n_docs AS DOUBLE)) / sqrt(CAST(nmax AS DOUBLE))
                  AS rel_weight,
                CAST(floor(1000.0 * (sqrt(CAST(n_docs AS DOUBLE))
                       / sqrt(CAST(nmax AS DOUBLE)))) AS BIGINT)
                  AS target_docs
         FROM n, m ORDER BY lang""")),

    // North-star mixture balancing: the largest corpus that matches the
    // target per-language proportions exactly (pure integer arithmetic:
    // M = min over strata of count*10 div weight; quota = weight*M div
    // 10), members picked deterministically per stratum by the engine's
    // spread hash — reproducible on any engine/cluster size. At 100 TB
    // the per-stratum rank becomes the k-smallest-hash threshold trick
    // (see sample_stratified); the quota math is unchanged.
    Query("sample_mixture_balance", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, dir)
      val counts = docs.groupBy("lang").agg(count(lit(1)).as("cnt"))
        .withColumn("wt", when(col("lang") === "en", 5L)
          .when(col("lang") === "es", 2L).otherwise(1L))
      val m = counts.agg(min(expr("cnt * 10 div wt")).as("m"))
      val quota = counts.crossJoin(broadcast(m))
        .withColumn("k", expr("wt * m div 10"))
        .select("lang", "k")
      docs
        .withColumn("rn", row_number().over(w.partitionBy("lang")
          .orderBy(graft.olap.Sketch.spreadHash(col("doc_id")),
                   col("doc_id"))))
        .join(broadcast(quota), "lang")
        .filter(col("rn") <= col("k"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_selected"),
             min("doc_id").as("min_doc_id"),
             max("doc_id").as("max_doc_id"),
             sum("doc_id").as("sum_doc_id"))
        .orderBy("lang")
    },
      Some("""WITH f AS (SELECT doc_id, lang,
                      list_reduce(list_prepend(CAST(0 AS BIGINT),
                        list_transform(string_split(CAST(doc_id AS VARCHAR), ''),
                          ch -> CAST(ascii(ch) AS BIGINT))),
                        (a, c) -> (a * 31 + c) % 2147483647) AS h0
                    FROM documents),
              m1 AS (SELECT doc_id, lang,
                       (h0 * 1103515245 + 12345) % 2147483647 AS h1 FROM f),
              m2 AS (SELECT doc_id, lang, (h1 * h1) % 2147483647 AS h2 FROM m1),
              hv AS (SELECT doc_id, lang,
                       (h2 * 69069 + 362437) % 2147483647 AS hv FROM m2),
              r AS (SELECT doc_id, lang,
                      row_number() OVER (PARTITION BY lang ORDER BY hv, doc_id)
                        AS rn
                    FROM hv),
              c AS (SELECT lang, count(*) AS cnt,
                      CAST(CASE lang WHEN 'en' THEN 5 WHEN 'es' THEN 2
                           ELSE 1 END AS BIGINT) AS wt
                    FROM documents GROUP BY 1),
              m AS (SELECT min(cnt * 10 // wt) AS m FROM c),
              q AS (SELECT lang, wt * m // 10 AS k FROM c, m)
         SELECT r.lang, count(*) AS n_selected,
                min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id,
                CAST(sum(doc_id) AS BIGINT) AS sum_doc_id
         FROM r JOIN q USING (lang) WHERE rn <= k
         GROUP BY 1 ORDER BY 1""")),

    // North-star quality-filter funnel: the cumulative-conjunction survival
    // count per pipeline stage (language -> length -> stopword ratio ->
    // repetition), i.e. the acceptance report a pretraining filter chain
    // emits. One scan; flags are per-row projections; the 5x explode is
    // map-side and partially aggregated.
    Query("pipeline_filter_funnel", (s, dir) => {
      val flags = TextAnalysis.withTokenStats(Tables.documents(s, dir))
        .withColumn("stop_ratio",
          when(col("n_tokens") > 0,
            col("n_stopwords").cast("double")
              / col("n_tokens").cast("double")).otherwise(lit(0.0)))
        .withColumn("distinct_ratio",
          when(col("n_tokens") > 0,
            size(array_distinct(TextAnalysis.tokens("text"))).cast("double")
              / col("n_tokens").cast("double")).otherwise(lit(0.0)))
        .withColumn("c1", col("lang") === "en")
        .withColumn("c2", col("c1") && col("n_tokens").between(20, 500))
        .withColumn("c3", col("c2") && col("stop_ratio") >= lit(0.05))
        .withColumn("c4", col("c3") && col("distinct_ratio") >= lit(0.3))
      flags.select(col("doc_id"), explode(array(
          struct(lit("s0_all").as("stage"), lit(true).as("pass")),
          struct(lit("s1_lang").as("stage"), col("c1").as("pass")),
          struct(lit("s2_length").as("stage"), col("c2").as("pass")),
          struct(lit("s3_stopwords").as("stage"), col("c3").as("pass")),
          struct(lit("s4_repetition").as("stage"), col("c4").as("pass"))))
          .as("st"))
        .select(col("doc_id"), col("st.stage").as("stage"),
                col("st.pass").as("pass"))
        .groupBy("stage")
        .agg(sum(when(col("pass"), 1L).otherwise(0L)).as("n_docs"),
             sum(when(col("pass"), col("doc_id")).otherwise(0L))
               .as("sum_doc_id"))
        .orderBy("stage")
    },
      Some {
      val stops = TextAnalysis.stopwords.map(s => s"'$s'").mkString("[", ", ", "]")
      s"""WITH t AS (SELECT doc_id, lang,
                       regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[a-z0-9]+') AS toks
                     FROM documents),
              s AS (SELECT doc_id, lang,
                      CAST(len(toks) AS BIGINT) AS n_tokens,
                      CAST(len(list_filter(toks, t -> list_contains($stops, t)))
                        AS BIGINT) AS n_stop,
                      CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct
                    FROM t),
              f AS (SELECT doc_id,
                      lang = 'en' AS c1,
                      CASE WHEN n_tokens > 0
                           THEN CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE)
                           ELSE CAST(0 AS DOUBLE) END AS stop_ratio,
                      CASE WHEN n_tokens > 0
                           THEN CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE)
                           ELSE CAST(0 AS DOUBLE) END AS distinct_ratio,
                      n_tokens
                    FROM s),
              fl AS (SELECT doc_id, c1,
                       c1 AND n_tokens BETWEEN 20 AND 500 AS c2,
                       c1 AND n_tokens BETWEEN 20 AND 500
                          AND stop_ratio >= CAST(0.05 AS DOUBLE) AS c3,
                       c1 AND n_tokens BETWEEN 20 AND 500
                          AND stop_ratio >= CAST(0.05 AS DOUBLE)
                          AND distinct_ratio >= CAST(0.3 AS DOUBLE) AS c4
                     FROM f)
         SELECT stage, n_docs, sum_doc_id FROM (
           SELECT 's0_all' AS stage, CAST(count(*) AS BIGINT) AS n_docs,
                  CAST(sum(doc_id) AS BIGINT) AS sum_doc_id FROM fl
           UNION ALL
           SELECT 's1_lang', CAST(sum(CASE WHEN c1 THEN 1 ELSE 0 END) AS BIGINT),
                  CAST(sum(CASE WHEN c1 THEN doc_id ELSE 0 END) AS BIGINT) FROM fl
           UNION ALL
           SELECT 's2_length', CAST(sum(CASE WHEN c2 THEN 1 ELSE 0 END) AS BIGINT),
                  CAST(sum(CASE WHEN c2 THEN doc_id ELSE 0 END) AS BIGINT) FROM fl
           UNION ALL
           SELECT 's3_stopwords', CAST(sum(CASE WHEN c3 THEN 1 ELSE 0 END) AS BIGINT),
                  CAST(sum(CASE WHEN c3 THEN doc_id ELSE 0 END) AS BIGINT) FROM fl
           UNION ALL
           SELECT 's4_repetition', CAST(sum(CASE WHEN c4 THEN 1 ELSE 0 END) AS BIGINT),
                  CAST(sum(CASE WHEN c4 THEN doc_id ELSE 0 END) AS BIGINT) FROM fl
         ) ORDER BY stage"""
      }),

    // The composed pretraining pipeline, end-to-end in ONE declarative
    // plan: quality filter -> normalized dedup (keep min doc per key) ->
    // deterministic train split -> 256-token sequence packing. Each stage
    // is an already-verified operator; composing them costs no extra
    // passes — Catalyst pipelines the filters/projections into the scans
    // and the only shuffles are the dedup key, the split-survivor prefix
    // sum, and the final per-sequence aggregate.
    Query("pipeline_pretrain_e2e", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
      val kept = TextAnalysis.withTokenStats(Tables.documents(s, dir))
        .withColumn("stop_ratio",
          when(col("n_tokens") > 0,
            col("n_stopwords").cast("double")
              / col("n_tokens").cast("double")).otherwise(lit(0.0)))
        .withColumn("distinct_ratio",
          when(col("n_tokens") > 0,
            size(array_distinct(TextAnalysis.tokens("text"))).cast("double")
              / col("n_tokens").cast("double")).otherwise(lit(0.0)))
        .filter(col("lang") === "en" && col("n_tokens").between(20, 500)
          && col("stop_ratio") >= lit(0.05)
          && col("distinct_ratio") >= lit(0.3))
      val deduped = kept
        .withColumn("norm_text", trim(regexp_replace(
          translate(col("text"), TextAnalysis.asciiUpper,
            TextAnalysis.asciiLower),
          "[ \\t\\n\\r\\f\\x0B]+", " ")))
        .withColumn("rn", row_number().over(
          w.partitionBy("norm_text").orderBy("doc_id")))
        .filter(col("rn") === 1)
      val train = deduped
        .filter((graft.olap.Sketch.spreadHash(col("doc_id")) % 100) < 90)
        .select(col("doc_id"), col("n_tokens"))
      graft.text.Packing
        .packSequences(train, "doc_id", "n_tokens", seqLen = 256L,
          bucketSize = 100L)
        .groupBy("seq_id")
        .agg(count(lit(1)).as("n_docs"),
             sum("n_overlap").as("n_tokens"),
             min("doc_id").as("min_doc_id"),
             max("doc_id").as("max_doc_id"))
        .orderBy("seq_id")
    },
      Some {
      val stops = TextAnalysis.stopwords.map(s => s"'$s'").mkString("[", ", ", "]")
      s"""WITH t AS (SELECT doc_id, lang, text,
                       regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[a-z0-9]+') AS toks
                     FROM documents),
              s AS (SELECT doc_id, lang, text,
                      CAST(len(toks) AS BIGINT) AS n_tokens,
                      CAST(len(list_filter(toks, t2 -> list_contains($stops, t2)))
                        AS BIGINT) AS n_stop,
                      CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct
                    FROM t),
              kept AS (SELECT doc_id, text, n_tokens FROM s
                       WHERE lang = 'en' AND n_tokens BETWEEN 20 AND 500
                         AND CASE WHEN n_tokens > 0
                             THEN CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE)
                             ELSE CAST(0 AS DOUBLE) END >= CAST(0.05 AS DOUBLE)
                         AND CASE WHEN n_tokens > 0
                             THEN CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE)
                             ELSE CAST(0 AS DOUBLE) END >= CAST(0.3 AS DOUBLE)),
              ded AS (SELECT doc_id, n_tokens,
                        row_number() OVER (
                          PARTITION BY trim(regexp_replace(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g'))
                          ORDER BY doc_id) AS rn
                      FROM kept),
              d1 AS (SELECT doc_id, n_tokens FROM ded WHERE rn = 1),
              hf AS (SELECT doc_id, n_tokens,
                       list_reduce(list_prepend(CAST(0 AS BIGINT),
                         list_transform(string_split(CAST(doc_id AS VARCHAR), ''),
                           ch -> CAST(ascii(ch) AS BIGINT))),
                         (a, c) -> (a * 31 + c) % 2147483647) AS h0
                     FROM d1),
              hm AS (SELECT doc_id, n_tokens,
                       (((h0 * 1103515245 + 12345) % 2147483647)
                        * ((h0 * 1103515245 + 12345) % 2147483647))
                         % 2147483647 AS h2
                     FROM hf),
              train AS (SELECT doc_id, n_tokens AS n FROM hm
                        WHERE ((h2 * 69069 + 362437) % 2147483647) % 100 < 90),
              c AS (SELECT doc_id, n,
                      CAST(sum(n) OVER (ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                           - n AS BIGINT) AS tok_start
                    FROM train),
              e AS (SELECT doc_id, n, tok_start,
                      unnest(generate_series(tok_start // 256,
                        (tok_start + n - 1) // 256)) AS seq_id
                    FROM c WHERE n > 0)
         SELECT seq_id, count(*) AS n_docs,
                CAST(sum(least(tok_start + n, (seq_id + 1) * 256)
                       - greatest(tok_start, seq_id * 256)) AS BIGINT)
                  AS n_tokens,
                min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
         FROM e GROUP BY 1 ORDER BY 1"""
      }),

    // Set algebra over customer cohorts (1995 vs 1996 order years) as ONE
    // partial-aggregable pass: per-key membership flags, then counts of
    // intersection / differences / union — the plan you want instead of
    // four separate INTERSECT/EXCEPT scans (equality with Spark's
    // intersect()/except() operators is spec-pinned).
    Query("set_ops_customers", (s, dir) => {
      val o = Tables.orders(s, dir)
        .select(col("o_custkey"), year(col("o_orderdate")).as("y"))
        .filter(col("y").isin(1995, 1996))
      o.groupBy("o_custkey")
        .agg(max(when(col("y") === 1995, 1L).otherwise(0L)).as("in95"),
             max(when(col("y") === 1996, 1L).otherwise(0L)).as("in96"))
        .agg(sum("in95").as("n_1995"),
             sum("in96").as("n_1996"),
             sum(col("in95") * col("in96")).as("n_both"),
             sum(col("in95") * (lit(1L) - col("in96"))).as("n_only_1995"),
             sum((lit(1L) - col("in95")) * col("in96")).as("n_only_1996"),
             count(lit(1)).as("n_union"))
    },
      Some("""WITH o AS (SELECT o_custkey, year(o_orderdate) AS y FROM orders
                    WHERE year(o_orderdate) IN (1995, 1996)),
              f AS (SELECT o_custkey,
                      max(CASE WHEN y = 1995 THEN 1 ELSE 0 END) AS in95,
                      max(CASE WHEN y = 1996 THEN 1 ELSE 0 END) AS in96
                    FROM o GROUP BY 1)
         SELECT CAST(sum(in95) AS BIGINT) AS n_1995,
                CAST(sum(in96) AS BIGINT) AS n_1996,
                CAST(sum(in95 * in96) AS BIGINT) AS n_both,
                CAST(sum(in95 * (1 - in96)) AS BIGINT) AS n_only_1995,
                CAST(sum((1 - in95) * in96) AS BIGINT) AS n_only_1996,
                count(*) AS n_union
         FROM f""")),

    // Contamination-safe train/val/test split: hash the near-dup
    // CLUSTER id, not the document id, so every member of a duplicate
    // cluster lands in the same split — the leakage bug (train/test
    // near-dups) that plain per-doc hashing bakes into an eval set.
    // Composition: banded SimHash pairs → connected components →
    // canonical-id hash split; singletons are their own canonical.
    Query("sample_dedup_aware_split", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val labels = nearDupLabels(s, dir)
      docs.select("doc_id").join(labels, Seq("doc_id"), "left")
        .withColumn("canonical_id",
          coalesce(col("canonical_id"), col("doc_id")))
        .withColumn("bucket",
          (graft.olap.Sketch.spreadHash(col("canonical_id")) % 100)
            .cast("int"))
        .withColumn("split",
          when(col("bucket") < 90, "train")
            .when(col("bucket") < 95, "validation")
            .otherwise("test"))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
             countDistinct(col("canonical_id")).as("n_clusters"),
             min(col("doc_id")).as("min_doc_id"),
             max(col("doc_id")).as("max_doc_id"))
        .orderBy("split")
    },
      Some(s"""WITH RECURSIVE
            h AS (SELECT doc_id, $duckTokHashes AS th FROM documents),
            s AS (SELECT doc_id, $duckSimhash AS simhash FROM h),
            b AS (SELECT doc_id, simhash, 0 AS band,
                         simhash & 65535 AS key FROM s
                  UNION ALL
                  SELECT doc_id, simhash, 1,
                         (simhash >> 16) & 65535 FROM s),
            cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
                            x.simhash AS sh_a, y.simhash AS sh_b
                     FROM b x JOIN b y
                       ON x.band = y.band AND x.key = y.key
                          AND x.doc_id < y.doc_id),
            pairs AS (SELECT doc_a, doc_b FROM cand
                      WHERE bit_count(xor(sh_a, sh_b)) <= 1),
            edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
                      UNION
                      SELECT doc_b, doc_a FROM pairs),
            reach(n, m) AS (
              SELECT a, a FROM edges
              UNION
              SELECT a, b FROM edges
              UNION
              SELECT r.n, e.b FROM reach r JOIN edges e ON r.m = e.a),
            lab AS (SELECT n AS doc_id, CAST(min(m) AS BIGINT)
                      AS canonical_id
                    FROM reach GROUP BY 1),
            allx AS (SELECT d.doc_id,
                            coalesce(l.canonical_id, d.doc_id)
                              AS canonical_id
                     FROM documents d
                     LEFT JOIN lab l ON l.doc_id = d.doc_id),
            f AS (SELECT doc_id, canonical_id,
                    list_reduce(list_prepend(CAST(0 AS BIGINT),
                      list_transform(
                        string_split(CAST(canonical_id AS VARCHAR), ''),
                        ch -> CAST(ascii(ch) AS BIGINT))),
                      (a, c) -> (a * 31 + c) % 2147483647) AS h0
                  FROM allx),
            m1 AS (SELECT doc_id, canonical_id,
                     (h0 * 1103515245 + 12345) % 2147483647 AS h1 FROM f),
            m2 AS (SELECT doc_id, canonical_id,
                     (h1 * h1) % 2147483647 AS h2 FROM m1),
            bk AS (SELECT doc_id, canonical_id,
                     ((h2 * 69069 + 362437) % 2147483647) % 100 AS bucket
                   FROM m2)
         SELECT CASE WHEN bucket < 90 THEN 'train'
                     WHEN bucket < 95 THEN 'validation'
                     ELSE 'test' END AS split,
                count(*) AS n_docs,
                CAST(count(DISTINCT canonical_id) AS BIGINT) AS n_clusters,
                min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
         FROM bk GROUP BY 1 ORDER BY 1""")),

    // The admission gate every training pipeline runs: ordered accept/
    // reject rules over the engine's own quality signals (first failing
    // rule wins, so reject reasons are deterministic and auditable).
    // Pure composition — length, quality score, language agreement — in
    // one pass over the corpus; the gate summary is one partial-
    // aggregable groupBy.
    Query("pipeline_quality_gate", (s, dir) => {
      val scored = TextAnalysis.withLangId(
        TextAnalysis.withQuality(Tables.documents(s, dir)))
      scored
        .withColumn("reason",
          when(col("n_chars") < 50, "too_short")
            .when(col("quality_score") < 0.5, "low_quality")
            .when(col("predicted_lang") =!= col("lang"), "lang_mismatch")
            .otherwise("accept"))
        .groupBy("lang", "reason")
        .agg(count(lit(1)).as("n_docs"),
             sum(col("n_chars")).as("sum_chars"))
        .orderBy("lang", "reason")
    },
      Some(qualityGateOracle)),

    // §2.4 extension: as-of join — for each purchase, the user's latest
    // view at or before it (merge-style union + keyed window; one shuffle,
    // no O(|L|·|R|) range-join blowup).
    Query("asof_join_latest_view", (s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val views = ev.filter(col("event_type") === "view")
        .select("user_id", "ts", "value")
      graft.ts.AsOfJoin.asOf(purchases, views, Seq("user_id"), "ts",
          Seq("value"))
        .select("event_id", "user_id", "ts", "asof_ts", "asof_value")
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

    // Forward as-of: the EARLIEST view at-or-after each purchase — the
    // mirror traversal of the backward join (descending window, identical
    // one-shuffle asymptotics). DuckDB's native ASOF with v.ts >= p.ts
    // cross-checks the direction semantics.
    Query("asof_join_next_view", (s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val views = ev.filter(col("event_type") === "view")
        .select("user_id", "ts", "value")
      graft.ts.AsOfJoin.asOfForward(purchases, views, Seq("user_id"), "ts",
          Seq("value"))
        .select("event_id", "user_id", "ts", "asof_ts", "asof_value")
        .orderBy("event_id")
    },
      Some("""WITH p AS (SELECT event_id, user_id, ts FROM events
                    WHERE event_type = 'purchase'),
              v AS (SELECT user_id, ts, value FROM events
                    WHERE event_type = 'view')
         SELECT p.event_id, p.user_id, p.ts,
                v.ts AS asof_ts, v.value AS asof_value
         FROM p ASOF LEFT JOIN v
           ON p.user_id = v.user_id AND v.ts >= p.ts
         ORDER BY p.event_id""")),

    // As-of nearest (pandas merge_asof(direction='nearest')): the view
    // with the smallest |view.ts − purchase.ts|, equidistant ties going
    // backward — both traversals share one shuffle (two window passes
    // over the same union frame), then a µs-exact comparison picks.
    Query("asof_join_nearest_view", (s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val views = ev.filter(col("event_type") === "view")
        .select("user_id", "ts", "value")
      graft.ts.AsOfJoin.asOfNearest(purchases, views, Seq("user_id"), "ts",
          Seq("value"))
        .select("event_id", "user_id", "ts", "asof_ts", "asof_value")
        .orderBy("event_id")
    },
      Some("""WITH p AS (SELECT event_id, user_id, ts FROM events
                    WHERE event_type = 'purchase'),
              v AS (SELECT user_id, ts, value FROM events
                    WHERE event_type = 'view'),
              bk AS (SELECT p.event_id, p.user_id, p.ts,
                            b.ts AS bts, b.value AS bval
                     FROM p ASOF LEFT JOIN v b
                       ON p.user_id = b.user_id AND b.ts <= p.ts),
              fw AS (SELECT p.event_id, f.ts AS fts, f.value AS fval
                     FROM p ASOF LEFT JOIN v f
                       ON p.user_id = f.user_id AND f.ts >= p.ts)
         SELECT bk.event_id, bk.user_id, bk.ts,
                CASE WHEN bk.bts IS NULL THEN fw.fts
                     WHEN fw.fts IS NULL THEN bk.bts
                     WHEN epoch_us(bk.ts) - epoch_us(bk.bts)
                          <= epoch_us(fw.fts) - epoch_us(bk.ts)
                     THEN bk.bts ELSE fw.fts END AS asof_ts,
                CASE WHEN bk.bts IS NULL THEN fw.fval
                     WHEN fw.fts IS NULL THEN bk.bval
                     WHEN epoch_us(bk.ts) - epoch_us(bk.bts)
                          <= epoch_us(fw.fts) - epoch_us(bk.ts)
                     THEN bk.bval ELSE fw.fval END AS asof_value
         FROM bk JOIN fw ON fw.event_id = bk.event_id
         ORDER BY bk.event_id""")),

    // As-of with a match tolerance (pandas merge_asof(tolerance=...)):
    // the latest view older than 30 minutes is no match — asof_* go NULL.
    Query("asof_join_tolerance", (s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val views = ev.filter(col("event_type") === "view")
        .select("user_id", "ts", "value")
      graft.ts.AsOfJoin.asOfWithTolerance(purchases, views, Seq("user_id"),
          "ts", Seq("value"), toleranceSeconds = 1800)
        .select("event_id", "user_id", "ts", "asof_ts", "asof_value")
        .orderBy("event_id")
    },
      Some("""WITH p AS (SELECT event_id, user_id, ts FROM events
                    WHERE event_type = 'purchase'),
              v AS (SELECT user_id, ts, value FROM events
                    WHERE event_type = 'view'),
              a AS (SELECT p.event_id, p.user_id, p.ts,
                           v.ts AS asof_ts, v.value AS asof_value
                    FROM p ASOF LEFT JOIN v
                      ON p.user_id = v.user_id AND v.ts <= p.ts)
         SELECT event_id, user_id, ts,
                CASE WHEN asof_ts >= ts - INTERVAL 30 MINUTE
                     THEN asof_ts END AS asof_ts,
                CASE WHEN asof_ts >= ts - INTERVAL 30 MINUTE
                     THEN asof_value END AS asof_value
         FROM a ORDER BY event_id""")),

    // The same as-of join as a NATIVE plan node (graft.plans.AsOfJoinExec:
    // custom LogicalPlan + SparkStrategy + SparkPlan via
    // SparkSessionExtensions) — sort-merge with O(1) per-partition state
    // instead of the union+window formulation; one exchange per side, none
    // when bucketed. Same oracle as asof_join_latest_view.
    Query("asof_join_exec", (s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id").as("r_user_id"), col("ts").as("asof_ts"),
                col("value").as("asof_value"))
      graft.plans.AsOfJoinPlan.asOf(purchases, views,
          Seq("user_id"), Seq("r_user_id"), "ts", "asof_ts")
        .select("event_id", "user_id", "ts", "asof_ts", "asof_value")
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

    // Range (interval) join via time bucketing: views in the hour before
    // each purchase, per user — equi-join on (user, hour-bucket) +
    // residual predicate instead of the nested-loop/filter-after-key-join
    // a naive range join produces.
    Query("range_join_prior_views", (s, dir) => {
      val ev = Tables.events(s, dir)
      graft.ts.RangeJoin.countEventsWithin(
          anchors = ev.filter(col("event_type") === "purchase")
            .select("event_id", "user_id", "ts"),
          events = ev.filter(col("event_type") === "view")
            .select("user_id", "ts"),
          keyCols = Seq("user_id"), idCol = "event_id",
          anchorTs = "ts", eventTs = "ts",
          lowerUs = -3600L * 1000000L, upperUs = 0L)
        .orderBy("event_id")
    },
      Some("""WITH p AS (SELECT event_id, user_id, ts FROM events
                    WHERE event_type = 'purchase'),
              v AS (SELECT user_id, ts FROM events WHERE event_type = 'view')
         SELECT p.event_id, count(v.ts) AS n_in_range
         FROM p LEFT JOIN v
           ON v.user_id = p.user_id
          AND v.ts >= p.ts - INTERVAL 1 HOUR AND v.ts < p.ts
         GROUP BY 1 ORDER BY 1""")),

    // North-star streaming-adjacent: gap-based sessionization (30-min
    // inactivity gap) as lag + running session counter over one keyed
    // shuffle+sort.
    Query("sessionize_events", (s, dir) =>
      graft.ts.Sessionize.sessions(Tables.events(s, dir), "user_id", "ts",
          "value", gapSeconds = 1800)
        .orderBy("user_id", "session_seq"),
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
                    FROM x)
         SELECT user_id, session_seq,
                min(ts) AS session_start, max(ts) AS session_end,
                count(*) AS n_events,
                CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM y GROUP BY 1, 2 ORDER BY 1, 2""")),

    // The same gap sessionization through Spark's BUILT-IN session_window
    // aggregate (one partial-aggregable pass with in-operator session
    // merging — no lag/running-sum windows at all). The oracle is the
    // composable lag+cumsum formulation, so this pins the built-in
    // operator's semantics against the hand-rolled one bitwise.
    Query("sessionize_builtin_window", (s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("user_id"),
          session_window(col("ts"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n_events"),
             min(col("ts")).as("session_start"),
             max(col("ts")).as("session_end"),
             sum(col("value").cast(DecimalType(18, 2))).cast("double")
               .as("sum_value"))
        .select(col("user_id"), col("session_start"), col("session_end"),
          col("n_events"), col("sum_value"))
        .orderBy("user_id", "session_start"),
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
                    FROM x)
         SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
                count(*) AS n_events,
                CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM y GROUP BY user_id, session_seq
         ORDER BY user_id, session_start""")),

    // North-star multimodal: binary payload column + typed metadata via a
    // batched per-partition decode (codec stubbed; plumbing real).
    Query("mm_media_meta", (s, dir) =>
      graft.multimodal.Media.mediaMeta(s, Tables.documents(s, dir))
        .orderBy("media_id"),
      // Byte-exact: enumerate the UTF-8 *bytes* of the payload (via hex
      // expansion), matching Spark's cast-to-binary — not codepoints, which
      // silently diverge the day a fixture gains non-ASCII text. The final
      // CAST pins list_sum's HUGEINT to int64.
      Some(s"""WITH hx AS (SELECT doc_id AS media_id, 'txt' AS format,
                             hex(encode(text)) AS h,
                             CAST(octet_length(encode(text)) AS BIGINT)
                               AS n_bytes
                      FROM documents),
             b AS (SELECT media_id, format, n_bytes,
                          ${duckHexBytes("h")} AS bytes
                   FROM hx)
         SELECT media_id, format, n_bytes,
                CAST(64 + CASE WHEN n_bytes > 0 THEN bytes[1] % 64
                               ELSE 0 END AS INT) AS width,
                CAST(64 + CASE WHEN n_bytes > 0 THEN bytes[len(bytes)] % 64
                               ELSE 0 END AS INT) AS height,
                CAST(CASE WHEN n_bytes > 0
                          THEN list_sum(bytes) % 2147483647
                          ELSE 0 END AS BIGINT) AS checksum
         FROM b ORDER BY media_id""")),

    // North-star multimodal: REAL image codec round-trip — encode each
    // doc's deterministic grayscale raster as actual compressed PNG bytes
    // (javax.imageio, in the JDK), then decode them back through the real
    // decoder and emit the decoded header dims + pixel sum. Grayscale PNG
    // is lossless, so the oracle recomputes the decoded checksum
    // arithmetically without any codec — the stub contract is retired for
    // images. Both stages are batched mapPartitions (codec init amortizes
    // per partition), zero shuffle.
    Query("mm_png_decode", (s, dir) => {
      import s.implicits._
      val media = Tables.documents(s, dir)
        .select(col("doc_id"), col("n_chars"))
        .as[(Long, Long)]
        .mapPartitions { it =>
          it.map { case (id, nChars) =>
            val w = (1 + id % 8).toInt
            val h = (1 + nChars % 8).toInt
            graft.multimodal.Media.MediaRow(id,
              graft.multimodal.Media.PngCodec.encodeGray(w, h,
                (x, y) => ((id * 31 + x * 7 + y * 13) % 256).toInt),
              "png")
          }
        }
      graft.multimodal.Media.extractMeta(media).toDF()
        .select(col("media_id"), col("width"), col("height"),
                col("checksum"))
        .orderBy("media_id")
    },
      // PNG is lossless: the decoded raster equals the encoded pixel
      // function, so the round-trip checksum is plain arithmetic here
      Some("""WITH dims AS (SELECT doc_id,
                              CAST(1 + doc_id % 8 AS INT) AS width,
                              CAST(1 + n_chars % 8 AS INT) AS height
                       FROM documents),
              xs AS (SELECT doc_id, width, height,
                            unnest(range(0, CAST(width AS BIGINT))) AS x
                     FROM dims),
              xy AS (SELECT doc_id, x,
                            unnest(range(0, CAST(height AS BIGINT))) AS y
                     FROM xs),
              px AS (SELECT doc_id,
                            sum((doc_id * 31 + x * 7 + y * 13) % 256) AS s
                     FROM xy GROUP BY 1)
         SELECT d.doc_id AS media_id, d.width, d.height,
                CAST(p.s % 2147483647 AS BIGINT) AS checksum
         FROM dims d JOIN px p ON p.doc_id = d.doc_id
         ORDER BY media_id""")),

    // North-star multimodal: REAL audio codec round-trip — synthesize each
    // doc's deterministic 8-bit PCM signal, wrap it in an actual WAV
    // container (javax.sound.sampled, in the JDK), decode it back through
    // the real audio API and emit the decoded header fields + exact
    // sample energy. PCM is uncompressed, so the oracle recomputes the
    // decoded energy arithmetically — the audio stub is retired alongside
    // the PNG image stub.
    Query("mm_wav_decode", (s, dir) => {
      import s.implicits._
      val media = Tables.documents(s, dir)
        .select(col("doc_id"))
        .as[Long]
        // NO spread here, unlike mm_mjpeg_scene_cut: the PCM payloads are
        // tiny and javax.sound's per-task provider scan costs more than
        // the single-task encode (measured 0.97 -> 2.45 s with a 32-way
        // repartition at sf0.1)
        .mapPartitions { it =>
          it.map { id =>
            val n = (32 + id % 64).toInt
            val samples = Array.tabulate(n)(i =>
              ((id * 17 + i * 29) % 256).toByte)
            graft.multimodal.Media.MediaRow(id,
              graft.multimodal.Media.WavCodec.encodePcm8(8000, samples),
              "wav")
          }
        }
      media.mapPartitions { it =>
        it.map { m =>
          val (rate, ch, n, e) =
            graft.multimodal.Media.WavCodec.decode(m.payload)
          (m.media_id, rate, ch, n, e)
        }
      }.toDF("media_id", "sample_rate", "channels", "n_samples", "energy")
        .orderBy("media_id")
    },
      // PCM is uncompressed: decoded samples equal the synthesized signal,
      // so the decoded energy is plain arithmetic here
      Some("""WITH d AS (SELECT doc_id, CAST(32 + doc_id % 64 AS BIGINT) AS n
                    FROM documents),
              sx AS (SELECT doc_id, n, unnest(range(0, n)) AS i FROM d),
              e AS (SELECT doc_id,
                           sum(((doc_id * 17 + i * 29) % 256 - 128)
                               * ((doc_id * 17 + i * 29) % 256 - 128))
                             AS energy
                    FROM sx GROUP BY 1)
         SELECT d.doc_id AS media_id, 8000 AS sample_rate, 1 AS channels,
                d.n AS n_samples, CAST(e.energy AS BIGINT) AS energy
         FROM d JOIN e ON e.doc_id = d.doc_id
         ORDER BY media_id""")),

    // Audio resampling through the REAL codec read path: decode the WAV
    // byte stream (javax.sound), then a 3-tap [1,2,1] anti-alias FIR +
    // decimate-by-2 — the sample-rate-conversion pass an audio training
    // pipeline runs at ingest. The FIR stays on the UNSIGNED [0,255]
    // lattice so integer floor division ≡ truncation in both engines
    // (signed DIV diverges between them on negatives); the last tap
    // clamps at the stream edge. Per-media work is bounded and fans out
    // one row per media — the same batched-mapPartitions posture as
    // every codec query (provider init amortizes per partition).
    Query("mm_audio_downsample", (s, dir) => {
      import s.implicits._
      val media = Tables.documents(s, dir)
        .select(col("doc_id"))
        .as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val n = (32 + id % 64).toInt
            val samples = Array.tabulate(n)(i =>
              ((id * 17 + i * 29) % 256).toByte)
            graft.multimodal.Media.MediaRow(id,
              graft.multimodal.Media.WavCodec.encodePcm8(8000, samples),
              "wav")
          }
        }
      media.mapPartitions { it =>
        it.map { m =>
          val (rate, x) =
            graft.multimodal.Media.WavCodec.decodeSamples(m.payload)
          val n = x.length
          val y = Array.tabulate(n / 2) { k0 =>
            val k = k0 + 1 // y_k from x_{2k-1}, x_{2k}, x_{2k+1} (1-based)
            val a = x(2 * k - 2)
            val b = x(2 * k - 1)
            val c = x(math.min(2 * k, n - 1))
            (a + 2 * b + c) / 4
          }
          val eIn = x.foldLeft(0L)((acc, v) =>
            acc + (v - 128).toLong * (v - 128))
          val eOut = y.foldLeft(0L)((acc, v) =>
            acc + (v - 128).toLong * (v - 128))
          val ck = y.zipWithIndex.foldLeft(0L) { case (acc, (v, i)) =>
            (acc + (i + 1).toLong * v) % 2147483647L }
          (m.media_id, rate / 2, n.toLong, y.length.toLong, eIn, eOut, ck)
        }
      }.toDF("media_id", "out_rate", "n_in", "n_out", "energy_in",
             "energy_out", "checksum_out")
        .orderBy("media_id")
    },
      // the synthetic PCM recomputed arithmetically (PCM8 WAV is lossless,
      // so decode(encode(x)) == x); FIR on the unsigned lattice, // == DIV
      Some("""WITH d AS (SELECT doc_id, CAST(32 + doc_id % 64 AS BIGINT) AS n
                    FROM documents),
            xs AS (SELECT doc_id, n,
                     list_transform(generate_series(0, n - 1), i ->
                       (doc_id * 17 + i * 29) % 256) AS x
                   FROM d),
            ys AS (SELECT doc_id, n, x,
                     list_transform(generate_series(1, n // 2), k ->
                       (x[2 * k - 1] + 2 * x[2 * k]
                        + x[least(2 * k + 1, n)]) // 4) AS y
                   FROM xs)
         SELECT doc_id AS media_id, 4000 AS out_rate, n AS n_in,
                CAST(len(y) AS BIGINT) AS n_out,
                CAST(list_sum(list_transform(x,
                  v -> (v - 128) * (v - 128))) AS BIGINT) AS energy_in,
                CAST(list_sum(list_transform(y,
                  v -> (v - 128) * (v - 128))) AS BIGINT) AS energy_out,
                CAST(coalesce(list_sum(list_transform(
                    generate_series(1, len(y)), k -> k * y[k])), 0)
                  % 2147483647 AS BIGINT) AS checksum_out
         FROM ys ORDER BY media_id""")),

    // North-star multimodal: frame sampling — one media row fans out to
    // per-frame rows (fixed 256-byte chunks standing in for keyframes),
    // turning per-media work into per-frame parallelism.
    Query("mm_frame_sample", (s, dir) =>
      graft.multimodal.Media.sampleFrames(
          graft.multimodal.Media.asMedia(Tables.documents(s, dir),
            "doc_id", "text"), frameBytes = 256)
        .toDF()
        .orderBy("media_id", "frame_idx"),
      // Byte-exact frames: chunk the UTF-8 *byte* stream (512 hex chars =
      // 256 bytes), mirroring Spark's payload.grouped(256); char-based
      // substr would misalign frames on any non-ASCII text. CAST pins
      // list_sum's HUGEINT to int64.
      Some(s"""WITH hx AS (SELECT doc_id AS media_id, hex(encode(text)) AS h,
                             octet_length(encode(text)) AS nb
                      FROM documents WHERE octet_length(encode(text)) > 0),
             f AS (SELECT media_id, h,
                          CAST(unnest(generate_series(0,
                            CAST(floor((nb - 1) / 256.0) AS INT)))
                            AS INT) AS frame_idx
                   FROM hx),
             c AS (SELECT media_id, frame_idx,
                          substr(h, frame_idx * 512 + 1, 512) AS ch
                   FROM f)
         SELECT media_id, frame_idx,
                CAST(length(ch) // 2 AS BIGINT) AS n_bytes,
                CAST(list_sum(${duckHexBytes("ch")}) % 2147483647
                     AS BIGINT) AS checksum
         FROM c ORDER BY media_id, frame_idx""")),

    // Scene-cut segmentation over the sampled frames: a cut where the
    // frame-delta (|checksum_t − checksum_{t−1}|, the STUB stand-in for a
    // visual difference metric) exceeds threshold, then gaps-and-islands
    // into scenes — the shot-boundary pass a video training pipeline runs
    // after frame sampling. Keyed windows + partial-aggregable groupBy.
    Query("mm_scene_cuts", (s, dir) => {
      val frames = graft.multimodal.Media.sampleFrames(
          graft.multimodal.Media.asMedia(Tables.documents(s, dir),
            "doc_id", "text"), frameBytes = 256)
        .toDF()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("media_id")).orderBy(col("frame_idx"))
      val prev = lag(col("checksum"), 1).over(w)
      val isCut = when(prev.isNull ||
        abs(col("checksum") - prev) > lit(20000L), 1L).otherwise(0L)
      frames
        .withColumn("scene_idx",
          sum(isCut).over(w.rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
        .groupBy("media_id", "scene_idx")
        .agg(min(col("frame_idx")).as("start_frame"),
             max(col("frame_idx")).as("end_frame"),
             count(lit(1)).as("n_frames"))
        .orderBy("media_id", "scene_idx")
    },
      // same byte-exact frame chunking as mm_frame_sample, then lag-delta
      // cuts and rank-free islands over the checksum stream
      Some(s"""WITH hx AS (SELECT doc_id AS media_id, hex(encode(text)) AS h,
                             octet_length(encode(text)) AS nb
                      FROM documents WHERE octet_length(encode(text)) > 0),
             f AS (SELECT media_id, h,
                          CAST(unnest(generate_series(0,
                            CAST(floor((nb - 1) / 256.0) AS INT)))
                            AS INT) AS frame_idx
                   FROM hx),
             c AS (SELECT media_id, frame_idx,
                          substr(h, frame_idx * 512 + 1, 512) AS ch
                   FROM f),
             k AS (SELECT media_id, frame_idx,
                          CAST(list_sum(${duckHexBytes("ch")}) % 2147483647
                               AS BIGINT) AS checksum
                   FROM c),
             d AS (SELECT media_id, frame_idx, checksum,
                          lag(checksum) OVER (PARTITION BY media_id
                                              ORDER BY frame_idx) AS prev
                   FROM k),
             s AS (SELECT media_id, frame_idx,
                          sum(CASE WHEN prev IS NULL
                                     OR abs(checksum - prev) > 20000
                                   THEN 1 ELSE 0 END)
                            OVER (PARTITION BY media_id ORDER BY frame_idx
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS scene_idx
                   FROM d)
         SELECT media_id, CAST(scene_idx AS BIGINT) AS scene_idx,
                min(frame_idx) AS start_frame, max(frame_idx) AS end_frame,
                count(*) AS n_frames
         FROM s GROUP BY 1, 2 ORDER BY 1, 2""")),

    // North-star multimodal: audio-style overlapping sample windows —
    // the STFT/feature-frame fan-out (64-sample windows every 32), exact
    // integer energy per window. Same explode parallelism as frames, with
    // overlap.
    Query("mm_audio_window", (s, dir) =>
      graft.multimodal.Media.audioWindows(
          graft.multimodal.Media.asMedia(
            Tables.documents(s, dir).filter(col("doc_id") < 200),
            "doc_id", "text"), windowSize = 64, hop = 32)
        .toDF()
        .orderBy("media_id", "window_idx"),
      // overlapping 64-sample windows every 32 over the UTF-8 byte stream;
      // windows enumerated while start < n_bytes, so the last window may be
      // short (least(64, nb - start)) — matching the Spark flatMap exactly
      Some(s"""WITH hx AS (SELECT doc_id AS media_id, hex(encode(text)) AS h,
                             octet_length(encode(text)) AS nb
                      FROM documents
                      WHERE doc_id < 200 AND octet_length(encode(text)) > 0),
             b AS (SELECT media_id, nb, ${duckHexBytes("h")} AS bytes
                   FROM hx),
             w AS (SELECT media_id, nb, bytes,
                          CAST(unnest(generate_series(0,
                            CAST((nb - 1) // 32 AS INT))) AS INT)
                            AS window_idx
                   FROM b),
             c AS (SELECT media_id, window_idx, bytes,
                          least(64, nb - window_idx * 32) AS ns
                   FROM w)
         SELECT media_id, window_idx, CAST(ns AS BIGINT) AS n_samples,
                CAST(list_sum(list_transform(
                  generate_series(window_idx * 32 + 1, window_idx * 32 + ns),
                  j -> (bytes[j] - 128) * (bytes[j] - 128)))
                  AS BIGINT) AS energy
         FROM c ORDER BY media_id, window_idx""")),

    // Skew-mitigation join: the salted form (big side scattered over 8
    // deterministic sub-keys, small side replicated 8×) — bit-identical
    // to the plain join, which is exactly what the oracle checks. The
    // explicit fallback for when one key exceeds an executor and AQE's
    // partition-split can't help (it can split a partition, not a single
    // key's sorted run).
    Query("join_salted_skew", (s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select("l_suppkey", "l_quantity")
      val supp = Tables.supplier(s, dir)
        .select(col("s_suppkey").as("l_suppkey"), col("s_nationkey"))
      graft.olap.SkewJoin.saltedJoin(li, supp, Seq("l_suppkey"), salts = 8)
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n_items"),
             Exact.sumMoney(col("l_quantity")).as("sum_qty"))
        .orderBy("s_nationkey")
    },
      // the salted join must be bit-identical to the plain join — the
      // oracle IS the plain join
      Some("""SELECT s_nationkey, count(*) AS n_items,
                CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                  AS sum_qty
         FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         GROUP BY 1 ORDER BY 1""")),

    // Deterministic stratified sampling: per stratum, the k rows with the
    // smallest portable hash — a uniform-ish sample that is REPRODUCIBLE
    // (no RNG state, no seed drift across engines/retries) and mergeable
    // (the k smallest of a union are the k smallest of the per-shard k
    // smallest). Keyed window rank; hash ties totalized by event_id.
    Query("sample_stratified", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type"))
        .orderBy(col("hv").asc, col("event_id").asc)
      Tables.events(s, dir)
        .withColumn("hv", graft.olap.Sketch.spreadHash(col("event_id")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 20)
        .select("event_type", "event_id", "value")
        .orderBy("event_type", "event_id")
    },
      Some("""WITH f AS (SELECT event_type, event_id, value,
                      list_reduce(list_prepend(CAST(0 AS BIGINT),
                        list_transform(string_split(CAST(event_id AS VARCHAR), ''),
                          ch -> CAST(ascii(ch) AS BIGINT))),
                        (a, c) -> (a * 31 + c) % 2147483647) AS h0
                    FROM events),
              m1 AS (SELECT event_type, event_id, value,
                       (h0 * 1103515245 + 12345) % 2147483647 AS h1 FROM f),
              m2 AS (SELECT event_type, event_id, value,
                       (h1 * h1) % 2147483647 AS h2 FROM m1),
              h AS (SELECT event_type, event_id, value,
                      (h2 * 69069 + 362437) % 2147483647 AS hv FROM m2),
              r AS (SELECT event_type, event_id, value,
                      row_number() OVER (PARTITION BY event_type
                        ORDER BY hv, event_id) AS rn FROM h)
         SELECT event_type, event_id, value FROM r WHERE rn <= 20
         ORDER BY event_type, event_id""")),

    // Session funnel: per session, did a view precede a purchase? The
    // session assignment is the same gap logic as sessionize_events; the
    // conversion test is first-view-ts <= last-purchase-ts within the
    // session — ordered-sequence analytics over keyed windows.
    Query("sessionize_funnel", (s, dir) => {
      val wu = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"))
      val ev = Tables.events(s, dir)
        .withColumn("is_new",
          when(lag(col("ts"), 1).over(wu).isNull ||
               unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1)
                 .over(wu)) > 1800000000L, 1).otherwise(0))
        .withColumn("session_seq",
          sum(col("is_new")).over(wu.rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      ev.groupBy("user_id", "session_seq")
        .agg(count(lit(1)).as("n_events"),
          min(when(col("event_type") === "view", col("ts")))
            .as("first_view"),
          max(when(col("event_type") === "purchase", col("ts")))
            .as("last_purchase"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_sessions"),
          sum(when(col("first_view").isNotNull &&
                   col("last_purchase").isNotNull &&
                   col("first_view") <= col("last_purchase"), 1)
            .otherwise(0)).as("n_converted"))
        .orderBy("user_id")
    },
      Some("""WITH x AS (SELECT user_id, ts, event_type,
                      CASE WHEN lag(ts) OVER w IS NULL
                             OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                                > 1800000000
                           THEN 1 ELSE 0 END AS is_new
                    FROM events
                    WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
              y AS (SELECT user_id, ts, event_type,
                      CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
                    FROM x),
              s AS (SELECT user_id, session_seq, count(*) AS n_events,
                      min(CASE WHEN event_type = 'view' THEN ts END)
                        AS first_view,
                      max(CASE WHEN event_type = 'purchase' THEN ts END)
                        AS last_purchase
                    FROM y GROUP BY 1, 2)
         SELECT user_id, count(*) AS n_sessions,
                CAST(sum(CASE WHEN first_view IS NOT NULL
                               AND last_purchase IS NOT NULL
                               AND first_view <= last_purchase
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_converted
         FROM s GROUP BY 1 ORDER BY 1""")),

    // The full rank-function family in one keyed window pass: rank /
    // dense_rank / percent_rank / cume_dist over the value order (tie
    // semantics exercised — gaps, plateaus, inclusive fractions), ntile
    // over the totalized order (ntile is positional, so its window must
    // be a total order or engines may disagree within ties).
    Query("window_rank_suite", (s, dir) => {
      val wv = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("value"))
      val wt = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type"))
        .orderBy(col("value"), col("event_id"))
      Tables.events(s, dir).filter(col("user_id") < 20)
        .select(col("event_type"), col("event_id"), col("value"),
          rank().over(wv).cast("long").as("rnk"),
          dense_rank().over(wv).cast("long").as("drnk"),
          percent_rank().over(wv).as("prnk"),
          cume_dist().over(wv).as("cdist"),
          ntile(4).over(wt).cast("long").as("tile"))
        .orderBy("event_type", "event_id")
    },
      Some("""SELECT event_type, event_id, value,
                CAST(rank() OVER wv AS BIGINT) AS rnk,
                CAST(dense_rank() OVER wv AS BIGINT) AS drnk,
                percent_rank() OVER wv AS prnk,
                cume_dist() OVER wv AS cdist,
                CAST(ntile(4) OVER wt AS BIGINT) AS tile
         FROM events WHERE user_id < 20
         WINDOW wv AS (PARTITION BY event_type ORDER BY value),
                wt AS (PARTITION BY event_type ORDER BY value, event_id)
         ORDER BY event_type, event_id""")),

    // REAL image resize: encode the deterministic gradient corpus as
    // actual compressed PNGs, then decode each through javax.imageio and
    // nearest-neighbor downsample 2× (source index = 2·target index) in
    // the same batched mapPartitions pass. The oracle recomputes the
    // sampled checksums arithmetically from the synthesis formula —
    // a full encode → real decode → resample round-trip, not a stub.
    Query("mm_png_resize", (s, dir) => {
      import s.implicits._
      val media = Tables.documents(s, dir)
        .select(col("doc_id"), col("n_chars"))
        .as[(Long, Long)]
        .mapPartitions { it =>
          it.map { case (id, nChars) =>
            val w = (1 + id % 8).toInt
            val h = (1 + nChars % 8).toInt
            graft.multimodal.Media.MediaRow(id,
              graft.multimodal.Media.PngCodec.encodeGray(w, h,
                (x, y) => ((id * 31 + x * 7 + y * 13) % 256).toInt),
              "png")
          }
        }
      graft.multimodal.Media.resizeMeta(media).toDF()
        .select(col("media_id"), col("width"), col("height"),
                col("checksum"))
        .orderBy("media_id")
    },
      // stride-2 nearest-neighbor: sampled pixel (x,y) of the resized image
      // is source pixel (2x, 2y) of the synthesis formula
      Some("""WITH dims AS (SELECT doc_id,
                              CAST(1 + doc_id % 8 AS INT) AS width,
                              CAST(1 + n_chars % 8 AS INT) AS height
                       FROM documents),
              t AS (SELECT doc_id,
                           CAST((width + 1) // 2 AS INT) AS tw,
                           CAST((height + 1) // 2 AS INT) AS th
                    FROM dims),
              xs AS (SELECT doc_id, tw, th,
                            unnest(range(0, CAST(tw AS BIGINT))) AS x
                     FROM t),
              xy AS (SELECT doc_id, x,
                            unnest(range(0, CAST(th AS BIGINT))) AS y
                     FROM xs),
              px AS (SELECT doc_id,
                            sum((doc_id * 31 + 2 * x * 7 + 2 * y * 13) % 256)
                              AS s
                     FROM xy GROUP BY 1)
         SELECT t.doc_id AS media_id, t.tw AS width, t.th AS height,
                CAST(p.s % 2147483647 AS BIGINT) AS checksum
         FROM t JOIN px p ON p.doc_id = t.doc_id
         ORDER BY media_id""")),

    // Temporal train/test split with a purge gap (leakage hygiene for
    // time-series ML): the boundary is the DATA-DEPENDENT exact 70th
    // percentile day, found with the same histogram + broadcast
    // cumulative pick as KCore's median (O(distinct days), no window,
    // nothing event-sized single-partition); a 2-day purge zone between
    // train and test absorbs look-ahead from windowed features. Split
    // sizes, user reach, and day bounds certify the cut.
    Query("sample_time_purged_split", (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("event_id"),
                expr("unix_micros(ts) DIV 86400000000").as("day"))
      val hist = ev.groupBy("day").agg(count(lit(1)).as("c"))
      val cum = hist.as("a")
        .join(broadcast(hist.as("b")), col("b.day") <= col("a.day"))
        .groupBy(col("a.day").as("day")).agg(sum(col("b.c")).as("cum"))
      val rank = hist.agg(
        expr("CAST((sum(c) * 7 + 9) DIV 10 AS BIGINT)").as("r"))
      val d70 = cum.join(broadcast(rank))
        .filter(col("cum") >= col("r"))
        .agg(min(col("day")).as("d70"))
      ev.crossJoin(broadcast(d70))
        .select(col("user_id"), col("event_id"), col("day"),
          when(col("day") < col("d70"), "1_train")
            .when(col("day") < col("d70") + 2, "2_purged")
            .otherwise("3_test").as("split"))
        .groupBy("split")
        .agg(count(lit(1)).as("n_events"),
             count_distinct(col("user_id")).as("n_users"),
             min(col("day")).as("min_day"), max(col("day")).as("max_day"))
        .orderBy("split")
    },
      Some("""WITH ev AS (SELECT user_id, event_id,
                            epoch_us(ts) // 86400000000 AS day
                     FROM events),
              h AS (SELECT day, count(*) AS c FROM ev GROUP BY 1),
              cum AS (SELECT day, sum(c) OVER (ORDER BY day) AS cum FROM h),
              r AS (SELECT (sum(c) * 7 + 9) // 10 AS r FROM h),
              d70 AS (SELECT min(day) AS d70 FROM cum, r
                      WHERE cum.cum >= r.r),
              s AS (SELECT user_id, event_id, day,
                           CASE WHEN day < d70 THEN '1_train'
                                WHEN day < d70 + 2 THEN '2_purged'
                                ELSE '3_test' END AS split
                    FROM ev, d70)
         SELECT split, count(*) AS n_events,
                count(DISTINCT user_id) AS n_users,
                min(day) AS min_day, max(day) AS max_day
         FROM s GROUP BY 1 ORDER BY split""")),

    // Group-aware k-fold assignment: every event of a user lands in the
    // SAME fold (fold = multiplicative hash of user_id mod 5 — the
    // grouped split that stops per-user leakage across folds), plus the
    // balance report that certifies the split. One scan, one
    // partial-aggregable groupBy; assignment is pure arithmetic, so
    // re-runs and late data agree forever.
    Query("sample_group_kfold", (s, dir) =>
      Tables.events(s, dir)
        .select(col("user_id"), col("event_id"),
          pmod(col("user_id") * lit(2654435761L), lit(2147483647L))
            .mod(lit(5L)).as("fold"))
        .groupBy("fold")
        .agg(count(lit(1)).as("n_events"),
             count_distinct(col("user_id")).as("n_users"))
        .orderBy("fold"),
      Some("""SELECT (((user_id * 2654435761) % 2147483647) + 2147483647)
                  % 2147483647 % 5 AS fold,
                count(*) AS n_events,
                count(DISTINCT user_id) AS n_users
         FROM events GROUP BY 1 ORDER BY fold""")),

    // Mixture reweighting: per-language importance weights that rebalance
    // the corpus to the uniform target mixture — w = N/(L·n_lang) on the
    // parts-per-million integer lattice (exact floor division, no double
    // shares). The training-pipeline step between "measure the mixture"
    // and "sample to the target mixture".
    Query("sample_importance_reweight", (s, dir) => {
      val byLang = Tables.documents(s, dir)
        .groupBy("lang").agg(count(lit(1)).as("n_docs"))
      val tot = byLang.agg(sum(col("n_docs")).as("n_total"),
                           count(lit(1)).as("n_langs"))
      byLang.crossJoin(broadcast(tot))
        .select(col("lang"), col("n_docs"),
          expr("n_total * 1000000 DIV (n_langs * n_docs)").as("w_ppm"),
          expr("1000000 DIV n_langs").as("target_share_ppm"),
          expr("n_docs * 1000000 DIV n_total").as("actual_share_ppm"))
        .orderBy("lang")
    },
      Some("""WITH b AS (SELECT lang, count(*) AS n_docs FROM documents
                    GROUP BY 1),
              t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_total,
                           count(*) AS n_langs
                    FROM b)
         SELECT lang, n_docs,
                n_total * 1000000 // (n_langs * n_docs) AS w_ppm,
                1000000 // n_langs AS target_share_ppm,
                n_docs * 1000000 // n_total AS actual_share_ppm
         FROM b CROSS JOIN t ORDER BY lang""")),

    // Negative-sampling table (word2vec's unigram^¾ distribution) kept
    // EXACT: c^¾ = ⌊⁴√(c³)⌋ via two nested integer square roots
    // (⌊√⌊√x⌋⌋ = ⌊x^¼⌋; c³ < 2⁵³ so the double conversions are exact
    // and sqrt is IEEE correctly-rounded — no libm pow). Weights and
    // ppm shares are exact integers, the top-k order total.
    Query("sample_negative_table", (s, dir) => {
      val uc = Tables.documents(s, dir)
        .select(explode(TextAnalysis.tokens("text")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
        .withColumn("wt",
          floor(sqrt(floor(sqrt((col("c") * col("c") * col("c"))
            .cast("double"))))).cast("long"))
        .tracked
      val tot = uc.agg(sum(col("wt")).as("total_wt"))
      uc.crossJoin(broadcast(tot))
        .select(col("w").as("token"), col("c").as("freq"), col("wt"),
          expr("wt * 1000000 DIV total_wt").as("share_ppm"))
        .orderBy(col("wt").desc, col("token"))
        .limit(30)
    },
      Some("""WITH uc AS (SELECT w, count(*) AS c FROM (
                       SELECT unnest(regexp_extract_all(translate(text,
                         'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
                         'abcdefghijklmnopqrstuvwxyz'), '[a-z0-9]+')) AS w
                       FROM documents) GROUP BY 1),
              wt AS (SELECT w, c,
                       CAST(floor(sqrt(floor(sqrt(
                         CAST(c * c * c AS DOUBLE))))) AS BIGINT) AS wt
                     FROM uc),
              tot AS (SELECT CAST(sum(wt) AS BIGINT) AS total_wt FROM wt)
         SELECT w AS token, c AS freq, wt,
                wt * 1000000 // total_wt AS share_ppm
         FROM wt CROSS JOIN tot
         ORDER BY wt DESC, token LIMIT 30""")),

    // Class-balanced downsampling: cap every label at the minority-class
    // size, picking members by the portable spread hash (so the selection
    // is deterministic, seedless, and identical on any engine/partition
    // layout — the same reproducibility contract as sample_hash_split).
    // The id-sum checksum pins the exact selected SET, not just its size.
    Query("sample_class_balanced", (s, dir) => {
      val lbl = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("label").cast("long").as("label"))
      val counts = lbl.groupBy("label").agg(count(lit(1)).as("n_class"))
        .tracked
      val minN = counts.agg(min(col("n_class")).as("m"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("label")
        .orderBy(graft.olap.Sketch.spreadHash(col("vec_id")), col("vec_id"))
      lbl.withColumn("rk", row_number().over(w))
        .crossJoin(broadcast(minN))
        .filter(col("rk") <= col("m"))
        .groupBy("label")
        .agg(count(lit(1)).as("n_selected"),
             sum(col("vec_id")).as("id_checksum"))
        .join(broadcast(counts), "label")
        .select(col("label"), col("n_class"), col("n_selected"),
                col("id_checksum"))
        .orderBy("label")
    },
      Some("""WITH f AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
                      list_reduce(list_prepend(CAST(0 AS BIGINT),
                        list_transform(string_split(CAST(vec_id AS VARCHAR),
                          ''), ch -> CAST(ascii(ch) AS BIGINT))),
                        (a, c) -> (a * 31 + c) % 2147483647) AS h0
                    FROM embeddings),
              m1 AS (SELECT vec_id, label,
                       (h0 * 1103515245 + 12345) % 2147483647 AS h1 FROM f),
              m2 AS (SELECT vec_id, label, (h1 * h1) % 2147483647 AS h2
                     FROM m1),
              hh AS (SELECT vec_id, label,
                       (h2 * 69069 + 362437) % 2147483647 AS hv FROM m2),
              rk AS (SELECT vec_id, label,
                       row_number() OVER (PARTITION BY label
                         ORDER BY hv, vec_id) AS rk
                     FROM hh),
              cnt AS (SELECT label, count(*) AS n_class FROM f GROUP BY 1),
              mm AS (SELECT min(n_class) AS m FROM cnt),
              sel AS (SELECT label, count(*) AS n_selected,
                        CAST(sum(vec_id) AS BIGINT) AS id_checksum
                      FROM rk CROSS JOIN mm WHERE rk <= mm.m GROUP BY 1)
         SELECT sel.label, cnt.n_class, sel.n_selected, sel.id_checksum
         FROM sel JOIN cnt ON cnt.label = sel.label
         ORDER BY sel.label""")),

    // Neyman-allocation stratified sampling: budget 1000 rows split across
    // event-type strata ∝ N_h·S_h (minimum-variance allocation for a mean
    // estimate — uniform sampling wastes budget on low-variance strata).
    // The weight is the exact lattice surrogate
    // isqrt(N·((N·Σc²−S²) div (N−1))): moments from one partial-agg scan,
    // explicit floor-div, floor(sqrt(double)) — deterministic on any
    // engine (long→double rounding and IEEE sqrt are both
    // correctly-rounded, the sample_negative_table discipline). Members
    // are picked by the seedless spread-hash rank (mergeable, partition-
    // independent); the id-sum checksum pins the exact selected set.
    Query("sample_neyman_allocation", (s, dir) => {
      val (alloc, selected) = neymanSample(s, dir)
      val sel = selected.groupBy("event_type")
        .agg(count(lit(1)).as("n_selected"),
             sum(col("event_id")).as("id_checksum"))
      alloc.join(sel, "event_type")
        .select("event_type", "n_class", "wt", "n_alloc", "n_selected",
                "id_checksum")
        .orderBy("event_type")
    },
      Some(s"""WITH $duckNeymanCtes,
              sel AS (SELECT r.event_type, count(*) AS n_selected,
                             CAST(sum(r.event_id) AS BIGINT) AS id_checksum
                      FROM rk r JOIN alloc a
                        ON a.event_type = r.event_type
                       AND r.rk <= a.n_alloc
                      GROUP BY 1)
         SELECT a.event_type, a.n_class, a.wt, a.n_alloc,
                s.n_selected, s.id_checksum
         FROM alloc a JOIN sel s ON s.event_type = a.event_type
         ORDER BY a.event_type""")),

    // Perceptual average-hash over the REAL PNG codec round-trip — the
    // image-dedup signature (aHash: pixel > floor-mean, row-major bits)
    // computed from actually-decoded rasters, split into two 32-bit
    // halves so no engine touches the BIGINT sign bit. Batched
    // mapPartitions encode→decode like mm_png_decode (codec init
    // amortizes per partition), zero shuffle before the output sort; the
    // oracle recomputes the hash arithmetically from the synthesis
    // formula — lossless grayscale PNG means decoded == synthesized.
    Query("mm_image_phash", (s, dir) =>
      phashFrame(s, dir)
        .select(col("media_id"), col("width"), col("height"),
          col("lo").as("phash_lo"), col("hi").as("phash_hi"), col("n_set"))
        .orderBy("media_id"),
      Some(s"""WITH $duckPhashCtes
         SELECT media_id, width, height, lo AS phash_lo, hi AS phash_hi,
                n_set
         FROM hs ORDER BY media_id""")),

    // Stratified expansion (Horvitz–Thompson) estimation from the Neyman
    // sample: per stratum N_h·(sample sum)/n_h on the exact lattice
    // (floor-div), next to the true total the census knows — the
    // estimator-quality loop every sampling pipeline closes. Signed
    // relative error uses the make-divisible floor-div so both engines
    // truncate identically below zero.
    Query("sample_expansion_estimate", (s, dir) => {
      val (alloc, selected) = neymanSample(s, dir)
      val est = selected.groupBy("event_type")
        .agg(count(lit(1)).as("n_sel"), sum("c").as("sel_cents"))
      alloc.withColumnRenamed("sc", "true_cents")
        .join(est, "event_type")
        .withColumn("est_cents",
          expr("(sel_cents * n_class) div n_sel"))
        .withColumn("err", col("est_cents") - col("true_cents"))
        .withColumn("err_ppm", expr(
          "(err * 1000000 - ((err * 1000000 % true_cents) + true_cents)" +
          " % true_cents) div true_cents"))
        .select("event_type", "n_class", "n_sel", "est_cents",
                "true_cents", "err_ppm")
        .orderBy("event_type")
    },
      Some(s"""WITH $duckNeymanCtes,
              sel AS (SELECT r.event_type, count(*) AS n_sel,
                             CAST(sum(r.c) AS BIGINT) AS sel_cents
                      FROM rk r JOIN alloc a
                        ON a.event_type = r.event_type
                       AND r.rk <= a.n_alloc
                      GROUP BY 1),
              est AS (SELECT a.event_type, a.n_class, s.n_sel,
                             (s.sel_cents * a.n_class) // s.n_sel
                               AS est_cents,
                             a.sc AS true_cents
                      FROM alloc a JOIN sel s
                        ON s.event_type = a.event_type),
              er AS (SELECT event_type, n_class, n_sel, est_cents,
                            true_cents,
                            est_cents - true_cents AS err
                     FROM est)
         SELECT event_type, n_class, n_sel, est_cents, true_cents,
                (err * 1000000 - ((err * 1000000 % true_cents)
                   + true_cents) % true_cents) // true_cents AS err_ppm
         FROM er ORDER BY event_type""")),

    // Poisson(1) bootstrap — the resampling scheme that actually works
    // distributed (each row draws its replicate weights independently
    // from a hashed uniform; no global permutation, no sampling state).
    // Weights come from the fixed ppm CDF thresholds of Poisson(1), the
    // uniform from the portable 3-step LCG mix (mod-first so the chain
    // never exceeds 2⁶² at any id scale). Replicate TOTALS stay exact
    // BIGINTs; the bootstrap SE spends one IEEE chain on the exact
    // DECIMAL(38,0) replicate moments. 32 replicates ride one explode —
    // a constant 32× map-side expansion, partial-aggregated immediately.
    Query("sample_poisson_bootstrap", (s, dir) => {
      def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
      val m = 2147483647L
      val ev = Tables.events(s, dir)
        .select(col("event_type"), col("event_id"),
                Exact.cents(col("value")).as("c"))
        .tracked // census + replicate expansion both scan it
      val reps = ev
        .withColumn("r", explode(sequence(lit(1L), lit(32L))))
        // mod-first: (id % m)·37 + r ≡ id·37 + r (mod m) with identical
        // non-negative b0, but never exceeds 2⁶² at any id scale
        .withColumn("b0", ((col("event_id") % m) * 37L + col("r")) % m)
        .withColumn("h1", (col("b0") * 1103515245L + 12345L) % m)
        .withColumn("hm", (col("h1") * col("h1")) % m)
        .withColumn("u", ((col("hm") * 69069L + 362437L) % m) % 1000000L)
        .withColumn("wt",
          when(col("u") < 367879L, 0L).when(col("u") < 735759L, 1L)
            .when(col("u") < 919699L, 2L).when(col("u") < 980988L, 3L)
            .when(col("u") < 996312L, 4L).when(col("u") < 999380L, 5L)
            .otherwise(6L))
      val totals = reps.groupBy("event_type", "r")
        .agg(sum(col("wt") * col("c")).as("swc"))
      val boot = totals.groupBy("event_type")
        .agg(count(lit(1)).as("n_reps"), sum("swc").as("s1"),
             sum(dec(col("swc")) * dec(col("swc"))).as("s2"))
      val census = ev.groupBy("event_type").agg(sum("c").as("census_total"))
      boot.join(census, "event_type")
        .select(col("event_type"), col("n_reps"), col("census_total"),
          (col("s1").cast("double") / lit(32.0)).as("boot_mean_total"),
          sqrt((dec(lit(32L)) * col("s2") - dec(col("s1")) * dec(col("s1")))
            .cast("double") / lit(992.0)).as("boot_se_total"))
        .orderBy("event_type")
    },
      Some("""WITH ev AS (SELECT event_type, event_id,
                  CAST(round(value * 100, 0) AS BIGINT) AS c FROM events),
     reps AS (SELECT event_type, event_id, c, r
              FROM ev CROSS JOIN
                (SELECT unnest(generate_series(1, 32)) AS r)),
     h0 AS (SELECT event_type, c, r,
                   ((event_id % 2147483647) * 37 + r) % 2147483647 AS b0
            FROM reps),
     h1 AS (SELECT event_type, c, r,
                   (b0 * 1103515245 + 12345) % 2147483647 AS h1 FROM h0),
     h2 AS (SELECT event_type, c, r, (h1 * h1) % 2147483647 AS hm FROM h1),
     h3 AS (SELECT event_type, c, r,
                   ((hm * 69069 + 362437) % 2147483647) % 1000000 AS u
            FROM h2),
     wt AS (SELECT event_type, c, r,
                   CASE WHEN u < 367879 THEN 0 WHEN u < 735759 THEN 1
                        WHEN u < 919699 THEN 2 WHEN u < 980988 THEN 3
                        WHEN u < 996312 THEN 4 WHEN u < 999380 THEN 5
                        ELSE 6 END AS w
            FROM h3),
     totals AS (SELECT event_type, r,
                       CAST(sum(w * c) AS BIGINT) AS swc
                FROM wt GROUP BY 1, 2),
     boot AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_reps,
                     CAST(sum(swc) AS BIGINT) AS s1,
                     CAST(sum(CAST(swc AS HUGEINT) * swc) AS HUGEINT) AS s2
              FROM totals GROUP BY 1),
     census AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS census_total
                FROM ev GROUP BY 1)
         SELECT b.event_type, b.n_reps, census.census_total,
                CAST(b.s1 AS DOUBLE) / 32.0 AS boot_mean_total,
                sqrt(CAST(CAST(32 * b.s2 - CAST(b.s1 AS HUGEINT) * b.s1 AS BIGINT) AS DOUBLE) / 992.0) AS boot_se_total
         FROM boot b JOIN census USING (event_type)
         ORDER BY event_type""")),

    // Image entropy over the REAL PNG decode: 16-bin luminance histogram
    // per image (one raster pass), then Shannon entropy on the FixedLog2
    // lattice — (N·log2fp N − Σ c·log2fp c)/N/2²⁰, the same exact-entropy
    // chain as agg_entropy_by_group — the flat-image / noise-image
    // quality gate a multimodal ingest runs per asset. Decode is
    // per-row local; the entropy is partial-aggregable per image.
    Query("mm_image_entropy", (s, dir) => {
      import s.implicits._
      val L = graft.functions.FixedLog2.log2_fp _
      val media = Tables.documents(s, dir)
        .select(col("doc_id"), col("n_chars"))
        .as[(Long, Long)]
        .mapPartitions { it =>
          it.map { case (id, nChars) =>
            val w = (1 + id % 8).toInt
            val h = (1 + nChars % 8).toInt
            val (dw, dh, bins) = graft.multimodal.Media.PngCodec
              .decodeHistogram16(graft.multimodal.Media.PngCodec
                .encodeGray(w, h,
                  (x, y) => ((id * 31 + x * 7 + y * 13) % 256).toInt))
            (id, dw, dh, bins)
          }
        }
        .toDF("media_id", "width", "height", "bins")
      media
        .select(col("media_id"), col("width"), col("height"),
          explode(col("bins")).as("cnt"))
        .filter(col("cnt") > 0)
        .groupBy("media_id", "width", "height")
        .agg(sum("cnt").as("n_pixels"), count(lit(1)).as("n_bins"),
             sum(col("cnt") * L(col("cnt"))).as("sclog"))
        .select(col("media_id"), col("width"), col("height"),
          col("n_pixels"), col("n_bins"),
          ((col("n_pixels") * L(col("n_pixels")) - col("sclog"))
            .cast("double") / col("n_pixels").cast("double")
            / lit(1048576.0)).as("entropy_bits"))
        .orderBy("media_id")
    },
      Some {
      val lc = graft.functions.FixedLog2.sql("cnt")
      val ln = graft.functions.FixedLog2.sql("n_pixels")
      s"""WITH dims AS (SELECT doc_id,
                              CAST(1 + doc_id % 8 AS INT) AS width,
                              CAST(1 + n_chars % 8 AS INT) AS height
                       FROM documents),
              xs AS (SELECT doc_id, width, height,
                            unnest(range(0, CAST(width AS BIGINT))) AS x
                     FROM dims),
              xy AS (SELECT doc_id, width, height, x,
                            unnest(range(0, CAST(height AS BIGINT))) AS y
                     FROM xs),
              px AS (SELECT doc_id, width, height,
                            ((doc_id * 31 + x * 7 + y * 13) % 256) // 16
                              AS bin
                     FROM xy),
              bins AS (SELECT doc_id, width, height, bin,
                              CAST(count(*) AS BIGINT) AS cnt
                       FROM px GROUP BY 1, 2, 3, 4),
              g AS (SELECT doc_id AS media_id, width, height,
                           CAST(sum(cnt) AS BIGINT) AS n_pixels,
                           CAST(count(*) AS BIGINT) AS n_bins,
                           CAST(sum(CAST(cnt AS HUGEINT) * $lc) AS HUGEINT)
                             AS sclog
                    FROM bins GROUP BY 1, 2, 3)
          SELECT media_id, width, height, n_pixels, n_bins,
                 CAST(CAST(CAST(n_pixels AS HUGEINT) * $ln - sclog AS BIGINT) AS DOUBLE)
                   / CAST(n_pixels AS DOUBLE) / 1048576.0 AS entropy_bits
          FROM g ORDER BY media_id"""
      }),

    // Low-energy (silence-proxy) window ratio per audio asset: windows
    // whose energy falls below the asset's own mean — silent = e·W < Σe
    // in exact integers, no IEEE threshold. The trim-silence triage step
    // of an audio ingest, riding the same real windowing machinery as
    // mm_audio_window.
    Query("mm_audio_silence", (s, dir) => {
      val w = graft.multimodal.Media.audioWindows(
          graft.multimodal.Media.asMedia(
            Tables.documents(s, dir).filter(col("doc_id") < 200),
            "doc_id", "text"), windowSize = 64, hop = 32)
        .toDF()
        .tracked // per-media totals + the flag pass both scan it
      val tot = w.groupBy("media_id")
        .agg(count(lit(1)).as("n_windows"),
             sum("energy").as("total_energy"),
             max("energy").as("max_energy"))
      w.join(tot, "media_id")
        .withColumn("is_silent",
          col("energy") * col("n_windows") < col("total_energy"))
        .groupBy("media_id", "n_windows", "total_energy", "max_energy")
        .agg(sum(when(col("is_silent"), 1L).otherwise(0L))
          .as("n_silent"))
        .select("media_id", "n_windows", "n_silent", "total_energy",
                "max_energy")
        .orderBy("media_id")
    },
      Some(s"""WITH hx AS (SELECT doc_id AS media_id, hex(encode(text)) AS h,
                             octet_length(encode(text)) AS nb
                      FROM documents
                      WHERE doc_id < 200 AND octet_length(encode(text)) > 0),
             b AS (SELECT media_id, nb, ${duckHexBytes("h")} AS bytes
                   FROM hx),
             w AS (SELECT media_id, nb, bytes,
                          CAST(unnest(generate_series(0,
                            CAST((nb - 1) // 32 AS INT))) AS INT)
                            AS window_idx
                   FROM b),
             e AS (SELECT media_id, window_idx,
                          CAST(list_sum(list_transform(
                            generate_series(window_idx * 32 + 1,
                              window_idx * 32 + least(64, nb - window_idx * 32)),
                            j -> (bytes[j] - 128) * (bytes[j] - 128)))
                            AS BIGINT) AS energy
                   FROM w),
             t AS (SELECT media_id, CAST(count(*) AS BIGINT) AS n_windows,
                          CAST(sum(energy) AS BIGINT) AS total_energy,
                          CAST(max(energy) AS BIGINT) AS max_energy
                   FROM e GROUP BY 1)
         SELECT e.media_id, t.n_windows,
                CAST(sum(CASE WHEN e.energy * t.n_windows < t.total_energy
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_silent,
                t.total_energy, t.max_energy
         FROM e JOIN t ON t.media_id = e.media_id
         GROUP BY 1, 2, 4, 5 ORDER BY e.media_id""")),

    // Systematic time-spaced thinning: within each (type, day) cell, rank
    // by (ts, event_id) and keep every 20th row at offset 7 — the
    // even-spacing downsample a hash split can't give. Windows are keyed
    // by day cell so no partition outgrows a day at any volume; the
    // report is per-type kept counts with id/cents checksums.
    Query("sample_systematic", (s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val o = Tables.events(s, dir)
        .withColumn("cc", Exact.cents(col("value")))
        .withColumn("r", row_number().over(
          W.partitionBy(col("event_type"), to_date(col("ts")))
            .orderBy("ts", "event_id")))
      val tot = o.groupBy("event_type").agg(count(lit(1)).as("n_total"))
      val kept = o.filter(col("r") % 20 === 7)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_kept"), sum("event_id").as("id_checksum"),
             sum("cc").as("cents_kept"))
      tot.join(kept, "event_type")
        .select("event_type", "n_total", "n_kept", "id_checksum",
                "cents_kept")
        .orderBy("event_type")
    },
      Some("""WITH o AS (SELECT event_type, event_id,
                           CAST(round(value * 100, 0) AS BIGINT) AS cents,
                           row_number() OVER (
                             PARTITION BY event_type, CAST(ts AS DATE)
                             ORDER BY ts, event_id) AS r
                    FROM events),
              tot AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_total
                      FROM o GROUP BY 1),
              kept AS (SELECT event_type,
                              CAST(count(*) AS BIGINT) AS n_kept,
                              CAST(sum(event_id) AS BIGINT) AS id_checksum,
                              CAST(sum(cents) AS BIGINT) AS cents_kept
                       FROM o WHERE r % 20 = 7 GROUP BY 1)
         SELECT event_type, n_total, n_kept, id_checksum, cents_kept
         FROM tot JOIN kept USING (event_type) ORDER BY event_type""")),

    // PPS (probability-proportional-to-size) systematic sampling: units
    // selected where a fixed-step lattice of points (offset step/2, step
    // total/200) lands inside their size interval on the cumulative-size
    // line — the design-based sampler behind audit sampling and weighted
    // sub-corpus draws, where big units must enter with certainty. The
    // cumulative line is the Packing TWO-LEVEL prefix sum (never one
    // unpartitioned window); per-unit point counts are closed-form
    // integer DIV (the +step shift keeps every operand nonnegative so
    // trunc ≡ floor on both engines) — no per-point join, no explode.
    Query("sample_pps_systematic", (s, dir) => {
      val o = Tables.orders(s, dir)
        .select(col("o_orderkey"), Exact.cents(col("o_totalprice"))
          .as("sz"))
      val withLo = graft.text.Packing.withStreamOffset(o, "o_orderkey",
        "sz", "lo", bucketSize = 4096L)
      val tot = o.agg(sum("sz").cast("long").as("total"))
      withLo.crossJoin(broadcast(tot))
        .withColumn("step", expr("total div 200"))
        .withColumn("off", expr("step div 2"))
        .withColumn("n_points", expr(
          "(lo + sz - 1 - off + step) div step" +
            " - (lo - 1 - off + step) div step"))
        .filter(col("n_points") >= 1L)
        .select(col("o_orderkey"), col("sz"), col("lo"), col("n_points"))
        .orderBy("o_orderkey")
    },
      // exclusive cumulative-size prefix in o_orderkey order; the same
      // +step-shifted integer DIV point count as the engine
      Some("""WITH o AS (SELECT o_orderkey,
                           CAST(round(o_totalprice * 100, 0) AS BIGINT)
                             AS sz
                    FROM orders),
              c AS (SELECT o_orderkey, sz,
                           CAST(sum(sz) OVER (ORDER BY o_orderkey
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) - sz AS BIGINT) AS lo
                    FROM o),
              t AS (SELECT CAST(sum(sz) AS BIGINT) AS total FROM o),
              p AS (SELECT o_orderkey, sz, lo,
                           total // 200 AS step,
                           (total // 200) // 2 AS off
                    FROM c CROSS JOIN t)
         SELECT o_orderkey, sz, lo,
                (lo + sz - 1 - off + step) // step
                  - (lo - 1 - off + step) // step AS n_points
         FROM p
         WHERE (lo + sz - 1 - off + step) // step
                 - (lo - 1 - off + step) // step >= 1
         ORDER BY o_orderkey""")),

    // The estimator HALF of PPS sampling (Hansen–Hurwitz): each selected
    // unit contributes k_i·step/s_i to the population-COUNT estimate —
    // E[k_i] = s_i/step exactly, so the estimator is unbiased, and the
    // size-weighted sample recovers the unit count it never observed
    // directly. Terms ride the q20 lattice (k·step·2²⁰ DIV s — exact,
    // order-free integer sum); the grid total n_points·step estimates
    // total size as a free by-product. Same two-level prefix sum plan
    // as sample_pps_systematic.
    Query("sample_pps_ht_estimate", (s, dir) => {
      val o = Tables.orders(s, dir)
        .select(col("o_orderkey"), Exact.cents(col("o_totalprice"))
          .as("sz"))
      val withLo = graft.text.Packing.withStreamOffset(o, "o_orderkey",
        "sz", "lo", bucketSize = 4096L)
      val tot = o.agg(sum("sz").cast("long").as("total_cents"),
        count(lit(1)).as("n_exact"))
      val sel = withLo.crossJoin(broadcast(tot))
        .withColumn("step", expr("total_cents div 200"))
        .withColumn("off", expr("step div 2"))
        .withColumn("n_points", expr(
          "(lo + sz - 1 - off + step) div step" +
            " - (lo - 1 - off + step) div step"))
        .filter(col("n_points") >= 1L)
        // the q20 product rides DECIMAL(38,0) into the integral divide
        // (the raking/ols precedent): step ~ total/200, so a plain-BIGINT
        // n_points·step·2²⁰ wraps silently around total ~ 1.8e15 cents
        // while the HUGEINT oracle raises — the decimal ride keeps both
        // engines exact, and the DIV re-enters BIGINT as a tiny quotient
        .withColumn("term_q20",
          expr("cast(n_points as decimal(38,0)) * step * 1048576 div sz"))
      sel.groupBy("total_cents", "n_exact", "step")
        .agg(count(lit(1)).as("n_selected"),
          sum("n_points").cast("long").as("n_points_total"),
          sum("term_q20").cast("long").as("est_count_q20"))
        .select(col("n_exact"), col("n_selected"), col("n_points_total"),
          col("est_count_q20"),
          (col("est_count_q20").cast("double") / lit(1048576.0))
            .as("est_count"),
          col("total_cents"),
          (col("n_points_total") * col("step")).as("grid_est_cents"))
    },
      // Hansen–Hurwitz terms on the q20 lattice over the same selection
      Some("""WITH o AS (SELECT o_orderkey,
                           CAST(round(o_totalprice * 100, 0) AS BIGINT)
                             AS sz
                    FROM orders),
              c AS (SELECT o_orderkey, sz,
                           CAST(sum(sz) OVER (ORDER BY o_orderkey
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) - sz AS BIGINT) AS lo
                    FROM o),
              t AS (SELECT CAST(sum(sz) AS BIGINT) AS total_cents,
                           CAST(count(*) AS BIGINT) AS n_exact FROM o),
              p AS (SELECT o_orderkey, sz, lo, total_cents, n_exact,
                           total_cents // 200 AS step,
                           (total_cents // 200) // 2 AS off
                    FROM c CROSS JOIN t),
              sel AS (SELECT *,
                        (lo + sz - 1 - off + step) // step
                          - (lo - 1 - off + step) // step AS n_points
                      FROM p),
              k AS (SELECT *, (CAST(n_points AS HUGEINT) * step * 1048576)
                      // sz AS term_q20
                    FROM sel WHERE n_points >= 1)
         SELECT n_exact, CAST(count(*) AS BIGINT) AS n_selected,
                CAST(sum(n_points) AS BIGINT) AS n_points_total,
                CAST(sum(term_q20) AS BIGINT) AS est_count_q20,
                CAST(CAST(sum(term_q20) AS BIGINT) AS DOUBLE)
                  / CAST(1048576 AS DOUBLE) AS est_count,
                total_cents,
                CAST(sum(n_points) AS BIGINT) * step AS grid_est_cents
         FROM k GROUP BY n_exact, total_cents, step""")),

    // Histogram equalization over REAL decoded PNG rasters — the classic
    // contrast remap p' = floor((cdf(p) − cdf_min)·255/(n − cdf_min)),
    // exact integers end-to-end; lossless PNG keeps the whole pass
    // SQL-recomputable from the synthesis formula (the mm_png_decode
    // contract). Batched per-partition decode, zero shuffle.
    Query("mm_image_histogram_eq", (s, dir) => {
      import s.implicits._
      Tables.documents(s, dir)
        .select(col("doc_id"), col("n_chars"))
        .as[(Long, Long)]
        .mapPartitions { it =>
          it.map { case (id, nChars) =>
            val w = (1 + id % 8).toInt
            val h = (1 + nChars % 8).toInt
            val png = graft.multimodal.Media.PngCodec.encodeGray(w, h,
              (x, y) => ((id * 31 + x * 7 + y * 13) % 256).toInt)
            val (dw, dh, sb, sa, db, da) =
              graft.multimodal.Media.PngCodec.decodeEqualize(png)
            (id, dw.toLong, dh.toLong, sb, sa, db, da)
          }
        }
        .toDF("media_id", "width", "height", "sum_before", "sum_after",
          "n_levels_before", "n_levels_after")
        .orderBy("media_id")
    },
      // the arithmetic raster (the mm_png_decode synthesis) equalized in
      // SQL: per-image histogram -> cdf -> integer remap
      Some("""WITH px AS (SELECT d.doc_id, 1 + d.doc_id % 8 AS w,
                     1 + d.n_chars % 8 AS h, xx.x, yy.y,
                     (d.doc_id * 31 + xx.x * 7 + yy.y * 13) % 256 AS p
              FROM documents d
              CROSS JOIN (SELECT unnest(range(8)) AS x) xx
              CROSS JOIN (SELECT unnest(range(8)) AS y) yy
              WHERE xx.x < 1 + d.doc_id % 8
                AND yy.y < 1 + d.n_chars % 8),
       hist AS (SELECT doc_id, p, CAST(count(*) AS BIGINT) AS c
                FROM px GROUP BY 1, 2),
       tot AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
                      CAST(sum(p * c) AS BIGINT) AS sum_before,
                      CAST(count(*) AS BIGINT) AS n_levels_before
               FROM hist GROUP BY 1),
       cd AS (SELECT doc_id, p, c,
                     CAST(sum(c) OVER (PARTITION BY doc_id ORDER BY p
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS BIGINT) AS cdf
              FROM hist),
       mn AS (SELECT doc_id, min(cdf) AS cdf_min FROM cd GROUP BY 1),
       rm AS (SELECT cd.doc_id, cd.p, cd.c,
                     CASE WHEN tot.n = mn.cdf_min THEN 0
                          ELSE (cd.cdf - mn.cdf_min) * 255
                               // (tot.n - mn.cdf_min) END AS p2
              FROM cd JOIN mn USING (doc_id) JOIN tot USING (doc_id)),
       ag AS (SELECT doc_id, CAST(sum(p2 * c) AS BIGINT) AS sum_after,
                     CAST(count(DISTINCT p2) AS BIGINT) AS n_levels_after
              FROM rm GROUP BY 1)
         SELECT d.doc_id AS media_id,
                CAST(1 + d.doc_id % 8 AS BIGINT) AS width,
                CAST(1 + d.n_chars % 8 AS BIGINT) AS height,
                tot.sum_before, ag.sum_after,
                tot.n_levels_before, ag.n_levels_after
         FROM documents d
         JOIN tot ON tot.doc_id = d.doc_id
         JOIN ag ON ag.doc_id = d.doc_id
         ORDER BY media_id""")),

    // North-star multimodal: DC-removed zero-crossing rate over the same
    // 64/32 overlapping sample windows as mm_audio_window — the voicing /
    // spectral-tilt feature beside energy in every VAD front-end. Exact
    // integer DC removal (ns·b[j] vs window sum), strict sign-change
    // count; row-local flatMap, zero shuffle.
    Query("mm_audio_zcr", (s, dir) =>
      graft.multimodal.Media.audioZcr(
          graft.multimodal.Media.asMedia(
            Tables.documents(s, dir).filter(col("doc_id") < 200),
            "doc_id", "text"), windowSize = 64, hop = 32)
        .toDF()
        .withColumn("zcr", when(col("n_samples") >= 2L,
          col("crossings").cast("double")
            / (col("n_samples") - 1L).cast("double")))
        .orderBy("media_id", "window_idx"),
      // same 64/32 window enumeration as mm_audio_window; centered samples
      // are ns·b[j] − wsum (exact integer DC removal), a crossing is a
      // strict sign change, counted branch-free as (1 − sign(prod)) // 2
      Some(s"""WITH hx AS (SELECT doc_id AS media_id, hex(encode(text)) AS h,
                             octet_length(encode(text)) AS nb
                      FROM documents
                      WHERE doc_id < 200 AND octet_length(encode(text)) > 0),
             b AS (SELECT media_id, nb, ${duckHexBytes("h")} AS bytes
                   FROM hx),
             w AS (SELECT media_id, nb, bytes,
                          CAST(unnest(generate_series(0,
                            CAST((nb - 1) // 32 AS INT))) AS INT)
                            AS window_idx
                   FROM b),
             c AS (SELECT media_id, window_idx, bytes,
                          least(64, nb - window_idx * 32) AS ns
                   FROM w),
             d AS (SELECT media_id, window_idx, bytes, ns,
                          CAST(list_sum(list_transform(
                            generate_series(window_idx * 32 + 1,
                                            window_idx * 32 + ns),
                            j -> bytes[j])) AS BIGINT) AS wsum
                   FROM c),
             x AS (SELECT media_id, window_idx, ns,
                          CAST(coalesce(list_sum(list_transform(
                            generate_series(window_idx * 32 + 1,
                                            window_idx * 32 + ns - 1),
                            j -> (1 - sign((ns * bytes[j] - wsum)
                                   * (ns * bytes[j + 1] - wsum))) // 2)), 0)
                            AS BIGINT) AS crossings
                   FROM d)
         SELECT media_id, window_idx, CAST(ns AS BIGINT) AS n_samples,
                crossings,
                CASE WHEN ns >= 2 THEN CAST(crossings AS DOUBLE)
                       / CAST(ns - 1 AS DOUBLE) END AS zcr
         FROM x ORDER BY media_id, window_idx""")),

    // North-star multimodal: 2×2 tile census through the REAL PNG codec —
    // encode each doc's deterministic grayscale raster as compressed PNG
    // bytes, decode them back and emit per-quadrant pixel counts + sums
    // (the ViT-patching shape). Grayscale PNG is lossless, so the oracle
    // recomputes every tile sum arithmetically from the synthesis
    // formula. Batched mapPartitions both stages, zero shuffle.
    Query("mm_image_tiles", (s, dir) => {
      import s.implicits._
      val media = Tables.documents(s, dir)
        .filter(col("doc_id") < 500)
        .select(col("doc_id"), col("n_chars"))
        .as[(Long, Long)]
        .mapPartitions { it =>
          it.map { case (id, nChars) =>
            val w = (1 + id % 8).toInt
            val h = (1 + nChars % 8).toInt
            graft.multimodal.Media.MediaRow(id,
              graft.multimodal.Media.PngCodec.encodeGray(w, h,
                (x, y) => ((id * 31 + x * 7 + y * 13) % 256).toInt),
              "png")
          }
        }
      media.mapPartitions { rows =>
        rows.flatMap { m =>
          val (w, h, tiles) =
            graft.multimodal.Media.PngCodec.decodeQuadrants(m.payload)
          tiles.map { case (r, c, npx, sum) =>
            (m.media_id, w.toLong, h.toLong, r.toLong, c.toLong, npx, sum)
          }
        }
      }.toDF("media_id", "width", "height", "tile_row", "tile_col",
          "n_px", "px_sum")
        .orderBy("media_id", "tile_row", "tile_col")
    },
      // lossless grayscale PNG: every tile sum recomputed arithmetically
      // from the synthesis formula pixel(x,y) = (id*31 + x*7 + y*13) % 256
      Some("""WITH m AS (SELECT doc_id AS media_id,
                           CAST(1 + doc_id % 8 AS BIGINT) AS w,
                           CAST(1 + n_chars % 8 AS BIGINT) AS h
                    FROM documents WHERE doc_id < 500),
              t AS (SELECT media_id, w, h,
                           (w + 1) // 2 AS tw, (h + 1) // 2 AS th,
                           unnest([0, 0, 1, 1]) AS tile_row,
                           unnest([0, 1, 0, 1]) AS tile_col
                    FROM m),
              b AS (SELECT *,
                           CASE WHEN tile_col = 0 THEN 0 ELSE tw END AS x0,
                           CASE WHEN tile_col = 0 THEN tw - 1 ELSE w - 1
                           END AS x1,
                           CASE WHEN tile_row = 0 THEN 0 ELSE th END AS y0,
                           CASE WHEN tile_row = 0 THEN th - 1 ELSE h - 1
                           END AS y1
                    FROM t),
              nz AS (SELECT * FROM b WHERE x1 >= x0 AND y1 >= y0)
         SELECT media_id, w AS width, h AS height,
                CAST(tile_row AS BIGINT) AS tile_row,
                CAST(tile_col AS BIGINT) AS tile_col,
                CAST((x1 - x0 + 1) * (y1 - y0 + 1) AS BIGINT) AS n_px,
                CAST(list_sum(flatten(list_transform(
                  generate_series(y0, y1), y ->
                    list_transform(generate_series(x0, x1), x ->
                      (media_id * 31 + x * 7 + y * 13) % 256))))
                  AS BIGINT) AS px_sum
         FROM nz ORDER BY media_id, tile_row, tile_col""")),

    // Spectral flatness of the per-window audio energies (Wiener
    // entropy): geometric vs arithmetic mean in the FixedLog2 domain —
    // tonal media score near −∞, noise near 0, the VAD/music-speech
    // discriminator. Zero-energy windows can't enter the log and are
    // counted out LOUDLY as their own column. Same audioWindows explode
    // as mm_audio_window; per-media aggregation is the only shuffle.
    Query("mm_audio_flatness", (s, dir) => {
      val L = graft.functions.FixedLog2.log2_fp _
      val w = graft.multimodal.Media.audioWindows(
          graft.multimodal.Media.asMedia(
            Tables.documents(s, dir).filter(col("doc_id") < 200),
            "doc_id", "text"), windowSize = 64, hop = 32)
        .toDF().tracked
      val nz = w.filter(col("energy") > 0)
        .groupBy("media_id")
        .agg(count(lit(1)).as("n_windows"),
          sum(L(col("energy"))).cast("long").as("sle"),
          sum("energy").cast("long").as("se"))
      val z = w.filter(col("energy") === 0)
        .groupBy("media_id").agg(count(lit(1)).as("nzero"))
      nz.join(z, Seq("media_id"), "left")
        .withColumn("flatness_log2_q20",
          expr("sle DIV n_windows") - L(expr("se DIV n_windows")))
        .select(col("media_id"), col("n_windows"),
          coalesce(col("nzero"), lit(0L)).as("n_zero_windows"),
          col("flatness_log2_q20"),
          (col("flatness_log2_q20").cast("double") / lit(1048576.0))
            .as("flatness_log2"))
        .orderBy("media_id")
    },
      Some {
      val le = graft.functions.FixedLog2.sql("e")
      val lm = graft.functions.FixedLog2.sql("(a.se // a.n_windows)")
      s"""WITH hx AS (SELECT doc_id AS media_id, hex(encode(text)) AS h,
                             octet_length(encode(text)) AS nb
                      FROM documents
                      WHERE doc_id < 200 AND octet_length(encode(text)) > 0),
             b AS (SELECT media_id, nb, ${duckHexBytes("h")} AS bytes
                   FROM hx),
             w AS (SELECT media_id, nb, bytes,
                          CAST(unnest(generate_series(0,
                            CAST((nb - 1) // 32 AS INT))) AS INT)
                            AS window_idx
                   FROM b),
             c AS (SELECT media_id, window_idx, bytes,
                          least(64, nb - window_idx * 32) AS ns
                   FROM w),
             en AS (SELECT media_id,
                           CAST(list_sum(list_transform(
                             generate_series(window_idx * 32 + 1,
                                             window_idx * 32 + ns),
                             j -> (bytes[j] - 128) * (bytes[j] - 128)))
                             AS BIGINT) AS e
                    FROM c),
             nz AS (SELECT media_id, e, $le AS le FROM en WHERE e > 0),
             ag AS (SELECT media_id, CAST(count(*) AS BIGINT) AS n_windows,
                           CAST(sum(le) AS BIGINT) AS sle,
                           CAST(sum(e) AS BIGINT) AS se
                    FROM nz GROUP BY 1),
             z AS (SELECT media_id, CAST(count(*) AS BIGINT) AS n_zero
                   FROM en WHERE e = 0 GROUP BY 1)
         SELECT a.media_id, a.n_windows,
                coalesce(z.n_zero, 0) AS n_zero_windows,
                CAST(a.sle // a.n_windows - $lm AS BIGINT)
                  AS flatness_log2_q20,
                CAST(a.sle // a.n_windows - $lm AS DOUBLE)
                  / CAST(1048576 AS DOUBLE) AS flatness_log2
         FROM ag a LEFT JOIN z ON z.media_id = a.media_id
         ORDER BY a.media_id"""
      }),

    // Contrastive pair sampling — the training-pair generator embedding
    // models consume: per doc, up to 2 hash-ordered DIFFERENT-source
    // negatives drawn from the doc's hash bucket (bucketed candidate
    // generation: the window never orders more than one bucket, so the
    // sort is keyed and the pairing is reproducible at any scale — no
    // RNG state, no global sort). Per-source census with an id checksum
    // so the exact pairing is oracle-pinned.
    Query("sample_contrastive_pairs", (s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
        .partitionBy("bucket").orderBy("hv", "doc_id")
      var df = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          graft.olap.Sketch.spreadHash(col("doc_id")).as("hv"))
        .withColumn("bucket", col("hv") % 8)
      for (k <- 1 to 6) {
        df = df.withColumn(s"d$k", lead(col("doc_id"), k).over(W))
          .withColumn(s"s$k", lead(col("source"), k).over(W))
      }
      val negs = expr(
        """filter(array(named_struct('d', d1, 's', s1),
           named_struct('d', d2, 's', s2), named_struct('d', d3, 's', s3),
           named_struct('d', d4, 's', s4), named_struct('d', d5, 's', s5),
           named_struct('d', d6, 's', s6)),
           c -> c.d IS NOT NULL AND c.s <> source)""")
      df.withColumn("negs", negs)
        .select(col("source"),
          when(size(col("negs")) >= 1, expr("negs[0].d")).as("neg1"),
          when(size(col("negs")) >= 2, expr("negs[1].d")).as("neg2"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("neg1").isNotNull, 1L).otherwise(0L))
            .as("n_with_neg1"),
          sum(when(col("neg2").isNotNull, 1L).otherwise(0L))
            .as("n_with_neg2"),
          sum(coalesce(col("neg1"), lit(0L))
            + coalesce(col("neg2"), lit(0L))).as("neg_id_checksum"))
        .orderBy("source")
    },
      Some("""WITH f AS (SELECT doc_id, source,
                      list_reduce(list_prepend(CAST(0 AS BIGINT),
                        list_transform(string_split(CAST(doc_id AS VARCHAR),
                                                    ''),
                          ch -> CAST(ascii(ch) AS BIGINT))),
                        (a, c) -> (a * 31 + c) % 2147483647) AS h0
                    FROM documents),
              hsh AS (SELECT doc_id, source,
                             ((((h0 * 1103515245 + 12345) % 2147483647)
                               * ((h0 * 1103515245 + 12345) % 2147483647))
                              % 2147483647
                              * 69069 + 362437) % 2147483647 AS hv
                      FROM f),
              w AS (SELECT doc_id, source, hv, hv % 8 AS bucket FROM hsh),
              nxt AS (SELECT doc_id, source, bucket,
                             lead(doc_id, 1) OVER win AS d1,
                             lead(source, 1) OVER win AS s1,
                             lead(doc_id, 2) OVER win AS d2,
                             lead(source, 2) OVER win AS s2,
                             lead(doc_id, 3) OVER win AS d3,
                             lead(source, 3) OVER win AS s3,
                             lead(doc_id, 4) OVER win AS d4,
                             lead(source, 4) OVER win AS s4,
                             lead(doc_id, 5) OVER win AS d5,
                             lead(source, 5) OVER win AS s5,
                             lead(doc_id, 6) OVER win AS d6,
                             lead(source, 6) OVER win AS s6
                      FROM w WINDOW win AS (PARTITION BY bucket
                                            ORDER BY hv, doc_id)),
              cand AS (SELECT doc_id, source,
                              list_filter([
                                {'d': d1, 's': s1}, {'d': d2, 's': s2},
                                {'d': d3, 's': s3}, {'d': d4, 's': s4},
                                {'d': d5, 's': s5}, {'d': d6, 's': s6}],
                                c -> c.d IS NOT NULL AND c.s <> source)
                                AS negs
                       FROM nxt),
              pick AS (SELECT doc_id, source,
                              CASE WHEN len(negs) >= 1 THEN negs[1].d END
                                AS neg1,
                              CASE WHEN len(negs) >= 2 THEN negs[2].d END
                                AS neg2
                       FROM cand)
         SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(CASE WHEN neg1 IS NOT NULL THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_with_neg1,
                CAST(sum(CASE WHEN neg2 IS NOT NULL THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_with_neg2,
                CAST(sum(coalesce(neg1, 0) + coalesce(neg2, 0)) AS BIGINT)
                  AS neg_id_checksum
         FROM pick GROUP BY 1 ORDER BY 1""")),

    // REAL JPEG codec round-trip (javax.imageio ships a baseline JPEG
    // writer AND reader): each doc's deterministic grayscale raster is
    // entropy-coded to actual JPEG bytes and decoded back through the
    // real lossy path, emitting decoded dims + checksum + the q10 mean
    // absolute error against the known source raster. JPEG's IDCT is
    // spec'd with a tolerance — decode is implementation-defined at the
    // last bit — so this query deliberately carries NO bitwise SQL
    // oracle (spec-checked with a fidelity bound + same-codec
    // determinism pin, the S6 contract); within one JDK it is stable,
    // so the driver's rows/schema check holds. Batched mapPartitions,
    // zero shuffle — the image stub is now retired for JPEG too.
    Query("mm_jpeg_decode", (s, dir) => {
      import s.implicits._
      Tables.documents(s, dir)
        .select(col("doc_id"), col("n_chars"))
        .as[(Long, Long)]
        .mapPartitions { it =>
          it.map { case (id, nChars) =>
            val w = (8 + id % 9).toInt
            val h = (8 + nChars % 9).toInt
            def pixel(x: Int, y: Int): Int =
              ((id * 31 + x * 7 + y * 13) % 256).toInt
            val jpg = graft.multimodal.Media.JpegCodec
              .encodeGray(w, h, pixel)
            val (dw, dh, checksum, mae) = graft.multimodal.Media.JpegCodec
              .decodeFidelity(jpg, pixel)
            (id, jpg.length.toLong, dw.toLong, dh.toLong, checksum, mae)
          }
        }
        .toDF("media_id", "n_bytes", "width", "height", "checksum",
          "mae_q10")
        .orderBy("media_id")
    },
      None),

    // Video path on REAL per-frame codec work: each doc becomes a small
    // MJPEG-style container (custom GVID wrapper — the JDK ships no
    // demuxer — holding genuine JPEG frames), then the pipeline demuxes,
    // REAL-decodes every frame, computes per-frame mean luminance on the
    // decoded pixels, and detects the scene cut as the biggest
    // luma jump. One doc's frames deliberately jump at a known index, so
    // detection accuracy is measured in-result (cut_at vs expected_cut).
    // Lossy frames ⇒ oracle-exempt like mm_jpeg_decode; same JDK ⇒
    // stable. Batched mapPartitions, zero shuffle.
    Query("mm_mjpeg_scene_cut", (s, dir) => {
      import s.implicits._
      Tables.documents(s, dir)
        .select(col("doc_id"), col("n_chars"))
        .as[(Long, Long)]
        // per-row video pack + N real JPEG decodes — the most cpu-dense
        // mm query; spread off the 1-task fixture scan
        .repartition(s.sparkContext.defaultParallelism)
        .mapPartitions { it =>
          it.map { case (id, nChars) =>
            val M = graft.multimodal.Media.JpegCodec
            val V = graft.multimodal.Media.VideoContainer
            val w = (8 + id % 9).toInt
            val h = (8 + nChars % 9).toInt
            val nFrames = (3 + id % 3).toInt
            val expectedCut = (1 + id % (nFrames - 1)).toInt
            val frames = (0 until nFrames).map { f =>
              // scenes: a dim ramp before the cut, a bright one after —
              // the lossy decode preserves a >64-level mean luma jump
              val base = if (f < expectedCut) 32 else 160
              M.encodeGray(w, h,
                (x, y) => base + ((id * 7 + x * 3 + y * 5) % 64).toInt)
            }
            val video = V.pack(frames)
            val (declared, unpacked) = V.unpack(video)
            // raw-sum mean luma (decodeFidelity's 3rd slot is a checksum
            // mod 2³¹−1 — fine at 16×16 but aliasing on larger rasters)
            val lumas = unpacked.map(jpg => M.meanLumaQ10(jpg))
            val jumps = lumas.sliding(2).map {
              case Seq(a, b) => math.abs(b - a) }.toSeq
            val cutAt = if (jumps.isEmpty) -1L
              else jumps.zipWithIndex.maxBy { case (j, i) => (j, -i) }
                ._2.toLong + 1L
            (id, video.length.toLong, declared.toLong,
              unpacked.length.toLong, lumas.head, lumas.last,
              expectedCut.toLong, cutAt,
              if (cutAt == expectedCut.toLong) 1L else 0L)
          }
        }
        .toDF("media_id", "n_bytes", "n_frames_declared", "n_frames",
          "luma_first_q10", "luma_last_q10", "expected_cut", "cut_at",
          "cut_correct")
        .orderBy("media_id")
    },
      None),

    // Training-shard manifest: the write-side bookkeeping a pretraining
    // exporter emits next to its data files — every doc deterministically
    // assigned to one of 16 output shards by the portable spread hash
    // (engine- and cluster-size-independent, so a re-export lands every
    // doc in the same shard), with per-shard doc/char/token volumes, an
    // order-free membership checksum, and each shard's share of the
    // corpus for skew monitoring. One partial-aggregable groupBy plus a
    // 1-row total combine; at 100 TB only the shard count changes.
    Query("pack_shard_manifest", (s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("n_chars"),
          size(graft.text.TextAnalysis.tokens("text")).cast("long")
            .as("n_tokens"),
          (graft.olap.Sketch.spreadHash(col("doc_id")) % 16).as("shard"))
      val m = docs.groupBy("shard")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").cast("long").as("n_chars"),
          sum("n_tokens").cast("long").as("n_tokens"),
          min("doc_id").as("min_doc_id"),
          max("doc_id").as("max_doc_id"),
          sum((col("doc_id") * 131071L) % 2147483647L).cast("long")
            .as("member_checksum"))
      val tot = m.agg(sum("n_docs").cast("long").as("n_total"))
      m.crossJoin(broadcast(tot))
        .select(col("shard"), col("n_docs"), col("n_chars"),
          col("n_tokens"), col("min_doc_id"), col("max_doc_id"),
          col("member_checksum"),
          (col("n_docs").cast("double") / col("n_total").cast("double"))
            .as("doc_share"))
        .orderBy("shard")
    },
      Some("""WITH f AS (SELECT doc_id, n_chars,
                      CAST(len(regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[a-z0-9]+')) AS BIGINT) AS n_tokens,
                      list_reduce(list_prepend(CAST(0 AS BIGINT),
                        list_transform(string_split(CAST(doc_id AS VARCHAR), ''),
                          ch -> CAST(ascii(ch) AS BIGINT))),
                        (a, c) -> (a * 31 + c) % 2147483647) AS h0
                    FROM documents),
              m1 AS (SELECT *, (h0 * 1103515245 + 12345) % 2147483647 AS h1
                     FROM f),
              m2 AS (SELECT *, (h1 * h1) % 2147483647 AS h2 FROM m1),
              sh AS (SELECT doc_id, n_chars, n_tokens,
                       ((h2 * 69069 + 362437) % 2147483647) % 16 AS shard
                     FROM m2),
              m AS (SELECT shard, count(*) AS n_docs,
                      CAST(sum(n_chars) AS BIGINT) AS n_chars,
                      CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
                      min(doc_id) AS min_doc_id,
                      max(doc_id) AS max_doc_id,
                      CAST(sum((doc_id * 131071) % 2147483647) AS BIGINT)
                        AS member_checksum
                    FROM sh GROUP BY 1),
              tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_total FROM m)
         SELECT shard, n_docs, n_chars, n_tokens, min_doc_id, max_doc_id,
                member_checksum,
                CAST(n_docs AS DOUBLE) / CAST(n_total AS DOUBLE) AS doc_share
         FROM m CROSS JOIN tot ORDER BY shard""")),
  )
}
