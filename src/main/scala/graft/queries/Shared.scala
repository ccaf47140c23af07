package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.CacheRegistry.QueryCached
import graft.dedup.{MinHash, SimHash}
import graft.olap.Exact
import graft.text.TextAnalysis

/** Helper frames and DuckDB SQL fragments shared across the
  * graft.queries.* family modules — formerly SparkEntry privates,
  * moved verbatim in the round-7 mechanical split.
  */
object Shared {

  /** Pinned full-corpus near-dup PAIRS under the standard banding
    * (SimHash banded, Hamming ≤ 1, 2 bands) — the candidate-verify step
    * every simhash dedup consumer starts from. At production scale this
    * is the materialized pair index maintained at ingest; here it is
    * built once per process+SF so `dedup_simhash_banded`, the CC label
    * chain and the incremental-CC delta all read ONE banded self-join
    * instead of each re-running it (guide §2.4). Columns
    * (doc_a, doc_b, hamming), doc_a < doc_b, rows distinct.
    */
  def nearDupPairs(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    CacheRegistry.pinned(s"neardup_pairs:$dir") {
      SimHash.bandedNearDupPairs(docs, "doc_id", "text",
        maxHamming = 1, bands = 2)
    }
  }

  /** Pinned canonical near-dup labels over the standard corpus banding:
    * four queries — canonical labels, cluster stats, dedup-aware split,
    * incremental CC's star-compression arm — derive from this one
    * clustering, and connected components is the most expensive dedup
    * step, so it runs once per process+SF (the materialized-dedup-table
    * posture a production corpus pipeline takes). Built off the pinned
    * [[nearDupPairs]] frame (resolved BEFORE entering pinned —
    * computeIfAbsent must not recurse into the same map).
    */
  def nearDupLabels(s: SparkSession, dir: String): DataFrame = {
    val pairs = nearDupPairs(s, dir)
    CacheRegistry.pinned(s"neardup_labels:$dir") {
      graft.dedup.Components.canonicalLabels(pairs, "doc_a", "doc_b")
    }
  }

  /** Pinned per-user ordered event-sequence frame with the next four
    * event types attached (leads 1–4 under the strict (ts, event_id)
    * per-user order) — the ONE fact-scale window pass the whole
    * transition-mining family derives from (VERDICT r10 item 4, guide
    * §2.4). Eight queries each re-ran this exchange+sort+lead over
    * events; at production scale this is the materialized sessionized
    * event-sequence table maintained next to the fact table. Only the
    * type columns survive the projection — every consumer aggregates
    * over types, so user_id/ts/event_id do not ride the cache.
    */
  def eventSeqLeads(s: SparkSession, dir: String): DataFrame =
    CacheRegistry.pinned(s"event_seq_leads:$dir") {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts", "event_id")
      Tables.events(s, dir)
        .select(col("event_type").as("et"),
          lead(col("event_type"), 1).over(w).as("l1"),
          lead(col("event_type"), 2).over(w).as("l2"),
          lead(col("event_type"), 3).over(w).as("l3"),
          lead(col("event_type"), 4).over(w).as("l4"))
    }

  /** Pinned first-order transition counts (a, b, n) over consecutive
    * per-user event types — the type-universe-bounded (≤ k² rows)
    * derived table six transition queries (matrix, entropy, lift,
    * reciprocity, markov, 2-step) each rebuilt with their own window
    * pass. Marginals, totals and filters all derive from it exactly
    * (integer sums of the same counts). Built off the pinned
    * [[eventSeqLeads]] frame (resolved before entering pinned).
    */
  def eventBigramCounts(s: SparkSession, dir: String): DataFrame = {
    val seq = eventSeqLeads(s, dir)
    CacheRegistry.pinned(s"event_bigrams:$dir") {
      seq.filter(col("l1").isNotNull)
        .groupBy(col("et").as("a"), col("l1").as("b"))
        .agg(count(lit(1)).as("n"))
    }
  }

  /** Pinned POSITIONAL tokenized corpus `(doc_id, lang, pos, w)`
    * — the regex-tokenize + explode pass, built once per process+SF with
    * the docs spread across the default parallelism BEFORE the explode
    * (the single-row-group fixture file otherwise scans as ONE task and
    * serializes the cpu-dense tokenize).
    *
    * DELIBERATELY NARROW consumer set (r11 finding): converting all ~19
    * token-stream queries onto this frame was measured against a
    * matched control and REJECTED — wall −15% on local[32] (cached
    * scans parallelize where the fixture tokenize serialized) but
    * process-CPU ×2 (100→204 cpu-s on the family: decompressing +
    * row-converting 750 k cached STRING rows 2–3× per query costs more
    * than the fused regex+explode+aggregate pipeline it replaced).
    * CPU is the bill at 100 TB, so only the four queries whose own
    * shape already re-tokenized or re-read a per-call token cache —
    * hapax_ratio, wordpiece_encode, keyphrase_rake, feature_hashing —
    * read this frame (their cpu is flat-to-better); every fused
    * single-pass consumer keeps its pipeline.
    */
  def corpusTokens(s: SparkSession, dir: String): DataFrame =
    CacheRegistry.pinned(s"corpus_tokens:$dir") {
      Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("text"))
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"), col("lang"),
          posexplode(TextAnalysis.tokens("text")).as(Seq("pos", "w")))
    }

  /** THE trailing-7-day volume z gate shared by `dq_volume_anomaly`
    * (batch daily counts) and `stream_volume_anomaly` (the watermarked
    * tumbling counts) — ONE definition of the window, the lattice
    * z = (7n−Σn)/√(7Σn²−(Σn)²) and the |z|>3 flag, so the
    * streamed == batch bitwise pin is structural rather than maintained.
    * Input schema: (event_type, dt, n).
    */
  def trailing7VolumeGate(daily: DataFrame): DataFrame = {
    val tw = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy("dt").rowsBetween(-7, -1)
    val z = (col("n") * 7L - col("s1")).cast("double") /
      sqrt(col("var_num").cast("double"))
    daily
      .withColumn("wn", count(lit(1)).over(tw))
      .withColumn("s1", sum("n").over(tw))
      .withColumn("s2", sum(col("n") * col("n")).over(tw))
      .filter(col("wn") === 7)
      .withColumn("var_num", col("s2") * 7L - col("s1") * col("s1"))
      .select(col("event_type"), col("dt"), col("n"),
        col("s1").as("trail_sum"), col("var_num"),
        when(col("var_num") > 0, z).as("z"),
        when(col("var_num") > 0, abs(z) > lit(3.0)).as("is_anomaly"))
      .orderBy("event_type", "dt")
  }

  /** Shared Neyman-allocation machinery for `sample_neyman_allocation`
    * and `sample_expansion_estimate` — ONE definition of the weight
    * surrogate, budget split and spread-hash selection so the sampler and
    * its estimator can never silently disagree. Returns
    * (alloc: event_type, n_class, sc, wt, n_alloc;
    *  selected rows: event_type, event_id, c + alloc columns).
    * The DECIMAL variance numerator enters BIGINT via Exact.checkedLong —
    * a loud failure on overflow instead of Spark's silent NULL cast (the
    * oracle's CAST would raise; both engines must agree on failing).
    */
  def neymanSample(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val w = org.apache.spark.sql.expressions.Window
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val ev = Tables.events(s, dir)
      .select(col("event_type"), col("event_id"),
              Exact.cents(col("value")).as("c"))
      .tracked // moments + selection both scan it
    val g = ev.groupBy("event_type")
      .agg(count(lit(1)).as("n_class"), sum("c").as("sc"),
           sum(dec(col("c")) * dec(col("c"))).as("ss"))
      .withColumn("var_num", Exact.checkedLong(
        dec(col("n_class")) * col("ss") - dec(col("sc")) * dec(col("sc"))))
      .withColumn("wt", floor(sqrt(
        (col("n_class") * expr("var_num div (n_class - 1)"))
          .cast("double"))).cast("long"))
    val tot = g.agg(sum("wt").as("total_wt"))
    val alloc = g.crossJoin(broadcast(tot))
      .withColumn("n_alloc", expr("(1000 * wt) div total_wt"))
      .select("event_type", "n_class", "sc", "wt", "n_alloc")
    val selected = ev.join(broadcast(alloc), "event_type")
      .withColumn("rk", row_number().over(
        w.partitionBy("event_type")
          .orderBy(graft.olap.Sketch.spreadHash(col("event_id")),
                   col("event_id"))))
      .filter(col("rk") <= col("n_alloc"))
    (alloc, selected)
  }

  /** Fixed-fold one-way F chain shared by `agg_anova_f` (on raw cents)
    * and `agg_levene_bf` (on median spreads) — ONE definition of the
    * bitwise-portability-critical fold: per-group moments from a
    * (event_type, v) frame, k between-terms s_g²/n_g folded in FIXED
    * event_type order (sort_array→aggregate ≡ list_sort→list_reduce),
    * F = (ssb/(k−1))/(ssw/(N−k)). Returns one row
    * (k, n_total, ssb, ssw, stat).
    */
  def fixedFoldF(rows: DataFrame): DataFrame = {
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    rows.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("v").as("sv"),
           sum(dec(col("v")) * dec(col("v"))).as("ss"))
      .withColumn("t_g", (dec(col("sv")) * dec(col("sv"))).cast("double")
        / col("n").cast("double"))
      .agg(count(lit(1)).as("k"), sum("n").as("n_total"),
           sum(dec(col("sv"))).as("s_total"), sum(col("ss")).as("ss_total"),
           aggregate(sort_array(collect_list(
               struct(col("event_type"), col("t_g")))),
             lit(0.0), (a, x) => a + x.getField("t_g")).as("t_between"))
      .withColumn("ssb", col("t_between")
        - (col("s_total") * col("s_total")).cast("double")
          / col("n_total").cast("double"))
      .withColumn("ssw", col("ss_total").cast("double") - col("t_between"))
      .withColumn("stat",
        (col("ssb") / (col("k") - 1).cast("double"))
          / (col("ssw") / (col("n_total") - col("k")).cast("double")))
  }

  /** DuckDB CTE chain mirroring [[fixedFoldF]]: expects a CTE named
    * `$src` with columns (event_type, $valCol); terminates in `f`
    * (k, n_total, ssb, ssw) — the caller's SELECT forms the statistic
    * with the identical division chain.
    */
  def duckFixedFoldF(src: String, valCol: String): String =
    s"""fg AS (SELECT event_type, count(*) AS n,
                      CAST(sum($valCol) AS BIGINT) AS sv,
                      CAST(sum(CAST($valCol AS HUGEINT) * $valCol)
                        AS HUGEINT) AS ss
               FROM $src GROUP BY 1),
        ft AS (SELECT event_type, n, sv, ss,
                      CAST(CAST(CAST(sv AS HUGEINT) * sv AS BIGINT) AS DOUBLE)
                        / CAST(n AS DOUBLE) AS t_g
               FROM fg),
        fa AS (SELECT count(*) AS k, CAST(sum(n) AS BIGINT) AS n_total,
                      CAST(sum(sv) AS HUGEINT) AS s_total,
                      CAST(sum(ss) AS HUGEINT) AS ss_total,
                      list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                        list_transform(list_sort(list(struct_pack(
                          event_type := event_type, t_g := t_g))),
                          x -> x.t_g)),
                        (a, b) -> a + b) AS t_between
               FROM ft),
        f AS (SELECT k, n_total,
                     t_between - CAST(s_total * s_total AS DOUBLE)
                       / CAST(n_total AS DOUBLE) AS ssb,
                     CAST(ss_total AS DOUBLE) - t_between AS ssw
              FROM fa)"""

  /** Shared perceptual-hash frame for `mm_image_phash` and
    * `dedup_phash_hamming` — ONE definition of the raster synthesis and
    * the codec round-trip so the hash the dedup indexes is exactly the
    * hash the decode query reports. Batched mapPartitions (codec init
    * amortizes per partition), zero shuffle. Columns:
    * (media_id, width, height, lo, hi, n_set).
    */
  def phashFrame(s: SparkSession, dir: String): DataFrame = {
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
          val (dw, dh, lo, hi, nSet) =
            graft.multimodal.Media.PngCodec.decodeAvgHash(png)
          (id, dw.toLong, dh.toLong, lo, hi, nSet)
        }
      }
      .toDF("media_id", "width", "height", "lo", "hi", "n_set")
  }

  /** DuckDB CTE chain mirroring [[phashFrame]] — the arithmetic raster
    * recomputation both phash oracles compose (lossless grayscale PNG ⇒
    * decoded == synthesized). Terminates in `hs` (media_id, width,
    * height, lo, hi, n_set).
    */
  val duckPhashCtes: String =
    """px AS (SELECT d.doc_id, 1 + d.doc_id % 8 AS w,
                     1 + d.n_chars % 8 AS h, xx.x, yy.y,
                     (d.doc_id * 31 + xx.x * 7 + yy.y * 13) % 256 AS p
              FROM documents d
              CROSS JOIN (SELECT unnest(range(8)) AS x) xx
              CROSS JOIN (SELECT unnest(range(8)) AS y) yy
              WHERE xx.x < 1 + d.doc_id % 8
                AND yy.y < 1 + d.n_chars % 8),
       m AS (SELECT doc_id, CAST(sum(p) AS BIGINT) AS sump,
                    count(*) AS np
             FROM px GROUP BY 1),
       b AS (SELECT px.doc_id, px.w, px.h,
                    CASE WHEN px.p > m.sump // m.np THEN 1 ELSE 0 END
                      AS bit,
                    px.y * px.w + px.x AS i
             FROM px JOIN m ON m.doc_id = px.doc_id),
       hs AS (SELECT doc_id AS media_id,
                     CAST(any_value(w) AS BIGINT) AS width,
                     CAST(any_value(h) AS BIGINT) AS height,
                     CAST(sum(CASE WHEN i < 32
                       THEN bit * (CAST(1 AS BIGINT) << i)
                       ELSE 0 END) AS BIGINT) AS lo,
                     CAST(sum(CASE WHEN i >= 32
                       THEN bit * (CAST(1 AS BIGINT) << (i - 32))
                       ELSE 0 END) AS BIGINT) AS hi,
                     CAST(sum(bit) AS BIGINT) AS n_set
              FROM b GROUP BY 1)"""

  /** DuckDB CTE chain mirroring [[MinHash.bucketFrame]] at k=16, r=4 —
    * ONE oracle definition of signatures and banding, terminating in
    * `bk` (doc_id, sig, key, band). Composed by [[duckMinhashCandCtes]]
    * and the capped/observability oracles.
    */
  lazy val duckMinhashBkCtes: String = {
    val k = 16; val r = 4
    val as = (0 until k).map(MinHash.coeffA).mkString("[", ", ", "]")
    val bs = (0 until k).map(MinHash.coeffB).mkString("[", ", ", "]")
    s"""h AS (SELECT doc_id, $duckTokHashes AS th FROM documents),
        sh AS (SELECT doc_id,
                 list_transform(generate_series(1, len(th) - 2), i ->
                   ((th[i] * 31 + th[i+1]) * 31 + th[i+2]) % 2147483647)
                   AS s
               FROM h WHERE len(th) >= 3),
        sg AS (SELECT doc_id,
                 list_transform(generate_series(1, $k), i ->
                   list_min(list_transform(s, x ->
                     ($as[i] * x + $bs[i]) % 2147483647))) AS sig
               FROM sh),
        bd AS (SELECT doc_id, sig,
                 list_transform(generate_series(0, ${k / r - 1}), b ->
                   list_reduce(list_prepend(CAST(0 AS BIGINT),
                       list_transform(generate_series(1, $r), j ->
                         sig[b * $r + j])),
                     (h, x) -> (h * 31 + x) % 2147483647)) AS bands
               FROM sg),
        bk AS (SELECT doc_id, sig,
                      unnest(bands) AS key,
                      unnest(generate_series(1, len(bands))) AS band
               FROM bd)"""
  }

  /** DuckDB CTE chain mirroring [[MinHash.candidatePairs]] at k=16, r=4 —
    * ONE oracle definition of signatures, banding and the candidate join,
    * composed by `dedup_minhash_lsh` and `dedup_bbit_minhash`.
    * Terminates in `cand` (doc_a, doc_b, sig_a, sig_b).
    */
  lazy val duckMinhashCandCtes: String =
    s"""$duckMinhashBkCtes,
        cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
                        x.sig AS sig_a, y.sig AS sig_b
                 FROM bk x JOIN bk y
                   ON x.band = y.band AND x.key = y.key
                      AND x.doc_id < y.doc_id)"""

  /** [[duckMinhashCandCtes]] with the bucket-size cap mirrored —
    * terminates in `cand` over only the ≤`maxBucket`-member buckets,
    * the oracle twin of [[MinHash.candidatePairsCapped]].
    */
  def duckMinhashCandCappedCtes(maxBucket: Int): String =
    s"""$duckMinhashBkCtes,
        bsz AS (SELECT band, key, count(*) AS bucket_sz
                FROM bk GROUP BY 1, 2),
        bkc AS (SELECT bk.doc_id, bk.sig, bk.key, bk.band
                FROM bk JOIN bsz
                  ON bk.band = bsz.band AND bk.key = bsz.key
                WHERE bsz.bucket_sz <= $maxBucket),
        cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
                        x.sig AS sig_a, y.sig AS sig_b
                 FROM bkc x JOIN bkc y
                   ON x.band = y.band AND x.key = y.key
                      AND x.doc_id < y.doc_id)"""

  /** DuckDB CTE chain mirroring [[neymanSample]] — ONE oracle definition
    * of the weight surrogate, budget split and spread-hash rank, composed
    * by both sampling oracles. Terminates in `alloc` (event_type,
    * n_class, sc, wt, n_alloc) and `rk` (selection rank over the event
    * rows, carrying c for estimators).
    */
  val duckNeymanCtes: String =
    """ev AS (SELECT event_type, event_id,
                     CAST(round(value * 100, 0) AS BIGINT) AS c
              FROM events),
       g AS (SELECT event_type, count(*) AS n_class,
                    CAST(sum(c) AS BIGINT) AS sc,
                    CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT) AS ss
             FROM ev GROUP BY 1),
       v AS (SELECT event_type, n_class, sc,
                    CAST(CAST(n_class AS HUGEINT) * ss
                         - CAST(sc AS HUGEINT) * sc AS BIGINT) AS var_num
             FROM g),
       wt AS (SELECT event_type, n_class, sc,
                     CAST(floor(sqrt(CAST(n_class
                       * (var_num // (n_class - 1)) AS DOUBLE)))
                       AS BIGINT) AS wt
              FROM v),
       tot AS (SELECT CAST(sum(wt) AS BIGINT) AS total_wt FROM wt),
       alloc AS (SELECT event_type, n_class, sc, wt,
                        (1000 * wt) // total_wt AS n_alloc
                 FROM wt CROSS JOIN tot),
       f AS (SELECT event_type, event_id, c,
               list_reduce(list_prepend(CAST(0 AS BIGINT),
                 list_transform(
                   string_split(CAST(event_id AS VARCHAR), ''),
                   ch -> CAST(ascii(ch) AS BIGINT))),
                 (a, c2) -> (a * 31 + c2) % 2147483647) AS h0
             FROM ev),
       m1 AS (SELECT event_type, event_id, c,
                (h0 * 1103515245 + 12345) % 2147483647 AS h1 FROM f),
       m2 AS (SELECT event_type, event_id, c, (h1 * h1) % 2147483647
                AS h2 FROM m1),
       hh AS (SELECT event_type, event_id, c,
                (h2 * 69069 + 362437) % 2147483647 AS hv FROM m2),
       rk AS (SELECT event_type, event_id, c,
                     row_number() OVER (PARTITION BY event_type
                       ORDER BY hv, event_id) AS rk
              FROM hh)"""


  /** DuckDB fragment: decode a hex-string column `h` (as produced by
    * `hex(encode(text))`) into its list of byte values — the portable way
    * to enumerate UTF-8 bytes in DuckDB SQL, byte-exact vs Spark's
    * `cast(text as binary)` payloads even on non-ASCII text.
    */
  def duckHexBytes(h: String): String =
    s"list_transform(generate_series(1, CAST(length($h) // 2 AS INT)), i -> " +
      s"CAST((strpos('0123456789ABCDEF', substr($h, 2 * i - 1, 1)) - 1) * 16 " +
      s"+ (strpos('0123456789ABCDEF', substr($h, 2 * i, 1)) - 1) AS BIGINT))"

  /** DuckDB CTE chain replaying graft.sources.SeriesGen exactly: spread
    * hash of (symbol fold * 31 + epoch day), five affine→square→affine
    * mixes in exact BIGINT steps, prices as cents / 100 with one
    * int→double conversion + one IEEE division. Terminal CTE is `bars`
    * (symbol, trade_date, open, high, low, close, volume).
    */
  def duckSeriesBars(symVals: String, start: String, end: String): String =
    s"""syms AS (SELECT * FROM (VALUES $symVals) s(symbol)),
              days AS (SELECT CAST(d AS DATE) AS trade_date
                       FROM generate_series(DATE '$start', DATE '$end',
                                            INTERVAL 1 DAY) t(d)
                       WHERE isodow(CAST(d AS DATE)) <= 5),
              b0 AS (SELECT symbol, trade_date,
                       (list_reduce(list_prepend(CAST(0 AS BIGINT),
                          list_transform(string_split(symbol, ''),
                            ch -> CAST(ascii(ch) AS BIGINT))),
                          (h, c) -> (h * 31 + c) % 2147483647) * 31
                        + (trade_date - DATE '1970-01-01')) % 2147483647 AS x
                     FROM syms, days),
              s1 AS (SELECT *, (x * 1103515245 + 12345) % 2147483647 AS t0 FROM b0),
              s2 AS (SELECT symbol, trade_date,
                       ((t0 * t0) % 2147483647 * 69069 + 362437) % 2147483647 AS seed
                     FROM s1),
              s3 AS (SELECT *,
                       (((seed + 1) % 2147483647) * 1103515245 + 12345) % 2147483647 AS t1,
                       (((seed + 2) % 2147483647) * 1103515245 + 12345) % 2147483647 AS t2,
                       (((seed + 3) % 2147483647) * 1103515245 + 12345) % 2147483647 AS t3,
                       (((seed + 4) % 2147483647) * 1103515245 + 12345) % 2147483647 AS t4
                     FROM s2),
              s4 AS (SELECT symbol, trade_date, seed,
                       ((t1 * t1) % 2147483647 * 69069 + 362437) % 2147483647 AS m1,
                       ((t2 * t2) % 2147483647 * 69069 + 362437) % 2147483647 AS m2,
                       ((t3 * t3) % 2147483647 * 69069 + 362437) % 2147483647 AS m3,
                       ((t4 * t4) % 2147483647 * 69069 + 362437) % 2147483647 AS m4
                     FROM s3),
              s5 AS (SELECT symbol, trade_date,
                       10000 + seed % 90000 AS open_c,
                       10000 + m1 % 90000 AS close_c,
                       m2 % 500 AS hi_m, m3 % 500 AS lo_m,
                       1000000 + m4 % 9000000 AS vol
                     FROM s4),
              s6 AS (SELECT *, greatest(open_c, close_c) + hi_m AS high_c,
                       least(open_c, close_c) - lo_m AS low_c
                     FROM s5),
              bars AS (SELECT symbol, trade_date,
                       CAST(open_c AS DOUBLE) / CAST(100 AS DOUBLE) AS open,
                       CAST(high_c AS DOUBLE) / CAST(100 AS DOUBLE) AS high,
                       CAST(low_c AS DOUBLE) / CAST(100 AS DOUBLE) AS low,
                       CAST(close_c AS DOUBLE) / CAST(100 AS DOUBLE) AS close,
                       CAST(vol AS BIGINT) AS volume
                     FROM s6)"""

  /** DuckDB fragment: per-token portable polynomial hashes of `text`. */
  val duckTokHashes: String =
    "list_transform(regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[a-z0-9]+'), t -> " +
      "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      "list_transform(string_split(t, ''), ch -> CAST(ascii(ch) AS BIGINT))), " +
      "(h, c) -> (h * 31 + c) % 2147483647))"

  /** DuckDB fragment: 32-bit simhash from a token-hash list column `th`.
    * The outer CAST pins the arrow type to int64: DuckDB types `list_sum`
    * as HUGEINT (arrow decimal128), which hash-mismatches Spark's BIGINT
    * even when every value is identical.
    */
  val duckSimhash: String =
    "CAST(list_sum(list_transform(generate_series(0, 31), b -> " +
      "CASE WHEN list_sum(list_transform(th, x -> " +
      "CASE WHEN (x >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0 " +
      "THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS BIGINT)"

  /** DuckDB fragment: sequential-fold dot product in double precision —
    * the same accumulation order as graft.functions.VecOps.dotProduct, so
    * the doubles agree bitwise.
    */
  /** Shared oracle for banded SimHash near-dup pairs: identical semantics
    * for the batch self-join (dedup_simhash_banded) and the streaming
    * stateful detector (stream_lsh_neardup), whose emitted pair set is
    * batch-boundary-invariant by construction.
    */
  lazy val bandedPairsOracle: String =
    s"""WITH h AS (SELECT doc_id, $duckTokHashes AS th FROM documents),
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
                        AND x.doc_id < y.doc_id)
        SELECT doc_a, doc_b,
               CAST(bit_count(xor(sh_a, sh_b)) AS INT) AS hamming
        FROM cand
        WHERE bit_count(xor(sh_a, sh_b)) <= 1
        ORDER BY doc_a, doc_b"""

  /** Shared oracle for the admission gate: identical semantics for
    * the batch query and its per-micro-batch streamed form.
    */
  lazy val qualityGateOracle: String = {
      val stops = TextAnalysis.stopwords.map(s => s"'$s'").mkString("[", ", ", "]")
      def markers(lang: String) = TextAnalysis.langMarkers.toMap.apply(lang)
        .map(s => s"'$s'").mkString("[", ", ", "]")
      val scoreCols = TextAnalysis.langMarkers.map { case (lang, _) =>
        s"CAST(len(list_filter(toks, t -> list_contains(${markers(lang)}, t))) AS BIGINT) AS score_$lang"
      }.mkString(",\n                 ")
      val langs = TextAnalysis.langMarkers.map(_._1)
      val cascade = langs.map { lang =>
        val beats = langs.filter(_ != lang)
          .map(o => s"score_$lang >= score_$o").mkString(" AND ")
        s"WHEN score_$lang > 0 AND $beats THEN '$lang'"
      }.mkString("\n                 ")
      s"""WITH t AS (SELECT doc_id, lang, n_chars, text,
                regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[a-z0-9]+') AS toks
              FROM documents),
              q AS (SELECT doc_id, lang, n_chars,
                           CAST(len(toks) AS BIGINT) AS n_tokens,
                           CAST(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g'))
                             AS DOUBLE) / CAST(length(text) AS DOUBLE)
                             AS punct_ratio,
                           CASE WHEN len(toks) > 0 THEN
                             CAST(len(list_filter(toks,
                               t -> list_contains($stops, t))) AS DOUBLE)
                               / CAST(len(toks) AS DOUBLE)
                           ELSE 0.0 END AS stopword_ratio,
                           $scoreCols
                    FROM t),
              g AS (SELECT doc_id, lang, n_chars,
                           least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.4
                             + (1.0 - punct_ratio) * 0.3
                             + stopword_ratio * 0.3 AS quality_score,
                           CASE $cascade
                           ELSE 'und' END AS predicted_lang
                    FROM q),
              rr AS (SELECT lang, n_chars,
                            CASE WHEN n_chars < 50 THEN 'too_short'
                                 WHEN quality_score < 0.5 THEN 'low_quality'
                                 WHEN predicted_lang <> lang
                                   THEN 'lang_mismatch'
                                 ELSE 'accept' END AS reason
                     FROM g)
         SELECT lang, reason, count(*) AS n_docs,
                CAST(sum(n_chars) AS BIGINT) AS sum_chars
         FROM rr GROUP BY 1, 2 ORDER BY 1, 2"""
    }

  /** NDCG@10 discount weights on the q20 lattice: ⌊2²⁰ / log2(i+1)⌋ for
    * rank i = 1..10 — computed ONCE here and inlined as integer literals
    * into both engines, so libm-vs-JVM log differences can never split
    * them; every DCG is then an exact, order-free integer sum.
    */
  val ndcgWeightsQ20: Array[Long] = Array.tabulate(10)(i =>
    math.floor(1048576.0 / (math.log(i + 2) / math.log(2))).toLong)

  /** Ideal DCG@10 (q20) for graded relevance 10, 9, …, 1 at ranks 1..10 —
    * the exact cosine top-10 always exists, so IDCG is this constant.
    */
  val ndcgIdcgQ20: Long =
    (1 to 10).map(i => (11L - i) * ndcgWeightsQ20(i - 1)).sum

  def duckDot(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
      s"list_transform(generate_series(1, len($a)), i -> " +
      s"CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))), (x, y) -> x + y)"

  /** 16-element subspace dot at 0-based element offset `off` into two
    * full vectors — same ascending fold as duckDot / VecOps.dot.
    */
  def duckDotSub(a: String, b: String, off: String): String =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
      s"list_transform(generate_series(1, 16), i -> " +
      s"CAST($a[$off + i] AS DOUBLE) * CAST($b[$off + i] AS DOUBLE))), " +
      s"(x, y) -> x + y)"
}
