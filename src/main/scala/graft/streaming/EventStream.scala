package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured Streaming over the events table (north-star extension — the
  * reference is strictly batch-incremental, SURVEY.md §2.9; this is the
  * streaming generalization of its watermark model).
  *
  * The same tumbling-window aggregation works in both modes because the
  * transformation is declared once against an unbounded DataFrame: at scale
  * the source is Kafka/object-store file arrivals; here the driver fixture
  * parquet replayed through readStream.
  */
object EventStream {

  /** File-stream schema, read from the fixture's parquet footer: file
    * streams require an explicit schema, and the fixture generator has
    * shipped `ts` both as TIMESTAMP(NANOS) (→ nanosecond long under the
    * legacy flag) and as naive TIMESTAMP(MICROS) (→ TIMESTAMP_NTZ) across
    * rounds, so hardcoding either flavor breaks on the other.
    * [[graft.Tables.normalizeTs]] then converts whatever arrived to the
    * session-UTC TimestampType every downstream transform was written
    * against (same adapter as batch).
    */
  def rawSchema(spark: SparkSession, dir: String): StructType =
    graft.Tables.load(spark, dir, "events").schema // memoized, glob-safe

  /** Event files per micro-batch in [[readEvents]]. */
  private val FilesPerTrigger = 4

  /** Unbounded events source from a fixture dir. The glob admits both
    * the driver's single-file layout (`events.parquet`) and the scaled
    * multi-part layout (`events-0000.parquet`…) ScaleGen emits so the
    * scaling study can replay k files as bounded micro-batches instead
    * of one 10 M-row batch (VERDICT r8 item 5 — worst-case state
    * pressure was a fixture artifact, not an engine property). Each
    * trigger takes at most [[FilesPerTrigger]] files, so the watermark
    * advances between batches and state evicts mid-run; a single-file
    * fixture replays as one batch.
    */
  def readEvents(spark: SparkSession, dir: String): DataFrame =
    // file streams need a directory source; glob-filter to the events file(s)
    graft.Tables.normalizeTs(spark.readStream.schema(rawSchema(spark, dir))
      .option("pathGlobFilter", "events*.parquet")
      .option("maxFilesPerTrigger", FilesPerTrigger)
      .parquet(dir), "ts")

  /** Tumbling daily windows per event_type: count + exact decimal sum.
    * The watermark bounds state: windows older than (max event time - delay)
    * are finalized and their state dropped — the streaming analog of the
    * reference's high-watermark incremental model.
    */
  def tumblingDaily(events: DataFrame, watermarkDelay: String): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n"),
           sum(col("value").cast(DecimalType(18, 2))).cast("double")
             .as("sum_value"))
      .select(to_date(col("window.start")).as("date"), col("event_type"),
              col("n"), col("sum_value"))

  /** The LLM admission pipeline over streaming ingest: documents arrive
    * as an unbounded file stream and every micro-batch runs the SAME
    * quality gate the batch pipeline runs (length → quality score →
    * language agreement, first failing rule wins). The gate is row-local
    * — no cross-batch state — so per-batch summaries ADD and streamed ==
    * batch exactly; the foreachBatch sink appends per-batch partial
    * summaries which the read-back aggregates (the mergeable-summary
    * shape a 100 TB ingest job checkpoints).
    */
  def runQualityGate(spark: SparkSession, dir: String,
                     sinkDir: String): DataFrame = {
    import graft.text.TextAnalysis
    val docsSchema = graft.Tables.documents(spark, dir).schema
    val src = spark.readStream.schema(docsSchema)
      .option("pathGlobFilter", "documents*.parquet")
      .parquet(dir)
    BoundedRun.foreachBatch(src) { (batch, _) =>
      TextAnalysis.withLangId(TextAnalysis.withQuality(batch))
        .withColumn("reason",
          when(col("n_chars") < 50, "too_short")
            .when(col("quality_score") < 0.5, "low_quality")
            .when(col("predicted_lang") =!= col("lang"), "lang_mismatch")
            .otherwise("accept"))
        .groupBy("lang", "reason")
        .agg(count(lit(1)).as("n_docs"),
             sum(col("n_chars")).as("sum_chars"))
        .write.mode("append").parquet(sinkDir)
    }
    // partial per-batch summaries are mergeable: counts and exact sums add
    spark.read.parquet(sinkDir)
      .groupBy("lang", "reason")
      .agg(sum(col("n_docs")).as("n_docs"),
           sum(col("sum_chars")).as("sum_chars"))
  }

  /** Daily distinct-user cardinality via the engine's mergeable HLL
    * sketch, running INSIDE streaming state: the
    * TypedImperativeAggregate's serialized registers are the state rows,
    * merged incrementally per micro-batch — the sketch the batch
    * `sketch_hll_distinct` query builds, now maintained by the stream.
    * The estimator is bitwise-portable by design, so the streamed result
    * equals the batch/oracle arithmetic exactly.
    */
  def hllDaily(events: DataFrame, watermarkDelay: String): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .select(col("ts"),
        graft.olap.Sketch.spreadHash(col("user_id")).as("hv"))
      .groupBy(window(col("ts"), "1 day"))
      .agg(graft.olap.Hll.sketchAgg(col("hv")).as("sk"))
      .select(to_date(col("window.start")).as("date"),
              graft.olap.Hll.estimate(col("sk")).as("hll_est"),
              graft.olap.Hll.zeroRegs(col("sk")).as("zero_regs"))

  def runHllDaily(spark: SparkSession, dir: String): DataFrame =
    BoundedRun.toParquet(hllDaily(readEvents(spark, dir), "1 hour"),
      "graft_stream_hll", "complete")

  /** Streaming quantiles — the production "p95 latency per window" need:
    * the STREAM maintains only DDSketch-style bucket counts per
    * (day, type) — the log2_fp bucket is a deterministic integer, so the
    * streamed sketch equals the batch sketch bitwise and state is bounded
    * by windows × types × ~40 buckets regardless of event volume. The
    * quantile PICK (cumulative walk + boundary lookup) runs post-stream
    * on the sketch-cardinality table. Same estimator definition as the
    * batch `sketch_ddsketch_quantiles`, so one oracle covers both.
    */
  def runDdsketchDaily(spark: SparkSession, dir: String): DataFrame = {
    val L = graft.functions.FixedLog2.log2_fp _
    val src = readEvents(spark, dir)
      .select(col("ts"), col("event_type"),
        graft.olap.Exact.cents(col("value")).as("cents"))
      .filter(col("cents") > 0) // lattice domain; fixture min is 1 cent
      .withColumn("lg", L(col("cents")))
      .withColumn("bucket", expr("lg div 65536"))
    // NO watermark: complete-output mode ignores watermarks entirely, so
    // declaring one would only misstate the state-bounding mechanism.
    // State is bounded by the SKETCH cardinality (day cells × types ×
    // ~40 log2 buckets), independent of event volume — the same posture
    // as runHllDaily's register table.
    val sketch = src
      .groupBy(window(col("ts"), "1 day"), col("event_type"),
        col("bucket"))
      .agg(count(lit(1)).as("cnt"), min("cents").as("lo"))
    val t = BoundedRun.toParquet(sketch, "graft_stream_ddsk", "complete")
      .select(to_date(col("window.start")).as("date"), col("event_type"),
        col("bucket"), col("cnt"), col("lo"))
    // post-stream pick over the day-cell × type × bucket sketch table.
    // n rides a full-partition window: one pass over the sink table, no
    // self-join back onto it
    val W = org.apache.spark.sql.expressions.Window
    val w = W.partitionBy("date", "event_type").orderBy("bucket")
    t.withColumn("cum", sum("cnt").over(
        w.rowsBetween(W.unboundedPreceding, 0)))
      .withColumn("n", sum("cnt").over(
        W.partitionBy("date", "event_type")).cast("long"))
      .filter(col("cum") >= expr("(n * 95 + 99) div 100"))
      .groupBy("date", "event_type", "n")
      .agg(min("bucket").as("p95_bucket"),
        min_by(col("lo"), col("bucket")).as("lo"))
      .select(col("date"), col("event_type"), col("n"), col("p95_bucket"),
        (col("lo").cast("double") / lit(100.0)).as("p95_est"))
  }

  /** Streaming deduplication (the exactly-once repair for at-least-once
    * delivery): duplicate deliveries collapse on the event key before
    * aggregation; with a watermark, Spark bounds the dedup state the same
    * way the reference's PK bounds its append (SURVEY.md §2.8 I2, in
    * streaming form). Redelivery is simulated by duplicating every row
    * in-flight (explode over two delivery attempts) inside ONE stream —
    * a second file-stream source would pay the full source machinery
    * (listing, schema, per-batch planning) twice for identical semantics,
    * and at 24 s it dominated the round-1 bench.
    */
  def runDedupedCounts(spark: SparkSession, dir: String): DataFrame = {
    val doubled = readEvents(spark, dir)
      .withColumn("attempt", explode(array(lit(1), lit(2))))
      .drop("attempt")
    BoundedRun.toParquet(doubled
      .withWatermark("ts", "1 hour")
      .dropDuplicates("event_id")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_unique")), "graft_stream_dedup", "complete")
  }

  /** Watermark-TTL'd streaming dedup: `dropDuplicatesWithinWatermark`
    * holds a key's dedup state only for the watermark delay instead of
    * forever — the state-bounded form for key spaces that grow without
    * bound (plain streaming dropDuplicates retains every key ever seen;
    * at an unbounded event-id universe that state never stops growing,
    * while this operator's state is one delay window of keys). Duplicate
    * deliveries carry the same event time, so they always land inside
    * the delay and the emitted stream holds exactly one row per
    * event_id; the per-day report aggregates the emitted rows post-sink
    * — the operator under test is the dedup, not the count.
    */
  def runDedupTtl(spark: SparkSession, dir: String): DataFrame = {
    val doubled = readEvents(spark, dir)
      .select("event_id", "ts", "event_type")
      .withColumn("attempt", explode(array(lit(1), lit(2))))
      .drop("attempt")
    BoundedRun.toParquet(doubled
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id"),
      "graft_stream_dedup_ttl", "append")
      .groupBy(to_date(col("ts")).as("date"), col("event_type"))
      .agg(count(lit(1)).as("n_unique"))
  }

  /** Streaming session windows via the BUILT-IN session_window aggregate:
    * dynamic-gap windows merged in-operator across micro-batches, state
    * dropped once the watermark passes a session's close (start/"end"
    * here are min-event and last-event + gap — Spark's session bounds).
    * Append mode emits exactly the sessions whose gap-extended end is at
    * or below the final watermark — the deterministic emitted set the
    * oracle replays as batch sessionization + that one filter. The batch
    * twin (`sessionize_builtin_window`) pins the aggregate's semantics;
    * this pins its STREAMING state machine (merge + watermark eviction).
    */
  def runSessionWindow(spark: SparkSession, dir: String): DataFrame =
    BoundedRun.toParquet(readEvents(spark, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(col("user_id"),
        session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"),
           sum(col("value").cast(DecimalType(18, 2))).cast("double")
             .as("sum_value"))
      .select(col("user_id"), col("sw.start").as("session_start"),
              col("sw.end").as("session_end_gap"),
              col("n_events"), col("sum_value")),
      "graft_stream_session_window", "append")

  /** Stream-stream time-bounded inner join: each purchase pairs with the
    * same user's views from the trailing hour. Both sides carry event-time
    * watermarks and the range condition bounds the buffered state on each
    * (the requirement Structured Streaming imposes for stream-stream
    * joins) — state scales with one hour of activity, not history. Over
    * the bounded replay every pair lands in the data micro-batch before
    * eviction, so the emitted set is exactly the batch join (the oracle).
    */
  def runStreamStreamJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = readEvents(spark, dir)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id").as("p_user"),
              col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val v = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("view_ts"),
              col("value").as("view_value"))
      .withWatermark("view_ts", "1 hour")
    BoundedRun.toParquet(p.join(v,
        col("p_user") === col("user_id") &&
          col("view_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
          col("view_ts") <= col("p_ts"))
      .select(col("event_id"), col("user_id"), col("p_ts").as("ts"),
              col("view_ts"), col("view_value")),
      "graft_stream_join", "append")
  }

  /** Stream-stream LEFT SEMI join — "purchases that HAD a view in their
    * trailing hour", emitted exactly once per purchase with no view
    * columns. Completes the streaming join family (inner / left outer /
    * full outer / semi): the semi form is the streaming existence probe
    * behind funnel admission ("only act on purchases preceded by a
    * view") and it is the CHEAPEST of the family — the left row emits on
    * its FIRST match and its state drops immediately (no match
    * accumulation, no eviction-as-output asymmetry), so over a bounded
    * replay the emitted set is exactly the batch EXISTS predicate,
    * independent of watermark position and batch boundaries. State stays
    * bounded by the 1 h range condition on the view side as usual.
    */
  def runStreamStreamSemiJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = readEvents(spark, dir)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id").as("p_user"),
              col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val v = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("view_ts"))
      .withWatermark("view_ts", "1 hour")
    BoundedRun.toParquet(p.join(v,
        col("p_user") === col("user_id") &&
          col("view_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
          col("view_ts") <= col("p_ts"),
        "left_semi")
      .select(col("event_id"), col("p_user").as("user_id"),
              col("p_ts").as("ts")),
      "graft_stream_semi_join", "append")
  }

  /** Stream-stream LEFT OUTER join — the inner join above plus state
    * EVICTION as output: a purchase with no view in its trailing hour
    * emits null-joined, but only once the watermark PROVES no future
    * view can match (view_ts <= p_ts means a left row is unmatchable as
    * soon as the watermark passes p_ts). Matched pairs emit in the data
    * micro-batch; the unmatched remainder emits in the watermark-advance
    * (no-data) batch — so over a bounded replay the emitted set is
    * exactly: batch-join matches ∪ unmatched purchases with
    * p_ts < min(max p_ts, max view_ts) − 1h (the final global watermark;
    * min because Spark takes the lagging side). Purchases inside the
    * final watermark's horizon stay in state, never emitting — the
    * outer-join completeness/latency trade every streaming engine makes,
    * mirrored by the oracle's threshold predicate.
    */
  def runStreamStreamLeftJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = readEvents(spark, dir)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id").as("p_user"),
              col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val v = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("view_ts"),
              col("value").as("view_value"))
      .withWatermark("view_ts", "1 hour")
    BoundedRun.toParquet(p.join(v,
        col("p_user") === col("user_id") &&
          col("view_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
          col("view_ts") <= col("p_ts"),
        "leftOuter")
      .select(col("event_id"), col("p_user").as("user_id"),
              col("p_ts").as("ts"), col("view_ts"), col("view_value")),
      "graft_stream_left_join", "append")
  }

  /** Stream-stream FULL OUTER join — completes the join family: BOTH
    * sides' state evictions become output. A purchase with no view in
    * its trailing hour emits null-right once the watermark passes p_ts
    * (as in the left join); a view that no purchase picked up emits
    * null-left once the watermark passes view_ts + 1h (the view can
    * match purchases with p_ts ∈ [view_ts, view_ts + 1h], so it is
    * provably unmatchable only then — the asymmetry comes from the
    * one-sided range condition). Both sides carry their own event ids
    * so the output's presentation order never compares NULL sort keys:
    * coalesce(purchase_id, view_id) is always defined, and engines
    * disagree on NULLS FIRST/LAST defaults.
    */
  def runStreamStreamFullJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = readEvents(spark, dir)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
              col("user_id").as("p_user"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val v = ev.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"),
              col("ts").as("view_ts"), col("value").as("view_value"))
      .withWatermark("view_ts", "1 hour")
    BoundedRun.toParquet(p.join(v,
        col("p_user") === col("user_id") &&
          col("view_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
          col("view_ts") <= col("p_ts"),
        "fullOuter")
      .select(col("purchase_id"), col("view_id"),
              coalesce(col("p_user"), col("user_id")).as("user_id"),
              col("p_ts"), col("view_ts"), col("view_value")),
      "graft_stream_full_join", "append")
  }

  /** Stream-static enrichment: the unbounded event stream joined to a
    * bounded dimension table (customer segment), then aggregated. The
    * static side is broadcast — a stream-static inner join is STATELESS
    * (each micro-batch joins against the dimension as-of that batch; no
    * watermark, no join state), which is why enrich-then-aggregate is the
    * cheapest streaming join shape and the default way to attach
    * dimensions at scale.
    */
  def runStaticEnrich(spark: SparkSession, dir: String): DataFrame = {
    val dim = graft.Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"))
    BoundedRun.toParquet(readEvents(spark, dir)
      .join(broadcast(dim), col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("event_type"))
      .agg(count(lit(1)).as("n"),
           sum(col("value").cast(DecimalType(18, 2))).cast("double")
             .as("sum_value")), "graft_stream_enrich", "complete")
  }

  /** End-to-end exactly-once SINK: an at-least-once stream (every event
    * delivered twice via the in-flight explode) lands in a parquet sink
    * through `foreachBatch` + the keyed idempotent append — the streaming
    * composition of the reference's PK-reject semantics (Watermark.
    * appendIdempotent). Batch-level replays AND in-stream duplicates both
    * collapse on the event key, so the sink holds each event exactly once
    * regardless of delivery count; the returned frame aggregates the sink
    * for the oracle. At scale the same foreachBatch body targets any
    * atomic-append store; the anti-join is the minimal exchange for
    * upsert-less storage.
    */
  def runForeachBatchUpsert(spark: SparkSession, dir: String,
                            sinkDir: String): DataFrame = {
    val doubled = readEvents(spark, dir)
      .withColumn("attempt", explode(array(lit(1), lit(2))))
      .drop("attempt")
      .select("event_id", "ts", "event_type", "value")
    BoundedRun.foreachBatch(doubled) { (batch, _) =>
      // in-batch dedup first (the doubled deliveries share a micro-
      // batch), then the keyed anti-join against the sink handles
      // cross-batch replays — together: exactly-once landing
      graft.inc.Watermark.appendIdempotent(spark,
        batch.dropDuplicates("event_id"), sinkDir, Seq("event_id"))
    }
    spark.read.parquet(sinkDir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"),
           countDistinct(col("event_id")).as("n_unique"),
           sum(col("value").cast(DecimalType(18, 2))).cast("double")
             .as("sum_value"))
  }

  /** Streaming CDC apply with delete semantics — the streaming twin of
    * the batch `inc_cdc_apply` query, pinned to the SAME oracle. The
    * source is replayed in three micro-batches (chunked by event_id);
    * each batch folds into a VERSIONED compacted key state
    * (state/v<batch> = compact(previous version ∪ batch)): the per-key
    * merge is the same partial-aggregable `max_by(op, (ts, event_id))`
    * as batch, and both the last-op pick and the op count are mergeable,
    * so the result is independent of batch boundaries and arrival order.
    * Deletes ('error' ops) stay IN the state — dropping them early would
    * resurrect a key if an older upsert arrived in a later batch — and
    * are filtered only at read time. Versioned dirs are the plain-
    * storage analog of the state store's delta files.
    */
  def runCdcApply(spark: SparkSession, dir: String,
                  workDir: String): DataFrame = {
    val schema = rawSchema(spark, dir)
    val raw = spark.read.schema(schema).parquet(s"$dir/events*.parquet")
    for (k <- 0 to 2)
      raw.filter(pmod(col("event_id"), lit(3)) === k).coalesce(1)
        .write.mode("overwrite").parquet(s"$workDir/src/c$k")
    var lastVersion = -1L
    val src = graft.Tables.normalizeTs(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$workDir/src/c*"), "ts")
    BoundedRun.foreachBatch(src) { (batch, batchId) =>
      val ops = batch.select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("et"),
        round(col("value") * 100, 0).cast("long").as("vc"),
        lit(1L).as("n_ops"))
      val all =
        if (lastVersion < 0) ops
        else spark.read.parquet(s"$workDir/state/v$lastVersion")
          .unionByName(ops)
      all.groupBy("user_id")
        .agg(sum(col("n_ops")).as("n_ops"),
          max_by(struct(col("ts"), col("event_id"), col("et"),
                        col("vc")),
                 struct(col("ts"), col("event_id"))).as("last"))
        .select(col("user_id"), col("n_ops"), col("last.ts").as("ts"),
                col("last.event_id").as("event_id"),
                col("last.et").as("et"), col("last.vc").as("vc"))
        .write.mode("overwrite").parquet(s"$workDir/state/v$batchId")
      lastVersion = batchId
    }
    spark.read.parquet(s"$workDir/state/v$lastVersion")
      .filter(col("et") =!= "error")
      .select(col("user_id"), col("n_ops"),
              col("event_id").as("last_event_id"),
              col("vc").as("last_value_cents"))
  }

  /** Streaming point-in-time enrichment: each streamed purchase is
    * as-of joined (latest view at-or-before its timestamp) against a
    * STATIC reference side inside `foreachBatch`. Sound because each
    * left row's match depends only on itself and the complete static
    * side — micro-batch boundaries can't change any answer, so the
    * streamed result equals the batch as-of bitwise (the oracle).
    * This is the serving-time feature-join shape: events arrive, each
    * picks up the feature value that was current at its event time.
    */
  def runAsOfEnrich(spark: SparkSession, dir: String,
                    sinkDir: String): DataFrame = {
    val views = graft.Tables.events(spark, dir)
      .filter(col("event_type") === "view")
      .select(col("user_id"), col("ts"), col("value"))
    val purchases = readEvents(spark, dir)
      .filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    BoundedRun.foreachBatch(purchases) { (batch, _) =>
      graft.ts.AsOfJoin.asOf(batch, views, Seq("user_id"), "ts",
          Seq("value"))
        .select("event_id", "user_id", "ts", "asof_ts", "asof_value")
        .write.mode("append").parquet(sinkDir)
    }
    spark.read.parquet(sinkDir)
  }

  /** Run the daily aggregation over the fixture as a bounded streaming
    * query (complete mode → parquet sink) and return the result table.
    * Append-mode watermark semantics are exercised in the spec with a
    * 2-batch replay.
    */
  def runTumblingDaily(spark: SparkSession, dir: String): DataFrame =
    BoundedRun.toParquet(tumblingDaily(readEvents(spark, dir), "1 hour"),
      "graft_stream_daily", "complete")

  /** Windowed top-k in streaming: the stream maintains per-(day, series)
    * counts (the same watermark-bounded tumbling aggregation as
    * runTumblingDaily); the deterministic per-day top-3 rank runs on the
    * finalized sink table. That split is deliberate and is what a
    * production job does at scale: a per-window rank is only meaningful
    * once the window is final, and sink-side it is a keyed window over
    * day-sized groups — never global state in the stream.
    */
  def runWindowedTopk(spark: SparkSession, dir: String): DataFrame = {
    val counts = BoundedRun.toParquet(
      tumblingDaily(readEvents(spark, dir), "1 hour"),
      "graft_stream_wtopk", "complete")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("date").orderBy(col("n").desc, col("event_type").asc)
    counts
      .select(col("date"), col("event_type"), col("n"),
              row_number().over(w).cast("long").as("rnk"))
      .filter(col("rnk") <= 3)
  }

  /** Per-day event-type mix entropy over streaming ingest: the stream
    * maintains only the watermark-bounded (day, type) counts — mergeable,
    * add-only state — and the exact FixedLog2 entropy derives on the
    * finalized sink table (the runWindowedTopk split: a distribution
    * statistic is only meaningful once its window is final). The sink-side
    * derivation is the identical lattice identity as the batch
    * agg_entropy_by_group, so streamed == batch bitwise.
    */
  def runEntropyDaily(spark: SparkSession, dir: String): DataFrame = {
    val counts = BoundedRun.toParquet(readEvents(spark, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("c"))
      .select(to_date(col("window.start")).as("date"), col("event_type"),
              col("c")), "graft_stream_entropy", "complete")
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val L = graft.functions.FixedLog2.log2_fp _
    counts
      .groupBy("date")
      .agg(sum(col("c")).as("n_events"),
           count(lit(1)).as("n_types"),
           sum(dec(col("c")) * dec(L(col("c")))).as("sclog"))
      .select(col("date"), col("n_events"), col("n_types"),
        ((dec(col("n_events")) * dec(L(col("n_events"))) - col("sclog"))
           .cast("double")
         / col("n_events").cast("double") / lit(1048576.0))
          .as("entropy_bits"))
  }

  /** Sliding event-time windows in streaming (2-day windows, 1-day step):
    * each event lands in two open windows, so the state holds two window
    * rows per (series, day) — still bounded by the watermark, which
    * finalizes a window only after BOTH its overlapping successors have
    * seen the horizon pass. Identical declaration to the batch
    * `ts_sliding_window_2d`; exact long-cent sums, so streamed == batch
    * bitwise.
    */
  def slidingTwoDay(events: DataFrame, watermarkDelay: String): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), "2 days", "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n"),
           (sum(round(col("value") * lit(100), 0).cast("long"))
             .cast("double") / lit(100.0)).as("sum_value"))
      .select(col("window.start").cast("date").as("window_start"),
              col("event_type"), col("n"), col("sum_value"))

  def runSlidingTwoDay(spark: SparkSession, dir: String): DataFrame =
    BoundedRun.toParquet(slidingTwoDay(readEvents(spark, dir), "1 hour"),
      "graft_stream_sliding", "complete")
}
