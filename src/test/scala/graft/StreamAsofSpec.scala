package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class StreamAsofSpec extends AnyFunSuite {
  import graft.ts.{AsOfJoin, Sessionize}
  lazy val spark = SparkTestSession.spark

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("asOf picks the latest right row at-or-before, per key") {
    import spark.implicits._
    val left = Seq(
      (1L, 10L, ts("2024-01-01 10:00:00")),
      (2L, 10L, ts("2024-01-01 12:00:00")),
      (3L, 20L, ts("2024-01-01 09:00:00")), // before any right row
      (4L, 30L, ts("2024-01-01 10:00:00"))  // exactly at a right row (<=)
    ).toDF("event_id", "user_id", "ts")
    val right = Seq(
      (10L, ts("2024-01-01 09:30:00"), 1.0),
      (10L, ts("2024-01-01 11:30:00"), 2.0),
      (20L, ts("2024-01-01 23:00:00"), 9.0),
      (30L, ts("2024-01-01 10:00:00"), 5.0)
    ).toDF("user_id", "ts", "value")
    val got = AsOfJoin.asOf(left, right, Seq("user_id"), "ts", Seq("value"))
      .orderBy("event_id")
      .select("event_id", "asof_value").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
    assert(got.toSeq == Seq(1L -> Some(1.0), 2L -> Some(2.0),
                            3L -> None, 4L -> Some(5.0)))
  }

  test("asOfForward picks the earliest right row at-or-after, per key") {
    import spark.implicits._
    val left = Seq(
      (1L, 10L, ts("2024-01-01 10:00:00")), // next right is 11:30
      (2L, 10L, ts("2024-01-01 12:00:00")), // after all right rows -> NULL
      (3L, 20L, ts("2024-01-01 09:00:00")), // matches the 23:00 row
      (4L, 30L, ts("2024-01-01 10:00:00"))  // exactly at a right row (>=)
    ).toDF("event_id", "user_id", "ts")
    val right = Seq(
      (10L, ts("2024-01-01 09:30:00"), 1.0),
      (10L, ts("2024-01-01 11:30:00"), 2.0),
      (20L, ts("2024-01-01 23:00:00"), 9.0),
      (30L, ts("2024-01-01 10:00:00"), 5.0)
    ).toDF("user_id", "ts", "value")
    val got = AsOfJoin.asOfForward(left, right, Seq("user_id"), "ts",
        Seq("value"))
      .orderBy("event_id")
      .select("event_id", "asof_value").collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
    assert(got.toSeq == Seq(1L -> Some(2.0), 2L -> None,
                            3L -> Some(9.0), 4L -> Some(5.0)))
  }

  test("asOf: a latest right row with NULL payload yields NULL, not an older row") {
    import spark.implicits._
    val left = Seq((1L, 10L, ts("2024-01-01 12:00:00")))
      .toDF("event_id", "user_id", "ts")
    val right = Seq(
      (10L, ts("2024-01-01 09:00:00"), Some(7.0)),
      (10L, ts("2024-01-01 11:00:00"), Option.empty[Double]) // latest, NULL
    ).toDF("user_id", "ts", "value")
    val got = AsOfJoin.asOf(left, right, Seq("user_id"), "ts", Seq("value"))
      .collect()(0)
    assert(got.isNullAt(got.fieldIndex("asof_value"))) // NOT 7.0
    assert(got.getAs[java.sql.Timestamp]("asof_ts")
      == ts("2024-01-01 11:00:00"))
  }

  test("asOfNearest picks the closer side, equidistant ties go backward") {
    import spark.implicits._
    val left = Seq(
      (1L, 10L, ts("2024-01-01 10:00:00")), // back 9:00 (1h) vs fwd 10:30 (30m) -> fwd
      (2L, 10L, ts("2024-01-01 11:30:00")), // back 10:30 (1h) vs fwd 12:30 (1h) -> tie -> back
      (3L, 20L, ts("2024-01-01 09:00:00")), // only forward exists
      (4L, 30L, ts("2024-01-01 09:00:00")), // only backward exists
      (5L, 40L, ts("2024-01-01 09:00:00"))  // no right rows at all
    ).toDF("event_id", "user_id", "ts")
    val right = Seq(
      (10L, ts("2024-01-01 09:00:00"), 1.0),
      (10L, ts("2024-01-01 10:30:00"), 2.0),
      (10L, ts("2024-01-01 12:30:00"), 3.0),
      (20L, ts("2024-01-01 23:00:00"), 9.0),
      (30L, ts("2024-01-01 01:00:00"), 7.0)
    ).toDF("user_id", "ts", "value")
    val got = AsOfJoin.asOfNearest(left, right, Seq("user_id"), "ts",
        Seq("value"))
      .orderBy("event_id")
      .select("event_id", "asof_value").collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
    assert(got.toSeq == Seq(1L -> Some(2.0), 2L -> Some(2.0),
      3L -> Some(9.0), 4L -> Some(7.0), 5L -> None))
  }

  test("asOf resolves equal-timestamp right rows deterministically") {
    import spark.implicits._
    // three right rows share (key, time): the winner must be the
    // lexicographically greatest packed payload, on every input order
    val left = Seq((1L, 10L, ts("2024-01-01 12:00:00")))
      .toDF("event_id", "user_id", "ts")
    val ties = Seq(
      (10L, ts("2024-01-01 11:00:00"), 2.0),
      (10L, ts("2024-01-01 11:00:00"), 9.0),
      (10L, ts("2024-01-01 11:00:00"), 5.0))
    for (perm <- ties.permutations) {
      val right = perm.toDF("user_id", "ts", "value")
      val got = AsOfJoin.asOf(left, right, Seq("user_id"), "ts",
          Seq("value")).collect()(0)
      assert(got.getAs[Double]("asof_value") == 9.0,
        s"input order $perm must not change the matched payload")
      val fwd = AsOfJoin.asOfForward(left.withColumn("ts",
          lit(ts("2024-01-01 10:00:00"))), right, Seq("user_id"), "ts",
          Seq("value")).collect()(0)
      assert(fwd.getAs[Double]("asof_value") == 9.0)
    }
  }

  test("sessionize splits on gaps > threshold only") {
    import spark.implicits._
    val ev = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1.0),
      (1L, ts("2024-01-01 10:10:00"), 2.0),  // same session (10 min)
      (1L, ts("2024-01-01 11:00:00"), 3.0),  // new session (50 min > 30)
      (2L, ts("2024-01-01 10:00:00"), 4.0)
    ).toDF("user_id", "ts", "value")
    val got = Sessionize.sessions(ev, "user_id", "ts", "value", 1800)
      .orderBy("user_id", "session_seq").collect()
    assert(got.length == 3)
    assert(got(0).getAs[Long]("n_events") == 2)
    assert(got(0).getAs[Double]("sum_value") == 3.0)
    assert(got(1).getAs[Long]("n_events") == 1)
    assert(got(2).getAs[Long]("user_id") == 2L)
  }

  test("streaming append mode emits only watermark-closed windows") {
    import graft.streaming.EventStream
    import spark.implicits._
    val dir = graft.io.WorkDir.create("graft_stream").toString
    // batch 1: two days of events; batch 2: a third day (advances the
    // watermark past day 1 and 2)
    Seq((1L, ts("2024-01-01 10:00:00"), 1L, "a", 1.0, "{}"),
        (2L, ts("2024-01-02 10:00:00"), 1L, "a", 2.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$dir/b1")
    Seq((3L, ts("2024-01-03 10:00:00"), 1L, "a", 3.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$dir/b2")
    val src = spark.readStream
      .schema(Seq((1L, ts("2024-01-01 00:00:00"), 1L, "a", 1.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props").schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$dir/b*")
    val emitted = graft.streaming.BoundedRun.toParquet(
        EventStream.tumblingDaily(src, "1 hour"), "graft_stream_append_test",
        "append")
      .select("date").collect().map(_.getDate(0).toString).sorted
    // day 3's window is still open (watermark = day3 10:00 - 1h), so only
    // days 1 and 2 may be emitted; day 1 must be (watermark passed it)
    assert(emitted.contains("2024-01-01"))
    assert(!emitted.contains("2024-01-03"))
  }

  test("streaming CDC apply converges bitwise to the batch CDC result") {
    val sf = "/root/testdata/sf0.001"
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("user_id"),
       (r.getAs[Long]("n_ops"), r.getAs[Long]("last_event_id"),
        r.getAs[Long]("last_value_cents")))
    val batch = SparkEntry.queries("inc_cdc_apply")(spark, sf)
      .collect().map(key).toMap
    val streamed = SparkEntry.queries("stream_cdc_apply")(spark, sf)
      .collect().map(key).toMap
    assert(batch.nonEmpty && streamed == batch)
  }

  test("streaming ddsketch p95 equals the batch-replayed estimator " +
       "and brackets the exact p95") {
    val sf = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("stream_ddsketch_p95")(spark, sf)
      .collect()
    assert(out.nonEmpty)
    // brute-force replay from the raw rows: identical buckets, identical
    // pick — and the sketch's p95 estimate never exceeds the exact p95
    // (the estimator reports the BUCKET FLOOR at the rank boundary)
    val raw = Tables.events(spark, sf)
      .select(to_date(col("ts")).as("d"), col("event_type"),
        graft.olap.Exact.cents(col("value")).as("cc"))
      .filter(col("cc") > 0).collect()
      .map(r => ((r.getDate(0).toString, r.getString(1)), r.getLong(2)))
    val byCell = raw.groupBy(_._1).map { case (k, xs) =>
      k -> xs.map(_._2).sorted }
    out.foreach { r =>
      val k = (r.getDate(0).toString, r.getString(1))
      val cents = byCell(k)
      val n = cents.length.toLong
      assert(r.getAs[Long]("n") == n, k)
      val kth = cents(((n * 95 + 99) / 100).toInt - 1)
      val buckets = cents.map(c =>
        graft.functions.FixedLog2.log2fp(c) / 65536)
      val kb = buckets(((n * 95 + 99) / 100).toInt - 1)
      assert(r.getAs[Long]("p95_bucket") == kb, k)
      val lo = cents.zip(buckets).filter(_._2 == kb).map(_._1).min
      assert(r.getAs[Double]("p95_est") == lo / 100.0, k)
      assert(r.getAs[Double]("p95_est") <= kth / 100.0, k)
    }
  }

  test("media resize and feature extraction: deterministic byte plumbing") {
    import spark.implicits._
    import graft.multimodal.Media
    val docs = Seq((1L, "a" * 300), (2L, "xy")).toDF("doc_id", "text")
    val media = Media.asMedia(docs, "doc_id", "text")
    // resize truncates the payload proportionally to the target area and
    // rewrites the declared format — byte count is deterministic
    val resized = Media.resize(media, 8, 8).collect().sortBy(_.media_id)
    assert(resized(0).format == "txt@8x8")
    assert(resized(0).payload.length < 300 && resized(0).payload.length >= 1)
    assert(resized(1).payload.length >= 1)
    // feature extraction: fixed-dim vector, bytes folded round-robin;
    // "a"*300 -> dim 4: positions hit 75 times each with 97/255
    val feats = Media.extractFeatures(media, 4).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(feats(1L).length == 4)
    val expected = (1 to 75).foldLeft(0.0f)((acc, _) => acc + 97 / 255.0f)
    assert(feats(1L).forall(_ == expected))
    assert(feats(2L)(0) == 'x' / 255.0f && feats(2L)(1) == 'y' / 255.0f
      && feats(2L)(2) == 0.0f)
  }

  test("stream-stream join over a bounded replay equals the batch join") {
    import graft.streaming.EventStream
    val sf = "/root/testdata/sf0.001"
    val streamed = EventStream.runStreamStreamJoin(spark, sf)
      .orderBy("event_id", "view_ts", "view_value").collect()
    val ev = Tables.events(spark, sf)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id").as("p_user"),
              col("ts").as("p_ts"))
    val v = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("view_ts"),
              col("value").as("view_value"))
    val batch = p.join(v,
        col("p_user") === col("user_id") &&
          col("view_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
          col("view_ts") <= col("p_ts"))
      .select(col("event_id"), col("user_id"), col("p_ts").as("ts"),
              col("view_ts"), col("view_value"))
      .orderBy("event_id", "view_ts", "view_value").collect()
    assert(streamed.nonEmpty)
    assert(streamed.toSeq == batch.toSeq)
  }

  test("png codec: real encode→decode round-trip recovers dims and pixels") {
    import graft.multimodal.Media
    import spark.implicits._
    // hand raster: 3×2 gradient; PNG is lossless so decode must return
    // the exact pixels, not a byte-stream fake
    val bytes = Media.PngCodec.encodeGray(3, 2, (x, y) => 10 * x + 100 * y)
    assert(Media.PngCodec.isPng(bytes))
    assert(!Media.PngCodec.isPng("not a png".getBytes))
    val (w, h, sum) = Media.PngCodec.decode(bytes)
    assert((w, h) == ((3, 2)))
    assert(sum == (0 + 10 + 20) + (100 + 110 + 120))
    // pixel values mask to a byte (the encoder's documented contract)
    val (_, _, masked) = Media.PngCodec.decode(
      Media.PngCodec.encodeGray(1, 1, (_, _) => 256 + 7))
    assert(masked == 7)
    // extractMeta dispatches on payload magic: a PNG payload goes through
    // the real decoder (pixel sum), not the byte-sum fake
    val media = Seq(Media.MediaRow(1L, bytes, "png")).toDS()
    val meta = Media.extractMeta(media).collect()(0)
    assert(meta.width == 3 && meta.height == 2 && meta.checksum == 360L)
    assert(meta.n_bytes == bytes.length.toLong)
  }

  test("wav codec: real encode→decode round-trip recovers format and samples") {
    import graft.multimodal.Media
    // known signal: 4 samples around the 128 midpoint
    val samples = Array[Byte](128.toByte, 130.toByte, 126.toByte, 228.toByte)
    val bytes = Media.WavCodec.encodePcm8(8000, samples)
    assert(Media.WavCodec.isWav(bytes))
    assert(!Media.WavCodec.isWav("RIFFnope".getBytes))
    val (rate, ch, n, e) = Media.WavCodec.decode(bytes)
    assert((rate, ch, n) == ((8000, 1, 4L)))
    assert(e == 0L + 2 * 2 + 2 * 2 + 100 * 100)
  }

  test("media meta: byte-level decode plumbing on crafted payloads") {
    import graft.multimodal.Media
    import spark.implicits._
    val docs = Seq((1L, "AB"), (2L, "")).toDF("doc_id", "text")
    val got = Media.mediaMeta(spark, docs).orderBy("media_id").collect()
    assert(got(0).getAs[Long]("n_bytes") == 2L)
    assert(got(0).getAs[Int]("width") == 64 + 'A' % 64)
    assert(got(0).getAs[Int]("height") == 64 + 'B' % 64)
    assert(got(0).getAs[Long]("checksum") == 'A'.toLong + 'B'.toLong)
    assert(got(1).getAs[Long]("n_bytes") == 0L)
    assert(got(1).getAs[Long]("checksum") == 0L)
  }
}
