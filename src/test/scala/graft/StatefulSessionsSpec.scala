package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class StatefulSessionsSpec extends AnyFunSuite {
  import graft.streaming.StatefulSessions
  import graft.ts.Sessionize
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  test("streaming sessions match batch sessions up to the watermark horizon") {
    val streamed = StatefulSessions.runOverFixture(spark, sf)
      .select("user_id", "session_start", "session_end", "n_events",
              "sum_value")
    val batchAll = Sessionize.sessions(Tables.events(spark, sf), "user_id",
        "ts", "value", 1800)
      .select(col("user_id"), col("session_start"), col("session_end"),
              col("n_events"), col("sum_value"))
    assert(streamed.count() > 0)
    // every streamed session is a true batch session (bit-identical row)
    assert(streamed.exceptAll(batchAll).count() == 0)
    // the only batch sessions missing from the stream output are those
    // still open at end of replay: final watermark = max(ts) - 1h, and a
    // session times out at session_end + 30min gap — so anything ending
    // more than 90min before the last event must have been emitted
    val maxTs = Tables.events(spark, sf).agg(max("ts")).first().getTimestamp(0)
    val horizon = new java.sql.Timestamp(maxTs.getTime - 90 * 60 * 1000)
    val missing = batchAll.exceptAll(streamed)
    assert(missing.filter(col("session_end") < lit(horizon)).count() == 0)
  }

  test("event-time timeout closes the open session on watermark advance") {
    import spark.implicits._
    val dir = graft.io.WorkDir.create("graft_ss").toString
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // batch 1: one event; batch 2: an event 3 days later for another user,
    // pushing the watermark far past user 1's session timeout
    Seq((ts("2024-01-01 10:00:00"), 1L, 5.0))
      .toDF("ts", "user_id", "value").coalesce(1).write.parquet(s"$dir/b1")
    Seq((ts("2024-01-04 10:00:00"), 2L, 1.0))
      .toDF("ts", "user_id", "value").coalesce(1).write.parquet(s"$dir/b2")
    val src = spark.readStream
      .schema(Seq((ts("2024-01-01 00:00:00"), 1L, 1.0))
        .toDF("ts", "user_id", "value").schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$dir/b*")
    val emitted = graft.streaming.BoundedRun.toParquet(
      StatefulSessions.sessions(src, 1800).toDF(), "graft_ss_timeout_test",
      "append").collect()
    // user 1's session must have been closed by timeout, not by a gap event
    assert(emitted.exists(r => r.getAs[Long]("user_id") == 1L
      && r.getAs[Double]("sum_value") == 5.0))
  }
}
