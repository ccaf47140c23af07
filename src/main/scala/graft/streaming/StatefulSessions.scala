package graft.streaming

import java.time.Instant

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Custom streaming state via flatMapGroupsWithState (north-star streaming
  * extension): gap-based sessionization where a session may span micro-
  * batches, so the open session lives in keyed state and closes either when
  * a later event arrives past the gap or when the event-time watermark
  * times the state out.
  *
  * Semantics match graft.ts.Sessionize (the batch formulation) for every
  * session that closes; the spec pins: every emitted row is bit-identical
  * to a batch session, and the only batch sessions missing are those still
  * open within the final watermark horizon. Money totals are carried as
  * exact integer cents in state and converted once on emit.
  */
object StatefulSessions {

  case class Event(user_id: Long, ts: Instant, value: Double)
  case class OpenSession(startUs: Long, lastUs: Long, n: Long, cents: Long)
  case class ClosedSession(user_id: Long, session_start: Instant,
                           session_end: Instant, n_events: Long,
                           sum_value: Double)

  private def cents(v: Double): Long = math.rint(v * 100.0).toLong

  // java.sql.Timestamp round-trips only milliseconds; Instant keeps the
  // fixture's microsecond precision intact through the encoder
  private def toUs(t: Instant): Long =
    t.getEpochSecond * 1000000L + t.getNano / 1000L
  private def fromUs(us: Long): Instant =
    Instant.ofEpochSecond(Math.floorDiv(us, 1000000L),
      Math.floorMod(us, 1000000L) * 1000L)

  def close(userId: Long, s: OpenSession): ClosedSession =
    ClosedSession(userId, fromUs(s.startUs), fromUs(s.lastUs), s.n,
      s.cents / 100.0)

  /** One group invocation: fold this batch's events (sorted by event time)
    * into the open session, emitting every session closed by a gap.
    */
  def processGroup(userId: Long, events: Iterator[Event],
                   state: GroupState[OpenSession],
                   gapUs: Long): Iterator[ClosedSession] = {
    if (state.hasTimedOut) {
      val out = state.getOption.map(s => close(userId, s)).iterator
      state.remove()
      return out
    }
    val sorted = events.toIndexedSeq.sortBy(e => toUs(e.ts))
    var open = state.getOption
    val closed = Seq.newBuilder[ClosedSession]
    sorted.foreach { e =>
      val us = toUs(e.ts)
      open match {
        case Some(s) if us - s.lastUs <= gapUs =>
          // max/min guards: the watermark drives timeouts but does NOT
          // filter late rows before flatMapGroupsWithState — a late event
          // inside the gap must extend the session, never shrink it
          open = Some(OpenSession(math.min(s.startUs, us),
            math.max(s.lastUs, us), s.n + 1, s.cents + cents(e.value)))
        case Some(s) =>
          closed += close(userId, s)
          open = Some(OpenSession(us, us, 1, cents(e.value)))
        case None =>
          open = Some(OpenSession(us, us, 1, cents(e.value)))
      }
    }
    open.foreach { s =>
      state.update(s)
      // close the open session once the watermark passes its gap horizon
      state.setTimeoutTimestamp(s.lastUs / 1000 + gapUs / 1000)
    }
    closed.result().iterator
  }

  /** Wire the stateful sessionizer over an unbounded (user_id, ts, value)
    * frame.
    */
  def sessions(events: DataFrame, gapSeconds: Long): Dataset[ClosedSession] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapSeconds * 1000000L
    events.select(col("user_id"), col("ts"), col("value")).as[Event]
      .withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(
        (k: Long, it: Iterator[Event], st: GroupState[OpenSession]) =>
          processGroup(k, it, st, gapUs))
  }

  /** Replay the fixture events through the stateful sessionizer (bounded
    * source → parquet sink). Emitted: every gap-closed session, plus each
    * user's final session iff its event-time timeout (session_end + gap)
    * falls below the final watermark (max ts - 1 hour) — those fire in the
    * no-data micro-batch after the last data batch. Final sessions inside
    * the watermark horizon stay open in state, the honest streaming answer.
    * This emitted set is deterministic and SQL-expressible (see the
    * stream_sessionize_stateful oracle in SparkEntry).
    */
  def runOverFixture(spark: SparkSession, dir: String): DataFrame =
    BoundedRun.toParquet(
      sessions(EventStream.readEvents(spark, dir), 1800).toDF(),
      "graft_stream_sessions", "append")
}
