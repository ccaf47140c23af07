package graft.inc

import graft.cal.{BusdayCount, NyseCalendar}

/** The reference's per-table incremental control flow (av_etl.py:44-66,
  * 84-111, 138): given the table's high watermark, count the NYSE business
  * days missing through yesterday and decide between doing nothing, a
  * compact fetch (the API's 100-most-recent window) or a full backfill —
  * plus the retry wrapper that guards each step.
  *
  * Pure driver-side glue over the engine's data-plane primitives: the
  * watermark comes from [[Watermark.highWatermark]] (scalar probe S4), the
  * business-day arithmetic is [[BusdayCount.count]] over the
  * [[NyseCalendar]], and the resulting fetch flows through the idempotent
  * keyed append (I2) so a crashed-and-retried step cannot double-load.
  *
  * Scale posture: on a parquet sink the probe reads the watermark from the
  * data files' footer statistics on the driver and runs no Spark job, so
  * deciding a tick costs one footer read per sink file, not a scan of the
  * sink's history; a sink whose footers cannot answer exactly falls back
  * to the scan and says so in its log.
  */
object FetchPlan {

  sealed trait Decision
  /** Table is current — skip the fetch entirely (av_etl.py:52-54). */
  case object NoFetch extends Decision
  /** <= compactWindow business days missing: the API's 100-row compact
    * window covers the gap (av_etl.py:55-57).
    */
  case object Compact extends Decision
  /** New table or a gap beyond the compact window: full history
    * (av_etl.py:58-66).
    */
  case object Full extends Decision

  /** Business days missing between the last loaded date and "today",
    * excluding today itself (the reference's `np.busday_count(recent,
    * today, holidays=nyse) - 1`: today's bar is still forming and is
    * always dropped, av_etl.py:49-51).
    */
  def missingBusdays(lastLoadedDay: Int, todayDay: Int,
                     holidays: Array[Int] = NyseCalendar.default): Int =
    BusdayCount.count(lastLoadedDay, todayDay, holidays) - 1

  /** The compact-vs-full decision exactly as the reference takes it. */
  def decide(lastLoadedDay: Option[Int], todayDay: Int,
             holidays: Array[Int] = NyseCalendar.default,
             compactWindow: Int = 100): Decision =
    lastLoadedDay match {
      case None => Full // table does not exist yet (av_etl.py:62-66)
      case Some(last) =>
        val missing = missingBusdays(last, todayDay, holidays)
        if (missing <= 0) NoFetch
        else if (missing <= compactWindow) Compact
        else Full
    }

  /** Retry wrapper matching the reference's `@retry(Exception, tries=5,
    * delay=1)` (av_etl.py:138): up to `tries` attempts with a fixed
    * inter-attempt delay, rethrowing the final failure. Steps behind it
    * must be idempotent — which the keyed anti-join append guarantees.
    */
  @annotation.tailrec
  def retry[T](tries: Int = 5, delayMs: Long = 1000L)(f: () => T): T = {
    val r = try Right(f()) catch { case e: Exception => Left(e) }
    r match {
      case Right(v) => v
      case Left(e) if tries <= 1 => throw e
      case Left(_) =>
        Thread.sleep(delayMs)
        retry(tries - 1, delayMs)(f)
    }
  }
}
