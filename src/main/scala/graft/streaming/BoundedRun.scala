package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.DataStreamWriter

/** The one way a bounded stream runs: start the query on the calling
  * thread, drain every available input with `processAllAvailable`, stop
  * it. Callers pick the sink; the lifecycle and the state-partition scope
  * live here once.
  *
  * Streaming state partitions are fixed per query at start (they live
  * in the checkpoint for the query's lifetime), and every state store
  * pays a per-partition commit on every micro-batch — so they must be
  * sized to the STATE volume, not the session's core count. The bounded
  * fixture replays carry a few thousand state rows; 8 partitions keeps
  * the per-batch commit cost proportionate (32 was pure overhead). A
  * production deployment sizes this once per query the same way. The
  * session's `spark.sql.shuffle.partitions` holds 8 from just before
  * start until the query has stopped, and is restored afterwards even
  * when the query fails.
  */
object BoundedRun {

  private val StatePartitions = 8

  /** Run `df` into a memory sink named `name` with output mode `mode`
    * and return the sink's table.
    */
  def toMemory(df: DataFrame, name: String, mode: String): DataFrame = {
    run(df)(_.outputMode(mode).format("memory").queryName(name))
    df.sparkSession.table(name)
  }

  /** Run `df` in append mode, handing each micro-batch and its id to `f`. */
  def foreachBatch(df: DataFrame)(f: (DataFrame, Long) => Unit): Unit =
    run(df)(_.outputMode("append").foreachBatch(f))

  private def run(df: DataFrame)(
      sink: DataStreamWriter[Row] => DataStreamWriter[Row]): Unit = {
    val conf = df.sparkSession.conf
    val key = "spark.sql.shuffle.partitions"
    val old = conf.get(key)
    conf.set(key, StatePartitions.toString)
    try {
      // started on the caller's thread: onQueryStarted is delivered on the
      // starting thread, which is how a listener ties the query to the
      // work that ran it
      val q = sink(df.writeStream).start()
      try q.processAllAvailable() finally q.stop()
    } finally conf.set(key, old)
  }
}
