package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.objects.AssertNotNull
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.streaming.DataStreamWriter

/** The one way a bounded stream runs: start the query on the calling
  * thread, drain every available input with `processAllAvailable`, stop
  * it. The lifecycle and the state-partition scope live here once.
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

  /** Run `df` with output mode `mode` into a parquet table in a fresh
    * [[graft.io.WorkDir]] named after `name` (also the query's name) and
    * return that table. Each micro-batch is written from the executors:
    * append mode appends it, complete mode overwrites the table with it.
    * The driver holds none of the emitted rows, so the result's size is
    * bounded by disk, not by driver memory.
    *
    * The table is read back under `df`'s own schema (no footer is read to
    * infer one). A file source reads every column as nullable, so each
    * top-level column `df` declares non-nullable is wrapped in a checked
    * `AssertNotNull`: the result keeps the stream's nullability, and a
    * null there fails the query instead of passing silently.
    */
  def toParquet(df: DataFrame, name: String, mode: String): DataFrame = {
    val dir = graft.io.WorkDir.create(name).toString
    val save = if (mode == "complete") "overwrite" else "append"
    val write: (DataFrame, Long) => Unit =
      (batch, _) => batch.write.mode(save).parquet(dir)
    run(df)(_.outputMode(mode).queryName(name).foreachBatch(write))
    val table = df.sparkSession.read.schema(df.schema).parquet(dir)
    table.select(df.schema.map { f =>
      val c = table.col(s"`${f.name}`")
      if (f.nullable) c
      else ColumnBridge.column(AssertNotNull(ColumnBridge.expression(c)))
        .as(f.name)
    }: _*)
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
