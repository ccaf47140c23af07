package graft.inc

import java.io.FileNotFoundException

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental-load operators (SURVEY.md §2.8, reference `av_etl.py:12-19,
  * 30-38, 44-79`): high-watermark reads, missing-suffix filters, and keyed
  * idempotent appends.
  *
  * The reference's positional `tail(k)` logic is deliberately re-expressed as
  * key predicates (`date > watermark`) — positional slicing does not survive
  * distribution, key predicates do, and they push down to parquet row-group
  * skipping / partition pruning (SURVEY.md §7.4 item 5).
  */
object Watermark {

  /** High-watermark probe: newest key in the sink (`SELECT date ... ORDER BY
    * date DESC LIMIT 1` at av_etl.py:12-19 ≡ max). Catalyst plans this as a
    * partial max per partition + single-row final agg — no sort, no shuffle
    * of data rows.
    */
  def highWatermark(existing: DataFrame, keyCol: String): DataFrame =
    existing.agg(max(col(keyCol)).as("watermark"))

  /** Missing-suffix filter (I1/P2): rows strictly newer than the watermark.
    * The watermark is a 1-row frame joined with a broadcast — keeping it a
    * DataFrame (not a collected scalar) lets Catalyst inline it and keeps
    * the whole pipeline lazily composable; the predicate reaches the scan.
    */
  def newerThan(incoming: DataFrame, watermark: DataFrame,
                keyCol: String): DataFrame =
    incoming.join(broadcast(watermark), col(keyCol) > col("watermark"))
      .drop("watermark")

  /** Keyed idempotent append (I2, av_etl.py:30-38): the PK-reject semantics
    * of the reference's PostgreSQL sink, without ACID tables — drop incoming
    * rows whose key already exists (left-anti), then append. Running it
    * twice equals running it once. The anti-join broadcasts the existing
    * *keys only* when small; at scale it is a shuffled anti-join on the key,
    * which is the minimal possible exchange for this semantics.
    */
  def dedupAgainst(incoming: DataFrame, existing: DataFrame,
                   keys: Seq[String]): DataFrame =
    incoming.join(existing.select(keys.map(col): _*).distinct(),
                  keys, "left_anti")

  /** CDC compaction (latest-wins upsert): one surviving row per key — the
    * row with the greatest (tsCol, tieCol). `max_by` over the packed struct
    * is partial-aggregable, so the shuffle carries ONE pre-reduced row per
    * key per map partition instead of the full change log — the reason
    * this beats the window-row_number formulation at 100 TB (a window
    * would sort every change). `tieCol` totalizes the order under
    * same-timestamp changes so replays compact identically.
    */
  def latestByKey(changes: DataFrame, keyCols: Seq[String], tsCol: String,
                  tieCol: String, payloadCols: Seq[String]): DataFrame = {
    val payload = struct((Seq(tsCol, tieCol) ++ payloadCols).map(col): _*)
    changes.groupBy(keyCols.map(col): _*)
      .agg(max_by(payload, struct(col(tsCol), col(tieCol))).as("b"))
      .select(keyCols.map(col) ++
        (Seq(tsCol, tieCol) ++ payloadCols).map(c => col(s"b.$c").as(c)): _*)
  }

  /** Full idempotent parquet append: the first write creates the sink,
    * later writes append only unseen keys. Retry semantics (av_etl.py:138)
    * stay driver-side, as in the reference. Appending to an existing sink
    * runs two Spark jobs: the broadcast of the sink's keys and the write.
    *
    * Existence is one filesystem listing, not a read: the sink exists when
    * its directory holds an entry whose name does not start with `_` or
    * `.`. An absent directory, an empty one or one holding only
    * `_temporary` (an aborted writer's leftovers) takes the create write.
    * Nothing else ever does — a read failure on an existing sink (corrupt
    * footer, permissions, interrupt) propagates instead of turning into an
    * overwrite of the sink's history.
    *
    * Before the anti-join, one top-level data file's parquet footer is
    * read on the driver and must hold every key column; a sink without one
    * (or with no top-level data file at all, e.g. a `k=v/` partitioned
    * layout) raises an `IllegalArgumentException` naming the sink and the
    * column rather than appending silent duplicates. The anti-join then
    * reads only the key columns, under the key schema of `incoming`, so no
    * schema-inference job runs.
    *
    * The sink's keys are not `distinct`ed: this function only ever appends
    * unseen keys, so they are unique already, and a left-anti result does
    * not depend on build-side duplicates anyway — the `distinct` would only
    * add a shuffle job before the broadcast. [[dedupAgainst]] keeps its
    * own, because its callers pass frames with repeated keys.
    */
  def appendIdempotent(spark: SparkSession, incoming: DataFrame,
                       path: String, keys: Seq[String]): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val dir = new Path(path)
    val entries =
      try dir.getFileSystem(conf).listStatus(dir).toSeq
      catch { case _: FileNotFoundException => Seq.empty }
    val data = entries.filterNot { e =>
      val n = e.getPath.getName
      n.startsWith("_") || n.startsWith(".")
    }
    if (data.isEmpty) incoming.write.mode("overwrite").parquet(path)
    else {
      val keySchema = incoming.select(keys.map(col): _*).schema
      val file = data.filter(_.isFile).sortBy(_.getPath.getName).headOption
        .getOrElse(throw new IllegalArgumentException(
          s"sink $path holds no top-level data file to check key column(s) " +
            s"${keySchema.fieldNames.mkString(", ")} against"))
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf))
      val stored =
        try reader.getFooter.getFileMetaData.getSchema.getFields.asScala
          .map(_.getName)
        finally reader.close()
      val resolver = spark.sessionState.conf.resolver
      keySchema.fieldNames.find(k => !stored.exists(resolver(_, k)))
        .foreach { k =>
          throw new IllegalArgumentException(
            s"sink $path has no key column $k (checked ${file.getPath})")
        }
      incoming.join(spark.read.schema(keySchema).parquet(path), keys,
          "left_anti")
        .write.mode("append").parquet(path)
    }
  }
}
