package graft.inc

import java.io.FileNotFoundException

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.{HadoopReadOptions, ParquetReadOptions}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, Type => ParquetType}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetOptions}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.slf4j.LoggerFactory

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

  private val log = LoggerFactory.getLogger(getClass.getName.stripSuffix("$"))

  /** High-watermark probe: newest key in the sink (`SELECT date ... ORDER BY
    * date DESC LIMIT 1` at av_etl.py:12-19 ≡ max), as a one-row frame with
    * one nullable column `watermark` of the key's type.
    *
    * When `existing` analyzes to a bare parquet file scan (optionally under
    * a column-only projection, with no partition columns) and the key is
    * DATE, INT or BIGINT, the answer comes from the `max` statistics in the
    * data files' footers, read on the driver: the frame is a local relation
    * and collecting it runs no Spark job. Row groups with no rows and files
    * without the key column count as nothing; an all-null row group counts
    * as null, as in `max`.
    *
    * Every other case is Catalyst's partial max per partition + single-row
    * final agg over the scan — no sort, no shuffle of data rows. That
    * includes every footer that cannot give the exact answer: a non-empty
    * row group without statistics, a type mismatch or an ambiguous
    * (case-insensitive) key column, legacy-calendar date metadata, or a
    * read error. Each such fallback writes one `highWatermark footer
    * fallback` log line naming the reason (INFO when the frame is not a
    * bare parquet scan, WARN when a footer failed it).
    *
    * Scale posture: the footer path costs one footer read per data file,
    * on the driver, whatever the row count — a sink of a few thousand
    * daily files is a few thousand small reads; a sink of millions of
    * files wants a table format that keeps the statistics in one manifest.
    * The scan it replaces reads every row group's key column.
    */
  def highWatermark(existing: DataFrame, keyCol: String): DataFrame =
    footerWatermark(existing, keyCol) match {
      case Right(wm) => wm
      case Left((reason, failedFooter)) =>
        val msg = s"highWatermark footer fallback: $reason; scanning instead"
        if (failedFooter) log.warn(msg) else log.info(msg)
        existing.agg(max(col(keyCol)).as("watermark"))
    }

  /** First day of the Gregorian calendar (1582-10-15) as epoch days: Spark
    * rebases, or refuses, dates before it unless a file is marked as
    * written in the proleptic Gregorian calendar.
    */
  private val GregorianStartDay = -141427L

  /** The footer path of [[highWatermark]]: the watermark frame, or why the
    * footers cannot give it and whether a footer (rather than the frame's
    * shape) was the reason.
    */
  private def footerWatermark(existing: DataFrame, keyCol: String)
      : Either[(String, Boolean), DataFrame] = {
    val spark = existing.sparkSession
    val resolver = spark.sessionState.conf.resolver
    val plan = existing.queryExecution.analyzed
    val keys = plan.output.filter(a => resolver(a.name, keyCol))
    (bareParquetScan(plan), keys) match {
      case (None, _) =>
        Left(("frame is not a bare parquet file scan", false))
      case (Some(fs), Seq(key))
          if fs.dataSchema.fieldNames.exists(resolver(_, key.name)) =>
        key.dataType match {
          case t @ (DateType | IntegerType | LongType) =>
            val conf = spark.sessionState.newHadoopConfWithOptions(fs.options)
            val rebaseMode =
              new ParquetOptions(fs.options, spark.sessionState.conf)
                .datetimeRebaseModeInRead
            val files = fs.location.listFiles(Nil, Nil)
              .flatMap(_.files.map(_.fileStatus))
            footerMax(files, conf, key.name, t, resolver, rebaseMode)
              .left.map(r => (r, true))
              .map(m => localWatermark(spark, m, t))
          case other =>
            Left((s"key column $keyCol is ${other.sql}, not DATE, INT or " +
              "BIGINT", false))
        }
      case (_, k) =>
        Left((s"key column $keyCol resolves to ${k.size} columns, not to " +
          "one data column of the scan", false))
    }
  }

  /** The relation of a parquet scan with no partition columns, under any
    * number of column-only projections.
    */
  private def bareParquetScan(plan: LogicalPlan): Option[HadoopFsRelation] =
    plan match {
      case Project(list, child)
          if list.forall(_.isInstanceOf[AttributeReference]) =>
        bareParquetScan(child)
      case lr: LogicalRelation if !lr.isStreaming =>
        lr.relation match {
          case fs: HadoopFsRelation
              if fs.fileFormat.isInstanceOf[ParquetFileFormat] &&
                fs.partitionSchema.isEmpty => Some(fs)
          case _ => None
        }
      case _ => None
    }

  /** The largest non-null `key` value over the files' row-group statistics
    * (None when there is none), or the first reason a footer cannot give
    * the exact answer. `sameName` is the session's resolver: a file whose
    * only case-variant of `key` does not resolve reads as nulls.
    */
  private def footerMax(files: Seq[FileStatus], conf: Configuration,
                        key: String, keyType: DataType,
                        sameName: (String, String) => Boolean,
                        rebaseMode: String): Either[String, Option[Long]] = {
    val options = HadoopReadOptions.builder(conf).build()
    files.foldLeft[Either[String, Option[Long]]](Right(None)) { (acc, file) =>
      acc.flatMap { best =>
        val where = file.getPath.toString
        val meta =
          try Right(footer(file, conf, options))
          catch { case NonFatal(e) => Left(s"footer read error in $where: $e") }
        meta.flatMap(fileMax(_, where, key, keyType, sameName, rebaseMode))
          .map(m => (best ++ m).maxOption)
      }
    }
  }

  /** [[footerMax]] for one file's footer. */
  private def fileMax(meta: ParquetMetadata, where: String, key: String,
                      keyType: DataType, sameName: (String, String) => Boolean,
                      rebaseMode: String): Either[String, Option[Long]] = {
    val matches = meta.getFileMetaData.getSchema.getFields.asScala.toSeq
      .filter(_.getName.equalsIgnoreCase(key))
    matches match {
      case Seq() => Right(None)
      case Seq(f) if !sameName(f.getName, key) => Right(None)
      case Seq(f) if !storesAs(f, keyType) =>
        Left(s"$where stores $key as `$f`, not ${keyType.sql}")
      case Seq(f) =>
        val kv = meta.getFileMetaData.getKeyValueMetaData.asScala
        // Spark's read-side calendar policy for this file
        val policy = kv.get("org.apache.spark.version") match {
          case Some(v) =>
            if (v < "3.0.0" || kv.contains("org.apache.spark.legacyDateTime"))
              "LEGACY" else "CORRECTED"
          case None => rebaseMode
        }
        val groups = meta.getBlocks.asScala.toSeq.filter(_.getRowCount > 0)
          .map(b => (b.getRowCount, b.getColumns.asScala
            .find(_.getPath.toArray.sameElements(Array(f.getName)))
            .map(_.getStatistics).orNull))
        if (keyType == DateType && policy == "LEGACY")
          Left(s"$where carries legacy-calendar date metadata")
        else groups.collectFirst {
          case (n, st) if st == null || (!st.hasNonNullValue &&
              !(st.isNumNullsSet && st.getNumNulls == n)) =>
            s"$where has a row group of $n rows without statistics for $key"
          case (_, st) if keyType == DateType && policy != "CORRECTED" &&
              st.hasNonNullValue &&
              st.genericGetMin.asInstanceOf[Number].longValue <
                GregorianStartDay =>
            s"$where holds dates before 1582-10-15 under rebase mode $policy"
        }.toLeft(groups.collect { case (_, st) if st.hasNonNullValue =>
          st.genericGetMax.asInstanceOf[Number].longValue }.maxOption)
    }
  }

  /** Whether a parquet field is exactly the physical form Spark reads as
    * `keyType` (DATE: INT32 date; INT: plain or signed 32-bit INT32;
    * BIGINT: plain or signed 64-bit INT64).
    */
  private def storesAs(f: ParquetType, keyType: DataType): Boolean =
    f.isPrimitive && !f.isRepetition(ParquetType.Repetition.REPEATED) && {
      val p = f.asPrimitiveType
      val (name, bits) =
        if (keyType == LongType) (PrimitiveTypeName.INT64, 64)
        else (PrimitiveTypeName.INT32, 32)
      p.getPrimitiveTypeName == name && (p.getLogicalTypeAnnotation match {
        case null => keyType != DateType
        case _: LogicalTypeAnnotation.DateLogicalTypeAnnotation =>
          keyType == DateType
        case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation =>
          keyType != DateType && i.isSigned && i.getBitWidth == bits
        case _ => false
      })
    }

  /** A one-row local frame holding `max` (null when None) as `keyType`. */
  private def localWatermark(spark: SparkSession, max: Option[Long],
                             keyType: DataType): DataFrame = {
    val raw = spark.createDataFrame(
      java.util.List.of(Row(max.map(Long.box).orNull)),
      StructType(Seq(StructField("watermark", LongType, nullable = true))))
    val v = col("watermark")
    raw.select((keyType match {
      case DateType => date_from_unix_date(v.cast(IntegerType))
      case t => v.cast(t)
    }).as("watermark"))
  }

  /** One parquet footer, read with options built once from the session's
    * Hadoop configuration (the one-argument `ParquetFileReader.open` builds
    * a fresh default configuration per file, ~14 ms each).
    */
  private def footer(file: FileStatus, conf: Configuration,
                     options: ParquetReadOptions)
      : ParquetMetadata = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf),
      options)
    try reader.getFooter finally reader.close()
  }

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
      val stored = footer(file, conf, HadoopReadOptions.builder(conf).build())
        .getFileMetaData.getSchema.getFields.asScala.map(_.getName)
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
