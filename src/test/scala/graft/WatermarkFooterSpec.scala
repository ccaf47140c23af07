package graft

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `Watermark.highWatermark`'s footer path: on a bare parquet scan the
  * answer read from the data files' footers equals the scanned `max`
  * (schema included) and collects without a Spark job; anything the
  * footers cannot answer exactly falls back to the scan with a named log
  * line.
  */
class WatermarkFooterSpec extends AnyFunSuite {
  import graft.inc.Watermark
  lazy val spark = SparkTestSession.spark

  private val LoggerName = "graft.inc.Watermark"

  private def tmp(): Path =
    graft.io.WorkDir.create("graft_wm").resolve("sink")

  /** Rows (d DATE, i INT, l BIGINT, v STRING) for day offsets `days`;
    * None is an all-null key row.
    */
  private def batch(days: Option[Int]*): DataFrame = {
    import spark.implicits._
    days.map(d => (d, s"v$d")).toDF("k", "v")
      .select(date_add(lit("2024-01-01").cast("date"), col("k")).as("d"),
        col("k").as("i"), (col("k").cast("long") * 1000000000L).as("l"),
        col("v"))
  }

  private def days(r: Range): Seq[Option[Int]] = r.map(Some(_))

  private def scanned(df: DataFrame, key: String): DataFrame =
    df.agg(max(col(key)).as("watermark"))

  /** The footer answer, with the log lines it wrote, after checking it
    * equals the scanned max (schema included).
    */
  private def agrees(df: DataFrame, key: String): Seq[String] = {
    val (got, log) = SparkProbes.captureLog(LoggerName) {
      Watermark.highWatermark(df, key)
    }
    val want = scanned(df, key)
    assert(got.schema == want.schema, key)
    assert(got.collect().toSeq == want.collect().toSeq, key)
    log
  }

  test("footer answer equals agg(max) on a multi-file sink, every key type") {
    val sink = tmp().toString
    batch(days(0 until 40): _*).repartition(3).write.parquet(sink)
    batch(days(40 until 55): _*).repartition(2).write.mode("append")
      .parquet(sink)
    val df = spark.read.parquet(sink)
    assert(df.inputFiles.length == 5)
    for (key <- Seq("d", "i", "l")) {
      assert(agrees(df, key).isEmpty, key)
      // under a column-only projection too
      assert(agrees(df.select("v", key), key).isEmpty, key)
    }
    assert(Watermark.highWatermark(df, "i").head().getInt(0) == 54)
  }

  test("a zero-row file and an all-null-key file count as nothing") {
    val sink = tmp().toString
    batch(days(0 until 10): _*).write.parquet(sink)
    batch(days(0 until 10): _*).filter(lit(false)).write.mode("append")
      .parquet(sink)
    batch(None, None).coalesce(1).write.mode("append").parquet(sink)
    val df = spark.read.parquet(sink)
    assert(df.inputFiles.length >= 3)
    for (key <- Seq("d", "i", "l")) assert(agrees(df, key).isEmpty, key)
    // a sink of only nulls and empty files gives a null watermark
    val nulls = tmp().toString
    batch(None).write.parquet(nulls)
    batch(None).filter(lit(false)).write.mode("append").parquet(nulls)
    val n = spark.read.parquet(nulls)
    assert(agrees(n, "d").isEmpty)
    assert(Watermark.highWatermark(n, "d").head().isNullAt(0))
  }

  test("a sink written without statistics falls back with the named line") {
    val sink = tmp().toString
    batch(days(0 until 10): _*).write.parquet(sink)
    batch(days(10 until 20): _*).write.mode("append")
      .option("parquet.column.statistics.enabled", "false").parquet(sink)
    val log = agrees(spark.read.parquet(sink), "d")
    assert(log.size == 1, log)
    assert(log.head.startsWith("highWatermark footer fallback"), log)
    assert(log.head.contains("without statistics for d"), log)
  }

  test("a frame that is not a bare scan falls back with the named line") {
    val sink = tmp().toString
    batch(days(0 until 10): _*).write.parquet(sink)
    val df = spark.read.parquet(sink)
    for (f <- Seq(df.filter(col("i") < 5),
                  df.select(col("d").as("e")).withColumnRenamed("e", "d"))) {
      val log = agrees(f, "d")
      assert(log.size == 1, log)
      assert(log.head.startsWith("highWatermark footer fallback"), log)
      assert(log.head.contains("not a bare parquet file scan"), log)
    }
    // a key type the footers are not read for
    val log = agrees(df, "v")
    assert(log.exists(_.contains("not DATE, INT or BIGINT")), log)
  }

  test("the footer path runs no Spark job") {
    val sink = tmp().toString
    batch(days(0 until 30): _*).repartition(3).write.parquet(sink)
    val df = spark.read.schema("d DATE, i INT, l BIGINT, v STRING")
      .parquet(sink)
    val (wm, jobs) = SparkProbes.countJobs(spark) {
      Watermark.highWatermark(df, "d").head()
    }
    assert(wm == Row(java.sql.Date.valueOf("2024-01-30")))
    assert(jobs == 0, s"$jobs jobs")
    // the scan it replaces runs jobs
    val (_, scanJobs) = SparkProbes.countJobs(spark) {
      scanned(df, "d").head()
    }
    assert(scanJobs > 0)
  }
}
