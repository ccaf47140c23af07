package graftbench

import java.nio.file.{Files, Path}
import java.time.LocalDate

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{CacheRegistry, SparkEntry}
import graft.cal.NyseCalendar
import graft.inc.{FetchPlan, Watermark}
import graft.ingest.AvJson
import graft.report.HtmlReport
import graft.ts.Ohlc

/** One benchmark workload: untimed set-up, timed ops, untimed checks. */
trait Workload {
  /** The fixed `op_tail_s` percentile. */
  val tailPercentile = 80
  def setup(): Unit
  /** Runs op `i`; false when the op itself reports a wrong result. */
  def op(i: Int): Boolean
  /** Output check after op `i`, outside the timed window. */
  def check(i: Int): Boolean = true
  /** End-of-run checks; returns the ops they show to have failed. */
  def finish(ops: Seq[Int]): Set[Int] = Set.empty
  /** Per-op label (query name or tick date) for the op log. */
  def label(i: Int): String
  /** Untimed ops run after [[setup]], still part of set-up. */
  def warmupOps: Int = 0
  /** A fixed op count for a window of `seconds`, or None to run ops until
    * they have taken `seconds`.
    */
  def timedOps(seconds: Double): Option[Int] = None
  /** Workload-specific per-layer metrics over the timed ops. */
  def layerMetrics(ops: Seq[Main.Op]): Map[String, Double] = Map.empty
  /** Extra facts for the artifact, as JSON members. */
  def artifact: Seq[(String, String)] = Nil
}

object Workload {
  val Names: Seq[String] = Seq("etl_daily", "query_mix")

  def apply(name: String, spark: SparkSession, seed: Long, spans: Spans,
            runDir: Path, dataDir: String): Workload = name match {
    case "etl_daily" => new EtlDaily(spark, seed, spans, runDir)
    case "query_mix" => new QueryMix(spark, seed, spans, runDir, dataDir)
    case other => throw new IllegalArgumentException(
      s"unknown workload $other (known: ${Names.mkString(", ")})")
  }

  private[graftbench] def json(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}

/** The paper's daily job, one business day per op: decide the fetch,
  * parse the compact payloads, append idempotently to two parquet sinks,
  * derive the second-currency price with its SMAs and render the report.
  */
final class EtlDaily(spark: SparkSession, seed: Long, spans: Spans,
                     runDir: Path) extends Workload {
  import EtlDaily._

  private val series = EtlData.series(seed, Backfill + MaxTicks + 1)
  private val sinkDir = runDir.resolve("etl")
  private val priceSink = sinkDir.resolve("price").toString
  private val fxSink = sinkDir.resolve("fx").toString
  private var tick = 0 // bars loaded = Backfill + tick
  private val ticksOf = mutable.Map[Int, Int]()
  private val appendS = mutable.Map[Int, Double]()
  private val renderS = mutable.Map[Int, Double]()
  private val reportBytes = mutable.Map[Int, Long]()
  private val rowsWritten = mutable.Map[Int, Long]()
  private var sinkRows = 0L
  private val sinkFiles = mutable.Map[Int, Int]()

  private def payloadDf(equity: Boolean, from: Int, until: Int): DataFrame = {
    import spark.implicits._
    val bars = if (equity) series.equity else series.fx
    Seq(EtlData.payload(bars, from, until, equity)).toDF("payload")
  }

  private def parse(df: DataFrame, equity: Boolean): DataFrame =
    AvJson.parseDailyBars(df, "payload",
      if (equity) "Time Series (Daily)" else "Time Series FX (Daily)",
      withVolume = equity)

  private def epochDay(d: LocalDate): Int = d.toEpochDay.toInt

  private def sink(path: String): DataFrame =
    spark.read.schema(if (path == priceSink) PriceSchema else FxSchema)
      .parquet(path)

  private def watermark(path: String): Option[Int] =
    Option(Watermark.highWatermark(sink(path), "date")
      .head().getDate(0)).map(d => epochDay(d.toLocalDate))

  private def reportFrame(): DataFrame = {
    val d = Ohlc.ccyDerive(sink(priceSink), sink(fxSink))
    val s5 = Ohlc.withSma(d, 5, Nil, "date", "close_price_ccy")
    Ohlc.withSma(s5, 20, Nil, "date", "close_price_ccy").orderBy("date")
  }

  private def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def setup(): Unit = {
    deleteTree(sinkDir)
    val today = epochDay(series.days(Backfill))
    require(FetchPlan.decide(None, today, NyseCalendar.default) ==
      FetchPlan.Full, "an empty sink must take a full fetch")
    Watermark.appendIdempotent(spark, parse(payloadDf(true, 0, Backfill),
      true), priceSink, Seq("date"))
    Watermark.appendIdempotent(spark, parse(payloadDf(false, 0, Backfill),
      false), fxSink, Seq("date"))
    require(check(-1), "backfill left the sinks wrong")
  }

  def label(i: Int): String = series.days(Backfill + ticksOf(i) - 1).toString

  def op(i: Int): Boolean = {
    tick += 1
    ticksOf(i) = tick
    val day = Backfill + tick - 1 // index of the bar this tick loads
    val today = epochDay(series.days(day + 1))
    val from = day + 1 - EtlData.CompactWindow
    val price = payloadDf(true, from, day + 1)
    val fx = payloadDf(false, from, day + 1)
    spans.op(i, "tick") {
      val decisions = spans.child("fetch_plan") {
        Seq(priceSink, fxSink).map(p =>
          FetchPlan.decide(watermark(p), today, NyseCalendar.default))
      }
      if (decisions.exists(_ != FetchPlan.Compact)) false
      else {
        val (_, a) = timed {
          spans.child("append.price") {
            Watermark.appendIdempotent(spark, parse(price, true), priceSink,
              Seq("date"))
          }
          spans.child("append.fx") {
            Watermark.appendIdempotent(spark, parse(fx, false), fxSink,
              Seq("date"))
          }
        }
        val (html, r) = timed {
          spans.child("render") {
            HtmlReport.render(reportFrame(), "graft daily report", "date",
              Seq("close_price_usd", "close_rate", "close_price_ccy",
                  "sma_5", "sma_20"))
          }
        }
        appendS(i) = a
        renderS(i) = r
        reportBytes(i) = html.getBytes("UTF-8").length.toLong
        true
      }
    }
  }

  /** Both sinks hold exactly the business days loaded so far, once each. */
  override def check(i: Int): Boolean = {
    val loaded = Backfill + tick
    val want = series.days.take(loaded).toList
    val got = Seq(priceSink, fxSink).map { p =>
      spark.read.schema("date DATE").parquet(p).collect()
        .map(_.getDate(0).toLocalDate).sortBy(_.toEpochDay).toList
    }
    val rows = got.map(_.size.toLong).sum
    if (i >= 0) {
      rowsWritten(i) = rows - sinkRows
      sinkFiles(i) = Seq(priceSink, fxSink).map(countParquetFiles).sum
    }
    sinkRows = rows
    got.forall(_ == want)
  }

  /** The last tick's report frame against a recomputation from the
    * generator's bars.
    */
  override def finish(ops: Seq[Int]): Set[Int] = {
    if (ops.isEmpty) return Set.empty
    val got = reportFrame().select("date", "close_price_ccy", "sma_5",
      "sma_20").collect().map { r =>
      def opt(j: Int) = if (r.isNullAt(j)) None else Some(r.getDouble(j))
      (r.getDate(0).toLocalDate, r.getDouble(1), opt(2), opt(3))
    }.toIndexedSeq
    val want = EtlData.expectedReport(series, Backfill + tick)
    if (EtlDaily.sameReport(got, want)) Set.empty else Set(ops.max)
  }

  override def warmupOps: Int = 6

  override def layerMetrics(timed: Seq[Main.Op]): Map[String, Double] = {
    val ops = timed.map(_.id)
    def mean(m: collection.Map[Int, Double]) =
      ops.map(m.getOrElse(_, 0.0)).sum / ops.size
    Map(
      "inc.append_s" -> mean(appendS),
      "inc.rows_new_ratio" -> ops.map(rowsWritten.getOrElse(_, 0L)).sum
        .toDouble / (2L * EtlData.CompactWindow * ops.size),
      "inc.sink_files" -> mean(sinkFiles.map { case (k, v) => k -> v.toDouble }),
      "report.render_s" -> mean(renderS),
      "report.bytes" -> mean(reportBytes.map { case (k, v) => k -> v.toDouble }))
  }

  override def artifact: Seq[(String, String)] = Seq(
    "backfill_days" -> Backfill.toString,
    "first_day" -> Workload.json(series.days.head.toString),
    "ticks" -> tick.toString)
}

object EtlDaily {
  /** Business days loaded by the full fetch in set-up. */
  val Backfill = 260
  /** Upper bound on ticks in one run (set-up and timed). */
  val MaxTicks = 2000
  /** The sinks' schemas, as `AvJson.parseDailyBars` writes them. */
  val PriceSchema =
    "date DATE, open DOUBLE, high DOUBLE, low DOUBLE, close DOUBLE, volume BIGINT"
  val FxSchema = "date DATE, open DOUBLE, high DOUBLE, low DOUBLE, close DOUBLE"

  private[graftbench] def sameReport(
      got: IndexedSeq[(LocalDate, Double, Option[Double], Option[Double])],
      want: IndexedSeq[(LocalDate, Double, Option[Double], Option[Double])])
      : Boolean = {
    def close(a: Double, b: Double) =
      math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))
    def closeOpt(a: Option[Double], b: Option[Double]) = (a, b) match {
      case (Some(x), Some(y)) => close(x, y)
      case (None, None) => true
      case _ => false
    }
    got.size == want.size && got.zip(want).forall { case (g, w) =>
      g._1 == w._1 && g._2 == w._2 && closeOpt(g._3, w._3) &&
        closeOpt(g._4, w._4)
    }
  }

  private[graftbench] def countParquetFiles(path: String): Int = {
    val dir = java.nio.file.Paths.get(path)
    if (!Files.isDirectory(dir)) 0
    else Files.list(dir).iterator().asScala
      .count(_.getFileName.toString.endsWith(".parquet"))
  }

  private[graftbench] def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).iterator().asScala.toSeq.reverse
      .foreach(Files.delete)
}

/** Analyst queries: a cost-stratified sample of `SparkEntry.queries`,
  * mostly light batch queries plus a graph and a streaming one, run in a
  * seeded order. One op is a closure call, a `noop` materialization and
  * `CacheRegistry.releaseAll()`.
  */
final class QueryMix(spark: SparkSession, seed: Long, spans: Spans,
                     runDir: Path, dataDir: String) extends Workload {
  private val queries = SparkEntry.queries
  val sample: Seq[String] = QueryMix.sample(queries.keySet.toSeq)
  private val order = QueryPool.opOrder(sample, new scala.util.Random(seed))

  /** Whole cycles of the sample, one per [[QueryMix.CycleSeconds]] of the
    * window, so every query weighs the same in the percentiles and every run
    * does the same work. Ending on whichever cycle the clock reached instead
    * split runs into 4- and 5-cycle ones whose medians sat 20 % apart.
    */
  override def timedOps(seconds: Double): Option[Int] =
    Some(sample.size * math.max(2, (seconds / QueryMix.CycleSeconds).toInt))
  private val names = mutable.Map[Int, String]()
  private val resultsDir = runDir.resolve("results")
  private val released = mutable.Map[Int, Int]()
  private val residual = mutable.Map[Int, Int]()
  private val storageMb = mutable.Map[Int, Double]()
  private var ledgerSeen = 0
  private val pinnedBuildS = mutable.Map[Int, Double]()

  private def writeResult(name: String, dir: Path): Unit = {
    CacheRegistry.setContext(name)
    queries(name)(spark, dataDir).write.mode("overwrite")
      .parquet(dir.resolve(name).toString)
    CacheRegistry.releaseAll()
  }

  /** The warm-up pass: every sampled query once, cold, its result kept on
    * disk for the oracle check.
    */
  def setup(): Unit = {
    EtlDaily.deleteTree(resultsDir)
    sample.foreach(writeResult(_, resultsDir))
    ledgerSeen = CacheRegistry.pinnedLedger.size
  }

  def label(i: Int): String = names(i)

  def op(i: Int): Boolean = {
    val name = order.next()
    names(i) = name
    CacheRegistry.setContext(name)
    spans.op(i, name) {
      val df = spans.child("build")(queries(name)(spark, dataDir))
      spans.child("materialize") {
        df.write.format("noop").mode("overwrite").save()
      }
      released(i) = CacheRegistry.releaseAll()
    }
    true
  }

  override def check(i: Int): Boolean = {
    val ledger = CacheRegistry.pinnedLedger
    pinnedBuildS(i) = ledger.drop(ledgerSeen).map(_.buildSec).sum
    ledgerSeen = ledger.size
    residual(i) = CacheRegistry.census(spark) - CacheRegistry.pinnedCount
    storageMb(i) = spark.sparkContext.getRDDStorageInfo
      .map(r => r.memSize + r.diskSize).sum / 1e6
    true
  }

  /** Exempt queries (no oracle) run once more: the check wants the same
    * result hash on every execution.
    */
  override def finish(ops: Seq[Int]): Set[Int] = {
    sample.filter(SparkEntry.oracleExempt)
      .foreach(writeResult(_, runDir.resolve("results_again")))
    Set.empty
  }

  override def layerMetrics(timed: Seq[Main.Op]): Map[String, Double] = {
    val ops = timed.map(_.id)
    def mean(f: Int => Double) = ops.map(f).sum / ops.size
    def p50(heavy: Boolean) = {
      val w = timed.filter(o => o.ok && QueryPool.isHeavy(o.label) == heavy)
      if (w.isEmpty) 0.0 else Stats.median(w.map(_.wall))
    }
    Map(
      "mix.light_p50_s" -> p50(false),
      "mix.heavy_p50_s" -> p50(true),
      "cache.released" -> mean(released.getOrElse(_, 0).toDouble),
      "cache.residual" -> mean(residual.getOrElse(_, 0).toDouble),
      "cache.pinned_build_s" -> mean(pinnedBuildS.getOrElse(_, 0.0)),
      "cache.storage_mb" -> mean(storageMb.getOrElse(_, 0.0)))
  }

  override def artifact: Seq[(String, String)] = {
    val oracle = SparkEntry.oracleSql
    Seq(
      "sample" -> sample.map(Workload.json).mkString("[", ",", "]"),
      "heavy" -> sample.filter(QueryPool.isHeavy).map(Workload.json)
        .mkString("[", ",", "]"),
      "checks" -> sample.map { n =>
        val how = oracle.get(n).map(s => s"""{"oracle_sql":${Workload.json(s)}}""")
          .getOrElse("""{"same_hash":true}""")
        s"${Workload.json(n)}:$how"
      }.mkString("{", ",", "}"))
  }
}

object QueryMix {
  /** Light (non-graph, non-streaming) queries per sample. With one graph
    * and one streaming query that makes 7 queries, each a 1/7 band of the
    * ops: p50 falls in the middle of the 4th band and p80 in the middle of
    * the 6th, so neither sits on the edge between two queries.
    */
  val LightStrata = 5
  /** About one cycle of the sample, warm, on a 4-core host. */
  val CycleSeconds = 5.0

  /** Five light queries, one graph and one streaming query. */
  def sample(all: Seq[String]): Seq[String] = {
    val costs = QueryPool.referenceCosts()
    val sorted = all.sorted
    def pick(pool: Seq[String], k: Int) =
      QueryPool.stratifiedSample(pool, costs, k)
    pick(sorted.filterNot(QueryPool.isHeavy), LightStrata) ++
      pick(sorted.filter(_.startsWith("graph_")), 1) ++
      pick(sorted.filter(_.startsWith("stream_")), 1)
  }
}
