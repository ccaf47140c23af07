package graft.sources

import java.time.{DayOfWeek, LocalDate}
import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expression, NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, CountStar, Max, Min}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Deterministic daily-bar generator shared by the connector, its spec, and
  * the DuckDB oracle. All arithmetic is exact BIGINT (the engine's
  * affine→square-mod-prime→affine spread, `graft.olap.Sketch`), and the final
  * prices are `cents / 100.0` — one integer→double conversion (exact) and one
  * correctly-rounded IEEE division, so DuckDB reproduces every double
  * bit-for-bit from the same integer steps.
  *
  * This is the engine's stand-in for the reference's remote quote API
  * (av_etl.py:64-76): the connector surface — partition planning, predicate
  * pushdown, column pruning — is exactly what a live HTTP adapter would
  * implement, with the wire fetch swapped for the deterministic generator
  * (the container has no egress; same fixture-adapter contract as AvJson).
  */
object SeriesGen {
  final val P = 2147483647L

  def symbolHash(s: String): Long =
    s.foldLeft(0L)((h, c) => (h * 31 + c) % P)

  /** Sketch.spreadHash on an integer seed: affine → square mod prime →
    * affine, every intermediate < 2^62.
    */
  def mix(x: Long): Long = {
    val t = ((x % P) * 1103515245L + 12345L) % P
    ((t * t) % P * 69069L + 362437L) % P
  }

  def isWeekday(epochDay: Int): Boolean = {
    val dow = LocalDate.ofEpochDay(epochDay.toLong).getDayOfWeek
    dow != DayOfWeek.SATURDAY && dow != DayOfWeek.SUNDAY
  }

  /** (open, high, low, close, volume) in integer cents / shares. */
  def barCents(symbol: String, epochDay: Int): (Long, Long, Long, Long, Long) = {
    val seed = mix((symbolHash(symbol) * 31 + epochDay) % P)
    val open = 10000L + seed % 90000L
    val close = 10000L + mix(seed + 1) % 90000L
    val high = math.max(open, close) + mix(seed + 2) % 500L
    val low = math.min(open, close) - mix(seed + 3) % 500L
    val volume = 1000000L + mix(seed + 4) % 9000000L
    (open, high, low, close, volume)
  }

  val schema: StructType = StructType(Seq(
    StructField("symbol", StringType, nullable = false),
    StructField("trade_date", DateType, nullable = false),
    StructField("open", DoubleType, nullable = false),
    StructField("high", DoubleType, nullable = false),
    StructField("low", DoubleType, nullable = false),
    StructField("close", DoubleType, nullable = false),
    StructField("volume", LongType, nullable = false)))

  // ---- observability hooks for the plan-audit spec ----
  @volatile var lastPlannedPartitions: Int = -1
  @volatile var lastPushedFilters: Seq[Filter] = Nil
  @volatile var lastReadSchema: StructType = schema
  @volatile var lastPushedAggregation: Option[String] = None
}

/** One pushed aggregate column: kind ∈ count_star | min | max. */
case class SeriesAgg(kind: String, field: String)

/** `spark.read.format("graft-series")` — a full DataSource V2 connector
  * (SURVEY.md §2.1 S1 as a first-class source, not just a payload adapter):
  *
  *   - **partition planning**: one `InputPartition` per (symbol × calendar
  *     month) — the unit a remote quote API pages by;
  *   - **predicate pushdown** (`SupportsPushDownFilters`): `symbol`
  *     equality/IN and `trade_date` range bounds prune whole input
  *     partitions before any row is produced (server-side filtering in the
  *     live-API reading); every filter is also left residual, so Spark's
  *     exact evaluation still applies — pruning can only skip, never wrongly
  *     keep;
  *   - **column pruning** (`SupportsPushDownRequiredColumns`): the reader
  *     materializes only the projected columns.
  *
  * Options: `symbols` (comma list), `start`/`end` (ISO dates, inclusive).
  */
class SeriesSourceProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-series"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    SeriesGen.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new SeriesTable(properties.asScala.toMap)
}

class SeriesTable(options0: Map[String, String]) extends Table with SupportsRead {
  private val options = options0.map(kv => kv._1.toLowerCase -> kv._2)
  override def name(): String = "graft_series"
  override def schema(): StructType = SeriesGen.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(caseInsensitive: CaseInsensitiveStringMap): ScanBuilder =
    new SeriesScanBuilder(options)
}

class SeriesScanBuilder(options: Map[String, String])
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns with SupportsPushDownAggregates {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = SeriesGen.schema
  private var aggCols: Option[Seq[SeriesAgg]] = None

  private def fieldOf(e: Expression): Option[String] = e match {
    case nr: NamedReference => nr.fieldNames match {
      case Array(n) => Some(n)
      case _ => None
    }
    case _ => None
  }

  private def translate(f: AggregateFunc): Option[SeriesAgg] = f match {
    case _: CountStar => Some(SeriesAgg("count_star", ""))
    case m: Min => fieldOf(m.column).map(SeriesAgg("min", _))
    case m: Max => fieldOf(m.column).map(SeriesAgg("max", _))
    case _ => None
  }

  private def understoodAgg(agg: Aggregation): Option[Seq[SeriesAgg]] = {
    val groupOk = agg.groupByExpressions.toSeq.map(fieldOf) ==
      Seq(Some("symbol"))
    val cols = agg.aggregateExpressions.toSeq.map(translate)
    if (groupOk && cols.forall(_.isDefined)) Some(cols.flatten) else None
  }

  /** Complete pushdown is sound because the aggregated scan plans ONE
    * partition per symbol spanning the whole requested range — each group
    * is computed entirely inside one reader, so the scan's rows ARE the
    * final results (the quote-API "summary endpoint" shape). Spark only
    * attempts this when no residual filter remains, and every filter this
    * source accepts stays residual, so filtered reads keep the row path.
    */
  override def supportCompletePushDown(agg: Aggregation): Boolean =
    understoodAgg(agg).isDefined

  override def pushAggregation(agg: Aggregation): Boolean =
    understoodAgg(agg) match {
      case Some(cols) => aggCols = Some(cols); true
      case None => false
    }

  private def understood(f: Filter): Boolean = f match {
    case EqualTo("symbol", _) | In("symbol", _) => true
    case EqualTo("trade_date", _) => true
    case GreaterThan("trade_date", _) | GreaterThanOrEqual("trade_date", _) => true
    case LessThan("trade_date", _) | LessThanOrEqual("trade_date", _) => true
    case _ => false
  }

  /** Accept the prunable filters, but report ALL filters as residual: the
    * source uses them only to skip partitions, so Spark must still evaluate
    * each predicate exactly on the surviving rows.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(understood)
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    // in aggregate mode the output schema is fixed by the pushed agg
    if (aggCols.isEmpty) required = requiredSchema

  override def build(): Scan = aggCols match {
    case Some(cols) => new SeriesAggScan(options, pushed, cols)
    case None => new SeriesScan(options, pushed, required)
  }
}

/** Aggregated scan: one InputPartition per symbol, whole requested range;
  * the reader folds the generator stream and emits ONE row per group.
  */
class SeriesAggScan(options: Map[String, String], pushed: Array[Filter],
                    aggs: Seq[SeriesAgg]) extends Scan with Batch {
  import SeriesGen._

  private val aggSchema = StructType(
    StructField("symbol", StringType, nullable = false) +:
      aggs.zipWithIndex.map { case (a, i) =>
        val dt = a.kind match {
          case "count_star" => LongType
          case _ => schema(schema.fieldIndex(a.field)).dataType
        }
        StructField(s"agg_$i", dt, nullable = false)
      })

  override def readSchema(): StructType = aggSchema
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-series PushedAggregates: " +
      s"[${aggs.map(a => s"${a.kind}(${a.field})").mkString(", ")}], " +
      s"GroupBy: [symbol]"

  override def planInputPartitions(): Array[InputPartition] = {
    val symbols = options("symbols").split(",").map(_.trim).filter(_.nonEmpty)
    val start = LocalDate.parse(options("start")).toEpochDay.toInt
    val end = LocalDate.parse(options("end")).toEpochDay.toInt
    SeriesGen.lastPlannedPartitions = symbols.length
    SeriesGen.lastPushedAggregation = Some(description())
    symbols.map(SeriesPartition(_, start, end)).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new SeriesAggReaderFactory(aggs)
}

class SeriesAggReaderFactory(aggs: Seq[SeriesAgg])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new SeriesAggReader(partition.asInstanceOf[SeriesPartition], aggs)
}

/** Computes the pushed aggregates in one generator pass, same arithmetic as
  * the row reader (cents/100.0 per value), so results are bitwise-identical
  * to aggregating the un-pushed rows — including the empty case: a range
  * with zero weekdays yields zero rows (the un-pushed groupBy emits no
  * group for an empty partition, so neither may the pushed path).
  */
class SeriesAggReader(p: SeriesPartition, aggs: Seq[SeriesAgg])
    extends PartitionReader[InternalRow] {
  import SeriesGen._

  private var emitted = false

  override def next(): Boolean = {
    if (emitted) return false
    emitted = true
    var day = p.startDay
    while (day <= p.endDay) {
      if (isWeekday(day)) return true
      day += 1
    }
    false // empty group: no row, so min/max never read an empty fold
  }

  override def get(): InternalRow = {
    var n = 0L
    val mins = scala.collection.mutable.Map.empty[String, Any]
    val maxs = scala.collection.mutable.Map.empty[String, Any]
    def upd(m: scala.collection.mutable.Map[String, Any], f: String, v: Any,
            lt: (Any, Any) => Boolean): Unit =
      m.get(f) match {
        case Some(cur) => if (lt(v, cur)) m(f) = v
        case None => m(f) = v
      }
    val fields = aggs.collect { case SeriesAgg(k, f) if k != "count_star" => f }
    var day = p.startDay
    while (day <= p.endDay) {
      if (isWeekday(day)) {
        n += 1
        if (fields.nonEmpty) {
          val (o, h, l, c, v) = barCents(p.symbol, day)
          def value(f: String): Any = f match {
            case "trade_date" => day
            case "open" => o.toDouble / 100.0
            case "high" => h.toDouble / 100.0
            case "low" => l.toDouble / 100.0
            case "close" => c.toDouble / 100.0
            case "volume" => v
          }
          def less(a: Any, b: Any): Boolean = (a, b) match {
            case (x: Int, y: Int) => x < y
            case (x: Long, y: Long) => x < y
            case (x: Double, y: Double) => x < y
            case _ => false
          }
          fields.foreach { f =>
            upd(mins, f, value(f), less)
            upd(maxs, f, value(f), (a, b) => less(b, a))
          }
        }
      }
      day += 1
    }
    val out: Seq[Any] = UTF8String.fromString(p.symbol) +: aggs.map {
      case SeriesAgg("count_star", _) => n
      case SeriesAgg("min", f) => mins(f)
      case SeriesAgg("max", f) => maxs(f)
    }
    InternalRow.fromSeq(out)
  }

  override def close(): Unit = ()
}

class SeriesScan(options: Map[String, String], pushed: Array[Filter],
                 required: StructType) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-series PushedFilters: [${pushed.mkString(", ")}], " +
      s"ReadSchema: ${required.simpleString}"

  private def toEpochDay(v: Any): Int = (v match {
    case d: java.sql.Date => d.toLocalDate.toEpochDay
    case d: LocalDate => d.toEpochDay
    case s: String => LocalDate.parse(s).toEpochDay
    case i: Int => i.toLong
    case l: Long => l
  }).toInt

  override def planInputPartitions(): Array[InputPartition] = {
    val symbols = options("symbols").split(",").map(_.trim).filter(_.nonEmpty)
    val start = LocalDate.parse(options("start"))
    val end = LocalDate.parse(options("end"))

    // conjunction of pushed bounds (pruning-only; exactness is Spark's
    // residual filter)
    var minDay = start.toEpochDay.toInt
    var maxDay = end.toEpochDay.toInt
    var symbolSet: Option[Set[String]] = None
    pushed.foreach {
      case EqualTo("symbol", v) =>
        symbolSet = Some(symbolSet.getOrElse(Set(v.toString)) & Set(v.toString))
      case In("symbol", vs) =>
        val s = vs.map(_.toString).toSet
        symbolSet = Some(symbolSet.map(_ & s).getOrElse(s))
      case EqualTo("trade_date", v) =>
        minDay = math.max(minDay, toEpochDay(v)); maxDay = math.min(maxDay, toEpochDay(v))
      case GreaterThan("trade_date", v) => minDay = math.max(minDay, toEpochDay(v) + 1)
      case GreaterThanOrEqual("trade_date", v) => minDay = math.max(minDay, toEpochDay(v))
      case LessThan("trade_date", v) => maxDay = math.min(maxDay, toEpochDay(v) - 1)
      case LessThanOrEqual("trade_date", v) => maxDay = math.min(maxDay, toEpochDay(v))
      case _ =>
    }

    val keptSymbols = symbols.filter(s => symbolSet.forall(_.contains(s)))
    val parts = for {
      sym <- keptSymbols.toSeq
      monthStart <- Iterator.iterate(start.withDayOfMonth(1))(_.plusMonths(1))
        .takeWhile(!_.isAfter(end)).toSeq
      lo = math.max(monthStart.toEpochDay.toInt, minDay)
      hi = math.min(monthStart.plusMonths(1).minusDays(1).toEpochDay.toInt, maxDay)
      if lo <= hi
    } yield SeriesPartition(sym, lo, hi)

    SeriesGen.lastPlannedPartitions = parts.size
    SeriesGen.lastPushedFilters = pushed.toSeq
    SeriesGen.lastReadSchema = required
    parts.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new SeriesReaderFactory(required)

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new SeriesMicroBatchStream(options, pushed, required)
}

/** Streaming offset = last revealed epoch day (a quote feed's "how far the
  * market has published").
  */
case class DayOffset(day: Int) extends Offset {
  override def json(): String = day.toString
}

/** The SAME connector as a micro-batch streaming source: the declared
  * date range is revealed `maxDaysPerTrigger` days per micro-batch (a
  * bounded replay of how a live feed trickles in), one InputPartition per
  * symbol per batch, reusing the batch reader and the pushed symbol
  * pruning. Offsets are plain day counters, so restarts resume exactly.
  */
class SeriesMicroBatchStream(options: Map[String, String],
                             pushed: Array[Filter], required: StructType)
    extends MicroBatchStream {
  private val startDay = LocalDate.parse(options("start")).toEpochDay.toInt
  private val endDay = LocalDate.parse(options("end")).toEpochDay.toInt
  private val chunk = options.get("maxdayspertrigger").map(_.toInt)
    .getOrElse(endDay - startDay + 1)
  private val symbols: Seq[String] = {
    var symbolSet: Option[Set[String]] = None
    pushed.foreach {
      case EqualTo("symbol", v) =>
        symbolSet = Some(symbolSet.getOrElse(Set(v.toString)) & Set(v.toString))
      case In("symbol", vs) =>
        val s = vs.map(_.toString).toSet
        symbolSet = Some(symbolSet.map(_ & s).getOrElse(s))
      case _ =>
    }
    options("symbols").split(",").map(_.trim).filter(_.nonEmpty).toSeq
      .filter(s => symbolSet.forall(_.contains(s)))
  }

  @volatile private var revealed = startDay - 1

  override def initialOffset(): Offset = DayOffset(startDay - 1)
  override def latestOffset(): Offset = {
    revealed = math.min(endDay, revealed + chunk)
    DayOffset(revealed)
  }
  override def deserializeOffset(json: String): Offset = DayOffset(json.toInt)
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val lo = start.asInstanceOf[DayOffset].day + 1
    val hi = end.asInstanceOf[DayOffset].day
    if (lo > hi) Array.empty
    else symbols.map(SeriesPartition(_, lo, hi)).toArray
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new SeriesReaderFactory(required)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

case class SeriesPartition(symbol: String, startDay: Int, endDay: Int)
  extends InputPartition

class SeriesReaderFactory(required: StructType) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new SeriesReader(partition.asInstanceOf[SeriesPartition], required)
}

class SeriesReader(p: SeriesPartition, required: StructType)
    extends PartitionReader[InternalRow] {
  import SeriesGen._

  private var day = p.startDay - 1
  private var row: InternalRow = _

  override def next(): Boolean = {
    day += 1
    while (day <= p.endDay && !isWeekday(day)) day += 1
    if (day > p.endDay) return false
    val (o, h, l, c, v) = barCents(p.symbol, day)
    val values: Array[Any] = required.fieldNames.map {
      case "symbol" => UTF8String.fromString(p.symbol)
      case "trade_date" => day
      case "open" => o.toDouble / 100.0
      case "high" => h.toDouble / 100.0
      case "low" => l.toDouble / 100.0
      case "close" => c.toDouble / 100.0
      case "volume" => v
    }
    row = InternalRow.fromSeq(values.toSeq)
    true
  }

  override def get(): InternalRow = row
  override def close(): Unit = ()
}
