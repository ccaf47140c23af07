package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.ts.Ohlc

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 (and the north-star
  * extensions) is exposed as a `queries` entry `(spark, sfDir) => DataFrame`
  * with a DuckDB-equivalent `oracleSql`. Column names are lowercase
  * snake_case on both sides (the driver's compare sorts columns by name);
  * every query imposes a deterministic total row order on both sides; and
  * double aggregates go through exact decimal sums cast back to double so
  * results are bitwise-reproducible regardless of partitioning/accumulation
  * order (see graft.ts.Ohlc.withSma doc).
  */
object SparkEntry {

  /** Flagship query (SURVEY.md §7.1): tick stream → daily OHLC bars for a
    * price series and an FX series → inner join on date → price in second
    * currency, banker's-rounded → trailing SMAs. Driver smoke-checks rows>0
    * on sf0.001.
    */
  def entry(spark: SparkSession): DataFrame =
    flagship(spark, "/root/testdata/sf0.001")

  private def flagship(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val price = Ohlc.dailyBars(ev.filter(col("event_type") === "purchase"))
    val fx = Ohlc.dailyBars(ev.filter(col("event_type") === "view"))
    // the price-side series key rides through the join so the SMA windows
    // partition on a real data column (see Ohlc.ccyDerive carryCols)
    val derived = Ohlc.ccyDerive(price, fx, carryCols = Seq("event_type"))
    val s5 = Ohlc.withSma(derived, 5, Seq("event_type"), "date",
      "close_price_ccy")
    Ohlc.withSma(s5, 20, Seq("event_type"), "date", "close_price_ccy")
      .select("date", "close_price_usd", "close_rate", "close_price_ccy",
              "sma_5", "sma_20")
      .orderBy("date")
  }

  /** Every query, one `Query` record each, from the graft.queries.* family
    * modules. A name may occur once; the contract maps below are
    * derived from this Seq, so each query's closure and oracle cannot fall
    * out of step.
    */
  private[graft] lazy val all: Seq[Query] = Query.requireDistinct(
    graft.queries.TsQueries.all ++
      graft.queries.AggQueries.all ++
      graft.queries.TextSimQueries.all ++
      graft.queries.GraphOlapQueries.all ++
      graft.queries.StreamIngestQueries.all ++
      graft.queries.WarehouseQueries.all)

  private lazy val byName = all.map(q => q.name -> q.run).toMap

  private lazy val sqlByName =
    all.collect { case Query(n, _, Some(sql)) => n -> sql }.toMap

  /** Each query's closure `(spark, sfDir) => DataFrame`, by name. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = byName

  /** The queries exempt from the oracle BY DESIGN, not by omission — the
    * records whose oracle is `None`: the lossy JPEG round-trips (JPEG's
    * IDCT is spec'd with a tolerance, so no SQL can replay the decoded
    * pixels bitwise) carry the spec-checked determinism/fidelity contract
    * instead (PropertySpec). graft.Verify writes it into each round's
    * ledger (VERIFY_r{N}.json), and OhlcSpec pins the set exactly, so an
    * omitted oracle fails a test.
    */
  lazy val oracleExempt: Set[String] =
    all.collect { case Query(n, _, None) => n }.toSet

  /** For each key in queries outside oracleExempt, equivalent ANSI SQL
    * runnable by DuckDB on the same parquet tables.
    */
  def oracleSql: Map[String, String] = sqlByName
}
