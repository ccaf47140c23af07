package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One `SparkEntry` query: its name, the Spark closure `(spark, sfDir)`
  * that builds its result, and the DuckDB SQL that must reproduce that
  * result bitwise over the same parquet tables. `oracle` is `None` only for
  * a by-design exemption (the lossy JPEG round-trips, see
  * `SparkEntry.oracleExempt`).
  */
final case class Query(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Query {

  /** `qs` unchanged, or an IllegalArgumentException naming every name that
    * occurs more than once — a map built from `qs` would otherwise keep
    * one of the duplicates with no warning.
    */
  def requireDistinct(qs: Seq[Query]): Seq[Query] = {
    val dups = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty,
      s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    qs
  }
}
