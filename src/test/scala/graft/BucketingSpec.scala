package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.olap.Layout

/** Bucketed layout: the join over two tables bucketed+sorted on the key
  * must plan with no exchange and no sort on either join side.
  */
class BucketingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  private def withNoBroadcast[T](f: => T): T = {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try f finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("bucketed equi-join plans exchange-free on both sides") {
    withNoBroadcast {
      val orders = Layout.writeBucketed(spark,
        Tables.orders(spark, sf).select("o_orderkey", "o_custkey", "o_totalprice"),
        "orders_b_spec", "o_custkey", 4)
      val cust = Layout.writeBucketed(spark,
        Tables.customer(spark, sf).select("c_custkey", "c_mktsegment"),
        "customer_b_spec", "c_custkey", 4)

      val joined = orders.join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"))
      joined.collect()
      // AdaptiveSparkPlan.toString prints Final AND Initial sections; the
      // assertions are about the final (executed) plan only
      val plan = joined.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head

      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      // the ONLY exchange in the whole plan is the final 5-group agg; both
      // join inputs come up hash-clustered from the bucketed scans
      assert("Exchange (hash|range|Single)".r.findAllIn(plan).size == 1,
        s"join sides must not shuffle:\n$plan")
      assert("Bucketed: true".r.findAllIn(plan).size == 2,
        s"both scans must be bucketed:\n$plan")
      // the join-side Sorts that remain are partition-local (global=false
      // — Spark does not propagate bucket sortBy metadata, SPARK-19256);
      // the point of the layout is that no Exchange feeds them
      assert("Sort \\[[oc]_custkey\\S* ASC NULLS FIRST\\], false"
        .r.findAllIn(plan).size == 2, s"sorts must be partition-local:\n$plan")
    }
  }

  test("partition predicate prunes directories, not rows") {
    val df = SparkEntry.queries("layout_partition_prune")(spark, sf)
    df.collect()
    val scan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // the event_type predicate must be a PartitionFilter on the scan —
    // directory pruning at planning time, not a row-level data filter
    val partFilters = "PartitionFilters: \\[[^\\]]*\\]".r
      .findFirstIn(scan).getOrElse("")
    assert(partFilters.contains("event_type") &&
           partFilters.contains("purchase"),
      s"expected partition-pruning predicate, got '$partFilters' in:\n$scan")
    val pushed = "PushedFilters: \\[[^\\]]*\\]".r.findFirstIn(scan).getOrElse("")
    assert(!pushed.contains("purchase"),
      s"predicate must prune partitions, not rows: '$pushed'")
  }

  test("compaction collapses splinter files and preserves content exactly") {
    val base = graft.io.WorkDir.create("graft_compact_spec").toString
    val ev = Tables.events(spark, sf).select("event_id", "event_type", "value")
    ev.repartition(64).write.mode("overwrite").parquet(s"$base/frag")
    def parquetFiles(d: String) =
      new java.io.File(d).listFiles().count(_.getName.endsWith(".parquet"))
    assert(parquetFiles(s"$base/frag") == 64)
    val rows = ev.count()
    val target = 400L // sf0.001 events = 1000 rows -> expect 3 files
    val written = graft.olap.Layout.compactSmallFiles(
      spark, spark.read.parquet(s"$base/frag"), s"$base/compact", target)
    val expectFiles = ((rows + target - 1) / target).toInt
    assert(written == expectFiles && written < 64,
      s"wrote $written files, expected $expectFiles")
    assert(parquetFiles(s"$base/compact") == written)
    // content integrity: identical multiset of rows
    val a = ev.orderBy("event_id").collect().toSeq
    val b = spark.read.parquet(s"$base/compact")
      .select("event_id", "event_type", "value")
      .orderBy("event_id").collect().toSeq
    assert(a == b)
  }

  test("bucketed join result equals the plain join, bitwise") {
    val plain = Tables.orders(spark, sf)
      .join(Tables.customer(spark, sf),
            col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_orders"),
           sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
             .as("revenue"))
      .orderBy("c_mktsegment")
    val bucketed = SparkEntry.queries("layout_bucketed_join")(spark, sf)
    assert(bucketed.collect().toSeq == plain.collect().toSeq)
  }
}
