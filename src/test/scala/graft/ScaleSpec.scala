package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ScaleSpec extends AnyFunSuite {
  import graft.inc.PartitionedSink
  import graft.olap.SkewJoin
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  test("year-partitioned sink prunes partitions under a date predicate") {
    val dir = graft.io.WorkDir.create("graft_part").toString
    val li = Tables.lineitem(spark, sf)
      .withColumn("ship_date", to_date(col("l_shipdate")))
    PartitionedSink.writeYearPartitioned(
      li.select("l_orderkey", "l_quantity", "ship_date"), "ship_date", dir)
    val pruned = PartitionedSink.read(spark, s"$dir")
      .filter(col("part_year") === 1996)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(part_year")
      || plan.contains("PartitionFilters: [(part_year"))
    // pruning is real: only 1996 rows come back, matching the unpartitioned
    // filter count
    val want = li.filter(year(col("ship_date")) === 1996).count()
    assert(pruned.count() == want && want > 0)
  }

  test("bucketed tables join with zero shuffle exchanges") {
    import graft.olap.Bucketing
    val li = Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
    val ord = Tables.orders(spark, sf).select("o_orderkey", "o_totalprice")
    val tmp = graft.io.WorkDir.create("graft_bucket").toString
    Bucketing.writeBucketed(li, "graft_li_b", "l_orderkey", 8,
      Some(s"$tmp/li"))
    Bucketing.writeBucketed(ord, "graft_ord_b", "o_orderkey", 8,
      Some(s"$tmp/ord"))
    val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = Bucketing.table(spark, "graft_li_b")
        .join(Bucketing.table(spark, "graft_ord_b"),
              col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"))
      assert(!plan.contains("Exchange"), s"unexpected shuffle in:\n$plan")
      // and it still returns the right rows
      assert(joined.count() ==
        li.join(ord, col("l_orderkey") === col("o_orderkey")).count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
  }

  test("salted join is bit-identical to the plain join on skewed data") {
    import spark.implicits._
    // 90% of big-side rows share one key — the pathological case
    val big = (1 to 2000).map(i =>
      (if (i % 10 == 0) i.toLong % 7 else 42L, i.toLong)).toDF("k", "payload")
    val small = Seq((42L, "hot"), (0L, "a"), (1L, "b"), (2L, "c"),
                    (3L, "d"), (4L, "e"), (5L, "f"), (6L, "g"))
      .toDF("k", "v")
    val plain = big.join(small, Seq("k")).orderBy("k", "payload")
    val salted = SkewJoin.saltedJoin(big, small, Seq("k"), salts = 8)
      .orderBy("k", "payload")
    assert(plain.exceptAll(salted).count() == 0)
    assert(salted.exceptAll(plain).count() == 0)
    assert(salted.count() == plain.count())
  }
}
