package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.olap.Frequent

/** Pins the Misra-Gries prune-then-verify contract (candidate superset,
  * partitioning invariance, exactness of the verified output) and the
  * typed Aggregator path's bitwise equality with the untyped formulation.
  */
class FrequentTypedSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def stream(parts: Int) = {
    import spark.implicits._
    // 300 'a' (30%), 150 'b', 90 'c', the rest a long tail of singletons;
    // n = 1000, so with k = 8 the true heavy hitters (> 125) are a, b
    val items = List.fill(300)("a") ++ List.fill(150)("b") ++
      List.fill(90)("c") ++ (1 to 460).map(i => s"t$i")
    items.toDF("item").repartition(parts)
  }

  test("mgCandidates: union of partition summaries covers all true heavy hitters") {
    for (parts <- Seq(1, 3, 8)) {
      val cands = Frequent.mgCandidates(stream(parts), "item", 8)
        .collect().map(_.getString(0)).toSet
      assert(cands.contains("a") && cands.contains("b"),
        s"superset violated at $parts partitions: $cands")
      // summary stays small: at most (k-1) candidates per partition
      assert(cands.size <= 7 * parts)
    }
  }

  test("heavyHitters: exactly the items with freq*k > n, any partitioning") {
    for (parts <- Seq(1, 3, 8)) {
      val got = Frequent.heavyHitters(stream(parts), "item", 8)
        .orderBy("item").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(got == Seq(("a", 300L), ("b", 150L)),
        s"wrong heavy hitters at $parts partitions: $got")
    }
  }

  test("typed Aggregator is bitwise-equal to the untyped cents formulation") {
    val sfDir = "/root/testdata/sf0.001"
    val typed = SparkEntry.queries("ds_typed_agg")(spark, sfDir).collect()
    val untyped = Tables.lineitem(spark, sfDir)
      .filter(col("l_quantity") > 10.0)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n_items"),
           (sum(graft.olap.Exact.cents(col("l_quantity"))).cast("double") /
             lit(100.0)).as("sum_qty"),
           (sum(graft.olap.Exact.cents(col("l_extendedprice")))
             .cast("double") / lit(100.0)).as("sum_price"))
      .orderBy("l_returnflag", "l_linestatus").collect()
    assert(typed.length == untyped.length && typed.nonEmpty)
    typed.zip(untyped).foreach { case (t, u) =>
      assert(t.getString(0) == u.getString(0))
      assert(t.getString(1) == u.getString(1))
      assert(t.getLong(2) == u.getLong(2))
      // bitwise: exact cents make the doubles identical, not just close
      assert(t.getDouble(3) == u.getDouble(3))
      assert(t.getDouble(4) == u.getDouble(4))
    }
  }
}
