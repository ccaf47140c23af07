package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-6 batch 5: exact sliding-window distinct (WAU), path-motif
  * census, historical VaR/CVaR, truss support — brute-force replays on
  * the sf0.001 base rows.
  */
class MotifRiskSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  private lazy val coEdges: Set[(Long, Long)] = {
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_partkey")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    li.groupBy(_._1).toSeq.flatMap { case (_, rows) =>
      val ps = rows.map(_._2).distinct.sorted.toSeq
      for (a <- ps; b <- ps if a < b) yield (a, b)
    }.toSet
  }

  private lazy val triangles: Seq[(Long, Long, Long)] = {
    val adj = coEdges.toSeq.flatMap(e => Seq(e._1 -> e._2, e._2 -> e._1))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    coEdges.toSeq.flatMap { case (u, v) =>
      (adj(u) intersect adj(v)).filter(w => w > v)
        .map(w => (u, v, w)) // u < v < w exactly once
    }
  }

  test("wau sliding distinct: brute 7-day window replay, every day") {
    val out = SparkEntry.queries("olap_wau_sliding_distinct")(spark, sfDir)
      .collect()
      .map(r => r.getAs[java.sql.Date]("day").toLocalDate ->
        r.getAs[Long]("wau"))
    val ud = Tables.events(spark, sfDir)
      .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
      .collect()
      .map(r => (r.getLong(0), r.getAs[java.sql.Date]("d").toLocalDate))
    val days = out.map(_._1)
    assert(days.toSeq == days.toSeq.sorted)
    // exhaustive day axis: contiguous from min to max active day
    assert(days.head == ud.map(_._2).min(Ordering.by((d: java.time.LocalDate)
      => d.toEpochDay)))
    out.foreach { case (day, wau) =>
      val brute = ud.filter { case (_, d) =>
        !d.isAfter(day) && !d.isBefore(day.minusDays(6))
      }.map(_._1).distinct.length.toLong
      assert(wau == brute, day)
    }
    // and on a synthetic sparse pattern where the difference array is
    // genuinely exercised (gaps > window, re-entries, singleton days)
    import spark.implicits._
    val syn = Seq(
      (1L, "2024-01-01"), (1L, "2024-01-02"), (1L, "2024-01-20"),
      (2L, "2024-01-05"), (3L, "2024-01-01"), (3L, "2024-01-09"),
      (3L, "2024-01-10")).toDF("user_id", "ds")
      .select(col("user_id"), to_timestamp(col("ds")).as("ts"),
        lit(1L).as("event_id"), lit("x").as("event_type"),
        lit(1.0).as("value"), lit("").as("props"))
    val tmp = graft.io.WorkDir.create("wau").toString
    syn.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val sout = SparkEntry.queries("olap_wau_sliding_distinct")(spark, tmp)
      .collect()
      .map(r => r.getAs[java.sql.Date]("day").toLocalDate.getDayOfMonth ->
        r.getAs[Long]("wau")).toMap
    // day 1: users 1,3; day 5: 1,2,3 in window; day 8: 2 (1,3 aged out at
    // 8? window [2..8] holds u1(d2), u2(d5), u3(d1 out) -> 2); day 11:
    // window [5..11] holds u2(d5), u3(d9,d10) -> 2; day 16: window
    // [10..16] holds u3(d10) -> 1; day 20: u1 re-enters -> 2? window
    // [14..20] holds u1(d20) only -> 1
    assert(sout(1) == 2L && sout(5) == 3L && sout(8) == 2L)
    assert(sout(11) == 2L && sout(16) == 1L && sout(20) == 1L)
  }

  test("path3 census: brute motif counts from the collected edge set") {
    val out = SparkEntry.queries("graph_path3_census")(spark, sfDir)
      .collect()
    assert(out.length == 1)
    val r = out.head
    val deg = coEdges.toSeq.flatMap(e => Seq(e._1, e._2))
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val wedges = deg.values.map(d => d * (d - 1) / 2).sum
    val p3 = coEdges.toSeq.map { case (u, v) =>
      (deg(u) - 1) * (deg(v) - 1)
    }.sum - 3 * triangles.size.toLong
    assert(r.getAs[Long]("n_nodes") == deg.size.toLong)
    assert(r.getAs[Long]("n_edges") == coEdges.size.toLong)
    assert(r.getAs[Long]("n_wedges") == wedges)
    assert(r.getAs[Long]("n_triangles") == triangles.size.toLong)
    assert(r.getAs[Long]("n_path3") == p3)
    // motif identity sanity: wedges = open P2 count >= 3*triangles
    assert(wedges >= 3 * triangles.size.toLong && p3 > 0)
  }

  test("var/cvar: brute positional tail replay per series") {
    val out = SparkEntry.queries("ts_var_cvar")(spark, sfDir)
      .collect().map(r => r.getAs[String]("event_type") -> r).toMap
    val bars = Tables.events(spark, sfDir)
      .groupBy(col("event_type"), to_date(col("ts")).as("date"))
      .agg(max_by(graft.olap.Exact.cents(col("value")), col("ts")).as("c"))
      .collect()
      .map(r => (r.getString(0), r.getAs[java.sql.Date](1).toString,
        r.getLong(2)))
    bars.groupBy(_._1).foreach { case (et, rows) =>
      val cs = rows.sortBy(_._2).map(_._3)
      val rets = cs.zip(cs.tail).map { case (p, c) =>
        math.floor((c - p).toDouble / p.toDouble * 1048576.0).toLong
      }.sorted
      val n = rets.length.toLong
      val kk = (n * 5 + 99) / 100
      val tail = rets.take(kk.toInt)
      val r = out(et)
      assert(r.getAs[Long]("n_days") == n, et)
      assert(r.getAs[Long]("n_tail") == kk, et)
      assert(r.getAs[Long]("var_q20") == tail.max, et)
      assert(r.getAs[Double]("cvar_5pct") ==
        tail.sum.toDouble / kk.toDouble / 1048576.0, et)
      // CVaR is never better than VaR (tail mean <= tail max)
      assert(r.getAs[Double]("cvar_5pct") <= r.getAs[Double]("var_5pct"), et)
    }
  }

  test("truss support: brute per-edge triangle counts, full histogram") {
    val out = SparkEntry.queries("graph_truss_support")(spark, sfDir)
      .collect().map(r => r.getAs[Long]("support") ->
        r.getAs[Long]("n_edges")).toMap
    val sup = scala.collection.mutable.Map.empty[(Long, Long), Long]
      .withDefaultValue(0L)
    triangles.foreach { case (x, y, z) =>
      sup((x, y)) += 1; sup((x, z)) += 1; sup((y, z)) += 1
    }
    val hist = coEdges.toSeq.map(e => sup(e)).groupBy(identity)
      .map { case (k, v) => k -> v.size.toLong }
    assert(out == hist)
    // the histogram covers every edge exactly once
    assert(out.values.sum == coEdges.size.toLong)
  }
}
