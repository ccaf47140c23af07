package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins graft.plans.PresentSortRule's firing conditions: a root
  * presentation sort over a provably-small input becomes a
  * single-partition sort (no range exchange, no sampling job), a
  * large-by-stats input keeps its range exchange, interior sorts are
  * untouched, and the rewritten plan's output order is bitwise the
  * range-sorted order.
  */
class PresentSortSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("root sort over a small scan goes single-partition") {
    val df = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("n_chars"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    val p = planOf(df)
    assert(p.contains("SinglePartition"), p)
    assert(!p.contains("rangepartitioning"), p)
  }

  test("above the size gate the range exchange is kept") {
    val low = "spark.graft.presentSort.maxBytes"
    val prev = spark.conf.getOption(low)
    spark.conf.set(low, "1") // nothing is provably under 1 byte
    try {
      val df = Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("n_chars"))
        .orderBy(col("n_chars").desc, col("doc_id"))
      val p = planOf(df)
      assert(p.contains("rangepartitioning"), p)
      assert(!p.contains("REPARTITION_BY_NUM"), p)
    } finally {
      prev match {
        case Some(v) => spark.conf.set(low, v)
        case None => spark.conf.unset(low)
      }
    }
  }

  test("interior sorts (window framing) are untouched") {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
    val df = Tables.documents(spark, sfDir)
      .select(col("source"), col("doc_id"),
        row_number().over(w).as("rn"))
      .filter(col("rn") <= 3)
    // no root sort here at all — the rule must not touch the window's
    // required interior sort, and must not introduce an exchange
    val p = planOf(df)
    assert(!p.contains("REPARTITION_BY_NUM"), p)
  }

  test("a lying byte estimate is caught by the row-count signal") {
    // the r8 verdict scenario: a child whose sizeInBytes ESTIMATE
    // under-reports its true size. Schema-default widths are the
    // deterministic way to plant that lie — a string column estimates
    // ~20 bytes regardless of content, so 200k rows each carrying a
    // 1000-char payload (~200 MB real) estimate well under the 32 MB
    // byte gate. rowCount propagates from Range through Project, so the
    // two-signal gate must refuse the single-partition rewrite on the
    // row bound alone.
    // rowCount only survives the default (non-CBO) stats visitor on a
    // few node shapes; GlobalLimit is one of them AND its sizeInBytes
    // comes from schema-default widths — the planted lie. (The limit
    // must be UNDER the child's maxRows or EliminateLimits removes it.)
    val df = spark.range(0L, 200001L, 1L, 8)
      .selectExpr("id", "repeat('x', 1000) AS payload")
      .limit(150000)
      .orderBy(col("id").desc)
    val lp = df.queryExecution.optimizedPlan
    val st = lp.collectFirst {
      case s: org.apache.spark.sql.catalyst.plans.logical.Sort =>
        s.child.stats }
    assert(st.isDefined, lp.toString)
    // precondition: the estimate really does lie under the byte gate
    // while the row count is known and large — otherwise this test
    // isn't exercising the two-signal path at all
    assert(st.get.sizeInBytes <= 33554432L, st.get.toString)
    assert(st.get.rowCount.exists(_ > BigInt(131072)), st.get.toString)
    // the rewrite must NOT fire: the optimized plan keeps the GLOBAL
    // sort and gains no Repartition(1). (No rangepartitioning assert —
    // a GlobalLimit child is already single-partition, so the physical
    // planner needs no exchange either way; the logical no-rewrite is
    // the property the two-signal gate owns.)
    val sort = lp.collectFirst {
      case s: org.apache.spark.sql.catalyst.plans.logical.Sort => s }.get
    assert(sort.global, lp.toString)
    assert(!lp.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical
        .Repartition]), lp.toString)
  }

  test("known-small row count under both gates still rewrites") {
    // companion to the lying-stats case: rowCount present and SMALL must
    // not scare the rule off — the rewrite fires when both signals clear
    val df = spark.range(0L, 1000L, 1L, 8).toDF("id")
      .orderBy(col("id").desc)
    val lp = df.queryExecution.optimizedPlan
    val st = lp.collectFirst {
      case s: org.apache.spark.sql.catalyst.plans.logical.Sort =>
        s.child.stats }
    assert(st.exists(_.rowCount.contains(BigInt(1000))), lp.toString)
    val p = planOf(df)
    assert(p.contains("SinglePartition"), p)
    assert(!p.contains("rangepartitioning"), p)
  }

  test("a sort over a single-partition child is left alone") {
    // known-small rows clear both gates, so only the child's single
    // partition keeps the rule from adding a second one-partition shuffle
    val df = spark.range(0L, 1000L, 1L, 8).toDF("id")
      .repartition(1)
      .withColumn("x", col("id") * 2)
      .filter(col("x") > 10)
      .orderBy(col("id").desc)
    val lp = df.queryExecution.optimizedPlan
    val sort = lp.collectFirst {
      case s: org.apache.spark.sql.catalyst.plans.logical.Sort => s }.get
    assert(sort.global, lp.toString)
    assert(lp.collect {
      case r: org.apache.spark.sql.catalyst.plans.logical.Repartition => r
    }.size == 1, lp.toString)
    val p = planOf(df)
    assert("Exchange".r.findAllIn(p).size == 1, p)
    assert(!p.contains("rangepartitioning"), p)
    assert(df.collect().map(_.getLong(0)).toSeq ==
      (999L to 6L by -1L))
  }

  test("rewritten output order is bitwise the range-sorted order") {
    val q = Tables.documents(spark, sfDir)
      .groupBy("source").agg(count(lit(1)).as("n"),
        sum("n_chars").as("sc"))
      .orderBy(col("n").desc, col("source"))
    val got = q.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2)))
    // reference order computed on the driver from the same rows
    val want = got.sortBy { case (s, n, _) => (-n, s) }
    assert(got.toSeq == want.toSeq)
    assert(planOf(q).contains("SinglePartition"))
  }
}
