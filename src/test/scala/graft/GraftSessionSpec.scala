package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** `GraftSession.build` is the one install path of `GraftExtensions`: the
  * built session and every session derived from it resolve the SQL
  * functions and run `PresentSortRule` with no further install call.
  */
class GraftSessionSpec extends AnyFunSuite {
  private val sfDir = "/root/testdata/sf0.001"

  /** One plain-SQL call of each `GraftExtensions` function. */
  private val calls = Map(
    "busday_count" -> "busday_count(DATE'1995-12-20', DATE'1996-01-05')",
    "char_fold_hash" -> "char_fold_hash('abc')",
    "doc_fingerprint" -> "doc_fingerprint('the quick brown fox jumps')",
    "simhash32" -> "simhash32('alpha beta gamma')",
    "minhash_signature" -> "minhash_signature('one two three four')",
    "lsh_band_keys" -> "lsh_band_keys('one two three four')",
    "vec_dot" -> ("vec_dot(array(CAST(1.0 AS FLOAT)), " +
      "array(CAST(3.0 AS FLOAT)))"),
    "gram_hashes" -> "gram_hashes('one two three')",
    "jaccard_sorted" -> "jaccard_sorted(array(1L, 3L), array(3L))",
    "intersect_count_sorted" ->
      "intersect_count_sorted(array(1L, 3L), array(3L))",
    "text_stats" -> "text_stats('one two three')",
    "log2_fp" -> "log2_fp(CAST(1000 AS BIGINT))",
    "hll_sketch" -> "hll_sketch(id)",
    "hll_merge" -> "hll_merge(sk)",
    "hll_estimate" -> "hll_estimate(m)",
    "hll_zero_regs" -> "hll_zero_regs(m)")

  private def checkInstalled(spark: SparkSession): Unit = {
    assert(calls.keySet == GraftExtensions.functions.map(_._1).toSet)
    val scalars = calls.keys.toSeq
      .filterNot(Set("hll_sketch", "hll_merge"))
      .sorted.map(n => s"${calls(n)} AS $n").mkString(", ")
    val row = spark.sql(
      s"""SELECT $scalars FROM (
            SELECT ${calls("hll_merge")} AS m FROM (
              SELECT ${calls("hll_sketch")} AS sk FROM range(100)))""")
      .collect().head
    assert(row.getAs[Long]("intersect_count_sorted") == 1L)
    assert(row.getAs[Long]("log2_fp") ==
      graft.functions.FixedLog2.log2fp(1000L))
    // a small root sort runs single-partition: PresentSortRule is in
    val p = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("n_chars"))
      .orderBy(col("n_chars").desc, col("doc_id"))
      .queryExecution.executedPlan.toString
    assert(p.contains("SinglePartition"), p)
    assert(!p.contains("rangepartitioning"), p)
    assert(presentSortRules(spark) == 1)
  }

  private def presentSortRules(spark: SparkSession): Int =
    spark.sessionState.optimizer.batches.flatMap(_.rules)
      .count(_ eq graft.plans.PresentSortRule)

  test("the built session and its newSession carry GraftExtensions") {
    val spark = GraftSession.build(4)
    checkInstalled(spark)
    checkInstalled(spark.newSession())
  }

  test("building twice in one JVM installs PresentSortRule once") {
    val a = GraftSession.build(4)
    val b = GraftSession.build(4)
    assert(a eq b, "getOrCreate should hand back the live session")
    assert(presentSortRules(b) == 1)
  }
}
