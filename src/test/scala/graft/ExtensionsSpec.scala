package graft

import org.scalatest.funsuite.AnyFunSuite

class ExtensionsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("custom expressions are callable from plain SQL after registration") {
    GraftExtensions.registerAll(spark)
    val row = spark.sql(
      """SELECT busday_count(DATE'1995-12-20', DATE'1996-01-05') AS bd,
                doc_fingerprint('the quick brown fox jumps') AS fp,
                char_fold_hash('abc') AS cf,
                simhash32('alpha beta gamma') AS sh,
                size(minhash_signature('one two three four five')) AS sig_k,
                size(lsh_band_keys('one two three four five')) AS n_bands,
                vec_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
                        array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS dot,
                intersect_count_sorted(array(1L, 3L, 5L, 7L),
                                       array(3L, 4L, 5L)) AS ic
      """).collect()(0)
    assert(row.getAs[Int]("bd") == 10) // numpy-verified golden value
    // char_fold_hash('abc') = ((97*31+98)*31+99) % (2^31-1)
    assert(row.getAs[Long]("cf") == ((97L * 31 + 98) * 31 + 99) % 2147483647L)
    assert(row.getAs[Int]("sig_k") == 16)
    assert(row.getAs[Int]("n_bands") == 4)
    assert(row.getAs[Double]("dot") == 11.0)
    assert(row.getAs[Long]("ic") == 2L) // {3, 5}
    assert(row.getAs[Long]("fp") != 0L && row.getAs[Long]("sh") != 0L)
  }

  test("optimizer rule rewrites size(array_intersect) over gram hashes") {
    import org.apache.spark.sql.functions._
    import graft.dedup.NgramJaccard
    if (!spark.experimental.extraOptimizations
          .contains(graft.plans.IntersectCountRewrite))
      spark.experimental.extraOptimizations ++=
        Seq(graft.plans.IntersectCountRewrite)
    // parquet input, not a local Seq: a LocalRelation constant-folds to
    // literals before extraOptimizations run and hides the rewrite
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .filter(col("doc_id") < 50)
    def composable = docs.select(col("doc_id"),
      size(array_intersect(
        NgramHashesFixture.grams(col("text")),
        NgramHashesFixture.grams(concat(col("text"), lit(" two three")))))
        .as("n"))
    val opt = composable.queryExecution.optimizedPlan.toString
    assert(opt.contains("intersect_count_sorted"),
      s"rewrite did not fire:\n$opt")
    assert(!opt.contains("array_intersect"))
    // and the rewritten plan returns the counts the direct merge-count
    // expression computes
    val direct = docs.select(col("doc_id"),
      NgramJaccard.intersect_count_sorted(
        NgramHashesFixture.grams(col("text")),
        NgramHashesFixture.grams(concat(col("text"), lit(" two three"))))
        .cast("int").as("n"))
    assert(composable.orderBy("doc_id").collect().toSeq ==
      direct.orderBy("doc_id").collect().toSeq)
  }

  private object NgramHashesFixture {
    import org.apache.spark.sql.Column
    def grams(c: Column): Column =
      graft.dedup.NgramJaccard.gram_hashes(c, 2)
  }

  test("registerAll installs only missing functions") {
    GraftExtensions.registerAll(spark)
    // a second call (two queries of one Verify run both register) must
    // replace nothing, so Spark logs no "replaced a previously registered
    // function" warning
    val (_, log) = SparkProbes.captureLog(
      "org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry") {
      GraftExtensions.registerAll(spark)
    }
    assert(log.isEmpty, log)
    val registry = spark.sessionState.functionRegistry
    assert(GraftExtensions.functions.forall { case (name, _, _) =>
      registry.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier(name)) })
  }

  test("SQL and DataFrame APIs produce identical fingerprints") {
    GraftExtensions.registerAll(spark)
    val viaSql = spark.sql(
      "SELECT doc_fingerprint('spark catalyst tungsten codegen rocks') AS f")
      .first().getLong(0)
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val viaDf = graft.text.TextAnalysis.withFingerprint(
        Seq("spark catalyst tungsten codegen rocks").toDF("text"))
      .select(col("fingerprint")).first().getLong(0)
    assert(viaSql == viaDf)
  }
}
