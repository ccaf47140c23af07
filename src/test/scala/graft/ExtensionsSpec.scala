package graft

import org.scalatest.funsuite.AnyFunSuite

class ExtensionsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("custom expressions are callable from plain SQL after registration") {
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

  test("SQL and DataFrame APIs produce identical fingerprints") {
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
