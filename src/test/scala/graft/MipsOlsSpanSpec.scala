package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-6 batch 10: norm-pruned MIPS, two-factor OLS, sliding-span dedup
  * — brute-force replays on the sf0.001 base rows.
  */
class MipsOlsSpanSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  test("mips: pruned result equals exhaustive max-inner-product top-5") {
    val out = SparkEntry.queries("sim_mips_norm_pruned")(spark, sfDir)
      .collect()
    val vecs = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    val n = vecs.length
    for (qid <- vecs.map(_._1).filter(_ < 10)) {
      val eq = vecs.find(_._1 == qid).get._2
      val exact = vecs.filter(_._1 != qid)
        .map { case (id, ex) => (id, dot(eq, ex)) }
        .sortBy { case (id, d) => (-d, id) }.take(5)
      val got = out.filter(_.getAs[Long]("query_id") == qid)
        .sortBy(_.getAs[Int]("rank"))
      assert(got.length == 5, s"q$qid")
      exact.zip(got).foreach { case ((id, d), r) =>
        assert(r.getAs[Long]("vec_id") == id, s"q$qid")
        assert(r.getAs[Double]("dot") == d, s"q$qid") // bitwise
      }
      // the prune is real AND safe: fewer candidates than the corpus,
      // never fewer than k
      val nc = got.head.getAs[Long]("n_candidates")
      assert(nc >= 5 && nc <= (n - 1).toLong, s"q$qid nc=$nc")
    }
  }

  test("ols: exact BigInt Cramer replay of the ppm coefficients") {
    val out = SparkEntry.queries("agg_ols_two_factor")(spark, sfDir)
      .collect()
    assert(out.length == 1)
    val days = Tables.events(spark, sfDir)
      .groupBy(to_date(col("ts")).as("dt"))
      .agg(
        sum(when(col("event_type") === "click", 1L).otherwise(0L))
          .as("x1"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L))
          .as("x2"),
        sum(when(col("event_type") === "purchase",
          graft.olap.Exact.cents(col("value"))).otherwise(0L)).as("y"))
      .collect()
      .map(r => (BigInt(r.getAs[Long]("x1")), BigInt(r.getAs[Long]("x2")),
        BigInt(r.getAs[Long]("y"))))
    val n = BigInt(days.length)
    val s1 = days.map(_._1).sum; val s2 = days.map(_._2).sum
    val sy = days.map(_._3).sum
    val c11 = n * days.map(d => d._1 * d._1).sum - s1 * s1
    val c22 = n * days.map(d => d._2 * d._2).sum - s2 * s2
    val c12 = n * days.map(d => d._1 * d._2).sum - s1 * s2
    val cy1 = n * days.map(d => d._1 * d._3).sum - s1 * sy
    val cy2 = n * days.map(d => d._2 * d._3).sum - s2 * sy
    val cyy = n * days.map(d => d._3 * d._3).sum - sy * sy
    val det = c11 * c22 - c12 * c12
    val b1 = (BigInt(1000000) * (cy1 * c22 - cy2 * c12)) / det
    val b2 = (BigInt(1000000) * (c11 * cy2 - c12 * cy1)) / det
    val r = out.head
    assert(r.getAs[Long]("n_days") == n.toLong)
    assert(BigInt(r.getAs[Long]("beta1_ppm")) == b1)
    assert(BigInt(r.getAs[Long]("beta2_ppm")) == b2)
    assert(BigInt(r.getAs[Long]("alpha_ppm_cents")) ==
      (BigInt(1000000) * sy - b1 * s1 - b2 * s2) / n)
    assert(BigInt(r.getAs[Long]("r2_ppm")) == (b1 * cy1 + b2 * cy2) / cyy)
    // the normal equations actually hold at the q6 lattice: the exact
    // rational solution reproduced in doubles agrees to ~1 ppm
    val b1d = r.getAs[Double]("beta1")
    val b1x = (cy1 * c22 - cy2 * c12).toDouble / det.toDouble
    assert(math.abs(b1d - b1x) <= 1e-6 * (1.0 + math.abs(b1x)))
    val r2 = r.getAs[Long]("r2_ppm")
    assert(r2 >= 0L && r2 <= 1000000L)
  }

  test("sliding span: per-doc cross-doc duplication replay") {
    val out = SparkEntry.queries("dedup_sliding_span")(spark, sfDir)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .filter(_._2.length >= 32)
    val spans = docs.flatMap { case (id, t) =>
      (0 to (t.length - 32) / 8).map(i => (id, t.substring(i * 8, i * 8 + 32)))
    }
    val docsOf = spans.groupBy(_._2).map { case (sp, xs) =>
      sp -> xs.map(_._1).distinct.size
    }
    assert(out.size == docs.length)
    docs.foreach { case (id, _) =>
      val mine = spans.filter(_._1 == id)
      val nDup = mine.count(s => docsOf(s._2) > 1).toLong
      val r = out(id)
      assert(r.getAs[Long]("n_spans") == mine.length.toLong, s"doc$id")
      assert(r.getAs[Long]("n_dup") == nDup, s"doc$id")
      assert(r.getAs[Double]("dup_ratio") ==
        nDup.toDouble / mine.length.toDouble, s"doc$id")
    }
    // a SHIFTED duplicate is visible to the stride-8 overlap in a way a
    // fixed 64-char grid can't be: the span alphabet is position-free
    // (the same 32 chars match at ANY 8-aligned offset in another doc)
    assert(spans.map(_._2).forall(_.length == 32))
  }
}
