package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.FixedLog2.log2fp

/** Round-6 batch 8: capture–recapture, audio spectral flatness,
  * cointegration screen, contrastive pair sampling — brute-force
  * replays on the sf0.001 base rows.
  */
class CaptureFlatnessSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def spreadHash(s: String): Long = {
    val h0 = s.foldLeft(0L)((a, c) => (a * 31 + c.toLong) % 2147483647L)
    val h1 = (h0 * 1103515245L + 12345L) % 2147483647L
    val h2 = (h1 * h1) % 2147483647L
    (h2 * 69069L + 362437L) % 2147483647L
  }

  test("capture-recapture: first/last-day capture replay per type") {
    val out = SparkEntry.queries("agg_capture_recapture")(spark, sfDir)
      .collect().map(r => r.getAs[String]("event_type") -> r).toMap
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), col("user_id"),
        date_format(to_date(col("ts")), "yyyy-MM-dd").as("d")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    val (mn, mx) = (ev.map(_._3).min, ev.map(_._3).max)
    ev.groupBy(_._1).foreach { case (et, rows) =>
      val byUser = rows.groupBy(_._2)
      val n1 = byUser.count(_._2.exists(_._3 == mn)).toLong
      val n2 = byUser.count(_._2.exists(_._3 == mx)).toLong
      val m12 = byUser.count(u =>
        u._2.exists(_._3 == mn) && u._2.exists(_._3 == mx)).toLong
      val r = out(et)
      assert(r.getAs[Long]("n1") == n1, et)
      assert(r.getAs[Long]("n2") == n2, et)
      assert(r.getAs[Long]("m12") == m12, et)
      assert(r.getAs[Long]("n_true") == byUser.size.toLong, et)
      if (m12 > 0) {
        assert(r.getAs[Long]("n_hat") == n1 * n2 / m12, et)
        // the estimator is anchored by its marginals
        assert(r.getAs[Long]("n_hat") >= math.max(n1, n2), et)
      }
    }
  }

  test("audio flatness: energy/log replay, flatness never positive") {
    val out = SparkEntry.queries("mm_audio_flatness")(spark, sfDir)
      .collect().map(r => r.getAs[Long]("media_id") -> r).toMap
    val docs = Tables.documents(spark, sfDir)
      .filter(col("doc_id") < 200)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    docs.take(25).foreach { case (id, text) =>
      val bytes = text.getBytes("UTF-8")
      val nWin = if (bytes.length == 0) 0 else (bytes.length - 1) / 32 + 1
      val energies = (0 until nWin).map { i =>
        val start = i * 32
        val end = math.min(start + 64, bytes.length)
        (start until end).map { j =>
          val s = (bytes(j) & 0xff) - 128; s.toLong * s
        }.sum
      }
      val nz = energies.filter(_ > 0)
      val r = out(id)
      assert(r.getAs[Long]("n_windows") == nz.size.toLong, id)
      assert(r.getAs[Long]("n_zero_windows") ==
        energies.count(_ == 0).toLong, id)
      val expect = nz.map(log2fp).sum / nz.size - log2fp(nz.sum / nz.size)
      assert(r.getAs[Long]("flatness_log2_q20") == expect, id)
    }
    // AM-GM: geometric mean never exceeds arithmetic -> flatness <= ~0
    // (lattice floor rounding can leak at most a few ulps above zero)
    assert(out.values.forall(_.getAs[Long]("flatness_log2_q20") <= 2L))
    // and the corpus genuinely varies (not all identical flatness)
    assert(out.values.map(_.getAs[Long]("flatness_log2_q20")).toSet.size > 10)
  }

  test("cointegration screen: exact BigInt regression/residual replay") {
    val out = SparkEntry.queries("ts_cointegration_screen")(spark, sfDir)
      .collect()
    assert(out.length == 1)
    val days = Tables.events(spark, sfDir)
      .select(date_format(to_date(col("ts")), "yyyy-MM-dd").as("d"),
        col("event_type"), graft.olap.Exact.cents(col("value")).as("cc"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (_, rows) =>
        (rows.filter(_._2 == "purchase").map(_._3).sum,
         rows.filter(_._2 == "view").map(_._3).sum)
      }
    val n = days.size.toLong
    val sx = days.map(_._2).sum; val sy = days.map(_._1).sum
    val sxx = days.map(d => BigInt(d._2) * d._2).sum
    val sxy = days.map(d => BigInt(d._2) * d._1).sum
    val bnum = n * sxy - BigInt(sx) * sy
    val bden = n * sxx - BigInt(sx) * sx
    val rs = days.map { case (y, x) =>
      ((n * bden * y - bden * sy - bnum * (n * BigInt(x) - sx))
        / (bden * n)).toLong // BigInt / truncates toward zero, like DIV
    }
    val pairs = rs.zip(rs.tail).map { case (pr, r) => (r, pr) }
    val np = pairs.size.toLong
    val sr = pairs.map(_._1).sum; val sp = pairs.map(_._2).sum
    val srp = pairs.map(p => BigInt(p._1) * p._2).sum.toLong
    val srr = pairs.map(p => BigInt(p._1) * p._1).sum.toLong
    val spp = pairs.map(p => BigInt(p._2) * p._2).sum.toLong
    val r = out.head
    assert(r.getAs[Long]("n_days") == n)
    assert(r.getAs[Long]("beta_q16") == (65536 * bnum / bden).toLong)
    assert(r.getAs[Long]("n_pairs") == np)
    assert(r.getAs[Long]("rho_num") == np * srp - sr * sp)
    assert(r.getAs[Long]("rho_den_a") == np * srr - sr * sr)
    assert(r.getAs[Long]("rho_den_b") == np * spp - sp * sp)
    val rnum = np * srp - sr * sp
    val flag = rnum < 0 ||
      BigInt(4) * rnum * rnum < BigInt(np * srr - sr * sr) * (np * spp - sp * sp)
    assert(r.getAs[Long]("cointegrated_flag") == (if (flag) 1L else 0L))
  }

  test("contrastive pairs: bucketed hash-order negative replay") {
    val out = SparkEntry.queries("sample_contrastive_pairs")(spark, sfDir)
      .collect().map(r => r.getAs[String]("source") -> r).toMap
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val withH = docs.map { case (id, src) =>
      (id, src, spreadHash(id.toString))
    }
    val picks = withH.groupBy(_._3 % 8).toSeq.flatMap { case (_, bucket) =>
      val ordered = bucket.sortBy(t => (t._3, t._1)).toIndexedSeq
      ordered.zipWithIndex.map { case ((_, src, _), i) =>
        val negs = (i + 1 to math.min(i + 6, ordered.size - 1))
          .map(ordered(_)).filter(_._2 != src).take(2).map(_._1)
        (src, negs)
      }
    }
    picks.groupBy(_._1).foreach { case (src, rows) =>
      val r = out(src)
      assert(r.getAs[Long]("n_docs") == rows.length.toLong, src)
      assert(r.getAs[Long]("n_with_neg1") ==
        rows.count(_._2.nonEmpty).toLong, src)
      assert(r.getAs[Long]("n_with_neg2") ==
        rows.count(_._2.size >= 2).toLong, src)
      assert(r.getAs[Long]("neg_id_checksum") ==
        rows.flatMap(_._2).sum, src)
    }
    // pairing is near-total on a 20-source corpus (negatives abound)
    val total = picks.size.toLong
    val paired = picks.count(_._2.nonEmpty).toLong
    assert(paired * 10 >= total * 9)
  }
}
