package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SimilarityRecallSpec extends AnyFunSuite {
  import graft.multimodal.Media
  import graft.similarity.Similarity
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  test("IVF probe recall@5 vs brute-force ground truth stays above floor") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 10)
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.bruteForceTopK(emb, queries, 5))
    val probe = pairs(Similarity.ivfProbeTopK(emb,
      emb.filter(col("vec_id") < 8), queries, nprobe = 2, k = 5))
    val recall = (exact & probe).size.toDouble / exact.size
    // deterministic on the fixed fixture; floor set well under the
    // measured value so legitimate refactors don't flake it
    assert(recall >= 0.4, s"recall@5 = $recall")
    assert(probe.size == exact.size)
  }

  test("hyperplane near-dup = exact pairwise restricted to shared buckets") {
    val emb = Tables.embeddings(spark, sf)
    val viaLsh = SparkEntry.queries("sim_hyperplane_neardup")(spark, sf)
      .select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // every LSH pair must be a true >=0.30-cosine pair (no false content)
    val exact = Similarity
      .cosineNearDupPairs(emb, maxId = Long.MaxValue, minCosine = 0.30)
      .select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaLsh.subsetOf(exact))
    assert(viaLsh.nonEmpty)
  }

  test("media resize shrinks payloads and stamps the target in the format") {
    import spark.implicits._
    val docs = Seq((1L, "x" * 1000)).toDF("doc_id", "text")
    val resized = Media.resize(Media.asMedia(docs, "doc_id", "text"), 32, 32)
      .collect()(0)
    assert(resized.format == "txt@32x32")
    assert(resized.payload.length < 1000 && resized.payload.length >= 1)
  }

  test("media feature extraction yields fixed-dim deterministic vectors") {
    import spark.implicits._
    val docs = Seq((1L, "abc"), (2L, "")).toDF("doc_id", "text")
    val feats = Media.extractFeatures(Media.asMedia(docs, "doc_id", "text"), 4)
      .orderBy("media_id").collect()
    val v1 = feats(0).getSeq[Float](feats(0).fieldIndex("features"))
    assert(v1.length == 4)
    assert(v1(0) == 'a' / 255.0f && v1(1) == 'b' / 255.0f)
    assert(feats(1).getSeq[Float](feats(1).fieldIndex("features"))
      .forall(_ == 0.0f))
  }

  test("PQ codes and ADC estimates match a local brute force bitwise") {
    val emb = Tables.embeddings(spark, sf)
    val all = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def subDot(a: Array[Float], b: Array[Float], s: Int): Double = {
      var acc = 0.0
      var i = s * 16
      while (i < s * 16 + 16) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      acc
    }
    val cwIds = all.keys.filter(_ < 16).toSeq.sorted
    // local encode: argmax subspace dot, ties to lower code id
    def encode(v: Array[Float], s: Int): Long =
      cwIds.map(c => (subDot(v, all(c), s), -c)).zip(cwIds)
        .maxBy(_._1)._2
    val codes = SparkEntry.queries("sim_pq_codes")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(codes.size == all.size * 4)
    for ((vid, v) <- all.toSeq.sortBy(_._1).take(40); s <- 0 until 4)
      assert(codes((vid, s)) == encode(v, s), s"code mismatch vec $vid sub $s")
    // local ADC: per query, estimate = fixed-order sum of LUT entries
    val adc = SparkEntry.queries("sim_pq_adc_topk")(spark, sf).collect()
    assert(adc.length == 10 * 5)
    adc.foreach { r =>
      val (q, vid, est) = (r.getLong(0), r.getLong(2), r.getDouble(3))
      val expect = (0 until 4).map(s =>
        subDot(all(q), all(codes((vid, s))), s)).reduce(_ + _)
      assert(est == expect, s"ADC mismatch query $q vec $vid")
    }
  }
}
