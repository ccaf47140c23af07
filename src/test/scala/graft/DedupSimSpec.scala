package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DedupSimSpec extends AnyFunSuite {
  import graft.dedup.{MinHash, SimHash}
  import graft.similarity.Similarity
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  test("minhash: identical docs collide with est_jaccard 1.0") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq(
      (1L, base), (2L, base),
      (3L, "completely different words about spark shuffles and joins here"))
      .toDF("doc_id", "text")
    val pairs = MinHash.nearDupPairs(docs, "doc_id", "text",
      minEstJaccard = 0.5).collect()
    assert(pairs.length == 1)
    assert(pairs(0).getLong(0) == 1L && pairs(0).getLong(1) == 2L)
    assert(pairs(0).getDouble(2) == 1.0)
  }

  test("minhash: near-identical docs (one word changed) still pair up") {
    import spark.implicits._
    val w = (1 to 40).map(i => s"word$i")
    val docs = Seq(
      (1L, w.mkString(" ")),
      (2L, w.updated(20, "CHANGED").mkString(" "))).toDF("doc_id", "text")
    val pairs = MinHash.nearDupPairs(docs, "doc_id", "text",
      minEstJaccard = 0.5).collect()
    assert(pairs.length == 1)
    assert(pairs(0).getDouble(2) >= 0.5 && pairs(0).getDouble(2) < 1.0)
  }

  test("minhash: docs with <3 tokens are excluded, not all-bucketed") {
    import spark.implicits._
    val docs = Seq((1L, "one two"), (2L, "three four"), (3L, ""))
      .toDF("doc_id", "text")
    assert(MinHash.nearDupPairs(docs, "doc_id", "text",
      minEstJaccard = 0.0).count() == 0)
  }

  test("simhash: identical text -> distance 0; disjoint text differs") {
    import spark.implicits._
    val df = Seq("alpha beta gamma delta", "alpha beta gamma delta",
                 "epsilon zeta eta theta")
      .toDF("text").select(SimHash.simhash32(col("text")).as("h"))
    val hs = df.collect().map(_.getLong(0))
    assert(hs(0) == hs(1))
    assert(hs(0) != hs(2))
  }

  test("banded simhash equals brute-force Hamming-ball on the fixture") {
    // pigeonhole guarantee: with 2 bands of 16 bits, every Hamming<=1
    // pair agrees exactly on one band — banded recall must be 100%
    val docs = Tables.documents(spark, sf)
    val banded = SimHash.bandedNearDupPairs(docs, "doc_id", "text",
        maxHamming = 1, bands = 2)
      .select("doc_a", "doc_b", "hamming").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val sh = docs.select(col("doc_id"),
      SimHash.simhash32(col("text")).as("s"))
    val brute = sh.select(col("doc_id").as("doc_a"), col("s").as("sa"))
      .join(sh.select(col("doc_id").as("doc_b"), col("s").as("sb")),
            col("doc_a") < col("doc_b"))
      .withColumn("hamming",
        bit_count(col("sa").bitwiseXOR(col("sb"))).cast("int"))
      .filter(col("hamming") <= 1)
      .select("doc_a", "doc_b", "hamming").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(banded == brute)
    assert(brute.nonEmpty, "fixture should contain at least one near-dup")
    // the bit-flip neighbor enumeration (output-bound candidate volume,
    // for templated corpora) must produce the identical pair set
    val neighbor = SimHash.neighborNearDupPairs(docs, "doc_id", "text")
      .select("doc_a", "doc_b", "hamming").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(neighbor == brute)
  }

  test("connected components: chain, separate component, clique") {
    import spark.implicits._
    import graft.dedup.Components
    // a 5-long chain (tests pointer jumping across hops), a 2-clique,
    // and a triangle — all labels must land on each component's minimum
    val edges = Seq(
      (10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L), // chain
      (20L, 21L),                                      // pair
      (30L, 31L), (31L, 32L), (30L, 32L))              // triangle
      .toDF("a", "b")
    val got = Components.canonicalLabels(edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L, 14L -> 10L,
      20L -> 20L, 21L -> 20L,
      30L -> 30L, 31L -> 30L, 32L -> 30L))
  }

  test("connected components: long adversarial chains exercise many" +
      " frontier rounds") {
    import spark.implicits._
    import graft.dedup.Components
    // the frontier rewrite's stress shapes: a 150-node path whose ids
    // DESCEND along the path (the minimum enters from the far end, so
    // the frontier stays alive for the full log-diameter schedule), and
    // a second path with ids interleaved even/odd so propagation and
    // pointer jumping interact on every round
    val down = (0 until 149).map(i => (1000L - i, 1000L - i - 1))
    val weave = (0 until 99).map { i =>
      val a = if (i % 2 == 0) 2000L + i / 2 else 2999L - i / 2
      val b = if (i % 2 == 1) 2000L + (i + 1) / 2 else 2999L - i / 2
      (a, b)
    }
    val got = Components.canonicalLabels(
        (down ++ weave).toDF("a", "b"), "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((852L to 1000L).forall(n => got(n) == 851L), got(1000L))
    val weaveNodes = weave.flatMap(p => Seq(p._1, p._2)).distinct
    assert(weaveNodes.forall(n => got(n) == weaveNodes.min))
  }

  test("bruteForceTopK: k rows per query, self excluded, rank ordered") {
    val emb = Tables.embeddings(spark, sf)
    val got = Similarity.bruteForceTopK(emb,
      emb.filter(col("vec_id") < 3), k = 5)
    val rows = got.collect()
    assert(rows.length == 15)
    assert(!rows.exists(r => r.getAs[Long]("query_id") == r.getAs[Long]("vec_id")))
    val perQuery = rows.groupBy(_.getAs[Long]("query_id"))
    perQuery.values.foreach { rs =>
      val sorted = rs.sortBy(_.getAs[Int]("rank"))
      assert(sorted.map(_.getAs[Double]("cosine")).toSeq
        == rs.map(_.getAs[Double]("cosine")).toSeq.sorted.reverse)
    }
  }

  test("ivfAssign: every vector lands in exactly one inverted list") {
    val emb = Tables.embeddings(spark, sf)
    val lists = Similarity.ivfAssign(emb, emb.filter(col("vec_id") < 8))
    assert(lists.agg(sum("n_assigned")).first().getLong(0) == emb.count())
  }

  test("minhash LSH recall matches exact jaccard on fixture near-dups") {
    // every fixture pair with true 2-gram jaccard >= 0.5 must be caught by
    // LSH with est >= 0.5 (16 hashes, 4-row bands: P(miss | j=0.5) ~ 23%
    // per band^4 — at j>=0.9 as in the fixtures, P(miss) < 1e-4)
    val exact = SparkEntry.queries("dedup_ngram_jaccard")(spark, sf)
      .filter(col("jaccard") >= 0.9)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val lsh = SparkEntry.queries("dedup_minhash_lsh")(spark, sf)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    exact.foreach(p => assert(lsh.contains(p), s"LSH missed true near-dup $p"))
  }

  test("streaming LSH detector: pair set invariant to micro-batch split") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    // batch ground truth over the fixture corpus
    val batchPairs = graft.dedup.SimHash
      .bandedNearDupPairs(Tables.documents(spark, sf), "doc_id", "text",
        maxHamming = 1, bands = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // drive the SAME docs through the stateful detector in TWO micro-
    // batches split so near-dup pairs straddle the boundary (odd/even
    // doc ids) — the emitted set must not depend on the split
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text").as[(Long, String)].collect()
    implicit val sqlCtx = spark.sqlContext
    // hand-run, not BoundedRun: two batches are added to one running query
    val mem = MemoryStream[(Long, String)]
    val src = mem.toDF().toDF("doc_id", "text")
    val q = graft.streaming.StreamNearDup
      .detect(graft.streaming.StreamNearDup.banded(src))
      .toDF()
      .writeStream.outputMode("append")
      .format("memory").queryName("neardup_split_test")
      .start()
    try {
      mem.addData(docs.filter(_._1 % 2 == 0).toSeq)
      q.processAllAvailable()
      mem.addData(docs.filter(_._1 % 2 == 1).toSeq)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("neardup_split_test").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batchPairs)
    assert(batchPairs.nonEmpty)
  }

  test("bucket cap drops hot-bucket pairs, keeps the rest, no-ops when loose") {
    import spark.implicits._
    // 8 byte-identical "boilerplate" docs (one hot bucket per band) plus
    // one genuine near-dup pair with distinct wording
    val boiler = "terms of service apply to all content on this site always"
    val a = "spark executes declarative plans over columnar batches quickly"
    val b = "spark executes declarative plans over columnar batches slowly"
    val docs = ((1L to 8L).map(i => (i, boiler)) ++
      Seq((20L, a), (21L, b))).toDF("doc_id", "text")
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncapped = pairSet(MinHash.candidatePairs(docs, "doc_id", "text"))
    val capped = pairSet(
      MinHash.candidatePairsCapped(docs, "doc_id", "text", maxBucket = 4))
    // the guard must drop exactly the hot-bucket (boilerplate) pairs
    assert(uncapped.contains((1L, 2L)) && uncapped.contains((20L, 21L)))
    assert(!capped.exists { case (x, y) => x <= 8 && y <= 8 },
      "boilerplate bucket must be dropped at cap 4")
    assert(capped.contains((20L, 21L)),
      "pairs outside hot buckets must survive the cap")
    // a loose cap is the identity: same candidates as the uncapped join
    val loose = pairSet(
      MinHash.candidatePairsCapped(docs, "doc_id", "text", maxBucket = 1000))
    assert(loose == uncapped)
    graft.CacheRegistry.releaseAll()
  }
}
