package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.FixedLog2

/** Pins the deterministic fixed-point log2 and the round-5 statistics
  * built on it — against an independent BigInt reference model and closed-
  * form brute replays, not just the DuckDB oracle.
  */
class FixedLog2Spec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  /** Independent model: identical recurrence in BigInt (no 64-bit range
    * concerns), so a silent long-overflow in the production path would
    * diverge here.
    */
  private def model(c: Long): Long = {
    val il = 63 - java.lang.Long.numberOfLeadingZeros(c)
    var u = BigInt(c) << 30 >> il
    var f = BigInt(il)
    for (_ <- 0 until FixedLog2.FracBits) {
      val v = u * u
      if (v >= (BigInt(1) << 61)) { f = f * 2 + 1; u = v >> 31 }
      else { f = f * 2; u = v >> 30 }
    }
    f.toLong
  }

  test("log2fp matches the BigInt model and brackets true log2") {
    val rnd = new scala.util.Random(11)
    val xs = (1L to 4096L) ++ Seq.fill(4096)(
      math.abs(rnd.nextLong() % (1L << (3 + rnd.nextInt(59)))) + 1)
    for (x <- xs) {
      val f = FixedLog2.log2fp(x)
      assert(f == model(x), s"x=$x")
      val approx = f.toDouble / (1L << FixedLog2.FracBits)
      val exact = math.log(x.toDouble) / math.log(2.0)
      // quantization (2^-20) + Q30 mantissa truncation for x > 2^31
      assert(math.abs(approx - exact) < 2.1e-6, s"x=$x approx=$approx")
    }
    // exact on powers of two: the lattice value IS the integer exponent
    for (k <- 0 to 62)
      assert(FixedLog2.log2fp(1L << k) == k.toLong << FixedLog2.FracBits)
  }

  test("log2fp expression is codegen'd and null-intolerant") {
    import spark.implicits._
    val df = Seq(1L, 2L, 3L, 1000L).toDF("x")
      .select(FixedLog2.log2_fp(col("x")).as("f"))
    assert(df.as[Long].collect().toSeq ==
      Seq(1L, 2L, 3L, 1000L).map(FixedLog2.log2fp))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BatchEvalPython"))
  }

  test("log2_fp is a first-class SQL function") {
    val got = spark.sql("SELECT log2_fp(CAST(1000 AS BIGINT)) AS f")
      .collect().head.getLong(0)
    assert(got == FixedLog2.log2fp(1000L))
  }

  test("entropy by group: brute-replay from raw counts") {
    val res = SparkEntry.queries("agg_entropy_by_group")(spark, sfDir)
      .collect().map(r => r.getAs[Long]("dow") ->
        ((r.getAs[Long]("n_events"), r.getAs[Double]("entropy_bits")))).toMap
    val counts = Tables.events(spark, sfDir)
      .groupBy((weekday(to_date(col("ts"))) + 1).cast("long").as("dow"),
               col("event_type"))
      .agg(count(lit(1)).as("c")).collect()
      .groupBy(_.getAs[Long]("dow"))
      .view.mapValues(_.map(_.getAs[Long]("c"))).toMap
    for ((dow, cs) <- counts) {
      val n = cs.sum
      val num = BigInt(n) * FixedLog2.log2fp(n) -
        cs.map(c => BigInt(c) * FixedLog2.log2fp(c)).sum
      val expected = num.toDouble / n.toDouble / 1048576.0
      assert(res(dow)._1 == n)
      assert(res(dow)._2 == expected, s"dow=$dow")
      // entropy of a k-way mix is within [0, log2 k] up to lattice error
      val k = cs.size
      assert(res(dow)._2 > -1e-5 &&
        res(dow)._2 < math.log(k.toDouble) / math.log(2.0) + 1e-5)
    }
  }

  test("holt linear: fold replays the sequential recurrence per series") {
    val rows = SparkEntry.queries("ts_holt_linear")(spark, sfDir)
      .collect().groupBy(_.getAs[String]("event_type"))
    assert(rows.nonEmpty)
    for ((_, rs) <- rows) {
      val sorted = rs.sortBy(_.getAs[java.sql.Date]("date").toString)
      var l = sorted.head.getAs[Double]("close")
      var b = 0.0
      assert(sorted.head.getAs[Double]("level") == l)
      assert(sorted.head.getAs[Double]("trend") == 0.0)
      for (r <- sorted.tail) {
        val x = r.getAs[Double]("close")
        val l1 = 0.25 * x + 0.75 * (l + b)
        val b1 = 0.125 * ((0.25 * x + 0.75 * (l + b)) - l) + 0.875 * b
        assert(r.getAs[Double]("level") == l1)
        assert(r.getAs[Double]("trend") == b1)
        l = l1; b = b1
      }
    }
  }

  test("harmonic sample: layers disjoint, oracle-shape counts from brute BFS") {
    val res = SparkEntry.queries("graph_harmonic_sample")(spark, sfDir)
      .collect().map(r => r.getAs[Long]("source") ->
        ((r.getAs[Long]("n1"), r.getAs[Long]("n2"), r.getAs[Long]("h2"))))
      .toMap
    assert(res.size == 4)
    // brute local BFS over the same bipartite edges
    val pairs = Tables.lineitem(spark, sfDir)
      .select("l_partkey", "l_suppkey").distinct().collect()
      .map(r => (r.getLong(0) * 2, r.getLong(1) * 2 + 1))
    val adj = (pairs ++ pairs.map(p => (p._2, p._1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    for (s <- res.keys) {
      val n1 = adj(s) - s
      val n2 = n1.flatMap(adj(_)) -- n1 - s
      assert(res(s) == ((n1.size.toLong, n2.size.toLong,
        2L * n1.size + n2.size)), s"source=$s")
    }
  }

  test("silhouette: scores bounded, own-centroid distance is the a-side") {
    val rows = SparkEntry.queries("emb_silhouette_simplified")(spark, sfDir)
      .collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val s = r.getAs[Double]("avg_silhouette")
      assert(s >= -1.0 - 1e-9 && s <= 1.0 + 1e-9)
      assert(r.getAs[Double]("avg_intra_dist") >= 0.0)
      assert(r.getAs[Long]("n_vecs") > 0)
    }
  }

  test("information-theory suite: identities and bounds hold on the lattice") {
    // MI(X;Y) >= 0 and MI <= min(H(X), H(Y)) up to lattice error
    val mi = SparkEntry.queries("agg_mutual_information")(spark, sfDir)
      .collect().head
    val (m, hx, hy) = (mi.getAs[Double]("mi_bits"),
      mi.getAs[Double]("h_type_bits"), mi.getAs[Double]("h_dow_bits"))
    assert(m >= -1e-4 && m <= math.min(hx, hy) + 1e-4)
    assert(hx > 0 && hy > 0)

    // KL(source || corpus) >= 0 for every source
    val kl = SparkEntry.queries("text_kl_source_shift")(spark, sfDir)
      .collect()
    assert(kl.nonEmpty)
    kl.foreach(r => assert(r.getAs[Double]("kl_bits") >= -1e-4,
      r.getAs[String]("source")))

    // JS divergence is symmetric-by-construction, in [0, 1] bits
    val js = SparkEntry.queries("text_js_divergence")(spark, sfDir)
      .collect()
    assert(js.length > 0)
    js.foreach { r =>
      val v = r.getAs[Double]("jsd_bits")
      assert(v >= -1e-4 && v <= 1.0 + 1e-4,
        s"${r.getAs[String]("lang_a")}-${r.getAs[String]("lang_b")}: $v")
    }

    // permutation entropy: bounded by log2(#observed patterns)
    SparkEntry.queries("ts_perm_entropy")(spark, sfDir).collect().foreach {
      r =>
        val h = r.getAs[Double]("perm_entropy_bits")
        val k = r.getAs[Long]("n_patterns")
        assert(h >= -1e-4 &&
          h <= math.log(k.toDouble) / math.log(2.0) + 1e-4)
    }

    // conditional entropy brute-replay from the transition matrix
    val tm = SparkEntry.queries("mine_transition_matrix")(spark, sfDir)
      .collect().groupBy(_.getAs[String]("e_from"))
    val te = SparkEntry.queries("mine_transition_entropy")(spark, sfDir)
      .collect().map(r => r.getAs[String]("e_from") ->
        ((r.getAs[Long]("n_out"), r.getAs[Double]("h_next_bits")))).toMap
    for ((from, rows) <- tm) {
      val cs = rows.map(_.getAs[Long]("n"))
      val ci = cs.sum
      val num = cs.map(c =>
        BigInt(c) * (FixedLog2.log2fp(ci) - FixedLog2.log2fp(c))).sum
      val expected = num.toDouble / ci.toDouble / 1048576.0
      assert(te(from)._1 == ci)
      assert(te(from)._2 == expected, s"from=$from")
    }
  }

  test("knn LOO accuracy: majority vote brute-replayed for every probe") {
    val acc = SparkEntry.queries("sim_knn_loo_accuracy")(spark, sfDir)
      .collect()
    assert(acc.nonEmpty)
    val totalQ = acc.map(_.getAs[Long]("n_queries")).sum
    val probes = Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") < 200).count()
    assert(totalQ == probes)
    acc.foreach { r =>
      val a = r.getAs[Double]("accuracy")
      assert(a >= 0.0 && a <= 1.0)
      assert(r.getAs[Long]("n_correct") <= r.getAs[Long]("n_queries"))
    }
    // local brute force over the raw vectors for a handful of probes
    val all = Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding", "label").collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](1).toArray.map(_.toDouble), r.getInt(2).toLong))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val preds = all.filter(_._1 < 200).map { case (qid, qv, truth) =>
      val nn = all.filter(_._1 != qid)
        .map { case (vid, v, l) => (cos(qv, v), vid, l) }
        .sortBy { case (c, vid, _) => (-c, vid) }.take(3)
      val vote = nn.groupBy(_._3).view
        .mapValues(g => (g.size, g.map(x => nn.indexOf(x)).min)).toSeq
        .sortBy { case (l, (v, best)) => (-v, best, l) }.head._1
      (truth, vote == truth)
    }
    val byLabel = preds.groupBy(_._1).view
      .mapValues(g => (g.size.toLong, g.count(_._2).toLong)).toMap
    val got = acc.map(r => r.getAs[Long]("label") ->
      ((r.getAs[Long]("n_queries"), r.getAs[Long]("n_correct")))).toMap
    assert(got == byLabel)
  }

  test("rake keyphrases: scores decompose into member word scores") {
    val rows = SparkEntry.queries("text_keyphrase_rake")(spark, sfDir)
      .collect()
    assert(rows.length > 0 && rows.length <= 20)
    rows.foreach { r =>
      val phrase = r.getAs[String]("phrase")
      val words = phrase.split(" ")
      assert(words.length >= 1 && words.length <= 3)
      // no stopword may survive inside a candidate phrase
      assert(!words.exists(graft.text.TextAnalysis.stopwords.contains),
        phrase)
      assert(r.getAs[Long]("n_occurrences") > 0)
      // a phrase of k words scores at least k (each word score >= 1:
      // deg >= freq by construction)
      assert(r.getAs[Double]("rake_score") >= words.length - 1e-9, phrase)
    }
    // top-k order is total: strictly descending (score, phrase) pairs
    val keys = rows.map(r =>
      (-r.getAs[Double]("rake_score"), r.getAs[String]("phrase"))).toSeq
    assert(keys == keys.sorted)
  }

  test("bigram surprisal: per-doc means brute-replayed from token streams") {
    val got = SparkEntry.queries("text_bigram_surprisal")(spark, sfDir)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_bigrams"), r.getAs[Double]("mean_bits"))))
    assert(got.nonEmpty && got.length <= 20)
    // local replay: corpus bigram/unigram counts → lattice surprisal
    val toks = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        graft.text.TextAnalysis.tokens("text").as("t"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1))
    val bigrams = toks.flatMap { case (id, t) =>
      t.sliding(2).filter(_.size == 2).map(p => (id, p.head, p(1))) }
    val cab = bigrams.groupBy(b => (b._2, b._3)).view.mapValues(_.size).toMap
    val ca = bigrams.groupBy(_._2).view.mapValues(_.size).toMap
    val perDoc = bigrams.groupBy(_._1).view.mapValues { bs =>
      val s = bs.map(b => FixedLog2.log2fp(ca(b._2).toLong) -
        FixedLog2.log2fp(cab((b._2, b._3)).toLong)).sum
      (bs.size.toLong, s.toDouble / bs.size.toDouble / 1048576.0)
    }.toMap
    for ((id, (n, m)) <- got) {
      assert(perDoc(id) == ((n, m)), s"doc=$id")
      assert(m >= 0.0)
    }
    // top-20 really is the descending head of the full ranking
    val expectedTop = perDoc.toSeq
      .sortBy { case (id, (_, m)) => (-m, id) }.take(got.length)
      .map(_._1)
    assert(got.map(_._1).toSeq == expectedTop)
  }

  test("davies-bouldin: positive worst-ratios, scatter consistent with intra dist") {
    val db = SparkEntry.queries("emb_davies_bouldin")(spark, sfDir)
      .collect().map(r => r.getAs[Long]("label") ->
        ((r.getAs[Long]("n_vecs"), r.getAs[Double]("scatter"),
          r.getAs[Double]("r_worst")))).toMap
    assert(db.size >= 2)
    for ((_, (n, s, r)) <- db) {
      assert(n > 0 && s >= 0.0 && r > 0.0)
    }
    // scatter here is the same ⌊d·2^20⌋-lattice mean distance the
    // silhouette query reports as avg_intra_dist — pin them equal
    val sil = SparkEntry.queries("emb_silhouette_simplified")(spark, sfDir)
      .collect().map(r => r.getAs[Long]("label") ->
        r.getAs[Double]("avg_intra_dist")).toMap
    for ((l, (_, s, _)) <- db) assert(s == sil(l), s"label=$l")
  }

  test("kaplan-meier: survival curve decreasing, replayed from lifetimes") {
    val rows = SparkEntry.queries("agg_kaplan_meier")(spark, sfDir)
      .collect()
    assert(rows.nonEmpty)
    // n_at_risk strictly decreasing in t; log2 survival non-increasing
    val ar = rows.map(_.getAs[Long]("n_at_risk"))
    assert(ar.toSeq == ar.sortBy(-_).toSeq)
    val ls = rows.flatMap(r => Option(r.getAs[Double]("log2_survival")))
    assert(ls.forall(_ <= 1e-12))
    assert(ls.toSeq == ls.sortBy(-_).toSeq)
    // the last histogram row (everyone churned) must be the NULL row
    assert(rows.last.isNullAt(rows.last.fieldIndex("log2_survival")))
    // replay: survival after the first time equals the lattice product
    val lives = Tables.events(spark, sfDir)
      .groupBy("user_id")
      .agg(datediff(max(to_date(col("ts"))), min(to_date(col("ts"))))
        .cast("long").as("t"))
      .collect().map(_.getLong(1))
    val total = lives.length.toLong
    assert(rows.head.getAs[Long]("n_at_risk") == total)
    val d0 = lives.count(_ == rows.head.getAs[Long]("lifetime_days")).toLong
    assert(rows.head.getAs[Long]("n_churned") == d0)
    val expected = (FixedLog2.log2fp(total - d0) -
      FixedLog2.log2fp(total)).toDouble / 1048576.0
    assert(rows.head.getAs[Double]("log2_survival") == expected)
  }

  test("negative-sampling table: weights are exact integer fourth roots") {
    val rows = SparkEntry.queries("sample_negative_table")(spark, sfDir)
      .collect()
    assert(rows.nonEmpty && rows.length <= 30)
    for (r <- rows) {
      val c = r.getAs[Long]("freq")
      val wt = r.getAs[Long]("wt")
      // wt = floor((c^3)^(1/4)) — pinned against BigInt arithmetic
      assert(BigInt(wt).pow(4) <= BigInt(c).pow(3), s"c=$c")
      assert(BigInt(wt + 1).pow(4) > BigInt(c).pow(3), s"c=$c")
      assert(r.getAs[Long]("share_ppm") >= 0)
    }
    // the ^(3/4) damping flattens the distribution: the top token's
    // weight share must not exceed its raw frequency share
    val tot = Tables.documents(spark, sfDir)
      .select(explode(graft.text.TextAnalysis.tokens("text")).as("w"))
      .count()
    val top = rows.head
    val rawShare = top.getAs[Long]("freq").toDouble / tot.toDouble
    val wtShare = top.getAs[Long]("share_ppm").toDouble / 1e6
    assert(wtShare <= rawShare + 1e-6)
  }

  test("bpe training steps: two greedy merges replayed locally") {
    def pairCounts(docs: Seq[Seq[String]]): Map[(String, String), Int] =
      docs.flatMap(_.sliding(2).filter(_.size == 2).map(p =>
        (p.head, p(1)))).groupBy(identity).view.mapValues(_.size).toMap
    def top(pc: Map[(String, String), Int]): (String, String) =
      pc.filter(p => p._1._1 != p._1._2).toSeq
        .sortBy { case ((a, b), c) => (-c, a, b) }.head._1
    def merge(docs: Seq[Seq[String]], a: String, b: String) =
      docs.map { t =>
        val out = scala.collection.mutable.ArrayBuffer[String]()
        var i = 0
        while (i < t.size) {
          if (i + 1 < t.size && t(i) == a && t(i + 1) == b) {
            out += s"${a}_$b"; i += 2
          } else { out += t(i); i += 1 }
        }
        out.toSeq
      }
    val docs = Tables.documents(spark, sfDir)
      .select(graft.text.TextAnalysis.tokens("text").as("t"))
      .collect().map(_.getSeq[String](0).toSeq).toSeq
    val (a0, b0) = top(pairCounts(docs))
    val d1 = merge(docs, a0, b0)
    val (a1, b1) = top(pairCounts(d1))
    val d2 = merge(d1, a1, b1)
    val expected = pairCounts(d2).toSeq
      .sortBy { case ((a, b), c) => (-c, a, b) }.take(10)
      .map { case ((a, b), c) => (a, b, c.toLong) }
    val got = SparkEntry.queries("text_bpe_train_steps")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSeq
    assert(got == expected)
    // the first learned merge participates in the surviving pair space
    assert(got.exists(p => p._1.contains("_") || p._2.contains("_")) ||
      !expected.exists(p => p._1.contains("_") || p._2.contains("_")))
  }

  test("ivf recall: bounded per query, consistent with the two rankings") {
    val rows = SparkEntry.queries("sim_ivf_recall")(spark, sfDir).collect()
    assert(rows.length == 10)
    val gt = SparkEntry.queries("sim_bruteforce_topk")(spark, sfDir)
      .collect().map(r => (r.getAs[Long]("query_id"),
        r.getAs[Long]("vec_id"))).toSet
    val ivf = SparkEntry.queries("sim_ivf_probe_topk")(spark, sfDir)
      .collect().map(r => (r.getAs[Long]("query_id"),
        r.getAs[Long]("vec_id"))).toSet
    for (r <- rows) {
      val q = r.getAs[Long]("query_id")
      val hits = r.getAs[Long]("n_hits")
      assert(hits >= 0 && hits <= 5)
      assert(r.getAs[Double]("recall_at_5") == hits.toDouble / 5.0)
      // the census must equal the intersection of the two verified
      // query results it summarizes
      assert(hits == gt.filter(_._1 == q).intersect(ivf).size, s"q=$q")
    }
  }

  test("importance reweight: uniform-target weights invert the mixture") {
    val rows = SparkEntry.queries("sample_importance_reweight")(spark, sfDir)
      .collect()
    val nTotal = rows.map(_.getAs[Long]("n_docs")).sum
    val nLangs = rows.length.toLong
    for (r <- rows) {
      val n = r.getAs[Long]("n_docs")
      assert(r.getAs[Long]("w_ppm") == nTotal * 1000000L / (nLangs * n))
      assert(r.getAs[Long]("actual_share_ppm") == n * 1000000L / nTotal)
      // reweighted share == target share up to ppm floor error
      val reweighted = n * r.getAs[Long]("w_ppm")
      assert(math.abs(reweighted - nTotal * 1000000L / nLangs)
        <= nLangs * n, s"lang=${r.getAs[String]("lang")}")
    }
  }
}
