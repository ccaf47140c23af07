package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-8 session-2 additions — boilerplate-span census, CCNet
  * perplexity terciles, DSIR importance weights, training-shard
  * manifests, l-diversity — each pinned against an independent
  * driver-side recompute from the raw fixtures (plain Scala
  * collections, no Spark expressions), not just the DuckDB oracle.
  */
class CurationPrivacySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"
  private val P = 2147483647L

  // independent reimplementations of the engine's portable token
  // tokenizer + polynomial hash (ASCII fold, [a-z0-9]+ pieces)
  private def toks(text: String): Seq[String] =
    "[a-z0-9]+".r.findAllIn(text.toLowerCase).toSeq
  private def foldHash(s: String): Long =
    s.foldLeft(0L)((h, c) => (h * 31 + c.toLong) % P)
  private def gram5(text: String): Set[Long] = {
    val th = toks(text).map(foldHash)
    th.sliding(5).filter(_.size == 5)
      .map(w => w.foldLeft(0L)((g, x) => (g * 31 + x) % P)).toSet
  }

  private def docs: Seq[(Long, String, String, String, Long)] =
    Tables.documents(spark, sfDir)
      .select("doc_id", "text", "lang", "source", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSeq

  test("boilerplate census matches a per-source gram recompute") {
    val d = docs
    val perDoc = d.map { case (id, text, _, src, _) =>
      (id, src, gram5(text)) }
    val census = perDoc.flatMap { case (_, src, gs) => gs.map(src -> _) }
      .groupBy(identity).view.mapValues(_.size).toMap
    val expected = perDoc
      .filter(_._3.nonEmpty)
      .map { case (id, src, gs) =>
        val boiler = gs.count(g => census((src, g)) >= 3)
        (id, gs.size.toLong, boiler.toLong,
          boiler.toDouble / gs.size.toDouble)
      }.sortBy(_._1)
    val got = SparkEntry.queries("text_boilerplate_spans")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(got == expected)
    CacheRegistry.releaseAll()
  }

  test("ccnet buckets match a rank-and-cut recompute of the LM bits") {
    val d = docs
    val trainCounts = d.filter(_._1 % 2 == 0)
      .flatMap(_._2.split(" ")).groupBy(identity)
      .view.mapValues(_.size.toLong).toMap
    val t = trainCounts.values.sum
    val v = trainCounts.size.toLong
    val lTot = graft.functions.FixedLog2.log2fp(t + v)
    val perDoc = d.filter(_._1 % 2 == 1).map { case (id, text, lang, _, _) =>
      val ws = text.split(" ").toSeq
      val bits = ws.map(w => lTot - graft.functions.FixedLog2.log2fp(
        trainCounts.getOrElse(w, 0L) + 1L)).sum
      (id, lang, ws.size.toLong, bits)
    }
    val expected = perDoc.groupBy(_._2).toSeq.flatMap { case (lang, rows) =>
      val ranked = rows.sortBy(r => (r._4.toDouble / r._3.toDouble, r._1))
      val n = ranked.size
      ranked.zipWithIndex.map { case ((_, _, nt, bits), i) =>
        val rk = i + 1
        val bucket = if (rk * 3 <= n) "head"
          else if (rk * 3 <= n * 2) "middle" else "tail"
        (lang, bucket, nt, bits)
      }
    }.groupBy(r => (r._1, r._2)).toSeq.map { case ((lang, bucket), rs) =>
      (lang, bucket, rs.size.toLong, rs.map(_._3).sum, rs.map(_._4).sum)
    }.sortBy(r => (r._1, r._2))
    val got = SparkEntry.queries("text_ccnet_buckets")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(got == expected)
    // tercile cuts are balanced: within each lang the three buckets
    // differ by at most one doc
    got.groupBy(_._1).foreach { case (_, bs) =>
      val sizes = bs.map(_._3)
      assert(sizes.max - sizes.min <= 1)
    }
    CacheRegistry.releaseAll()
  }

  test("dsir weights match a hashed-bucket log-ratio recompute") {
    val d = docs
    val bucketed = d.map { case (id, text, _, src, _) =>
      (id, src, toks(text).map(w => foldHash(w) % 64)) }
    def counts(rows: Seq[Seq[Long]]): Map[Long, Long] =
      rows.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val rc = counts(bucketed.map(_._3))
    val tc = counts(bucketed.filter(_._2 == "src0").map(_._3))
    val L = graft.functions.FixedLog2.log2fp _
    val k = L(rc.values.sum + 64) - L(tc.values.sum + 64)
    val expected = bucketed.filter(_._3.nonEmpty)
      .map { case (id, src, bs) =>
        val byB = bs.groupBy(identity).view.mapValues(_.size.toLong).toMap
        val w = byB.map { case (b, cb) =>
          cb * (L(tc.getOrElse(b, 0L) + 1) - L(rc(b) + 1) + k) }.sum
        (id, src, byB.size.toLong, bs.size.toLong, w)
      }.sortBy(r => (-r._5, r._1)).take(20)
    val got = SparkEntry.queries("text_dsir_weights")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(got == expected)
    CacheRegistry.releaseAll()
  }

  test("shard manifest matches a spread-hash recompute and conserves totals") {
    import graft.olap.Sketch.{MixA, MixB, MixA2, MixB2}
    def spread(id: Long): Long = {
      val h0 = foldHash(id.toString)
      val h1 = (h0 * MixA + MixB) % P
      val h2 = (h1 * h1) % P
      (h2 * MixA2 + MixB2) % P
    }
    val d = docs
    val expected = d.map { case (id, text, _, _, nc) =>
      (spread(id) % 16, id, nc, toks(text).size.toLong) }
      .groupBy(_._1).toSeq.map { case (shard, rs) =>
        (shard, rs.size.toLong, rs.map(_._3).sum, rs.map(_._4).sum,
          rs.map(_._2).min, rs.map(_._2).max,
          rs.map(r => (r._2 * 131071L) % P).sum,
          rs.size.toDouble / d.size.toDouble)
      }.sortBy(_._1)
    val got = SparkEntry.queries("pack_shard_manifest")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
        r.getDouble(7))).toSeq
    assert(got == expected)
    // every doc lands in exactly one shard
    assert(got.map(_._2).sum == d.size.toLong)
    CacheRegistry.releaseAll()
  }

  // plain-double ascending-fold cosine — independent of VecOps' codegen
  private def dotv(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }
  private def cosv(a: Array[Float], b: Array[Float]): Double =
    dotv(a, b) / (math.sqrt(dotv(a, a)) * math.sqrt(dotv(b, b)))

  private def vecs: Map[Long, Array[Float]] =
    Tables.embeddings(spark, sfDir).select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap

  test("semdedup matches a cluster-then-prune recompute") {
    val e = vecs
    val centroids = e.filter(_._1 < 8)
    val assign = e.map { case (id, v) =>
      id -> centroids.toSeq.map { case (cid, c) => (cid, cosv(v, c)) }
        .minBy { case (cid, cs) => (-cs, cid) }._1 }
    val byCluster = assign.groupBy(_._2).view.mapValues(_.keys.toSeq.sorted)
    val expected = byCluster.toSeq.map { case (cid, ids) =>
      val pairs = for {
        a <- ids; b <- ids if a < b && cosv(e(a), e(b)) >= 0.35
      } yield (a, b)
      val pruned = pairs.map(_._2).distinct.size
      (cid, ids.size.toLong, pairs.size.toLong, pruned.toLong,
        (ids.size - pruned).toDouble / ids.size.toDouble)
    }.sortBy(_._1)
    val got = SparkEntry.queries("dedup_semdedup")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSeq
    assert(got == expected)
    CacheRegistry.releaseAll()
  }

  test("mmr rerank matches an independent greedy recompute") {
    val e = vecs
    val expected = (0L until 8L).flatMap { qid =>
      val eq = e(qid)
      val cand = e.toSeq.filter(_._1 != qid)
        .map { case (id, v) => (id, cosv(eq, v)) }
        .sortBy { case (id, rel) => (-rel, id) }.take(10)
      val sims = (for {
        (a, _) <- cand; (b, _) <- cand if a != b
      } yield (a, b) -> cosv(e(a), e(b))).toMap
      var sel = Vector.empty[Long]
      for (_ <- 1 to 5) {
        val pick = cand.filter(c => !sel.contains(c._1))
          .map { case (id, rel) =>
            val maxSim =
              if (sel.isEmpty) 0.0
              else sel.map(s2 => sims((id, s2))).max
            (-(0.7 * rel - 0.3 * maxSim), id)
          }.min._2
        sel = sel :+ pick
      }
      sel.zipWithIndex.map { case (id, i) => (qid, (i + 1).toLong, id) }
    }
    val got = SparkEntry.queries("sim_mmr_rerank")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected)
    // the rank-1 pick is always the plain relevance argmax
    val top = SparkEntry.queries("sim_bruteforce_topk")(spark, sfDir)
      .filter("rank = 1 AND query_id < 8")
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), 1L, r.getLong(1))).toSet
    assert(got.filter(_._2 == 1L).toSet == top)
    CacheRegistry.releaseAll()
  }

  test("tokenizer fertility matches a per-lang piece recompute") {
    val expected = docs.map { case (_, text, lang, _, _) =>
      val ts = toks(text)
      (lang, ts.size.toLong, ts.map(t => (t.length + 3) / 4).sum.toLong)
    }.groupBy(_._1).toSeq.map { case (lang, rs) =>
      val words = rs.map(_._2).sum; val pieces = rs.map(_._3).sum
      (lang, rs.size.toLong, words, pieces,
        pieces.toDouble / words.toDouble)
    }.sortBy(_._1)
    val got = SparkEntry.queries("text_tokenizer_fertility")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSeq
    assert(got == expected)
    CacheRegistry.releaseAll()
  }

  test("epoch plan matches a lattice recompute and never overshoots") {
    val masses = docs.map { case (_, text, _, src, _) =>
      (src, toks(text).size.toLong) }
      .groupBy(_._1).view.mapValues(v => (v.size.toLong, v.map(_._2).sum))
      .toMap.filter(_._2._2 > 0)
    val wts = masses.view.mapValues { case (_, m) =>
      math.floor(math.sqrt(m.toDouble)).toLong }.toMap
    val totalWt = wts.values.sum
    val expected = masses.toSeq.map { case (src, (nd, mass)) =>
      val wt = wts(src)
      val alloc = 10000000L * wt / totalWt
      val epochs = math.min(4L, math.max(1L, (alloc + mass - 1) / mass))
      val drawn = math.min(alloc, epochs * mass)
      (src, nd, mass, wt, alloc, epochs, drawn,
        1000000L * drawn / (epochs * mass))
    }.sortBy(_._1)
    val got = SparkEntry.queries("sample_epoch_plan")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
        r.getLong(7))).toSeq
    assert(got == expected)
    // the plan never draws more than epochs passes over a source allow,
    // and never more than its allocation
    got.foreach { case (_, _, mass, _, alloc, epochs, drawn, _) =>
      assert(drawn <= alloc && drawn <= epochs * mass && epochs <= 4)
    }
    CacheRegistry.releaseAll()
  }

  test("rfm census matches a fixed-band recompute; shares sum to one") {
    val ev = Tables.events(spark, sfDir)
      .filter("event_type = 'purchase'")
      .selectExpr("user_id", "to_date(ts) AS d",
        "CAST(round(value * 100, 0) AS LONG) AS c").collect()
      .map(r => (r.getLong(0), r.getDate(1).toLocalDate, r.getLong(2)))
    val ref = ev.map(_._2).maxBy(_.toEpochDay)
    val users = ev.groupBy(_._1).toSeq.map { case (_, rs) =>
      val last = rs.map(_._2).maxBy(_.toEpochDay)
      val rec = ref.toEpochDay - last.toEpochDay
      val freq = rs.size
      val mon = rs.map(_._3).sum
      val r = if (rec <= 2) 1L else if (rec <= 5) 2L else if (rec <= 10) 3L
        else if (rec <= 20) 4L else 5L
      val f = if (freq >= 20) 1L else if (freq >= 15) 2L
        else if (freq >= 12) 3L else if (freq >= 8) 4L else 5L
      val m = if (mon >= 100000L) 1L else if (mon >= 80000L) 2L
        else if (mon >= 60000L) 3L else if (mon >= 40000L) 4L else 5L
      ((r, f, m), mon)
    }
    val grand = users.map(_._2).sum
    val expected = users.groupBy(_._1).toSeq.map { case ((r, f, m), rs) =>
      (r, f, m, rs.size.toLong, rs.map(_._2).sum,
        rs.map(_._2).sum.toDouble / grand.toDouble)
    }.sortBy(t => (t._1, t._2, t._3))
    val got = SparkEntry.queries("olap_rfm_segments")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5))).toSeq
    assert(got == expected)
    assert(math.abs(got.map(_._6).sum - 1.0) < 1e-9)
    CacheRegistry.releaseAll()
  }

  test("l-diversity distribution matches a per-group distinct-user recompute") {
    val ev = Tables.events(spark, sfDir)
      .selectExpr("event_type", "dayofweek(to_date(ts)) AS dow",
        "CAST(round(value * 100, 0) AS LONG) AS cc", "user_id")
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    val groups = ev.groupBy(r => (r._1, r._2, r._3 / 2000)).values.map {
      rs => (rs.size.toLong, rs.map(_._4).distinct.size.toLong) }.toSeq
    // l never exceeds k
    assert(groups.forall { case (k, l) => l <= k && l >= 1 })
    val expected = groups.groupBy { case (_, l) =>
      63 - java.lang.Long.numberOfLeadingZeros(l) }.toSeq
      .map { case (lb, gs) =>
        (lb.toLong, gs.size.toLong, gs.map(_._1).sum,
          gs.filter(_._2 < 3).map(_._1).sum,
          gs.map(_._1).sum.toDouble / ev.length.toDouble)
      }.sortBy(_._1)
    val got = SparkEntry.queries("dq_l_diversity")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSeq
    assert(got == expected)
    CacheRegistry.releaseAll()
  }
}
