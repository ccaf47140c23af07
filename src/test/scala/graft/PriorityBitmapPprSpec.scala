package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Round-8 session-3 additions — t-closeness, bitmap exact distinct,
  * personalized PageRank, Good–Turing spectrum, source-priority (onion)
  * dedup, left-outer stream-stream join — each pinned against an
  * independent recompute (plain Scala collections or an independent
  * Spark plan), not just the DuckDB oracle.
  */
class PriorityBitmapPprSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  test("t-closeness: exact-rational TV matches a driver replay") {
    val rows = Tables.events(spark, sfDir)
      .select(col("event_type"), dayofweek(to_date(col("ts"))).as("dow"),
        expr("CAST(round(value * 100, 0) AS BIGINT) DIV 10000").as("tier"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    val n = rows.length.toLong
    val cell = rows.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val cls = rows.groupBy(r => (r._1, r._2)).view
      .mapValues(_.size.toLong).toMap
    val glob = rows.groupBy(_._3).view.mapValues(_.size.toLong).toMap
    val expected = cls.toSeq.sortBy(identity).map { case ((et, dow), nc) =>
      val present = glob.keys.toSeq.filter(t => cell.contains((et, dow, t)))
      val presentNum = present.map(t =>
        math.abs(cell((et, dow, t)) * n - glob(t) * nc)).sum
      val gPresent = present.map(glob).sum
      val num = presentNum + (n - gPresent) * nc
      val den = 2L * nc * n
      (et, dow.toLong, nc, num, den, num.toDouble / den.toDouble)
    }
    val got = SparkEntry.queries("dq_t_closeness")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5))).toSeq
    assert(got == expected)
    // TV is a [0,1] metric; a uniform class scores 0, a disjoint one 1
    assert(got.forall(r => r._6 >= 0.0 && r._6 <= 1.0))
    CacheRegistry.releaseAll()
  }

  test("bitmap distinct == countDistinct (independent plan), segments sized") {
    val got = SparkEntry.queries("olap_bitmap_distinct")(spark, sfDir)
      .collect().map(r => ((r.getString(0), r.getDate(1).toString),
        (r.getLong(2), r.getLong(3)))).toMap
    val exact = Tables.events(spark, sfDir)
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(countDistinct("user_id").as("nd"),
        countDistinct(expr("user_id DIV 62")).as("ns"))
      .collect().map(r => ((r.getString(0), r.getDate(1).toString),
        (r.getLong(2), r.getLong(3)))).toMap
    assert(got == exact)
    CacheRegistry.releaseAll()
  }

  test("personalized pagerank: bitwise replay of the quantized iteration") {
    val Scale = 1000000000000L
    val pairs = Tables.lineitem(spark, sfDir)
      .select("l_partkey", "l_suppkey").distinct()
      .collect().map(r => (r.getLong(0) * 2, r.getLong(1) * 2 + 1))
    val edges = pairs.flatMap { case (p, s) => Seq((p, s), (s, p)) }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val outdeg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val seeds = nodes.filter(_ % 100 == 0).toSet
    val ns = seeds.size.toDouble
    var rank: Map[Long, Double] = nodes.map(nd =>
      nd -> (if (seeds(nd)) 1.0 / ns else 0.0)).toMap
    for (_ <- 1 to 3) {
      val contrib = rank.map { case (nd, rk) =>
        nd -> math.floor(rk / outdeg(nd).toDouble * Scale.toDouble).toLong }
      val received = edges.groupBy(_._2).view.mapValues(
        _.map(e => contrib(e._1)).sum).toMap
      rank = nodes.map(nd => nd ->
        ((if (seeds(nd)) 0.15 * (1.0 / ns) else 0.0)
          + 0.85 * (received.getOrElse(nd, 0L).toDouble
            / Scale.toDouble))).toMap
    }
    val expected = rank.toSeq.map { case (nd, rk) => (nd, rk) }
      .sortBy { case (nd, rk) => (-rk, nd) }.take(30)
    val got = SparkEntry.queries("graph_ppr_seeded")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getDouble(3))).toSeq
    assert(got == expected)
    // teleport lands only on seeds: total seed rank must dominate any
    // single non-seed's (mass decays with distance from the seed set)
    val bySeed = SparkEntry.queries("graph_ppr_seeded")(spark, sfDir)
      .collect().map(r => (r.getBoolean(2), r.getDouble(3)))
    assert(bySeed.exists(_._1), "top-30 should contain at least one seed")
    CacheRegistry.releaseAll()
  }

  test("good-turing: spectrum, smoothed counts and mass from a token replay") {
    val counts = Tables.documents(spark, sfDir).select("text").collect()
      .flatMap(r => "[a-z0-9]+".r.findAllIn(r.getString(0).toLowerCase))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val fof = counts.values.groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    val n = fof.map { case (r, nr) => r * nr }.sum
    val expected = fof.toSeq.sortBy(_._1).take(15).map { case (r, nr) =>
      val nNext = fof.getOrElse(r + 1, 0L)
      (r, nr, nNext, ((r + 1) * nNext).toDouble / nr.toDouble,
        (r * nr).toDouble / n.toDouble)
    }
    val got = SparkEntry.queries("text_good_turing")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toSeq
    assert(got == expected)
    // mass shares over the FULL spectrum sum to 1 — the displayed prefix
    // must never exceed it
    assert(got.map(_._5).sum <= 1.0 + 1e-12)
    CacheRegistry.releaseAll()
  }

  test("source-priority dedup: kill matrix replays off the CC labels") {
    val labels = queries.Shared.nearDupLabels(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val meta = Tables.documents(spark, sfDir)
      .select("doc_id", "source", "n_chars").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    val expected = labels.groupBy(_._2).values.toSeq.flatMap { cluster =>
      val members = cluster.map(_._1)
      val winner = members.minBy(id =>
        (meta(id)._1.drop(3).toLong, id))
      members.filter(_ != winner).map(id =>
        (meta(winner)._1, meta(id)._1, meta(id)._2))
    }.groupBy(t => (t._1, t._2)).toSeq.map { case ((w, l), rows) =>
      (w, l, rows.size.toLong, rows.map(_._3).sum)
    }.sortBy(t => (t._1, t._2))
    val got = SparkEntry.queries("dedup_source_priority")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(got == expected)
    CacheRegistry.releaseAll()
  }

  // independent replay of the engine's portable spread hash
  private val P = 2147483647L
  private def spread(s: String): Long = {
    val h0 = s.foldLeft(0L)((h, c) => (h * 31 + c.toLong) % P)
    val h1 = (h0 * 1103515245L + 12345L) % P
    val h2 = (h1 * h1) % P
    (h2 * 69069L + 362437L) % P
  }

  test("kmv difference: estimator replays; inclusion-exclusion consistent") {
    val li = Tables.lineitem(spark, sfDir)
      .select("l_returnflag", "l_partkey").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    def kmin(flag: String): Seq[Long] =
      li.filter(_._1 == flag).map(t => spread(t._2.toString))
        .distinct.sorted.take(128)
    val sa = kmin("R"); val sb = kmin("A")
    val m = (sa ++ sb).distinct.sorted.take(128)
    def est(s: Seq[Long]): Double =
      if (s.size < 128) s.size.toDouble
      else (s.size - 1).toDouble * P.toDouble / s.max.toDouble
    val exactDiff = (li.filter(_._1 == "R").map(_._2).toSet --
      li.filter(_._1 == "A").map(_._2).toSet).size.toLong
    val got = SparkEntry.queries("sketch_kmv_difference")(spark, sfDir)
      .collect()(0)
    assert((got.getDouble(0), got.getDouble(1), got.getDouble(2),
      got.getDouble(3), got.getLong(4)) ==
      (est(sa), est(sb), est(m), est(m) - est(sb), exactDiff))
    // ~1/sqrt(k) estimator: the sketch difference must land in the same
    // order of magnitude as the exact difference
    assert(math.abs(got.getDouble(3) - exactDiff) <=
      0.5 * math.max(exactDiff.toDouble, 1.0))
    CacheRegistry.releaseAll()
  }

  test("louvain step: synchronized argmax replays off the edge list") {
    val e = graft.olap.GraphFrames.coPurchaseEdges(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val deg = e.flatMap(p => Seq(p._1, p._2)).groupBy(identity)
      .view.mapValues(_.size.toLong).toMap
    val twoM = 2L * e.length
    val sym = e.flatMap { case (u, v) => Seq((u, v), (v, u)) }
    val moved = sym.groupBy(_._1).map { case (i, nbrs) =>
      val (bestJ, gain) = nbrs.map { case (_, j) =>
        (j, twoM - deg(i) * deg(j)) }.minBy { case (j, g) => (-g, j) }
      i -> (if (gain > 0) bestJ else i)
    }
    val expected = moved.values.groupBy(identity).values
      .map(_.size.toLong).groupBy(identity)
      .map { case (sz, c) => (sz, c.size.toLong) }.toSeq.sortBy(_._1)
    val got = SparkEntry.queries("graph_louvain_step")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == expected)
    CacheRegistry.releaseAll()
  }

  test("raking: lattice IPF replays; raked column margins hit the targets") {
    val rows = Tables.events(spark, sfDir)
      .select(col("event_type"), dayofweek(to_date(col("ts"))).as("dow"),
        to_date(col("ts")).as("d"))
      .collect().map(r => (r.getString(0), r.getInt(1),
        r.getDate(2).toLocalDate))
    val d0 = rows.map(_._3).min
    val seed = rows.filter(_._3.isBefore(d0.plusDays(7)))
      .groupBy(r => (r._1, r._2)).view.mapValues(_.size.toLong).toMap
    val rT = rows.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val cT = rows.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val rs0 = seed.groupBy(_._1._1).view
      .mapValues(_.values.sum).toMap
    val w1 = seed.map { case ((et, dw), n) =>
      (et, dw) -> n * 1024L * rT(et) / rs0(et) }
    val cs1 = w1.groupBy(_._1._2).view.mapValues(_.values.sum).toMap
    val w2 = w1.map { case ((et, dw), w) =>
      (et, dw) -> (BigInt(w) * cT(dw) * 1024 / cs1(dw)).toLong }
    val expected = w2.toSeq.sortBy(_._1).map { case ((et, dw), w) =>
      (et, dw.toLong, seed((et, dw)), w, w.toDouble / 1024.0) }
    val got = SparkEntry.queries("agg_raking_ipf")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSeq
    assert(got == expected)
    // after the column pass, each weekday's raked mass must hit its
    // full-period margin up to the lattice floor error (one ulp of the
    // q10 lattice per cell)
    for ((dw, target) <- cT) {
      val raked = w2.collect { case ((_, d), w) if d == dw => w }.sum
      assert(math.abs(raked - target * 1024L) <= w2.size.toLong,
        s"dow $dw raked $raked vs ${target * 1024L}")
    }
    CacheRegistry.releaseAll()
  }

  test("pps systematic: point counts replay; big units enter with certainty") {
    val o = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"),
        expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)").as("sz"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(_._1)
    val total = o.map(_._2).sum
    val step = total / 200; val off = step / 2
    var lo = 0L
    val expected = o.flatMap { case (k, sz) =>
      val n = (lo + sz - 1 - off + step) / step - (lo - 1 - off + step) / step
      val r = if (n >= 1) Some((k, sz, lo, n)) else None
      lo += sz
      r
    }.toSeq
    val got = SparkEntry.queries("sample_pps_systematic")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(got == expected)
    // every lattice point lands in exactly one unit: Σ n_points is the
    // closed-form point count, and any unit at least one step wide is
    // selected with certainty
    assert(got.map(_._4).sum == (total - 1 - off) / step + 1)
    val bigUnits = o.filter(_._2 >= step).map(_._1).toSet
    assert(bigUnits.subsetOf(got.map(_._1).toSet))
    CacheRegistry.releaseAll()
  }

  test("wordpiece: greedy longest-match fold replays; fertility in [1, len]") {
    val docs = Tables.documents(spark, sfDir)
      .select("lang", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val toks = docs.flatMap { case (lang, text) =>
      "[a-z0-9]+".r.findAllIn(text.toLowerCase).map(lang -> _) }
    val top = toks.map(_._2).filter(t => t.length >= 2 && t.length <= 6)
      .groupBy(identity).view.mapValues(_.size).toSeq
      .sortBy { case (t, n) => (-n, t) }.take(50).map(_._1)
    val vocab = (top ++ ('a' to 'z').map(_.toString)
      ++ ('0' to '9').map(_.toString)).toSet
    def encode(t: String): Long = {
      var pos = 0; var np = 0L
      while (pos < t.length) {
        val l = (6 to 2 by -1).find(l =>
          vocab(t.substring(pos, math.min(pos + l, t.length))))
          .map(l => math.min(l, t.length - pos)).getOrElse(1)
        pos += l; np += 1
      }
      np
    }
    val expected = toks.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (lang, ts) =>
        val nt = ts.size.toLong
        val np = ts.map(t => encode(t._2)).sum
        (lang, nt, ts.map(_._2.length.toLong).sum, np,
          np.toDouble / nt.toDouble) }
    val got = SparkEntry.queries("text_wordpiece_encode")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSeq
    assert(got == expected)
    // vocab fallback is total (all single chars present): 1 <= fertility
    assert(got.forall(_._5 >= 1.0))
    CacheRegistry.releaseAll()
  }

  test("boruvka round: forest identity and a driver replay of the picks") {
    val got = SparkEntry.queries("graph_mst_boruvka_round")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    // the symmetric edge order makes the chosen set a forest:
    // n_edges == n_nodes - n_components, exactly
    val nNodes = got.head._3
    val nEdges = got.head._4
    val nComponents = got.map(_._2).sum
    assert(nEdges == nNodes - nComponents,
      s"not a forest: $nEdges edges, $nNodes nodes, $nComponents comps")
    // replay: per-node argmax under (w desc, edge-id asc), CC over the
    // chosen set, histogram comparison
    val li = Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_partkey").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val wts = li.groupBy(_._1).values.toSeq.flatMap { grp =>
      val ps = grp.map(_._2).distinct.sorted.toSeq
      for (a <- ps; b <- ps if a < b) yield (a, b)
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val sym = wts.toSeq.flatMap { case ((u, v), w) =>
      Seq((u, v, w), (v, u, w)) }
    val chosen = sym.groupBy(_._1).values.map { inc =>
      val (i, j, _) = inc.minBy { case (a, b, w) =>
        (-w, math.min(a, b), math.max(a, b)) }
      (math.min(i, j), math.max(i, j))
    }.toSet
    // union-find over chosen
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    sym.map(_._1).distinct.foreach(n => parent.getOrElseUpdate(n, n))
    chosen.foreach { case (a, b) => parent(find(a)) = find(b) }
    val hist = parent.keys.toSeq.map(find).groupBy(identity)
      .values.map(_.size.toLong).groupBy(identity)
      .map { case (sz, g) => (sz, g.size.toLong) }.toSeq.sortBy(_._1)
    assert(got.map(t => (t._1, t._2)).toSeq == hist)
    assert(chosen.size.toLong == nEdges)
    CacheRegistry.releaseAll()
  }

  test("gap pairs: lead replay over per-user ordered streams") {
    val rows = Tables.events(spark, sfDir)
      .select("user_id", "ts", "event_id", "event_type").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getLong(2),
        r.getString(3)))
    val pairs = rows.groupBy(_._1).values.toSeq.flatMap { grp =>
      val seq = grp.sortBy(t => (t._2, t._3)).map(_._4).toIndexedSeq
      for (g <- 2 to 4; i <- seq.indices if i + g < seq.length)
        yield (seq(i), seq(i + g), g.toLong - 1)
    }
    val nGap = pairs.groupBy(_._3).view.mapValues(_.size.toLong).toMap
    val expected = pairs.groupBy(identity).toSeq
      .map { case ((a, b, g), o) => (a, b, g, o.size.toLong,
        o.size.toDouble / nGap(g).toDouble) }
      .filter(_._4 >= 20L).sortBy(t => (t._1, t._2, t._3))
    val got = SparkEntry.queries("mine_seq_gap_pairs")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSeq
    assert(got == expected)
    CacheRegistry.releaseAll()
  }

  test("pca deflation: independent gram+deflation replay; components consistent") {
    // independent path: raw embeddings -> quantized moments -> q20
    // correlation -> BigInt lattice folds, all in plain Scala
    val embs = Tables.embeddings(spark, sfDir)
      .select("embedding").collect()
      .map(_.getSeq[Float](0).map(f =>
        math.floor(f.toDouble * 65536).toLong).toArray)
    val d = embs.head.length
    val n = embs.length.toDouble
    val s = Array.tabulate(d)(i => embs.map(_(i)).sum.toDouble)
    val ss = Array.tabulate(d)(i =>
      embs.map(v => v(i) * v(i)).sum.toDouble)
    val m = Array.tabulate(d + 1, d + 1) { (i1, j1) =>
      if (i1 == 0 || j1 == 0) BigInt(0)
      else if (i1 == j1) BigInt(1048576)
      else {
        val (i, j) = (i1 - 1, j1 - 1)
        val sp = embs.map(v => v(i) * v(j)).sum.toDouble
        val vi = n * ss(i) - s(i) * s(i)
        val vj = n * ss(j) - s(j) * s(j)
        BigInt(math.floor((n * sp - s(i) * s(j))
          / (math.sqrt(vi) * math.sqrt(vj)) * 1048576.0).toLong)
      }
    }
    def iterate3(mm: Array[Array[BigInt]]): Array[BigInt] = {
      var v: Array[BigInt] = Array.fill(d + 1)(BigInt(4096))
      for (_ <- 1 to 3) {
        val x = (0 to d).map(i => (1 to d).foldLeft(BigInt(0))((a, j)
          => a + mm(i)(j) * v(j))).toArray
        val mx = (1 to d).map(i => x(i).abs).max
        v = x.map { xi =>
          val p = xi * 4096; val q = p / mx; val r = p - q * mx
          if (r.signum != 0 && r.signum < 0) q - 1 else q
        }
      }
      v
    }
    val v = iterate3(m)
    val dBig = (1 to d).map(i => v(i) * v(i)).sum
    val nBig = (for (i <- 1 to d; j <- 1 to d)
      yield v(i) * m(i)(j) * v(j)).sum
    val m2 = Array.tabulate(d + 1, d + 1)((i, j) =>
      if (i == 0 || j == 0) BigInt(0)
      else m(i)(j) * dBig * dBig - nBig * v(i) * v(j))
    val w = iterate3(m2)
    val expected = (1 to d).map(i => (i.toLong, v(i).toLong, w(i).toLong))
    val got = SparkEntry.queries("emb_pca_deflation")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq
    assert(got == expected)
    // first component must be bitwise the emb_power_iteration output
    val first = SparkEntry.queries("emb_power_iteration")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got.map(t => (t._1, t._2)) == first)
    // the deflated direction cannot be (anti)parallel to the first
    val dot = got.map(t => t._2.toDouble * t._3.toDouble).sum
    val nv = math.sqrt(got.map(t => t._2.toDouble * t._2.toDouble).sum)
    val nw = math.sqrt(got.map(t => t._3.toDouble * t._3.toDouble).sum)
    assert(math.abs(dot) / (nv * nw) < 0.5,
      s"second component nearly parallel to first: cos=${dot / (nv * nw)}")
    CacheRegistry.releaseAll()
  }

  test("pps HT estimate: unbiased-form replay; estimate lands near truth") {
    val o = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"),
        expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)").as("sz"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val total = o.map(_._2).sum
    val nExact = o.length.toLong
    val step = total / 200; val off = step / 2
    var lo = 0L
    var estQ = 0L; var nPts = 0L; var nSel = 0L
    for ((_, sz) <- o) {
      val k = (lo + sz - 1 - off + step) / step -
        (lo - 1 - off + step) / step
      if (k >= 1) {
        estQ += k * step * 1048576L / sz; nPts += k; nSel += 1
      }
      lo += sz
    }
    val got = SparkEntry.queries("sample_pps_ht_estimate")(spark, sfDir)
      .collect()(0)
    assert((got.getLong(0), got.getLong(1), got.getLong(2),
      got.getLong(3), got.getDouble(4), got.getLong(5), got.getLong(6)) ==
      (nExact, nSel, nPts, estQ, estQ.toDouble / 1048576.0, total,
        nPts * step))
    // Hansen–Hurwitz is unbiased; on one draw it must land within 50%
    // of the true unit count (loose, but catches a broken estimator)
    assert(math.abs(estQ.toDouble / 1048576.0 - nExact) < 0.5 * nExact)
    CacheRegistry.releaseAll()
  }

  test("histogram equalization: remap replay; range stretched to [0,255]") {
    val metas = Tables.documents(spark, sfDir)
      .select("doc_id", "n_chars").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val expected = metas.sortBy(_._1).map { case (id, nChars) =>
      val w = (1 + id % 8).toInt; val h = (1 + nChars % 8).toInt
      val px = for (y <- 0 until h; x <- 0 until w)
        yield ((id * 31 + x * 7 + y * 13) % 256).toInt
      val n = px.size.toLong
      val hist = px.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val levels = hist.keys.toSeq.sorted
      val cdf = levels.scanLeft(0L)((a, p) => a + hist(p)).tail
      val cdfByLevel = levels.zip(cdf).toMap
      val cdfMin = cdf.head
      def remap(p: Int): Long =
        if (n == cdfMin) 0L
        else (cdfByLevel(p) - cdfMin) * 255L / (n - cdfMin)
      (id, w.toLong, h.toLong, px.map(_.toLong).sum,
        px.map(p => remap(p)).sum, levels.size.toLong,
        levels.map(remap).distinct.size.toLong)
    }.toSeq
    val got = SparkEntry.queries("mm_image_histogram_eq")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    assert(got == expected)
    CacheRegistry.releaseAll()
  }

  test("kneser-ney: exact-ratio replay; probabilities sum to 1 per history") {
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def toks(t: String) = "[a-z0-9]+".r.findAllIn(t.toLowerCase).toSeq
    val bg = docs.flatMap { case (id, lang, text) =>
      val t = toks(text)
      t.zip(t.drop(1)).map { case (v, w) => (id % 2 == 0, lang, v, w) }
    }
    val cnt = bg.filter(_._1).groupBy(t => (t._3, t._4)).view
      .mapValues(_.size.toLong).toMap
    val cv = cnt.groupBy(_._1._1).view
      .mapValues(m => (m.values.sum, m.size.toLong)).toMap
    val nw = cnt.groupBy(_._1._2).view.mapValues(_.size.toLong).toMap
    val b = cnt.size.toLong
    def ratio(v: String, w: String): (Long, Long) = cv.get(v) match {
      case None => (nw.getOrElse(w, 0L), b)
      case Some((cvv, n1v)) =>
        val c = cnt.getOrElse((v, w), 0L)
        (math.max(4 * c - 3, 0L) * b + 3L * n1v * nw.getOrElse(w, 0L),
          cvv * 4L * b)
    }
    val expected = bg.filterNot(_._1).groupBy(_._2).toSeq.sortBy(_._1)
      .map { case (lang, rows) =>
        val rs = rows.map(t => ratio(t._3, t._4))
        val covered = rs.count(_._1 > 0).toLong
        val bits = rs.filter(_._1 > 0).map { case (num, den) =>
          graft.functions.FixedLog2.log2fp(den) -
            graft.functions.FixedLog2.log2fp(num) }.sum
        (lang, rows.size.toLong, covered, bits,
          bits.toDouble / (covered * 1048576L).toDouble,
          covered.toDouble / rows.size.toDouble)
      }
    val got = SparkEntry.queries("text_kneser_ney_bits")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getDouble(5))).toSeq
    assert(got == expected)
    // KN is a proper distribution: for every seen history v, the exact
    // ratios over the TRAIN vocabulary of continuations sum to <= 1
    // (equality up to the discount mass spread over unseen w)
    val vs = cv.keys.take(20)
    for (v <- vs) {
      val mass = nw.keys.toSeq.map { w =>
        val (num, den) = ratio(v, w); num.toDouble / den.toDouble }.sum
      assert(mass <= 1.0 + 1e-9, s"history $v mass $mass > 1")
    }
    CacheRegistry.releaseAll()
  }

  test("stream-stream full join: both sides' evictions match the threshold formula") {
    val streamed = SparkEntry.queries("stream_stream_full_join")(
      spark, sfDir)
    val evB = Tables.events(spark, sfDir)
    val pB = evB.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        col("user_id").as("p_user"), col("ts").as("p_ts"))
    val vB = evB.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"),
        col("user_id").as("v_user"), col("ts").as("view_ts"),
        col("value").as("view_value"))
    val cond = col("p_user") === col("v_user") &&
      col("view_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
      col("view_ts") <= col("p_ts")
    val wmMs = pB.agg(max("p_ts")).collect()(0).getTimestamp(0).getTime
      .min(vB.agg(max("view_ts")).collect()(0).getTimestamp(0).getTime) -
      3600L * 1000L
    val wm = new java.sql.Timestamp(wmMs)
    val matched = pB.join(vB, cond)
      .select(col("purchase_id"), col("view_id"),
        col("p_user").as("user_id"), col("p_ts"), col("view_ts"),
        col("view_value"))
    val unmatchedL = pB.join(vB, cond, "left_anti")
      .filter(col("p_ts") < lit(wm))
      .select(col("purchase_id"), lit(null).cast("long").as("view_id"),
        col("p_user").as("user_id"), col("p_ts"),
        lit(null).cast("timestamp").as("view_ts"),
        lit(null).cast("double").as("view_value"))
    val unmatchedR = vB.join(pB, cond, "left_anti")
      .filter(col("view_ts") + expr("INTERVAL 1 HOUR") < lit(wm))
      .select(lit(null).cast("long").as("purchase_id"), col("view_id"),
        col("v_user").as("user_id"),
        lit(null).cast("timestamp").as("p_ts"), col("view_ts"),
        col("view_value"))
    val expected = matched.unionAll(unmatchedL).unionAll(unmatchedR)
      .orderBy(coalesce(col("purchase_id"), col("view_id")),
        col("view_id")).collect().toSeq
    assert(streamed.collect().toSeq == expected)
    // both eviction classes must actually be present at this SF
    val rows = expected
    assert(rows.exists(r => r.isNullAt(1)), "no left evictions present")
    assert(rows.exists(r => r.isNullAt(0)), "no right evictions present")
    CacheRegistry.releaseAll()
  }

  test("stream-stream left join: emitted set == threshold formula, crafted batches") {
    import spark.implicits._
    // crafted two-file replay: the watermark advances mid-stream, so
    // evictions happen across batch boundaries — the emitted set must
    // still equal the final-watermark threshold formula the oracle uses
    val dir = graft.io.WorkDir.create("sslj").toString
    def ts(m: Long) = new java.sql.Timestamp(1700000000000L + m * 60000L)
    // trailing-hour semantics: a view matches only if it PRECEDES the
    // purchase within 1h. purchases at minutes 20, 30, 300, 301; views
    // at 10 (user 1 — matches purchase@20) and 290 (user 3 — matches
    // purchase@300); user 9's view matches nothing
    val early = Seq(
      (1L, ts(20), 1L, "purchase", 10.0),
      (2L, ts(10), 1L, "view", 1.5),
      (3L, ts(30), 2L, "purchase", 20.0),
      (4L, ts(40), 9L, "view", 9.9))
    val late = Seq(
      (5L, ts(290), 3L, "view", 2.5),
      (6L, ts(300), 3L, "purchase", 30.0),
      (7L, ts(301), 4L, "purchase", 40.0))
    val schema = "event_id LONG, ts TIMESTAMP, user_id LONG, " +
      "event_type STRING, value DOUBLE"
    early.toDF("event_id", "ts", "user_id", "event_type", "value")
      .coalesce(1).write.parquet(s"$dir/f1")
    late.toDF("event_id", "ts", "user_id", "event_type", "value")
      .coalesce(1).write.parquet(s"$dir/f2")
    // one data dir, chronological mtimes so the file source replays in
    // event-time order (no artificial late data)
    val data = graft.io.WorkDir.create("sslj_in").toString
    var i = 0
    for (sub <- Seq("f1", "f2")) {
      val src = new java.io.File(s"$dir/$sub").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(data, f"$i%02d.parquet")
      java.nio.file.Files.copy(src.toPath, dst.toPath)
      dst.setLastModified(1700000000000L + i * 60000L)
      i += 1
    }
    // one file per micro-batch, so join state and watermark eviction
    // carry across batches
    val ev = spark.readStream.schema(
      org.apache.spark.sql.types.StructType.fromDDL(schema))
      .option("maxFilesPerTrigger", 1).parquet(data)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val v = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("view_ts"),
        col("value").as("view_value"))
      .withWatermark("view_ts", "1 hour")
    val got = graft.streaming.BoundedRun.toParquet(p.join(v,
        col("p_user") === col("user_id") &&
          col("view_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
          col("view_ts") <= col("p_ts"), "leftOuter")
      .select(col("event_id"), col("p_user"), col("p_ts"),
        col("view_ts"), col("view_value")), "sslj_mem", "append").collect()
      .map(r => (r.getLong(0), Option(r.get(3)).map(_.toString)))
      .toSet
    // final watermark = min(max p_ts, max view_ts) - 1h
    //   = min(301, 290) - 60 = minute 230
    // matched: purchase 1 (view at 10); purchase 6 (view at 290, within
    // [240, 300]). evicted-unmatched: purchase 3 (p_ts=30 < 230).
    // withheld: purchase 7 (p_ts=301 >= 230, unmatched but not provably
    // final at end of stream).
    assert(got == Set(
      (1L, Some(ts(10).toString)),
      (6L, Some(ts(290).toString)),
      (3L, None)))
    // and the fixture query equals the batch threshold formula bitwise
    val streamed = SparkEntry.queries("stream_stream_left_join")(
      spark, sfDir)
    val evB = Tables.events(spark, sfDir)
    val pB = evB.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
    val vB = evB.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("view_ts"),
        col("value").as("view_value"))
    val cond = col("p_user") === col("v_user") &&
      col("view_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
      col("view_ts") <= col("p_ts")
    val wmRow = pB.agg(max("p_ts")).collect()(0).getTimestamp(0).getTime
      .min(vB.agg(max("view_ts")).collect()(0).getTimestamp(0).getTime) -
      3600L * 1000L
    val matched = pB.join(vB, cond)
      .select(col("event_id"), col("p_user").as("user_id"),
        col("p_ts").as("ts"), col("view_ts"), col("view_value"))
    val unmatched = pB.join(vB, cond, "left_anti")
      .filter(col("p_ts") < lit(new java.sql.Timestamp(wmRow)))
      .select(col("event_id"), col("p_user").as("user_id"),
        col("p_ts").as("ts"), lit(null).cast("timestamp").as("view_ts"),
        lit(null).cast("double").as("view_value"))
    val expected = matched.unionAll(unmatched)
      .orderBy("event_id", "view_ts", "view_value").collect().toSeq
    assert(streamed.orderBy("event_id", "view_ts", "view_value")
      .collect().toSeq == expected)
    CacheRegistry.releaseAll()
  }
}
