package graft.tools

import java.nio.file.{Files, Paths}

import graft.SparkEntry

/** Plan-evidence dumper for the optimization rounds: writes each named
  * query's `explain("formatted")` output to `<outDir>/<query>_<tag>.txt`
  * so before/after plan claims in OPTIMIZATION_r{N}.md are committed
  * artifacts (plans/r10/...), checkable without running Spark.
  *
  * The session is graft.GraftSession, the one graft.Bench times under —
  * the dumped plan is the plan the bench times, not a default-config
  * lookalike. With AQE on, this is the
  * initial plan (`AdaptiveSparkPlan isFinalPlan=false`): join strategies,
  * exchanges, pushed filters and read schemas are all decided here;
  * AQE's runtime re-optimization only coalesces/splits partitions and
  * can rewrite SMJ→BHJ at runtime, which the text notes where claimed.
  *
  * Usage: runMain graft.tools.DumpPlans <sfDir> <outDir> <tag> <q1,q2,...>
  */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    require(args.length == 4,
      "usage: DumpPlans <sfDir> <outDir> <tag> <q1,q2,...>")
    val Array(sfDir, outDir, tag, qcsv) = args
    val spark = graft.GraftSession.build(graft.GraftSession.cpus())
    Files.createDirectories(Paths.get(outDir))
    import org.apache.spark.sql.functions.col
    // virtual entry: the walk query eagerly localCheckpoints each step,
    // which TRUNCATES lineage — the committed final plan would not show
    // the per-step join at all. This explains ONE un-checkpointed
    // node-partitioned-tier step (ceiling forced to 1) so the plan
    // evidence shows the actual per-step shape.
    import org.apache.spark.sql.functions.{broadcast, expr, lit, sum => fsum, count => fcount, max_by, struct, negate, min => fmin}
    val G = graft.olap.GraphFrames
    def frame(q: String) = q match {
      case "walk_step_node_tier" =>
        sys.props("graft.walk.maxBroadcastRows") = "1"
        val seeds = G.coPurchaseDegrees(spark, sfDir)
          .orderBy(col("d").desc, col("n")).limit(64)
          .select(col("n").cast("long").as("seed"),
            col("n").cast("long").as("node"))
        G.walkStep(spark, sfDir, seeds, 1L)
      // ---- r11 per-round shapes (the real queries eagerly checkpoint,
      // which truncates lineage — these expose the per-iteration subtree
      // the bench actually pays; `_r10` variants reconstruct the
      // pre-r11 shape verbatim for the before/after plan diff) ----
      case "cc_incremental_input" =>
        // the CC input of dedup_cc_incremental after r11: star edges off
        // the pinned label table ∪ delta off the pinned pair index
        val oldArm = graft.queries.Shared.nearDupLabels(spark, sfDir)
          .filter(col("doc_id") % 5 =!= 0)
          .select(col("doc_id").as("a"), col("canonical_id").as("b"))
        val delta = graft.queries.Shared.nearDupPairs(spark, sfDir)
          .filter(col("doc_a") % 5 === 0 || col("doc_b") % 5 === 0)
          .select(col("doc_a").as("a"), col("doc_b").as("b"))
        oldArm.unionByName(delta)
      case "cc_incremental_input_r10" =>
        // pre-r11: old-corpus re-cluster (star edges of a full CC run
        // over re-banded old docs) ∪ a re-built banded delta self-join
        import graft.dedup.{Components, SimHash}
        import org.apache.spark.sql.functions.{array, bit_count, explode, shiftright}
        val docs = graft.Tables.documents(spark, sfDir)
        val isNewId = col("doc_id") % 5 === 0
        val oldPairs = SimHash.bandedNearDupPairs(docs.filter(!isNewId),
          "doc_id", "text", maxHamming = 1, bands = 2)
        val oldLabels = Components.canonicalLabels(oldPairs,
            "doc_a", "doc_b")
          .select(col("doc_id").as("a"), col("canonical_id").as("b"))
        val bk = docs
          .select(col("doc_id"), SimHash.simhash32(col("text")).as("sh"))
          .select(col("doc_id"), col("sh"), explode(array(
              struct(lit(0).as("band"),
                col("sh").bitwiseAND(lit(65535L)).as("key")),
              struct(lit(1).as("band"),
                shiftright(col("sh"), 16).bitwiseAND(lit(65535L))
                  .as("key")))).as("bk"))
          .select(col("doc_id"), col("sh"),
            col("bk.band").as("band"), col("bk.key").as("key"))
        val delta = bk.as("x").join(bk.as("y"),
            col("x.band") === col("y.band") &&
              col("x.key") === col("y.key") &&
              col("x.doc_id") < col("y.doc_id") &&
              (col("x.doc_id") % 5 === 0 || col("y.doc_id") % 5 === 0))
          .filter(bit_count(col("x.sh").bitwiseXOR(col("y.sh"))) <= 1)
          .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
          .distinct()
        oldLabels.unionByName(delta)
      case "katz_iter" =>
        // one matvec round, r11: pinned pre-partitioned sym frame,
        // join keyed on the cached partitioning column (src)
        val e = G.partSuppSym(spark, sfDir)
        val v = G.partSuppDegrees(spark, sfDir).select(col("n").as("node"))
          .withColumn("katz", lit(1L))
        e.join(v, col("src") === col("node"))
          .groupBy(col("dst").as("n2")).agg(fsum(col("katz")).as("m"))
          .select(col("n2").as("node"),
            (lit(1L) + expr("m DIV 4")).as("katz"))
      case "katz_iter_r10" =>
        // pre-r11: inline symmetrize (unpartitioned persist), join on dst
        val pairs = G.partSuppPairs(spark, sfDir)
        val e = pairs.select((col("l_partkey") * 2).as("src"),
            (col("l_suppkey") * 2 + 1).as("dst"))
          .unionAll(pairs.select((col("l_suppkey") * 2 + 1).as("src"),
            (col("l_partkey") * 2).as("dst")))
        val ec = graft.CacheRegistry.cached(e)
        val v = ec.select(col("src").as("node")).distinct()
          .withColumn("katz", lit(1L))
        ec.join(v, col("dst") === col("node"))
          .groupBy(col("src").as("n2")).agg(fsum(col("katz")).as("m"))
          .select(col("n2").as("node"),
            (lit(1L) + expr("m DIV 4")).as("katz"))
      case "labelprop_round" =>
        // one LPA round over the pinned pre-partitioned sym frame
        val e = G.partSuppSym(spark, sfDir)
        val l = e.select(col("src").as("node")).distinct()
          .withColumn("label", col("node"))
        e.join(l, e("src") === l("node"))
          .groupBy(col("dst").as("n2"), col("label"))
          .agg(fcount(lit(1)).as("c"))
          .groupBy(col("n2").as("node"))
          .agg(max_by(col("label"), struct(col("c"), negate(col("label"))))
            .as("label"))
      case "labelprop_round_r10" =>
        val pairs = G.partSuppPairs(spark, sfDir)
        val e0 = pairs.select((col("l_partkey") * 2).as("src"),
            (col("l_suppkey") * 2 + 1).as("dst"))
          .unionAll(pairs.select((col("l_suppkey") * 2 + 1).as("src"),
            (col("l_partkey") * 2).as("dst")))
        val e = graft.CacheRegistry.cached(e0)
        val l = e.select(col("src").as("node")).distinct()
          .withColumn("label", col("node"))
        e.join(l, e("src") === l("node"))
          .groupBy(col("dst").as("n2"), col("label"))
          .agg(fcount(lit(1)).as("c"))
          .groupBy(col("n2").as("node"))
          .agg(max_by(col("label"), struct(col("c"), negate(col("label"))))
            .as("label"))
      case "bfs_hop" =>
        // one BFS hop over the pinned pre-partitioned sym frame
        val e = G.partSuppSym(spark, sfDir)
        val frontier = G.partSuppDegrees(spark, sfDir)
          .agg(fmin(col("n")).as("node"))
        e.join(frontier.withColumnRenamed("node", "src"), "src")
          .select(col("dst").as("node")).distinct()
      case "bfs_hop_r10" =>
        val pairs = G.partSuppPairs(spark, sfDir)
        val e0 = pairs.select((col("l_partkey") * 2).as("src"),
            (col("l_suppkey") * 2 + 1).as("dst"))
          .unionAll(pairs.select((col("l_suppkey") * 2 + 1).as("src"),
            (col("l_partkey") * 2).as("dst")))
        val e = graft.CacheRegistry.cached(e0)
        val frontier = e.agg(fmin(col("src")).as("node"))
        e.join(frontier.withColumnRenamed("node", "src"), "src")
          .select(col("dst").as("node")).distinct()
      case "cc_seed" =>
        // Components' seed aggregation over the pinned symInput frame —
        // the r11 fast path: no symmetrize union, no Exchange before the
        // partial-aggregable min (lcc_share's CC entry)
        G.coPurchaseSym(spark, sfDir)
          .select(col("u").cast("long").as("a"),
            col("v").cast("long").as("b"))
          .groupBy(col("a").as("node")).agg(fmin(col("b")).as("nmin"))
      case "cc_seed_r10" =>
        // pre-r11: inline symmetrize + repartition inside canonicalLabels
        val e = G.coPurchaseEdges(spark, sfDir)
          .select(col("u").cast("long").as("a"),
            col("v").cast("long").as("b"))
        val sym = e.unionByName(
            e.select(col("b").as("a"), col("a").as("b")))
          .repartition(col("a")).sortWithinPartitions("a")
        graft.CacheRegistry.cached(sym)
          .groupBy(col("a").as("node")).agg(fmin(col("b")).as("nmin"))
      case "hits_matvec" =>
        // one HITS matvec + rescale (the per-round unit; the query's own
        // plan is cache-truncated by the eager per-round counts)
        val e = G.partSuppPairs(spark, sfDir)
          .select(col("l_partkey").as("p"), col("l_suppkey").as("sk"))
        val h = e.select(col("p")).distinct().withColumn("hv", lit(1L))
        val x = e.join(h, Seq("p")).groupBy("sk")
          .agg(fsum(col("hv")).as("av"))
        val mx = x.agg(org.apache.spark.sql.functions.max(col("av"))
          .as("mx"))
        x.crossJoin(broadcast(mx))
          .select(col("sk"), expr("(av * 4096) DIV mx").as("av"))
      case _ => SparkEntry.queries(q)(spark, sfDir)
    }
    for (q <- qcsv.split(",").toSeq) {
      graft.CacheRegistry.setContext(q)
      val df = frame(q)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(s"$outDir/${q}_$tag.txt"), txt)
      graft.CacheRegistry.releaseAll()
      println(s"[plans] wrote $outDir/${q}_$tag.txt")
    }
    spark.stop()
  }
}
