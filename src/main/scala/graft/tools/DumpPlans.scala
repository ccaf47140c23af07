package graft.tools

import java.nio.file.{Files, Paths}

import graft.{Harness, SparkEntry}

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
    // node-partitioned-tier step (ceiling forced to 1 while walkStep picks
    // its tier, then restored, so later entries keep the broadcast tier
    // Bench times) so the plan evidence shows the actual per-step shape.
    import org.apache.spark.sql.functions.{broadcast, expr, lit, sum => fsum, count => fcount, max_by, struct, negate, min => fmin}
    val G = graft.olap.GraphFrames
    def frame(q: String) = q match {
      case "walk_step_node_tier" =>
        val seeds = G.coPurchaseDegrees(spark, sfDir)
          .orderBy(col("d").desc, col("n")).limit(64)
          .select(col("n").cast("long").as("seed"),
            col("n").cast("long").as("node"))
        val ceiling = "graft.walk.maxBroadcastRows"
        val old = sys.props.put(ceiling, "1")
        try G.walkStep(spark, sfDir, seeds, 1L)
        finally old.fold(sys.props.remove(ceiling))(sys.props.put(ceiling, _))
      // ---- r11 per-round shapes (the real queries eagerly checkpoint,
      // which truncates lineage — these expose the per-iteration subtree
      // the bench actually pays) ----
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
      case "bfs_hop" =>
        // one BFS hop over the pinned pre-partitioned sym frame
        val e = G.partSuppSym(spark, sfDir)
        val frontier = G.partSuppDegrees(spark, sfDir)
          .agg(fmin(col("n")).as("node"))
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
      val txt = Harness.run(spark, q)(frame(q).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)).result.toTry.get
      Files.writeString(Paths.get(s"$outDir/${q}_$tag.txt"), txt)
      println(s"[plans] wrote $outDir/${q}_$tag.txt")
    }
    spark.stop()
  }
}
