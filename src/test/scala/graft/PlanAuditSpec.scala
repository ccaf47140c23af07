package graft

import org.scalatest.funsuite.AnyFunSuite

/** Prints executed plans for manual audit (run with testOnly ... -- -z audit). */
class PlanAuditSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  test("IVF argmax stages are partial-aggregable max_by, not window shuffles") {
    // assignment: no window at all — the n×k scored rows must pre-reduce
    // map-side (partial_max_by) so only one row per vector shuffles
    val assign = SparkEntry.queries("sim_ivf_assign")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!assign.contains("Window"), "assignment must not use a window")
    assert(assign.contains("partial_max_by"),
      "assignment argmax must partial-aggregate map-side")
    // probe: the per-query windows (tiny query set) are fine, but the
    // corpus-side assignment stage must not window-partition by vec_id
    val probe = SparkEntry.queries("sim_ivf_probe_topk")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(probe.contains("partial_max_by"))
    assert(!probe.contains("windowspecdefinition(vec_id"),
      "corpus assignment must not shuffle through a vec_id window")
  }

  test("MinHash self-join reads the bucket frame from cache (one corpus scan)") {
    val df = SparkEntry.queries("dedup_minhash_lsh")(spark, sf)
    df.write.format("noop").mode("overwrite").save()
    val plan = df.queryExecution.executedPlan.toString
    assert("InMemoryTableScan".r.findAllIn(plan).size >= 2,
      "both join sides must read the persisted bucket frame")
  }

  test("top-k-per-group queries plan as WindowGroupLimit") {
    // rank-filter patterns must push the per-group limit below the
    // window sort (per-partition heaps of k rows shuffle, not the full
    // partition) — the distributed top-k shape
    for (q <- Seq("sample_stratified", "sample_weighted_topk",
                  "sim_bruteforce_topk", "text_tfidf_topk",
                  "sim_mips_norm_pruned", "sim_rrf_fusion")) {
      val p = SparkEntry.queries(q)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(p.contains("WindowGroupLimit"), s"$q: no WindowGroupLimit")
    }
  }

  test("CDC upsert argmax is partial-aggregable max_by, not a window") {
    val p = SparkEntry.queries("inc_upsert_latest")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("partial_max_by"),
      "latest-wins compaction must pre-reduce map-side")
    assert(!p.contains("Window"),
      "compaction must not sort the change log through a window")
  }

  test("bloom probe joins the position set via broadcast") {
    val p = SparkEntry.queries("sketch_bloom_join")(spark, sf)
      .queryExecution.executedPlan.toString
    // the filter's positions broadcast to the probe side — the probe's
    // candidacy check must not shuffle the probe keys against them
    assert(p.contains("BroadcastExchange"))
    assert(p.contains("LeftSemi"))
  }

  test("no scale red flags in any query plan (allowlisted BNLJ only)") {
    // every BroadcastNestedLoopJoin in the engine is one of: a 1-row
    // watermark/scalar probe, a broadcast query/centroid set scored
    // against the corpus (non-equi by design), or a declared bounded
    // ground-truth pairs query. Anything new showing up here is a
    // regression to investigate, not an allowlist edit to make.
    val bnljAllowed = Set(
      "cal_weekday_filter", "inc_derived_rebuild", "inc_missing_suffix",
      "inc_snapshot_diff", "inc_agg_merge",
      "dedup_embedding_cosine", "dedup_ngram_jaccard", "dedup_simhash_pairs",
      // the ngram_jaccard bounded exact-pairs posture, ordered pairs
      // (containment is directional so both (a,b) and (b,a) score)
      "dedup_containment",
      "text_ngram_containment",
      "sim_bruteforce_topk", "sim_ivf_assign", "sim_ivf_probe_topk",
      // composite index: same broadcast-centroid non-equi probe/assign
      // stages as its two allowlisted halves
      "sim_ivf_pq_topk",
      "sim_kmeans_update", "emb_matryoshka_agreement",
      // exact-relevance side = the bruteforce ground-truth shape
      "sim_ndcg_eval",
      // 5-row per-type series arrays paired non-equi (bounded by series
      // cardinality, never corpus size)
      "ts_dtw_band",
      // 1-row aggregate summaries combined via crossJoin (scalar probes)
      "sketch_bloom_join", "sketch_kmv_jaccard", "text_tfidf_topk",
      // 1-row scalar combines: node count N (init rank 1/N), the
      // mixture bound M = min(count*10 div wt), and the temperature
      // resampler's 1-row language max
      "graph_pagerank", "sample_mixture_balance", "sample_temperature",
      // 1-row Σwt scalar crossJoined into the lattice budget split
      "sample_domain_mixture",
      // merged global HLL sketch × global exact count (1-row × 1-row)
      "sketch_hll_distinct",
      // node/edge/triangle 1-row summaries combined via crossJoin
      "graph_triangles",
      // 1-row total-count scalar joined into the candidate verify
      "sketch_mg_heavy",
      // 1-row median-degree threshold + 1-row per-round stat combines
      "graph_kcore",
      // 1-row grand-total scalar joined into the ratio projection
      "agg_share_of_total", "dq_benford_digits",
      // bounded type-universe (~5 rows) broadcast against the value
      // support to materialize explicit zero-count grid cells
      "agg_mann_whitney_u",
      // 1-row top-of-funnel count joined into the stage fractions
      "agg_funnel_stages",
      // 1-row H/tie scalars combined and joined onto the group rows
      "agg_kruskal_wallis",
      // 1-row edge-ladder × 1-row node-ladder combine
      "graph_rich_club",
      // bounded type×weekday grid + 1-row N/R/C scalar combine
      "agg_cramers_v",
      // 1-row basket-count scalar into the rule metrics
      "mine_association_rules",
      // 1-row transition-total scalar into the lift rationals
      "mine_transition_lift",
      // 1-row pooled-sign scalar joined onto the per-brand rows
      "agg_simpson_check",
      // 1-row corpus totals (N docs × T tokens) into the scoring chain
      "text_bm25_topk",
      // 1-row series-count scalar gating the market basket dates
      "ts_beta",
      // 1-row global-max scalar joined into the staleness projection
      "wm_freshness_report",
      // 1-row grand-total scalars joined into hierarchy/Pareto shares
      "olap_percent_of_parent", "olap_abc_classification",
      // same 1-row grand-total scalar combine, once per compared period
      "olap_abc_migration",
      // 1-row grand-total scalar into the 15-cell G-term projection
      "agg_g_test",
      // 1-row totals x 1-row chance-margin combine over the <=9-cell grid
      "agg_cohens_kappa",
      // 1-row normalizer onto the k-row stationary vector
      "mine_markov_stationary",
      // 1-row motif scalars (stats x edges x triangles x P3) combined
      "graph_path3_census",
      // 1-row (T, V) LM-stats broadcast onto the held-out token stream
      "text_heldout_perplexity",
      // 1-row global date-bounds scalar broadcast onto the event rows
      "agg_capture_recapture",
      // 1-row regression scalars onto day rows + 1-row rho combine
      "ts_cointegration_screen",
      // 1-row x_(k+1) log scalar onto the 200-row tail frame
      "agg_hill_tail_index",
      // 4-row k axis range-joined onto the bounded gt/ivf hit frame
      "sim_recall_at_k_curve",
      // 1-row global date-bounds scalar broadcast onto the event rows
      "agg_poisson_rate_test",
      // 5-row stats self-join (a < b pairs) + 1-row totals combine
      "agg_tukey_hsd",
      // 1-row erased x kept audit scalars per table
      "inc_gdpr_erasure",
      // per-relation 1-row child-stats x 1-row orphan-stats combines
      "dq_referential_integrity",
      // 1-row m x intra-count x degree-mass scalar combines
      "graph_modularity",
      // broadcast 1-row (n1, n2) scalar into the lattice projection
      "agg_ks_statistic",
      // broadcast 1-row total-count scalar into the lattice D terms
      "agg_hash_uniformity_ks",
      // broadcast 1-row histogram-rank and boundary-day scalars
      "sample_time_purged_split",
      // 1-row CI bounds x 1-row point-estimate combine
      "agg_bootstrap_ci",
      // 1-row per-set estimates x union sketch x exact-intersection
      "sketch_hll_intersection",
      // broadcast 1-row global-moment scalar into the per-day band test
      "agg_control_chart",
      // 1-row rank scalars x quartile picks x signup-count combine
      "agg_time_to_convert",
      // 1-row per-round max-score scalar into each HITS renormalize
      "graph_hits",
      // 1-row total-weight scalar joined into the allocation projection
      "sample_neyman_allocation", "sample_expansion_estimate",
      // 1-row window-midpoint scalar + 1-row arm/pooled-moment combines
      "agg_cuped_adjustment",
      // 1-row window-midpoint scalar gating the two distribution halves
      "dq_psi_value_drift",
      // 1-row confusion-census scalar combines
      "dedup_lsh_quality",
      // 1-row Zipf-slope scalar joined into the spectrum rows
      "text_zipf_spectrum",
      // 1-row grand-total N joined into every contingency cell
      "agg_chi2_contingency",
      // group-count-sized stats frame self-joined non-equi for the pairs
      "agg_two_sample_z", "agg_effect_size_t",
      // bounded 5-row pattern table broadcast against the user transcripts
      "olap_sequence_match",
      // broadcast k-row centroid set scored against every vector (the
      // sim_kmeans_update shape)
      "emb_silhouette_simplified",
      // 1-row corpus token total joined into the PMI scoring chain
      "text_collocation_pmi",
      // 1-row (N, L) mixture totals joined into the per-language weights
      "sample_importance_reweight",
      // 1-row N/MI/entropy scalar combines
      "agg_mutual_information",
      // 1-row corpus token total joined into the per-source KL terms
      "text_kl_source_shift",
      // bounded language-universe (~5 rows) broadcast non-equi for the
      // directed pair frame
      "text_js_divergence",
      // id-bounded probe set broadcast non-equi against the corpus (the
      // sim_bruteforce_topk ground-truth shape)
      "sim_knn_loo_accuracy",
      // 1-row minority-class-size scalar gating the per-label rank filter
      "sample_class_balanced",
      // k×k broadcast centroid-pair frame (bounded by label cardinality)
      "emb_davies_bouldin",
      // 1-row per-dim-bounds arrays broadcast onto the encode + the
      // broadcast probe set scored non-equi (the sim_bruteforce shape)
      "sim_sq8_adc_topk",
      // id-bounded pair frame broadcast non-equi (the JL-audit ground
      // truth; projection itself is a per-row zero-shuffle projection)
      "emb_random_projection",
      // 1-row total-weight scalar joined into the ppm shares
      "sample_negative_table",
      // id-bounded probe set broadcast non-equi (ground truth) + the
      // IVF broadcast-centroid scoring pass
      "sim_ivf_recall",
      // broadcast query set scored non-equi against the corpus (the
      // sim_bruteforce_topk shape), twice: the 32-row seed floor pass
      // and the norm-pruned verify pass
      "sim_mips_norm_pruned",
      // the same broadcast-query non-equi scoring pass, feeding both
      // fused rankings
      "sim_rrf_fusion",
      // 1-row grand-total scalar joined into the bucket shares
      "dq_k_anonymity",
      // 1-row (T, V) LM-stats broadcast onto the held-out token stream
      // (the text_heldout_perplexity shape feeding the tercile cut)
      "text_ccnet_buckets",
      // 1-row normalizer scalar (log R+64 − log T+64) onto the doc rows;
      // the 64-row bucket weight table itself equi-joins hashed
      "text_dsir_weights",
      // 1-row corpus-total scalar joined into the shard shares
      "pack_shard_manifest",
      // 1-row grand-total scalar joined into the bucket shares (the
      // dq_k_anonymity shape over distinct-subject counts)
      "dq_l_diversity",
      // broadcast centroid set scored against the corpus (the
      // sim_ivf_assign shape); the dedup self-join itself equi-joins
      // on centroid_id
      "dedup_semdedup",
      // broadcast query set scored non-equi against the corpus (the
      // sim_bruteforce_topk shape) feeding the bounded rerank pools
      "sim_mmr_rerank",
      // 1-row Σwt scalar crossJoined into the lattice budget split
      // (the sample_domain_mixture shape, token-denominated)
      "sample_epoch_plan",
      // 1-row global-clock scalar + 1-row grand-revenue scalar combines
      "olap_rfm_segments",
      // 1-row seed-count scalar crossJoined into every rank update
      // (the graph_pagerank 1/N shape, seeded)
      "graph_ppr_seeded",
      // 1-row grand-total scalar joined into the TV terms (the
      // dq_k_anonymity/dq_l_diversity shape)
      "dq_t_closeness",
      // 1-row Σ r·N_r corpus-mass scalar joined into the tiny spectrum
      "text_good_turing",
      // three 1-row KMV estimate rows combined via crossJoin + the
      // 1-row exact-difference scalar (the sketch_kmv_jaccard shape)
      "sketch_kmv_difference",
      // 1-row 2m edge-mass scalar crossJoined into the gain terms
      "graph_louvain_step",
      // 1-row clock scalar (first-week cut) — margins join broadcast-HASH
      "agg_raking_ipf",
      // 1-row total-size scalar crossJoined into the point-count DIV
      "sample_pps_systematic",
      // 1-row node-count + 1-row edge-count scalars crossJoined into
      // the forest histogram (the graph_triangles summary shape)
      "graph_mst_boruvka_round",
      // 1-row total/count scalar crossJoined into the point-count DIV
      // (the sample_pps_systematic shape, estimator side)
      "sample_pps_ht_estimate",
      // 1-row bigram-type-count scalar crossJoined into the KN ratios
      "text_kneser_ney_bits")
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)
         if !name.startsWith("stream_")) {
      val exec = fn(spark, sf).queryExecution.executedPlan
      val p = exec.toString
      assert(!p.contains("CartesianProduct"), s"$name: cartesian product")
      if (!bnljAllowed(name))
        assert(!p.contains("BroadcastNestedLoopJoin"),
          s"$name: unexpected nested-loop join")
      // tree-walk, not string-match: an unpartitioned WindowExec moves
      // ALL data to one task. Every deliberate single-partition window
      // keys by Exact.onePartition (non-foldable), so an empty
      // partitionSpec here is always a genuine missing key — including
      // one reintroduced by Spark 4's EliminateWindowPartitions folding
      // a foldable key away (which is exactly what a string check on
      // the pre-optimization spec would miss). AdaptiveSparkPlanExec is
      // a leaf to TreeNode.collect, so descend into it explicitly.
      def walk(n: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.SparkPlan] = n +: (n match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          walk(a.executedPlan)
        case _ => n.children.flatMap(walk)
      })
      val bare = walk(exec).filter {
        case w: org.apache.spark.sql.execution.window.WindowExec =>
          w.partitionSpec.isEmpty
        case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec =>
          w.partitionSpec.isEmpty
        case _ => false
      }
      assert(bare.isEmpty, s"$name: unpartitioned window: ${bare.headOption}")
      CacheRegistry.releaseAll()
    }
  }

  /** Every source file under `root`, by path relative to it, with its
    * comments removed.
    */
  private def code(root: java.nio.file.Path): Seq[(String, String)] = {
    import scala.jdk.CollectionConverters._
    val comment = """(?s)/\*.*?\*/|//[^\n]*""".r
    java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .map(p => root.relativize(p).toString -> comment.replaceAllIn(
        new String(java.nio.file.Files.readAllBytes(p),
          java.nio.charset.StandardCharsets.UTF_8), ""))
  }

  private lazy val mainCode = code(java.nio.file.Paths.get("src/main/scala"))

  test("bounded streams start, drain and stop only in BoundedRun") {
    // one lifecycle and one sink for every bounded stream: outside
    // comments, the stream-writing calls occur once each in src/main, all
    // in streaming/BoundedRun.scala — a hand-written lifecycle anywhere
    // else fails here — and neither a memory sink nor a graft stream conf
    // key (a knob that picks a second path) occurs at all
    val calls = Seq("writeStream", "processAllAvailable")
    val banned = Seq("format(\"memory\")", "spark.graft.stream.")
    val hits = for {
      (path, code) <- mainCode
      c <- calls ++ banned
      n = code.split(java.util.regex.Pattern.quote(c), -1).length - 1
      if n > 0
    } yield (path, c, n)
    assert(hits.sortBy(_._2) ==
      calls.map(c => ("graft/streaming/BoundedRun.scala", c, 1)).sortBy(_._2))
  }

  test("the query-run lifecycle is written only in Harness") {
    // payer context, job description, cache release and CPU/GC timing
    // around a query run: outside comments each occurs in src/main only in
    // graft/Harness.scala (CacheRegistry defines the first and third), so
    // a hand-written copy of the loop anywhere else fails here
    val calls = Seq("CacheRegistry.setContext(", ".setJobDescription(",
      "CacheRegistry.releaseAll()", "getProcessCpuTime",
      "getGarbageCollectorMXBeans")
    val hits = for {
      (path, code) <- mainCode if path != "graft/CacheRegistry.scala"
      c <- calls if code.contains(c)
    } yield (c, path)
    assert(hits.sorted ==
      calls.map(c => (c, "graft/Harness.scala")).sorted)
  }

  test("session extensions are installed only by GraftSession") {
    // one install path: GraftSession.build installs GraftExtensions;
    // outside comments no src/main file appends to a live session's
    // experimental rule lists or registers functions by hand
    def files(s: String) = mainCode.filter(_._2.contains(s)).map(_._1)
    assert(files("experimental.").isEmpty)
    assert(files("registerAll").isEmpty)
    assert(files("withExtensions") == Seq("graft/GraftSession.scala"))
  }

  test("src/main starts no process and makes temp directories only in WorkDir") {
    // a fork costs milliseconds and books as no Spark layer; work
    // directories go through the one helper that deletes them at exit
    val fork = """ProcessBuilder|sys\.process|Runtime\.getRuntime(\(\))?\.exec""".r
    val forks = mainCode.filter(c => fork.findFirstIn(c._2).isDefined)
      .map(_._1)
    assert(forks.isEmpty, s"process starts in ${forks.mkString(", ")}")
    val temp = mainCode.filter(_._2.contains("createTempDirectory")).map(_._1)
    assert(temp == Seq("graft/io/WorkDir.scala"))
  }

  test("specs make scratch directories only through WorkDir") {
    // a spec's sinks and checkpoints are deleted at JVM exit like a
    // query's; a bare temp directory would outlive every test run
    val temp = """createTempDirectory\s*\(""".r
    val hits = code(java.nio.file.Paths.get("src/test/scala"))
      .filter(c => temp.findFirstIn(c._2).isDefined).map(_._1)
    assert(hits.isEmpty, s"createTempDirectory in ${hits.mkString(", ")}")
  }

  test("every class core-site.xml names loads") {
    import scala.jdk.CollectionConverters._
    val conf = new org.apache.hadoop.conf.Configuration(false)
    conf.addResource("core-site.xml")
    val entries = conf.iterator().asScala.map(e => e.getKey -> e.getValue)
      .toMap
    assert(entries.keySet == Set("fs.file.impl",
      "fs.AbstractFileSystem.file.impl"))
    for (cls <- entries.values) assert(conf.getClassByName(cls) != null, cls)
  }

  test("kcore median is a degree histogram pick — no window over the node frame") {
    import spark.implicits._
    // degrees of the PackRankSpec hand graph: (d,n)-sorted
    // (1,5)(2,1)(2,2)(2,4)(3,3) → positional median (rank 3) = 2
    val d0 = Seq((5L, 1L), (1L, 2L), (2L, 2L), (4L, 2L), (3L, 3L))
      .toDF("n", "d")
    val kth = graft.olap.KCore.medianDegree(d0)
    val p = kth.queryExecution.executedPlan.toString
    assert(!p.contains("Window"),
      "median must come from the histogram cumulative pick, not a " +
      "positional window over all nodes")
    assert(kth.collect()(0).getLong(0) == 2L)
    // even ranks pick the lower-middle value, matching (n+1) DIV 2:
    // degrees (1,2,3,4) → rank 2 → 2
    val even = Seq((1L, 1L), (2L, 2L), (3L, 3L), (4L, 4L)).toDF("n", "d")
    assert(graft.olap.KCore.medianDegree(even).collect()(0).getLong(0) == 2L)
  }

  test("triangle closure runs the list intersect, not a wedge join") {
    // the closure now lives in the PINNED materialized triangle list
    // (GraphFrames.coPurchaseTriangles) — audit the closure plan itself
    val G = graft.olap.GraphFrames
    val cp = graft.olap.Triangles.closureOf(
        G.coPurchaseOriented(spark, sf), G.coPurchaseAdjacency(spark, sf))
      .queryExecution.executedPlan.toString
    assert(cp.contains("array_intersect"),
      "closure must intersect the two sorted neighbor lists per edge")
    // the wedge formulation's signature was a join keyed on the wedge
    // endpoints (u, v) against the edge list — absent in compact-forward
    assert(!cp.contains("LeftSemi"),
      "no wedge semi-join may remain in the closure plan")
    // and the consumer query counts over the cached list — no re-derive,
    // no wedge join downstream either
    val p = SparkEntry.queries("graph_triangles")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("InMemoryTableScan") || p.contains("TableCacheQueryStage"),
      "triangle count must read the pinned materialized closure")
    assert(!p.contains("LeftSemi"),
      "no wedge semi-join may remain in the triangle plan")
  }

  test("skyline plans as reduce + one keyed window, no dominance join") {
    val p = SparkEntry.queries("olap_skyline_parts")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Join"),
      "the NOT-EXISTS dominance check must collapse to the sorted scan")
    assert(p.contains("partial_min"),
      "per-size reduction must partial-aggregate map-side")
  }

  test("MG heavy-hitter verify semi-joins candidates via broadcast") {
    val p = SparkEntry.queries("sketch_mg_heavy")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      "candidate filter must be a broadcast semi-join on the token stream")
  }

  test("typed Aggregator partial-aggregates map-side") {
    val p = SparkEntry.queries("ds_typed_agg")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("partial_flagstats") ||
           p.toLowerCase.contains("partial_typed") ||
           p.contains("ObjectHashAggregate"),
      s"typed aggregation must show a partial stage: ${p.take(400)}")
  }

  test("audit plans") {
    for (q <- Seq("inc_idempotent_antijoin", "dedup_minhash_lsh",
                  "sim_bruteforce_topk", "asof_join_latest_view")) {
      println(s"========== $q ==========")
      println(SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan
        .toString.linesIterator.take(40).mkString("\n"))
    }
  }
}
