package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** The engine's signature contract, pinned across this session's new
  * operator families: results are BITWISE identical under different
  * partitionings and shuffle widths — exact-integer accumulation plus
  * fixed-order double projections leave nothing for reassociation, AQE
  * re-planning, or speculative retries to change.
  */
class BitwiseInvarianceSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  // queries whose inputs flow through Tables.*; re-running under a
  // different shuffle width exercises different partitionings end to end
  private val targets = Seq(
    "ts_bollinger", "ts_rsi", "ts_drawdown", "ts_vwap_monthly", "ts_macd",
    "ts_rolling_corr", "agg_winsorize", "agg_share_of_total",
    "olap_skyline_parts", "ts_interval_coverage", "sketch_mg_heavy",
    "sim_pq_adc_topk", "graph_kcore",
    // round-4 families: exact-sum drift, positional slope median,
    // histogram-pick changepoint, LPA argmax ties, decimal assortativity,
    // surprisal join, cluster-keyed split
    "emb_centroid_drift", "ts_theil_sen", "ts_changepoint",
    "graph_label_prop", "graph_assortativity", "text_surprisal_bits",
    "sample_dedup_aware_split",
    // round-5 continuation: log2-lattice statistics (order-free integer
    // sums), struct-fold smoothing, centroid-lattice clustering QA,
    // spread-hash selection, BPE rewrite passes
    "agg_entropy_by_group", "agg_mutual_information", "text_js_divergence",
    "ts_holt_linear", "emb_silhouette_simplified", "sim_knn_loo_accuracy",
    "sample_class_balanced", "text_bigram_surprisal", "ts_ljung_box",
    "text_bpe_train_steps",
    // round-6 additions: fixed-fold IEEE dots under pruning, q6 Cramer
    // lattice, cross-doc span census, q20 RRF sums, quasi-id census,
    // driver-side absorption algebra off a distributed matrix, and the
    // localCheckpoint-materialized walk
    "sim_mips_norm_pruned", "agg_ols_two_factor", "dedup_sliding_span",
    "sim_rrf_fusion", "dq_k_anonymity", "olap_attribution_markov",
    "graph_random_walk_visits",
    // round-8 session-2 additions: sort_array-pinned collect_list pools
    // feeding the MMR higher-order fold, per-lang rank-and-cut over the
    // q20 lattice, DSIR bucket log-ratio sums, cluster-keyed semantic
    // prune, per-source gram census
    "sim_mmr_rerank", "text_ccnet_buckets", "text_dsir_weights",
    "dedup_semdedup", "text_boilerplate_spans")

  /** Runs `q` with `confs` set, then restores the session's values and
    * releases the run's tracked caches.
    */
  private def run(q: String, confs: (String, String)*): Seq[String] = {
    val old = confs.map { case (k, _) => k -> spark.conf.get(k) }
    def set(kvs: Seq[(String, String)]): Unit =
      kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try { set(confs); rows(SparkEntry.queries(q)(spark, sf)) }
    finally { set(old); CacheRegistry.releaseAll() }
  }

  test("new operator families are bitwise partitioning-invariant") {
    for (q <- targets) {
      // release the narrow run's tracked caches BEFORE the wide run:
      // Spark's CacheManager substitutes cached InMemoryRelations into
      // identical plan subtrees, so without the release the wide run
      // would read the width-1 caches instead of re-executing — making
      // the invariance check vacuous for exactly the cached stages
      val narrow = run(q, "spark.sql.shuffle.partitions" -> "1")
      // the wide run also puts GraftSession's AQE coalescing back to
      // Spark's defaults (parallelismFirst=true, 64 MB advisory size):
      // the session change the oracle gate went through when Verify
      // moved onto GraftSession
      val wide = run(q, "spark.sql.shuffle.partitions" -> "13",
        "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "true",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64MB")
      assert(narrow == wide, s"$q differs across shuffle widths")
      assert(narrow.nonEmpty, s"$q returned no rows")
    }
  }
}
