package graft.olap

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fixed-round k-core peeling: repeatedly delete nodes of degree < k and
  * take the induced subgraph. Full decomposition iterates to a fixpoint;
  * like PageRank's fixed iterations, a bounded number of peel rounds keeps
  * the plan finite and the oracle expressible as unrolled CTEs — each
  * round is one partial-aggregable degree count + two semi-joins, so a
  * round costs two shuffles of the (shrinking) edge list.
  *
  * The threshold is data-dependent: the positional median degree of the
  * ORIGINAL graph (exact integer order statistic, ties totalized by node
  * id), so the operator exercises real cascading deletion at any scale
  * factor instead of hardcoding a constant that peels everything or
  * nothing.
  */
object KCore {

  /** Exact positional median degree (the value at rank (n+1) DIV 2 under
    * (d, n) ordering) via a degree histogram + cumulative-rank pick.
    *
    * The value at rank r of the sorted degree multiset is the smallest d
    * whose cumulative node count reaches r, so the per-node tie-break
    * column never needs to be sorted: one partial-aggregable groupBy(d)
    * reduces the node frame to O(distinct degrees) rows, and the
    * cumulative count is a broadcast triangular self-join over that tiny
    * histogram. No window, no single-partition sort over the node frame —
    * the shape that scales where a positional row_number() over all nodes
    * would not.
    */
  def medianDegree(d0: DataFrame): DataFrame = {
    val hist = d0.groupBy("d").agg(count(lit(1)).as("c"))
    val cum = hist.as("a")
      .join(broadcast(hist.as("b")), col("b.d") <= col("a.d"))
      .groupBy(col("a.d").as("d")).agg(sum(col("b.c")).as("cum"))
    val rank = hist.agg(expr("CAST((sum(c) + 1) DIV 2 AS BIGINT)").as("r"))
    cum.join(broadcast(rank))
      .filter(col("cum") >= col("r"))
      .agg(min(col("d")).as("kth"))
  }

  /** Per-round survivor stats. Round 0 = input graph; round r>0 = after r
    * peels at k = median degree of round 0. Output: (round, n_nodes,
    * n_edges), nodes = distinct endpoints of surviving edges.
    *
    * Each round's survivor edges are `localCheckpoint`ed (eager) and its
    * degree frame is persisted through [[graft.CacheRegistry.cached]]; the
    * per-round stat rows stay lazy and read those caches.
    *
    * Caller contract: this function does NOT release the degree caches it
    * registers — one per round, `rounds + 1` in all. The caller must run
    * [[graft.CacheRegistry.releaseAll]] after materializing the result;
    * [[graft.Harness.run]] does so after every query it runs (Bench,
    * Verify, the tools), and graftbench and the spec helpers call it
    * themselves. A caller that skips it leaks the cached degree frames
    * until the session ends.
    */
  def peelStats(e0: DataFrame, rounds: Int): DataFrame = {
    // The degree frame is the round's ONLY full edge scan, and it is
    // CACHED: it yields the round's stats (n_nodes = rows, n_edges = Σd/2
    // — d counts each endpoint occurrence), the median histogram (round 0),
    // and the next round's keep-set. The previous formulation recomputed
    // it per consumer — medianDegree alone references its input 3× (hist
    // twice + rank), which re-ran the full degree aggregation 3× per call.
    // Cached via the registry (released by the harness after the query
    // materializes) so the per-round stat rows can stay LAZY: r11 —
    // the old per-round 1-row collect cost one extra job per round for
    // an aggregate the final union action reads from cache anyway
    // (guide §1.2 — fewer jobs, identical rows). Each round's degree
    // cache is still materialized in sequence by the NEXT round's
    // keep-set broadcast (and the last by the final union), so rounds
    // execute in the same order as before.
    def degrees(e: DataFrame): DataFrame =
      graft.CacheRegistry.cached(
        e.select(col("u").as("n")).unionAll(e.select(col("v").as("n")))
          .groupBy("n").agg(count(lit(1)).as("d")))
    def statFrame(deg: DataFrame, round: Int): DataFrame =
      deg.agg(lit(round).as("round"), count(lit(1)).as("n_nodes"),
              expr("coalesce(sum(d), 0) DIV 2").as("n_edges"))
    var deg = degrees(e0)
    var out = statFrame(deg, 0)
    val kth = medianDegree(deg).collect()(0).getLong(0)
    var e = e0
    for (r <- 1 to rounds) {
      // keep-set sits behind an InMemoryRelation, which hides size
      // estimates from the planner — hint the broadcast explicitly so the
      // induced-subgraph probes stay shuffle-free. Sound by construction:
      // the keep-set is node-sized (orders smaller than the edge frame)
      // and shrinks monotonically per peel; a deployment whose node frame
      // exceeds the broadcast budget drops the hint and degrades to a
      // shuffled semi-join, nothing else changes.
      val keep = broadcast(deg.filter(col("d") >= lit(kth)).select("n"))
      // localCheckpoint, not persist: the survivor frame's logical plan
      // references the previous round's survivor AND (through the
      // keep-set) its degree frame, so plan size TRIPLES per round —
      // analysis cost at round 3 dwarfed the actual compute under plain
      // persist (whose cache substitution happens only after the full
      // tree is analyzed). Checkpointing truncates lineage so per-round
      // plan depth stays constant — same discipline, same reason as
      // graft.olap.PageRank.
      val next = e
        .join(keep.withColumnRenamed("n", "u"), Seq("u"), "leftsemi")
        .join(keep.withColumnRenamed("n", "v"), Seq("v"), "leftsemi")
        .select("u", "v")
        .localCheckpoint() // eager: materializes, truncates lineage
      val degNext = degrees(next)
      out = out.unionAll(statFrame(degNext, r))
      deg = degNext
      e = next // previous checkpoint blocks reclaimed by the ContextCleaner
    }
    out
  }
}
