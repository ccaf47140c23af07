package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Connected components over a near-duplicate pair list — the step that
  * turns candidate pairs into dedup *decisions*: every document in a
  * component maps to the component's canonical (minimum) id, and the
  * non-canonical members are the rows a dedup pass drops.
  *
  * Algorithm: min-label propagation with pointer jumping (path halving),
  * driven by a CHANGED-LABEL FRONTIER. Each node starts labeled with the
  * minimum of itself and its neighbors (one partial-aggregable pass);
  * every round, only nodes whose label DECREASED last round propagate it
  * to their neighbors, then every node resolves its label through the
  * label map once more (label := label(label), halving remaining path
  * lengths so the fixpoint lands in O(log diameter) rounds). The frontier
  * is the scale lever the r8 scaling study asked for (VERDICT r8 item 4):
  * the plain variant re-joined the FULL edge frame against the full label
  * frame every round (sf10: 3,316 cpu-s, linear but with a huge
  * constant), yet after the seed pass most components — near-dup clusters
  * are mostly small cliques — are already settled; propagating a label
  * that did not change is a no-op by construction (the receiver took the
  * same value or better in an earlier round, labels only decrease). So
  * the edge-scale join touches only frontier-incident edges: round 2's
  * frontier is already a small fraction of the corpus and it shrinks
  * geometrically, leaving the per-round cost dominated by the node-sized
  * jump join instead of the edge-sized propagate join.
  *
  * Correctness is unchanged by the frontier: every label value a node
  * ever acquires makes it frontier exactly once, so every edge transmits
  * every improvement exactly once (the standard delta-stepping argument),
  * and the fixpoint (component minimum everywhere) is unique regardless
  * of partitioning, frontier order, or round count — deterministic, and
  * the DuckDB oracle (recursive transitive closure) reproduces it
  * exactly.
  *
  * Scale shape: each round is ONE keyed join of frontier-incident edges
  * plus two node-sized joins and a partial-aggregable min — no
  * driver-side data beyond the frontier-emptiness probe (labels only
  * decrease, so an empty frontier IS the fixpoint; `isEmpty` on the
  * already-checkpointed frame is a limit-1 action, not an aggregate).
  * AQE right-sizes the shrinking post-shuffle partitions locally; at
  * cluster scale the same joins shuffle on node id. `localCheckpoint` is
  * the single-job lineage truncation; a production run on a lossy
  * cluster would swap it for a reliable `checkpoint` dir (same call
  * shape) so an executor loss recovers from storage instead of
  * recomputing rounds.
  */
object Components {

  /** (doc_id, canonical_id) for every node appearing in `edges`
    * (columns aCol, bCol). canonical_id = min doc id of the component.
    *
    * @param symInput the caller passes a frame that is ALREADY symmetric
    *                 (both directions present), persisted and
    *                 pre-partitioned on `aCol` (GraphFrames.coPurchaseSym)
    *                 — skip the per-call symmetrize + repartition + persist
    *                 and the exit unpersist, so the edge layout is built
    *                 once per process+SF instead of once per call
    *                 (guide §2.1/§2.4)
    */
  def canonicalLabels(edges: DataFrame, aCol: String, bCol: String,
                      symInput: Boolean = false): DataFrame = {
    val e = edges.select(col(aCol).cast("long").as("a"),
                         col(bCol).cast("long").as("b"))
    // cached pre-shuffled AND pre-sorted on the join key: the cached frame
    // carries HashPartitioning(a) + per-partition order, so every round's
    // frontier join reuses the layout (no re-exchange, no re-sort of the
    // edge frame — it is the big side; only the small frontier frame
    // moves per round). This is the iterative-algorithm analog of
    // bucketing.
    val sym = if (symInput) e
      else e.unionByName(e.select(col("b").as("a"), col("a").as("b")))
        .repartition(col("a"))
        .sortWithinPartitions("a")
        .persist(StorageLevel.MEMORY_AND_DISK)
    // seed with round 1 for free: label₀ = min(self, neighbors) is ONE
    // partial-aggregable aggregation over the symmetric edge frame —
    // the same result the first propagation round would produce via two
    // joins (sym is symmetric, so grouping on `a` covers every node)
    var labels = sym.groupBy(col("a").as("node"))
      .agg(min(col("b")).as("nmin"))
      .select(col("node"), least(col("node"), col("nmin")).as("label"))
      .localCheckpoint()
    // initial frontier: nodes the seed already improved past self-label
    var frontier = labels.filter(col("label") =!= col("node"))
    while (!frontier.isEmpty) {
      // 1. propagate ONLY from the frontier: keyed join of frontier-
      // incident edges + partial-aggregable min (the frontier is the
      // small side — broadcast or tiny-shuffle; sym never re-exchanges)
      val nm = sym.join(frontier, sym("a") === frontier("node"))
        .groupBy(sym("b").as("n2"))
        .agg(min(col("label")).as("nmin"))
      // 2. apply, carrying the old label so the NEXT frontier is exactly
      // the decreased set
      val applied = labels
        .join(nm, col("node") === col("n2"), "left")
        .select(col("node"), col("label").as("old"),
          least(col("label"), coalesce(col("nmin"), col("label")))
            .as("label1"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      // 3. pointer jumping: label := label(label) — every label is itself
      // a node, so the inner join is total; halves remaining path lengths
      // (log₂ rounds instead of O(diameter)). localCheckpoint (not just
      // persist): the self-join references `applied` twice, so without
      // lineage truncation the logical plan doubles per round and plan
      // handling goes exponential. (A second jump per round was tried and
      // is a net loss here: the extra multiply-referenced intermediate
      // recomputes under cache races and adds shuffles worth more than
      // the saved rounds.)
      val next = applied.as("x")
        .join(applied.select(col("node").as("n3"), col("label1").as("l3"))
          .as("y"), col("x.label1") === col("n3"))
        .select(col("x.node").as("node"), col("x.old").as("old"),
                least(col("x.label1"), col("l3")).as("label"))
        .localCheckpoint()
      applied.unpersist()
      labels = next.select(col("node"), col("label"))
      // labels only decrease, so "nothing decreased" IS the fixpoint —
      // the emptiness probe is a limit-1 action on checkpointed data,
      // strictly cheaper than the old full decimal-sum aggregate
      frontier = next.filter(col("label") < col("old"))
        .select(col("node"), col("label"))
    }
    if (!symInput) sym.unpersist()
    labels.select(col("node").as("doc_id"), col("label").as("canonical_id"))
  }
}
