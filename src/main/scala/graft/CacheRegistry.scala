package graft

import org.apache.spark.sql.{Dataset, SparkSession}

/** Query-scoped cache lifecycle.
  *
  * A query closure that persists an intermediate consumed by the frame it
  * RETURNS cannot unpersist before returning — the cache would be dropped
  * before the caller materializes the result. But never releasing is worse:
  * Bench runs 241 queries x2 in one 8 GiB JVM, and leaked caches accumulate,
  * evict each other, and poison later queries (round 4 shipped a 12x
  * regression on an unchanged query exactly this way).
  *
  * So: closures persist through [[cached]], which registers the frame;
  * [[Harness.run]], which runs each query for Bench, Verify and the tools,
  * calls [[releaseAll]] immediately after the query's single
  * materialization. Release is idempotent —
  * frames a closure already unpersisted eagerly (the iterative per-round
  * discipline in KCore/HITS/Components) are harmless no-ops here.
  */
object CacheRegistry {
  private val tracked =
    new java.util.concurrent.ConcurrentLinkedQueue[Dataset[_]]()

  /** Persist `ds` (default MEMORY_AND_DISK) and register it for release
    * after the enclosing query's result has been materialized.
    */
  def cached[T](ds: Dataset[T]): Dataset[T] = {
    ds.persist()
    tracked.add(ds)
    ds
  }

  /** Unpersist every registered frame (non-blocking). Returns how many
    * frames were released.
    */
  def releaseAll(): Int = {
    var n = 0
    var ds = tracked.poll()
    while (ds != null) {
      ds.unpersist(false)
      n += 1
      ds = tracked.poll()
    }
    n
  }

  /** Syntax for query closures: `df.tracked` ≡ persist + register, so a
    * chained plan reads `.distinct().tracked` where it used to read
    * `.distinct().persist()`.
    */
  implicit class QueryCached[T](private val ds: Dataset[T]) extends AnyVal {
    def tracked: Dataset[T] = cached(ds)
  }

  private val pinnedFrames =
    new java.util.concurrent.ConcurrentHashMap[String, Dataset[_]]()

  /** Pinned-build attribution (VERDICT r9 item 3): which query paid for
    * each pinned frame's build, and how long the build took. Without
    * this, first-payer cost SHIFTS silently between consumers when the
    * pinned-frame dependency graph is refactored (the r9
    * graph_clustering_coeff 0.78→1.33 s mirage: its upstream became a
    * projection of the new coPurchaseWeighted frame, so it became the
    * first payer of a different build), and nothing in the artifact can
    * prove a wall move is attribution, not regression. `context` is set
    * by [[Harness.run]] to the query it is about to run.
    */
  final case class PinnedBuild(key: String, payer: String, buildSec: Double)
  private val pinnedBuilds =
    new java.util.concurrent.ConcurrentLinkedQueue[PinnedBuild]()
  @volatile private var currentContext: String = ""
  def setContext(query: String): Unit = currentContext = query

  /** Process-lifetime memo for frames MANY queries rebuild identically
    * (e.g. the co-purchase edge list every unipartite graph query derives
    * from lineitem): built once per key, persisted, and deliberately NOT
    * released by [[releaseAll]] — the bench-process analogue of the
    * materialized derived edge table a real deployment maintains next to
    * the fact table. Key by (frame, sfDir) so mixed-SF test runs never
    * share a frame across datasets. [[pinnedCount]] lets artifact readers
    * separate these deliberate residents from leaks in the cache census.
    *
    * The build is EAGER (persist + count): the count scan populates the
    * cache, so the build cost lands *measurably* inside the first caller
    * — the recorded payer — instead of smearing lazily into whichever
    * consumer happens to materialize which partition first. Every pinned
    * frame here is fully consumed by its first caller anyway (edge
    * lists, degree/adjacency/triangle tables feed whole-frame
    * aggregates), so eager materialization adds no extra pass — it just
    * makes the first pass attributable, and the per-entry build wall
    * rides the bench artifact's cache census.
    */
  def pinned[T](key: String)(build: => Dataset[T]): Dataset[T] =
    pinnedFrames.computeIfAbsent(key, _ => {
      val t0 = System.nanoTime()
      val ds = build
      ds.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      ds.count() // materialize: cache populated here, charged to payer
      pinnedBuilds.add(
        PinnedBuild(key, currentContext, (System.nanoTime() - t0) / 1e9))
      ds
    }).asInstanceOf[Dataset[T]]

  def pinnedCount: Int = pinnedFrames.size

  /** Snapshot of the pinned-build ledger, in build order. */
  def pinnedLedger: Seq[PinnedBuild] = {
    import scala.jdk.CollectionConverters._
    pinnedBuilds.iterator().asScala.toSeq
  }

  /** Release the process-lifetime pinned frames too. NOT part of the
    * per-query lifecycle — only multi-SF sweeps (ScalingBench) call this
    * between datasets, where carrying one SF's pinned graph frames into
    * the next SF's measurement would both skew memory and mix bases.
    */
  def releasePinned(): Int = {
    var n = 0
    val it = pinnedFrames.entrySet().iterator()
    while (it.hasNext) {
      it.next().getValue.unpersist(false)
      it.remove()
      n += 1
    }
    pinnedBuilds.clear() // ledger follows the frames (multi-SF sweeps)
    n
  }

  /** Cache census: RDDs the context still holds persistent. After
    * releaseAll() this counts (a) genuine leaks, (b) localCheckpoint
    * blocks awaiting the async ContextCleaner, and (c) the [[pinned]]
    * residents — Bench emits it per query (with pinnedCount alongside) so
    * a leak shows up in the artifact instead of as a mystery regression.
    */
  def census(spark: SparkSession): Int =
    spark.sparkContext.getPersistentRDDs.size
}
