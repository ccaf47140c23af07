package graft.tools

import graft.{CacheRegistry, Harness, SparkEntry}

/** Scaling-curve runner (VERDICT r7 item 2): times the headline
  * scale-sensitive queries at each supplied SF directory and prints one
  * JSON line per (dir, query) with wall / process-CPU / GC seconds —
  * the raw material for SCALING.md. Single-run (not min-of-2): the
  * curve's signal is the SHAPE across SFs, and at the top SF a second
  * run doubles a multi-minute sweep for one significant digit.
  *
  * The session is graft.GraftSession, the one graft.Bench times under,
  * so the sf0.1 point of the curve is comparable with the committed bench
  * artifact. `$SPARK_GRAFT_SHUFFLE` overrides its shuffle width (the sf10
  * sweep runs at 64); `$SPARK_GRAFT_STREAM_SINKDIR` sets the streaming
  * sink directory.
  *
  * Usage:
  *   runMain graft.tools.ScalingBench <dir1,dir2,...> [q1,q2,...]
  * Defaults to the judge-named headline set.
  */
object ScalingBench {
  val defaultQueries: Seq[String] = Seq(
    "dedup_minhash_lsh", "dedup_cc_canonical", "sim_ivf_probe_topk",
    "pack_sequences", "graph_pagerank", "graph_random_walk_visits",
    "stream_sessionize_stateful")

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ScalingBench <dir1,dir2,...> [queries]")
    val dirs = args(0).split(",").toSeq
    val queries =
      if (args.length > 1) args(1).split(",").toSeq else defaultQueries
    val spark = graft.GraftSession.build(graft.GraftSession.cpus())
    sys.env.get("SPARK_GRAFT_SHUFFLE")
      .foreach(spark.conf.set("spark.sql.shuffle.partitions", _))
    // bounded micro-batches over the multi-part scaled stream fixtures
    // (VERDICT r8 item 5): 4 files per trigger so the watermark
    // advances between batches and state evicts mid-run instead of the
    // whole scaled table landing as one batch. Single-file fixtures
    // are unaffected (1 file = 1 batch either way).
    spark.conf.set("spark.graft.stream.maxFilesPerTrigger", "4")
    // streaming measured through a foreachBatch parquet sink instead
    // of format("memory") (VERDICT r9 item 5): the memory sink holds
    // the FULL emitted row set in the Spark driver, which is what
    // blocked the sf10 sessionize point at the 8 GiB protocol — a
    // harness artifact, not state growth. Bench and Verify never set
    // this conf and keep the memory sink.
    spark.conf.set("spark.graft.stream.scalingSink",
      sys.env.getOrElse("SPARK_GRAFT_STREAM_SINKDIR",
        "/tmp/graft_scaling_sink"))
    def f(d: Double): String = "%.3f".format(d)
    def query(q: String, dir: String) =
      Harness.run(spark, q)(Harness.noop(SparkEntry.queries(q)(spark, dir)))
    // one JIT warmup at the smallest dir so the first measured point
    // isn't paying classload for the whole engine
    for (q <- queries) query(q, dirs.head).result.left.foreach(e =>
      System.err.println(s"[scaling] warmup $q: ${e.getMessage}"))
    CacheRegistry.releasePinned()
    for (dir <- dirs; q <- queries) {
      val r = query(q, dir)
      val status =
        r.result.fold(e => s"fail: ${e.getClass.getSimpleName}", _ => "ok")
      // localCheckpoint blocks (CC/pagerank rounds) are reclaimed by the
      // ASYNC ContextCleaner only after their RDDs are GC'd — without a
      // nudge, a multi-GB sf10 query inherits the previous query's stale
      // blocks and execution memory starves (measured: dedup_cc_canonical
      // OOM'd mid-sweep at sf10 yet passes in isolation). Outside the
      // timed region, same rationale as Bench's periodic GC.
      System.gc()
      println(s"""{"scaling":true,"dir":"$dir","query":"$q",""" +
        s""""wall":${f(r.wallSec)},"cpu":${f(r.cpuSec)},""" +
        s""""gc":${f(r.gcSec)},""" +
        s""""status":"$status"}""")
      if (q == queries.last) CacheRegistry.releasePinned()
    }
    spark.stop()
  }
}
