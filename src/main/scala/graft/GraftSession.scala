package graft

import org.apache.spark.sql.SparkSession

/** The one session builder: Bench, Verify, the tools and the specs all
  * get their session here, so the oracle gate (Verify) certifies exactly
  * the plans the bench (Bench) times.
  */
object GraftSession {

  /** Core count from `$SPARK_GRAFT_CPUS`, else the JVM's available
    * processors.
    */
  def cpus(): Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A `local[cpus]` session (or the live one `getOrCreate` returns) with
    * `PresentSortRule` installed exactly once.
    */
  def build(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      // Base shuffle-partition count: threads/4 (floor 8), NOT thread
      // count. The suite's shuffles are mostly dimension-sized (bars,
      // nodes, sketch cells), where 32 post-shuffle partitions are pure
      // per-task overhead — measured at sf0.1/local[32]: shuffle=8 cut the
      // graph group 58->35 s and total process CPU 1650->720 s with zero
      // per-query regressions. Corpus-sized stages keep their parallelism
      // via explicit repartition at the cpu-dense seams, and AQE still
      // splits skew. (A real deployment sizes this by data volume, not by
      // core count — the same principle.)
      .config("spark.sql.shuffle.partitions", math.max(8, cpus / 4).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // coalesce post-shuffle partitions by SIZE, not up to core count:
      // the default parallelismFirst=true pads every dimension-sized
      // shuffle to 32 partitions, and the iterative graph loops (one
      // node-sized shuffle per round) were paying ~3x pure per-task
      // overhead for it (measured: pagerank 3.0->1.5s, random-walk
      // 8.8->1.9s at sf0.1). Heavy post-shuffle stages keep their
      // parallelism explicitly (repartition at the cpu-dense seams).
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
        "false")
      // ... with a small advisory size so a moderately-sized shuffle
      // (the 1.2M-row edge frames ~ tens of MB) still fans out over
      // several tasks instead of collapsing to one
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // root presentation sorts execute single-partition when provably
    // small — kills the range-exchange sampling re-execution (see
    // graft.plans.PresentSortRule). Installed only when missing:
    // getOrCreate hands back a live session whose rule list already has it.
    if (!spark.experimental.extraOptimizations
          .contains(graft.plans.PresentSortRule))
      spark.experimental.extraOptimizations ++=
        Seq(graft.plans.PresentSortRule)
    spark
  }
}
