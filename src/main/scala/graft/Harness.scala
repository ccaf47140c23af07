package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One query run, the same for Bench, Verify and the tools: it names the
  * query as the pinned-build payer and the Spark job description, times the
  * body (wall, process CPU, JVM GC), returns a failure instead of throwing
  * it, and releases the frames the body registered through
  * [[CacheRegistry.cached]] before it clears the job description.
  */
object Harness {

  /** `name`'s run: the body's value or what it threw, and its seconds. */
  final case class Run[A](name: String, result: Either[Throwable, A],
      wallSec: Double, cpuSec: Double, gcSec: Double)

  def run[A](spark: SparkSession, name: String)(body: => A): Run[A] = {
    CacheRegistry.setContext(name)
    spark.sparkContext.setJobDescription(name)
    try {
      val t0 = System.nanoTime()
      val c0 = cpuSec()
      val g0 = gcSec()
      val result = try Right(body) catch { case e: Throwable => Left(e) }
      Run(name, result, (System.nanoTime() - t0) / 1e9, cpuSec() - c0,
        gcSec() - g0)
    } finally {
      // release the frames the body registered — 448 queries x2 in one
      // JVM; leaked caches evict each other and poison later queries
      // (round 4's sketch_bloom_join 12x regression). Release sits OUTSIDE
      // the timed region: each run re-executes its full plan, so Bench's
      // run-2 "min" is steady-state JIT, not a warm cache.
      CacheRegistry.releaseAll()
      spark.sparkContext.setJobDescription(null)
    }
  }

  /** The `SparkEntry` queries sorted by name; with `only` (a comma list of
    * name substrings, the dev loop's filter) just those whose name contains
    * one of them.
    */
  def select(only: Option[String]): Seq[Query] = {
    val subs = only.map(_.split(",").toSeq)
    SparkEntry.all.filter(q => subs.forall(_.exists(q.name.contains)))
      .sortBy(_.name)
  }

  /** Materializes all of `df` without sink I/O — `count()` would let
    * Catalyst prune the projected columns and under-measure
    * expression-heavy queries (e.g. fingerprints).
    */
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private val osBean = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Process CPU seconds, reported next to wall seconds — a descheduled JVM
    * accrues wall but not CPU, so contended queries show wall >> cpu while
    * genuinely heavy ones show cpu ≈ parallelism × wall (BENCH_r05 recorded
    * 527 s where the same code measures 241 s on a quiet host).
    */
  private def cpuSec(): Double = {
    val t = osBean.getProcessCpuTime
    if (t < 0) 0.0 else t / 1e9
  }

  /** JVM GC seconds (all collectors): the wall/cpu pair alone cannot
    * separate "GC pressure inflated this query" from "foreign load or
    * frequency scaling inflated it" — both raise cpu WITH wall, the blind
    * spot BENCH_r07 exposed (queries 3-13x over the committed map on a run
    * whose wall-vs-cpu stats were clean). Per-query GC time is the
    * engine-side half of that separation; Bench's committed-map cpu
    * regression is the environment-side half.
    */
  private def gcSec(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).filter(_ >= 0).sum / 1e3
  }
}
