package graft

/** Driver-run benchmark: one JSON line with per-query and total seconds.
  *
  * Each query is fully materialized through the noop sink — `count()` would
  * let Catalyst prune the projected columns and under-measure
  * expression-heavy queries (e.g. fingerprints), whereas noop executes the
  * complete physical plan including every output column, without sink I/O.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.build(GraftSession.cpus())
    // JIT/classload warmup outside the timed region (tiny SF)
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case e: Throwable =>
      System.err.println(s"[bench] warm-up failed: ${e.getMessage}") }
    // min of 2 runs per query: steady-state timing, robust to shared-host
    // noise and first-run JIT of query-specific generated code
    // optional arg: comma list of query-name substrings (dev loop only;
    // the driver always calls with no args = full run)
    val only = args.headOption.map(_.split(",").toSeq)
    def keep(name: String): Boolean = only.forall(_.exists(name.contains))
    // Host-noise instrumentation (BENCH_r05 recorded 527 s where the same
    // code measures 241 s on a quiet host — the artifact could not prove
    // that about itself). Two in-artifact signals make contention
    // self-diagnosing:
    //  (a) per-query PROCESS CPU seconds next to wall seconds — a
    //      descheduled JVM accrues wall but not CPU, so contended queries
    //      show wall >> cpu while genuinely heavy ones show cpu ≈
    //      parallelism × wall;
    //  (b) a fixed CALIBRATION query re-timed every 25 queries — constant
    //      work, so any drift in its reading is the host, not the engine.
    val osBean = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    def cpuSec(): Double = {
      val t = osBean.getProcessCpuTime
      if (t < 0) 0.0 else t / 1e9
    }
    // JVM GC seconds (all collectors): the wall/cpu pair alone cannot
    // separate "GC pressure inflated this query" from "foreign load or
    // frequency scaling inflated it" — both raise cpu WITH wall, the
    // blind spot BENCH_r07 exposed (queries 3-13x over the committed map
    // on a run whose wall-vs-cpu stats were clean). Per-query GC time is
    // the engine-side half of that separation; the committed-map cpu
    // regression below is the environment-side half.
    def gcSec(): Double = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).filter(_ >= 0).sum / 1e3
    }
    // committed per-query PROCESS-CPU reference map (classpath resource,
    // refreshed each round from the quiet-host artifact): process CPU is
    // load-independent evidence — a descheduled JVM accrues wall but not
    // cpu, so cpu materially ABOVE the committed reading for identical
    // code means GC pressure, frequency scaling, or cache/spill recompute
    // on the measuring host, not a plan regression. n_cpu_inflated makes
    // that contamination self-reported instead of forensically inferred.
    val refCpu: Map[String, Double] = {
      val in = getClass.getResourceAsStream("/graft/bench_ref_cpu.json")
      if (in == null) Map.empty
      else {
        val txt = new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8)
        in.close()
        "\"([^\"]+)\"\\s*:\\s*([0-9.eE+-]+)".r.findAllMatchIn(txt)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      }
    }
    // wall AND process-cpu per calibration reading: a quiet run keeps
    // the cpu/wall ratio of this fixed workload in a narrow band even
    // while wall drifts ~2x with the engine's own GC state; foreign
    // load destabilizes the ratio in either direction (descheduled
    // tasks accrue wall without cpu; lingering async cleanup under
    // contention accrues cpu without wall). r6 measured cpw 3.2-4.4 on
    // a quiet full run vs 3.2-8.1 with a concurrent build — the
    // envelope, not the direction, is the signal.
    def calibrate(): (Double, Double) = {
      val t0 = System.nanoTime()
      val c0 = cpuSec()
      spark.range(0L, 20000000L, 1L, 8)
        // mod before summing: 2e7 raw 64-bit hashes overflow an ANSI sum
        .selectExpr("sum(pmod(xxhash64(id), 1000000)) AS h")
        .write.format("noop").mode("overwrite").save()
      ((System.nanoTime() - t0) / 1e9, cpuSec() - c0)
    }
    val calibration =
      scala.collection.mutable.ArrayBuffer[(Int, Double, Double)]()
    var done = 0
    val cacheCensus = scala.collection.mutable.LinkedHashMap[String, Int]()
    val cpuByQuery = scala.collection.mutable.LinkedHashMap[String, Double]()
    val gcByQuery = scala.collection.mutable.LinkedHashMap[String, Double]()
    calibrate() // discard: first run JIT-compiles the calibration path
    val c0 = calibrate(); calibration += ((0, c0._1, c0._2))
    val results = SparkEntry.queries.toSeq.filter(e => keep(e._1))
      .sortBy(_._1).map { case (name, fn) =>
      // pinned-build attribution + readable UI (guide §1.5): any pinned
      // frame built during this query's runs is charged to `name` in the
      // pinned ledger below
      CacheRegistry.setContext(name)
      spark.sparkContext.setJobDescription(name)
      val times = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        val c0 = cpuSec()
        val g0 = gcSec()
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          val dt = (System.nanoTime() - t0) / 1e9
          val dc = cpuSec() - c0
          val dg = gcSec() - g0
          // release the frames the closure registered — 241 queries x2 in
          // one JVM; leaked caches evict each other and poison later
          // queries (round 4's sketch_bloom_join 12x regression). Release
          // sits OUTSIDE the timed region: each run re-executes its full
          // plan, so run-2 "min" is steady-state JIT, not a warm cache.
          CacheRegistry.releaseAll()
          (dt, dc, dg)
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          CacheRegistry.releaseAll()
          // sentinel: a failed run must not pose as a measurement
          (-1.0, 0.0, 0.0)
        }
      }
      // per-query cache census AFTER release: a nonzero residual is either
      // a leak (bug — visible in the artifact now, not inferred from a
      // later query's regression) or a localCheckpoint block awaiting the
      // async ContextCleaner; the periodic GC below lets the cleaner
      // reclaim those so genuine leaks stand out as monotone growth.
      cacheCensus(name) = CacheRegistry.census(spark)
      done += 1
      if (done % 25 == 0) {
        System.gc(); val c = calibrate(); calibration += ((done, c._1, c._2))
      }
      val ok = times.filter(_._1 >= 0)
      // report the min-wall run's CPU (and GC) next to its wall: the
      // triple from ONE run is the contention diagnostic (a mixed
      // min-of-each would not be)
      val best = if (ok.isEmpty) (-1.0, 0.0, 0.0) else ok.minBy(_._1)
      cpuByQuery(name) = best._2
      gcByQuery(name) = best._3
      name -> best._1
    }
    val cN = calibrate(); calibration += ((done, cN._1, cN._2))
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // failed queries (-1 sentinel) are excluded from the total so a broken
    // query can't make the bench look healthy with a bogus timing
    val total = results.map(_._2).filter(_ >= 0).sum
    // sub-totals: streaming queries carry seconds of fixed machinery per
    // run, and graph queries carry fixed iterative cost — split both out so
    // batch regressions aren't masked by either
    val streaming = results.collect {
      case (n, v) if n.startsWith("stream_") && v >= 0 => v }.sum
    val graph = results.collect {
      case (n, v) if n.startsWith("graph_") && v >= 0 => v }.sum
    val batch = total - streaming - graph
    def f(d: Double): String = "%.3f".format(d)
    val groups =
      s"""{"batch":${f(batch)},"streaming":${f(streaming)},"graph":${f(graph)}}"""
    val census = cacheCensus.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val cacheMax = if (cacheCensus.isEmpty) 0 else cacheCensus.values.max
    val cpuMap = cpuByQuery.map { case (k, v) => "\"" + k + "\":" + f(v) }
      .mkString("{", ",", "}")
    val cpuTotal = cpuByQuery.values.sum
    val calArr = calibration.map { case (i, s, c) =>
      s"""{"after":$i,"sec":${f(s)},"cpu":${f(c)}}""" }
      .mkString("[", ",", "]")
    val calMin = calibration.map(_._2).min
    val calMax = calibration.map(_._2).max
    // calibration cpw (cpu/wall) is emitted as INFORMATIONAL only: a
    // 0.25 s window picks up ambient cleaner/GC cpu, so it reads 2.8-8.1
    // even on a verified-quiet host. The run-level quiet-host verdict
    // keys on two robust statistics instead (BASELINE.md):
    //  - calib_wall_ratio: max/min calibration WALL — sustained
    //    contention (the BENCH_r05 527 s case) inflates every reading;
    //    measured quiet band <= ~2.3 across three r6 runs
    //  - n_wall_gt_cpu: queries (wall >= 0.5 s) with wall > 1.1x cpu —
    //    on a quiet 32-thread local run cpu >= wall ALWAYS (measured 0/0
    //    on two quiet full runs); a descheduled JVM accrues wall without
    //    cpu (measured 2 on a contaminated run, would be dozens under
    //    driver-style sustained load)
    val calCpuPerWall = calibration.map(t => t._3 / t._2)
    val calWallRatio =
      if (calibration.isEmpty) 1.0 else calMax / math.max(calMin, 1e-9)
    val nWallGtCpu = results.count { case (k, v) =>
      v >= 0.5 && v > cpuByQuery.getOrElse(k, 0.0) * 1.1 }
    // CPU-inflation detector (VERDICT r7 item 1): process CPU is
    // load-independent — identical code doing identical work burns the
    // same cpu-seconds on a quiet host, so cpu > 2x the committed
    // quiet-host map (floored at 0.2 s so sub-noise readings can't
    // trip it) on a query with real wall (>= 0.5 s) is environmental
    // contamination the wall>cpu check cannot see: GC under memory
    // pressure, frequency scaling, or cache/spill recompute. Queries
    // added after the committed map simply have no reference and are
    // skipped. n_cpu_inflated > 0 means: read this artifact's walls
    // through the contamination lens; the committed map is the basis.
    val cpuInflated = results.collect { case (k, v)
      if v >= 0.5 && refCpu.contains(k) &&
        cpuByQuery.getOrElse(k, 0.0) > 2.0 * math.max(refCpu(k), 0.2) =>
      k -> (cpuByQuery(k) / math.max(refCpu(k), 0.2)) }
    val nCpuInflated = cpuInflated.size
    val inflatedArr = cpuInflated.sortBy(-_._2).take(20)
      .map { case (k, r) => s"""{"q":"$k","x":${f(r)}}""" }
      .mkString("[", ",", "]")
    val gcMap = gcByQuery.map { case (k, v) => "\"" + k + "\":" + f(v) }
      .mkString("{", ",", "}")
    val gcTotal = gcByQuery.values.sum
    // pinned-build ledger (VERDICT r9 item 3): per pinned frame, the
    // query that paid for its build and the build wall — first-payer
    // cost shifts after a pinned-frame refactor are now attributable
    // from the artifact alone
    val pinnedArr = CacheRegistry.pinnedLedger.map { b =>
      s"""{"key":${Verify.jsonStr(b.key)},"payer":${Verify.jsonStr(b.payer)},"build_sec":${f(b.buildSec)}}"""
    }.mkString("[", ",", "]")
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","groups":$groups,"queries":$qs,"cpu":$cpuMap,"cpu_total":${f(cpuTotal)},"gc":$gcMap,"gc_total":${f(gcTotal)},"n_cpu_inflated":$nCpuInflated,"cpu_inflated":$inflatedArr,"calib_wall_ratio":${f(calWallRatio)},"n_wall_gt_cpu":$nWallGtCpu,"calibration":$calArr,"cache":$census,"pinned_builds":$pinnedArr,"pinned_build_total":${f(CacheRegistry.pinnedLedger.map(_.buildSec).sum)},"sf":"$sfDir"}"""
    println(line)
    // belt-and-braces channel for the driver: the same line, unframed, on disk
    java.nio.file.Files.write(java.nio.file.Paths.get("bench_out.json"),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // THE canonical committed per-round artifact (VERDICT r7 item 5):
    // one file, written by Bench itself, noise stats inline. Committed
    // as BENCH_r{N}_perquery.json (SPARK_GRAFT_ROUND names the round);
    // bench_out.json stays as the driver's unframed channel.
    val roundName = sys.env.get("SPARK_GRAFT_ROUND")
      .map(r => s"BENCH_r${r}_perquery.json")
      .getOrElse("BENCH_perquery.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(roundName),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // The full line above (~5 KB with the per-query map) has overflowed the
    // driver's tail-capture window two rounds running (BENCH_r02/r03
    // `parsed: null`). Emit a compact final line (< 200 bytes, no per-query
    // map) so the tail window always ends with one complete JSON object;
    // the per-query detail stays available in the full line + bench_out.json.
    // "metric":"total_compact" distinguishes this line's schema from the
    // full line above (ADVICE r4: two same-schema-looking lines confused
    // first-line vs last-line consumers). The driver's tail-capture parses
    // the LAST line; cache_max is the peak post-release cache census (0 =
    // no leaked frames anywhere in the run).
    // a narrow calib_cpw envelope certifies a quiet host; a blown-out
    // envelope (and wall >> cpu in the full line's per-query maps)
    // marks the run as contention-inflated — read BENCH through that
    // lens (see BASELINE.md "quiet-host basis").
    // "pinned" = deliberate process-lifetime shared frames (GraphFrames);
    // cache_max residuals up to pinned + transient checkpoints are healthy
    // pinned_build_total (VERDICT r10 item 8): the min-of-2 protocol
    // reports the payer's cache-warm run, so the shared derived-table
    // chain's build cost is structurally excluded from every per-query
    // wall — this field makes it a first-class number on the compact
    // line (it equals the ledger's sum; artifact readers add it to the
    // totals instead of reconstructing it from pinned_builds)
    val pinnedBuildTotal = CacheRegistry.pinnedLedger.map(_.buildSec).sum
    println(
      s"""{"metric":"total_compact","value":${f(total)},"unit":"sec","n":${results.size},"cache_max":$cacheMax,"pinned":${CacheRegistry.pinnedCount},"pinned_build_total":${f(pinnedBuildTotal)},"cpu_total":${f(cpuTotal)},"gc_total":${f(gcTotal)},"n_cpu_inflated":$nCpuInflated,"calib_min":${f(calMin)},"calib_max":${f(calMax)},"calib_cpw_min":${f(calCpuPerWall.min)},"calib_cpw_max":${f(calCpuPerWall.max)},"calib_wall_ratio":${f(calWallRatio)},"n_wall_gt_cpu":$nWallGtCpu,"groups":$groups,"sf":"$sfDir"}""")
    spark.stop()
    if (results.exists(_._2 < 0)) sys.exit(2)
  }
}
