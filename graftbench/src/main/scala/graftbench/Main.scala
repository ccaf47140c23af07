package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run in a fresh JVM:
  * `graftbench.Main <workload> <seed> <seconds> <trace 0|1> <runDir> <dataDir>`.
  *
  * Set-up (session, calibration, the workload's warm-up) runs first; then
  * one client thread runs ops back to back until the ops have taken
  * `seconds` of wall time and there are enough of them for the tail
  * percentile; then the checks. The result goes to `<runDir>/result.json`.
  */
object Main {

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuSec(): Double = osBean.getProcessCpuTime / 1e9

  def gcSec(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3

  def heapMb(): Double =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6

  /** `VmHWM` of this JVM, MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  /** (steal, total) jiffies over all CPUs, from `/proc/stat`. */
  def cpuJiffies(): (Long, Long) = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim
      .split("\\s+").drop(1).take(8).map(_.toLong)
    (if (f.length == 8) f(7) else 0L, f.sum)
  }

  def loadavg(): String =
    new String(Files.readAllBytes(Paths.get("/proc/loadavg")), UTF_8).trim

  /** graft.Bench's session, setting for setting. */
  def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", math.max(8, cpus / 4).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
        "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.experimental.extraOptimizations ++=
      Seq(graft.plans.PresentSortRule)
    spark
  }

  /** graft.Bench's fixed calibration query: (wall s, process CPU s). */
  def calibrate(spark: SparkSession): (Double, Double) = {
    val t0 = System.nanoTime()
    val c0 = cpuSec()
    spark.range(0L, 20000000L, 1L, 8)
      .selectExpr("sum(pmod(xxhash64(id), 1000000)) AS h")
      .write.format("noop").mode("overwrite").save()
    ((System.nanoTime() - t0) / 1e9, cpuSec() - c0)
  }

  /** Fewest timed ops of a valid run. The 50 of the tail rule
    * ([[Stats.tailPercentile]]) do not fit the per-run time budget: a tick
    * takes ~1.6 s and a query op ~0.7 s on a contended 4-core host.
    */
  val MinTimedOps = 10

  final case class Op(id: Int, label: String, wall: Double, cpu: Double,
                      gc: Double, heapMb: Double, ok: Boolean)

  def main(argv: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, runDirS, dataDir) = argv
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val runDir = Paths.get(runDirS).toAbsolutePath
    Files.createDirectories(runDir)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val cpus = Runtime.getRuntime.availableProcessors

    val marks = mutable.ArrayBuffer[(String, Double)]()
    def mark(phase: String): Unit =
      marks += phase -> (System.currentTimeMillis() - jvmStartMs) / 1e3

    val spark = session(cpus)
    mark("session")
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val wl = Workload(workload, spark, seed, tracer.getOrElse(Spans.Off),
      runDir, dataDir)
    calibrate(spark) // first run compiles the calibration path
    val before = (loadavg(), calibrate(spark))
    mark("calibration")
    wl.setup()
    mark("workload_setup")
    // warm-up ops get negative ids, so no timed aggregate counts them
    for (k <- 1 to wl.warmupOps) {
      require(wl.op(-k) && wl.check(-k), s"warm-up op ${-k} failed")
    }
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val ops = mutable.ArrayBuffer[Op]()
    var id = 0
    val jiffies0 = cpuJiffies()
    val windowStart = System.nanoTime()
    var busy = 0.0
    val target = wl.timedOps(seconds)
    while (target.fold(busy < seconds || ops.size < MinTimedOps)(ops.size < _) &&
           (System.nanoTime() - windowStart) / 1e9 < 4 * seconds) {
      val t0 = System.nanoTime(); val c0 = cpuSec(); val g0 = gcSec()
      val ok = try wl.op(id) catch { case e: Exception =>
        System.err.println(s"[graftbench] op $id failed: $e")
        false
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = cpuSec() - c0
      val gc = gcSec() - g0
      val checked = try wl.check(id) catch { case e: Exception =>
        System.err.println(s"[graftbench] check of op $id failed: $e")
        false
      }
      ops += Op(id, wl.label(id), wall, cpu, gc, heapMb(), ok && checked)
      busy += wall
      id += 1
    }
    val jiffies1 = cpuJiffies()
    val after = (loadavg(), calibrate(spark))
    val lateFailures = wl.finish(ops.map(_.id).toSeq)
    val timed = ops.map(o => if (lateFailures(o.id)) o.copy(ok = false) else o)
      .toSeq
    val peakRss = peakRssMb()
    val sqlConf = spark.conf.getAll.filter(_._1.startsWith("spark.sql."))
    spark.stop() // delivers every queued listener event

    val lat = timed.filter(_.ok).map(_.wall)
    val tail = Stats.tail(lat, wl.tailPercentile, MinTimedOps)
    val e2e = Seq(
      "setup_s" -> setupS,
      "op_p50_s" -> (if (lat.isEmpty) 0.0 else Stats.median(lat)),
      "op_tail_s" -> tail.getOrElse(0.0),
      "ops_per_s" -> timed.size / busy,
      "cpu_s_per_op" -> timed.map(_.cpu).sum / timed.size,
      "peak_rss_mb" -> peakRss,
      "fail_frac" -> timed.count(!_.ok).toDouble / timed.size)
    val layers = tracer.map { t =>
      Layers.metrics(t, timed, cpus, wl.layerMetrics(timed))
    }.getOrElse(Map.empty)
    tracer.foreach(_.write(runDir.resolve("spans.jsonl")))

    def num(d: Double) = if (d.isNaN || d.isInfinite) "0" else d.toString
    def obj(m: Seq[(String, String)]) =
      m.map { case (k, v) => s"${Workload.json(k)}:$v" }.mkString("{", ",", "}")
    def calib(x: (String, (Double, Double))) = obj(Seq(
      "loadavg" -> Workload.json(x._1), "calib_wall_s" -> num(x._2._1),
      "calib_cpu_s" -> num(x._2._2)))
    val out = obj(Seq(
      "workload" -> Workload.json(workload),
      "seed" -> seed.toString,
      "trace" -> trace.toString,
      "cpus" -> cpus.toString,
      "seconds" -> num(seconds),
      "tail_percentile" -> wl.tailPercentile.toString,
      "valid" -> tail.isRight.toString,
      // what the 50-op tail rule would pick for this many ops ("none":
      // too few ops for any tail percentile)
      "tail_rule_percentile" -> Stats.tailPercentile(lat.size)
        .fold("\"none\"")(_.toString),
      "invalid_reason" -> Workload.json(tail.left.getOrElse("")),
      "attempted" -> timed.size.toString,
      "failed" -> timed.count(!_.ok).toString,
      "end_to_end" -> obj(e2e.map { case (k, v) => k -> num(v) }),
      "per_layer" -> obj(layers.toSeq.sortBy(_._1)
        .map { case (k, v) => k -> num(v) }),
      "before_window" -> calib(before),
      "after_window" -> calib(after),
      // the host's share of CPU time it withheld from this VM's runnable
      // threads over the window (0 outside a VM)
      "window_steal_frac" -> num((jiffies1._1 - jiffies0._1).toDouble /
        math.max(1L, jiffies1._2 - jiffies0._2)),
      // seconds from JVM start at the end of each set-up phase
      "setup_marks" -> obj(marks.toSeq.map { case (k, v) => k -> num(v) }),
      "spark_sql_conf" -> obj(sqlConf.toSeq.sortBy(_._1)
        .map { case (k, v) => k -> Workload.json(v) }),
      "workload_info" -> obj(wl.artifact),
      "ops" -> timed.map(o => obj(Seq(
        "id" -> o.id.toString, "label" -> Workload.json(o.label),
        "wall_s" -> num(o.wall), "cpu_s" -> num(o.cpu),
        "ok" -> o.ok.toString))).mkString("[", ",", "]")))
    Files.write(runDir.resolve("result.json"), (out + "\n").getBytes(UTF_8))
  }
}
