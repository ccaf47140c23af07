package graftbench

/** Per-layer metrics of a traced run: per-op means over the timed ops. */
object Layers {

  /** Every per-layer metric, in `BENCHMARK.json` order. A layer that does
    * no work in a workload reports 0 there.
    */
  val Names: Seq[String] = Seq(
    "queries.build_s", "queries.build_jobs",
    "plan.analysis_s", "plan.optimization_s", "plan.planning_s",
    "plan.executions",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.task_wait_s",
    "exec.driver_s", "exec.core_util",
    "exec.task_run_s", "exec.task_cpu_s", "exec.task_gc_s",
    "exec.failed_tasks",
    "shuffle.write_mb", "shuffle.read_mb", "shuffle.fetch_wait_s",
    "shuffle.spill_mb",
    "cache.released", "cache.residual", "cache.pinned_build_s",
    "cache.storage_mb",
    "stream.batches", "stream.add_batch_s", "stream.query_planning_s",
    "stream.wal_commit_s", "stream.state_commit_s", "stream.state_rows",
    "inc.append_s", "inc.rows_new_ratio", "inc.sink_files",
    "report.render_s", "report.bytes",
    "jvm.gc_s", "jvm.heap_mb",
    "mix.light_p50_s", "mix.heavy_p50_s",
    "trace.op_p50_s", "trace.ops_per_s")

  def metrics(t: Tracer, ops: Seq[Main.Op], cpus: Int,
              workload: Map[String, Double]): Map[String, Double] = {
    val c = t.countersFor(ops.map(_.id).toSet)
    val windows = t.windows
    val n = ops.size.toDouble
    def mean(f: OpCounters => Double) = ops.map(o => f(c(o.id))).sum / n
    val wall = ops.map(_.wall).sum
    val driverS = ops.map { o =>
      windows.get(o.id).map { case (a, b) =>
        (b - a - Tracer.covered(c(o.id).jobSpans.toSeq, a, b)) / 1e3
      }.getOrElse(0.0)
    }.sum / n
    val ok = ops.filter(_.ok).map(_.wall)
    val generic = Map(
      "queries.build_s" -> ops.map(o => t.childSeconds(o.id, "build")).sum / n,
      "queries.build_jobs" -> mean(_.buildJobs.toDouble),
      "plan.analysis_s" -> mean(_.analysisMs / 1e3),
      "plan.optimization_s" -> mean(_.optimizationMs / 1e3),
      "plan.planning_s" -> mean(_.planningMs / 1e3),
      "plan.executions" -> mean(_.executions.toDouble),
      "exec.jobs" -> mean(_.jobs.toDouble),
      "exec.stages" -> mean(_.stages.toDouble),
      "exec.tasks" -> mean(_.tasks.toDouble),
      "exec.task_wait_s" -> mean(_.taskWaitMs / 1e3),
      "exec.driver_s" -> driverS,
      "exec.core_util" -> ops.map(o => c(o.id).taskRunMs / 1e3).sum /
        (wall * cpus),
      "exec.task_run_s" -> mean(_.taskRunMs / 1e3),
      "exec.task_cpu_s" -> mean(_.taskCpuNs / 1e9),
      "exec.task_gc_s" -> mean(_.taskGcMs / 1e3),
      "exec.failed_tasks" -> mean(_.failedTasks.toDouble),
      "shuffle.write_mb" -> mean(_.shuffleWrite / 1e6),
      "shuffle.read_mb" -> mean(_.shuffleRead / 1e6),
      "shuffle.fetch_wait_s" -> mean(_.fetchWaitMs / 1e3),
      "shuffle.spill_mb" -> mean(_.spill / 1e6),
      "stream.batches" -> mean(_.batches.toDouble),
      "stream.add_batch_s" -> mean(_.addBatchMs / 1e3),
      "stream.query_planning_s" -> mean(_.queryPlanningMs / 1e3),
      "stream.wal_commit_s" -> mean(_.walCommitMs / 1e3),
      "stream.state_commit_s" -> mean(_.stateCommitMs / 1e3),
      "stream.state_rows" -> mean(_.stateRows.toDouble),
      "jvm.gc_s" -> ops.map(_.gc).sum / n,
      "jvm.heap_mb" -> ops.map(_.heapMb).sum / n,
      "trace.op_p50_s" -> (if (ok.isEmpty) 0.0 else Stats.median(ok)),
      "trace.ops_per_s" -> n / wall)
    Names.map(k => k -> workload.getOrElse(k, generic.getOrElse(k, 0.0))).toMap
  }
}
