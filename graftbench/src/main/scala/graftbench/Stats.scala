package graftbench

/** Latency statistics of one run's timed ops. */
object Stats {

  /** Fewer timed ops than this make a run invalid. */
  val MinOps = 50
  /** A tail percentile must have at least this many ops beyond it. */
  val MinBeyond = 10
  /** Candidate tail percentiles, highest first. */
  val TailCandidates: Seq[Int] = Seq(99, 95, 90, 80)

  /** 1-based nearest rank of the p-th percentile among n values. */
  def rank(n: Int, p: Int): Int = math.max(1, math.ceil(p * n / 100.0).toInt)

  /** How many of n sorted values lie strictly beyond the p-th percentile. */
  def beyond(n: Int, p: Int): Int = n - rank(n, p)

  /** Nearest-rank percentile. */
  def percentile(values: Seq[Double], p: Int): Double = {
    require(values.nonEmpty, "percentile of no values")
    values.sorted.apply(rank(values.size, p) - 1)
  }

  def median(values: Seq[Double]): Double = {
    require(values.nonEmpty, "median of no values")
    val s = values.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  /** The tail rule: the highest of p99, p95, p90 and p80 that has at least
    * [[MinBeyond]] ops beyond it, or None for a run of fewer than [[MinOps]]
    * ops. Runs record what it picks; `op_tail_s` itself stays at a fixed
    * percentile so the metric means the same thing in every run.
    */
  def tailPercentile(n: Int): Option[Int] =
    if (n < MinOps) None else TailCandidates.find(p => beyond(n, p) >= MinBeyond)

  /** `op_tail_s` at the workload's fixed percentile; Left when the run has
    * fewer than `minOps` ops.
    */
  def tail(latencies: Seq[Double], p: Int,
           minOps: Int): Either[String, Double] =
    if (latencies.size < minOps)
      Left(s"${latencies.size} timed ops cannot support p$p (needs $minOps)")
    else Right(percentile(latencies, p))
}
