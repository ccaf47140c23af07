package graftbench

/** Which `SparkEntry.queries` a query workload runs, and in what order. */
object QueryPool {

  def isHeavy(name: String): Boolean =
    name.startsWith("graph_") || name.startsWith("stream_")

  /** Reference warm latency per query, committed next to the benchmark
    * (`query_costs.tsv`); it only orders queries into strata.
    */
  def referenceCosts(): Map[String, Double] = {
    val in = getClass.getResourceAsStream("/query_costs.tsv")
    require(in != null, "query_costs.tsv missing from the classpath")
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filterNot(l => l.isEmpty || l.startsWith("#"))
      .map { l => val Array(n, c) = l.split("\t"); n -> c.toDouble }.toMap
    finally in.close()
  }

  /** A stratified sample of `k` names: rank the pool by reference cost, cut
    * it into `k` equal strata and take the name at the middle of each. The
    * sample does not depend on the seed: seeded draws (even among the three
    * middle names of each stratum) changed the workload's own cost by 10-25 %
    * between seeds, more than the benchmark's bounds allow. Names without a
    * reference cost rank at the pool's median.
    */
  def stratifiedSample(pool: Seq[String], costs: Map[String, Double],
                       k: Int): Seq[String] = {
    require(k >= 1 && k <= pool.size, s"cannot draw $k of ${pool.size}")
    val known = pool.flatMap(costs.get).sorted
    val mid = if (known.isEmpty) 0.0 else known(known.size / 2)
    val ranked = pool.sorted.sortBy(n => costs.getOrElse(n, mid))
    (0 until k).map(i => ranked((2 * i + 1) * ranked.size / (2 * k)))
  }

  /** Endless op order: the sample reshuffled (seeded) every cycle. */
  def opOrder(sample: Seq[String], rng: scala.util.Random): Iterator[String] =
    Iterator.continually(rng.shuffle(sample)).flatten
}
