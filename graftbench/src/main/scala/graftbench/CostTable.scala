package graftbench

/** Regenerates `query_costs.tsv`: every query once cold, then twice warm,
  * printing the faster warm wall time.
  * `graftbench.CostTable <dataDir>`.
  */
object CostTable {
  def main(argv: Array[String]): Unit = {
    val dir = argv(0)
    val spark = Main.session(Runtime.getRuntime.availableProcessors)
    for ((name, f) <- graft.SparkEntry.queries.toSeq.sortBy(_._1)) {
      val walls = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        f(spark, dir).write.format("noop").mode("overwrite").save()
        graft.CacheRegistry.releaseAll()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"$name\t${walls.tail.min}%.3f")
    }
    spark.stop()
  }
}
