package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.olap.{Hll, Sketch}

/** The native HyperLogLog aggregate: register math, partition invariance,
  * merge == direct, estimator accuracy, and the SQL registration surface.
  */
class HllSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("rho covers the full 22-bit tail") {
    assert(Hll.rho(0L) == 23)          // w = 0
    assert(Hll.rho(511L) == 23)        // w = 0
    assert(Hll.rho(512L) == 22)        // w = 1
    assert(Hll.rho(1024L) == 21)       // w = 2
    assert(Hll.rho(2147483646L) == 1)  // w = 2^22 - 1, max hash
    // estimate of an empty sketch: S = 512 * 2^32, alpha*m^2*2^K / S
    val empty = new Array[Byte](Hll.M)
    assert(Hll.estimate(empty) == Hll.AlphaNum / (512.0 * 4294967296.0))
    assert(Hll.zeroRegisters(empty) == 512L)
  }

  test("sketch is partition-count invariant and merge == direct, bitwise") {
    import spark.implicits._
    val ids = (1L to 5000L).toDF("id")
      .select(col("id"), Sketch.spreadHash(col("id")).as("hv"),
              (col("id") % 7).as("shard"))
    def sketchOf(parts: Int): Array[Byte] =
      ids.repartition(parts)
        .agg(Hll.sketchAgg(col("hv")).as("sk"))
        .collect()(0).getAs[Array[Byte]]("sk")
    val one = sketchOf(1)
    assert(one.sameElements(sketchOf(13)))
    // shard-wise sketches merged == direct sketch
    val merged = ids.groupBy("shard")
      .agg(Hll.sketchAgg(col("hv")).as("sk"))
      .agg(Hll.mergeAgg(col("sk")).as("sk"))
      .collect()(0).getAs[Array[Byte]]("sk")
    assert(merged.sameElements(one))
  }

  test("raw estimate lands within 3 standard errors at n=5000, m=512") {
    import spark.implicits._
    val est = (1L to 5000L).toDF("id")
      .select(Sketch.spreadHash(col("id")).as("hv"))
      .agg(Hll.estimate(Hll.sketchAgg(col("hv"))).as("e"))
      .collect()(0).getAs[Double]("e")
    // sigma ~ 1.04/sqrt(512) ~ 4.6%
    assert(math.abs(est - 5000.0) / 5000.0 < 0.14, s"estimate $est")
  }

  test("SQL surface: hll_estimate(hll_sketch(h)) == DataFrame form") {
    import spark.implicits._
    (1L to 2000L).toDF("id")
      .select(Sketch.spreadHash(col("id")).as("hv"))
      .createOrReplaceTempView("hll_in")
    val sqlRow = spark.sql(
      """SELECT hll_estimate(hll_sketch(hv)) AS e,
                hll_zero_regs(hll_sketch(hv)) AS z
         FROM hll_in""").collect()(0)
    val dfRow = spark.table("hll_in")
      .agg(Hll.estimate(Hll.sketchAgg(col("hv"))).as("e"),
           Hll.zeroRegs(Hll.sketchAgg(col("hv"))).as("z"))
      .collect()(0)
    assert(sqlRow.getAs[Double]("e") == dfRow.getAs[Double]("e"))
    assert(sqlRow.getAs[Long]("z") == dfRow.getAs[Long]("z"))
  }

  test("map-side partial aggregation appears in the plan") {
    import spark.implicits._
    val df = (1L to 100L).toDF("id")
      .select((col("id") % 5).as("g"), Sketch.spreadHash(col("id")).as("hv"))
      .groupBy("g").agg(Hll.sketchAgg(col("hv")).as("sk"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("partial_hll_sketch"),
      s"sketch must partial-aggregate map-side:\n$plan")
  }
}
