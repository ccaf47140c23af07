package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** The one query run: caches released after it, also when the body throws;
  * the job description set inside it and cleared after; pinned builds
  * charged to the query it names; and the query selection Bench and Verify
  * share.
  */
class HarnessSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private def description: String =
    spark.sparkContext.getLocalProperty("spark.job.description")

  test("a frame tracked inside run is unpersisted after it") {
    var df: DataFrame = null
    var levelInside = StorageLevel.NONE
    val r = Harness.run(spark, "q_cached") {
      df = CacheRegistry.cached(spark.range(10).toDF("id"))
      levelInside = df.storageLevel
      df.count()
    }
    assert(r.name == "q_cached")
    assert(r.result == Right(10L))
    assert(r.wallSec > 0 && r.cpuSec >= 0 && r.gcSec >= 0)
    assert(levelInside != StorageLevel.NONE)
    assert(df.storageLevel == StorageLevel.NONE)
  }

  test("a throwing body gives Left, releases its caches and clears the job description") {
    val boom = new IllegalStateException("boom")
    var df: DataFrame = null
    var descInside: String = null
    val r = Harness.run(spark, "q_throw") {
      df = CacheRegistry.cached(spark.range(5).toDF("id"))
      df.count()
      descInside = description
      throw boom
    }
    assert(r.result.left.toOption.exists(_ eq boom))
    assert(descInside == "q_throw")
    assert(df.storageLevel == StorageLevel.NONE)
    assert(description == null)
  }

  test("a pinned build inside run is charged to the query it names") {
    val key = "harness_spec_pinned"
    Harness.run(spark, "q_x") {
      CacheRegistry.pinned(key)(spark.range(3).toDF("id")).count()
    }
    assert(CacheRegistry.pinnedLedger.filter(_.key == key).map(_.payer) ==
      Seq("q_x"))
  }

  test("select sorts the queries by name and keeps those matching a substring") {
    val names = SparkEntry.queries.keys.toSeq.sorted
    val expected =
      names.filter(n => n.contains("graph_") || n.contains("dedup_cc"))
    assert(expected.exists(_.startsWith("graph_")))
    assert(expected.exists(_.contains("dedup_cc")))
    assert(Harness.select(Some("graph_,dedup_cc")).map(_.name) == expected)
    assert(Harness.select(None).map(_.name) == names)
  }
}
