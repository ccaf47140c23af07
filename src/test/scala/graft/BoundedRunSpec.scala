package graft

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQueryException
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.BoundedRun

/** The runner's state-partition scope: 8 inside the run, the session's own
  * value before and after it, also when the run fails.
  */
class BoundedRunSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val key = "spark.sql.shuffle.partitions"

  private def atThree(f: => Unit): Unit = {
    val old = spark.conf.get(key)
    spark.conf.set(key, "3")
    try f finally spark.conf.set(key, old)
  }

  /** A bounded source: three rows already available at start. */
  private def threeRows(): DataFrame = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Int]
    mem.addData(1, 2, 3)
    mem.toDF()
  }

  test("a run sees 8 state partitions and restores the session's value") {
    atThree {
      val seen = new AtomicReference[String]
      BoundedRun.foreachBatch(threeRows()) { (batch, _) =>
        seen.set(batch.sparkSession.conf.get(key))
      }
      assert(seen.get == "8")
      assert(spark.conf.get(key) == "3")
      assert(BoundedRun.toMemory(threeRows(), "bounded_run_spec", "append")
        .count() == 3)
      assert(spark.conf.get(key) == "3")
    }
  }

  test("a failing body throws, restores the conf and leaves no query") {
    atThree {
      intercept[StreamingQueryException] {
        BoundedRun.foreachBatch(threeRows()) { (_, _) =>
          throw new IllegalStateException("batch body failed")
        }
      }
      assert(spark.conf.get(key) == "3")
      assert(spark.streams.active.isEmpty)
    }
  }
}
