package graft

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, lit, when}
import org.apache.spark.sql.streaming.StreamingQueryException
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.BoundedRun

/** The runner's state-partition scope (8 inside the run, the session's own
  * value before and after it, also when the run fails) and its parquet
  * sink: append keeps every batch, complete keeps the last, the stream's
  * schema survives the round trip, and no query or temp view stays.
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
      assert(BoundedRun.toParquet(threeRows(), "bounded_run_spec", "append")
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

  /** A bounded source of two micro-batches: keys 1, 2 then keys 2, 3. */
  private def twoBatches(): DataFrame = {
    import spark.implicits._
    val dir = graft.io.WorkDir.create("graft_bounded_run").toString
    Seq(1, 2).toDF("k").coalesce(1).write.parquet(s"$dir/b1")
    Seq(2, 3).toDF("k").coalesce(1).write.parquet(s"$dir/b2")
    spark.readStream.schema(Seq(0).toDF("k").schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/b*")
  }

  /** `toParquet`, checking that it leaves no query and no temp view. */
  private def sink(df: DataFrame, name: String, mode: String): DataFrame = {
    val out = BoundedRun.toParquet(df, name, mode)
    assert(spark.streams.active.isEmpty && !spark.catalog.tableExists(name))
    out
  }

  test("append mode returns the rows of every batch") {
    val ids = new java.util.concurrent.ConcurrentLinkedQueue[Long]
    BoundedRun.foreachBatch(twoBatches())((_, id) => ids.add(id))
    assert(ids.size == 2)
    assert(sink(twoBatches(), "bounded_run_append", "append").collect()
      .map(_.getInt(0)).sorted.toSeq == Seq(1, 2, 2, 3))
  }

  test("complete mode returns only the final batch") {
    // batch 0 emits (1,1),(2,1); batch 1 emits the whole table again
    assert(sink(twoBatches().groupBy("k").agg(count(lit(1)).as("n")),
        "bounded_run_complete", "complete").collect()
      .map(r => (r.getInt(0), r.getLong(1))).sorted.toSeq ==
      Seq((1, 1L), (2, 2L), (3, 1L)))
  }

  test("the result keeps the stream's schema and nullability, also empty") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = threeRows().select(col("value").as("k"),
      when(col("value") > 1, col("value")).as("maybe"))
    assert(!rows.schema("k").nullable && rows.schema("maybe").nullable)
    // all rows; a batch that emits nothing; no batch at all
    for ((df, name, n) <- Seq((rows, "bounded_run_rows", 3),
        (rows.filter(col("k") > 10), "bounded_run_empty", 0),
        (MemoryStream[Int].toDF(), "bounded_run_none", 0))) {
      val out = sink(df, name, "append")
      assert(out.schema == df.schema, name)
      assert(out.count() == n, name)
    }
  }
}
