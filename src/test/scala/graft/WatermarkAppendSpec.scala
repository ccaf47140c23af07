package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

/** `Watermark.appendIdempotent`'s contract: which directories count as an
  * existing sink, that an existing sink is never overwritten, the named
  * error for a sink without the key columns, replay idempotence, and the
  * two-job budget of an append to an existing sink.
  */
class WatermarkAppendSpec extends AnyFunSuite {
  import graft.inc.Watermark
  lazy val spark = SparkTestSession.spark

  private def tmp(): Path = graft.io.WorkDir.create("graft_append")

  private def batch(ks: Int*) = {
    import spark.implicits._
    ks.map(k => (k, s"v$k")).toDF("k", "v")
  }

  private def keysIn(sink: Path): Seq[Int] =
    spark.read.parquet(sink.toString).collect().map(_.getInt(0)).toSeq.sorted

  /** Every regular file under `dir` (checksums and markers included),
    * by relative path, with its bytes.
    */
  private def snapshot(dir: Path): Map[String, Seq[Byte]] = {
    val s = Files.walk(dir)
    try s.iterator.asScala.filter(Files.isRegularFile(_))
      .map(p => dir.relativize(p).toString ->
        Files.readAllBytes(p).toSeq).toMap
    finally s.close()
  }

  test("absent, empty and _temporary-only directories take the create write") {
    val absent = tmp().resolve("sink")
    val empty = tmp()
    val aborted = tmp()
    val tmpDir = Files.createDirectories(aborted.resolve("_temporary/0"))
    Files.write(tmpDir.resolve("part-00000.parquet"), Array[Byte](1, 2, 3))
    for (sink <- Seq(absent, empty, aborted)) {
      Watermark.appendIdempotent(spark, batch(1, 2), sink.toString, Seq("k"))
      assert(keysIn(sink) == Seq(1, 2), sink)
    }
  }

  test("a corrupt data file makes the append throw and changes no file") {
    // one corrupt file sorts before Spark's part files (the footer check
    // reads it), the other after (the key scan reads it)
    for (name <- Seq("a-corrupt.parquet", "zz-corrupt.parquet")) {
      val sink = tmp().resolve("sink")
      Watermark.appendIdempotent(spark, batch(1, 2), sink.toString, Seq("k"))
      Files.write(sink.resolve(name), "not parquet".getBytes("UTF-8"))
      val before = snapshot(sink)
      intercept[Exception] {
        Watermark.appendIdempotent(spark, batch(2, 3), sink.toString,
          Seq("k"))
      }
      assert(snapshot(sink) == before, name)
    }
  }

  test("a directory of only k=v/ partitions raises the named error") {
    val sink = tmp().resolve("sink")
    batch(1, 2).write.partitionBy("k").parquet(sink.toString)
    val before = snapshot(sink)
    val e = intercept[IllegalArgumentException] {
      Watermark.appendIdempotent(spark, batch(2, 3), sink.toString, Seq("k"))
    }
    assert(e.getMessage.contains(sink.toString))
    assert(e.getMessage.contains("key column(s) k"))
    assert(snapshot(sink) == before)
  }

  test("a sink without the key column raises the named error") {
    import spark.implicits._
    val sink = tmp().resolve("sink")
    Seq((1, "a")).toDF("id", "v").write.parquet(sink.toString)
    val before = snapshot(sink)
    val e = intercept[IllegalArgumentException] {
      Watermark.appendIdempotent(spark, batch(1), sink.toString, Seq("k"))
    }
    assert(e.getMessage.contains(sink.toString))
    assert(e.getMessage.contains("key column k"))
    assert(snapshot(sink) == before)
  }

  test("replaying a fully-seen batch adds no rows") {
    val sink = tmp().resolve("sink")
    Watermark.appendIdempotent(spark, batch(1, 2, 3), sink.toString, Seq("k"))
    Watermark.appendIdempotent(spark, batch(4), sink.toString, Seq("k"))
    Watermark.appendIdempotent(spark, batch(1, 2, 3, 4), sink.toString,
      Seq("k"))
    assert(keysIn(sink) == Seq(1, 2, 3, 4))
  }

  test("an append to an existing sink runs at most 2 Spark jobs") {
    val sink = tmp().resolve("sink")
    Watermark.appendIdempotent(spark, batch(1, 2), sink.toString, Seq("k"))
    val sc = spark.sparkContext
    val tag = "graft.spec.append"
    val appendJobs = new AtomicInteger
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(tag))) match {
          case Some("append") => appendJobs.incrementAndGet()
          case Some("marker") => markerSeen.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(tag, "append")
      Watermark.appendIdempotent(spark, batch(2, 3), sink.toString, Seq("k"))
      // listener events arrive in order: once the marker job's start is
      // seen, every append job's start has been counted
      sc.setLocalProperty(tag, "marker")
      sc.parallelize(Seq(1), 1).count()
      assert(markerSeen.await(30, java.util.concurrent.TimeUnit.SECONDS))
    } finally {
      sc.setLocalProperty(tag, null)
      sc.removeSparkListener(listener)
    }
    assert(keysIn(sink) == Seq(1, 2, 3))
    assert(appendJobs.get >= 1 && appendJobs.get <= 2,
      s"${appendJobs.get} jobs")
  }
}
