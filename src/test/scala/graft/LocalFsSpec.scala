package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, LocalFileSystem, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.io.{NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem, WorkDir}

/** The fork-free `file:` scheme: every Hadoop configuration resolves to it,
  * it leaves the same mode bits and answers the same link status as stock
  * Hadoop, and Spark's sinks and streaming checkpoints over it start no
  * `chmod`, `readlink`, `ls` or `stat` subprocess.
  */
class LocalFsSpec extends AnyFunSuite {
  import graft.inc.Watermark
  import graft.streaming.BoundedRun
  lazy val spark = SparkTestSession.spark

  private def init[F <: FileSystem](fs: F, conf: Configuration): F = {
    fs.initialize(URI.create("file:///"), conf)
    fs
  }

  /** Every path under `root` with its mode bits, sticky bit included. */
  private def modes(root: JPath): Map[String, Int] = {
    val s = Files.walk(root)
    try s.iterator.asScala.filter(_ != root).map(p => root.relativize(p)
      .toString -> (Files.getAttribute(p, "unix:mode").asInstanceOf[Int] &
        0x3ff)).toMap
    finally s.close()
  }

  test("FileSystem, FileContext and Spark's conf resolve to the graft classes") {
    val fs = FileSystem.getLocal(new Configuration())
    assert(fs.getClass == classOf[NioLocalFileSystem])
    assert(fs.getRaw.getClass == classOf[NioRawLocalFileSystem])
    assert(FileContext.getLocalFSFileContext().getDefaultFileSystem.getClass ==
      classOf[NioLocalFs])
    assert(new Path("file:///").getFileSystem(spark.sessionState
      .newHadoopConf()).getClass == classOf[NioLocalFileSystem])
  }

  test("files, checksums and directories get stock Hadoop's modes") {
    for (umask <- Seq(None, Some("077"))) {
      val conf = new Configuration()
      umask.foreach(conf.set("fs.permissions.umask-mode", _))
      /** Writes a directory, a file (with its .crc) and a sticky dir. */
      def layout(fs: FileSystem, root: JPath): Map[String, Int] = {
        val r = new Path(root.toUri)
        assert(fs.mkdirs(new Path(r, "d")))
        val out = fs.create(new Path(r, "d/f"))
        out.write(Array[Byte](1, 2, 3))
        out.close()
        assert(fs.mkdirs(new Path(r, "s")))
        fs.setPermission(new Path(r, "s"), new FsPermission(Integer
          .parseInt("1777", 8).toShort))
        modes(root)
      }
      val stockDir = WorkDir.create("graft_localfs")
      val nioDir = WorkDir.create("graft_localfs")
      val (stock, stockForks) = SparkProbes.subprocesses(stockDir)(
        layout(init(new LocalFileSystem(), conf), stockDir))
      val (nio, nioForks) = SparkProbes.subprocesses(nioDir)(
        layout(init(new NioLocalFileSystem, conf), nioDir))
      assert(nio == stock, umask)
      val (file, dir) = if (umask.isEmpty) ("644", "755") else ("600", "700")
      assert(stock == Map("d" -> dir, "d/f" -> file, "d/.f.crc" -> file,
        "s" -> "1777").map { case (k, v) => k -> Integer.parseInt(v, 8) })
      // the probe sees stock Hadoop fork chmod per path; the graft file
      // system forks only for the sticky bit, which NIO cannot set
      assert(stockForks.count(_.startsWith("chmod")) >= 4, stockForks)
      assert(nioForks.size == 1 && nioForks.head.startsWith("chmod 1777"),
        nioForks)
    }
  }

  test("getFileLinkStatus matches stock Hadoop field by field") {
    val conf = new Configuration()
    val stock = init(new RawLocalFileSystem(), conf)
    val nio = init(new NioRawLocalFileSystem, conf)
    val dir = WorkDir.create("graft_localfs")
    val file = Files.write(dir.resolve("file"), Array[Byte](1, 2, 3))
    val link = Files.createSymbolicLink(dir.resolve("link"), file)
    val dangling = Files.createSymbolicLink(dir.resolve("dangling"),
      dir.resolve("gone"))
    /** The status field by field, or the missing-file error. */
    def answer(fs: FileSystem, p: Path): Either[String, Seq[Any]] =
      try {
        val s = fs.getFileLinkStatus(p)
        Right(Seq(s.getPath, s.getLen, s.isDirectory, s.isSymlink,
          if (s.isSymlink) s.getSymlink else None, s.getReplication,
          s.getBlockSize, s.getModificationTime, s.getAccessTime,
          s.getPermission, s.getOwner, s.getGroup))
      } catch { case e: FileNotFoundException => Left(e.getMessage) }
    for (p <- Seq(file, link, dangling, dir.resolve("missing"));
         path <- Seq(new Path(p.toString), new Path(p.toUri))) {
      val want = answer(stock, path)
      assert(answer(nio, path) == want, path)
      // a file:-qualified path names no file to readlink, in both: a live
      // link reads as its target and a dangling one as missing
      val expected: Either[Unit, Boolean] =
        (p, path.toString.startsWith("file:")) match {
          case (`file`, _) => Right(false)
          case (`link`, qualified) => Right(!qualified)
          case (`dangling`, false) => Right(true)
          case _ => Left(())
        }
      assert(want.left.map(_ => ()).map(_(3)) == expected, path)
    }
  }

  test("an idempotent append and a stateful stream fork no subprocess") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val dir = WorkDir.create("graft_localfs")
    val sink = dir.resolve("sink").toString
    val (_, appendForks) = SparkProbes.subprocesses(dir) {
      Watermark.appendIdempotent(spark, Seq(1, 2).toDF("k"), sink, Seq("k"))
      Watermark.appendIdempotent(spark, Seq(2, 3).toDF("k"), sink, Seq("k"))
    }
    assert(spark.read.parquet(sink).count() == 3)
    assert(appendForks.isEmpty, appendForks)
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Int]
    mem.addData(1 to 30: _*)
    val key = "spark.sql.streaming.checkpointLocation"
    spark.conf.set(key, dir.resolve("checkpoints").toString)
    val (counts, streamForks) = try SparkProbes.subprocesses(dir) {
      BoundedRun.toParquet(mem.toDF().groupBy(col("value") % 3).count(),
        "localfs_spec_counts", "complete").collect()
    } finally spark.conf.unset(key)
    assert(counts.map(_.getLong(1)).toSeq == Seq(10L, 10L, 10L))
    assert(Files.exists(dir.resolve("checkpoints/localfs_spec_counts/state")))
    assert(streamForks.isEmpty, streamForks)
  }
}
