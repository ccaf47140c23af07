package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Spec helpers that observe a session from outside: the Spark jobs a
  * block starts, the log lines it writes, and the file-system subprocesses
  * it forks.
  */
object SparkProbes {

  /** Runs `body` and returns its result with the number of Spark jobs it
    * started, counted by a `SparkListener` through a local property.
    */
  def countJobs[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val tag = "graft.spec.jobs"
    val jobs = new AtomicInteger
    val markerSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(tag))) match {
          case Some("body") => jobs.incrementAndGet()
          case Some("marker") => markerSeen.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(tag, "body")
      val r = body
      // listener events arrive in order: once the marker job's start is
      // seen, every job of the body has been counted
      sc.setLocalProperty(tag, "marker")
      sc.parallelize(Seq(1), 1).count()
      assert(markerSeen.await(30, TimeUnit.SECONDS), "marker job not seen")
      (r, jobs.get)
    } finally {
      sc.setLocalProperty(tag, null)
      sc.removeSparkListener(listener)
    }
  }

  /** Runs `body` with `loggerName` logging at INFO or above into a
    * buffer; returns the result and the formatted messages.
    */
  def captureLog[T](loggerName: String)(body: => T): (T, Seq[String]) = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val logger = ctx.getLogger(loggerName).asInstanceOf[Logger]
    val lines = mutable.ArrayBuffer[String]()
    val appender = new AbstractAppender(s"capture-$loggerName", null, null,
        true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = lines.synchronized {
        lines += e.getMessage.getFormattedMessage
      }
    }
    appender.start()
    val prev = logger.getLevel
    logger.addAppender(appender)
    logger.setLevel(Level.INFO)
    try {
      val r = body
      (r, lines.synchronized(lines.toList))
    } finally {
      logger.removeAppender(appender)
      logger.setLevel(prev)
      appender.stop()
    }
  }

  /** The commands Hadoop's local file system forks when it has no native
    * library: permission, link and status checks.
    */
  private val FsCommands = Set("chmod", "readlink", "ls", "stat")

  /** Runs `body` and returns its result with the `chmod`, `readlink`,
    * `ls` and `stat` commands started while it ran on paths under `dir`,
    * recorded as JFR `jdk.ProcessStart` events. JFR sees the whole JVM, so
    * the directory filter keeps out other work running meanwhile.
    */
  def subprocesses[T](dir: Path)(body: => T): (T, Seq[String]) = {
    val roots = Seq(dir.toString, dir.toRealPath().toString).distinct
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    val r = try body finally rec.stop()
    val dump = Files.createTempFile("graft_probe", ".jfr")
    try {
      rec.dump(dump)
      val commands = RecordingFile.readAllEvents(dump).asScala.toSeq
        .map(_.getString("command"))
        .filter { c =>
          val exe = c.takeWhile(_ != ' ')
          FsCommands(exe.substring(exe.lastIndexOf('/') + 1)) &&
            roots.exists(c.contains)
        }
      (r, commands)
    } finally {
      rec.close()
      Files.deleteIfExists(dump)
    }
  }
}
