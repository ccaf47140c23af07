package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Spec helpers that observe a session from outside: the Spark jobs a
  * block starts, and the log lines it writes.
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
}
