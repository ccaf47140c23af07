package graftbench

import java.util.{Properties, UUID}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{Success => TaskSuccess}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Span recording, seen from the benchmark's side of the program's public
  * API. The untraced run uses [[Spans.Off]]; the traced run a [[Tracer]].
  */
trait Spans {
  /** Runs `f` as op `op` (a root span named `name`). */
  def op[T](op: Int, name: String)(f: => T): T
  /** Runs `f` as a child span of the current op. */
  def child[T](name: String)(f: => T): T
}

object Spans {
  object Off extends Spans {
    def op[T](op: Int, name: String)(f: => T): T = f
    def child[T](name: String)(f: => T): T = f
  }
}

/** Everything one op did inside Spark, summed from listener events. */
final class OpCounters {
  var jobs, buildJobs, stages, tasks, failedTasks = 0L
  var taskWaitMs, taskRunMs, taskCpuNs, taskGcMs = 0L
  var shuffleWrite, shuffleRead, fetchWaitMs, spill = 0L
  val jobSpans = mutable.ArrayBuffer[(Long, Long)]()
  var analysisMs, optimizationMs, planningMs, executions = 0L
  var batches, addBatchMs, queryPlanningMs, walCommitMs, stateCommitMs = 0L
  var stateRows = 0L
}

/** The traced run's recorder. Spans stay in memory until [[write]].
  *
  * Attribution of Spark's events to ops:
  *  - jobs carry the op id as a local property (`graftbench.op`), and
  *    stages and tasks follow their job;
  *  - streams are tied to the op that started them by `runId`, since
  *    `onQueryStarted` is delivered on the thread that starts the stream;
  *  - Catalyst phases carry wall-clock start times, which fall inside
  *    exactly one op's interval because ops run one at a time.
  * Events are read only after `SparkSession.stop()`, which delivers every
  * event still queued on the listener bus.
  */
final class Tracer(spark: SparkSession) extends Spans {
  import Tracer._

  private val spans = mutable.ArrayBuffer[Span]()
  private var nextSpan = 0
  private var current: Option[(Int, Int)] = None // (op, span id)
  private val opWindows = mutable.ArrayBuffer[(Int, Long, Long)]()
  private val counters = mutable.Map[Int, OpCounters]()
  private val phaseEvents = mutable.ArrayBuffer[(Long, Long, Long, Long)]()
  private val runOps = mutable.Map[UUID, Int]()
  private val progress = mutable.ArrayBuffer[(UUID, Map[String, Long],
                                              Long, Long)]()
  @volatile private var currentOp = -1

  private def countersOf(op: Int): OpCounters =
    counters.getOrElseUpdate(op, new OpCounters)

  private def opOf(p: Properties): Int =
    Option(p).flatMap(x => Option(x.getProperty(OpKey))).map(_.toInt)
      .getOrElse(-1)

  private val sparkListener = new SparkListener {
    private val stageOp = mutable.Map[Int, Int]()
    private val stageSubmit = mutable.Map[Int, Long]()
    private val jobStart = mutable.Map[Int, (Int, Long)]()

    override def onJobStart(e: SparkListenerJobStart): Unit =
      Tracer.this.synchronized {
        val op = opOf(e.properties)
        if (op >= 0) {
          val c = countersOf(op)
          c.jobs += 1
          if (e.properties.getProperty(PhaseKey) == "build") c.buildJobs += 1
          e.stageIds.foreach(stageOp(_) = op)
          jobStart(e.jobId) = (op, e.time)
        }
      }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Tracer.this.synchronized {
        jobStart.remove(e.jobId).foreach { case (op, t0) =>
          countersOf(op).jobSpans += ((t0, e.time))
        }
      }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Tracer.this.synchronized {
        val id = e.stageInfo.stageId
        stageOp.get(id).foreach { op =>
          countersOf(op).stages += 1
          stageSubmit(id) =
            e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
        }
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Tracer.this.synchronized {
        stageOp.get(e.stageId).foreach { op =>
          val c = countersOf(op)
          c.tasks += 1
          if (e.reason != TaskSuccess) c.failedTasks += 1
          stageSubmit.get(e.stageId).foreach { s =>
            c.taskWaitMs += math.max(0L, e.taskInfo.launchTime - s)
          }
          val m = e.taskMetrics
          if (m != null) {
            c.taskRunMs += m.executorRunTime
            c.taskCpuNs += m.executorCpuTime
            c.taskGcMs += m.jvmGCTime
            c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
            c.spill += m.diskBytesSpilled
          }
        }
      }
  }

  private val executionListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      if (ph.nonEmpty) Tracer.this.synchronized {
        def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
        phaseEvents += ((ph.values.map(_.startTimeMs).min, ms("analysis"),
          ms("optimization"), ms("planning")))
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution,
                           e: Exception): Unit = record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit =
      Tracer.this.synchronized {
        if (currentOp >= 0) runOps(e.runId) = currentOp
      }
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        val p = e.progress
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
        progress += ((p.runId, d.toMap,
          p.stateOperators.map(_.commitTimeMs).sum,
          p.stateOperators.map(_.numRowsTotal).sum))
      }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(executionListener)
  spark.streams.addListener(streamListener)

  private def newSpanId(): Int = synchronized { nextSpan += 1; nextSpan }

  def op[T](op: Int, name: String)(f: => T): T = {
    val sc = spark.sparkContext
    val id = newSpanId()
    val t0 = System.nanoTime()
    val w0 = System.currentTimeMillis()
    currentOp = op
    current = Some((op, id))
    sc.setLocalProperty(OpKey, op.toString)
    try f finally {
      sc.setLocalProperty(OpKey, null)
      sc.setLocalProperty(PhaseKey, null)
      currentOp = -1
      current = None
      val t1 = System.nanoTime()
      synchronized {
        spans += Span(id, name, -1, op, t0, t1)
        opWindows += ((op, w0, System.currentTimeMillis()))
      }
    }
  }

  def child[T](name: String)(f: => T): T = current match {
    case None => f
    case Some((op, parent)) =>
      val id = newSpanId()
      spark.sparkContext.setLocalProperty(PhaseKey, name)
      val t0 = System.nanoTime()
      try f finally {
        val t1 = System.nanoTime()
        spark.sparkContext.setLocalProperty(PhaseKey, null)
        synchronized { spans += Span(id, name, parent, op, t0, t1) }
      }
  }

  /** Per-op counters. Call after `SparkSession.stop()`. */
  def countersFor(ops: Set[Int]): Map[Int, OpCounters] = synchronized {
    for ((start, a, o, p) <- phaseEvents) {
      opWindows.find { case (_, w0, w1) => start >= w0 && start <= w1 }
        .foreach { case (op, _, _) =>
          val c = countersOf(op)
          c.analysisMs += a; c.optimizationMs += o; c.planningMs += p
          c.executions += 1
        }
    }
    phaseEvents.clear()
    val lastRows = mutable.Map[UUID, Long]()
    for ((run, d, commit, rows) <- progress; op <- runOps.get(run)) {
      val c = countersOf(op)
      c.batches += 1
      c.addBatchMs += d.getOrElse("addBatch", 0L)
      c.queryPlanningMs += d.getOrElse("queryPlanning", 0L)
      c.walCommitMs += d.getOrElse("walCommit", 0L)
      c.stateCommitMs += commit
      lastRows(run) = rows
    }
    for ((run, rows) <- lastRows; op <- runOps.get(run))
      countersOf(op).stateRows += rows
    progress.clear()
    ops.iterator.map(op => op -> countersOf(op)).toMap
  }

  /** Total seconds of op `op`'s child spans named `name`. */
  def childSeconds(op: Int, name: String): Double = synchronized {
    spans.iterator.filter(s => s.op == op && s.name == name && s.parent >= 0)
      .map(s => (s.endNs - s.startNs) / 1e9).sum
  }

  /** Op wall-clock intervals, epoch ms. */
  def windows: Map[Int, (Long, Long)] = synchronized {
    opWindows.map { case (op, a, b) => op -> ((a, b)) }.toMap
  }

  /** Writes the spans as JSON lines. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = synchronized(spans.sortBy(_.id).toList).map { s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""op":${s.op},"start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  final case class Span(id: Int, name: String, parent: Int, op: Int,
                        startNs: Long, endNs: Long)

  val OpKey = "graftbench.op"
  val PhaseKey = "graftbench.phase"

  /** Length of the union of `spans` clipped to `[a, b]`. */
  def covered(spans: Seq[(Long, Long)], a: Long, b: Long): Long = {
    val clipped = spans.map { case (s, e) => (math.max(s, a), math.min(e, b)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var end = Long.MinValue
    for ((s, e) <- clipped) {
      val from = math.max(s, end)
      if (e > from) { total += e - from; end = e }
    }
    total
  }
}
