package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans recorded around the benchmark's calls into the engine's public
  * functions. Each span has a name, a start and end (epoch ns), its
  * parent span and the trace id of the pass it belongs to. Spans stay in
  * memory until the run ends. Disabled, `span` only runs its body.
  */
final class Spans(val enabled: Boolean) {
  import Spans.Span
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 1
  var trace: String = ""
  // spans are taken only while a traced pass runs
  var active: Boolean = false

  def span[T](name: String)(body: => T): T =
    if (!enabled || !active) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = Clock.nowNs()
      try body
      finally {
        stack = stack.tail
        done += Span(id, parent, trace, name, t0, Clock.nowNs())
      }
    }

  def all: Seq[Span] = done.toSeq
}

object Spans {
  final case class Span(id: Int, parent: Int, trace: String, name: String,
      startNs: Long, endNs: Long)
}

/** Wall clock in epoch nanoseconds: a monotonic clock anchored once to
  * the epoch, so spans line up with listener event times (epoch ms). */
object Clock {
  private val anchorNs = System.currentTimeMillis() * 1000000L
  private val baseNs = System.nanoTime()
  def nowNs(): Long = anchorNs + (System.nanoTime() - baseNs)
}

/** Job, stage and task counts from the benchmark's own listener. Each job
  * is attributed to a call site from outside the engine: the job carries
  * the `spark.sql.execution.id` property, and that execution's start
  * event carries the call stack that started it, whose innermost engine
  * frame names the file and line (`Warehouse.scala:40`). Planning phases
  * come from a query-execution listener. Events arrive on the listener bus thread; read the results
  * only after [[Counts.drain]].
  */
final class Counts extends SparkListener with QueryExecutionListener {
  import Counts._
  final class Job(val id: Int, val execId: Long, val startMs: Long,
      val stages: Int, val stageSite: String) {
    var endMs: Long = -1L
    var tasks, runMs, cpuNs, gcMs, fetchWaitMs, schedDelayMs = 0L
    var inputBytes, swBytes, swRecords, spillBytes = 0L
  }

  val jobs = mutable.ArrayBuffer.empty[Job]
  val execs = mutable.LinkedHashMap.empty[Long, Exec]
  val plans = mutable.ArrayBuffer.empty[Plan]
  private val stageJob = mutable.HashMap.empty[Int, Job]
  private val byId = mutable.HashMap.empty[Int, Job]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    val j = new Job(e.jobId, exec, e.time, e.stageIds.size,
      e.stageInfos.headOption.map(_.name).getOrElse(""))
    jobs += j
    byId(e.jobId) = j
    e.stageIds.foreach(stageJob(_) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    byId.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.runMs += m.executorRunTime
      j.cpuNs += m.executorCpuTime
      j.gcMs += m.jvmGCTime
      j.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      j.inputBytes += m.inputMetrics.bytesRead
      j.swBytes += m.shuffleWriteMetrics.bytesWritten
      j.swRecords += m.shuffleWriteMetrics.recordsWritten
      j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      val i = e.taskInfo
      // the UI's scheduler delay: task duration not spent deserializing,
      // running, serializing the result or fetching it
      j.schedDelayMs += math.max(0L, i.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        (if (i.gettingResult) i.finishTime - i.gettingResultTime else 0L))
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        // the innermost engine or benchmark frame of the call stack that
        // started the execution; the description names its file too, except
        // where a job description replaces it (streaming micro-batches)
        val frame = Option(s.details).iterator.flatMap(_.linesIterator)
          .map(_.trim).find(_.startsWith("graft")).getOrElse(s.description)
        execs(s.executionId) = Exec(s.executionId, frame, s.time, -1L)
      case s: SparkListenerSQLExecutionEnd =>
        execs.get(s.executionId).foreach(_.endMs = s.time)
      case _ =>
    }
  }

  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    synchronized {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
      val start = ph.values.map(_.startTimeMs).minOption.getOrElse(0L)
      plans += Plan(start, ms("optimization"), ms("planning"))
    }

  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()

  def attach(s: SparkSession): Unit = {
    drain(s)
    s.sparkContext.addSparkListener(this)
    s.listenerManager.register(this)
  }

  def detach(s: SparkSession): Unit = {
    drain(s)
    s.sparkContext.removeSparkListener(this)
    s.listenerManager.unregister(this)
  }

  def drain(s: SparkSession): Unit =
    org.apache.spark.graftbridge.ListenerBridge.drain(s.sparkContext)

  /** Call site of a job: the frame that started its SQL execution, or for
    * a job outside any execution the call site Spark gave its stage. */
  def site(j: Job): String = synchronized {
    execs.get(j.execId).map(_.desc).getOrElse(j.stageSite)
  }
}

object Counts {
  final case class Exec(id: Long, desc: String, startMs: Long,
      var endMs: Long)
  final case class Plan(startMs: Long, optimizeMs: Long, planMs: Long)
}
