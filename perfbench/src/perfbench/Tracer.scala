package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates,
  SparkListenerSQLExecutionStart}

/** Work counted for one phase of one op sample, summed over its tasks. */
final class Counters {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs, resultBytes, spillBytes, peakTaskMemBytes = 0L
  var shuffleWriteBytes, shuffleWriteNs, shuffleReadBytes, fetchWaitMs = 0L
  var inputBytes, outputBytes = 0L
  var writeTaskMs, writeFiles = 0L

  def add(m: org.apache.spark.executor.TaskMetrics): Unit = {
    tasks += 1
    runMs += m.executorRunTime
    cpuNs += m.executorCpuTime
    gcMs += m.jvmGCTime
    resultBytes += m.resultSize
    spillBytes += m.diskBytesSpilled
    peakTaskMemBytes = math.max(peakTaskMemBytes, m.peakExecutionMemory)
    shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
    shuffleWriteNs += m.shuffleWriteMetrics.writeTime
    shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
    fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
    inputBytes += m.inputMetrics.bytesRead
    val out = m.outputMetrics
    outputBytes += out.bytesWritten
    if (out.bytesWritten > 0 || out.recordsWritten > 0) writeTaskMs += m.executorRunTime
  }

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "run_ms" -> runMs,
    "cpu_ns" -> cpuNs, "gc_ms" -> gcMs, "result_bytes" -> resultBytes,
    "spill_bytes" -> spillBytes, "peak_task_mem_bytes" -> peakTaskMemBytes,
    "shuffle_write_bytes" -> shuffleWriteBytes,
    "shuffle_write_ns" -> shuffleWriteNs,
    "shuffle_read_bytes" -> shuffleReadBytes, "fetch_wait_ms" -> fetchWaitMs,
    "input_bytes" -> inputBytes, "output_bytes" -> outputBytes,
    "write_task_ms" -> writeTaskMs, "write_files" -> writeFiles)
}

/** One traced interval. Spans of one op sample share `sample`; `parent`
  * names the span that caused this one. Times are epoch milliseconds. */
final case class Span(id: String, parent: String, sample: Long, name: String,
    op: String, startMs: Double, var endMs: Double, group: String = null) {
  def toMap: Map[String, Any] = Map("id" -> id, "parent" -> parent,
    "sample" -> sample, "name" -> name, "op" -> op, "start_ms" -> startMs,
    "end_ms" -> endMs, "group" -> Option(group))
}

/** Listener-side half of the traced run: counts each phase's jobs, stages,
  * tasks and task metrics, and records job and stage spans under the phase
  * span that started them.
  *
  * The harness brackets every phase with [[enter]] and [[exit]]. `exit`
  * drains the listener bus before it returns, so every event of a phase
  * is delivered while that phase is current and none is attributed to
  * the next one: no sleeping and no guessing. Spans and counters stay in
  * memory until the run writes them out. */
final class Tracer extends SparkListener {
  import Tracer.Ctx
  @volatile private var ctx: Ctx = null
  private val spans = mutable.ArrayBuffer[Span]()
  private val jobSpans = mutable.Map[Int, Span]()
  private val stageSpans = mutable.Map[(Int, Int), Span]()
  private val stageParent = mutable.Map[Int, String]()
  private val fileAccums = mutable.Set[Long]()
  private var unmatchedJobs = 0

  def attach(sc: SparkContext): Unit = sc.addSparkListener(this)
  def detach(sc: SparkContext): Unit = { Bus.drain(sc); sc.removeSparkListener(this) }

  def enter(sample: Long, op: String, phase: String): Counters = {
    val c = new Counters
    ctx = Ctx(sample, op, phase, c)
    c
  }

  def exit(sc: SparkContext): Unit = { Bus.drain(sc); ctx = null }

  def addSpan(s: Span): Unit = synchronized { spans += s }
  def allSpans: Seq[Span] = synchronized { spans.toList }
  /** Jobs whose group tag named another phase than the current one. */
  def mismatchedJobs: Int = synchronized { unmatchedJobs }

  private def phaseSpanId(c: Ctx) = s"S${c.sample}.${c.phase}"

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val c = ctx
    if (c != null) {
      val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      if (group != Main.jobGroup(c.sample, c.op, c.phase)) unmatchedJobs += 1
      val s = Span(s"J${e.jobId}", phaseSpanId(c), c.sample, "job", c.op,
        e.time.toDouble, e.time.toDouble, group)
      jobSpans(e.jobId) = s
      spans += s
      e.stageIds.foreach(id => stageParent(id) = s.id)
      c.counters.jobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpans.remove(e.jobId).foreach(_.endMs = e.time.toDouble)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val c = ctx
    val i = e.stageInfo
    if (c != null) {
      val start = i.submissionTime.getOrElse(System.currentTimeMillis()).toDouble
      val s = Span(s"T${i.stageId}.${i.attemptNumber()}",
        stageParent.getOrElse(i.stageId, phaseSpanId(c)), c.sample, "stage",
        c.op, start, start)
      stageSpans((i.stageId, i.attemptNumber())) = s
      spans += s
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val c = ctx
    val i = e.stageInfo
    stageSpans.remove((i.stageId, i.attemptNumber())).foreach { s =>
      s.endMs = i.completionTime.getOrElse(System.currentTimeMillis()).toDouble
      if (c != null) c.counters.stages += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = ctx
    if (c != null && e.taskMetrics != null) c.counters.add(e.taskMetrics)
  }

  /** File writes report their file count as a SQL metric set outside tasks:
    * remember which accumulators carry it, then add their updates. */
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      def walk(p: SparkPlanInfo): Unit = {
        p.metrics.filter(_.name == "number of written files")
          .foreach(m => fileAccums += m.accumulatorId)
        p.children.foreach(walk)
      }
      walk(s.sparkPlanInfo)
    }
    case u: SparkListenerDriverAccumUpdates => synchronized {
      val c = ctx
      if (c != null) u.accumUpdates.foreach { case (id, v) =>
        if (fileAccums(id)) c.counters.writeFiles += v
      }
    }
    case _ =>
  }
}

object Tracer {
  private final case class Ctx(sample: Long, op: String, phase: String,
      counters: Counters)
}
