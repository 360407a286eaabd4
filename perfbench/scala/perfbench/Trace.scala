package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer: `name` is `<layer>.<call>`. Spans of
  * one pass share `run`; `parent` is the enclosing span's id (-1 for a
  * pass root).
  */
final case class Span(id: Int, name: String, start: Long, end: Long,
                      parent: Int, run: Int)

/** In-memory span recorder. When disabled, `span` only runs its body,
  * so untraced passes pay nothing but a branch.
  */
final class Tracer(val enabled: Boolean) {
  val spans = ArrayBuffer[Span]()
  private var stack = List.empty[Int]
  private var run = 0

  def newRun(): Unit = run += 1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.size
      spans += null // reserve the id; filled in when the span ends
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans(id) = Span(id, name, t0, System.nanoTime(), parent, run)
        stack = stack.tail
      }
    }

  /** Self time per span name in ms: duration minus child spans. */
  def selfMs: Map[String, Double] = {
    val childNs = spans.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(s => s.end - s.start).sum }
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.end - s.start - childNs.getOrElse(s.id, 0L)).sum / 1e6 }
  }

  def toJsonLines: String = spans.map { s =>
    s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.start},"end_ns":${s.end},"parent":${s.parent},"run":${s.run}}"""
  }.mkString("", "\n", "\n")
}

/** Engine-level counters from one SparkListener plus the planning
  * phase times of every executed Dataset action. `reset` starts a new
  * window; read after `PerfbenchBus.drain`.
  */
final class SparkCounters extends SparkListener with QueryExecutionListener {
  var jobs, stages, singleTaskStages, tasks, failedTasks = 0L
  var runMs, cpuNs, gcMs, schedDelayMs, shuffleWrite, shuffleRead,
      fetchWaitMs, spill = 0L
  var planMs = 0.0
  private val stageSpans = ArrayBuffer[(Long, Long)]()

  def reset(): Unit = synchronized {
    jobs = 0; stages = 0; singleTaskStages = 0; tasks = 0; failedTasks = 0
    runMs = 0; cpuNs = 0; gcMs = 0; schedDelayMs = 0; shuffleWrite = 0
    shuffleRead = 0; fetchWaitMs = 0; spill = 0; planMs = 0.0
    stageSpans.clear()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    stages += 1
    if (si.numTasks == 1) singleTaskStages += 1
    for (s <- si.submissionTime; c <- si.completionTime) stageSpans += ((s, c))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    if (e.reason != org.apache.spark.Success) failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      // Spark UI's scheduler delay: task duration not spent
      // deserializing, running, serializing or fetching the result
      val ti = e.taskInfo
      val dur = ti.finishTime - ti.launchTime
      val fetch = if (ti.gettingResultTime > 0) ti.finishTime - ti.gettingResultTime else 0L
      schedDelayMs += math.max(0L, dur - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - fetch)
    }
  }

  def addPlan(qe: QueryExecution): Unit = synchronized {
    planMs += qe.tracker.phases.values.map(_.durationMs).sum
  }
  override def onSuccess(f: String, qe: QueryExecution, durationNs: Long): Unit = addPlan(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = addPlan(qe)

  /** ms of [t0, t1] (epoch ms) during which no stage was running. */
  def idleMs(t0: Long, t1: Long): Long = synchronized {
    var covered = 0L
    var reach = t0
    for ((s, c) <- stageSpans.sortBy(_._1)) {
      val a = math.max(s, reach)
      val b = math.min(c, t1)
      if (b > a) { covered += b - a; reach = b }
    }
    (t1 - t0) - covered
  }
}
