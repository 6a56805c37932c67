package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark engine counters, observed from outside the program through a
  * SparkListener. Jobs and stages are kept with their wall-clock times, so
  * any window of time (a pass, a span) can be summed after the fact; a stage
  * belongs to the window in which its first job started.
  */
final class EngineProbe extends SparkListener {
  final class StageAgg {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L; var scan = 0L
    var result = 0L; var peakExec = 0L
    var submitMs = -1L; var completeMs = -1L
  }
  private val jobTimes = mutable.ArrayBuffer.empty[Long]
  private val stageJobTime = mutable.Map.empty[Int, Long]
  private val stages = mutable.Map.empty[Int, StageAgg]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobTimes += e.time
    e.stageIds.foreach(s => if (!stageJobTime.contains(s)) stageJobTime(s) = e.time)
  }

  private def agg(stageId: Int): StageAgg = stages.getOrElseUpdate(stageId, new StageAgg)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val a = agg(e.stageInfo.stageId)
    e.stageInfo.submissionTime.foreach(t => if (a.submitMs < 0) a.submitMs = t)
    e.stageInfo.completionTime.foreach(t => a.completeMs = math.max(a.completeMs, t))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val a = agg(e.stageId)
    a.tasks += 1
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.diskBytesSpilled + m.memoryBytesSpilled
      a.scan += m.inputMetrics.bytesRead
      a.result += m.resultSize
      a.peakExec = math.max(a.peakExec, m.peakExecutionMemory)
    }
  }

  /** Jobs started in [t0, t1] (epoch ms). */
  def jobs(t0: Long, t1: Long): Int = synchronized(jobTimes.count(t => t >= t0 && t <= t1))

  /** Counters for jobs started in [t0, t1] (epoch ms), plus the run
    * intervals of their stages clipped to the window.
    */
  def window(t0: Long, t1: Long): Map[String, Any] = synchronized {
    def in(t: Long) = t >= t0 && t <= t1
    val mine = stages.filter { case (id, _) => stageJobTime.get(id).exists(in) }.values.toSeq
    val ran = mine.filter(_.submitMs >= 0)
    val mb = 1024.0 * 1024.0
    Map(
      "jobs" -> jobs(t0, t1),
      "stages" -> ran.size,
      "tasks" -> mine.map(_.tasks).sum,
      "task_s" -> mine.map(_.runMs).sum / 1e3,
      "cpu_s" -> mine.map(_.cpuNs).sum / 1e9,
      "gc_s" -> mine.map(_.gcMs).sum / 1e3,
      "shuffle_read_mb" -> mine.map(_.shuffleRead).sum / mb,
      "shuffle_write_mb" -> mine.map(_.shuffleWrite).sum / mb,
      "spill_mb" -> mine.map(_.spill).sum / mb,
      "scan_mb" -> mine.map(_.scan).sum / mb,
      "result_mb" -> mine.map(_.result).sum / mb,
      "peak_exec_mem_mb" -> (if (mine.isEmpty) 0.0 else mine.map(_.peakExec).max / mb),
      "stage_intervals" -> ran.filter(_.completeMs >= 0)
        .map(a => Seq(math.max(a.submitMs, t0), math.min(a.completeMs, t1)))
    )
  }
}

/** Catalyst time (analysis + optimization + planning phases) per query,
  * from the query tracker, kept with the phase start time.
  */
final class PlanningProbe extends QueryExecutionListener {
  private val phases = mutable.ArrayBuffer.empty[(Long, Long)]
  private def record(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.values.foreach(p => phases += ((p.startTimeMs, p.durationMs)))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  def planningS(t0: Long, t1: Long): Double = synchronized {
    phases.filter { case (t, _) => t >= t0 && t <= t1 }.map(_._2).sum / 1e3
  }
}

/** Micro-batch progress of every streaming query, as reported by Spark. */
final class StreamProbe extends StreamingQueryListener {
  private val progress = mutable.ArrayBuffer.empty[(java.util.UUID, StreamingQueryProgress)]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized(progress += ((e.progress.id, e.progress)))
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  def of(id: java.util.UUID): Seq[StreamingQueryProgress] =
    synchronized(progress.filter(_._1 == id).map(_._2).toSeq)
}

final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long,
    startMs: Long, endMs: Long)

object Trace {
  val off = new Trace(enabled = false, runId = "")
}

/** In-memory spans: name, start, end, parent and run id. With tracing off,
  * `span` only runs its body.
  */
final class Trace(val enabled: Boolean, runId: String) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(1)
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }

  /** Runs `body` inside a span whose parent is the innermost open span of
    * this thread, or `parent` when given (for work on another thread).
    */
  def span[T](name: String, parent: Int = -1)(body: => T): T = {
    if (!enabled) return body
    val id = nextId.getAndIncrement()
    val p = if (parent >= 0) parent else stack.get.headOption.getOrElse(0)
    stack.set(id :: stack.get)
    val s0 = System.nanoTime(); val m0 = System.currentTimeMillis()
    try body
    finally {
      val s1 = System.nanoTime(); val m1 = System.currentTimeMillis()
      stack.set(stack.get.tail)
      synchronized(spans += Span(id, p, name, s0, s1, m0, m1))
    }
  }

  /** Id of the innermost open span on this thread (0 outside any span). */
  def current: Int = stack.get.headOption.getOrElse(0)

  def records: Seq[Map[String, Any]] = synchronized(spans.toSeq).sortBy(_.startNs).map(s =>
    Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "run" -> runId,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs, "start_ms" -> s.startMs, "end_ms" -> s.endMs))

  def named(name: String): Seq[Span] = synchronized(spans.filter(_.name == name).toSeq)
}
