package perfbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Engine-side counters of the harness: Spark jobs, stages and tasks,
  * Catalyst phase times, executor time and bytes. Only events that
  * arrive while `recording` is on count. A job is tagged with the
  * `perfbench.op` local property of the thread that started it, so the
  * workloads can split the totals per query or per pipeline layer.
  *
  * Every stage counts once, by stage id: a resubmitted attempt replaces
  * the earlier attempt's numbers instead of adding its shuffle bytes a
  * second time.
  */
final class EngineListener extends SparkListener with QueryExecutionListener {
  import EngineListener._

  @volatile var recording = false

  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageOwner = mutable.HashMap[Int, Int]()
  private val stages = mutable.HashMap[Int, StageSample]()
  private val phases = mutable.ArrayBuffer[Phase]()

  def reset(): Unit = synchronized {
    jobs.clear(); stageOwner.clear(); stages.clear(); phases.clear()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (recording) synchronized {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpProperty))).getOrElse("")
    jobs(e.jobId) = Job(e.jobId, op, e.time, e.time)
    e.stageIds.foreach(s => stageOwner.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(endMs = e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    val s =
      if (m == null) StageSample(i.stageId, i.attemptNumber(), i.numTasks)
      else StageSample(i.stageId, i.attemptNumber(), i.numTasks,
        runMs = m.executorRunTime, cpuNs = m.executorCpuTime,
        shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
        shuffleReadBytes = m.shuffleReadMetrics.totalBytesRead,
        spillBytes = m.diskBytesSpilled,
        scanBytes = m.inputMetrics.bytesRead, scanRecords = m.inputMetrics.recordsRead,
        outputBytes = m.outputMetrics.bytesWritten, outputRecords = m.outputMetrics.recordsWritten)
    recordStage(s)
  }

  /** Keep the latest attempt of a stage that belongs to a recorded job. */
  private[perfbench] def recordStage(s: StageSample): Unit = synchronized {
    if (stageOwner.contains(s.stageId) &&
        stages.get(s.stageId).forall(_.attempt <= s.attempt))
      stages(s.stageId) = s
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (recording) synchronized {
      qe.tracker.phases.foreach { case (name, p) => phases += Phase(name, p.startTimeMs, p.endTimeMs) }
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** What was recorded so far; call after draining the listener bus. */
  def snapshot(): Snapshot = synchronized {
    val owned = stages.values.toList
    Snapshot(jobs.values.toList, owned.map(s => jobs(stageOwner(s.stageId)) -> s), phases.toList)
  }
}

object EngineListener {
  val OpProperty = "perfbench.op"

  final case class Job(id: Int, op: String, startMs: Long, endMs: Long)

  final case class StageSample(stageId: Int, attempt: Int, tasks: Int,
                               runMs: Long = 0, cpuNs: Long = 0,
                               shuffleWriteBytes: Long = 0, shuffleReadBytes: Long = 0,
                               spillBytes: Long = 0, scanBytes: Long = 0, scanRecords: Long = 0,
                               outputBytes: Long = 0, outputRecords: Long = 0)

  final case class Phase(name: String, startMs: Long, endMs: Long)

  /** Recorded jobs, stages (each with the job that ran it) and Catalyst
    * phases, with the sums the per-layer metrics report.
    */
  final case class Snapshot(jobs: Seq[Job], stages: Seq[(Job, StageSample)], phases: Seq[Phase]) {
    /** Only what started inside one of the epoch-ms intervals. */
    def during(intervals: Seq[(Long, Long)]): Snapshot = {
      def in(t: Long) = intervals.exists { case (s, e) => s <= t && t < e }
      Snapshot(jobs.filter(j => in(j.startMs)), stages.filter(s => in(s._1.startMs)),
        phases.filter(p => in(p.startMs)))
    }

    def phaseMs(name: String): Double =
      phases.filter(_.name == name).map(p => (p.endMs - p.startMs).toDouble).sum
    def jobWallMs: Double = Stats.unionLength(jobs.map(j => (j.startMs, j.endMs))).toDouble
    private def sum(f: StageSample => Long): Long = stages.map(s => f(s._2)).sum
    def tasks: Long = sum(_.tasks.toLong)
    def runMs: Double = sum(_.runMs).toDouble
    def cpuMs: Double = sum(_.cpuNs) / 1e6
    def shuffleWriteBytes: Long = sum(_.shuffleWriteBytes)
    def shuffleReadBytes: Long = sum(_.shuffleReadBytes)
    def spillBytes: Long = sum(_.spillBytes)
    def scanBytes: Long = sum(_.scanBytes)
    def scanRecords: Long = sum(_.scanRecords)
    def outputBytes: Long = sum(_.outputBytes)

    /** Jobs and Catalyst phases as parentless spans, for [[Tracer.nest]]. */
    def engineSpans: Seq[Span] =
      jobs.map(j => Span(0, 0, -1, s"job ${j.id}", "job", j.startMs * 1000, j.endMs * 1000)) ++
        phases.map(p => Span(0, 0, -1, p.name, "catalyst", p.startMs * 1000, p.endMs * 1000))
  }
}
