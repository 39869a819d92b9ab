package org.apache.spark.perfbench

import java.util.Properties
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler.{JobSucceeded, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, StageInfo}
import org.scalatest.funsuite.AnyFunSuite
import perfbench.EngineListener

// in Spark's package: building TaskMetrics by hand needs its private[spark] setters
class EngineListenerSpec extends AnyFunSuite {

  private def stage(id: Int, attempt: Int, tasks: Int, shuffleWrite: Long, runMs: Long): StageInfo = {
    val tm = TaskMetrics.empty
    tm.shuffleWriteMetrics.incBytesWritten(shuffleWrite)
    tm.setExecutorRunTime(runMs)
    new StageInfo(id, attempt, s"stage $id", tasks, Seq.empty, Seq.empty, "", tm,
      Seq.empty, None, 0, false, 0)
  }

  private def jobStart(id: Int, time: Long, op: String, stages: StageInfo*) = {
    val p = new Properties()
    p.setProperty(EngineListener.OpProperty, op)
    SparkListenerJobStart(id, time, stages, p)
  }

  test("a resubmitted stage attempt counts once, with the latest attempt's numbers") {
    val l = new EngineListener
    l.recording = true
    l.onJobStart(jobStart(1, 1000L, "q1_pricing_summary", stage(3, 0, 4, 0, 0)))
    l.onStageCompleted(SparkListenerStageCompleted(stage(3, 0, 4, 100L, 40L)))
    l.onStageCompleted(SparkListenerStageCompleted(stage(3, 1, 2, 100L, 25L)))
    // a stale attempt arriving late must not replace the newer one
    l.onStageCompleted(SparkListenerStageCompleted(stage(3, 0, 4, 100L, 40L)))
    l.onJobEnd(SparkListenerJobEnd(1, 1500L, JobSucceeded))
    val s = l.snapshot()
    assert(s.stages.size === 1)
    assert(s.shuffleWriteBytes === 100L)
    assert(s.tasks === 2L)
    assert(s.runMs === 25.0)
    assert(s.jobs.map(_.op) === Seq("q1_pricing_summary"))
    assert(s.jobWallMs === 500.0)
  }

  test("only jobs started while recording count, and their stages") {
    val l = new EngineListener
    l.onJobStart(jobStart(1, 0L, "warm", stage(1, 0, 1, 0, 0)))
    l.onStageCompleted(SparkListenerStageCompleted(stage(1, 0, 1, 7L, 1L)))
    l.recording = true
    l.onJobStart(jobStart(2, 10L, "a1_basic_stats", stage(2, 0, 3, 0, 0), stage(4, 0, 2, 0, 0)))
    l.onStageCompleted(SparkListenerStageCompleted(stage(2, 0, 3, 11L, 5L)))
    l.onStageCompleted(SparkListenerStageCompleted(stage(4, 0, 2, 13L, 6L)))
    l.onJobEnd(SparkListenerJobEnd(2, 30L, JobSucceeded))
    val s = l.snapshot()
    assert(s.jobs.map(_.id) === Seq(2))
    assert(s.stages.map(_._2.stageId).toSet === Set(2, 4))
    assert(s.shuffleWriteBytes === 24L)
    assert(s.tasks === 5L)
    assert(s.during(Seq((0L, 20L))).stages.size === 2)
    assert(s.during(Seq((100L, 200L))).jobs.isEmpty)
    l.reset()
    assert(l.snapshot().jobs.isEmpty && l.snapshot().stages.isEmpty)
  }
}
