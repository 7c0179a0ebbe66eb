package graft

import org.apache.spark.Success
import org.apache.spark.graftmetrics.TaskMetricsFixture
import org.apache.spark.scheduler._
import org.scalatest.funsuite.AnyFunSuite

import graft.tools.Probe

/** The build timeline of `graft.tools.Probe`, fed synthetic listener events:
  * tasks are credited to the job whose stage they ran, and the gap, in-job,
  * idle and tail totals decompose the window.
  */
class ProbeSpec extends AnyFunSuite {

  private def stage(id: Int): StageInfo =
    new StageInfo(id, 0, s"stage $id", 1, Seq.empty, Seq.empty, "", null,
      Seq.empty, None, 0, false, 0)

  private def taskEnd(stageId: Int, launch: Long, finish: Long, runMs: Long): SparkListenerTaskEnd = {
    val info = new TaskInfo(0L, 0, 0, 0, launch, "driver", "localhost",
      TaskLocality.PROCESS_LOCAL, false)
    info.finishTime = finish
    SparkListenerTaskEnd(stageId, 0, "ResultTask", Success, info, null,
      TaskMetricsFixture.withRunTime(runMs))
  }

  test("overlapping jobs keep their own tasks; gaps + in-job + tail = total") {
    val rec = new Probe.JobRecorder
    // Job 0 (stage 0) runs 1000-3000 ms, job 1 (stage 1) 2000-4000 ms; one
    // task of job 0 ends at 2600, after job 1 has started. Window 500-4500.
    // Each task's run time is its launch-to-finish span less 100 ms.
    rec.onJobStart(SparkListenerJobStart(0, 1000L, Seq(stage(0))))
    rec.onTaskEnd(taskEnd(0, 1000L, 1800L, 700L))
    rec.onJobStart(SparkListenerJobStart(1, 2000L, Seq(stage(1))))
    rec.onTaskEnd(taskEnd(0, 1000L, 2600L, 1500L))
    rec.onJobEnd(SparkListenerJobEnd(0, 3000L, JobSucceeded))
    rec.onTaskEnd(taskEnd(1, 2000L, 3000L, 900L))
    rec.onTaskEnd(taskEnd(1, 3000L, 3500L, 400L))
    rec.onTaskEnd(taskEnd(1, 2100L, 3900L, 1700L))
    rec.onJobEnd(SparkListenerJobEnd(1, 4000L, JobSucceeded))
    val (jobs, tasks) = rec.spans
    val t = Probe.timeline(500L, 4500L, 2, jobs, tasks)

    assert(t.jobs.map(r => r.job.id -> r.tasks) == Seq(0 -> 2, 1 -> 3))
    val Seq(j0, j1) = t.jobs
    // Job 0: durations 800, 1600; run 2200 ms over 2000 ms × 2 slots; last
    // task ends at 2600.
    assert((j0.gapMs, j0.p50, j0.p95, j0.max, j0.tailMs) == (500L, 1600L, 1600L, 1600L, 400L))
    assert(math.abs(j0.occupancy - 0.55) < 1e-9)
    // Job 1: durations 1000, 500, 1800, run 3000 ms; it starts inside job
    // 0, so no gap.
    assert((j1.gapMs, j1.p50, j1.p95, j1.max, j1.tailMs) == (0L, 1000L, 1800L, 1800L, 100L))
    assert(math.abs(j1.occupancy - 0.75) < 1e-9)
    // Jobs cover 1000-4000; 5200 ms of run time on 2 slots leaves 400 ms.
    assert((t.gapsMs, t.inJobMs, t.endTailMs, t.totalMs) == (500L, 3000L, 500L, 4000L))
    assert(t.gapsMs + t.inJobMs + t.endTailMs == t.totalMs)
    assert(math.abs(t.idleMs - 400.0) < 1e-9)
  }
}
