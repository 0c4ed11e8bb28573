package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Per-job counters for the traced run. Each stage is charged to the job
  * whose `SparkListenerJobStart.stageInfos` first lists it — the job that
  * created the stage and therefore ran it (later jobs that reuse its
  * shuffle list it too, but skip it), so AQE's concurrent stage jobs do
  * not need a "most recent job" guess. */
final class Recorder extends SparkListener {
  final class Job(val id: Int, val start: Long, val raster: Boolean) {
    @volatile var end: Long = -1L
    var stages = 0; var tasks = 0
    var cpuNs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
  }

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Job]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    // a stage's details are the call stack of the action that made it; the
    // raster path's actions are in Interp (gridSpec) and RasterSink (the
    // COG write that runs the interpolation). AQE's stage jobs start on a
    // pool thread and carry no caller frames, so this counts the actions.
    val raster = e.stageInfos.exists(s =>
      s.details.contains("graft.operators.Interp") || s.details.contains("graft.plans.RasterSink"))
    val j = new Job(e.jobId, e.time, raster)
    jobs.put(e.jobId, j)
    e.stageInfos.foreach(s => stageJob.putIfAbsent(s.stageId, j))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageJob.get(e.stageInfo.stageId)).foreach(j => j.synchronized(j.stages += 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    Option(stageJob.get(e.stageId)).filter(_ => m != null).foreach { j =>
      j.synchronized {
        j.tasks += 1
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.spill += m.diskBytesSpilled
      }
    }
  }

  /** Delivers every pending event, then removes and returns the jobs that
    * started at or after `sinceMs` (wall-clock ms, the listener's clock). */
  def take(sc: SparkContext, sinceMs: Long): Seq[Job] = {
    org.apache.spark.PerfBenchBus.drain(sc)
    val taken = jobs.values.asScala.filter(_.start >= sinceMs).toSeq.sortBy(_.id)
    taken.foreach(j => jobs.remove(j.id))
    taken
  }
}

object Recorder {
  /** Wall time covered by at least one job, clipped to [from, to] (ms). */
  def covered(js: Seq[Recorder#Job], from: Long, to: Long): Long = {
    val spans = js.map(j => (math.max(j.start, from), math.min(if (j.end < 0) to else j.end, to)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L; var curA = -1L; var curB = -1L
    spans.foreach { case (a, b) =>
      if (a > curB) { total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    total + (curB - curA)
  }
}

/** Counters of one traced iteration, summed over its jobs and fences. */
final case class Layers(wallS: Double, jobs: Int, stages: Int, tasks: Int,
                        coveredS: Double, cpuS: Double, gcS: Double,
                        shuffleWrite: Long, shuffleRead: Long, spill: Long,
                        fenceCuts: Int, fencePlanMs: Long, fenceJobMs: Long, rasterJobs: Int)

object Layers {
  def of(js: Seq[Recorder#Job], fromMs: Long, toMs: Long, wallS: Double,
         fences: FenceTally): Layers =
    Layers(wallS, js.size, js.map(_.stages).sum, js.map(_.tasks).sum,
      Recorder.covered(js, fromMs, toMs) / 1e3,
      js.map(_.cpuNs).sum / 1e9, js.map(_.gcMs).sum / 1e3,
      js.map(_.shuffleWrite).sum, js.map(_.shuffleRead).sum, js.map(_.spill).sum,
      fences.cuts, fences.planMs, fences.jobMs, js.count(_.raster))
}

/** Fence materializations reported through `GraftSqlShim.fenceProbe`. */
final class FenceTally {
  @volatile var cuts = 0
  @volatile var planMs = 0L
  @volatile var jobMs = 0L
  def reset(): Unit = synchronized { cuts = 0; planMs = 0L; jobMs = 0L }
  def install(): Unit =
    org.apache.spark.sql.GraftSqlShim.fenceProbe = (_, plan, job) =>
      synchronized { cuts += 1; planMs += plan; jobMs += job }
  def uninstall(): Unit = org.apache.spark.sql.GraftSqlShim.fenceProbe = null
  def snapshot(): FenceTally = synchronized {
    val c = new FenceTally; c.cuts = cuts; c.planMs = planMs; c.jobMs = jobMs; c
  }
}
