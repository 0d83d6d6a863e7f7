package perfbench

import org.apache.spark.scheduler._

import scala.collection.mutable.ArrayBuffer

/** Spark job, stage and task accounting for the benchmark.
  *
  * Installed through `spark.extraListeners`, so every SparkContext of the
  * process reports here, including the ones `CandyRun.main` creates and
  * stops on its own. All instances write into the companion object; the
  * listener bus calls them from one thread, readers take [[snapshot]].
  */
class Probe extends SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit = Probe.synchronized {
    Probe.jobs += Probe.Job(e.jobId, e.time, -1L)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = Probe.synchronized {
    val i = Probe.jobs.lastIndexWhere(_.id == e.jobId)
    if (i >= 0) Probe.jobs(i) = Probe.jobs(i).copy(endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Probe.synchronized {
    val s = e.stageInfo
    Probe.stages += Probe.Stage(
      s.stageId, s.completionTime.getOrElse(System.currentTimeMillis()),
      Probe.maxTaskMs.remove(s.stageId).getOrElse(0L))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Probe.synchronized {
    Probe.tasks += 1
    Probe.maxTaskMs(e.stageId) =
      math.max(Probe.maxTaskMs.getOrElse(e.stageId, 0L), e.taskInfo.duration)
    Option(e.taskMetrics).foreach { m =>
      Probe.cpuNs += m.executorCpuTime
      Probe.gcMs += m.jvmGCTime
      Probe.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      Probe.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      Probe.spillBytes += m.diskBytesSpilled
    }
  }
}

object Probe {
  final case class Job(id: Int, startMs: Long, endMs: Long)
  /** A completed stage: its id, completion time and slowest task. */
  final case class Stage(id: Int, endMs: Long, maxTaskMs: Long)

  /** Cumulative counters since process start; subtract two snapshots to
    * get one operation's share.
    */
  final case class Totals(
      jobs: Int, stages: Int, tasks: Long, cpuNs: Long, gcMs: Long,
      shuffleWriteBytes: Long, shuffleReadBytes: Long, spillBytes: Long) {
    def -(o: Totals): Totals = Totals(
      jobs - o.jobs, stages - o.stages, tasks - o.tasks, cpuNs - o.cpuNs,
      gcMs - o.gcMs, shuffleWriteBytes - o.shuffleWriteBytes,
      shuffleReadBytes - o.shuffleReadBytes, spillBytes - o.spillBytes)
  }

  private val jobs = ArrayBuffer.empty[Job]
  private val stages = ArrayBuffer.empty[Stage]
  private val maxTaskMs = scala.collection.mutable.Map.empty[Int, Long]
  private var tasks = 0L
  private var cpuNs = 0L
  private var gcMs = 0L
  private var shuffleWriteBytes = 0L
  private var shuffleReadBytes = 0L
  private var spillBytes = 0L

  def snapshot: Totals = synchronized {
    Totals(jobs.size, stages.size, tasks, cpuNs, gcMs,
      shuffleWriteBytes, shuffleReadBytes, spillBytes)
  }

  /** Jobs that started inside [fromMs, toMs]; a job still running at
    * `toMs` is cut off there.
    */
  def jobsIn(fromMs: Long, toMs: Long): Seq[Job] = synchronized {
    jobs.filter(j => j.startMs >= fromMs && j.startMs <= toMs)
      .map(j => if (j.endMs < 0 || j.endMs > toMs) j.copy(endMs = toMs) else j)
      .toSeq
  }

  def stagesIn(fromMs: Long, toMs: Long): Seq[Stage] = synchronized {
    stages.filter(s => s.endMs >= fromMs && s.endMs <= toMs).toSeq
  }

  /** Milliseconds of [fromMs, toMs] during which no job was running. */
  def idleMs(fromMs: Long, toMs: Long): Long = {
    var busy = 0L
    var reach = fromMs
    for (j <- jobsIn(fromMs, toMs).sortBy(_.startMs)) {
      val s = math.max(j.startMs, reach)
      if (j.endMs > s) { busy += j.endMs - s; reach = j.endMs }
    }
    math.max(0L, toMs - fromMs - busy)
  }
}
