package perfbench

import scala.collection.mutable
import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler._

final case class TaskRec(group: String, stage: Int, launchMs: Long, finishMs: Long,
    waitMs: Long, cpuNs: Long, runMs: Long, gcMs: Long, shuffleRead: Long,
    shuffleWrite: Long, spill: Long, input: Long, inputRecords: Long, output: Long,
    peakMem: Long, failed: Boolean)

/** Totals of the Spark work done on behalf of a set of ops. */
final case class SparkStats(jobs: Int, stages: Int, tasks: Int, failedTasks: Int,
    cpuS: Double, runS: Double, gcS: Double, waitS: Double, shuffleRead: Long,
    shuffleWrite: Long, spill: Long, input: Long, inputRecords: Long, output: Long,
    peakMem: Long) {
  def metrics(prefix: String): Seq[(String, Double, String)] = Seq(
    (s"$prefix.jobs", jobs.toDouble, "count"),
    (s"$prefix.stages", stages.toDouble, "count"),
    (s"$prefix.tasks", tasks.toDouble, "count"),
    (s"$prefix.failed_tasks", failedTasks.toDouble, "count"),
    (s"$prefix.task_cpu_s", cpuS, "s"),
    (s"$prefix.task_run_s", runS, "s"),
    (s"$prefix.gc_s", gcS, "s"),
    (s"$prefix.task_wait_s", waitS, "s"),
    (s"$prefix.shuffle_read_bytes", shuffleRead.toDouble, "bytes"),
    (s"$prefix.shuffle_write_bytes", shuffleWrite.toDouble, "bytes"),
    (s"$prefix.spill_bytes", spill.toDouble, "bytes"),
    (s"$prefix.input_bytes", input.toDouble, "bytes"),
    (s"$prefix.output_bytes", output.toDouble, "bytes"),
    (s"$prefix.peak_exec_mem_bytes", peakMem.toDouble, "bytes"))

  def scaled(k: Double): SparkStats = copy(
    jobs = math.round(jobs * k).toInt, stages = math.round(stages * k).toInt,
    tasks = math.round(tasks * k).toInt, failedTasks = math.round(failedTasks * k).toInt,
    cpuS = cpuS * k, runS = runS * k, gcS = gcS * k, waitS = waitS * k,
    shuffleRead = math.round(shuffleRead * k), shuffleWrite = math.round(shuffleWrite * k),
    spill = math.round(spill * k), input = math.round(input * k),
    inputRecords = math.round(inputRecords * k),
    output = math.round(output * k))
}

/** The benchmark's own Spark listener. Each op runs under a job group
  * named after its span id; the listener files every job and task
  * under that group, so an op's Spark work is read back by group.
  */
final class Probe extends SparkListener {
  private val jobGroup = mutable.Map.empty[Int, String]
  private val jobTimes = mutable.Map.empty[Int, (Long, Long)]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageSubmit = mutable.Map.empty[Int, Long]
  private val tasks = mutable.ArrayBuffer.empty[TaskRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    jobGroup(e.jobId) = g
    jobTimes(e.jobId) = (e.time, e.time)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobTimes.get(e.jobId).foreach { case (s, _) => jobTimes(e.jobId) = (s, e.time) }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    e.stageInfo.submissionTime.foreach(t => stageSubmit(e.stageInfo.stageId) = t)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val g = stageJob.get(e.stageId).flatMap(jobGroup.get).getOrElse("")
    val info = e.taskInfo
    val m = e.taskMetrics
    val wait = stageSubmit.get(e.stageId).map(s => math.max(0L, info.launchTime - s)).getOrElse(0L)
    tasks += (if (m == null)
      TaskRec(g, e.stageId, info.launchTime, info.finishTime, wait, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
        info.failed)
    else
      TaskRec(g, e.stageId, info.launchTime, info.finishTime, wait, m.executorCpuTime,
        m.executorRunTime, m.jvmGCTime, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead, m.outputMetrics.bytesWritten,
        m.peakExecutionMemory, info.failed))
  }

  /** Waits until the listener has seen every event posted so far. */
  def drain(spark: SparkSession): Unit = PerfbenchBridge.drainListenerBus(spark.sparkContext)

  def stats(groups: Set[String]): SparkStats = synchronized {
    val ts = tasks.filter(t => groups.contains(t.group))
    val jobs = jobGroup.count { case (_, g) => groups.contains(g) }
    SparkStats(jobs, ts.map(_.stage).distinct.size, ts.size, ts.count(_.failed),
      ts.map(_.cpuNs).sum / 1e9, ts.map(_.runMs).sum / 1e3, ts.map(_.gcMs).sum / 1e3,
      ts.map(_.waitMs).sum / 1e3, ts.map(_.shuffleRead).sum, ts.map(_.shuffleWrite).sum,
      ts.map(_.spill).sum, ts.map(_.input).sum, ts.map(_.inputRecords).sum, ts.map(_.output).sum,
      if (ts.isEmpty) 0L else ts.map(_.peakMem).max)
  }

  /** Task run intervals of one group, in epoch milliseconds. */
  def taskIntervalsMs(group: String): Seq[(Long, Long)] = synchronized {
    tasks.filter(_.group == group).map(t => (t.launchMs, t.finishMs)).toList
  }

  /** (job id, start ms, end ms) of every job of one group. */
  def jobsOf(group: String): Seq[(Int, Long, Long)] = synchronized {
    jobGroup.collect { case (j, g) if g == group =>
      val (s, e) = jobTimes(j); (j, s, e)
    }.toSeq.sortBy(_._1)
  }
}
