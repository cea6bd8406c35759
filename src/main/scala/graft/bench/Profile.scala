package graft.bench

import scala.collection.mutable
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, GraftExprBridge, SparkSession}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
  SparkListenerSQLExecutionStart}
import graft.SparkEntry

/** Spark profile of registered queries: wall time, jobs, stages, then
  * per stage and in total tasks, task CPU, GC, shuffle, spill and peak
  * execution memory, then the final plans.
  *
  *   sbt "runMain graft.bench.Profile <sfDir> [query ...]"
  *
  * No query names means every SparkEntry query. Each query gets one warm
  * run and three timed runs; the fastest is reported. A run builds the
  * query and drains every column with collect() on the query's own
  * QueryExecution (count() would plan a new, column-pruned query).
  *
  * The plans are the formatted final plans (isFinalPlan=true under AQE)
  * of every SQL execution the run started, the drain's last, so a query
  * that materializes a result while it is built (localCheckpoint) shows
  * the plan that did the work, not only the scan of the result.
  */
object Profile {

  /** Task totals of one stage, or of a whole run; peakMem is the
    * largest peak execution memory of any one task.
    */
  final case class Stage(id: Int, name: String = "", tasks: Int = 0,
      runMs: Long = 0, cpuNs: Long = 0, gcMs: Long = 0, shuffleRead: Long = 0,
      shuffleWrite: Long = 0, spill: Long = 0, peakMem: Long = 0) {
    def +(o: Stage): Stage = copy(tasks = tasks + o.tasks, runMs = runMs + o.runMs,
      cpuNs = cpuNs + o.cpuNs, gcMs = gcMs + o.gcMs,
      shuffleRead = shuffleRead + o.shuffleRead, shuffleWrite = shuffleWrite + o.shuffleWrite,
      spill = spill + o.spill, peakMem = math.max(peakMem, o.peakMem))
  }

  private def task(id: Int, m: TaskMetrics): Stage =
    if (m == null) Stage(id, tasks = 1)
    else Stage(id, "", 1, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.peakExecutionMemory)

  /** One run of a query. `stages` holds every stage that ran a task and
    * `plans` the (description, final plan) of every SQL execution.
    */
  final case class Run(query: String, rows: Long, seconds: Double, jobs: Int,
      stages: Seq[Stage], plans: Seq[(String, String)]) {
    def total: Stage = stages.foldLeft(Stage(-1))(_ + _)
  }

  /** Jobs, per-stage task metrics and plans of one run. */
  private final class Listener extends SparkListener {
    private var jobs = 0
    private val stages = mutable.Map.empty[Int, Stage]
    private val plans = mutable.LinkedHashMap.empty[Long, (String, String)]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      val id = e.stageInfo.stageId
      stages(id) = stages.getOrElse(id, Stage(id)).copy(name = e.stageInfo.name.takeWhile(_ != '\n'))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stages(e.stageId) = stages.getOrElse(e.stageId, Stage(e.stageId)) + task(e.stageId, e.taskMetrics)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart =>
          plans(s.executionId) = (s.description, s.physicalPlanDescription)
        case u: SparkListenerSQLAdaptiveExecutionUpdate if plans.contains(u.executionId) =>
          plans(u.executionId) = (plans(u.executionId)._1, u.physicalPlanDescription)
        case _ =>
      }
    }

    def run(query: String, rows: Long, seconds: Double): Run = synchronized {
      Run(query, rows, seconds, jobs,
        stages.values.filter(_.tasks > 0).toSeq.sortBy(_.id), plans.values.toSeq)
    }
  }

  private def query(name: String): (SparkSession, String) => DataFrame =
    SparkEntry.queries.getOrElse(name, throw new IllegalArgumentException(
      s"unknown query '$name'; registered queries: " +
        SparkEntry.queries.keys.toSeq.sorted.mkString(", ")))

  /** Runs `block` once, timed, and returns its Run under `label`;
    * `block` returns the number of rows it drained. The Run holds the
    * jobs, stages and final plans of every SQL execution the block
    * started. The listener bus is drained before the listener is added
    * (no event of earlier work reaches it) and before it is read (every
    * event of the block's jobs has reached it).
    */
  def run(spark: SparkSession, label: String)(block: => Long): Run = {
    val sc = spark.sparkContext
    GraftExprBridge.drainListenerBus(sc)
    val listener = new Listener
    sc.addSparkListener(listener)
    try {
      val t0 = System.nanoTime()
      val rows = block
      val seconds = (System.nanoTime() - t0) / 1e9
      GraftExprBridge.drainListenerBus(sc)
      listener.run(label, rows, seconds)
    } finally sc.removeSparkListener(listener)
  }

  /** One warm run of `name`, then the fastest of three timed runs. */
  def profile(spark: SparkSession, sfDir: String, name: String): Run = {
    val fn = query(name)
    def once(): Run = run(spark, name)(fn(spark, sfDir).collect().length.toLong)
    once()
    Seq.fill(3)(once()).minBy(_.seconds)
  }

  /** The run's totals, one row per stage, then the plans. */
  def report(r: Run): String = {
    def mb(b: Long) = f"${b / 1e6}%.1f"
    def row(label: String, s: Stage) =
      f"$label%6s ${s.tasks}%6d ${s.runMs / 1e3}%7.2f ${s.cpuNs / 1e9}%7.2f " +
        f"${s.gcMs / 1e3}%6.2f ${mb(s.shuffleRead)}%8s ${mb(s.shuffleWrite)}%8s " +
        f"${mb(s.spill)}%8s ${mb(s.peakMem)}%8s  ${s.name.take(60)}"
    val head = f"== ${r.query}: ${r.seconds}%.3f s, ${r.rows} rows, ${r.jobs} jobs, " +
      s"${r.stages.size} stages\n" + f"${"stage"}%6s ${"tasks"}%6s ${"run_s"}%7s " +
      f"${"cpu_s"}%7s ${"gc_s"}%6s ${"shR_MB"}%8s ${"shW_MB"}%8s ${"spill_MB"}%8s " +
      f"${"peak_MB"}%8s  name"
    val stages = r.stages.map(s => row(s.id.toString, s)) :+ row("total", r.total)
    val plans = r.plans.map { case (desc, plan) => s"-- plan of $desc\n$plan" }
    (head +: (stages ++ plans)).mkString("\n")
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Profile <sfDir> [query ...]")
    val sfDir = args(0)
    require(new java.io.File(sfDir).isDirectory, s"not a directory: $sfDir")
    val names =
      if (args.length > 1) args.toSeq.tail else SparkEntry.queries.keys.toSeq.sorted
    names.foreach(query) // fail on a bad name before the session starts
    val spark = graft.Bench.session(Runtime.getRuntime.availableProcessors)
    try names.foreach(n => println(report(profile(spark, sfDir, n))))
    finally spark.stop()
  }
}
