package perfbench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import com.sun.management.GarbageCollectionNotificationInfo

/** One timed op (a pass of the bulk extraction, one commit, one query). */
final case class OpRec(spanId: Long, name: String, startNs: Long, endNs: Long,
    ok: Boolean) {
  def durS: Double = (endNs - startNs) / 1e9
  def group: String = Harness.group(spanId)
}

/** One full pass over a workload's input. */
final case class PassRec(spanId: Long, index: Int, startNs: Long, endNs: Long,
    ops: Seq[OpRec]) {
  def durS: Double = (endNs - startNs) / 1e9
}

/** Shared run state: the session, the benchmark's listener, the span
  * recorder and the clocks that relate listener milliseconds to span
  * nanoseconds.
  */
final class Harness(val spark: SparkSession, val probe: Probe, val tracer: Tracer) {
  private val nanoBase = System.nanoTime()
  private val msBase = System.currentTimeMillis()
  def msToNs(ms: Long): Long = nanoBase + (ms - msBase) * 1000000L

  /** Runs `body` as one op under its own job group. A throw is recorded
    * as a failed op, never as a fast success.
    */
  def op[T](name: String, parent: Long)(body: => T): (OpRec, Option[T]) = {
    val id = tracer.newId()
    val sc = spark.sparkContext
    sc.setJobGroup(Harness.group(id), name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    val out = try Some(body) catch {
      case e: Exception =>
        System.err.println(s"[perfbench] op $name failed: ${e.toString.take(300)}")
        None
    }
    val t1 = System.nanoTime()
    sc.clearJobGroup()
    tracer.record(Span(id, parent, name, "op", t0, t1))
    (OpRec(id, name, t0, t1, out.isDefined), out)
  }

  /** Runs one pass of ops under a pass span. */
  def pass(index: Int, parent: Long)(ops: Long => Seq[OpRec]): PassRec = {
    val id = tracer.newId()
    val t0 = System.nanoTime()
    val rs = ops(id)
    val t1 = System.nanoTime()
    tracer.record(Span(id, parent, s"pass $index", "pass", t0, t1))
    PassRec(id, index, t0, t1, rs)
  }

  /** Time within an op's interval when none of its tasks was running. */
  def driverGapS(op: OpRec): Double = {
    val iv = probe.taskIntervalsMs(op.group).map { case (a, b) => (msToNs(a), msToNs(b)) }
    (op.endNs - op.startNs - Trace.covered(iv, op.startNs, op.endNs)) / 1e9
  }

  /** Adds one span per Spark job of each op, and per-op Spark totals as
    * attributes of the op span (trace runs only).
    */
  def recordJobSpans(ops: Seq[OpRec]): Unit = if (tracer.enabled) {
    probe.drain(spark)
    ops.foreach { o =>
      probe.jobsOf(o.group).foreach { case (j, s, e) =>
        tracer.record(Span(tracer.newId(), o.spanId, s"job $j", "spark_job", msToNs(s), msToNs(e)))
      }
      val st = probe.stats(Set(o.group))
      tracer.annotate(o.spanId, Map(
        "jobs" -> st.jobs.toDouble, "stages" -> st.stages.toDouble, "tasks" -> st.tasks.toDouble,
        "task_cpu_s" -> st.cpuS, "gc_s" -> st.gcS, "task_wait_s" -> st.waitS,
        "driver_gap_s" -> driverGapS(o),
        "shuffle_bytes" -> (st.shuffleRead + st.shuffleWrite).toDouble,
        "spill_bytes" -> st.spill.toDouble, "ok" -> (if (o.ok) 1.0 else 0.0)))
    }
  }

  /** Spark totals per pass, averaged over the given passes. */
  def sparkPerPass(passes: Seq[PassRec]): SparkStats = {
    probe.drain(spark)
    val groups = passes.flatMap(_.ops.map(_.group)).toSet
    probe.stats(groups).scaled(1.0 / math.max(1, passes.size))
  }

  def driverGapPerPass(passes: Seq[PassRec]): Double =
    passes.flatMap(_.ops).map(driverGapS).sum / math.max(1, passes.size)

  /** Median task CPU-s of a pass. */
  def cpuPerPassS(passes: Seq[PassRec]): Double = {
    probe.drain(spark)
    Stats.median(passes.map(p => probe.stats(p.ops.map(_.group).toSet).cpuS))
  }
}

object Harness {
  def group(spanId: Long): String = s"perfbench-op-$spanId"

  /** Peak heap use seen at any garbage collection (the heap is fullest
    * just before one) or now, whichever is larger.
    */
  object Heap {
    @volatile private var peak = 0L
    private lazy val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
    private def used(m: java.util.Map[String, java.lang.management.MemoryUsage]): Long =
      m.asScala.collect { case (k, u) if heapPools(k) => u.getUsed }.sum

    def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case em: NotificationEmitter =>
        em.addNotificationListener(new NotificationListener {
          def handleNotification(n: Notification, h: Any): Unit =
            if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
              val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
              val before = used(info.getGcInfo.getMemoryUsageBeforeGc)
              synchronized { if (before > peak) peak = before }
            }
        }, null, null)
      case _ => ()
    }

    def peakMb: Double = {
      val now = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
      math.max(peak, now) / (1024.0 * 1024.0)
    }
  }
}
