package perfbench

import scala.collection.mutable

import org.apache.spark.BenchAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-op engine counters for the traced run, gathered by a
  * SparkListener and a QueryExecutionListener registered from the
  * benchmark. The listener bus is drained after each op, so every
  * event lands on the op that caused it. */
final class Tracer private (spark: SparkSession)
    extends SparkListener with QueryExecutionListener with AdaptiveSparkPlanHelper {
  import Tracer.Stats

  @volatile private var cur: Stats = null
  private val jobStarts = mutable.Map[Int, Long]()

  def around(op: Harness.Op)(body: => Unit): Unit = {
    val s = new Stats
    cur = s
    s.startMs = System.currentTimeMillis()
    try body
    finally {
      s.endMs = System.currentTimeMillis()
      BenchAccess.drainListenerBus(spark.sparkContext)
      cur = null
      op.stats = s
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val s = cur
    if (s != null) { s.jobs += 1; jobStarts(e.jobId) = e.time }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val s = cur
    jobStarts.remove(e.jobId).foreach(t => if (s != null) s.jobIntervals += ((t, e.time)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = cur
    val m = e.taskMetrics
    if (s != null && m != null) {
      s.taskCpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val s = cur
    if (s != null) {
      val phases = qe.tracker.phases
      s.planningMs += Seq("optimization", "planning").flatMap(phases.get).map(_.durationMs).sum
      s.cacheRowsScanned += collectWithSubqueries(qe.executedPlan) {
        case scan: InMemoryTableScanExec =>
          scan.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      }.sum
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Tracer {
  final class Stats {
    var startMs = 0L
    var endMs = 0L
    var jobs = 0
    val jobIntervals = mutable.ArrayBuffer[(Long, Long)]()
    var planningMs = 0L
    var cacheRowsScanned = 0L
    var taskCpuNs = 0L
    var gcMs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L

    /** Op wall time not covered by any job: driver-side work. */
    def driverGapMs: Long = {
      var covered = 0L
      var end = Long.MinValue
      for ((s, e) <- jobIntervals.sortBy(_._1)) {
        val from = math.max(s, end)
        if (e > from) covered += e - from
        end = math.max(end, e)
      }
      (endMs - startMs) - covered
    }

    def json: Json.Obj = Json.Obj(Seq(
      "jobs" -> jobs, "planning_ms" -> planningMs, "driver_gap_ms" -> driverGapMs,
      "cache_rows_scanned" -> cacheRowsScanned, "task_cpu_ms" -> taskCpuNs / 1e6,
      "gc_ms" -> gcMs, "shuffle_bytes" -> shuffleBytes, "spill_bytes" -> spillBytes))
  }

  def install(spark: SparkSession): Tracer = {
    val t = new Tracer(spark)
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(t)
    t
  }
}
