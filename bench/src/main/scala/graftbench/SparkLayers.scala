package graftbench

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Per-layer counters for the Spark side of one run, read from Spark's public
  * listener APIs: the scheduler (jobs, stages, tasks), executor task metrics
  * (run, CPU and GC time, skew), shuffle and spill, and per executed query
  * the Catalyst phase times, cache scans and the connector scan metrics.
  *
  * The benchmark tags each operation with the local properties
  * [[SparkLayers.OpKey]] and [[SparkLayers.SpanKey]], so jobs and stages
  * become child spans of the operation's `execute` span. */
final class SparkLayers(tracer: Tracer) extends SparkListener with QueryExecutionListener {
  val jobs, stages, tasks = new AtomicLong
  val taskNs, cpuNs, gcMs, shuffleWrite, shuffleRead, shuffleRecords, fetchWaitMs, spill =
    new AtomicLong
  val analysisMs, optimizationMs, planningMs = new AtomicLong
  val cacheScans, odataPages, odataRows, odataBytes = new AtomicLong
  @volatile var skewRatio = 1.0

  private val jobSpan = mutable.Map[Int, (Long, Long, Long, Long)]() // job -> (span, parent, op, start)
  private val stageJob = mutable.Map[Int, Int]()
  private val stageTaskMs = mutable.Map[(Int, Int), mutable.ArrayBuffer[Long]]()

  private def prop(props: java.util.Properties, k: String): Long =
    Option(props).flatMap(p => Option(p.getProperty(k))).map(_.toLong).getOrElse(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs.incrementAndGet()
    val id = tracer.reserve()
    jobSpan(e.jobId) = (id, prop(e.properties, SparkLayers.SpanKey),
      prop(e.properties, SparkLayers.OpKey), Tracer.fromEpochMs(e.time))
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.get(e.jobId).foreach { case (id, parent, op, start) =>
      tracer.put(Span(id, parent, op, "job", start, Tracer.fromEpochMs(e.time)))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages.incrementAndGet()
    val info = e.stageInfo
    val job = stageJob.get(info.stageId).flatMap(jobSpan.get)
    for (s <- info.submissionTime; c <- info.completionTime)
      tracer.add("stage", job.map(_._1).getOrElse(0L), job.map(_._3).getOrElse(0L),
        Tracer.fromEpochMs(s), Tracer.fromEpochMs(c))
    stageTaskMs.remove((info.stageId, info.attemptNumber())).foreach { ts =>
      if (ts.size >= 2) {
        val med = Stats.median(ts.map(_.toDouble).toSeq)
        if (med > 0) skewRatio = math.max(skewRatio, ts.max / med)
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m == null) return
    taskNs.addAndGet(m.executorRunTime * 1000000L)
    cpuNs.addAndGet(m.executorCpuTime)
    gcMs.addAndGet(m.jvmGCTime)
    shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    shuffleRecords.addAndGet(m.shuffleWriteMetrics.recordsWritten)
    shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
    fetchWaitMs.addAndGet(m.shuffleReadMetrics.fetchWaitTime)
    spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    synchronized {
      stageTaskMs.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer())
        .append(m.executorRunTime)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    addPhases(qe)
    SparkLayers.nodes(qe.executedPlan).foreach {
      case _: InMemoryTableScanExec => cacheScans.incrementAndGet()
      case b: BatchScanExec =>
        def metric(n: String) = b.metrics.get(n).map(_.value).getOrElse(0L)
        odataPages.addAndGet(metric("odataPagesFetched"))
        odataRows.addAndGet(metric("odataRowsFetched"))
        odataBytes.addAndGet(metric("odataBytesFetched"))
      case _ =>
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Catalyst phase times of a query execution (analysis, optimization and
    * physical planning, from `QueryExecution.tracker`). */
  def addPhases(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
    analysisMs.addAndGet(ms("analysis"))
    optimizationMs.addAndGet(ms("optimization"))
    planningMs.addAndGet(ms("planning"))
  }
}

object SparkLayers {
  val OpKey = "graftbench.op"
  val SpanKey = "graftbench.span"

  /** Every node of an executed plan, through adaptive wrappers, query stages
    * and subqueries. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  /** Tags the jobs the current thread submits next. */
  def tag(spark: SparkSession, op: Long, span: Long): Unit = {
    spark.sparkContext.setLocalProperty(OpKey, op.toString)
    spark.sparkContext.setLocalProperty(SpanKey, span.toString)
  }

  /** Waits until the listener bus has delivered every event posted so far. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.BenchAccess.drainListeners(spark.sparkContext)
}
