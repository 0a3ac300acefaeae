package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-side layer counters for the traced run, fed by one
  * [[SparkListener]] and one [[QueryExecutionListener]] that are
  * installed only in that run. Events arrive on the listener bus after
  * the fact, so they are summed unconditionally and drained around each
  * traced pass. Task metrics are also summed per scope: the bench sets the local property
  * [[SparkLayer.ScopeKey]] around each corpus query, and every task of
  * a job started under it counts toward that scope. */
final class SparkLayer(clockOffsetNs: Long) extends SparkListener with QueryExecutionListener {
  private val totals = new ConcurrentHashMap[String, java.util.concurrent.atomic.LongAdder]()
  private val stageScope = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()

  private val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Trace.Span]()

  private def add(k: String, v: Long): Unit =
    totals.computeIfAbsent(k, _ => new java.util.concurrent.atomic.LongAdder).add(v)

  private def ns(epochMs: Long): Long = epochMs * 1000000L - clockOffsetNs

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobStart.put(e.jobId, e.time)
    val scope = Option(e.properties).flatMap(p => Option(p.getProperty(SparkLayer.ScopeKey)))
    scope.foreach(s => e.stageIds.foreach(id => stageScope.put(id, s)))
    add("spark.jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { t0 =>
      jobs.add(Trace.Span("spark", "job", -1L, ns(t0), ns(e.time)))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("spark.stages", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (e.taskMetrics != null) {
    val m = e.taskMetrics
    val info = e.taskInfo
    add("spark.tasks", 1)
    add("spark.executor_cpu_ns", m.executorCpuTime)
    add("spark.executor_run_ms", m.executorRunTime)
    add("spark.gc_ms", m.jvmGCTime)
    add("spark.scheduler_delay_ms", math.max(0L, info.duration - m.executorRunTime -
      m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime))
    add("spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
    add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
    add("spark.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
    add("spark.input_rows", m.inputMetrics.recordsRead)
    add("spark.output_bytes", m.outputMetrics.bytesWritten)
    Option(stageScope.get(e.stageId)).foreach(s => add(s"scope.$s.executor_cpu_ns", m.executorCpuTime))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    add("compile.plan_ms", Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(_.durationMs).sum)
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Totals and job spans since the last call, then reset. Waits for
    * the listener bus first, so every event of the pass is in. */
  def drain(spark: SparkSession): (Map[String, Long], Vector[Trace.Span]) = {
    org.apache.spark.PerfbenchBridge.waitForListeners(spark.sparkContext)
    val spans = Vector.newBuilder[Trace.Span]
    var s = jobs.poll()
    while (s != null) { spans += s; s = jobs.poll() }
    (totals.asScala.map { case (k, v) => k -> v.sumThenReset() }.toMap, spans.result())
  }
}

object SparkLayer {
  val ScopeKey = "perfbench.scope"

  def install(spark: SparkSession, clockOffsetNs: Long): SparkLayer = {
    val l = new SparkLayer(clockOffsetNs)
    spark.sparkContext.addSparkListener(l)
    spark.listenerManager.register(l)
    l
  }
}
