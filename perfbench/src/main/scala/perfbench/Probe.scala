package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{
  SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One finished Spark job with the span it belongs to. */
final case class JobRec(jobId: Int, startMs: Double, endMs: Double,
    span: Option[String], group: Option[String], streamQuery: Option[String])

/** The traced run's view of the `catalyst`, `exec` and `operators`
  * layers, measured from outside the library:
  *   - a SparkListener counts jobs, stages and tasks, per-stage
  *     scheduling delay (submission to first task launch), task run
  *     time, shuffle and spill bytes and failed tasks, and keeps every
  *     job with the span it ran under (local property [[SpanKey]], the
  *     job group, or the streaming query id);
  *   - SQL executions whose call site is `ArtifactStore` are the
  *     artifact builds;
  *   - a QueryExecutionListener sums Catalyst's own phase timings
  *     (analysis, optimization, planning) of every executed action.
  */
final class Probe(spark: SparkSession) extends SparkListener {
  import Probe._

  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val failedTasks = new AtomicLong
  val taskRunMs = new AtomicLong
  val shuffleRead = new AtomicLong
  val shuffleWrite = new AtomicLong
  val spill = new AtomicLong
  val schedDelayMs = new AtomicLong
  val analyzeMs = new DoubleAdder
  val optimizeMs = new DoubleAdder
  val planMs = new DoubleAdder

  private val jobStart = new ConcurrentHashMap[Int, JobRec]()
  private val doneJobs = new java.util.concurrent.ConcurrentLinkedQueue[JobRec]()
  private val firstLaunch = new ConcurrentHashMap[Int, java.lang.Long]()
  private val buildStart = new ConcurrentHashMap[Long, java.lang.Long]()
  private val builds = new java.util.concurrent.ConcurrentLinkedQueue[(Double, Double)]()

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
  }

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String) = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
    analyzeMs.add(ms("analysis"))
    optimizeMs.add(ms("optimization"))
    planMs.add(ms("planning"))
  }

  def start(): Probe = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(qeListener)
    this
  }

  def stop(): Unit = {
    drain()
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(this)
  }

  def drain(): Unit = BenchBridge.drainListeners(spark.sparkContext)

  def finishedJobs: Seq[JobRec] = doneJobs.asScala.toSeq

  /** Artifact builds as (start, end) Clock milliseconds. */
  def artifactBuilds: Seq[(Double, Double)] = builds.asScala.toSeq

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    jobStart.put(e.jobId, JobRec(e.jobId, e.time.toDouble, 0.0,
      prop(SpanKey), prop("spark.jobGroup.id"), prop("sql.streaming.queryId")))
    ()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { r =>
      doneJobs.add(r.copy(endMs = e.time.toDouble)); ()
    }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = {
    firstLaunch.merge(e.stageId, e.taskInfo.launchTime,
      (a: java.lang.Long, b: java.lang.Long) => math.min(a, b))
    ()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet()
    val info = e.stageInfo
    for {
      sub <- info.submissionTime
      first <- Option(firstLaunch.remove(info.stageId))
    } schedDelayMs.addAndGet(math.max(0L, first - sub))
    ()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    if (e.reason != org.apache.spark.Success) failedTasks.incrementAndGet()
    Option(e.taskMetrics).foreach { m =>
      taskRunMs.addAndGet(m.executorRunTime)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
    ()
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart
        if s.details.contains(ArtifactSite) =>
      buildStart.put(s.executionId, s.time); ()
    case x: SparkListenerSQLExecutionEnd =>
      Option(buildStart.remove(x.executionId)).foreach { t0 =>
        builds.add((t0.toDouble, x.time.toDouble)); ()
      }
    case _ => ()
  }

  /** The exec and catalyst per-layer metrics every workload reports. */
  def layerMetrics(): Map[String, Metric] = {
    drain()
    val jobsRun = finishedJobs
    Map(
      "exec.jobs" -> Metric(jobs.get.toDouble, "count"),
      "exec.stages" -> Metric(stages.get.toDouble, "count"),
      "exec.tasks" -> Metric(tasks.get.toDouble, "count"),
      "exec.failed_tasks" -> Metric(failedTasks.get.toDouble, "count"),
      "exec.run_s" -> Metric(jobsRun.map(j => j.endMs - j.startMs).sum / 1e3, "s"),
      "exec.sched_delay_s" -> Metric(schedDelayMs.get / 1e3, "s"),
      "exec.task_run_s" -> Metric(taskRunMs.get / 1e3, "s"),
      "exec.shuffle_read_bytes" -> Metric(shuffleRead.get.toDouble, "bytes"),
      "exec.shuffle_write_bytes" -> Metric(shuffleWrite.get.toDouble, "bytes"),
      "exec.spill_bytes" -> Metric(spill.get.toDouble, "bytes"),
      "catalyst.analyze_s" -> Metric(analyzeMs.sum / 1e3, "s"),
      "catalyst.optimize_s" -> Metric(optimizeMs.sum / 1e3, "s"),
      "catalyst.plan_s" -> Metric(planMs.sum / 1e3, "s"),
      "operators.artifact_builds" -> Metric(artifactBuilds.size.toDouble, "count"),
      "operators.artifact_build_s" -> Metric(
        artifactBuilds.map { case (s, e) => e - s }.sum / 1e3, "s"))
  }
}

object Probe {
  /** Local property naming the span a job runs under. */
  val SpanKey = "perfbench.span"
  /** Call-site fragment of an artifact build's SQL execution. */
  val ArtifactSite = "graft.operators.ArtifactStore"
}
