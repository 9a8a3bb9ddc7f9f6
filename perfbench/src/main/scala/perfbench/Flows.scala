package perfbench

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.concurrent.Await
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import scala.util.Try

import graft.flow._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, pmod}
import org.apache.spark.util.LongAccumulator
import org.json4s._

/** The `flows` workload: [[Submitters]] closed-loop threads each submit
  * a distribot-shaped flow through `Engine.submit` and wait on its
  * future, with the event log, journal and control markers live. The
  * first flow of each submitter is the cold wave; the measured window is
  * `--seconds` after it.
  *
  * Flow shape: pending → parallel (a driver-side fan-out handler beside
  * a QueryHandler over a light key) → fanout (tasks enumerated from a
  * Dataset of `orders` keys) → writing (a MaterializeHandler writing a
  * `{flow_id}` path) → finished (a one-task Completer). The seed fixes
  * every flow's task counts and which flows are paused and resumed.
  */
final class Flows(a: Args) extends Workload {
  import Flows._

  private var engine: Engine = _
  private var outDir: String = _
  private var processed: LongAccumulator = _
  private var orderKeys: Array[Long] = Array.empty
  // (flow id, start, end) of each QueryHandler frame construction
  private val constructs = new ConcurrentLinkedQueue[(String, Double, Double)]()

  def setup(spark: SparkSession, rep: Int): Unit = {
    val dir = s"${a.workDir}/flows-$rep"
    outDir = s"$dir/out"
    processed = spark.sparkContext.longAccumulator("perfbench.processed")
    val registry = new HandlerRegistry
    val v1 = SemVer(1, 0, 0)
    registry.register(new DriverFanout("DriverFanout", processed,
      ctx => dataInt(ctx, "tasks")))
    registry.register(new DriverFanout("Completer", processed, _ => 1))
    registry.register(new DatasetFanout(processed))
    registry.register(new QueryHandler("LightQuery", v1, timedQuery))
    registry.register(new MaterializeHandler("Writer", v1,
      (s: SparkSession, d: String) => graft.SparkEntry.queries(WriteKey)(s, d),
      s"$outDir/{flow_id}"))
    engine = new Engine(spark, registry, EngineConfig(sfDir = a.dataDir,
      eventLogDir = Some(s"$dir/eventlog")))
    orderKeys = graft.Tables(spark, a.dataDir, "orders")
      .select(col("o_orderkey")).collect().map(_.getLong(0))
  }

  private def timedQuery(s: SparkSession, d: String): DataFrame = {
    val t0 = Clock.nowMs()
    val df = graft.SparkEntry.queries(QueryKey)(s, d)
    val group = Option(s.sparkContext.getLocalProperty("spark.jobGroup.id"))
    constructs.add((group.getOrElse(""), t0, Clock.nowMs()))
    df
  }

  private final case class Params(tasks: Int, mod: Int, pause: Boolean)

  private def params(i: Int): Params = {
    val r = new scala.util.Random(a.seed * 1000003L + i)
    Params(tasks = 8 + r.nextInt(25), mod = 400 + r.nextInt(800),
      pause = Math.floorMod(i + a.seed, PauseEvery.toLong) == 0)
  }

  private final case class Rec(i: Int, p: Params, run: FlowRun,
      submitMs: Double, submittedMs: Double, doneMs: Double,
      pauseAckMs: Option[Double], ok: Boolean)

  def run(spark: SparkSession, probe: Option[Probe]): Outcome = {
    val next = new AtomicInteger(0)
    val recs = new ConcurrentLinkedQueue[Rec]()
    val startMs = Clock.nowMs()
    // the measured window is --seconds after the first (cold) wave
    val firstWaveLeft = new java.util.concurrent.CountDownLatch(Submitters)
    @volatile var deadline = Double.MaxValue
    val threads = (0 until Submitters).map { _ =>
      val th = new Thread(() => {
        while (Clock.nowMs() < deadline) {
          val i = next.getAndIncrement()
          recs.add(submitOne(i, params(i)))
          if (i < Submitters) {
            firstWaveLeft.countDown()
            if (firstWaveLeft.getCount == 0) deadline = Clock.nowMs() + a.seconds * 1e3
          }
        }
      })
      th.start()
      th
    }
    threads.foreach(_.join())
    val all = recs.asScala.toSeq.sortBy(_.i)

    // output checks
    var failed = all.count(!_.ok).toLong
    val logged = Try(engine.transitionLog().select(col("flowId")).distinct()
      .collect().map(_.getString(0)).toSet).getOrElse(Set.empty[String])
    val unlogged = all.count(r => r.ok && !logged.contains(r.run.id))
    if (unlogged > 0) System.err.println(
      s"[perfbench] $unlogged finished flows missing from transitionLog()")
    failed += unlogged
    val wantTasks = all.map(r => r.p.tasks.toLong + datasetTasks(r.p.mod) + 1L).sum
    if (processed.value != wantTasks) {
      System.err.println(s"[perfbench] handler progress: processed " +
        s"${processed.value} tasks, enumerated $wantTasks")
      failed += 1
    }

    // the first flow of each submitter runs cold (cold_s); throughput
    // and latency are taken over the flows after it
    val endMs = all.map(_.doneMs).max
    val firstWave = all.filter(_.i < Submitters)
    val warmFrom = firstWave.map(_.doneMs).max
    val timed = all.filter(r => r.i >= Submitters && !r.p.pause)
      .map(r => (r.doneMs - r.submitMs) / 1e3)
    val e2e = Map(
      "cold_s" -> Metric((warmFrom - startMs) / 1e3, "s"),
      "ops_per_s" -> Metric(all.count(_.doneMs > warmFrom) /
        ((endMs - warmFrom) / 1e3), "1/s"),
      "latency_p50_s" -> Metric(Stats.quantile(timed, 0.5), "s"),
      "latency_p90_s" -> Metric(Stats.quantile(timed, 0.9), "s"))

    val perLayer = probe match {
      case Some(p) =>
        p.drain()
        val sp = new Spans
        val jobsByFlow = p.finishedJobs.groupBy(_.group.getOrElse(""))
        val builds = p.artifactBuilds
        val constructsByFlow = constructs.asScala.toSeq.groupBy(_._1)
        val overheads = mutable.ArrayBuffer.empty[Double]
        val tails = mutable.ArrayBuffer.empty[Double]
        all.foreach { r =>
          val flowSpan = sp.add(0L, 0L, s"flow ${r.i}", "flow", r.submitMs, r.doneMs)
          val jobs = jobsByFlow.getOrElse(r.run.id, Nil)
          val ts = r.run.transitions
          val bounds = ts.map(_.timestampMs.toDouble) :+ r.doneMs
          var overhead = 0.0
          ts.zip(bounds.zip(bounds.tail)).foreach { case (t, (s, e)) =>
            val phase = sp.add(flowSpan, flowSpan, t.to, "flow", s, e)
            val inPhase = jobs.filter(j => j.startMs >= s && j.startMs < e)
            inPhase.foreach(j => sp.add(phase, flowSpan, s"job ${j.jobId}",
              "exec", j.startMs, j.endMs))
            constructsByFlow.getOrElse(r.run.id, Nil)
              .filter { case (_, cs, _) => cs >= s && cs < e }
              .foreach { case (_, cs, ce) =>
                val c = sp.add(phase, flowSpan, "construct", "queries", cs, ce)
                builds.filter { case (bs, be) => bs >= cs && be <= ce + 1.0 }
                  .foreach { case (bs, be) =>
                    sp.add(c, flowSpan, "artifact build", "operators", bs, be)
                  }
              }
            overhead += (e - s) -
              Stats.unionMs(inPhase.map(j => (j.startMs, j.endMs)))
          }
          overheads += overhead / 1e3
          if (jobs.nonEmpty) tails += (r.doneMs - jobs.map(_.endMs).max) / 1e3
        }
        sp.write(new File(a.traceDir, s"flows-seed${a.seed}.jsonl"))
        val windowS = (endMs - startMs) / 1e3
        p.layerMetrics() ++ Workloads.selfTimes(sp) ++ Workloads.noStream ++
          Map(
            "queries.construct_s" -> Metric(
              constructs.asScala.map { case (_, s, e) => e - s }.sum / 1e3, "s"),
            "operators.warm_artifact_builds" -> Metric(
              builds.count(_._1 > warmFrom).toDouble, "count"),
            "flow.submit_s" -> Metric(
              Stats.mean(all.map(r => (r.submittedMs - r.submitMs) / 1e3)), "s"),
            "flow.phase_overhead_s" -> Metric(Stats.mean(overheads.toSeq), "s"),
            "flow.finish_tail_s" -> Metric(Stats.mean(tails.toSeq), "s"),
            "flow.pause_ack_s" -> Metric(
              Stats.mean(all.flatMap(_.pauseAckMs).map(_ / 1e3)), "s"),
            "flow.tasks_per_s" -> Metric(processed.value / windowS, "1/s"),
            "trace.latency_p50_s" -> e2e("latency_p50_s"),
            "trace.ops_per_s" -> e2e("ops_per_s"))
      case None => Map.empty[String, Metric]
    }
    Outcome(all.size.toLong, failed, e2e, perLayer, timed.size)
  }

  private def datasetTasks(mod: Int): Long =
    orderKeys.count(k => Math.floorMod(k, mod.toLong) == 0).toLong

  private def submitOne(i: Int, p: Params): Rec = {
    val t0 = Clock.nowMs()
    val run = engine.submit(flowJson(i, p.tasks, p.mod))
    val t1 = Clock.nowMs()
    var pauseAck: Option[Double] = None
    if (p.pause) {
      val tp = Clock.nowMs()
      if (engine.requestPause(run.id)) {
        while (!run.isPaused && !run.future.isCompleted) Thread.sleep(1)
        if (run.isPaused) {
          pauseAck = Some(Clock.nowMs() - tp)
          engine.requestResume(run.id)
        }
      }
    }
    val res = Try(Await.result(run.future, FlowTimeout))
    val done = Clock.nowMs()
    val ok = res.toOption.exists { r =>
      val seq = r.transitions.map(t => (t.from, t.to))
      val unpaused = stripPause(seq)
      val okSeq = unpaused == Expected && (seq.size - unpaused.size) <=
        (if (p.pause) 2 else 0)
      val st = run.status()
      val okStatus = st.handlers.nonEmpty &&
        st.handlers.forall(h => h.total > 0 && h.finished == h.total)
      val okOut = new File(s"$outDir/${run.id}/_SUCCESS").exists()
      if (!(okSeq && okStatus && okOut)) System.err.println(
        s"[perfbench] WRONG flow $i: transitions=$seq status=$st output=$okOut")
      okSeq && okStatus && okOut
    }
    res.failed.foreach(e => System.err.println(s"[perfbench] ERROR flow $i: $e"))
    Rec(i, p, run, t0, t1, done, pauseAck, ok)
  }
}

object Flows {
  val Submitters = 4
  val PauseEvery = 8
  val QueryKey = "q02_agg_tpch_q1"
  val WriteKey = "q19_scalar_funcs"
  val FlowTimeout: FiniteDuration = 120.seconds

  val Expected: Seq[(String, String)] = Seq("" -> "pending",
    "pending" -> "parallel", "parallel" -> "fanout", "fanout" -> "writing",
    "writing" -> "finished")

  /** Drop one `X → paused`, `paused → X` excursion. */
  def stripPause(seq: Seq[(String, String)]): Seq[(String, String)] = {
    val k = seq.indexWhere(_._2 == "paused")
    if (k < 0 || k + 1 >= seq.size || seq(k + 1) != ("paused" -> seq(k)._1)) seq
    else seq.take(k) ++ seq.drop(k + 2)
  }

  /** Same JSON shape as fixtures/simple_flow.json. */
  def flowJson(i: Int, tasks: Int, mod: Int): String =
    s"""{
  "name": "bench-$i",
  "data": { "tasks": $tasks, "mod": $mod },
  "phases": [
    { "name": "pending", "is_initial": true, "transitions_to": "parallel", "on_error_transition_to": "error" },
    { "name": "parallel", "transitions_to": "fanout", "on_error_transition_to": "error",
      "handlers": [ { "name": "DriverFanout", "version": "~> 1.0" }, "LightQuery" ] },
    { "name": "fanout", "transitions_to": "writing", "on_error_transition_to": "error",
      "handlers": [ "DatasetFanout" ] },
    { "name": "writing", "transitions_to": "finished", "on_error_transition_to": "error",
      "handlers": [ "Writer" ] },
    { "name": "error", "is_final": true },
    { "name": "finished", "is_final": true, "handlers": [ "Completer" ] }
  ]
}"""

  def dataInt(ctx: HandlerContext, field: String): Int =
    ctx.dataJson.map(org.json4s.jackson.JsonMethods.parse(_) \ field) match {
      case Some(JInt(v)) => v.toInt
      case other => throw new IllegalArgumentException(
        s"flow data has no integer $field: $other")
    }

  /** A light per-task kernel (xorshift rounds); never returns 0, which
    * keeps the JIT from dropping it. */
  def kernel(seed: Long): Long = {
    var x = seed | 1L
    var i = 0
    while (i < KernelRounds) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    x
  }
  val KernelRounds = 200000

  /** Driver-side fan-out: `tasks(ctx)` tasks, each running the kernel. */
  final class DriverFanout(override val name: String, processed: LongAccumulator,
      tasks: HandlerContext => Int) extends Handler {
    override def enumerate(ctx: HandlerContext): Seq[TaskMsg] =
      (0 until tasks(ctx)).map(j =>
        TaskMsg(ctx.flowId, ctx.phase, Map("j" -> j.toString)))
    override def process(ctx: HandlerContext, t: TaskMsg): Unit = {
      if (kernel(t.payload("j").toLong) == 0L) throw new IllegalStateException
      processed.add(1)
    }
  }

  /** Distributed fan-out: one task per `orders` key divisible by the
    * flow's `mod`, enumerated as a Dataset. */
  final class DatasetFanout(processed: LongAccumulator) extends Handler {
    override def name: String = "DatasetFanout"
    override def enumerate(ctx: HandlerContext): Seq[TaskMsg] = Nil
    override def enumerateDataset(ctx: HandlerContext)
        : Option[org.apache.spark.sql.Dataset[TaskMsg]] = {
      val spark = ctx.spark
      import spark.implicits._
      val (fid, ph) = (ctx.flowId, ctx.phase)
      val mod = dataInt(ctx, "mod")
      Some(graft.Tables(spark, ctx.sfDir, "orders")
        .where(pmod(col("o_orderkey"), lit(mod.toLong)) === 0)
        .select(col("o_orderkey")).as[Long]
        .map(k => TaskMsg(fid, ph, Map("k" -> k.toString))))
    }
    override def process(ctx: HandlerContext, t: TaskMsg): Unit = {
      if (kernel(t.payload("k").toLong) == 0L) throw new IllegalStateException
      processed.add(1)
    }
  }
}
