package perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{count, expr, lit}

/** The `inventory` workload: one closed-loop client runs the query
  * panel pass after pass, each pass in a seed-shuffled order. Pass 1
  * runs in the fresh session (cold); later passes are warm. Each
  * invocation builds the key's frame through `SparkEntry.queries`, then
  * materializes every column through an order-insensitive fingerprint
  * (row count, bit_xor of xxhash64 over the whole row), which the
  * optimizer cannot prune and which is checked against the recorded
  * fingerprint and against pass 1.
  */
final class Inventory(a: Args) extends Workload {
  import Inventory._

  private val keys: Seq[String] = {
    val all = graft.SparkEntry.queries.keys.toSeq.sorted
    if (a.panel == "all") all
    else all.zipWithIndex.collect { case (k, i) if i % PanelStride == 0 => k }
  }

  def setup(spark: SparkSession, rep: Int): Unit = ()

  def run(spark: SparkSession, probe: Option[Probe]): Outcome = {
    val expected = loadFingerprints(new File(a.expected))
    val rnd = new scala.util.Random(a.seed)
    val spans = probe.map(_ => new Spans)
    val invs = mutable.ArrayBuffer.empty[Inv]
    val pass1 = mutable.Map.empty[String, (Long, Long)]
    var coldS = 0.0
    val warmPassS = mutable.ArrayBuffer.empty[Double]
    var warmStartNs = 0L
    def warmElapsed = (System.nanoTime() - warmStartNs) / 1e9
    var pass = 0
    // pass 1 is the cold pass; warm passes follow until --seconds of
    // warm time have passed, and at least MinWarmPasses of them
    while (pass <= MinWarmPasses || warmElapsed < a.seconds) {
      pass += 1
      if (pass == 2) warmStartNs = System.nanoTime()
      // the cold pass runs in sorted order, so every run pays each
      // first-use cost (JIT, shared Llm artifacts) in the same key;
      // warm passes are seed-shuffled
      val order = if (pass == 1) keys else rnd.shuffle(keys)
      val passStart = Clock.nowMs()
      val passSpan = spans.map(_.nextId()).getOrElse(0L)
      order.foreach(k => invs += invoke(spark, k, pass, passSpan, spans))
      val passEnd = Clock.nowMs()
      spans.foreach(_.add(Span(passSpan, 0L, passSpan, s"pass $pass",
        "harness", passStart, passEnd)))
      if (pass == 1) coldS = (passEnd - passStart) / 1e3
      else warmPassS += (passEnd - passStart) / 1e3
      val phases = invs.filter(_.pass == pass).map(_.phaseS)
        .reduce((x, y) => x.zip(y).map { case (u, v) => u + v })
      System.err.println(f"[perfbench] inventory pass $pass: " +
        f"${(passEnd - passStart) / 1e3}%.3f s (construct, analyze, " +
        "optimize, plan, run: " + phases.map(v => f"$v%.3f").mkString(" ") + ")")
    }

    // output checks: every pass agrees with pass 1, pass 1 agrees with
    // the recorded fingerprints
    var failed = 0L
    invs.foreach { inv =>
      inv.fp match {
        case None => failed += 1
        case Some(fp) =>
          val ref = if (inv.pass == 1) {
            pass1(inv.key) = fp
            expected.get(inv.key)
          } else pass1.get(inv.key)
          if (!ref.contains(fp)) {
            failed += 1
            System.err.println(s"[perfbench] WRONG ${inv.key} pass ${inv.pass}: " +
              s"got $fp want ${ref.getOrElse("(no reference)")}")
          }
      }
    }
    a.record.foreach(p => writeFingerprints(new File(p), pass1.toMap))

    // per-key times on stderr: cold, then every warm invocation
    invs.groupBy(_.key).toSeq.sortBy(_._1).foreach { case (k, is) =>
      System.err.println(f"[perfbench] $k%-32s " +
        is.sortBy(_.pass).map(i => f"${i.seconds}%.3f").mkString(" "))
    }

    // latency quantiles over every warm invocation
    val warm = invs.filter(_.pass > 1).map(_.seconds).toSeq
    val e2e = Map(
      "cold_s" -> Metric(coldS, "s"),
      "ops_per_s" -> Metric(keys.size / Stats.median(warmPassS.toSeq), "1/s"),
      "latency_p50_s" -> Metric(Stats.quantile(warm, 0.5), "s"),
      "latency_p90_s" -> Metric(Stats.quantile(warm, 0.9), "s"))

    val perLayer = (probe, spans) match {
      case (Some(p), Some(sp)) =>
        p.drain()
        // artifact builds run inside a construct span (single client):
        // attach each to the invocation it ran in
        val builds = p.artifactBuilds
        val constructs = sp.all.filter(_.name == "construct")
        builds.foreach { case (s, e) =>
          constructs.find(c => c.startMs <= s && e <= c.endMs + 1.0)
            .foreach(c => sp.add(c.id, c.trace, "artifact build",
              "operators", s, e))
        }
        // jobs carry their invocation's span id as a local property;
        // each goes under the innermost span of that invocation it
        // started in
        val byInvocation = sp.all.filter(_.layer != "harness").groupBy(_.parent)
        p.finishedJobs.foreach { j =>
          j.span.map(_.toLong).foreach { inv =>
            val inner = byInvocation.getOrElse(inv, Nil)
              .filter(c => c.startMs <= j.startMs && j.startMs <= c.endMs)
              .sortBy(_.durMs).headOption
            sp.add(inner.map(_.id).getOrElse(inv), inner.map(_.trace).getOrElse(0L),
              s"job ${j.jobId}", "exec", j.startMs, j.endMs)
          }
        }
        val warmStart = sp.all.filter(_.name == "pass 2").map(_.startMs)
          .headOption.getOrElse(Double.MaxValue)
        sp.write(new File(a.traceDir, s"inventory-seed${a.seed}.jsonl"))
        p.layerMetrics() ++ Workloads.selfTimes(sp) ++ Workloads.noFlow ++
          Workloads.noStream ++ Map(
          "queries.construct_s" -> Metric(constructs.map(_.durMs).sum / 1e3, "s"),
          "operators.warm_artifact_builds" -> Metric(
            builds.count(_._1 >= warmStart).toDouble, "count"),
          "trace.latency_p50_s" -> e2e("latency_p50_s"),
          "trace.ops_per_s" -> e2e("ops_per_s"))
      case _ => Map.empty[String, Metric]
    }
    Outcome(invs.size.toLong, failed, e2e, perLayer, warm.size)
  }

  /** One invocation: construct, analyze/optimize/plan the fingerprint
    * frame, run it. Every phase is forced the same way with tracing on
    * or off; only the span bookkeeping differs. */
  private def invoke(spark: SparkSession, key: String, pass: Int,
      passSpan: Long, spans: Option[Spans]): Inv = {
    val sc = spark.sparkContext
    val invSpan = spans.map(_.nextId()).getOrElse(0L)
    sc.setLocalProperty(Probe.SpanKey, invSpan.toString)
    val t = Array.fill(6)(0.0)
    t(0) = Clock.nowMs()
    val fp = try {
      val df = graft.SparkEntry.queries(key)(spark, a.dataDir)
      t(1) = Clock.nowMs()
      val fpFrame = df.selectExpr("xxhash64(struct(*)) AS __h")
        .agg(count(lit(1)), expr("bit_xor(__h)"))
      val qe = fpFrame.queryExecution
      qe.analyzed
      t(2) = Clock.nowMs()
      qe.optimizedPlan
      t(3) = Clock.nowMs()
      qe.executedPlan
      t(4) = Clock.nowMs()
      val row = fpFrame.collect().head
      t(5) = Clock.nowMs()
      Some((row.getLong(0), if (row.isNullAt(1)) 0L else row.getLong(1)))
    } catch {
      case e: Exception =>
        System.err.println(s"[perfbench] ERROR $key: $e")
        None
    } finally sc.setLocalProperty(Probe.SpanKey, null)
    val end = Clock.nowMs()
    spans.foreach { sp =>
      sp.add(Span(invSpan, passSpan, passSpan, key, "harness", t(0), end))
      val names = Seq("construct" -> "queries", "analyze" -> "catalyst",
        "optimize" -> "catalyst", "plan" -> "catalyst", "run" -> "exec")
      names.zipWithIndex.foreach { case ((n, layer), i) =>
        if (t(i + 1) > 0) sp.add(invSpan, passSpan, n, layer, t(i), t(i + 1))
      }
    }
    val phaseS = (1 to 5).map(i => if (t(i) > 0) (t(i) - t(i - 1)) / 1e3 else 0.0)
    Inv(key, pass, (end - t(0)) / 1e3, fp, phaseS)
  }
}

object Inventory {
  /** The default panel is every PanelStride-th key in sorted order: a
    * fixed, family-spanning twelve keys whose cold pass and a few warm
    * passes fit one run. `--panel all` runs all 191. */
  val PanelStride = 16
  /** Warm passes keep getting faster while the JIT catches up (on a
    * 4-CPU host about 3.3 s for the first and 2.6 s for the fifth), so a
    * run that fits more passes reads faster. Five passes take longer
    * than `run_seconds` on that host, so every run holds the same five
    * and runs stay comparable. Five rather than three: the same key's
    * warm invocations vary by up to a factor of two, so `latency_p50_s`
    * needs the samples (60 rather than 36). */
  val MinWarmPasses = 5

  /** `phaseS`: construct, analyze, optimize, plan, run seconds. */
  final case class Inv(key: String, pass: Int, seconds: Double,
      fp: Option[(Long, Long)], phaseS: Seq[Double])

  def loadFingerprints(f: File): Map[String, (Long, Long)] =
    if (!f.exists()) Map.empty
    else {
      import org.json4s._
      val src = scala.io.Source.fromFile(f, "UTF-8")
      val js = try org.json4s.jackson.JsonMethods.parse(src.mkString)
        finally src.close()
      (js \ "fingerprints") match {
        case JObject(fields) => fields.collect {
          case (k, JArray(List(JString(n), JString(h)))) =>
            k -> (n.toLong, h.toLong)
        }.toMap
        case _ => Map.empty
      }
    }

  /** Fingerprints are written as strings: 64-bit hashes do not survive
    * a JSON reader that parses numbers as doubles. */
  def writeFingerprints(f: File, fps: Map[String, (Long, Long)]): Unit = {
    f.getParentFile.mkdirs()
    val w = new PrintWriter(f, "UTF-8")
    try {
      w.println("{\n  \"fingerprints\": {")
      w.println(fps.toSeq.sortBy(_._1).map { case (k, (n, h)) =>
        s"""    ${Json.str(k)}: ["$n", "$h"]"""
      }.mkString(",\n"))
      w.println("  }\n}")
    } finally w.close()
  }
}
