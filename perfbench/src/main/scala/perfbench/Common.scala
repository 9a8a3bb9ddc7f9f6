package perfbench

import java.io.{File, PrintWriter}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Command-line arguments of one benchmark run (see run.py). */
final case class Args(
    workload: String,
    seed: Long,
    seconds: Int,
    trace: Boolean,
    dataDir: String,
    workDir: String,
    traceDir: String,
    expected: String,
    panel: String,
    record: Option[String])

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(
        s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def req(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    Args(
      workload = req("workload"),
      seed = req("seed").toLong,
      seconds = req("seconds").toInt,
      trace = req("trace") == "1",
      dataDir = req("data"),
      workDir = req("work"),
      traceDir = req("trace-dir"),
      expected = req("expected"),
      panel = kv.getOrElse("panel", "default"),
      record = kv.get("record"))
  }
}

/** A metric value with its unit, as printed in the result line. */
final case class Metric(value: Double, unit: String)

/** What a workload's measured window produced. */
final case class Outcome(
    attempted: Long,
    failed: Long,
    endToEnd: Map[String, Metric],
    perLayer: Map[String, Metric],
    latencySamples: Int)

/** One workload: built once per set-up repetition, run once. */
trait Workload {
  /** Workload-specific set-up on a fresh session (timed in setup_s). */
  def setup(spark: SparkSession, rep: Int): Unit
  /** The measured window plus its output checks. */
  def run(spark: SparkSession, probe: Option[Probe]): Outcome
  /** Release what setup made (files under the work dir, threads). */
  def teardown(spark: SparkSession): Unit = ()
}

/** Wall clock shared by the harness and the Spark listeners: epoch
  * milliseconds with sub-millisecond resolution from nanoTime. */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One traced interval. Times are [[Clock]] milliseconds. */
final case class Span(id: Long, parent: Long, trace: Long, name: String,
    layer: String, startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

/** Spans kept in memory during a traced run and written once at the
  * end. Untraced runs never construct one. */
final class Spans {
  private val buf = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)

  def nextId(): Long = ids.incrementAndGet()

  def add(s: Span): Unit = { buf.add(s); () }

  def add(parent: Long, trace: Long, name: String, layer: String,
      startMs: Double, endMs: Double): Long = {
    val id = nextId()
    add(Span(id, parent, trace, name, layer, startMs, endMs))
    id
  }

  def all: Seq[Span] = buf.asScala.toSeq

  /** Self time per layer: a span's duration minus the union of its
    * children's intervals (children of concurrent handlers overlap). */
  def selfTimeByLayer: Map[String, Double] = {
    val spans = all
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val covered = Stats.unionMs(kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs))))
        math.max(0.0, s.durMs - covered)
      }.sum / 1e3
    }
  }

  def write(path: File): Unit = {
    path.getParentFile.mkdirs()
    val w = new PrintWriter(path, "UTF-8")
    try all.sortBy(_.startMs).foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"trace":${s.trace},""" +
        s""""name":${Json.str(s.name)},"layer":"${s.layer}",""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs}}""")
    } finally w.close()
  }
}

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val h = q * (s.size - 1)
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Total length covered by a set of [start, end] intervals. */
  def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString

  def metrics(ms: Map[String, Metric]): String =
    ms.toSeq.sortBy(_._1).map { case (k, m) =>
      s"""${str(k)}:{"value":${num(m.value)},"unit":${str(m.unit)}}"""
    }.mkString("{", ",", "}")
}
