package perfbench

/** Per-layer metric families shared by the three workloads. Every
  * traced run reports the same metric names; a layer a workload never
  * enters reports 0. */
object Workloads {
  val Layers: Seq[String] =
    Seq("tables", "queries", "operators", "catalyst", "exec", "flow",
      "streaming", "harness")

  /** Self time per layer from the span tree (`tables` is added by Main
    * from the timed registration; `harness` spans are the benchmark's
    * own: passes, invocations, files). */
  def selfTimes(spans: Spans): Map[String, Metric] = {
    val self = spans.selfTimeByLayer
    Layers.filterNot(_ == "tables").map { l =>
      s"self.${l}_s" -> Metric(self.getOrElse(l, 0.0), "s")
    }.toMap
  }

  val noFlow: Map[String, Metric] = Map(
    "flow.submit_s" -> Metric(0.0, "s"),
    "flow.phase_overhead_s" -> Metric(0.0, "s"),
    "flow.finish_tail_s" -> Metric(0.0, "s"),
    "flow.pause_ack_s" -> Metric(0.0, "s"),
    "flow.tasks_per_s" -> Metric(0.0, "1/s"))

  val noStream: Map[String, Metric] = Map(
    "streaming.trigger_s" -> Metric(0.0, "s"),
    "streaming.add_batch_s" -> Metric(0.0, "s"),
    "streaming.plan_s" -> Metric(0.0, "s"),
    "streaming.state_rows" -> Metric(0.0, "count"),
    "streaming.store_files" -> Metric(0.0, "count"),
    "streaming.backlog_files" -> Metric(0.0, "count"),
    "streaming.compactions" -> Metric(0.0, "count"),
    "streaming.generator_late_s" -> Metric(0.0, "s"))
}
