package graft.queries

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.Row

/** Invariant pins for the Stats pack (q78–q86). Value correctness is
  * the DuckDB gate; these pin the MATHEMATICAL properties each
  * statistic must satisfy regardless of fixture values — the checks
  * that catch a wrong formula that still hash-matches a wrong oracle
  * twin (both engines computing the same wrong thing).
  */
class StatsSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"
  private def run(name: String) =
    SparkEntry.queries(name)(spark, dir).collect()
  private def run2(d: String, name: String) =
    SparkEntry.queries(name)(spark, d).collect()

  test("q78: r² lies in [0,1] for every group") {
    val rows = run("q78_linreg")
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val r2 = r.getAs[Double]("r2")
      assert(r2 >= 0.0 && r2 <= 1.0, s"r2 out of range: $r")
    }
  }

  test("q79: streak arithmetic is internally consistent per user") {
    val rows = run("q79_gaps_islands")
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val days = r.getAs[Long]("n_days")
      val streaks = r.getAs[Long]("n_streaks")
      val longest = r.getAs[Long]("longest_streak")
      assert(streaks >= 1 && longest >= 1, s"degenerate row: $r")
      assert(longest <= days, s"longest > total days: $r")
      // n_streaks runs of ≥1 day each can't exceed the day count,
      // and the longest run plus one day for each other run must fit
      assert(streaks <= days && longest + (streaks - 1) <= days,
        s"runs don't fit in day count: $r")
    }
  }

  test("q80: MAD is non-negative and ≤ max|value − median| by construction") {
    val rows = run("q80_mad")
    assert(rows.nonEmpty)
    rows.foreach { r =>
      // round-11 integer cells: median as cents×2, MAD as cents×4
      assert(r.getAs[Long]("mad_cents_x4") >= 0L, s"negative MAD: $r")
      assert(r.getAs[Long]("median_cents_x2") > 0L, s"bad median: $r")
    }
  }

  test("cellWitnessIndex: one tag with two different spec sets serves " +
    "two different frames") {
    val ev = Events.events(spark, dir)
    // both in quarter-cents (×4): the median as 2/4, the third quartile
    val median = Stats.cellWitnessIndex(ev, "spec-key", Seq(("w", 2, 4)))
    val q3 = Stats.cellWitnessIndex(ev, "spec-key", Seq(("w", 3, 4)))
    assert(median.columns.toSeq == q3.columns.toSeq)
    val m = median.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val q = q3.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m.keySet == q.keySet && m.nonEmpty)
    // the 3/4 witness sits at or above the median in every type, and
    // strictly above in at least one: a collided key would serve the
    // median frame for both
    assert(m.forall { case (k, v) => q(k) >= v }, s"median $m, q3 $q")
    assert(m.exists { case (k, v) => q(k) > v }, s"median $m, q3 $q")
    graft.operators.ArtifactStore.clear("cell_witness")
  }

  test("q81: all C(5,2) type pairs present; df within Welch bounds") {
    val rows = run("q81_ttest")
    assert(rows.length == 10, s"expected 10 pairs, got ${rows.length}")
    rows.foreach { r =>
      assert(r.getAs[String]("type_a") < r.getAs[String]("type_b"))
      // Welch–Satterthwaite df: min(n1,n2)−1 ≤ df ≤ n1+n2−2; the
      // fixture types all have ≥2 rows, so df must be ≥ 1
      assert(r.getAs[Double]("df") >= 1.0, s"df below 1: $r")
    }
  }

  test("q82: segment census partitions the customer base; tiles in 1..4") {
    val rows = run("q82_rfm")
    val nCustomers = graft.Tables(spark, dir, "orders")
      .select("o_custkey").distinct().count()
    assert(rows.map(_.getAs[Long]("n_customers")).sum == nCustomers,
      "segments don't partition the customers")
    rows.foreach { r =>
      Seq("r", "f", "m").foreach { c =>
        val v = r.getAs[Int](c)
        assert(v >= 1 && v <= 4, s"tile out of range: $r")
      }
    }
  }

  test("q83: support ≤ confidence ≤ 1 and lift consistency per rule") {
    val rows = run("q83_assoc_rules")
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val sup = r.getAs[Double]("support")
      val conf = r.getAs[Double]("confidence")
      assert(sup > 0 && sup <= conf + 1e-9 && conf <= 1.0 + 1e-9,
        s"support/confidence ordering broken: $r")
      assert(r.getAs[Double]("lift") > 0, s"non-positive lift: $r")
    }
  }

  test("q84: triangle census bounds — 3·triangles ≤ wedges (cc ≤ 1), " +
    "edges ≤ C(nodes,2)") {
    val Array(r: Row) = run("q84_triangles")
    val nodes = r.getAs[Long]("n_nodes")
    val edges = r.getAs[Long]("n_edges")
    val cc = r.getAs[Double]("clustering_coeff")
    assert(edges <= nodes * (nodes - 1) / 2, s"impossible edge count: $r")
    assert(cc >= 0.0 && cc <= 1.0 + 1e-9, s"clustering coeff range: $r")
  }

  test("q85: AND-mask is contained in OR-mask per group") {
    val rows = run("q85_bitagg")
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val andM = r.getAs[Long]("mask_and")
      val orM = r.getAs[Long]("mask_or")
      assert((andM & orM) == andM, s"bit containment broken: $r")
    }
  }

  test("q87: anomaly counts bounded by Chebyshev at 3 sigma (≤ n/9)") {
    val rows = run("q87_seasonal_anomaly")
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getAs[Long]("n_events")
      val a = r.getAs[Long]("n_anomalies")
      // Chebyshev: P(|X−µ| > 3σ) ≤ 1/9 for ANY distribution — an
      // invariant the seasonal profile cannot violate if mean/std are
      // computed over the same population that is being flagged
      assert(a <= n / 9 + 1, s"anomaly count violates Chebyshev: $r")
    }
  }

  test("q88: cohort matrix — retention 1.0 at offset 0, ≤ 1 " +
    "everywhere, cohorts partition the purchasing users") {
    val rows = run("q88_cohort_matrix")
    assert(rows.nonEmpty)
    val byCohort = rows.groupBy(_.getAs[java.sql.Date]("cohort_day"))
    byCohort.values.foreach { cr =>
      val zero = cr.filter(_.getAs[Long]("day_offset") == 0L)
      assert(zero.length == 1, "missing/duplicate offset-0 row")
      assert(zero.head.getAs[Double]("retention") == 1.0,
        s"offset-0 retention must be exactly 1: ${zero.head}")
      cr.foreach(r => assert(r.getAs[Double]("retention") <= 1.0,
        s"retention above 1: $r"))
    }
    // Σ cohort sizes = distinct purchasing users
    val totalCohort = byCohort.values
      .map(_.head.getAs[Long]("cohort_size")).sum
    val purchasers = Events.events(spark, dir)
      .filter(org.apache.spark.sql.functions.col("event_type") ===
        "purchase")
      .select("user_id").distinct().count()
    assert(totalCohort == purchasers,
      s"cohorts don't partition purchasers: $totalCohort vs $purchasers")
  }

  test("q82 plans no single-partition exchange: the quartiles run " +
    "through DistributedNtile's bucket machinery, not a one-task " +
    "ntile sort") {
    // VERDICT r7: three unpartitioned ntile(4) windows over the
    // customer frame were a one-task straggler at 100×. Round-13
    // form: each axis hash-shuffles on a plan-frozen bucket id and
    // ranks ~128-row bucket windows — window partitions GROW with the
    // data (WindowAuditSpec pins the growth), so the pin here is the
    // absence of any single-partition exchange, and that every Window
    // is bucket-partitioned (no empty partitionBy).
    val df = graft.SparkEntry.queries("q82_rfm")(spark, dir)
    df.collect() // materialize: only the FINAL AQE plan is honest
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"),
      s"q82 must not plan a single-partition exchange:\n$plan")
    // unpartitioned windows are checked on the LOGICAL plan (the
    // printed windowspecdefinition always carries order columns, so a
    // substring probe can never fire — review r13)
    val unpartitioned = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
        if w.partitionSpec.isEmpty => w
    }
    assert(unpartitioned.isEmpty,
      s"q82 must not plan an unpartitioned window: $unpartitioned")
    // tilesFused (round 14): all three axes rank in ONE fused
    // (__ax, __pid) window — the tiles are computed per invocation,
    // so every Window in the plan is that fused one
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    val served = windows.filterNot(
      _.partitionSpec.exists(_.toString.contains("__ax")))
    assert(served.isEmpty,
      s"q82's plan must rank only in the fused (__ax, __pid) window: $served")
    assert(windows.exists(_.toString.contains("__ax")),
      "q82 must rank all axes in the one fused (__ax, __pid) exchange; " +
        s"windows seen: ${windows.size}")
  }

  test("q89: ABC classes partition the catalog; shares sum to 1 and " +
    "A ≥ B ≥ C in per-part intensity") {
    val rows = run("q89_abc")
    val classes = rows.map(_.getAs[String]("abc_class"))
    assert(classes.toSet.subsetOf(Set("A", "B", "C")) && classes.nonEmpty)
    val shareSum = rows.map(_.getAs[Double]("revenue_share")).sum
    assert(math.abs(shareSum - 1.0) < 1e-4,
      s"revenue shares don't sum to 1: $shareSum")
    val nParts = rows.map(_.getAs[Long]("n_parts")).sum
    val catalog = graft.Tables(spark, dir, "lineitem")
      .select("l_partkey").distinct().count()
    assert(nParts == catalog, s"classes don't partition: $nParts/$catalog")
    // per-part revenue intensity must fall A → C (the Pareto point)
    val intensity = rows.map(r => r.getAs[String]("abc_class") ->
      r.getAs[Double]("revenue_share") / r.getAs[Long]("n_parts")).toMap
    for (Seq(hi, lo) <- Seq("A", "B", "C").filter(intensity.contains)
        .sliding(2) if lo != hi)
      assert(intensity(hi) >= intensity(lo),
        s"intensity ordering broken: $intensity")
  }

  test("q90: discrete percentiles are WITNESSES (actual data values) " +
    "and ordered p50 ≤ p90 ≤ p99") {
    val rows = run("q90_percentile_disc")
    assert(rows.nonEmpty)
    val byType = Events.events(spark, dir)
      .select("event_type", "value").collect()
      .groupBy(_.getString(0))
      .map { case (k, rs) => k -> rs.map(_.getDouble(1)).toSet }
    rows.foreach { r =>
      val vals = byType(r.getAs[String]("event_type"))
      val (p50, p90, p99) = (r.getAs[Double]("p50_disc"),
        r.getAs[Double]("p90_disc"), r.getAs[Double]("p99_disc"))
      assert(p50 <= p90 && p90 <= p99, s"percentiles unordered: $r")
      // the defining property interpolation CANNOT satisfy in general
      Seq(p50, p90, p99).foreach(p =>
        assert(vals.contains(p), s"$p is not a data value: $r"))
    }
  }

  test("q91: growth accounting satisfies the conservation identity " +
    "DAU(d) = DAU(d−1) + new + resurrected − churned on every day") {
    val rows = run("q91_growth_accounting")
      .sortBy(_.getAs[java.sql.Date]("day").toString)
    assert(rows.length > 2)
    var prevDau = 0L
    rows.foreach { r =>
      val dau = r.getAs[Long]("dau")
      assert(dau == prevDau + r.getAs[Long]("n_new") +
        r.getAs[Long]("n_resurrected") - r.getAs[Long]("n_churned"),
        s"conservation identity broken at $r (prev DAU $prevDau)")
      prevDau = dau
    }
    // every user is new exactly once
    val totalNew = rows.map(_.getAs[Long]("n_new")).sum
    val users = Events.events(spark, dir)
      .select("user_id").distinct().count()
    assert(totalNew == users, s"new-user total $totalNew != $users")
  }

  test("q92: paths over the type alphabet; reach never exceeds count") {
    val rows = run("q92_event_paths")
    assert(rows.nonEmpty && rows.length <= 15)
    val types = Events.events(spark, dir)
      .select("event_type").distinct().collect()
      .map(_.getString(0)).toSet
    rows.foreach { r =>
      Seq("e1", "e2", "e3").foreach(c =>
        assert(types.contains(r.getAs[String](c)), s"alien type: $r"))
      assert(r.getAs[Long]("n_users") <= r.getAs[Long]("n_paths"),
        s"distinct users exceed path occurrences: $r")
    }
  }

  test("q93: attribution partitions the purchases; purchase never " +
    "credits itself") {
    val rows = run("q93_attribution")
    assert(rows.nonEmpty)
    assert(!rows.exists(_.getAs[String]("credited") == "purchase"),
      "a purchase credited itself as the touch")
    val purchases = Events.events(spark, dir)
      .filter(org.apache.spark.sql.functions.col("event_type") ===
        "purchase").count()
    assert(rows.map(_.getAs[Long]("n_conversions")).sum == purchases,
      "attribution does not partition the purchase set")
  }

  test("q95: the audit covers all six contracts and the clean fixture " +
    "passes them; passed ⇔ zero violations on every row") {
    val rows = run("q95_dq_audit")
    assert(rows.length == 6)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("passed") ==
        (r.getAs[Long]("n_violations") == 0L), s"inconsistent row: $r")
      assert(r.getAs[Long]("n_violations") >= 0 &&
        r.getAs[Long]("n_violations") <= r.getAs[Long]("n_rows"))
      // the driver-generated fixture satisfies its own contracts
      assert(r.getAs[Boolean]("passed"), s"fixture violates: $r")
    }
  }

  test("q95 audits each fact table in ONE pass: every constraint " +
    "(conditional aggregates AND the FK count) rides one scan " +
    "(round-14)") {
    // VERDICT r13 Next #5: the r13 form scanned lineitem 3× and
    // orders 4× (report agg + anti-join probe + bare n_rows count);
    // the round-14 fold left-joins the distinct parent keys and emits
    // every per-table constraint from one combined aggregate. Pin:
    // exactly one lineitem scan, two orders scans (its own audit pass
    // + the parent-key side of lineitem's FK join), one customer scan.
    val df = graft.SparkEntry.queries("q95_dq_audit")(spark, dir)
    df.collect()
    // the adaptive plan prints Final AND Initial sections — census
    // the final one only
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    def scans(t: String) =
      s"$t\\.parquet".r.findAllIn(plan).size
    assert(scans("lineitem") == 1 && scans("orders") == 2 &&
      scans("customer") == 1,
      s"q95 scan census moved: li=${scans("lineitem")} " +
        s"o=${scans("orders")} c=${scans("customer")}:\n$plan")
  }

  test("llm_curation_funnel: counts are monotone down the stages and " +
    "every stage discriminates on this corpus") {
    val rows = run("llm_curation_funnel")
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val seq = Seq("n_raw", "n_quality", "n_unique", "n_clean",
        "n_sampled").map(r.getAs[Long])
      assert(seq == seq.sorted.reverse, s"funnel not monotone: $r")
    }
    def tot(c: String) = rows.map(_.getAs[Long](c)).sum
    assert(tot("n_quality") < tot("n_raw"), "quality gate vacuous")
    assert(tot("n_sampled") < tot("n_clean"), "sampling vacuous")
  }

  test("q86: moments match direct double computation within rounding") {
    val rows = run("q86_moments")
    assert(rows.nonEmpty)
    // independent direct computation (double arithmetic, same data)
    val vals = Events.events(spark, dir)
      .select("event_type", "value").collect()
      .groupBy(_.getString(0))
      .map { case (k, rs) => k -> rs.map(_.getDouble(1)) }
    rows.foreach { r =>
      val xs = vals(r.getAs[String]("event_type"))
      val n = xs.length.toDouble
      val mean = xs.sum / n
      val m2 = xs.map(x => (x - mean) * (x - mean)).sum / n
      val m3 = xs.map(x => math.pow(x - mean, 3)).sum / n
      val m4 = xs.map(x => math.pow(x - mean, 4)).sum / n
      val skew = m3 / math.pow(m2, 1.5)
      val kurt = m4 / (m2 * m2) - 3
      assert(math.abs(r.getAs[Double]("skewness") - skew) < 1e-4,
        s"skewness drifted from direct computation: $r vs $skew")
      assert(math.abs(r.getAs[Double]("excess_kurtosis") - kurt) < 1e-4,
        s"kurtosis drifted from direct computation: $r vs $kurt")
    }
  }

  test("q86: a value past the $10M exact-moment range fails loudly " +
    "instead of silently NULLing out of the power sums") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("q86rng").toString
    Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
        1L, "purchase", 42.0, "{}"),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 00:01:00"),
        1L, "purchase", 2.0e7, "{}") // $20M: c^4 would overflow
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$tmp/events.parquet")
    val ex = intercept[Exception] {
      run2(tmp, "q86_moments")
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("exact-moment range")),
      s"expected the loud range guard, got: $ex")
  }
}
