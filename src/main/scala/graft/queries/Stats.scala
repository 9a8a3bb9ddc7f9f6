package graft.queries

import graft.{Canon, Tables, Witness}
import graft.operators.ArtifactStore
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Statistical / analytical query pack (SURVEY.md §2.14): grouped OLS
  * regression, gaps-and-islands streaks, robust dispersion (MAD),
  * Welch two-sample tests, RFM segmentation, market-basket association
  * rules, co-occurrence-graph triangle census, bit/bool aggregates,
  * and higher-moment shape statistics — the analyst-facing workloads a
  * warehouse engine is expected to run beside the LLM-curation stack.
  *
  * Determinism discipline is the q33/q56 one throughout: money/value
  * doubles are 2-decimal, so all sums ride exact DECIMAL (or exact
  * integer cents), and each query performs ONE identical double
  * expression tree on both engines, rounded at the end.
  */
object Stats {
  import Canon._
  type Q = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, n: String) = Tables(s, dir, n)

  // ---- market-basket and supplier-graph derivations ----------------

  /** Per-order sorted distinct part arrays — shared base of the
    * market-basket query. ONE exchange (groupBy orderkey with
    * map-side collect_set partials) builds it; the order count, the
    * item counts, and the pair generation read the same subtree
    * (one reused exchange). Pairs come from an ARRAY expression over
    * each basket — codegen'd row-local work — instead of a basket
    * self-join, so the only other exchange in q83 is the final pair
    * aggregation. */
  private def basketArraysFor(li: DataFrame): DataFrame =
    li.groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("parts"))

  /** Thresholded supplier co-occurrence edges (u < v, pair count ≥
    * P95) — the q84 graph. Built ONCE per corpus snapshot: the
    * threshold is an EAGER one-row action at build time (the q63
    * discipline), then the sparse edge list is stored and serves the
    * degree census, the wedge join, and the edge count without
    * re-running the pair pipeline. The build runs the pair pipeline
    * twice (histogram, then the stored edges) rather than pin a
    * persisted intermediate the registry could not release. */
  private def supplierEdgesFor(li: DataFrame): DataFrame =
    ArtifactStore.frame("supplier_edges", li) {
      val os = li.select(col("l_orderkey"), col("l_suppkey")).distinct()
      val a = os.select(col("l_orderkey"), col("l_suppkey").as("u"))
      val b = os.select(col("l_orderkey"), col("l_suppkey").as("v"))
      val pc = a.join(b, Seq("l_orderkey"))
        .filter(col("u") < col("v"))
        .groupBy(col("u"), col("v")).agg(count(lit(1)).as("cnt"))
      // P95 threshold as the WITNESS value at 1-based rank
      // max(ceil(0.95·n), 1) = max((19n+19) div 20, 1) — exact
      // integer rank arithmetic, quantile_disc semantics on both
      // engines (round-11: the interpolated quantile_cont threshold
      // was convention-sensitive in principle; a witness is a stored
      // count, convention-free). Derived from the pair-count
      // HISTOGRAM — distinct co-occurrence counts are a tiny
      // bounded alphabet (loud cap), never a corpus-sized collect.
      val hist = pc.groupBy(col("cnt")).agg(count(lit(1)).as("m"))
        .orderBy(col("cnt")).collect()
      require(hist.length <= 100000,
        s"q84 threshold histogram unexpectedly wide: ${hist.length}")
      val n = hist.map(_.getLong(1)).sum
      val edges =
        if (n == 0) pc.filter(lit(false)) // empty corpus
        else {
          val k = math.max((19 * n + 19) / 20, 1L)
          var cum = 0L
          val thr = hist.iterator.map { r =>
            cum += r.getLong(1); (r.getLong(0), cum)
          }.collectFirst { case (v, c) if c >= k => v }.get
          pc.filter(col("cnt") >= thr)
        }
      edges.select(col("u"), col("v"))
    }

  /** Per-(part, part) basket co-occurrence counts (a < b) — the pair
    * statistics q83's rules derive from, and exactly the state
    * `streaming.BasketIndexStream` maintains incrementally on
    * appends. */
  private def basketPairCountsFor(li: DataFrame): DataFrame =
    basketArraysFor(li)
      .filter(size(col("parts")) >= 2)
      .select(explode(
        graft.functions.ArrayPairs.ordered_pairs(col("parts"))).as("p"))
      .select(col("p.a").as("part_a"), col("p.b").as("part_b"))
      .groupBy(col("part_a"), col("part_b"))
      .agg(count(lit(1)).as("pc"))

  /** Per-part basket membership counts — the item marginals of the
    * pair statistics (support denominators). Catalog-sized. */
  private def basketItemCountsFor(li: DataFrame): DataFrame =
    basketArraysFor(li)
      .select(explode(col("parts")).as("l_partkey"))
      .groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("cnt"))

  /** Degree census of the supplier co-occurrence graph (node, deg),
    * derived from the edge artifact. */
  private def supplierDegFor(edges: DataFrame): DataFrame =
    edges.select(col("u").as("node"))
      .union(edges.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))

  /** Degree-ordered orientation of the edge artifact (s → t with
    * (deg, id)(s) < (deg, id)(t), target degree carried). */
  private def supplierOrientedFor(edges: DataFrame,
      deg: DataFrame): DataFrame = {
    val degU = deg.select(col("node").as("u"), col("deg").as("udeg"))
    val degV = deg.select(col("node").as("v"), col("deg").as("vdeg"))
    edges.join(degU, Seq("u")).join(degV, Seq("v"))
      .select(
        when(col("udeg") < col("vdeg") ||
          (col("udeg") === col("vdeg") && col("u") < col("v")),
          struct(col("u").as("s"), col("v").as("t"),
            col("vdeg").as("tdeg")))
          .otherwise(struct(col("v").as("s"), col("u").as("t"),
            col("udeg").as("tdeg"))).as("e"))
      .select(col("e.s").as("s"), col("e.t").as("t"),
        col("e.tdeg").as("tdeg"))
  }

  // ---- q78_linreg: grouped OLS of value on hour-of-day ---------------
  // Per event type, least-squares fit value ~ hour(ts): slope,
  // intercept, r². The grouped-regression shape (one aggregation, no
  // window) scales embarrassingly: x is an exact small integer, y an
  // exact decimal, so Σx, Σy, Σxy, Σx², Σy² are exact and
  // order-independent; slope/intercept/r² are one double tree.
  private val q78: Q = (s, dir) => {
    val x = hour(col("ts")).cast(DecimalType(9, 0))
    val y = dec2(col("value"))
    Events.events(s, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        d(sum(x)).as("sx"), d(sum(y)).as("sy"),
        d(sum(x * y)).as("sxy"),
        d(sum(x * x)).as("sxx"), d(sum(y * y)).as("syy"))
      .select(col("event_type"), col("n"),
        round((col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx")), 6).as("slope"),
        round((col("sy") - (col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx")) * col("sx")) /
          col("n"), 6).as("intercept"),
        round(((col("n") * col("sxy") - col("sx") * col("sy")) *
          (col("n") * col("sxy") - col("sx") * col("sy"))) /
          ((col("n") * col("sxx") - col("sx") * col("sx")) *
           (col("n") * col("syy") - col("sy") * col("sy"))), 6).as("r2"))
      .orderBy(col("event_type"))
  }

  private val q78Sql =
    """WITH a AS (
      |  SELECT event_type, count(*) AS n,
      |    CAST(sum(CAST(hour(ts) AS DECIMAL(9,0))) AS DOUBLE) AS sx,
      |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sy,
      |    CAST(sum(CAST(hour(ts) AS DECIMAL(9,0)) *
      |             CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sxy,
      |    CAST(sum(CAST(hour(ts) AS DECIMAL(9,0)) *
      |             CAST(hour(ts) AS DECIMAL(9,0))) AS DOUBLE) AS sxx,
      |    CAST(sum(CAST(value AS DECIMAL(18,2)) *
      |             CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS syy
      |  FROM events GROUP BY event_type)
      |SELECT event_type, n,
      |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
      |  round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n,
      |    6) AS intercept,
      |  round(((n * sxy - sx * sy) * (n * sxy - sx * sy)) /
      |    ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
      |FROM a ORDER BY event_type""".stripMargin

  // ---- q79_gaps_islands: activity-streak census --------------------
  // The classic gaps-and-islands idiom: a user's distinct active days,
  // grouped into runs of consecutive days by the (day − row_number)
  // constant. Everything is per-user-partitioned — one shuffle on
  // user_id serves the distinct, the window, and both aggregations, so
  // the plan holds at any user count; days per user are bounded by the
  // calendar, so no window buffer can grow past it.
  private val q79: Q = (s, dir) => {
    val days = Events.events(s, dir)
      .select(col("user_id"), col("ts").cast(DateType).as("day"))
      .distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val islands = days
      .withColumn("grp", date_sub(col("day"), row_number().over(w)))
      .groupBy(col("user_id"), col("grp"))
      .agg(count(lit(1)).as("len"))
    islands.groupBy(col("user_id"))
      .agg(sum(col("len")).as("n_days"),
        count(lit(1)).as("n_streaks"),
        max(col("len")).as("longest_streak"))
      .orderBy(col("user_id"))
  }

  private val q79Sql =
    """WITH days AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |islands AS (
      |  SELECT user_id,
      |    day - CAST(row_number() OVER (
      |      PARTITION BY user_id ORDER BY day) AS INTEGER) AS grp
      |  FROM days),
      |runs AS (
      |  SELECT user_id, grp, count(*) AS len
      |  FROM islands GROUP BY user_id, grp)
      |SELECT user_id, CAST(sum(len) AS BIGINT) AS n_days,
      |  count(*) AS n_streaks,
      |  max(len) AS longest_streak
      |FROM runs GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---- q80_mad: median absolute deviation --------------------------
  // The robust dispersion partner of q76's IQR fences: per event type,
  // median of |value − median|. Round-11 integer-cell discipline
  // (q39/q76): BOTH medians are rank-selected-witness interpolations
  // carried in exact pre-scaled integer cents — the inner median as
  // cents×2 (median_cents_x2), the per-row deviation as the exact
  // integer |2·value_cents − median_cents_x2| (cents×2 units), and
  // the outer median of deviations as cents×4 (mad_cents_x4 =
  // witness interpolation of the ×2-unit deviations, ×2 again). No
  // quantile built-in, no double arithmetic, no rounding anywhere.
  //
  // Shape: the witnesses are derived from the per-type VALUE
  // HISTOGRAM (value at rank r = smallest cents whose cumulative
  // count ≥ r) — one corpus pass to (event_type, cents, c) cells,
  // then every window runs over the bounded cents-grid alphabet
  // (≤ 49k distinct per type), never the corpus. The SAME cells are
  // exactly what `streaming.QuantileHistStream` (21st maintainer)
  // keeps additively, and `madOfCells` is the ONE derivation both
  // the batch query and the streamed serving path run — parity by
  // construction (the q104/HistStream discipline).

  /** q80's value-histogram cells: (event_type, cents, c). */
  private[graft] def valueCells(events: DataFrame): DataFrame =
    events.filter(col("value").isNotNull)
      .groupBy(col("event_type"),
        (col("value").cast(DecimalType(18, 2)) * lit(100))
          .cast(LongType).as("cents"))
      .agg(count(lit(1)).cast(LongType).as("c"))

  // session-persisted value-histogram cells (build-once/serve-many,
  // the ArtifactStore contract): q76's fences and q80's median/MAD both
  // derive from the SAME (event_type, cents, c) histogram — exactly
  // the state `streaming.QuantileHistStream` maintains additively —
  // yet each ran its own corpus aggregation per invocation (and q80's
  // med/dev subtrees read the cells twice). The frame is bounded by
  // the cents grid (≤ ~49k buckets × event types), so MEMORY_AND_DISK
  // residency is a few MB at any corpus size.

  /** Session-cached [[valueCells]] for an events frame. */
  private[graft] def valueCellsIndex(events: DataFrame): DataFrame =
    ArtifactStore.frame("value_cells", events)(valueCells(events))

  /** Session-cached witness frame over the value cells — the per-type
    * quantile statistics (median, quartiles) a monitoring pipeline
    * keeps next to the histogram itself (QuantileHistStream maintains
    * the cells; these are its servable summaries). One |event_type|-
    * row frame per spec set; q80's serve previously re-ran the median
    * witness subtree 2-3x PER INVOCATION (it feeds both the deviation
    * histogram and the final join), q76's the quartile one. The key
    * carries the specs: one tag asked for two spec sets serves two
    * frames. */
  private[graft] def cellWitnessIndex(events: DataFrame, tag: String,
      specs: Seq[(String, Int, Int)]): DataFrame =
    ArtifactStore.frame("cell_witness", events, (tag, specs))(
      histWitnesses(valueCellsIndex(events), "event_type", "cents", specs))

  /** Witness quantiles over a (key, value, c) HISTOGRAM: the value at
    * rank r is the smallest bucket whose cumulative count reaches r —
    * identical to row-level rank selection by construction (same
    * multiset). One cumulative pass over the bounded bucket alphabet
    * serves every requested (out, pNum, pDen) spec; output is one row
    * per key with each spec's ×pDen integer interpolation
    * (Witness.scaled). The window here sorts BUCKETS per key, never
    * the corpus — the scale-safe quantile frame (q80's shape, and
    * round-12's q76 fix for the low-cardinality corpus window). */
  private[graft] def histWitnesses(hist: DataFrame, key: String,
      v: String, specs: Seq[(String, Int, Int)]): DataFrame = {
    val wc = Window.partitionBy(col(key)).orderBy(col(v))
    val cum = hist.select(col(key), col(v).as("x"),
      sum(col("c")).over(wc).as("cum"),
      sum(col("c")).over(Window.partitionBy(col(key))).as("n"))
    val aggs = specs.flatMap { case (out, pn, pd) => Seq(
      min(when(col("cum") >= expr(s"($pn * (n - 1)) DIV $pd + 1"),
        col("x"))).as(s"__${out}_a"),
      min(when(col("cum") >= expr(s"($pn * (n - 1)) DIV $pd + 2"),
        col("x"))).as(s"__${out}_b"))
    }
    cum.groupBy(col(key), col("n"))
      .agg(aggs.head, aggs.tail: _*)
      .select((col(key) +: specs.map { case (out, pn, pd) =>
        Witness.scaled(col(s"__${out}_a"), col(s"__${out}_b"), pn, pd)
          .cast(LongType).as(out)
      }): _*)
  }

  /** The (event_type, cents, c) cells → (median_cents_x2,
    * mad_cents_x4) derivation — witness ranks from cumulative
    * histogram counts; exact integers end to end. */
  private[graft] def madOfCells(cells: DataFrame,
      medPre: Option[DataFrame] = None): DataFrame = {
    def witnessX2(hist: DataFrame, v: String): DataFrame =
      histWitnesses(hist, "event_type", v, Seq(("m2", 1, 2)))
    // medPre: the session-cached median witness (cellWitnessIndex) —
    // same derivation, computed once per snapshot instead of 2-3x
    // per invocation (it feeds dev AND the final join). The stream
    // parity path (QuantileHistStream) passes None and keeps the
    // fully inline tree.
    val med = medPre.getOrElse(
      witnessX2(cells, "cents")
        .withColumnRenamed("m2", "median_cents_x2"))
    val dev = cells.join(broadcast(med), Seq("event_type"))
      .groupBy(col("event_type"),
        abs(col("cents") * lit(2L) - col("median_cents_x2")).as("dev2"))
      .agg(sum(col("c")).cast(LongType).as("c"))
    val mad = witnessX2(dev, "dev2")
      .withColumnRenamed("m2", "mad_cents_x4")
    med.join(mad, Seq("event_type"))
      .select(col("event_type"), col("median_cents_x2"),
        col("mad_cents_x4"))
      .orderBy(col("event_type"))
  }

  private val q80: Q = (s, dir) => {
    val ev = Events.events(s, dir)
    madOfCells(valueCellsIndex(ev),
      Some(cellWitnessIndex(ev, "med", Seq(("m2", 1, 2)))
        .withColumnRenamed("m2", "median_cents_x2")))
  }

  private val q80Sql =
    """WITH w AS (
      |  SELECT event_type,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
      |    row_number() OVER (PARTITION BY event_type
      |      ORDER BY CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT),
      |        event_id) AS rn,
      |    count(*) OVER (PARTITION BY event_type) AS n
      |  -- value IS NOT NULL: the engine ranks Stats.valueCells, which
      |  -- drops null values — both engines must rank the SAME multiset
      |  -- (ADVICE r12)
      |  FROM events WHERE value IS NOT NULL),
      |med AS (
      |  SELECT event_type,
      |""".stripMargin +
    s"    ${Witness.scaledSql("cents", 1, 2)} AS median_cents_x2\n" +
    """|  FROM w GROUP BY event_type, n),
      |dv AS (
      |  SELECT e.event_type, e.event_id,
      |    abs(CAST(CAST(e.value AS DECIMAL(18,2)) * 100 AS BIGINT) * 2
      |      - m.median_cents_x2) AS dev2
      |  FROM events e JOIN med m USING (event_type)
      |  WHERE e.value IS NOT NULL),
      |dw AS (
      |  SELECT event_type, dev2,
      |    row_number() OVER (PARTITION BY event_type
      |      ORDER BY dev2, event_id) AS rn,
      |    count(*) OVER (PARTITION BY event_type) AS n
      |  FROM dv),
      |mad AS (
      |  SELECT event_type,
      |""".stripMargin +
    s"    ${Witness.scaledSql("dev2", 1, 2)} AS mad_cents_x4\n" +
    """|  FROM dw GROUP BY event_type, n)
      |SELECT event_type, median_cents_x2, mad_cents_x4
      |FROM med JOIN mad USING (event_type)
      |ORDER BY event_type""".stripMargin

  // ---- q81_ttest: Welch two-sample t over every type pair ----------
  // The A/B-test primitive: for each pair of event types, Welch's
  // t-statistic and Welch–Satterthwaite degrees of freedom on `value`.
  // One exact-decimal aggregation produces (n, Σx, Σx²) per type; the
  // 5×5 pair expansion is a broadcast self-join of a 5-row frame, and
  // mean/variance/t/df are one double tree identical on both engines.
  private val q81: Q = (s, dir) => {
    val x = dec2(col("value"))
    val base = Events.events(s, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), d(sum(x)).as("sx"),
        d(sum(x * x)).as("sxx"))
      .withColumn("mean", col("sx") / col("n"))
      .withColumn("var",
        (col("sxx") - col("sx") * col("sx") / col("n")) / (col("n") - 1))
    val a = base.select(col("event_type").as("type_a"),
      col("n").as("na"), col("mean").as("ma"), col("var").as("va"))
    val b = base.select(col("event_type").as("type_b"),
      col("n").as("nb"), col("mean").as("mb"), col("var").as("vb"))
    val se2 = col("va") / col("na") + col("vb") / col("nb")
    a.join(broadcast(b), col("type_a") < col("type_b"))
      .select(col("type_a"), col("type_b"),
        round((col("ma") - col("mb")) / sqrt(se2), 6).as("t_stat"),
        round(se2 * se2 /
          ((col("va") / col("na")) * (col("va") / col("na")) /
            (col("na") - 1) +
           (col("vb") / col("nb")) * (col("vb") / col("nb")) /
            (col("nb") - 1)), 6).as("df"))
      .orderBy(col("type_a"), col("type_b"))
  }

  private val q81Sql =
    """WITH s AS (
      |  SELECT event_type, count(*) AS n,
      |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sx,
      |    CAST(sum(CAST(value AS DECIMAL(18,2)) *
      |             CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sxx
      |  FROM events GROUP BY event_type),
      |m AS (
      |  SELECT event_type, n, sx / n AS mean,
      |    (sxx - sx * sx / n) / (n - 1) AS var FROM s)
      |SELECT a.event_type AS type_a, b.event_type AS type_b,
      |  round((a.mean - b.mean) /
      |    sqrt(a.var / a.n + b.var / b.n), 6) AS t_stat,
      |  round((a.var / a.n + b.var / b.n) * (a.var / a.n + b.var / b.n) /
      |    ((a.var / a.n) * (a.var / a.n) / (a.n - 1) +
      |     (b.var / b.n) * (b.var / b.n) / (b.n - 1)), 6) AS df
      |FROM m a JOIN m b ON a.event_type < b.event_type
      |ORDER BY type_a, type_b""".stripMargin

  // ---- q82_rfm: recency/frequency/monetary segmentation ------------
  // Marketing's RFM cube: quartile each customer on days-since-last-
  // order, order count, and exact-decimal spend, then census the 64
  // segments. ntile is deterministic only under a TOTAL order, so
  // every ORDER BY carries o_custkey as the tiebreak (same in the
  // oracle). CUSTOMERS SCALE WITH THE CORPUS, so the three quartile
  // assignments run through operators.DistributedNtile (range-
  // partitioned exact ntile — no single-partition Window/Sort
  // anywhere; VERDICT r7 flagged the previous global ntile windows as
  // the one-task straggler at 100×). Pinned window-free in StatsSpec.
  private val q82: Q = (s, dir) => {
    val orders = t(s, dir, "orders")
    // recency ordering needs no reference date: days-since-last-order
    // ASC is exactly last-order-DAY DESC (same custkey tiebreak), so
    // the max-date scalar subquery + crossJoin stages are dropped and
    // the recency tile sorts on the per-customer aggregate directly.
    val cust = orders
      .groupBy(col("o_custkey"))
      .agg(max(col("o_orderdate").cast(DateType)).as("last_day"),
        count(lit(1)).as("frequency"),
        sum(dec2(col("o_totalprice"))).as("monetary"))
      // seven consumers read this aggregate (the base join + 3 tile
      // axes x 2 subtrees each): checkpoint it once instead of
      // re-running the orders scan+agg per subtree —
      // partition-count-preserving, executor-local storage
      .localCheckpoint(false)
    val nt = graft.operators.DistributedNtile
    // three INDEPENDENT tile axes. tilesMany (round 13) shared ONE
    // sketch pass and ONE count job across the axes (6 → 2 eager
    // construction jobs); tilesFused (round 14, VERDICT r13 Next #3)
    // also serves all three tile columns from ONE corpus exchange —
    // one (axis, bucket) window + one broadcast offsets join + one
    // per-customer pivot replace three exchange+window+join pipelines
    // and two of the three re-joins (17 → ~10 jobs at sf0.1). Ranks,
    // and therefore tiles, are identical to the per-axis form
    // (parity pinned in DistributedNtileSpec).
    val tilesDf = nt.tilesFused(cust, 4, Seq("o_custkey"), Seq(
      ("r", Seq(col("last_day").desc, col("o_custkey"))),
      ("f", Seq(col("frequency").desc, col("o_custkey"))),
      ("m", Seq(col("monetary").desc, col("o_custkey")))))
    val seg = cust
      .join(tilesDf, Seq("o_custkey"))
    seg.groupBy(col("r"), col("f"), col("m"))
      .agg(count(lit(1)).as("n_customers"),
        d(sum(col("monetary"))).as("seg_spend"))
      .orderBy(col("r"), col("f"), col("m"))
  }

  private val q82Sql =
    """WITH cust AS (
      |  SELECT o_custkey,
      |    date_diff('day', max(o_orderdate),
      |      (SELECT max(o_orderdate) FROM orders)) AS recency,
      |    count(*) AS frequency,
      |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary
      |  FROM orders GROUP BY o_custkey),
      |seg AS (
      |  SELECT o_custkey, monetary,
      |    ntile(4) OVER (ORDER BY recency, o_custkey) AS r,
      |    ntile(4) OVER (ORDER BY frequency DESC, o_custkey) AS f,
      |    ntile(4) OVER (ORDER BY monetary DESC, o_custkey) AS m
      |  FROM cust)
      |SELECT CAST(r AS INTEGER) AS r, CAST(f AS INTEGER) AS f,
      |  CAST(m AS INTEGER) AS m, count(*) AS n_customers,
      |  CAST(sum(monetary) AS DOUBLE) AS seg_spend
      |FROM seg GROUP BY r, f, m ORDER BY r, f, m""".stripMargin

  // ---- q83_assoc_rules: market-basket support/confidence/lift ------
  // Association rules over order baskets: for part pairs co-occurring
  // in an order, support / confidence / lift, top 20 by lift. The
  // pair explosion is bounded BY THE BASKET (≤ C(items,2) per order,
  // items ≤ ~20 in this schema), so the self-join on l_orderkey is
  // linear in orders — the scale-safe shape; a corpus-wide pair join
  // without the basket key would be the quadratic mistake. The
  // deduped basket (basketArraysFor) is one reused dedup exchange
  // that serves the order count, the item counts, and both pair
  // sides. Counts are integers; ratios are one rounded double tree.
  private val q83: Q = (s, dir) => {
    val li = t(s, dir, "lineitem")
    val baskets = basketArraysFor(li)
    val nOrders = baskets.agg(count(lit(1)).as("n_orders"))
    val item = basketItemCountsFor(li)
    // ordered pairs (a < b) generated row-locally from the sorted
    // array — bounded by C(basket,2) per order, no self-join; the
    // codegen-friendly tight-loop expression replaces the interpreted
    // HOF chain (1.5 s of the total at sf0.1).
    val pairs = basketPairCountsFor(li)
    // item counts are catalog-sized (≪ baskets): broadcast both probe
    // sides so the pair frame (the big side) never re-shuffles.
    // Round-14: DATASET aliases instead of renaming projections — a
    // projection below the broadcast made the two exchanges
    // canonically different, so each invocation built the identical
    // broadcast twice; with the rename above the exchange both joins
    // share ONE build (ReusedExchange, 6 → 5 jobs at sf0.1).
    val ia = item.as("ia")
    val ib = item.as("ib")
    pairs
      .join(broadcast(ia), col("part_a") === col("ia.l_partkey"))
      .join(broadcast(ib), col("part_b") === col("ib.l_partkey"))
      .crossJoin(broadcast(nOrders))
      .select(col("part_a"), col("part_b"), col("pc").as("n_both"),
        round(d(col("pc")) / col("n_orders"), 6).as("support"),
        round(d(col("pc")) / col("ia.cnt"), 6).as("confidence"),
        round(d(col("pc")) * col("n_orders") /
          (d(col("ia.cnt")) * col("ib.cnt")), 6).as("lift"))
      .orderBy(col("lift").desc, col("part_a"), col("part_b"))
      .limit(20)
  }

  private val q83Sql =
    """WITH basket AS (
      |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM basket),
      |item AS (
      |  SELECT l_partkey, count(*) AS cnt FROM basket GROUP BY 1),
      |pairs AS (
      |  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
      |    count(*) AS pc
      |  FROM basket a JOIN basket b ON a.l_orderkey = b.l_orderkey
      |    AND a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2)
      |SELECT part_a, part_b, pc AS n_both,
      |  round(CAST(pc AS DOUBLE) / n.n_orders, 6) AS support,
      |  round(CAST(pc AS DOUBLE) / ia.cnt, 6) AS confidence,
      |  round(CAST(pc AS DOUBLE) * n.n_orders /
      |    (CAST(ia.cnt AS DOUBLE) * ib.cnt), 6) AS lift
      |FROM pairs
      |JOIN item ia ON ia.l_partkey = part_a
      |JOIN item ib ON ib.l_partkey = part_b, n
      |ORDER BY lift DESC, part_a, part_b LIMIT 20""".stripMargin

  // ---- q84_triangles: co-occurrence-graph triangle census ----------
  // Network analysis over a graph DERIVED from the data: suppliers are
  // adjacent when they co-occur in an order unusually often (pair
  // count ≥ the P95 of pair counts — a relative threshold, so the
  // graph stays sparse at every scale; a fixed count would go dense
  // or empty as SF moves). The edge list is a session artifact
  // (supplierEdgesFor): built once, persisted, and served to the
  // degree census, the wedge join, and the edge count — the naive
  // form re-ran the whole pair pipeline four times (11.1 s at sf0.1;
  // 4 copies of the dedup + self-join + percentile). Triangles by the
  // ordered wedge join (u<v<w), wedge count from degrees — both
  // linear in edges × degree on a thresholded (sparse) graph. Output
  // is the one-row census: nodes, edges, triangles, global
  // clustering coefficient.
  private val q84: Q = (s, dir) => {
    val edges = supplierEdgesFor(t(s, dir, "lineitem"))
    val deg = supplierDegFor(edges)
    // n_edges = Σdeg / 2 (every edge contributes to exactly two
    // nodes' degrees): the edge count rides the SAME one-row degree
    // aggregate as the wedge count — the r13 form paid a separate
    // edge-artifact count pass + its broadcast (round-14; 8 → 6 jobs
    // at sf0.1). Σdeg is even by construction and ≪ 2^53, so the
    // double division is exact and the cast loss-free.
    val wedges = deg.agg(
      sum(col("deg") * (col("deg") - 1) / 2).as("n_wedges"),
      count(lit(1)).as("n_nodes"),
      (sum(col("deg")) / 2).cast(LongType).as("n_edges"))
    // Degree-ordered orientation (each edge points from its lower
    // (degree, id) endpoint): every triangle has a unique minimum
    // vertex, whose two out-edges form the one counted wedge — wedge
    // work is O(Σ out-deg²) = O(E^1.5) worst case, where the naive
    // id-ordered wedge join is Σ deg² and degenerates on hubs. The
    // count is identical; only the enumeration strategy changes.
    val oriented = supplierOrientedFor(edges, deg)
    val tri = oriented.as("e1")
      .join(oriented.as("e2"),
        col("e1.s") === col("e2.s") &&
          (col("e1.tdeg") < col("e2.tdeg") ||
           (col("e1.tdeg") === col("e2.tdeg") &&
            col("e1.t") < col("e2.t"))))
      .join(oriented.as("e3"),
        col("e1.t") === col("e3.s") && col("e2.t") === col("e3.t"),
        "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    wedges.crossJoin(broadcast(tri))
      .select(col("n_nodes"), col("n_edges"), col("n_triangles"),
        round(lit(3.0) * col("n_triangles") / col("n_wedges"), 6)
          .as("clustering_coeff"))
  }

  // the supplier co-occurrence edge construction, shared by the q84
  // census and the q101 k-core oracles (named constant, not string
  // surgery — the ADVICE r7 dedupStatsSql lesson)
  private val supplierEdgesCte =
    """os AS (
      |  SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
      |pc AS (
      |  SELECT a.l_suppkey AS u, b.l_suppkey AS v, count(*) AS cnt
      |  FROM os a JOIN os b ON a.l_orderkey = b.l_orderkey
      |    AND a.l_suppkey < b.l_suppkey
      |  GROUP BY 1, 2),
      |thr AS (SELECT quantile_disc(cnt, 0.95) AS thr FROM pc),
      |edges AS (SELECT u, v FROM pc, thr WHERE cnt >= thr.thr)""".stripMargin

  private val q84Sql =
    "WITH " + supplierEdgesCte + ",\n" +
    """deg AS (
      |  SELECT node, count(*) AS deg FROM (
      |    SELECT u AS node FROM edges
      |    UNION ALL SELECT v AS node FROM edges)
      |  GROUP BY node),
      |w AS (SELECT sum(deg * (deg - 1) / 2) AS n_wedges,
      |        count(*) AS n_nodes FROM deg),
      |tri AS (
      |  SELECT count(*) AS n_triangles
      |  FROM edges e1
      |  JOIN edges e2 ON e1.v = e2.u
      |  JOIN edges e3 ON e1.u = e3.u AND e2.v = e3.v),
      |ne AS (SELECT count(*) AS n_edges FROM edges)
      |SELECT w.n_nodes, ne.n_edges, tri.n_triangles,
      |  round(3.0 * tri.n_triangles / w.n_wedges, 6)
      |    AS clustering_coeff
      |FROM w, ne, tri""".stripMargin

  // ---- q101_kcore: k-core decomposition of the co-occurrence graph --
  // The cohesion census beside q84's triangle census: for k in {2, 3},
  // every supplier in the k-core of the thresholded co-occurrence
  // graph with its in-core degree. operators.KCore peels the graph to
  // the unique fixpoint (sequential one-executor peel for
  // catalog-bounded graphs, round-checkpointed parallel peel at
  // scale); the oracle mirrors it as a recursive CTE that peels with
  // per-iteration window degrees. After convergence the alive set is
  // stable, so the oracle's fixed-iteration snapshot IS the fixpoint
  // PROVIDED the peel converges within that budget — which the engine
  // ENFORCES: `maxRounds = kcoreOracleRounds` makes KCore raise (on
  // both execution paths — the sequential peel counts frontier
  // levels) for any graph whose synchronous peel needs more rounds
  // than the oracle iterates, so engine and oracle can disagree only
  // by BOTH failing loudly, never silently (the shared edge CTE keeps
  // both oracles on the same graph).
  private val kcoreOracleRounds = 64
  private val q101: Q = (s, dir) => {
    val edges = supplierEdgesFor(t(s, dir, "lineitem"))
    Seq(2, 3).map { k =>
      graft.operators.KCore.of(edges, k, maxRounds = kcoreOracleRounds)
        .select(lit(k.toLong).as("k"), col("id").as("supp_id"),
          col("core_degree"))
    }.reduce(_ unionByName _)
      .orderBy(col("k"), col("supp_id"))
  }

  private val q101Sql =
    "WITH RECURSIVE " + supplierEdgesCte + ",\n" +
    """dir AS (
      |  SELECT u AS n, v AS m FROM edges
      |  UNION ALL SELECT v, u FROM edges),
      |ks AS (SELECT * FROM (VALUES (2), (3)) t(k)),
      |alive(k, iter, n, m) AS (
      |  SELECT ks.k, 0, n, m FROM dir, ks
      |  UNION ALL
      |  SELECT e.k, e.iter + 1, e.n, e.m FROM (
      |    SELECT a.k, a.iter, a.n, a.m,
      |      count(*) OVER (PARTITION BY a.k, a.iter, a.n) AS dn,
      |      count(*) OVER (PARTITION BY a.k, a.iter, a.m) AS dm
      |    FROM alive a) e
      |  WHERE e.dn >= e.k AND e.dm >= e.k
      |    AND e.iter < $ROUNDS)
      |SELECT CAST(k AS BIGINT) AS k, n AS supp_id,
      |  CAST(count(*) AS BIGINT) AS core_degree
      |FROM alive WHERE iter = $ROUNDS
      |GROUP BY k, n ORDER BY k, supp_id""".stripMargin
      .replace("$ROUNDS", kcoreOracleRounds.toString)

  // ---- q85_bitagg: bitwise / boolean aggregates --------------------
  // The flag-folding aggregates (feature masks, permission bits,
  // all/any predicates) — native codegen'd aggregates in both engines,
  // trivially mergeable so map-side partials do all the work.
  private val q85: Q = (s, dir) => {
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(expr("bit_and(l_partkey)").as("mask_and"),
        expr("bit_or(l_partkey)").as("mask_or"),
        expr("bit_xor(l_partkey)").as("mask_xor"),
        expr("bool_and(l_discount <= 0.1)").as("all_low_disc"),
        expr("bool_or(l_quantity >= 50)").as("any_bulk"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  private val q85Sql =
    """SELECT l_returnflag, l_linestatus,
      |  bit_and(l_partkey) AS mask_and,
      |  bit_or(l_partkey) AS mask_or,
      |  bit_xor(l_partkey) AS mask_xor,
      |  bool_and(l_discount <= 0.1) AS all_low_disc,
      |  bool_or(l_quantity >= 50) AS any_bulk
      |FROM lineitem GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---- q86_moments: skewness / excess kurtosis from exact sums -----
  // Distribution-shape audit per event type. Native skewness/kurtosis
  // stream doubles in partition order AND the two engines disagree on
  // bias correction — so both are computed from first principles:
  // exact integer-cent power sums S1..S4 (DECIMAL(12,0) chain keeps
  // every product within both engines' 38-digit cap), then the
  // population central-moment formulas as one shared double tree.
  // Standardized moments are scale-invariant, so cents ≡ units. (The
  // oracle rides HUGEINT — same exact integers; DuckDB's decimal
  // multiply overflows at width 18 where Spark's widens to 38.)
  // Exactness bound made LOUD (r6 ADVICE): c⁴ stays within the
  // 38-digit product cap only for |cents| < 10⁹ (|value| ≤ $10M), so
  // a row outside that range raises instead of silently NULLing out
  // of the power sums while the HUGEINT oracle keeps it.
  private val q86: Q = (s, dir) => {
    val cents = round(col("value") * 100, 0)
    val c = when(abs(cents) >= lit(1e9), raise_error(concat(
        lit("q86_moments: |value| exceeds the $10M exact-moment " +
          "range (c^4 would overflow DECIMAL(38,0)): "),
        col("value").cast(StringType))))
      .otherwise(cents).cast(DecimalType(12, 0))
    val events = Events.events(s, dir)
    events
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), count(c).as("nc"),
        d(sum(c)).as("s1"), d(sum(c * c)).as("s2"),
        d(sum(c * c * c)).as("s3"),
        d(sum((c * c * c) * c)).as("s4"))
      // the SUM can overflow even when every row passes the per-row
      // guard (r7 review): ~100+ rows near the \$10M bound push S4
      // past DECIMAL(38,0), which non-ANSI Spark NULLs silently while
      // the HUGEINT oracle errors. S4 dominates S1-S3 for integer
      // cents (|c| >= 1 => c^4 >= c^3 >= ...), so the one guard
      // covers the family; nc > 0 distinguishes overflow from the
      // legitimate all-NULL-values group.
      .withColumn("s4",
        when(col("nc") > 0 && col("s4").isNull, raise_error(lit(
          "q86_moments: the S4 power sum overflowed DECIMAL(38,0) " +
            "for a group — too many near-bound values; compute " +
            "moments over a narrower range or shard the group")))
          .otherwise(col("s4")))
      .withColumn("mean", col("s1") / col("n"))
      .withColumn("m2", col("s2") / col("n") - col("mean") * col("mean"))
      .withColumn("m3", col("s3") / col("n") -
        lit(3) * col("mean") * (col("s2") / col("n")) +
        lit(2) * col("mean") * col("mean") * col("mean"))
      .withColumn("m4", col("s4") / col("n") -
        lit(4) * col("mean") * (col("s3") / col("n")) +
        lit(6) * col("mean") * col("mean") * (col("s2") / col("n")) -
        lit(3) * col("mean") * col("mean") * col("mean") * col("mean"))
      .select(col("event_type"), col("n"),
        round(col("m3") / sqrt(col("m2") * col("m2") * col("m2")), 6)
          .as("skewness"),
        round(col("m4") / (col("m2") * col("m2")) - 3, 6)
          .as("excess_kurtosis"))
      .orderBy(col("event_type"))
  }

  private val q86Sql =
    """WITH s AS (
      |  SELECT event_type, count(*) AS n,
      |    CAST(sum(c) AS DOUBLE) AS s1,
      |    CAST(sum(c * c) AS DOUBLE) AS s2,
      |    CAST(sum(c * c * c) AS DOUBLE) AS s3,
      |    CAST(sum((c * c * c) * c) AS DOUBLE) AS s4
      |  FROM (SELECT event_type,
      |          CAST(round(value * 100, 0) AS HUGEINT) AS c
      |        FROM events)
      |  GROUP BY event_type),
      |m AS (
      |  SELECT event_type, n, s1 / n AS mean,
      |    s2 / n - (s1 / n) * (s1 / n) AS m2,
      |    s3 / n - 3 * (s1 / n) * (s2 / n) +
      |      2 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
      |    s4 / n - 4 * (s1 / n) * (s3 / n) +
      |      6 * (s1 / n) * (s1 / n) * (s2 / n) -
      |      3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n) AS m4
      |  FROM s)
      |SELECT event_type, n,
      |  round(m3 / sqrt(m2 * m2 * m2), 6) AS skewness,
      |  round(m4 / (m2 * m2) - 3, 6) AS excess_kurtosis
      |FROM m ORDER BY event_type""".stripMargin

  // ---- q87_seasonal_anomaly: seasonal-profile z-score audit ---------
  // The metrics-anomaly screen with a SEASONAL baseline: mean/std per
  // (event type, hour-of-day) — the profile — then events beyond 3σ
  // OF THEIR OWN SEASON are flagged. The profile is a bounded-alphabet
  // aggregate (types × 24) built from exact decimal sums, shipped
  // broadcast; the flagging pass is one filter — embarrassingly
  // parallel. A flat 3σ over the whole series (q76's shape) would
  // flag every rush-hour burst; the seasonal profile is what a
  // production monitor actually runs.
  private val q87: Q = (s, dir) => {
    // the profile derivation is SHARED with the incremental maintainer
    // (streaming.SeasonalProfileStream): this query is its one-shot
    // twin, so a monitor can switch between them without drift — and
    // the profile is exactly the state the maintainer keeps, so it is
    // session-persisted like the other maintained artifacts (the
    // flagging pass re-reads it instead of re-aggregating the corpus)
    val ev = Events.events(s, dir)
    val profBase = ArtifactStore.frame("seasonal_profile", ev)(
      graft.streaming.SeasonalProfileStream.batchProfile(ev))
    val prof = profBase
      // mean4: round-half-up(sx/n · 10⁴) in exact integer arithmetic
      // (sx is DECIMAL scale 2, so 2·sx·10⁴ is integral) — computed
      // BEFORE sx degrades to double for the predicate tree
      .withColumn("mean4", expr("(2 * sx * 10000 + n) DIV (2 * n)"))
      .withColumn("sx", d(col("sx")))
      .withColumn("sxx", d(col("sxx")))
      .withColumn("mean", col("sx") / col("n"))
      .withColumn("std", sqrt(
        (col("sxx") - col("sx") * col("sx") / col("n")) / (col("n") - 1)))
    ev
      .withColumn("hr", hour(col("ts")))
      .join(broadcast(prof), Seq("event_type", "hr"))
      .groupBy(col("event_type"), col("hr"), col("n"), col("mean"),
        col("std"), col("mean4"))
      .agg(sum(when(abs(col("value") - col("mean")) >
          lit(3.0) * col("std"), 1L).otherwise(0L)).as("n_anomalies"))
      .select(col("event_type"), col("hr").cast(LongType).as("hr"),
        col("n").as("n_events"),
        // presented mean: exact-integer HALF_UP of the rational
        // sx/n (the q99 floor((2p+q)/(2q)) discipline — sx is a
        // cents-grid decimal over a modest denominator, so round(
        // double, 4) ties are INEVITABLE at some volume and Spark's
        // string-repr round splits them against DuckDB's binary
        // round); the anomaly PREDICATE keeps the raw double
        // mean/std (one mirrored tree, same decisions both engines)
        (d(col("mean4")) / 10000.0).as("season_mean"),
        round(col("std"), 4).as("season_std"),
        col("n_anomalies"))
      .orderBy(col("event_type"), col("hr"))
  }

  private val q87Sql =
    """WITH prof AS (
      |  SELECT event_type, hour(ts) AS hr, count(*) AS n,
      |    CAST(sum(CAST(value AS DECIMAL(18,2)) * 100) AS HUGEINT)
      |      AS sxc,
      |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sx,
      |    CAST(sum(CAST(value AS DECIMAL(18,2)) *
      |             CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sxx
      |  FROM events GROUP BY 1, 2),
      |p AS (
      |  SELECT event_type, hr, n, sx / n AS mean,
      |    (2 * sxc * 100 + n) // (2 * n) AS mean4,
      |    sqrt((sxx - sx * sx / n) / (n - 1)) AS std
      |  FROM prof)
      |SELECT e.event_type, CAST(p.hr AS BIGINT) AS hr,
      |  p.n AS n_events,
      |  CAST(p.mean4 AS DOUBLE) / 10000.0 AS season_mean,
      |  round(p.std, 4) AS season_std,
      |  CAST(sum(CASE WHEN abs(e.value - p.mean) > 3.0 * p.std
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
      |FROM events e JOIN p
      |  ON e.event_type = p.event_type AND hour(e.ts) = p.hr
      |GROUP BY e.event_type, p.hr, p.n, p.mean, p.mean4, p.std
      |ORDER BY e.event_type, hr""".stripMargin

  // ---- q88_cohort_matrix: purchase-cohort / day-offset retention ----
  // The cohort-retention matrix behind every growth dashboard: users
  // grouped by FIRST-PURCHASE day, each later purchase-active day
  // counted at its offset, retention = active / cohort size. (First
  // purchase, not first event: on this schema every user appears on
  // day one, so event-based cohorts are degenerate; purchase adoption
  // spreads over weeks — the realistic conversion cohort.) Two
  // aggregations on the same user partitioning, cohort sizes
  // broadcast back.
  private val q88: Q = (s, dir) => {
    // ONE user-keyed exchange: each user's sorted distinct purchase
    // days collapse to an array (collect_set dedups in place), and
    // cohort day + offsets are ROW-LOCAL functions of the array —
    // the distinct / first-day / join formulation paid three
    // exchanges for the same rows (days per user are calendar-
    // bounded, so the array cannot grow past it)
    val userDays = Events.events(s, dir)
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(sort_array(collect_set(col("ts").cast(DateType)))
        .as("days"))
    val cohortSize = userDays
      .groupBy(col("days").getItem(0).as("cohort_day"))
      .agg(count(lit(1)).as("cohort_size"))
    userDays
      .select(col("days").getItem(0).as("cohort_day"),
        explode(expr("transform(days, x -> datediff(x, days[0]))"))
          .as("off"))
      .groupBy(col("cohort_day"), col("off").cast(LongType)
        .as("day_offset"))
      .agg(count(lit(1)).as("n_active"))
      .join(broadcast(cohortSize), Seq("cohort_day"))
      .select(col("cohort_day"), col("day_offset"), col("n_active"),
        col("cohort_size"),
        round(d(col("n_active")) / col("cohort_size"), 6)
          .as("retention"))
      .orderBy(col("cohort_day"), col("day_offset"))
  }

  private val q88Sql =
    """WITH days AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
      |  FROM events WHERE event_type = 'purchase'),
      |fd AS (
      |  SELECT user_id, min(day) AS cohort_day FROM days GROUP BY 1),
      |cs AS (
      |  SELECT cohort_day, count(*) AS cohort_size FROM fd GROUP BY 1),
      |act AS (
      |  SELECT f.cohort_day,
      |    CAST(date_diff('day', f.cohort_day, d.day) AS BIGINT)
      |      AS day_offset,
      |    count(*) AS n_active
      |  FROM days d JOIN fd f USING (user_id)
      |  GROUP BY 1, 2)
      |SELECT a.cohort_day, a.day_offset, a.n_active, cs.cohort_size,
      |  round(CAST(a.n_active AS DOUBLE) / cs.cohort_size, 6)
      |    AS retention
      |FROM act a JOIN cs USING (cohort_day)
      |ORDER BY cohort_day, day_offset""".stripMargin

  // ---- q89_abc: Pareto / ABC contribution analysis ------------------
  // Classify parts by cumulative revenue share (A ≤ 80%, B ≤ 95%,
  // C = tail) — the inventory-prioritization classic. Exact decimal
  // revenue sums; the cumulative share is a running DECIMAL sum over
  // a TOTAL order (revenue desc, partkey tiebreak), so the class
  // boundary is deterministic. The single-partition window is bounded
  // by the CATALOG (parts), not the corpus (q82's customer frame has
  // no such bound — it rides DistributedNtile instead); a corpus-
  // scale cumulative share would ride q52's sketch.
  private val q89: Q = (s, dir) => {
    val rev = t(s, dir, "lineitem")
      .groupBy(col("l_partkey"))
      .agg(sum(dec2(col("l_extendedprice"))).as("rev"))
    // ONE sorted window stage serves both the running sum and the
    // grand total (unbounded-both frame on the same sort) — the
    // separate scalar-aggregate + crossJoin cost two extra stages
    val ord = Window.orderBy(col("rev").desc, col("l_partkey"))
    val wCum = ord.rowsBetween(Window.unboundedPreceding,
      Window.currentRow)
    val wTot = ord.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    rev
      .withColumn("tot", sum(col("rev")).over(wTot))
      .withColumn("cumshare", d(sum(col("rev")).over(wCum)) /
        d(col("tot")))
      .withColumn("abc_class",
        when(col("cumshare") <= 0.8, "A")
          .when(col("cumshare") <= 0.95, "B").otherwise("C"))
      .groupBy(col("abc_class"))
      .agg(count(lit(1)).as("n_parts"),
        round(d(sum(col("rev"))) / first(d(col("tot"))), 6)
          .as("revenue_share"))
      .orderBy(col("abc_class"))
  }

  private val q89Sql =
    """WITH rev AS (
      |  SELECT l_partkey,
      |    sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev
      |  FROM lineitem GROUP BY 1),
      |tot AS (SELECT sum(rev) AS tot FROM rev),
      |ranked AS (
      |  SELECT l_partkey, rev,
      |    CAST(sum(rev) OVER (ORDER BY rev DESC, l_partkey
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS DOUBLE) / CAST(tot.tot AS DOUBLE) AS cumshare
      |  FROM rev, tot),
      |classed AS (
      |  SELECT l_partkey, rev,
      |    CASE WHEN cumshare <= 0.8 THEN 'A'
      |         WHEN cumshare <= 0.95 THEN 'B' ELSE 'C' END AS abc_class
      |  FROM ranked)
      |SELECT abc_class, count(*) AS n_parts,
      |  round(CAST(sum(rev) AS DOUBLE) /
      |    (SELECT CAST(tot AS DOUBLE) FROM tot), 6) AS revenue_share
      |FROM classed GROUP BY abc_class ORDER BY abc_class""".stripMargin

  // ---- q90_percentile_disc: discrete (witnessed) percentiles --------
  // The percentile family's third member: q39 interpolates
  // (percentile ≡ quantile_cont), q52 sketches at corpus scale — this
  // one returns an ACTUAL data value (the SLA-report convention:
  // "p90 latency" must be a latency that happened). Spark has no
  // exact percentile_disc aggregate, so the witness is selected by
  // rank: DuckDB's quantile_disc semantics (probed before mirroring)
  // are the value at 1-based position max(ceil(p·n), 1) of the sorted
  // group. Round-12 (WindowAuditSpec): the rank used to come from a
  // row_number window partitioned by the 5-value event_type — the
  // q39 straggler class — and now comes from the q80 cells shape:
  // one map-side-combinable (event_type, value) histogram pass, then
  // cumulative counts over the bounded value grid select the witness
  // (the value at rank r is the smallest bucket whose cumulative
  // count reaches r — same multiset, same value, and the event_id
  // tiebreak never mattered for VALUE selection). Values pass
  // through untouched: no rounding needed, the output IS input data.
  private val q90: Q = (s, dir) => {
    val cells = Events.events(s, dir)
      .groupBy(col("event_type"), col("value"))
      .agg(count(lit(1)).as("c"))
    val wc = Window.partitionBy(col("event_type")).orderBy(col("value"))
    def pos(p: Double) =
      greatest(ceil(lit(p) * col("n")), lit(1)).cast(LongType)
    cells
      .select(col("event_type"), col("value"),
        sum(col("c")).over(wc).as("cum"),
        sum(col("c")).over(Window.partitionBy(col("event_type")))
          .as("n"))
      .groupBy(col("event_type"), col("n"))
      .agg(min(when(col("cum") >= pos(0.5), col("value"))).as("p50_disc"),
        min(when(col("cum") >= pos(0.9), col("value"))).as("p90_disc"),
        min(when(col("cum") >= pos(0.99), col("value"))).as("p99_disc"))
      .select(col("event_type"), col("n"), col("p50_disc"),
        col("p90_disc"), col("p99_disc"))
      .orderBy(col("event_type"))
  }

  private val q90Sql =
    """SELECT event_type, count(*) AS n,
      |  quantile_disc(value, 0.5) AS p50_disc,
      |  quantile_disc(value, 0.9) AS p90_disc,
      |  quantile_disc(value, 0.99) AS p99_disc
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---- q91_growth_accounting: new/retained/resurrected/churned ------
  // The DAU growth-accounting decomposition (every active user is
  // exactly one of new / retained / resurrected; churn is attributed
  // to the first INACTIVE day), satisfying the conservation identity
  // DAU(d) = DAU(d−1) + new + resurrected − churned — pinned in
  // StatsSpec, since the identity is what dashboards reconcile
  // against. One user-partitioned window pass (lag + lead) classifies
  // every activity day; churn events are emitted from the same pass;
  // the per-day counts meet in a coalesced full-outer join on the
  // (bounded) day axis.
  private val q91: Q = (s, dir) => {
    // ONE user-keyed exchange, ONE day-keyed aggregation: each user's
    // sorted distinct day array yields predecessor/successor (and
    // therefore new/retained/resurrected/churn-at-day+1 flags)
    // ROW-LOCALLY, so the whole decomposition is emit-flags → one
    // groupBy(day) sum — no windows, no join. The trailing churn row
    // at max_day+1 (users whose activity simply ends with the
    // observation window) is dropped by a window over the tiny
    // per-day frame.
    val userDays = Events.events(s, dir)
      .groupBy(col("user_id"))
      .agg(sort_array(collect_set(col("ts").cast(DateType)))
        .as("days"))
    val marked = userDays.select(explode(expr(
        "transform(sequence(0, size(days) - 1), i -> struct(" +
          "days[i] AS day, " +
          "IF(i > 0, days[i - 1], NULL) AS prev, " +
          "IF(i < size(days) - 1, days[i + 1], NULL) AS next))"))
        .as("m"))
      .select(col("m.day").as("day"), col("m.prev").as("prev"),
        col("m.next").as("next"))
    val flags = marked.select(explode(array(
        struct(col("day"),
          when(col("prev").isNull, 1L).otherwise(0L).as("n"),
          when(col("prev") === date_sub(col("day"), 1), 1L)
            .otherwise(0L).as("r"),
          when(col("prev").isNotNull &&
            col("prev") < date_sub(col("day"), 1), 1L).otherwise(0L)
            .as("s"),
          lit(0L).as("c")),
        struct(date_add(col("day"), 1).as("day"),
          lit(0L).as("n"), lit(0L).as("r"), lit(0L).as("s"),
          when(col("next").isNull ||
            col("next") > date_add(col("day"), 1), 1L).otherwise(0L)
            .as("c")))).as("x"))
      .select(col("x.day").as("day"), col("x.n"), col("x.r"),
        col("x.s"), col("x.c"))
      .filter(col("n") + col("r") + col("s") + col("c") > 0)
    val agg = flags.groupBy(col("day"))
      .agg(sum(col("n")).as("n_new"),
        sum(col("r")).as("n_retained"),
        sum(col("s")).as("n_resurrected"),
        sum(col("c")).as("n_churned"))
      .withColumn("dau",
        col("n_new") + col("n_retained") + col("n_resurrected"))
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    agg
      .withColumn("max_active",
        max(when(col("dau") > 0, col("day"))).over(wAll))
      .filter(col("day") <= col("max_active"))
      .select(col("day"), col("n_new"), col("n_retained"),
        col("n_resurrected"), col("n_churned"), col("dau"))
      .orderBy(col("day"))
  }

  private val q91Sql =
    """WITH act AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |mx AS (SELECT max(day) AS max_day FROM act),
      |marked AS (
      |  SELECT user_id, day,
      |    lag(day) OVER (PARTITION BY user_id ORDER BY day) AS prev,
      |    lead(day) OVER (PARTITION BY user_id ORDER BY day) AS next
      |  FROM act),
      |status AS (
      |  SELECT day,
      |    sum(CASE WHEN prev IS NULL THEN 1 ELSE 0 END) AS n_new,
      |    sum(CASE WHEN prev = day - 1 THEN 1 ELSE 0 END)
      |      AS n_retained,
      |    sum(CASE WHEN prev IS NOT NULL AND prev < day - 1
      |      THEN 1 ELSE 0 END) AS n_resurrected
      |  FROM marked GROUP BY day),
      |churn AS (
      |  SELECT day + 1 AS day, count(*) AS n_churned
      |  FROM marked, mx
      |  WHERE (next IS NULL AND day < mx.max_day) OR next > day + 1
      |  GROUP BY day + 1)
      |SELECT COALESCE(s.day, c.day) AS day,
      |  CAST(COALESCE(s.n_new, 0) AS BIGINT) AS n_new,
      |  CAST(COALESCE(s.n_retained, 0) AS BIGINT) AS n_retained,
      |  CAST(COALESCE(s.n_resurrected, 0) AS BIGINT) AS n_resurrected,
      |  CAST(COALESCE(c.n_churned, 0) AS BIGINT) AS n_churned,
      |  CAST(COALESCE(s.n_new, 0) + COALESCE(s.n_retained, 0) +
      |    COALESCE(s.n_resurrected, 0) AS BIGINT) AS dau
      |FROM status s FULL OUTER JOIN churn c ON s.day = c.day
      |ORDER BY day""".stripMargin

  // ---- q92_event_paths: top behavioral paths (event trigrams) -------
  // The "what do users do next" product-analytics staple: consecutive
  // event-type triples per user (strictly time-ordered, event_id
  // tiebreak), counted corpus-wide, top 15. One user-partitioned
  // window pass (two leads on the same sort) then a bounded
  // aggregation over the |types|³ path alphabet.
  private val q92: Q = (s, dir) => {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    Events.events(s, dir)
      .select(col("user_id"), col("event_type").as("e1"),
        lead(col("event_type"), 1).over(w).as("e2"),
        lead(col("event_type"), 2).over(w).as("e3"))
      .filter(col("e2").isNotNull && col("e3").isNotNull)
      .groupBy(col("e1"), col("e2"), col("e3"))
      .agg(count(lit(1)).as("n_paths"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("n_paths").desc, col("e1"), col("e2"), col("e3"))
      .limit(15)
  }

  private val q92Sql =
    """WITH seq AS (
      |  SELECT user_id, event_type AS e1,
      |    lead(event_type, 1) OVER w AS e2,
      |    lead(event_type, 2) OVER w AS e3
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      |SELECT e1, e2, e3, count(*) AS n_paths,
      |  count(DISTINCT user_id) AS n_users
      |FROM seq WHERE e2 IS NOT NULL AND e3 IS NOT NULL
      |GROUP BY e1, e2, e3
      |ORDER BY n_paths DESC, e1, e2, e3 LIMIT 15""".stripMargin

  // ---- q93_attribution: last-touch purchase attribution -------------
  // Marketing attribution: each purchase credits the MOST RECENT
  // preceding non-purchase event by the same user within a 24 h
  // lookback (the as-of-join shape, expressed as one window pass: a
  // running "last touch" carried by last(ignoreNulls) over the
  // user-ordered stream, then validated against the lookback).
  // Output: credited touch type × conversion count + exact-decimal
  // credited revenue — the attribution report. Purchases with no
  // in-window touch report as 'direct'.
  private val q93: Q = (s, dir) => {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ev = Events.events(s, dir)
      .withColumn("touch_type", last(
        when(col("event_type") =!= "purchase", col("event_type")),
        ignoreNulls = true).over(w))
      .withColumn("touch_ts", last(
        when(col("event_type") =!= "purchase", col("ts")),
        ignoreNulls = true).over(w))
    ev.filter(col("event_type") === "purchase")
      .withColumn("credited",
        when(col("touch_ts").isNotNull &&
          col("touch_ts") >= col("ts") - expr("INTERVAL 24 HOURS"),
          col("touch_type")).otherwise(lit("direct")))
      .groupBy(col("credited"))
      .agg(count(lit(1)).as("n_conversions"),
        d(sum(dec2(col("value")))).as("credited_revenue"))
      .orderBy(col("credited"))
  }

  // ---- q96_linear_attribution: multi-touch attribution --------------
  // The multi-touch complement of q93: each purchase splits its
  // revenue EQUALLY across every preceding non-purchase touch by the
  // same user within the 24 h lookback (linear attribution — the
  // model marketing teams run beside last-touch to expose how much
  // credit last-touch concentrates). No-touch purchases report as
  // 'direct' with full value, the q93 convention — and a purchase has
  // an in-window LAST touch iff it has ANY in-window touch, so the
  // two models' 'direct' rows agree exactly (pinned in StatsSpec).
  // Scale shape: a user-equi + time-range join (the q50 interval
  // pattern — fan-out bounded by per-user 24 h activity, never
  // user²), one pid-partitioned count window, one aggregation.
  // Determinism: per-credit value/n rides ONE shared double tree
  // rounded to 6, then sums as exact DECIMAL (the bm25 contribution
  // discipline: partial-order-independent).
  private val q96: Q = (s, dir) => {
    val ev = Events.events(s, dir)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("pid"), col("user_id"),
        col("ts").as("pts"), dec2(col("value")).as("v"))
    val tch = ev.filter(col("event_type") =!= "purchase")
      .select(col("user_id"), col("ts").as("tts"),
        col("event_type").as("touch"))
    val j = p.join(tch,
      p("user_id") === tch("user_id") &&
        col("tts") < col("pts") &&
        col("tts") >= col("pts") - expr("INTERVAL 24 HOURS"),
      "left")
    val n = count(col("touch")).over(
      Window.partitionBy(col("pid")))
    j.withColumn("n", n)
      .withColumn("credited", coalesce(col("touch"), lit("direct")))
      .withColumn("credit",
        when(col("touch").isNull, col("v").cast(DecimalType(18, 6)))
          .otherwise(round(col("v").cast(DoubleType) / col("n"), 6)
            .cast(DecimalType(18, 6))))
      .groupBy(col("credited"))
      .agg(count(lit(1)).as("n_credits"),
        d(sum(col("credit"))).as("credited_revenue"))
      .orderBy(col("credited"))
  }

  private val q96Sql =
    """WITH p AS (
      |  SELECT event_id AS pid, user_id, ts AS pts,
      |    CAST(value AS DECIMAL(18,2)) AS v
      |  FROM events WHERE event_type = 'purchase'),
      |t AS (
      |  SELECT user_id, ts AS tts, event_type AS touch
      |  FROM events WHERE event_type <> 'purchase'),
      |j AS (
      |  SELECT p.pid, p.v, t.touch FROM p LEFT JOIN t
      |  ON p.user_id = t.user_id AND t.tts < p.pts
      |    AND t.tts >= p.pts - INTERVAL 24 HOUR),
      |c AS (
      |  SELECT pid, v, touch,
      |    count(touch) OVER (PARTITION BY pid) AS n
      |  FROM j)
      |SELECT COALESCE(touch, 'direct') AS credited,
      |  CAST(count(*) AS BIGINT) AS n_credits,
      |  CAST(sum(CASE WHEN touch IS NULL
      |      THEN CAST(v AS DECIMAL(18,6))
      |      ELSE CAST(round(CAST(v AS DOUBLE) / n, 6)
      |        AS DECIMAL(18,6)) END) AS DOUBLE) AS credited_revenue
      |FROM c GROUP BY 1 ORDER BY 1""".stripMargin

  private val q93Sql =
    """WITH ev AS (
      |  SELECT user_id, event_type, ts, value,
      |    last_value(CASE WHEN event_type <> 'purchase'
      |        THEN event_type END IGNORE NULLS) OVER w AS touch_type,
      |    last_value(CASE WHEN event_type <> 'purchase'
      |        THEN ts END IGNORE NULLS) OVER w AS touch_ts
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
      |SELECT CASE WHEN touch_ts IS NOT NULL AND
      |    touch_ts >= ts - INTERVAL 24 HOURS
      |    THEN touch_type ELSE 'direct' END AS credited,
      |  count(*) AS n_conversions,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
      |    AS credited_revenue
      |FROM ev WHERE event_type = 'purchase'
      |GROUP BY 1 ORDER BY credited""".stripMargin

  // ---- q94_grouped_topk: per-group top-k AS AN AGGREGATE ------------
  // The native-aggregate alternative to the window idiom. Spark 3.5+
  // already k-bounds the window shuffle with a partial
  // WindowGroupLimit, but still sorts every map partition twice;
  // functions.TopKAgg is sort-free (O(n log k) heap updates,
  // map-side partial merge) and its output is re-aggregatable state.
  // Oracle = the window idiom (same ties: score desc, custkey desc);
  // the plan pin (ObjectHashAggregate, no Window/Sort) lives in
  // TopKAggSpec.
  private val q94: Q = (s, dir) => {
    val payload = struct(col("c_acctbal").as("acctbal"),
      col("c_custkey").as("custkey"), col("c_name").as("name"))
    t(s, dir, "customer")
      .groupBy(col("c_mktsegment"))
      .agg(graft.functions.TopKAgg.top_k_by(
        d(col("c_acctbal")), payload, 3).as("top"))
      .select(col("c_mktsegment"),
        posexplode(col("top")).as(Seq("rk0", "t")))
      .select(col("c_mktsegment"),
        (col("rk0") + 1).cast(LongType).as("rk"),
        col("t.custkey").as("c_custkey"), col("t.name").as("c_name"),
        col("t.acctbal").as("c_acctbal"))
      .orderBy(col("c_mktsegment"), col("rk"))
  }

  private val q94Sql =
    """WITH rk AS (
      |  SELECT c_mktsegment, c_custkey, c_name, c_acctbal,
      |    row_number() OVER (PARTITION BY c_mktsegment
      |      ORDER BY c_acctbal DESC, c_custkey DESC) AS rk
      |  FROM customer)
      |SELECT c_mktsegment, rk, c_custkey, c_name, c_acctbal
      |FROM rk WHERE rk <= 3
      |ORDER BY c_mktsegment, rk""".stripMargin

  // ---- q95_dq_audit: declarative data-quality constraint report -----
  // The Deequ-style contract check a pipeline runs before publishing
  // a table: key uniqueness, referential integrity, null rates,
  // domain/range constraints — each evaluated as ONE aggregate over
  // its table (no row-level output, violations COUNTED), results
  // unioned into the audit report. Integrity checks ride anti-join
  // counts; everything else is conditional aggregation — all
  // map-side-combinable, nothing collects.
  private val q95: Q = (s, dir) => {
    val li = t(s, dir, "lineitem")
    val o = t(s, dir, "orders")
    val c = t(s, dir, "customer")
    // ONE pass per fact table carries EVERY constraint on it — the
    // same-table conditional aggregates AND the referential-integrity
    // count (round-14, VERDICT r13 Next #5): each fact table
    // left-joins the DISTINCT parent keys (dedup makes the join
    // row-preserving whatever the parent's key quality, so it counts
    // exactly what the r13 anti-join counted — an unmatched row has a
    // null parent key) and one combined aggregate emits row count,
    // null/range/domain/uniqueness violations, and FK violations
    // together. 8 table scans (r13: li×3, o×4, c×1) → 4 (li×1, o×2,
    // c×1), stages 11 → ~7. At fixture scale the parent-key sides
    // broadcast; at 100 TB AQE plans the same join SMJ — the exchange
    // class the anti-join already paid, plus one dedup aggregation of
    // the parent keys (pinned in StatsSpec: one lineitem scan).
    val oKeys = o.select(col("o_orderkey").as("l_orderkey")).distinct()
      .withColumn("__o_hit", lit(1))
    val cKeys = c.select(col("c_custkey").as("o_custkey")).distinct()
      .withColumn("__c_hit", lit(1))
    val liAgg = li.join(oKeys, Seq("l_orderkey"), "left")
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("l_shipdate").isNull, 1L).otherwise(0L))
          .as("v_null"),
        sum(when(col("l_discount") < 0 || col("l_discount") > 0.1, 1L)
          .otherwise(0L)).as("v_range"),
        sum(when(col("__o_hit").isNull, 1L).otherwise(0L)).as("v_fk"))
    val oAgg = o.join(cKeys, Seq("o_custkey"), "left")
      .agg(count(lit(1)).as("n_rows"),
        (count(lit(1)) - countDistinct(col("o_orderkey")))
          .as("v_key"),
        sum(when(!col("o_orderstatus").isin("F", "O", "P"), 1L)
          .otherwise(0L)).as("v_domain"),
        sum(when(col("__c_hit").isNull, 1L).otherwise(0L)).as("v_fk"))
    val liReport = liAgg
      .select(explode(array(
        struct(lit("lineitem.l_shipdate not null")
          .as("constraint_name"), col("n_rows"),
          col("v_null").as("n_violations")),
        struct(lit("lineitem.l_discount in [0, 0.1]")
          .as("constraint_name"), col("n_rows"),
          col("v_range").as("n_violations")),
        struct(lit("lineitem.l_orderkey -> orders")
          .as("constraint_name"), col("n_rows"),
          col("v_fk").as("n_violations")))).as("r"))
      .select(col("r.*"))
    val oReport = oAgg
      .select(explode(array(
        struct(lit("orders.o_orderkey unique").as("constraint_name"),
          col("n_rows"), col("v_key").as("n_violations")),
        struct(lit("orders.o_orderstatus in (F, O, P)")
          .as("constraint_name"), col("n_rows"),
          col("v_domain").as("n_violations")),
        struct(lit("orders.o_custkey -> customer")
          .as("constraint_name"), col("n_rows"),
          col("v_fk").as("n_violations")))).as("r"))
      .select(col("r.*"))
    Seq(liReport, oReport)
      .reduce(_ unionByName _)
      .select(col("constraint_name"), col("n_rows"),
        col("n_violations"),
        (col("n_violations") === 0).as("passed"))
      .orderBy(col("constraint_name"))
  }

  private val q95Sql =
    """SELECT * FROM (
      |  SELECT 'orders.o_orderkey unique' AS constraint_name,
      |    count(*) AS n_rows,
      |    count(*) - count(DISTINCT o_orderkey) AS n_violations,
      |    count(*) - count(DISTINCT o_orderkey) = 0 AS passed
      |  FROM orders
      |  UNION ALL
      |  SELECT 'lineitem.l_orderkey -> orders',
      |    (SELECT count(*) FROM lineitem),
      |    count(*), count(*) = 0
      |  FROM lineitem l WHERE NOT EXISTS (
      |    SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
      |  UNION ALL
      |  SELECT 'orders.o_custkey -> customer',
      |    (SELECT count(*) FROM orders),
      |    count(*), count(*) = 0
      |  FROM orders o WHERE NOT EXISTS (
      |    SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
      |  UNION ALL
      |  SELECT 'lineitem.l_shipdate not null',
      |    count(*),
      |    CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END)
      |      AS BIGINT),
      |    sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) = 0
      |  FROM lineitem
      |  UNION ALL
      |  SELECT 'lineitem.l_discount in [0, 0.1]',
      |    count(*),
      |    CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 0.1
      |      THEN 1 ELSE 0 END) AS BIGINT),
      |    sum(CASE WHEN l_discount < 0 OR l_discount > 0.1
      |      THEN 1 ELSE 0 END) = 0
      |  FROM lineitem
      |  UNION ALL
      |  SELECT 'orders.o_orderstatus in (F, O, P)',
      |    count(*),
      |    CAST(sum(CASE WHEN o_orderstatus NOT IN ('F', 'O', 'P')
      |      THEN 1 ELSE 0 END) AS BIGINT),
      |    sum(CASE WHEN o_orderstatus NOT IN ('F', 'O', 'P')
      |      THEN 1 ELSE 0 END) = 0
      |  FROM orders)
      |ORDER BY constraint_name""".stripMargin

  // ---- llm_curation_funnel: the pipeline END-TO-END in one plan -----
  // The integration showcase: quality gate → fingerprint dedup →
  // decontamination → hash sampling composed as CUMULATIVE flags in
  // a single DataFrame, reported as a per-source funnel (the
  // keep-rate table a curation run publishes). Stage semantics are
  // the deterministic cores of their standalone operators (token-
  // count band; first-occurrence per 8-token-prefix fingerprint —
  // the llm_fingerprint idea; substring probe; md5 membership — the
  // llm_mix_sources idea). One corpus scan + one fingerprint-keyed
  // window + one aggregation; each doc is flagged, never copied, so
  // the funnel costs ONE pass regardless of stage count.
  private val funnel: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val tk = split(col("text"), " ")
    val flagged = docs
      .select(col("doc_id"), col("source"), col("text"),
        size(tk).as("n_tokens"),
        md5(concat_ws(" ", slice(tk, 1, 8))).as("fp"))
      .withColumn("q",
        col("n_tokens") >= 40 && col("n_tokens") <= 90)
      .withColumn("uniq", col("q") && col("doc_id") ===
        min(when(col("q"), col("doc_id")))
          .over(Window.partitionBy(col("fp"))))
      .withColumn("clean",
        col("uniq") && !col("text").contains("batch batch"))
      .withColumn("kept", col("clean") &&
        conv(substring(md5(col("doc_id").cast(StringType)), 1, 1),
          16, 10) < 8)
    flagged.groupBy(col("source"))
      .agg(count(lit(1)).as("n_raw"),
        sum(when(col("q"), 1L).otherwise(0L)).as("n_quality"),
        sum(when(col("uniq"), 1L).otherwise(0L)).as("n_unique"),
        sum(when(col("clean"), 1L).otherwise(0L)).as("n_clean"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_sampled"))
      .orderBy(col("source"))
  }

  private val funnelSql =
    """WITH flagged AS (
      |  SELECT doc_id, source,
      |    len(string_split(text, ' ')) BETWEEN 40 AND 90 AS q,
      |    md5(array_to_string(string_split(text, ' ')[1:8], ' '))
      |      AS fp,
      |    text LIKE '%batch batch%' AS contaminated,
      |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '8' AS sampled
      |  FROM documents),
      |dedup AS (
      |  SELECT *, q AND doc_id = min(CASE WHEN q THEN doc_id END)
      |    OVER (PARTITION BY fp) AS uniq
      |  FROM flagged)
      |SELECT source, count(*) AS n_raw,
      |  CAST(sum(CASE WHEN q THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_quality,
      |  CAST(sum(CASE WHEN uniq THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_unique,
      |  CAST(sum(CASE WHEN uniq AND NOT contaminated THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_clean,
      |  CAST(sum(CASE WHEN uniq AND NOT contaminated AND sampled
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
      |FROM dedup GROUP BY source ORDER BY source""".stripMargin

  val queries: Map[String, Q] = Map(
    "q101_kcore" -> q101,
    "llm_curation_funnel" -> funnel,
    "q95_dq_audit" -> q95,
    "q94_grouped_topk" -> q94,
    "q92_event_paths" -> q92,
    "q93_attribution" -> q93,
    "q96_linear_attribution" -> q96,
    "q91_growth_accounting" -> q91,
    "q90_percentile_disc" -> q90,
    "q87_seasonal_anomaly" -> q87,
    "q88_cohort_matrix" -> q88,
    "q89_abc" -> q89,
    "q78_linreg" -> q78,
    "q79_gaps_islands" -> q79,
    "q80_mad" -> q80,
    "q81_ttest" -> q81,
    "q82_rfm" -> q82,
    "q83_assoc_rules" -> q83,
    "q84_triangles" -> q84,
    "q85_bitagg" -> q85,
    "q86_moments" -> q86)

  val oracles: Map[String, String] = Map(
    "q101_kcore" -> q101Sql,
    "llm_curation_funnel" -> funnelSql,
    "q95_dq_audit" -> q95Sql,
    "q94_grouped_topk" -> q94Sql,
    "q92_event_paths" -> q92Sql,
    "q93_attribution" -> q93Sql,
    "q96_linear_attribution" -> q96Sql,
    "q91_growth_accounting" -> q91Sql,
    "q90_percentile_disc" -> q90Sql,
    "q87_seasonal_anomaly" -> q87Sql,
    "q88_cohort_matrix" -> q88Sql,
    "q89_abc" -> q89Sql,
    "q78_linreg" -> q78Sql,
    "q79_gaps_islands" -> q79Sql,
    "q80_mad" -> q80Sql,
    "q81_ttest" -> q81Sql,
    "q82_rfm" -> q82Sql,
    "q83_assoc_rules" -> q83Sql,
    "q84_triangles" -> q84Sql,
    "q85_bitagg" -> q85Sql,
    "q86_moments" -> q86Sql)
}
