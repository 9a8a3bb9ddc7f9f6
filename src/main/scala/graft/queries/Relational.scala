package graft.queries

import graft.{Canon, Tables, Witness}
import graft.operators.DistributedNtile
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Batch relational query inventory (SURVEY.md §2.3 Q1–Q21, Q26).
  *
  * Every query is declarative DataFrame code — Catalyst plans the scans
  * (parquet pushdown + pruning), picks join strategies (broadcast for
  * the small dims), and does partial aggregation. Each query has a
  * DuckDB oracle with identical column names and ORDER BY so the
  * driver's hash compare is deterministic.
  *
  * Determinism recipe (see Canon): money aggregates run in exact
  * DECIMAL, single final cast to DOUBLE; integer-valued doubles (e.g.
  * l_quantity) may sum natively (exact in IEEE754 at any order);
  * integer-typed function results are cast to BIGINT to match DuckDB's
  * output types; ORDER BY always includes a unique tiebreak.
  */
object Relational {
  import Canon._
  type Q = (SparkSession, String) => DataFrame
  private def t(s: SparkSession, dir: String, n: String) = Tables(s, dir, n)

  // q01: scan + projection + filter (pushdown visible in explain).
  // ORDER BY covers ALL output columns: the synthetic fixture has
  // duplicate (l_orderkey, l_linenumber) pairs, so the 2-key order
  // was not total — the row order then depends on scan partitioning
  // (caught by the r7 view-registered verify, which changed the
  // physical order; identical full-row duplicates are order-free by
  // construction).
  private val q01: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") <= ts("1998-09-02"))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_shipdate"))
      .orderBy(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"), col("l_shipdate"))

  private val q01Sql =
    """SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate
      |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      |ORDER BY l_orderkey, l_linenumber, l_quantity, l_shipdate"""
      .stripMargin

  // q02: TPC-H Q1 shape — hash aggregate, multi-aggregate w/ partials.
  // Presentation is version-proof BY CONSTRUCTION (round-11 fix for
  // the driver-gate hash-red): every presented cell is a BIGINT —
  // money sums as fixed-point integers (cents / 1e-4 / 1e-6 units),
  // averages as exact-integer HALF_UP pre-scaled to 1e-4 (no trailing
  // double division at all). The r9/r10 forms presented DECIMAL sums
  // and double averages; two construct classes diverged across DuckDB
  // versions at the driver's gate (decimal round-tie direction and
  // >38-width decimal-multiply promotion), and DOUBLE→DECIMAL casts of
  // quantile-like rationals are in the same family. Integer cells
  // leave no engine any room to disagree: the per-row fixed-point
  // factors are exact (price cents ≤ 1.05e7, rate in 0..10 on the
  // 0.01 grid), products stay ≤ 1.2e11 per row, and the sums run in
  // DECIMAL(38,0) on Spark / HUGEINT in DuckDB, cast to BIGINT only
  // at presentation (sf1 magnitude ≈ 6.6e17 < 2^63; the 100 TB shape
  // presents DECIMAL(38,0) — one cast edit — but the gate's hash
  // discipline wants the narrowest common integer type).
  // AVG HALF_UP: floor((2p+q)/(2q)) == round-half-up(p/q), exact in
  // integer arithmetic on both engines (DIV ≡ // for positives).
  private val q02: Q = (s, dir) => {
    // exact fixed-point per-row factors: the 2-decimal money doubles
    // are recovered by the DECIMAL cast, then scaled to integers
    val pc = (col("l_extendedprice").cast(DecimalType(12, 2)) * lit(100))
      .cast(LongType) // price in cents
    val de = (col("l_discount").cast(DecimalType(3, 2)) * lit(100))
      .cast(LongType) // discount in 1e-2 units, 0..10
    val te = (col("l_tax").cast(DecimalType(3, 2)) * lit(100))
      .cast(LongType) // tax in 1e-2 units
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") <= ts("2000-09-02"))
      .select(col("l_returnflag"), col("l_linestatus"),
        col("l_quantity").cast(LongType).as("qty"),
        pc.as("pc"), de.as("de"), te.as("te"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("qty")).as("sum_qty"),
        sum(col("pc").cast(DecimalType(38, 0))).as("_spc"),
        sum((col("pc") * (lit(100L) - col("de")))
          .cast(DecimalType(38, 0))).as("_sdp"),
        sum((col("pc") * (lit(100L) - col("de")) * (lit(100L) + col("te")))
          .cast(DecimalType(38, 0))).as("_sch"),
        sum(col("de").cast(DecimalType(38, 0))).as("_sde"),
        count(lit(1)).as("count_order"))
      .select(col("l_returnflag"), col("l_linestatus"), col("sum_qty"),
        col("_spc").cast(LongType).as("sum_base_price_cents"),
        col("_sdp").cast(LongType).as("sum_disc_price_e4"),
        col("_sch").cast(LongType).as("sum_charge_e6"),
        expr("(2 * sum_qty * 10000 + count_order) DIV (2 * count_order)")
          .cast(LongType).as("avg_qty_e4"),
        // avg dollars ×1e4 = 100·sum_cents/n; avg disc ×1e4 likewise
        expr("(2 * _spc * 100 + count_order) DIV (2 * count_order)")
          .cast(LongType).as("avg_price_e4"),
        expr("(2 * _sde * 100 + count_order) DIV (2 * count_order)")
          .cast(LongType).as("avg_disc_e4"),
        col("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  private val q02Sql =
    """WITH f AS (
      |  SELECT l_returnflag, l_linestatus,
      |    CAST(l_quantity AS BIGINT) AS qty,
      |    CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS pc,
      |    CAST(CAST(l_discount AS DECIMAL(3,2)) * 100 AS BIGINT) AS de,
      |    CAST(CAST(l_tax AS DECIMAL(3,2)) * 100 AS BIGINT) AS te
      |  FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-09-02')
      |SELECT l_returnflag, l_linestatus,
      |  CAST(sum(qty) AS BIGINT) AS sum_qty,
      |  CAST(sum(CAST(pc AS HUGEINT)) AS BIGINT) AS sum_base_price_cents,
      |  CAST(sum(CAST(pc * (100 - de) AS HUGEINT)) AS BIGINT) AS sum_disc_price_e4,
      |  CAST(sum(CAST(pc * (100 - de) * (100 + te) AS HUGEINT)) AS BIGINT) AS sum_charge_e6,
      |  CAST((2 * CAST(sum(qty) AS HUGEINT) * 10000 + count(*)) // (2 * count(*)) AS BIGINT) AS avg_qty_e4,
      |  CAST((2 * CAST(sum(CAST(pc AS HUGEINT)) AS HUGEINT) * 100 + count(*)) // (2 * count(*)) AS BIGINT) AS avg_price_e4,
      |  CAST((2 * CAST(sum(CAST(de AS HUGEINT)) AS HUGEINT) * 100 + count(*)) // (2 * count(*)) AS BIGINT) AS avg_disc_e4,
      |  count(*) AS count_order
      |FROM f
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // q03: TPC-H Q3 shape — two joins + agg + top-k
  private val q03: Q = (s, dir) => {
    val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val o = t(s, dir, "orders").filter(col("o_orderdate") < ts("1998-01-01"))
    val l = t(s, dir, "lineitem").filter(col("l_shipdate") > ts("1998-01-01"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(d(sum(dec2(col("l_extendedprice")) * (lit(1) - dec2(col("l_discount")))))
        .as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  private val q03Sql =
    """SELECT l_orderkey, o_orderdate,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1998-01-01'
      |  AND l_shipdate > TIMESTAMP '1998-01-01'
      |GROUP BY l_orderkey, o_orderdate
      |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin

  // q04: broadcast join of the two smallest dims
  private val q04: Q = (s, dir) =>
    t(s, dir, "nation")
      .join(broadcast(t(s, dir, "region")),
        col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "ASIA")
      .select(col("n_nationkey"), col("n_name"), col("r_name"))
      .orderBy(col("n_name"))

  private val q04Sql =
    """SELECT n_nationkey, n_name, r_name
      |FROM nation JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA' ORDER BY n_name""".stripMargin

  // q05: TPC-H Q5 shape — 6-table multi-way join
  private val q05: Q = (s, dir) => {
    val r = t(s, dir, "region").filter(col("r_name") === "EUROPE")
    val n = t(s, dir, "nation")
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders")
      .filter(col("o_orderdate") >= ts("1996-01-01") &&
        col("o_orderdate") < ts("1998-01-01"))
    val l = t(s, dir, "lineitem")
    val su = t(s, dir, "supplier")
    c.join(o, col("c_custkey") === col("o_custkey"))
      .join(l, col("o_orderkey") === col("l_orderkey"))
      .join(su, col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(d(sum(dec2(col("l_extendedprice")) * (lit(1) - dec2(col("l_discount")))))
        .as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  private val q05Sql =
    """SELECT n_name,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      |FROM customer JOIN orders ON c_custkey = o_custkey
      |  JOIN lineitem ON o_orderkey = l_orderkey
      |  JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'EUROPE'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate < TIMESTAMP '1998-01-01'
      |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin

  // q06: TPC-H Q6 shape — filter + scalar aggregate
  private val q06: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= ts("1996-01-01") &&
        col("l_shipdate") < ts("1997-01-01") &&
        col("l_discount").between(0.05, 0.07) &&
        col("l_quantity") < 24)
      .agg(d(sum(dec2(col("l_extendedprice")) * dec2(col("l_discount"))))
        .as("revenue"),
        count(lit(1)).as("n_rows"))

  private val q06Sql =
    """SELECT
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |  count(*) AS n_rows
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |  AND l_shipdate < TIMESTAMP '1997-01-01'
      |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin

  // q07: left outer join + null handling (customers with zero orders kept)
  private val q07: Q = (s, dir) => {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders")
    c.join(o, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("n_orders"),
        d(coalesce(sum(dec2(col("o_totalprice"))),
          lit(0).cast(DecimalType(18, 2)))).as("total_spent"))
      .orderBy(col("c_custkey"))
  }

  private val q07Sql =
    """SELECT c_custkey, count(o_orderkey) AS n_orders,
      |  CAST(coalesce(sum(CAST(o_totalprice AS DECIMAL(18,2))), CAST(0 AS DECIMAL(18,2))) AS DOUBLE) AS total_spent
      |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin

  // q08: left semi join (EXISTS)
  private val q08: Q = (s, dir) => {
    val c = t(s, dir, "customer")
    val big = t(s, dir, "orders").filter(col("o_totalprice") > 200000)
    c.join(big, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  private val q08Sql =
    """SELECT c_custkey, c_name FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o
      |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000)
      |ORDER BY c_custkey""".stripMargin

  // q09: left anti join (NOT EXISTS)
  private val q09: Q = (s, dir) => {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders")
    c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      .orderBy(col("c_custkey"))
  }

  private val q09Sql =
    """SELECT c_custkey, c_name, c_acctbal FROM customer c
      |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
      |ORDER BY c_custkey""".stripMargin

  // q10: equi key + range (theta) condition join
  private val q10: Q = (s, dir) => {
    val p = t(s, dir, "part")
    val l = t(s, dir, "lineitem")
    l.join(p, col("l_partkey") === col("p_partkey") &&
        col("l_quantity") < col("p_size"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_lines"), sum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("p_brand"))
  }

  private val q10Sql =
    """SELECT p_brand, count(*) AS n_lines, sum(l_quantity) AS sum_qty
      |FROM lineitem JOIN part
      |  ON l_partkey = p_partkey AND l_quantity < p_size
      |GROUP BY p_brand ORDER BY p_brand""".stripMargin

  // q11: distinct + count(distinct)
  private val q11: Q = (s, dir) =>
    t(s, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(count_distinct(col("o_custkey")).as("n_customers"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("o_orderpriority"))

  private val q11Sql =
    """SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_customers,
      |  count(*) AS n_orders
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // q12: ROLLUP with grouping id
  private val q12: Q = (s, dir) =>
    t(s, dir, "orders")
      .rollup(col("o_orderpriority"), col("o_orderstatus"))
      .agg(grouping_id().cast(LongType).as("gid"),
        d(sum(dec2(col("o_totalprice")))).as("total"),
        count(lit(1)).as("n"))
      .orderBy(col("gid"), col("o_orderpriority").asc_nulls_first,
        col("o_orderstatus").asc_nulls_first)

  private val q12Sql =
    """SELECT o_orderpriority, o_orderstatus,
      |  GROUPING(o_orderpriority, o_orderstatus) AS gid,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
      |  count(*) AS n
      |FROM orders GROUP BY ROLLUP(o_orderpriority, o_orderstatus)
      |ORDER BY gid, o_orderpriority ASC NULLS FIRST, o_orderstatus ASC NULLS FIRST""".stripMargin

  // q13: CUBE with grouping id
  private val q13: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().cast(LongType).as("gid"),
        d(sum(dec2(col("l_extendedprice")) * (lit(1) - dec2(col("l_discount")))))
          .as("revenue"),
        count(lit(1)).as("n"))
      .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  private val q13Sql =
    """SELECT l_returnflag, l_linestatus,
      |  GROUPING(l_returnflag, l_linestatus) AS gid,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
      |  count(*) AS n
      |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
      |ORDER BY gid, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  // q14: ranking window functions, top-3 orders per customer
  private val q14: Q = (s, dir) => {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        row_number().over(w).cast(LongType).as("rn"),
        rank().over(w).cast(LongType).as("rnk"),
        dense_rank().over(w).cast(LongType).as("drnk"),
        ntile(4).over(w).cast(LongType).as("quartile"))
      .filter(col("rn") <= 3)
      .orderBy(col("o_custkey"), col("rn"))
  }

  private val q14Sql =
    """SELECT * FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    row_number() OVER w AS rn, rank() OVER w AS rnk,
      |    dense_rank() OVER w AS drnk, ntile(4) OVER w AS quartile
      |  FROM orders
      |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
      |) WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin

  // q15: analytic window with explicit ROWS frame (running total)
  private val q15: Q = (s, dir) => {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        d(sum(dec2(col("o_totalprice"))).over(w)).as("running_total"))
      .orderBy(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
  }

  private val q15Sql =
    """SELECT o_custkey, o_orderkey, o_orderdate,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
      |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
      |FROM orders
      |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin

  // q17: global sort + limit (planned as TakeOrderedAndProject)
  private val q17: Q = (s, dir) =>
    t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"),
        col("l_linenumber"))
      .limit(20)

  private val q17Sql =
    """SELECT l_orderkey, l_linenumber, l_extendedprice
      |FROM lineitem
      |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 20""".stripMargin

  // q18: set algebra — union / intersect / except branches, tagged
  private val q18: Q = (s, dir) => {
    // Set algebra via counted aggregation: every set operator is a
    // function of the per-key multiplicities (cb, cr) of the two legs
    //   UNION          cb>0 or cr>0            (1 copy)
    //   INTERSECT      cb>0 and cr>0           (1 copy)
    //   EXCEPT         cb>0 and cr=0           (1 copy)
    //   INTERSECT ALL  min(cb, cr) copies
    //   EXCEPT ALL     max(cb-cr, 0) copies
    // so all five branches ride ONE aggregation over the tag-unioned
    // legs — both scans feed a single key exchange (r3 plan: 5 ops ×
    // ~2 exchanges benched 2.0-2.5 s; the r4 plan pre-aggregated each
    // leg and full-outer-joined them: one extra exchange chain + a
    // sort-merge join this single groupBy avoids). The buyers leg is
    // DISTINCT keys by definition, so cb = max(is_buyer) ∈ {0,1};
    // the rich leg keeps multiplicity, cr = Σ is_rich. Copies
    // materialize via explode(sequence), all codegen. Parity with
    // Spark's native union/intersect/except operators is pinned in
    // QueriesSpec.
    val buyers = t(s, dir, "orders").select(col("o_custkey").as("key"),
      lit(1L).as("isb"), lit(0L).as("isr"))
    val rich = t(s, dir, "customer").filter(col("c_acctbal") > 5000)
      .select(col("c_custkey").as("key"), lit(0L).as("isb"),
        lit(1L).as("isr"))
    val m = buyers.unionAll(rich)
      .groupBy(col("key"))
      .agg(max(col("isb")).as("cb"), sum(col("isr")).as("cr"))
    m.select(col("key"), explode(array(
        struct(lit("union").as("tag"),
          when(col("cb") > 0 || col("cr") > 0, 1L).otherwise(0L).as("n")),
        struct(lit("intersect").as("tag"),
          when(col("cb") > 0 && col("cr") > 0, 1L).otherwise(0L).as("n")),
        struct(lit("except").as("tag"),
          when(col("cb") > 0 && col("cr") === 0, 1L).otherwise(0L).as("n")),
        struct(lit("intersect_all").as("tag"),
          least(col("cb"), col("cr")).as("n")),
        struct(lit("except_all").as("tag"),
          greatest(col("cb") - col("cr"), lit(0L)).as("n")))).as("t"))
      .filter(col("t.n") > 0)
      .select(col("t.tag").as("tag"), col("key"),
        explode(sequence(lit(1L), col("t.n"))).as("copy"))
      .select(col("tag"), col("key"))
      .orderBy(col("tag"), col("key"))
  }

  private val q18Sql =
    """WITH buyers AS (SELECT DISTINCT o_custkey AS key FROM orders),
      |     rich AS (SELECT c_custkey AS key FROM customer WHERE c_acctbal > 5000)
      |SELECT 'union' AS tag, key FROM (SELECT key FROM buyers UNION SELECT key FROM rich)
      |UNION ALL
      |SELECT 'intersect' AS tag, key FROM (SELECT key FROM buyers INTERSECT SELECT key FROM rich)
      |UNION ALL
      |SELECT 'except' AS tag, key FROM (SELECT key FROM buyers EXCEPT SELECT key FROM rich)
      |UNION ALL
      |SELECT 'intersect_all' AS tag, key FROM (SELECT key FROM buyers INTERSECT ALL SELECT key FROM rich)
      |UNION ALL
      |SELECT 'except_all' AS tag, key FROM (SELECT key FROM buyers EXCEPT ALL SELECT key FROM rich)
      |ORDER BY tag, key""".stripMargin

  // q19: scalar functions — string / date / math / conditional
  private val q19: Q = (s, dir) =>
    t(s, dir, "orders")
      .select(
        col("o_orderkey"),
        date_trunc("month", col("o_orderdate")).cast("timestamp_ntz")
          .as("order_month"),
        year(col("o_orderdate")).cast(LongType).as("order_year"),
        substring(col("o_orderpriority"), 1, 1).as("prio_code"),
        concat(col("o_orderstatus"), lit("/"), col("o_orderpriority"))
          .as("status_prio"),
        lower(col("o_orderpriority")).as("prio_lower"),
        length(col("o_orderpriority")).cast(LongType).as("prio_len"),
        floor(col("o_totalprice")).cast(LongType).as("price_floor"),
        when(col("o_totalprice") > 300000, lit("high"))
          .when(col("o_totalprice") > 100000, lit("mid"))
          .otherwise(lit("low")).as("price_band"))
      .orderBy(col("o_orderkey"))

  private val q19Sql =
    """SELECT o_orderkey,
      |  CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS order_month,
      |  CAST(year(o_orderdate) AS BIGINT) AS order_year,
      |  substring(o_orderpriority, 1, 1) AS prio_code,
      |  o_orderstatus || '/' || o_orderpriority AS status_prio,
      |  lower(o_orderpriority) AS prio_lower,
      |  CAST(length(o_orderpriority) AS BIGINT) AS prio_len,
      |  CAST(floor(o_totalprice) AS BIGINT) AS price_floor,
      |  CASE WHEN o_totalprice > 300000 THEN 'high'
      |       WHEN o_totalprice > 100000 THEN 'mid'
      |       ELSE 'low' END AS price_band
      |FROM orders ORDER BY o_orderkey""".stripMargin

  // q20: HAVING over a scalar subquery (global average of group sums)
  private val q20: Q = (s, dir) => {
    // checkpoint the group sums: both the threshold (scalar) and the
    // HAVING filter consume them — one orders aggregation, not two
    val perCust = t(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(sum(dec2(col("o_totalprice"))).as("s"))
      .localCheckpoint(false)
    val thresh = perCust.agg(
      (d(sum(col("s"))) / count(lit(1))).as("threshold"))
    perCust.crossJoin(broadcast(thresh))
      .filter(d(col("s")) > col("threshold"))
      .select(col("o_custkey"), d(col("s")).as("total_spent"))
      .orderBy(col("o_custkey"))
  }

  private val q20Sql =
    """WITH t AS (
      |  SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS s
      |  FROM orders GROUP BY o_custkey)
      |SELECT o_custkey, CAST(s AS DOUBLE) AS total_spent FROM t
      |WHERE CAST(s AS DOUBLE) > (SELECT CAST(sum(s) AS DOUBLE) / count(*) FROM t)
      |ORDER BY o_custkey""".stripMargin

  // q21: correlated subquery (decorrelated as window-average + filter)
  private val q21: Q = (s, dir) => {
    val w = Window.partitionBy(col("o_custkey"))
    t(s, dir, "orders")
      .withColumn("cust_avg",
        d(sum(dec2(col("o_totalprice"))).over(w)) / count(lit(1)).over(w))
      .filter(col("o_totalprice") > col("cust_avg"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  private val q21Sql =
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders o
      |WHERE o_totalprice > (
      |  SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*)
      |  FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
      |ORDER BY o_orderkey""".stripMargin

  // q26: approximate distinct (HLL) with the SURVEY §2.3 declared
  // tolerance oracle: the output carries the exact distinct count plus
  // a within-5% verdict on the HLL estimate (rsd=0.01, so the 5% band
  // holds with huge margin); the oracle asserts the same exact count
  // and `TRUE` — any estimate drifting outside tolerance flips the
  // boolean and hash-fails the round.
  private val q26: Q = (s, dir) =>
    t(s, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(count_distinct(col("o_custkey")).as("exact_customers"),
        approx_count_distinct(col("o_custkey"), 0.01).as("approx"))
      .select(col("o_orderpriority"), col("exact_customers"),
        (abs(col("approx") - col("exact_customers")).cast(DoubleType) /
          col("exact_customers") <= 0.05).as("approx_within_5pct"))
      .orderBy(col("o_orderpriority"))

  private val q26Sql =
    """SELECT o_orderpriority,
      |  count(DISTINCT o_custkey) AS exact_customers,
      |  TRUE AS approx_within_5pct
      |FROM orders GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  // q60: HLL sketch ROLLUP — the re-aggregatable form of q26. At
  // 100 TB, "distinct users per region" can't re-scan the fact table
  // per rollup level: the scale pattern is a CUBE OF SKETCHES — build
  // per-fine-group HLL sketches once (hll_sketch_agg, DataSketches),
  // then UNION them upward (hll_union_agg), which plain
  // approx_count_distinct output cannot do. Register insertion is a
  // max — order-independent, so the estimate is deterministic across
  // partitionings. Tolerance oracle as q26: exact distinct per region
  // + a within-5% verdict on the unioned estimate (lgConfigK=14 ⇒
  // RSE ≈ 0.8%, the 5% band holds with ~6σ margin).
  private val q60: Q = (s, dir) => {
    val perNation = t(s, dir, "customer")
      .groupBy(col("c_nationkey"))
      .agg(hll_sketch_agg(col("c_custkey"), lit(14)).as("sk"),
        count_distinct(col("c_custkey")).as("exact_n"))
    val nr = t(s, dir, "nation")
      .join(t(s, dir, "region"),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("r_name"))
    perNation
      .join(broadcast(nr), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("r_name"))
      .agg(sum(col("exact_n")).as("exact_customers"),
        hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
      .select(col("r_name"), col("exact_customers"),
        (abs(col("est") - col("exact_customers")).cast(DoubleType) /
          col("exact_customers") <= 0.05).as("est_within_5pct"))
      .orderBy(col("r_name"))
  }

  // exact_customers = Σ per-nation distincts (a customer belongs to
  // exactly one nation, so the sum IS the regional distinct count)
  private val q60Sql =
    """SELECT r_name,
      |  count(DISTINCT c_custkey) AS exact_customers,
      |  TRUE AS est_within_5pct
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name ORDER BY r_name""".stripMargin

  // q61: theta-sketch SET ALGEBRA — intersection/difference of
  // distinct sets, which neither HLL (q60) nor approx_count_distinct
  // can express: theta sketches keep a hash-threshold SAMPLE of the
  // keys, so A∩B and A\B are computable sketch-to-sketch. The
  // audience-overlap primitive at 100 TB: "users active in both
  // periods" without shuffling either period's key set to one place
  // twice. DataSketches theta is deterministic for a given input SET
  // (fixed hash seed, threshold sampling — no RNG), and at
  // lgNomEntries=14 it is EXACT below ~16k distinct keys (all
  // fixtures), degrading to ±5%-bounded estimates beyond; the
  // tolerance oracle asserts the exact counts + the verdict.
  private val q61: Q = (s, dir) => {
    val h1 = col("o_orderdate") < ts("1997-01-01")
    val o = t(s, dir, "orders").select(col("o_custkey"), h1.as("a"))
    val exact = o.groupBy(col("o_custkey"))
      .agg(max(col("a")).as("ia"), max(!col("a")).as("ib"))
      .agg(sum(when(col("ia") && col("ib"), 1L).otherwise(0L))
          .as("n_both"),
        sum(when(col("ia") && !col("ib"), 1L).otherwise(0L))
          .as("n_only_first"),
        count(lit(1)).as("n_union"))
    val sk = o.agg(
      theta_sketch_agg(when(col("a"), col("o_custkey")), 14).as("ska"),
      theta_sketch_agg(when(!col("a"), col("o_custkey")), 14).as("skb"))
    exact.crossJoin(broadcast(sk))
      .select(col("n_both"), col("n_only_first"), col("n_union"),
        (within5(theta_sketch_estimate(
            theta_intersection(col("ska"), col("skb"))), col("n_both")) &&
          within5(theta_sketch_estimate(
            theta_difference(col("ska"), col("skb"))),
            col("n_only_first")) &&
          within5(theta_sketch_estimate(
            theta_union(col("ska"), col("skb"), lit(14))), col("n_union")))
          .as("est_within_5pct"))
  }

  // empty set: the sketch of nothing estimates 0 — avoid the 0/0
  private def within5(est: Column, exact: Column): Column =
    when(exact === 0, est === 0.0)
      .otherwise(abs(est - exact).cast(DoubleType) / exact <= 0.05)

  private val q61Sql =
    """WITH per AS (
      |  SELECT o_custkey,
      |    max(CASE WHEN o_orderdate < TIMESTAMP '1997-01-01'
      |        THEN 1 ELSE 0 END) AS ia,
      |    max(CASE WHEN o_orderdate >= TIMESTAMP '1997-01-01'
      |        THEN 1 ELSE 0 END) AS ib
      |  FROM orders GROUP BY o_custkey)
      |SELECT
      |  CAST(sum(CASE WHEN ia = 1 AND ib = 1 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_both,
      |  CAST(sum(CASE WHEN ia = 1 AND ib = 0 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_only_first,
      |  CAST(count(*) AS BIGINT) AS n_union,
      |  TRUE AS est_within_5pct
      |FROM per""".stripMargin

  // q62: KLL quantile-sketch ROLLUP — the re-aggregatable form of
  // q52's percentile sketch: per-group KLL sketches merge upward
  // (kll_merge_agg), so a global percentile needs no global sort and
  // no re-scan — the quantile twin of q60's cube-of-HLL-sketches.
  // KLL compaction is randomized (estimates are not bit-stable), so
  // the oracle surface is a deterministic-with-overwhelming-margin
  // verdict: the EXACT rank of each estimated quantile must sit
  // within ±0.03 of its target (k=400 ⇒ ~0.9 % rank error at high
  // confidence; the band is >3× that).
  private val q62: Q = (s, dir) => {
    val o = t(s, dir, "orders")
      .select(col("o_totalprice").cast(DoubleType).as("p"))
    val merged = o
      .groupBy(spark_partition_id()) // any grouping: per-group sketches
      .agg(kll_sketch_agg_double(col("p"), 400).as("sk"))
      .agg(kll_merge_agg_double(col("sk"), 400).as("msk"),
        count(lit(1)).as("ng"))
      // ZERO input groups merge to a degenerate (non-null but
      // value-less) sketch the quantile extractor REJECTS at runtime
      // (found by EmptyInputSpec) — gate extraction on the merged
      // group count so an empty corpus degrades to null estimates
      // instead of a runtime error
      .select(
        when(col("ng") > 0,
          kll_sketch_get_quantile_double(col("msk"), lit(0.5))).as("e50"),
        when(col("ng") > 0,
          kll_sketch_get_quantile_double(col("msk"), lit(0.9))).as("e90"))
    o.crossJoin(broadcast(merged))
      .agg(count(lit(1)).as("n_rows"),
        (sum(when(col("p") <= col("e50"), 1L).otherwise(0L))
          .cast(DoubleType) / count(lit(1))).as("r50"),
        (sum(when(col("p") <= col("e90"), 1L).otherwise(0L))
          .cast(DoubleType) / count(lit(1))).as("r90"))
      .select(col("n_rows"),
        (abs(col("r50") - 0.5) <= 0.03).as("p50_rank_in_band"),
        (abs(col("r90") - 0.9) <= 0.03).as("p90_rank_in_band"))
  }

  private val q62Sql =
    """SELECT CAST(count(*) AS BIGINT) AS n_rows,
      |  TRUE AS p50_rank_in_band,
      |  TRUE AS p90_rank_in_band
      |FROM orders""".stripMargin

  // q37: FULL OUTER join — completes the join family (inner/left/
  // semi/anti/range are q03-q10). Customers with no orders and order
  // keys with no customer row both survive with NULL fill; COALESCE
  // keys keep the output deterministic.
  private val q37: Q = (s, dir) => {
    val perCust = t(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"))
    // restrict one side so both sides have unmatched rows
    val rich = t(s, dir, "customer")
      .filter(col("c_acctbal") > 9000)
      .select(col("c_custkey"), col("c_acctbal"))
    rich.join(perCust, col("c_custkey") === col("o_custkey"), "full_outer")
      .select(
        coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
        col("c_acctbal"), coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        (col("c_custkey").isNull).as("no_customer_row"),
        (col("o_custkey").isNull).as("no_orders"))
      .orderBy(col("custkey"))
  }

  private val q37Sql =
    """WITH perCust AS (
      |  SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY 1),
      |rich AS (
      |  SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal > 9000)
      |SELECT coalesce(c_custkey, o_custkey) AS custkey, c_acctbal,
      |  coalesce(n_orders, 0) AS n_orders,
      |  c_custkey IS NULL AS no_customer_row,
      |  o_custkey IS NULL AS no_orders
      |FROM rich FULL OUTER JOIN perCust ON c_custkey = o_custkey
      |ORDER BY custkey""".stripMargin

  // q38: RANGE window frame — value-based bounds (all orders within
  // the last 30 days of each order's date), vs q15's row-based frame.
  // The frame key is the epoch day so both engines share integer
  // range arithmetic.
  private val q38: Q = (s, dir) => {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("day"))
      .rangeBetween(-30, Window.currentRow)
    t(s, dir, "orders")
      .withColumn("day", datediff(col("o_orderdate"), lit("1970-01-01"))
        .cast(LongType))
      .select(col("o_custkey"), col("o_orderkey"), col("day"),
        d(sum(dec2(col("o_totalprice"))).over(w)).as("sum_30d"),
        count(lit(1)).over(w).as("n_30d"))
      .orderBy(col("o_custkey"), col("day"), col("o_orderkey"))
  }

  private val q38Sql =
    """SELECT o_custkey, o_orderkey,
      |  CAST(datediff('day', DATE '1970-01-01', o_orderdate) AS BIGINT) AS day,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
      |    PARTITION BY o_custkey
      |    ORDER BY datediff('day', DATE '1970-01-01', o_orderdate)
      |    RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS DOUBLE) AS sum_30d,
      |  CAST(count(*) OVER (
      |    PARTITION BY o_custkey
      |    ORDER BY datediff('day', DATE '1970-01-01', o_orderdate)
      |    RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_30d
      |FROM orders
      |ORDER BY o_custkey, day, o_orderkey""".stripMargin

  // q39: exact percentiles + first/last/nth window values.
  // Version-proof BY CONSTRUCTION (round-11): the interpolated
  // percentile is derived from its two RANK-SELECTED WITNESSES and
  // presented as a pre-scaled integer — p50 over n rows sits at
  // 0-based position (n−1)/2 (halves), p90 at 9(n−1)/10 (tenths), so
  //   p50_cents_x2  = (2−f2)·v[lo] + f2·v[lo+1],   f2 = (n−1) mod 2
  //   p90_cents_x10 = (10−f10)·v[lo] + f10·v[lo+1], f10 = 9(n−1) mod 10
  // with v[] the group's sorted values in exact integer cents. The
  // arithmetic never leaves BIGINT, so no engine version can disagree
  // (the r10 `CAST(quantile_cont AS DECIMAL)` presentation was
  // bit-green on local DuckDB 1.0.0 and hash-red at the driver's
  // newer engine — interpolation-in-double + DOUBLE→DECIMAL casts are
  // exactly the construct classes with version-dependent semantics).
  // The witness machinery is q90_percentile_disc's (rank via
  // conditional aggregation); the oracle spells out the same rank
  // selection — no quantile_cont anywhere.
  //
  // Scale shape (round-12, VERDICT r11 #1): o_orderpriority has ≤5
  // values, so `row_number().over(Window.partitionBy(priority))`
  // sorts corpus/5 rows in ONE task — the exact straggler class q82/
  // q105 eliminated. The rank now comes from
  // `DistributedNtile.withGroupRank` (one range exchange spread over
  // every shuffle partition, per-group offsets broadcast), and the
  // first/last/nth window values become rank-conditional aggregates
  // (key at rn=1 / rn=n / rn=2 — the same rows the window frame
  // selected, under the same total order).
  // round-13 (VERDICT r12 #4): the rank comes from the shared
  // OrderRanks artifact — q39/q52/q64/q65 all rank this axis, so the
  // build runs ONCE per session and the consumers aggregate on top
  private val q39: Q = (s, dir) => {
    OrderRanks.byPriorityPrice(s, dir)
      .groupBy(col("o_orderpriority"), col("n"))
      .agg(
        Witness.vaAgg(col("cents"), 1, 2).as("v50a"),
        Witness.vbAgg(col("cents"), 1, 2).as("v50b"),
        Witness.vaAgg(col("cents"), 9, 10).as("v90a"),
        Witness.vbAgg(col("cents"), 9, 10).as("v90b"),
        min(when(col("rn") === lit(1L), col("o_orderkey")))
          .as("cheapest_key"),
        min(when(col("rn") === col("n"), col("o_orderkey")))
          .as("dearest_key"),
        min(when(col("rn") === lit(2L), col("o_orderkey")))
          .as("second_key"))
      .select(col("o_orderpriority"),
        Witness.scaled(col("v50a"), col("v50b"), 1, 2)
          .cast(LongType).as("p50_cents_x2"),
        Witness.scaled(col("v90a"), col("v90b"), 9, 10)
          .cast(LongType).as("p90_cents_x10"),
        col("cheapest_key"), col("dearest_key"), col("second_key"))
      .orderBy(col("o_orderpriority"))
  }

  private val q39Sql =
    """WITH w AS (
      |  SELECT o_orderpriority,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      AS cents,
      |    row_number() OVER win AS rn,
      |    count(*) OVER (PARTITION BY o_orderpriority) AS n,
      |    first_value(o_orderkey) OVER winf AS cheapest_key,
      |    last_value(o_orderkey) OVER winf AS dearest_key,
      |    nth_value(o_orderkey, 2) OVER winf AS second_key
      |  FROM orders
      |  WINDOW win AS (PARTITION BY o_orderpriority
      |    ORDER BY o_totalprice, o_orderkey),
      |  winf AS (PARTITION BY o_orderpriority
      |    ORDER BY o_totalprice, o_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
      |SELECT o_orderpriority,
      |""".stripMargin +
    s"  ${Witness.scaledSql("cents", 1, 2)} AS p50_cents_x2,\n" +
    s"  ${Witness.scaledSql("cents", 9, 10)} AS p90_cents_x10,\n" +
    """|  first(cheapest_key) AS cheapest_key,
      |  first(dearest_key) AS dearest_key,
      |  first(second_key) AS second_key
      |FROM w GROUP BY o_orderpriority, n
      |ORDER BY o_orderpriority""".stripMargin

  // q52: APPROX percentile (mergeable quantile sketch) under the
  // q26-style tolerance oracle. Exact per-group percentiles need the
  // whole group sorted in one place; the sketch is bounded-memory and
  // mergeable across partitions — the only percentile that runs at
  // 100 TB. Output carries the exact value (hash-checked) plus a
  // within-5% verdict on the sketch (the q26 band — at smoke scale a ~300-row group interpolates its exact median between elements while the sketch returns an element, so 1% was too tight); drift flips the boolean and
  // fails the round.
  private val q52: Q = (s, dir) => {
    // q39's round-11 presentation discipline: the exact median is the
    // witness-derived BIGINT exact_p50_cents_x2 (integer cells cannot
    // diverge across engine versions); the 5% verdict compares the
    // sketch against that same witness median (no separate raw
    // percentile aggregate — tolerance booleans are version-safe by
    // design, and a 5% band cannot flip on the witness/200 rounding)
    // round-13: served from the shared OrderRanks artifact (one rank
    // build per session for q39/q52/q64/q65 — VERDICT r12 #4)
    OrderRanks.byPriorityPrice(s, dir)
      .groupBy(col("o_orderpriority"), col("n"))
      .agg(
        Witness.vaAgg(col("cents"), 1, 2).as("v50a"),
        Witness.vbAgg(col("cents"), 1, 2).as("v50b"),
        expr("approx_percentile(o_totalprice, 0.5, 10000)").as("ap"))
      .select(col("o_orderpriority"),
        Witness.scaled(col("v50a"), col("v50b"), 1, 2)
          .cast(LongType).as("exact_p50_cents_x2"),
        col("ap"))
      // the exact median IS the witness sum / 200 (dollars) — the
      // separate percentile() aggregate buffered every group value a
      // second time just to feed this verdict (review r11)
      .withColumn("p50d", col("exact_p50_cents_x2") / 200.0)
      .select(col("o_orderpriority"), col("exact_p50_cents_x2"),
        (abs(col("ap") - col("p50d")) / col("p50d") <= 0.05)
          .as("approx_within_5pct"))
      .orderBy(col("o_orderpriority"))
  }

  private val q52Sql =
    """WITH w AS (
      |  SELECT o_orderpriority,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      AS cents,
      |    row_number() OVER (PARTITION BY o_orderpriority
      |      ORDER BY o_totalprice, o_orderkey) AS rn,
      |    count(*) OVER (PARTITION BY o_orderpriority) AS n
      |  FROM orders)
      |SELECT o_orderpriority,
      |""".stripMargin +
    s"  ${Witness.scaledSql("cents", 1, 2)} AS exact_p50_cents_x2,\n" +
    """|  TRUE AS approx_within_5pct
      |FROM w GROUP BY o_orderpriority, n
      |ORDER BY o_orderpriority""".stripMargin

  // q55: distribution ranking — percent_rank / cume_dist complete the
  // ranking-function family (q14 covers row_number/rank/dense_rank/
  // ntile). Both are rational functions of integer ranks, so the
  // doubles are engine-identical without rounding.
  // Round-12 (WindowAuditSpec): the ranks were a window partitioned
  // by the 5-value o_orderpriority — the q39 straggler class. Row
  // ranks now come from DistributedNtile.withGroupRank, and because
  // the window's ORDER BY is the TOTAL order (o_totalprice,
  // o_orderkey), every row is its own peer group — SQL's rank() = the
  // row rank and cume_dist's ≤-peer count = the row rank, so both
  // functions are pure rank arithmetic with no tie pass (an earlier
  // round-12 form aggregated ties over o_totalprice alone, which
  // diverged from the oracle's two-key peer definition the moment sf1
  // produced duplicate prices — the sf1 certification caught it):
  //   percent_rank = (rn − 1) / (n − 1)   [0 when n = 1]
  //   cume_dist    = rn / n
  private val q55: Q = (s, dir) => {
    DistributedNtile.withGroupRank(
        t(s, dir, "orders")
          .filter(col("o_orderstatus") === "P")
          .select(col("o_orderkey"), col("o_orderpriority"),
            col("o_totalprice")),
        "o_orderpriority", "rn", "n",
        col("o_totalprice"), col("o_orderkey"))
      .select(col("o_orderkey"), col("o_orderpriority"),
        col("o_totalprice"),
        when(col("n") === 1, lit(0.0))
          .otherwise((col("rn") - 1) / (col("n") - 1))
          .as("pct_rank"),
        (col("rn") / col("n")).as("cume"))
      .orderBy(col("o_orderkey"))
  }

  private val q55Sql =
    """SELECT o_orderkey, o_orderpriority, o_totalprice,
      |  percent_rank() OVER w AS pct_rank,
      |  cume_dist() OVER w AS cume
      |FROM orders WHERE o_orderstatus = 'P'
      |WINDOW w AS (PARTITION BY o_orderpriority
      |  ORDER BY o_totalprice, o_orderkey)
      |ORDER BY o_orderkey""".stripMargin

  // q56: correlation + covariance from EXACT decimal sums — the q33
  // discipline extended to bivariate stats: Σx, Σy, Σxy, Σx², Σy² in
  // DECIMAL, then one identical double expression tree on both
  // engines (native corr()/covar_samp() stream floats in partition
  // order and would hash-mismatch).
  private val q56: Q = (s, dir) => {
    val x = dec2(col("l_quantity"))
    val y = dec2(col("l_extendedprice"))
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        d(sum(x)).as("sx"), d(sum(y)).as("sy"),
        d(sum(x * y)).as("sxy"),
        d(sum(x * x)).as("sxx"), d(sum(y * y)).as("syy"))
      .select(col("l_returnflag"), col("n"),
        // sums are exact decimals; the FINAL double ops can still
        // differ by 1 ulp across engines (association/FMA), so both
        // outputs are rounded to 6 decimals on both sides — the same
        // determinism recipe as the ratio/cosine queries
        round((col("sxy") - col("sx") * col("sy") / col("n")) /
          (col("n") - 1), 6).as("covar_samp"),
        round((col("n") * col("sxy") - col("sx") * col("sy")) /
          sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
            (col("n") * col("syy") - col("sy") * col("sy"))), 6).as("corr"))
      .orderBy(col("l_returnflag"))
  }

  private val q56Sql =
    """WITH a AS (
      |  SELECT l_returnflag, count(*) AS n,
      |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
      |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
      |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) *
      |             CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy,
      |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) *
      |             CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
      |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |             CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy
      |  FROM lineitem GROUP BY l_returnflag)
      |SELECT l_returnflag, n,
      |  round((sxy - sx * sy / n) / (n - 1), 6) AS covar_samp,
      |  round((n * sxy - sx * sy) /
      |    sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS corr
      |FROM a ORDER BY l_returnflag""".stripMargin

  val queries: Map[String, Q] = Map(
    "q01_scan_filter" -> q01,
    "q02_agg_tpch_q1" -> q02,
    "q03_join_topk" -> q03,
    "q04_broadcast_join" -> q04,
    "q05_multiway_join" -> q05,
    "q06_scalar_agg" -> q06,
    "q07_left_outer_join" -> q07,
    "q08_semi_join" -> q08,
    "q09_anti_join" -> q09,
    "q10_range_join" -> q10,
    "q11_count_distinct" -> q11,
    "q12_rollup" -> q12,
    "q13_cube" -> q13,
    "q14_window_rank" -> q14,
    "q15_window_frame" -> q15,
    "q17_topk" -> q17,
    "q18_set_ops" -> q18,
    "q19_scalar_funcs" -> q19,
    "q20_having_subquery" -> q20,
    "q21_correlated_subquery" -> q21,
    "q26_approx_distinct" -> q26,
    "q60_hll_rollup" -> q60,
    "q61_theta_set_ops" -> q61,
    "q62_kll_rollup" -> q62,
    "q37_full_outer_join" -> q37,
    "q38_range_frame" -> q38,
    "q39_percentiles" -> q39,
    "q52_approx_percentile" -> q52,
    "q55_rank_dist" -> q55,
    "q56_corr" -> q56,
  )

  val oracles: Map[String, String] = Map(
    "q01_scan_filter" -> q01Sql,
    "q02_agg_tpch_q1" -> q02Sql,
    "q03_join_topk" -> q03Sql,
    "q04_broadcast_join" -> q04Sql,
    "q05_multiway_join" -> q05Sql,
    "q06_scalar_agg" -> q06Sql,
    "q07_left_outer_join" -> q07Sql,
    "q08_semi_join" -> q08Sql,
    "q09_anti_join" -> q09Sql,
    "q10_range_join" -> q10Sql,
    "q11_count_distinct" -> q11Sql,
    "q12_rollup" -> q12Sql,
    "q13_cube" -> q13Sql,
    "q14_window_rank" -> q14Sql,
    "q15_window_frame" -> q15Sql,
    "q17_topk" -> q17Sql,
    "q18_set_ops" -> q18Sql,
    "q19_scalar_funcs" -> q19Sql,
    "q20_having_subquery" -> q20Sql,
    "q21_correlated_subquery" -> q21Sql,
    "q26_approx_distinct" -> q26Sql,
    // union-of-sketches estimate is order-independent (register max);
    // the deterministic verdict column is the oracle surface
    "q60_hll_rollup" -> q60Sql,
    // theta estimates are deterministic (fixed-seed hash threshold);
    // the verdict column is the oracle surface
    "q61_theta_set_ops" -> q61Sql,
    // KLL estimates are randomized; the rank-band verdict (3x the
    // sketch's rank-error bound) is the oracle surface
    "q62_kll_rollup" -> q62Sql,
    "q37_full_outer_join" -> q37Sql,
    "q38_range_frame" -> q38Sql,
    "q39_percentiles" -> q39Sql,
    "q52_approx_percentile" -> q52Sql,
    "q55_rank_dist" -> q55Sql,
    "q56_corr" -> q56Sql,
  )
}
