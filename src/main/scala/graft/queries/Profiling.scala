package graft.queries

import graft.{Canon, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Dataset-introspection query pack (SURVEY.md §2.17): per-column
  * table profiling (the ANALYZE/dbt-profiler shape that precedes
  * every pipeline onboarding), per-entity mean-shift changepoint
  * detection (the monitoring primitive behind "did this metric move"),
  * and decile lift/gains (the model-eval table every ranking score is
  * judged by — also the second consumer of
  * [[graft.operators.DistributedNtile]], proving the operator is a
  * reusable primitive rather than a q82 one-off).
  *
  * These extend the reference's inventory the way the rest of the
  * §2.4 north-star pack does: the reference (distribot) is a dataflow
  * orchestrator with no relational surface at all, so the profiling
  * queries have no counterpart to cite; their semantics are pinned
  * entirely by the DuckDB oracles.
  *
  * Determinism discipline (memory: one mirrored expression tree):
  * every double in the output is produced by ONE final conversion or
  * division of EXACT operands (BIGINT / DECIMAL sums, 2-decimal cents)
  * performed identically on both engines, then rounded.
  */
object Profiling {
  import Canon._
  type Q = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, n: String) = Tables(s, dir, n)

  // ---- q98_profile: per-column table profile --------------------------
  // One pass over lineitem computes, for every column: row count, null
  // count, exact distinct count, numeric min/max/mean (NULL for
  // strings), lexicographic min/max (NULL for numerics). The multi-
  // distinct aggregate plans as ONE Expand + partial-agg pass: each
  // expanded replica carries a single column, so the shuffle holds the
  // per-column distinct partials, never row-count × column-count of
  // full rows. The 11-struct explode at the end is driver-free — the
  // report stays a DataFrame. Timestamp min/max ride epoch days so the
  // representation is numeric on both engines (string formatting of
  // timestamps/doubles is NOT cross-engine stable; day arithmetic is).
  private val q98: Q = (s, dir) => {
    val li = t(s, dir, "lineitem")
    def nulls(c: String) =
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}_nulls")
    // exact mean of an integer key column: DECIMAL(38,0) sum (never
    // overflows at any corpus size) -> one exact->double conversion,
    // then one double division — identical on both engines. The
    // denominator is the NON-NULL count (count(col), not count(*)):
    // a mean over values must ignore nulls, or it falls below min on
    // null-bearing data and disagrees with ProfileStream.current's
    // sum/(n_rows - n_nulls) — the batch/stream pair must report the
    // SAME statistic.
    def meanInt(c: String) =
      (d(sum(col(c).cast(DecimalType(38, 0)))) / count(col(c)))
        .as(s"${c}_mean")
    // exact mean of a 2-decimal money double: Canon.dec2 sum.
    def meanDec(c: String) =
      (d(sum(dec2(col(c)))) / count(col(c))).as(s"${c}_mean")
    val numCols = Seq("l_orderkey", "l_partkey", "l_suppkey",
      "l_linenumber", "l_quantity", "l_extendedprice", "l_discount",
      "l_tax")
    val strCols = Seq("l_returnflag", "l_linestatus")
    val intCols = Set("l_orderkey", "l_partkey", "l_suppkey",
      "l_linenumber")
    val aggs: Seq[Column] =
      Seq(count(lit(1)).as("n_rows")) ++
        (numCols ++ strCols :+ "l_shipdate").map(nulls) ++
        (numCols ++ strCols :+ "l_shipdate")
          .map(c => count_distinct(col(c)).as(s"${c}_nd")) ++
        numCols.flatMap(c => Seq(
          min(col(c)).cast(DoubleType).as(s"${c}_min"),
          max(col(c)).cast(DoubleType).as(s"${c}_max"),
          if (intCols(c)) meanInt(c) else meanDec(c))) ++
        strCols.flatMap(c => Seq(
          min(col(c)).as(s"${c}_smin"), max(col(c)).as(s"${c}_smax"))) ++
        Seq(
          min(datediff(to_date(col("l_shipdate")), lit("1970-01-01")))
            .cast(DoubleType).as("l_shipdate_min"),
          max(datediff(to_date(col("l_shipdate")), lit("1970-01-01")))
            .cast(DoubleType).as("l_shipdate_max"))
    val one = li.agg(aggs.head, aggs.tail: _*)
    def num(c: String) = struct(lit(c).as("col_name"),
      col("n_rows"), col(s"${c}_nulls").as("n_nulls"),
      col(s"${c}_nd").as("n_distinct"),
      col(s"${c}_min").as("min_num"), col(s"${c}_max").as("max_num"),
      round(col(s"${c}_mean"), 6).as("mean"),
      lit(null).cast(StringType).as("min_str"),
      lit(null).cast(StringType).as("max_str"))
    def str(c: String) = struct(lit(c).as("col_name"),
      col("n_rows"), col(s"${c}_nulls").as("n_nulls"),
      col(s"${c}_nd").as("n_distinct"),
      lit(null).cast(DoubleType).as("min_num"),
      lit(null).cast(DoubleType).as("max_num"),
      lit(null).cast(DoubleType).as("mean"),
      col(s"${c}_smin").as("min_str"), col(s"${c}_smax").as("max_str"))
    val tsRow = struct(lit("l_shipdate").as("col_name"),
      col("n_rows"), col("l_shipdate_nulls").as("n_nulls"),
      col("l_shipdate_nd").as("n_distinct"),
      col("l_shipdate_min").as("min_num"),
      col("l_shipdate_max").as("max_num"),
      lit(null).cast(DoubleType).as("mean"),
      lit(null).cast(StringType).as("min_str"),
      lit(null).cast(StringType).as("max_str"))
    one.select(explode(array(
        (numCols.map(num) ++ strCols.map(str) :+ tsRow): _*)).as("r"))
      .select(col("r.*"))
      .orderBy(col("col_name"))
  }

  private val q98Sql = {
    val numCols = Seq("l_orderkey", "l_partkey", "l_suppkey",
      "l_linenumber", "l_quantity", "l_extendedprice", "l_discount",
      "l_tax")
    val intCols = Set("l_orderkey", "l_partkey", "l_suppkey",
      "l_linenumber")
    val strCols = Seq("l_returnflag", "l_linestatus")
    def meanExpr(c: String) =
      if (intCols(c))
        s"CAST(sum(CAST($c AS DECIMAL(38,0))) AS DOUBLE) / count($c)"
      else
        s"CAST(sum(CAST($c AS DECIMAL(18,2))) AS DOUBLE) / count($c)"
    val aggCols =
      Seq("count(*) AS n_rows") ++
        (numCols ++ strCols :+ "l_shipdate").map(c =>
          s"CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)" +
            s" AS ${c}_nulls") ++
        (numCols ++ strCols :+ "l_shipdate").map(c =>
          s"CAST(count(DISTINCT $c) AS BIGINT) AS ${c}_nd") ++
        numCols.flatMap(c => Seq(
          s"CAST(min($c) AS DOUBLE) AS ${c}_min",
          s"CAST(max($c) AS DOUBLE) AS ${c}_max",
          s"round(${meanExpr(c)}, 6) AS ${c}_mean")) ++
        strCols.flatMap(c => Seq(
          s"min($c) AS ${c}_smin", s"max($c) AS ${c}_smax")) ++
        Seq(
          "CAST(date_diff('day', DATE '1970-01-01', " +
            "CAST(min(l_shipdate) AS DATE)) AS DOUBLE) AS l_shipdate_min",
          "CAST(date_diff('day', DATE '1970-01-01', " +
            "CAST(max(l_shipdate) AS DATE)) AS DOUBLE) AS l_shipdate_max")
    def numRow(c: String) =
      s"SELECT '$c' AS col_name, n_rows, ${c}_nulls AS n_nulls, " +
        s"${c}_nd AS n_distinct, ${c}_min AS min_num, " +
        s"${c}_max AS max_num, ${c}_mean AS mean, " +
        "CAST(NULL AS VARCHAR) AS min_str, " +
        "CAST(NULL AS VARCHAR) AS max_str FROM a"
    def strRow(c: String) =
      s"SELECT '$c', n_rows, ${c}_nulls, ${c}_nd, " +
        "CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), " +
        s"CAST(NULL AS DOUBLE), ${c}_smin, ${c}_smax FROM a"
    val tsRow =
      "SELECT 'l_shipdate', n_rows, l_shipdate_nulls, l_shipdate_nd, " +
        "l_shipdate_min, l_shipdate_max, CAST(NULL AS DOUBLE), " +
        "CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR) FROM a"
    s"WITH a AS (SELECT ${aggCols.mkString(", ")} FROM lineitem)\n" +
      (numCols.map(numRow) ++ strCols.map(strRow) :+ tsRow)
        .mkString("\n", "\nUNION ALL\n", "\n") +
      "ORDER BY col_name"
  }

  // ---- q99_changepoint: per-user mean-shift detection -----------------
  // Binary-segmentation first split per user: under the cumulative-
  // deviation statistic S_t = sum_{i<=t}(x_i - mu_u), the most likely
  // single changepoint is argmax |S_t| (CUSUM). Everything is
  // partitioned by user — the windows never see a global frame — and
  // the statistic is computed EXACTLY: 2-decimal values become cents
  // (exact BIGINT), and n*S_t = n*C_t - t*T (the division-free
  // multiple of S_t, same argmax) is DECIMAL(18,0)x(18,0) products —
  // exact at any per-user activity volume, identical on both engines.
  // The reported magnitude max_shift = ascore/(n·100) rounded to 4 is
  // ALSO computed exactly: the quotient is rational and does land on
  // 1e-4 halves (the sf1 hash run caught 272.93375 — Spark's
  // string-repr round and DuckDB's binary round split it), so the
  // HALF_UP round runs in integer arithmetic — floor((2p+q)/(2q)) ==
  // round-half-up(p/q) for p>=0 — and the only double op left is one
  // division of exact integers by 10000.0, correctly rounded and
  // bit-identical on both engines.
  private val q99: Q = (s, dir) => {
    // Events.events rebuilds timestamp_ntz whatever the parquet
    // physical type (TIMESTAMP(NANOS) legacy-long included)
    val ev = Events.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        round(col("value") * 100).cast(LongType).as("cents"))
    val byUser = Window.partitionBy(col("user_id"))
    val ordered = byUser.orderBy(col("ts"), col("event_id"))
    val d18 = DecimalType(18, 0)
    val scored = ev
      .withColumn("t", row_number().over(ordered))
      .withColumn("c_t", sum(col("cents")).over(
        ordered.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", count(lit(1)).over(byUser))
      .withColumn("tot", sum(col("cents")).over(byUser))
      .withColumn("score",
        col("n").cast(d18) * col("c_t").cast(d18) -
          col("t").cast(d18) * col("tot").cast(d18))
      .withColumn("ascore", abs(col("score")))
    scored
      .withColumn("rk", row_number().over(byUser.orderBy(
        col("ascore").desc, col("ts"), col("event_id"))))
      .filter(col("rk") === 1)
      .withColumn("nq", (col("n") * 100L).cast(d18))
      .withColumn("shift4",
        expr("(2 * ascore * 10000 + nq) DIV (2 * nq)"))
      .select(col("user_id"), col("n").as("n_events"),
        col("ts").as("change_ts"),
        (d(col("shift4")) / 10000.0).as("max_shift"))
      .orderBy(col("user_id"))
  }

  private val q99Sql =
    """WITH ev AS (
      |  SELECT user_id, ts, event_id,
      |    CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |sc AS (
      |  SELECT user_id, ts, event_id,
      |    row_number() OVER w AS t,
      |    CAST(sum(cents) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
      |      AND CURRENT ROW) AS BIGINT) AS c_t,
      |    CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n,
      |    CAST(sum(cents) OVER (PARTITION BY user_id) AS BIGINT) AS tot
      |  FROM ev
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |dev AS (
      |  SELECT user_id, ts, event_id, n,
      |    abs(CAST(n AS DECIMAL(18,0)) * CAST(c_t AS DECIMAL(18,0)) -
      |        CAST(t AS DECIMAL(18,0)) * CAST(tot AS DECIMAL(18,0)))
      |      AS ascore
      |  FROM sc),
      |rk AS (
      |  SELECT user_id, ts, n, ascore, row_number() OVER (
      |    PARTITION BY user_id ORDER BY ascore DESC, ts, event_id) AS rk
      |  FROM dev)
      |SELECT user_id, n AS n_events, ts AS change_ts,
      |  CAST((2 * CAST(ascore AS HUGEINT) * 10000 + CAST(n AS HUGEINT) * 100)
      |    // (2 * CAST(n AS HUGEINT) * 100) AS DOUBLE) / 10000.0 AS max_shift
      |FROM rk WHERE rk = 1 ORDER BY user_id""".stripMargin

  // ---- q100_decile_lift: gains table over a ranking score -------------
  // The model-eval table: rank documents by a score (n_chars, doc_id
  // tiebreak — a TOTAL order, the DistributedNtile contract), cut
  // into deciles, report each decile's positive rate (lang = 'en'),
  // lift vs the base rate, and cumulative capture. The decile
  // assignment is graft.operators.DistributedNtile — no window node
  // touches the corpus-sized frame; the only Window in the plan runs
  // over the 10-row decile aggregate (bounded by k forever, the q89
  // catalog-bounded justification). Ratios are double divisions of
  // exact integer (DECIMAL) products — identical on both engines.
  private val q100: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("n_chars"),
        when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
    val tiled = graft.operators.DistributedNtile.withNtile(
      docs, 10, "decile", col("n_chars").desc, col("doc_id"))
    val perDecile = tiled.groupBy(col("decile"))
      .agg(count(lit(1)).as("n_docs"), sum(col("pos")).as("n_pos"))
    val d18 = DecimalType(18, 0)
    val w = Window.orderBy(col("decile"))
    perDecile
      .withColumn("tot_docs", sum(col("n_docs")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("tot_pos", sum(col("n_pos")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("cum_pos", sum(col("n_pos")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("decile").cast(LongType).as("decile"),
        col("n_docs"), col("n_pos"),
        round(d(col("n_pos")) / col("n_docs"), 6).as("pos_rate"),
        round(d(col("n_pos").cast(d18) * col("tot_docs").cast(d18)) /
          d(col("n_docs").cast(d18) * col("tot_pos").cast(d18)), 4)
          .as("lift"),
        round(d(col("cum_pos")) / col("tot_pos"), 6).as("cum_capture"))
      .orderBy(col("decile"))
  }

  private val q100Sql =
    """WITH docs AS (
      |  SELECT doc_id, n_chars,
      |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos,
      |    ntile(10) OVER (ORDER BY n_chars DESC, doc_id) AS decile
      |  FROM documents),
      |agg AS (
      |  SELECT decile, count(*) AS n_docs,
      |    CAST(sum(pos) AS BIGINT) AS n_pos
      |  FROM docs GROUP BY decile),
      |tot AS (
      |  SELECT decile, n_docs, n_pos,
      |    CAST(sum(n_docs) OVER () AS BIGINT) AS tot_docs,
      |    CAST(sum(n_pos) OVER () AS BIGINT) AS tot_pos,
      |    CAST(sum(n_pos) OVER (ORDER BY decile ROWS BETWEEN UNBOUNDED
      |      PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_pos
      |  FROM agg)
      |SELECT CAST(decile AS BIGINT) AS decile, n_docs, n_pos,
      |  round(CAST(n_pos AS DOUBLE) / n_docs, 6) AS pos_rate,
      |  round(CAST(CAST(n_pos AS DECIMAL(18,0)) *
      |      CAST(tot_docs AS DECIMAL(18,0)) AS DOUBLE) /
      |    CAST(CAST(n_docs AS DECIMAL(18,0)) *
      |      CAST(tot_pos AS DECIMAL(18,0)) AS DOUBLE), 4) AS lift,
      |  round(CAST(cum_pos AS DOUBLE) / tot_pos, 6) AS cum_capture
      |FROM tot ORDER BY decile""".stripMargin

  // ---- q104_psi: population stability index per source ----------------
  // The distribution-drift monitor every scoring/ingest pipeline runs:
  // PSI(source ‖ corpus) = Σ_i (p_i − q_i)·ln(p_i/q_i) over n_chars
  // buckets, p = the source's bucket shares, q = the whole blend's.
  // PSI < 0.1 stable, 0.1–0.25 moderate, > 0.25 action — reported per
  // source so a drifting ingest stream is named directly.
  //
  // Buckets are FIXED-WIDTH (floor(n_chars/500), clamped to 0..9):
  // scale-free per-row arithmetic — no sort, no ntile, no cutoff
  // model to broadcast. Conventional zero-handling: buckets where the
  // source has no mass are skipped (their limit contribution is the
  // q-side mass only and diverges under the strict formula; p_i > 0
  // implies q_i > 0 since the source is part of the blend) — the
  // oracle applies the identical rule by construction of the join.
  //
  // Scale shape: ONE corpus pass to (source, bucket) counts; every
  // frame after that is ≤ sources×10 rows. Determinism: p and q are
  // single divisions of exact integers; each bucket's contribution is
  // one mirrored double tree cast to DECIMAL(20,10) BEFORE the
  // per-source sum (the bm25 discipline — the sum is then independent
  // of Spark's partial-aggregation order), one final round.
  private val q104: Q = (s, dir) => psiFor(t(s, dir, "documents"))

  // session-persisted (source, b, c) histogram cells (round-14): the
  // PSI derivation reads the cell frame FOUR times (per-source
  // totals, blend totals, grand total, join base), and each read
  // re-ran the corpus aggregation per invocation — yet the cells are
  // exactly the state `streaming.HistStream` maintains additively
  // (the q80 valueCells precedent). Bounded by sources × 10 buckets,
  // so residency is KBs at any corpus size.

  /** q104's body over any documents frame — also the parity target of
    * the incremental maintainer (HistStreamSpec serves its PSI from
    * streamed state and requires byte-identical rows). */
  private[graft] def psiFor(documents: DataFrame): DataFrame =
    psiOfCells(graft.operators.ArtifactStore.frame("psi_cells", documents)(
      bucketCells(documents)))

  /** q104's bucketing — the ONE definition the batch/stream pair
    * shares (HistStream maintains exactly these cells). */
  private[graft] def bucketCells(documents: DataFrame): DataFrame =
    documents.filter(col("n_chars").isNotNull)
      .groupBy(col("source"),
        least(floor(col("n_chars") / 500), lit(9L)).cast(LongType)
          .as("b"))
      .agg(count(lit(1)).cast(LongType).as("c"))

  /** The (source, b, c) cells → PSI report derivation — the ONE
    * expression tree both q104 and `HistStream.currentPsi` serve, so
    * the batch/stream parity is identical by construction rather than
    * by two hand-synchronized copies (the cosineVsQueryFor
    * discipline). n_all = Σ cells ≡ the filtered doc count: every
    * non-null-n_chars row lands in exactly one cell. */
  private[graft] def psiOfCells(cell: DataFrame): DataFrame = {
    val d18 = DecimalType(20, 10)
    val srcTot = cell.groupBy(col("source"))
      .agg(sum(col("c")).cast(LongType).as("n_src"))
    val blend = cell.groupBy(col("b"))
      .agg(sum(col("c")).cast(LongType).as("cb"))
    val tot = cell.agg(sum(col("c")).cast(LongType).as("n_all"))
    val p = col("c").cast(DoubleType) / col("n_src").cast(DoubleType)
    val q = col("cb").cast(DoubleType) / col("n_all").cast(DoubleType)
    cell
      .join(broadcast(srcTot), "source")
      .join(broadcast(blend), "b")
      .crossJoin(broadcast(tot))
      .select(col("source"), col("n_src"),
        ((p - q) * log(p / q)).cast(d18).as("contrib"))
      .groupBy(col("source"))
      .agg(max(col("n_src")).as("n_docs"),
        round(sum(col("contrib")).cast(DoubleType), 6).as("psi"))
      .orderBy(col("source"))
  }

  private val q104Sql =
    """WITH docs AS (
      |  SELECT source, least(CAST(floor(n_chars / 500) AS BIGINT), 9)
      |    AS b
      |  FROM documents WHERE n_chars IS NOT NULL),
      |cell AS (
      |  SELECT source, b, CAST(count(*) AS BIGINT) AS c
      |  FROM docs GROUP BY source, b),
      |srct AS (
      |  SELECT source, CAST(sum(c) AS BIGINT) AS n_src
      |  FROM cell GROUP BY source),
      |blend AS (
      |  SELECT b, CAST(sum(c) AS BIGINT) AS cb FROM cell GROUP BY b),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_all FROM docs),
      |contribs AS (
      |  SELECT source, n_src,
      |    CAST((CAST(c AS DOUBLE) / CAST(n_src AS DOUBLE)
      |          - CAST(cb AS DOUBLE) / CAST(n_all AS DOUBLE)) *
      |      ln((CAST(c AS DOUBLE) / CAST(n_src AS DOUBLE)) /
      |         (CAST(cb AS DOUBLE) / CAST(n_all AS DOUBLE)))
      |      AS DECIMAL(20,10)) AS contrib
      |  FROM cell JOIN srct USING (source) JOIN blend USING (b)
      |  CROSS JOIN tot)
      |SELECT source, max(n_src) AS n_docs,
      |  round(CAST(sum(contrib) AS DOUBLE), 6) AS psi
      |FROM contribs GROUP BY source ORDER BY source""".stripMargin

  // ---- q105_auc: exact ROC AUC / Gini of a ranking score ---------------
  // The Mann-Whitney formulation: AUC = (Σ midranks over positives −
  // n₊(n₊+1)/2) / (n₊·n₋), with MIDRANK tie handling (every member of
  // a score-tie group gets the group's average rank — the standard
  // estimator; min- or tiebreak-rank would bias AUC on tied scores).
  // Scores here: n_chars predicting lang = 'en' (q100's axis, so the
  // two eval tables grade the same ranker).
  //
  // Scale shape: global ranks come from DistributedNtile
  // .withGlobalRank (THIRD consumer of the range-exchange rank
  // machinery — no single-partition window anywhere); tie stats are
  // one aggregation by score; everything else is exact-integer
  // algebra. 2·midrank = 2·minrank + ties − 1 is an INTEGER, so the
  // positive-rank mass sums exactly in DECIMAL(38,0) (rank sums reach
  // n² — past 2^63 at corpus scale, so BIGINT would overflow where
  // DECIMAL cannot); ONE double division at the end, mirrored.
  private val q105: Q = (s, dir) => {
    val d38 = DecimalType(38, 0)
    // NULL scores are excluded like q104's: engines disagree on NULL
    // placement in rank orders (Spark range-sorts NULL first, DuckDB
    // ranks them last) AND on whether the tie join keeps them — the
    // only cross-engine-stable semantics is to score non-null rows
    val docs = t(s, dir, "documents")
      .filter(col("n_chars").isNotNull)
      .select(col("doc_id"), col("n_chars").as("score"),
        when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
    val ranked = graft.operators.DistributedNtile
      .withGlobalRank(docs, "rk", col("score"), col("doc_id"))
    val ties = ranked.groupBy(col("score"))
      .agg(min(col("rk")).as("mn"), count(lit(1)).as("ts"))
    val sums = ranked
      .join(ties, "score")
      .agg(
        sum(when(col("pos") === 1,
          (lit(2) * col("mn") + col("ts") - 1).cast(d38))).as("smr2"),
        sum(col("pos")).cast(LongType).as("np"),
        count(lit(1)).cast(LongType).as("nt"))
    // AUC = num/den is a rational of exact integers (rank sums over
    // counts) — round(double, 6) ties split Spark's string-repr round
    // against DuckDB's binary round (the q99 disease), so the HALF_UP
    // round runs in exact integer arithmetic (floor((2p+q)/(2q)) ==
    // round-half-up(p/q), p >= 0 since the rank sum is at least the
    // positives' minimum) and gini derives from the SAME rounded
    // integer; the only double ops are divisions by 10⁶.
    sums
      .withColumn("num", col("smr2") -
        col("np").cast(d38) * (col("np") + 1).cast(d38))
      .withColumn("den", lit(2).cast(d38) * col("np").cast(d38) *
        (col("nt") - col("np")).cast(d38))
      .withColumn("auc6", expr("(2 * num * 1000000 + den) DIV (2 * den)"))
      .select(col("np").as("n_pos"),
        (col("nt") - col("np")).as("n_neg"),
        (d(col("auc6")) / 1000000.0).as("auc"),
        (d(lit(2L) * col("auc6") - lit(1000000L)) / 1000000.0).as("gini"))
  }

  private val q105Sql =
    """WITH d AS (
      |  SELECT doc_id, n_chars AS score,
      |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
      |  FROM documents WHERE n_chars IS NOT NULL),
      |r AS (
      |  SELECT score, pos,
      |    rank() OVER (ORDER BY score) AS mn,
      |    count(*) OVER (PARTITION BY score) AS ts
      |  FROM d),
      |s AS (
      |  -- HUGEINT, not DECIMAL(38,0): DuckDB's decimal multiply caps
      |  -- at combined width 38 (the q86 lesson), and sum(BIGINT)
      |  -- already returns HUGEINT — the same exact integers Spark
      |  -- carries in DECIMAL(38,0)
      |  SELECT
      |    sum(CASE WHEN pos = 1
      |        THEN CAST(2 * mn + ts - 1 AS HUGEINT) END) AS smr2,
      |    CAST(sum(pos) AS BIGINT) AS np,
      |    CAST(count(*) AS BIGINT) AS nt
      |  FROM r),
      |x AS (
      |  -- exact-integer HALF_UP of the rational num/den (the q99
      |  -- floor((2p+q)/(2q)) discipline): round(double, 6) ties
      |  -- would split the two engines' rounding modes
      |  SELECT np, nt,
      |    (2 * (smr2 - CAST(np AS HUGEINT) * CAST(np + 1 AS HUGEINT))
      |       * 1000000
      |     + 2 * CAST(np AS HUGEINT) * CAST(nt - np AS HUGEINT))
      |    // (2 * 2 * CAST(np AS HUGEINT) * CAST(nt - np AS HUGEINT))
      |      AS auc6
      |  FROM s)
      |SELECT np AS n_pos, nt - np AS n_neg,
      |  CAST(auc6 AS DOUBLE) / 1000000.0 AS auc,
      |  CAST(2 * auc6 - 1000000 AS DOUBLE) / 1000000.0 AS gini
      |FROM x""".stripMargin

  // ---- q109_k_anonymity: quasi-identifier re-identification audit ----
  // The privacy screen a dataset release (or a training-corpus
  // metadata table) runs before publication: group rows by their
  // quasi-identifier tuple — here (nation, market segment, account-
  // balance band) — and report, for each k threshold, how many
  // equivalence classes and how many ROWS sit in classes smaller than
  // k (a row in a size-1 class is uniquely re-identifiable from the
  // quasi-identifiers alone; k-anonymity demands every class ≥ k).
  //
  // Scale shape: one hash-aggregation to the classes frame, whose
  // cardinality is bounded by the quasi-identifier DOMAIN product
  // (|nations| × |segments| × |balance bands| — fixed-domain
  // metadata, not corpus-sized), then all thresholds come out of ONE
  // aggregate pass over it, exploded to rows driver-free. No windows,
  // no joins. Determinism: the balance band is floor of a single IEEE
  // double division both engines perform identically on the same
  // 2-decimal money values; everything else is exact integers, and
  // the at-risk fraction is halfUp'd.
  private val KAnonThresholds = Seq(2L, 5L, 10L)

  private val q109: Q = (s, dir) => {
    val classes = t(s, dir, "customer")
      .groupBy(col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / 1000).cast(LongType).as("band"))
      .agg(count(lit(1)).as("k"))
    val firstAgg = sum(col("k")).cast(LongType).as("total")
    val restAggs = KAnonThresholds.flatMap(th => Seq(
      sum(when(col("k") < th, 1L).otherwise(0L))
        .cast(LongType).as(s"c$th"),
      sum(when(col("k") < th, col("k")).otherwise(0L))
        .cast(LongType).as(s"r$th")))
    classes.agg(firstAgg, restAggs: _*)
      .select(explode(array(KAnonThresholds.map(th => struct(
        lit(th).as("k_threshold"),
        col(s"c$th").as("n_classes_below"),
        col(s"r$th").as("n_rows_below"),
        halfUp(col(s"r$th"), col("total"), 6)
          .as("pct_rows_below"))): _*)).as("z"))
      .select(col("z.k_threshold"), col("z.n_classes_below"),
        col("z.n_rows_below"), col("z.pct_rows_below"))
      .orderBy(col("k_threshold"))
  }

  private val q109Sql = {
    val cells = KAnonThresholds.map(th =>
      s"""    CAST(sum(CASE WHEN k < $th THEN 1 ELSE 0 END) AS BIGINT)
         |      AS c$th,
         |    CAST(sum(CASE WHEN k < $th THEN k ELSE 0 END) AS BIGINT)
         |      AS r$th""".stripMargin).mkString(",\n")
    val union = KAnonThresholds.zipWithIndex.map { case (th, i) =>
      val cast = if (i == 0) s"CAST($th AS BIGINT)" else s"$th"
      s"""  SELECT $cast AS k_threshold, c$th AS n_classes_below,
         |    r$th AS n_rows_below,
         |    CAST((2 * r$th * 1000000 + total)
         |         // (2 * total) AS DOUBLE) / 1000000.0 AS pct_rows_below
         |  FROM s""".stripMargin
    }.mkString("\n  UNION ALL\n")
    s"""WITH cls AS (
       |  SELECT c_nationkey, c_mktsegment,
       |    CAST(floor(c_acctbal / 1000) AS BIGINT) AS band,
       |    count(*) AS k
       |  FROM customer GROUP BY 1, 2, 3),
       |s AS (
       |  SELECT CAST(sum(k) AS BIGINT) AS total,
       |$cells
       |  FROM cls)
       |SELECT * FROM (
       |$union
       |) ORDER BY k_threshold""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "q98_profile" -> q98,
    "q99_changepoint" -> q99,
    "q100_decile_lift" -> q100,
    "q104_psi" -> q104,
    "q105_auc" -> q105,
    "q109_k_anonymity" -> q109)

  val oracles: Map[String, String] = Map(
    "q98_profile" -> q98Sql,
    "q99_changepoint" -> q99Sql,
    "q100_decile_lift" -> q100Sql,
    "q104_psi" -> q104Sql,
    "q105_auc" -> q105Sql,
    // exact class censuses; the at-risk fraction is halfUp'd
    "q109_k_anonymity" -> q109Sql)
}
