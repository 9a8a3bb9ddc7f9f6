package graft.queries

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Window => LWindow}
import org.apache.spark.sql.expressions.{Window => WSpec}
import org.apache.spark.sql.functions._

/** The witness-window disease guard (VERDICT r11 #1 / Next #6): a
  * Window partitioned by a BOUNDED-CONSTANT key over a CORPUS-sized
  * input sorts corpus/K rows in ONE task — the straggler class the
  * round-12 q39/q52/q64/q65/q76/q90 migrations eliminated. This spec
  * makes the NEXT reintroduction fail in CI instead of surviving
  * until a bench round notices.
  *
  * Audit rule, per Window node in every query's optimized plan:
  *   - a window every one of whose leaf-to-window paths passes
  *     through an Aggregate is a DERIVED-ALPHABET frame (the q80
  *     cells class, cluster-width count frames, codebook frames):
  *     its input is a groupBy image whose growth the owning query
  *     documents, not raw corpus rows — allowed;
  *   - otherwise the window runs over corpus-lineage rows: evaluate
  *     the child at BOTH sf0.001 and sf0.01. Diseased when the big
  *     fixture's input is non-trivial (≥ MinRows), its mean
  *     partition size exceeds MaxAvg, AND the partition-key
  *     cardinality did NOT grow with the corpus (keys(sf0.01) <
  *     2·keys(sf0.001)): a bounded alphabet (event_type, priority)
  *     stays constant across fixtures while a per-entity key
  *     (user_id: 15 → 150 here) scales with its table — per-entity
  *     partitions stay bounded as corpus and entities co-grow, the
  *     legitimate window shape.
  *
  * Limits, stated honestly: subtrees hidden behind a (lazy)
  * localCheckpoint barrier are not visible in the final plan (their
  * windows are per-entity ranks in the bitext entries), and a join
  * mixing one covered and one uncovered branch is audited as
  * uncovered (conservative — fires early, never silently passes).
  */
class WindowAuditSpec extends SparkSpec {

  private val dirSmall = "/root/testdata/sf0.001"
  private val dirBig = "/root/testdata/sf0.01"
  private val MinRows = 2048L
  private val MaxAvg = 256.0

  private def aggCovered(p: LogicalPlan): Boolean = p match {
    case _: Aggregate => true
    // a session artifact (ArtifactStore + persist — the q76/q80 value
    // cells, PQ codebooks…) substitutes an InMemoryRelation leaf for
    // the derivation subtree; audit the CACHED logical plan, so a
    // bounded-cells frame stays recognized as one when served from
    // the cache (round 13)
    case m: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
      aggCovered(m.cacheBuilder.logicalPlan)
    // a STORED session artifact (ArtifactStore, round 14) substitutes
    // a parquet scan of the session temp table for the derivation;
    // audit the registered BUILD plan, so a bounded-cells frame stays
    // recognized when served from its stored table
    case l if graft.operators.ArtifactStore.buildPlanFor(l).isDefined =>
      aggCovered(graft.operators.ArtifactStore.buildPlanFor(l).get)
    case l if l.children.isEmpty => false
    case n => n.children.forall(aggCovered)
  }

  /** (rows, partitionKeys, partition-spec description) for every
    * NON-Aggregate-covered Window in df's optimized plan, in plan
    * order. */
  private def windowStats(df: DataFrame): Seq[(Long, Long, String)] =
    df.queryExecution.optimizedPlan
      .collect { case w: LWindow if !aggCovered(w.child) => w }
      .map { w =>
        val child = GraftBridge.ofRows(df.sparkSession, w.child)
        val rows = child.count()
        val keys =
          if (w.partitionSpec.isEmpty) 1L
          else child
            .select(w.partitionSpec.map(GraftBridge.column): _*)
            .distinct().count()
        (rows, keys, w.partitionSpec.mkString(", "))
      }

  /** Violations for one query built at both fixtures. Windows pair by
    * plan order (same construction → same plan shape); a big-fixture
    * window with no small twin is judged as no-growth (conservative). */
  private def violations(small: DataFrame, big: DataFrame): Seq[String] = {
    val s = windowStats(small)
    val b = windowStats(big)
    b.zipWithIndex.flatMap { case ((rows, keys, desc), i) =>
      val smallKeys = s.lift(i).map(_._2).getOrElse(keys)
      val avg = if (keys == 0) 0.0 else rows.toDouble / keys
      if (rows >= MinRows && avg > MaxAvg && keys < 2 * smallKeys)
        Some(s"corpus window over $rows rows with $keys partition " +
          f"keys (mean $avg%.0f rows/key; $smallKeys keys at " +
          s"sf0.001 — bounded alphabet) — partition by [$desc]")
      else None
    }
  }

  test("no query plans a bounded-alphabet corpus window (the q39 " +
    "straggler class)") {
    graft.Tables.clearViews(spark)
    graft.operators.ArtifactStore.clearAll()
    val bad = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        violations(fn(spark, dirSmall), fn(spark, dirBig))
          .map(v => s"$name: $v")
    }
    assert(bad.isEmpty,
      s"bounded-alphabet corpus windows reintroduced:\n" +
        bad.mkString("\n") +
        "\nUse DistributedNtile.withGroupRank/withGroupNtile (range-" +
        "partitioned ranks) or a bounded-cells derivation " +
        "(Stats.histWitnesses) instead.")
  }

  test("the guard fires on the canonical disease (r11 q39 shape)") {
    def diseased(dir: String): DataFrame =
      graft.Tables(spark, dir, "orders")
        .select(col("o_orderpriority"), col("o_totalprice"),
          col("o_orderkey"),
          row_number().over(WSpec.partitionBy(col("o_orderpriority"))
            .orderBy(col("o_totalprice"), col("o_orderkey"))).as("rn"))
    val v = violations(diseased(dirSmall), diseased(dirBig))
    assert(v.nonEmpty, "the audit must flag a row_number window " +
      "partitioned by a 5-value key over the orders corpus")
    assert(v.head.contains("corpus window"))
  }

  test("per-entity corpus windows and bounded cells frames pass") {
    // per-entity: events ranked within user_id — the key cardinality
    // grows with the corpus (15 -> 150 users), partitions stay small
    def perEntity(dir: String): DataFrame =
      Events.events(spark, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          row_number().over(WSpec.partitionBy(col("user_id"))
            .orderBy(col("ts"), col("event_id"))).as("rn"))
    assert(violations(perEntity(dirSmall), perEntity(dirBig)).isEmpty,
      "per-entity windows must not be flagged")
    // derived alphabet: q80's cells windows (Aggregate-covered)
    assert(violations(
      SparkEntry.queries("q80_mad")(spark, dirSmall),
      SparkEntry.queries("q80_mad")(spark, dirBig)).isEmpty,
      "Aggregate-covered cells windows must not be flagged")
  }
}
