package graft.queries

import graft.Tables
import graft.operators.{ArtifactStore, DistributedNtile}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}

/** Build-once/serve-many rank artifact over the orders table
  * (VERDICT r12 #4): q39 (percentile witnesses), q52 (approx-
  * percentile verdict), q64 (quartile tiles), and q65 (median + mode)
  * all rank THE SAME axis — (o_totalprice, o_orderkey) within
  * o_orderpriority — yet round 12 built four independent rank runs
  * per inventory pass (~1 s each at sf0.1). This artifact builds the
  * ranked frame ONCE per (table snapshot, session) as an
  * [[ArtifactStore]] frame; the four consumers read the stored
  * columns and differ only in their aggregation on top.
  *
  * q55 is NOT served here: it ranks the `o_orderstatus = 'P'` SUBSET,
  * and a subset's per-group row ranks are not derivable from the full
  * corpus ranks (every retained row's rank depends on how many
  * FILTERED rows precede it) — it ranks per invocation.
  *
  * Fault model: `persist` (unlike the retired `localCheckpoint`
  * freeze) RETAINS lineage, and round-13 ranks are a pure function of
  * row values against plan-frozen boundaries
  * (operators/RangeBuckets.scala), so a lost executor's partitions
  * recompute to identical ranks — the artifact is crash-consistent by
  * construction. Snapshot semantics are ArtifactStore's: the
  * artifact reflects the table as of its build (the
  * catalog-statistics model); `ArtifactStore.clearAll()` after a
  * table rewrite evicts it.
  */
object OrderRanks {

  /** Exact integer cents for o_totalprice — the shared presentation
    * discipline (integer cells cannot diverge across engine
    * versions; Relational q39 round 11). */
  private[queries] def centsCol =
    (col("o_totalprice").cast(DecimalType(18, 2)) * lit(100))
      .cast(LongType)

  /** The ranked-orders artifact: (o_orderpriority, o_totalprice,
    * o_orderkey, cents, rn, n) where rn = 1-based row rank under
    * (o_totalprice, o_orderkey) within o_orderpriority and n = the
    * priority's row count — `row_number()` + `count(*)` over
    * `Window.partitionBy(o_orderpriority)` without the ≤5-value
    * corpus window (the q39 straggler class). */
  def byPriorityPrice(s: SparkSession, dir: String): DataFrame = {
    val base = Tables(s, dir, "orders")
      .select(col("o_orderpriority"), col("o_totalprice"),
        col("o_orderkey"), centsCol.as("cents"))
    ArtifactStore.frame("order_ranks", base)(
      DistributedNtile.withGroupRank(base, "o_orderpriority", "rn", "n",
        col("o_totalprice"), col("o_orderkey")))
  }
}
