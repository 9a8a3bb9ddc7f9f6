package graft.queries

import graft.{SparkEntry, SparkSpec}

/** Inventory-wide plan-shape regression guard (VERDICT r7 #7): every
  * query's initial-plan exchange and sort counts must stay within the
  * committed budget (`src/test/resources/plan-budgets.tsv`, generated
  * by `graft.tools.PlanCensus` at sf0.001). A future edit that adds a
  * shuffle or a global sort to any of the 157 queries fails HERE with
  * the offending counts, instead of silently regressing the 100 TB
  * posture until a bench round notices.
  *
  * The counts are static upper bounds (AQE's unexecuted plan prints
  * shared subtrees repeatedly; runtime reuse dedups them) — monotone
  * in plan edits, deterministic for the fixed spec fixture. A
  * LEGITIMATE shape change (a new stage that buys something, with the
  * trade documented) regenerates the table:
  *   tools/run.sh graft.tools.PlanCensus > src/test/resources/plan-budgets.tsv
  */
class PlanBudgetSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private lazy val budgets: Map[String, (Int, Int)] = {
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/plan-budgets.tsv"))
    try src.getLines().filter(_.nonEmpty).map { line =>
      val Array(name, ex, so) = line.split("\t")
      name -> (ex.toInt, so.toInt)
    }.toMap
    finally src.close()
  }

  test("every query has a committed plan budget, and no budgeted " +
    "query is gone") {
    val missing = SparkEntry.queries.keySet -- budgets.keySet
    assert(missing.isEmpty,
      s"queries without a plan budget (regenerate with PlanCensus): " +
        s"${missing.toSeq.sorted.mkString(", ")}")
    val stale = budgets.keySet -- SparkEntry.queries.keySet
    assert(stale.isEmpty,
      s"budgets for queries that no longer exist: " +
        s"${stale.toSeq.sorted.mkString(", ")}")
  }

  test("no query's plan exceeds its committed exchange/sort budget") {
    // plan shapes legitimately differ between a cold session (artifact
    // re-derived in-plan) and a warm one (InMemoryTableScan of a
    // persisted artifact another suite happened to build) — pin the
    // state to the census's: parquet-direct reads, empty artifact
    // caches, queries built in sorted order so caches warm in the
    // same sequence PlanCensus saw
    graft.Tables.clearViews(spark)
    graft.operators.ArtifactStore.clearAll()
    val over = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val plan = fn(spark, dir).queryExecution.executedPlan.toString
        val (ex, so) = graft.tools.PlanCensus.counts(plan)
        val (bex, bso) = budgets(name)
        if (ex > bex || so > bso)
          Some(s"$name: exchanges $ex (budget $bex), sorts $so " +
            s"(budget $bso)")
        else None
    }
    assert(over.isEmpty,
      s"plan budget regressions:\n${over.mkString("\n")}\n" +
        "If the new shape is intentional, regenerate the table with " +
        "graft.tools.PlanCensus and document the trade.")
  }
}
