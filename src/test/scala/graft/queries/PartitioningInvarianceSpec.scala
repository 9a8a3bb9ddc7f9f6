package graft.queries

import graft.{SparkEntry, Tables}
import org.apache.spark.sql.DataFrame

/** Whole-inventory partitioning-invariance pin (r7): every query's
  * FULL ORDERED output must be identical whether inputs are read
  * parquet-direct (one split at fixture scale) or served from cached
  * views repartitioned to an adversarial width — because the driver's
  * oracle compare (tools/check.py, the t2 gate) matches rows IN
  * ORDER, any query whose final sort is not total over its output, or
  * whose values leak partial-aggregation order, is a latent red gate
  * that only fires when the physical plan shifts. This is the pin
  * that would have caught q01's non-total two-key ORDER BY (found
  * manually in r7 when Verify switched to registered views).
  *
  * Exclusions, each for a declared reason:
  *  - llm_embed_pca: rows-only gate by design — treeAggregate moment
  *    sums differ in ulps across partitionings (documented on
  *    operators.Pca), so projections can flip low-order digits.
  */
class PartitioningInvarianceSpec extends graft.SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private val rowsOnly = Set("llm_embed_pca")

  // evict every session artifact (and the durable-quantizer load
  // cache), so pass-2 artifacts keyed on view plans (which no later
  // suite can hit) do not stay persisted/pinned for the rest of the
  // shared-session JVM (r7 review, both passes)
  private def clearAllCaches(): Unit = {
    graft.operators.ArtifactStore.clearAll()
    graft.operators.KMeans.clearLoadedCache()
  }

  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case null => "NULL"
      case d: java.math.BigDecimal => d.stripTrailingZeros.toPlainString
      case arr: scala.collection.Seq[_] => arr.mkString("[", ",", "]")
      case x => x.toString
    }.mkString("|")).toSeq

  test("every query's full ordered output is identical parquet-direct " +
    "vs repartitioned cached views") {
    val names = SparkEntry.queries.keys.toSeq.sorted
    // pass 1: parquet-direct (the Verify-before-r7 physical shape)
    Tables.clearViews(spark)
    clearAllCaches()
    val direct = names.map { n =>
      n -> canon(SparkEntry.queries(n)(spark, dir))
    }.toMap
    // pass 2: cached views at an adversarial width (7 is coprime to
    // every fixture row count and differs from the work-model picks)
    Tables.registerViews(spark, dir,
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK, parts = 7)
    // artifacts were built on parquet-direct plans; view plans key
    // differently, so clear every session cache to force rebuilds on
    // the new partitioning
    clearAllCaches()
    try {
      names.foreach { n =>
        val viaViews = canon(SparkEntry.queries(n)(spark, dir))
        if (rowsOnly.contains(n)) {
          assert(viaViews.size == direct(n).size,
            s"$n: row count depends on partitioning")
        } else {
          assert(viaViews == direct(n),
            s"$n: output depends on input partitioning\n" +
              s"direct=${direct(n).take(3)}...\n" +
              s"views =${viaViews.take(3)}...")
        }
      }
    } finally {
      Tables.clearViews(spark)
      clearAllCaches()
    }
  }
}
