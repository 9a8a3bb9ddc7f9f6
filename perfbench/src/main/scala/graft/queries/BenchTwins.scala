package graft.queries

import org.apache.spark.sql.DataFrame

/** Batch twins of the streaming maintainers the benchmark drives, for
  * its output checks: the library's own one-shot builds, which are
  * package-private. Uncached, so a check never reads a served artifact.
  */
object BenchTwins {
  /** What `DedupIndexStream` maintains: (a_id, b_id, jaccard). */
  def dedupPairs(documents: DataFrame): DataFrame =
    Llm.lshVerifiedPairsFor(documents)

  /** What `DocumentStream.termStatsStream` maintains: (source, w, tf, sdf). */
  def termStats(documents: DataFrame): DataFrame =
    Curation.termStatsFor(documents)
}
