package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bloom-filter semi-join reduction: build a compact membership
  * sketch of the small side's join keys, probe it on the big side
  * BEFORE the exact join, and let the join see only rows that can
  * possibly match.
  *
  * The 100 TB role: an exact equi-join shuffles the ENTIRE big side
  * on the join key even when the small side is selective — e.g. a
  * fact table joined to a filtered dimension slice matches 20 % of
  * its rows but ships 100 %. When the small side fits a broadcast
  * hash map, broadcast solves this; when it doesn't (tens of millions
  * of keys), a bloom filter still fits executor memory at a few bits
  * per key, and probing it map-side drops non-matching fact rows
  * before the exchange. No false negatives, so the join result is
  * IDENTICAL to the plain join — false positives (rate `fpp`) just
  * ride the shuffle and fall out of the exact join. This is the
  * manual, composable form of the runtime row-level filtering AQE
  * applies to selective shuffle joins.
  *
  * Build: `small.stat.bloomFilter` (distributed partial aggregation,
  * sketch merged on the driver), memoized per (small plan, key, fpp)
  * under the session's build-once artifact contract (ArtifactStore) —
  * repeated joins against the same dimension slice reuse the sketch.
  * Constructing the frame is therefore EAGER on first use (count +
  * sketch jobs), like the other planner-stats passes.
  */
object BloomJoin {

  /** Serialized bloom filter of `small`'s `key` column (memoized). */
  private[graft] def bloomBytesFor(small: DataFrame, key: String,
      fpp: Double): Array[Byte] =
    ArtifactStore.value("bloom_filter", small, (key, fpp)) {
      val n = small.count()
      // an EMPTY build side must yield a valid never-matching filter:
      // stat.bloomFilter's zero-row aggregation returns a sketch with
      // a null bit buffer whose serialization NPEs (found by
      // EmptyInputSpec), so build the empty filter directly
      val bf =
        if (n == 0L)
          org.apache.spark.util.sketch.BloomFilter.create(1L, fpp)
        else small.stat.bloomFilter(key, n, fpp)
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      bos.toByteArray
    }()

  /** Inner equi-join of `big` to `small` with a bloom pre-filter on
    * the big side. Result is identical to
    * `big.join(small, big(bigKey) === small(smallKey))` in every
    * case (no false negatives; null keys match nothing under either
    * plan — the probe returns null and the filter drops the row, as
    * the inner join would).
    */
  def bloomPrunedJoin(big: DataFrame, small: DataFrame,
      bigKey: String, smallKey: String, fpp: Double = 0.01): DataFrame = {
    val bytes = bloomBytesFor(small, smallKey, fpp)
    val pruned = big.filter(
      graft.functions.BloomOps.might_contain(col(bigKey), bytes))
    pruned.join(small, pruned(bigKey) === small(smallKey))
  }
}
