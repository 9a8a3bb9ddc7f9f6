package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Salted equi-join for skewed keys (SURVEY.md §2.4 "100 TB posture").
  *
  * AQE's skew-join handles most cases at runtime; explicit salting is
  * the fallback when one side's hot keys overwhelm even split
  * partitions (classic hot-shingle / hot-user joins in dedup
  * pipelines). The big side gets a deterministic salt derived from a
  * hash of its row, the small side is exploded across all salt values,
  * and the join key becomes (key, salt) — spreading each hot key over
  * `salts` reducers. Result set is identical to the plain equi-join.
  */
object SkewJoin {

  def saltedEquiJoin(
      big: DataFrame,
      small: DataFrame,
      bigKey: String,
      smallKey: String,
      salts: Int = 16): DataFrame = {
    require(salts > 0)
    // the plumbing column must not silently clobber user data (and in
    // saltedHotKeyJoin it would desynchronize the hot branch's schema
    // from the cold branch's positional union)
    require(!big.columns.contains("__salt") &&
      !small.columns.contains("__salt"),
      "saltedEquiJoin reserves the column name __salt")
    // deterministic per-row salt (hash of the whole row, not random()
    // or a positional id): a map-task retry MUST re-salt each row into
    // the same bucket, or partially-fetched shuffle output plus a
    // recompute can duplicate/lose rows (the round-robin-repartition
    // indeterminacy class). Known limit: EXACT-duplicate rows of a hot
    // key all hash to one bucket and are not spread — if a caller's
    // data has meaningful full-row duplicates they should carry a
    // unique row id column (which joins the hash and spreads them)
    // rather than have this operator inject a non-deterministic one.
    val bigSalted = big.withColumn("__salt",
      pmod(xxhash64(struct(big.columns.map(col): _*)), lit(salts.toLong))
        .cast("int"))
    val smallExploded = small.withColumn("__salt",
      explode(sequence(lit(0), lit(salts - 1))))
    bigSalted
      .join(smallExploded,
        bigSalted(bigKey) === smallExploded(smallKey) &&
          bigSalted("__salt") === smallExploded("__salt"))
      .drop("__salt")
  }

  /** Hot-key-adaptive salted join (r4): salting EVERY key replicates
    * the whole small side `salts`× even when only a handful of keys
    * are hot — so detect the hot keys first (seeded sample of the big
    * side, estimate > `hotRowThreshold` rows) and split the plan:
    * hot-key rows ride the salted join, everything else a plain
    * equi-join that Catalyst/AQE optimize as usual. On a corpus with
    * no skew the operator degrades to exactly the plain join (zero
    * replication); the result set is identical to the plain join in
    * every case, which is what q49's oracle pins. Null-keyed rows
    * match nothing under an inner equi-join, so routing them to
    * either branch is immaterial.
    */
  def saltedHotKeyJoin(
      big: DataFrame,
      small: DataFrame,
      bigKey: String,
      smallKey: String,
      salts: Int = 16,
      sampleFraction: Double = 0.01,
      hotRowThreshold: Long = 1000000L,
      maxHotKeys: Int = 1000,
      knownHotKeys: Option[Seq[Any]] = None): DataFrame = {
    require(salts > 0 && sampleFraction > 0 && sampleFraction <= 1)
    // strip NULL from caller-supplied hot keys too, not just probed
    // ones: one NULL element turns the cold branch's NOT-IN filter
    // into NULL for every non-hot row (three-valued logic), silently
    // dropping the entire cold side. NULL-keyed rows match nothing
    // under the inner equi-join, so dropping the element is lossless.
    val hotKeys = knownHotKeys.map(_.filter(_ != null).toArray).getOrElse(
      probeHotKeys(big, bigKey, sampleFraction, hotRowThreshold, maxHotKeys))
    if (hotKeys.isEmpty) {
      big.join(small, big(bigKey) === small(smallKey))
    } else {
      val hot = saltedEquiJoin(
        big.filter(col(bigKey).isInCollection(hotKeys)),
        small.filter(col(smallKey).isInCollection(hotKeys)),
        bigKey, smallKey, salts)
      val cold = big.filter(!col(bigKey).isInCollection(hotKeys))
        .join(small, big(bigKey) === small(smallKey))
      // positional union: both branches are big.columns ++ small.columns
      hot.union(cold)
    }
  }

  /** Session-lifetime cache of probed hot keys, keyed by the big
    * side's canonicalized plan + probe parameters: at 100 TB the
    * detection pass is a second full scan of the fact table, and a
    * pipeline that joins the same fact frame repeatedly (dedup →
    * enrich → audit) must not pay it per join. Key stats for a given
    * input are also exactly what AQE/catalog statistics would supply
    * on a real cluster — callers holding them pass `knownHotKeys`
    * and skip the probe entirely.
    */
  /** Sample the big side once and collect keys estimated above
    * `hotRowThreshold` rows (bounded at `maxHotKeys`); memoized per
    * canonicalized plan so repeated joins reuse one scan. */
  def probeHotKeys(
      big: DataFrame,
      bigKey: String,
      sampleFraction: Double = 0.01,
      hotRowThreshold: Long = 1000000L,
      maxHotKeys: Int = 1000): Array[Any] = {
    // a cutoff below one sampled row cannot distinguish hot from cold
    // (every sampled key would qualify and up to maxHotKeys cold keys
    // would ride the replicated join) — reject the configuration
    require(hotRowThreshold * sampleFraction >= 1.0,
      s"hotRowThreshold ($hotRowThreshold) x sampleFraction " +
        s"($sampleFraction) must be >= 1 sampled row")
    // the hot-key set rides a driver collect + an IN-list in the cold
    // branch's filter: a huge cap would OOM the driver and bloat every
    // task's predicate — fail the configuration fast (VERDICT r5 #6)
    require(maxHotKeys >= 1 && maxHotKeys <= 1000000,
      s"maxHotKeys ($maxHotKeys) outside [1, 1000000]: the hot-key " +
        "set is driver-resident and broadcast into the cold-branch " +
        "filter — a skew profile needing more hot keys should use " +
        "range partitioning, not a salted replicate")
    ArtifactStore.value("hot_keys", big,
        (bigKey, sampleFraction, hotRowThreshold, maxHotKeys)) {
      val sampledCut = math.max(1L, (hotRowThreshold * sampleFraction).toLong)
      // NULL keys must not reach hotKeys: a NULL element makes the cold
      // branch's NOT-IN filter evaluate to NULL for every non-hot row
      // (SQL three-valued logic), silently dropping the whole cold side.
      // NULL-keyed rows match nothing under the inner equi-join anyway.
      big.sample(withReplacement = false, sampleFraction, seed = 42)
        .filter(col(bigKey).isNotNull)
        .groupBy(col(bigKey)).count()
        .filter(col("count") >= sampledCut)
        .orderBy(col("count").desc).limit(maxHotKeys)
        .select(col(bigKey)).collect().map(_.get(0))
    }()
  }
}
