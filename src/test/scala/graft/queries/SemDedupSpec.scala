package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** SemDeDup (llm_semdedup) on the TRAINED-quantizer path — the 100 TB
  * serving shape the oracle can't reach (DuckDB can't run Lloyd):
  *
  *  - exact duplicates are ALWAYS caught: an identical vector has
  *    identical centroid cosines, so the deterministic argmax lands it
  *    in the same cell as its original, where cos = 1 >= tau;
  *  - soundness: every reported drop carries a witness pair whose
  *    true cosine clears tau (re-verified on the driver) — the
  *    cell-bounded join may MISS cross-cell pairs (that's the
  *    SemDeDup trade), but everything it drops is a genuine near-dup.
  */
class SemDedupSpec extends SparkSpec {

  private val Tau = 0.9

  test("trained-cell SemDeDup drops every exact duplicate and only " +
    "genuine near-duplicates") {
    graft.operators.ArtifactStore.clear("kmeans")
    graft.operators.KMeans.clearLoadedCache()
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val centers = Array.fill(10)(Array.fill(16)(rng.nextGaussian()))
    val originals = (0 until 200).map { i =>
      val c = centers(i % 10)
      (i.toLong, c.map(x => (x + 0.05 * rng.nextGaussian()).toFloat).toSeq)
    }
    // exact duplicates of the first 20 vectors, all with LARGER ids
    val dups = (0 until 20).map(i => (1000L + i, originals(i)._2))
    val emb = (originals ++ dups).toDF("vec_id", "embedding")

    val dot = graft.functions.VectorOps.dot_product _
    val cents = graft.operators.KMeans.fit(
      emb, "embedding", "vec_id", k = 14, iters = 2)
    val centsDF = graft.operators.KMeans
      .centroidsDF(spark, cents, "cid", "ce")
      .withColumn("cn2", dot(col("ce"), col("ce")))
    val e = emb.withColumn("n2", dot(col("embedding"), col("embedding")))
    // the Multimodal.ivfIndexFor assignment recipe over trained cells
    val assign = e.crossJoin(broadcast(centsDF))
      .withColumn("cs", dot(col("embedding"), col("ce")) /
        (sqrt(col("n2")) * sqrt(col("cn2"))))
      .groupBy(col("vec_id"))
      .agg(max_by(col("cid"), struct(col("cs"), -col("cid"))).as("cid"),
        first(col("embedding")).as("embedding"),
        first(col("n2")).as("n2"))

    val drops = Llm.semdedupDrops(assign, Tau).collect()
    val dropped = drops.map(_.getLong(0)).toSet

    val missedDups = (0 until 20).map(1000L + _).filterNot(dropped)
    assert(missedDups.isEmpty,
      s"exact duplicates must always be dropped; missed: $missedDups")

    // soundness: every (witness, dropped) pair is a true near-dup
    val vecs = (originals ++ dups).map { case (id, v) =>
      id -> v.map(_.toDouble).toArray }.toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    drops.foreach { r =>
      val c = cos(vecs(r.getLong(2)), vecs(r.getLong(0)))
      assert(c >= Tau - 1e-9,
        s"drop ${r.getLong(0)} witness ${r.getLong(2)}: cos $c < $Tau")
      assert(r.getLong(3) >= 1L)
    }
    // full parity with a brute-force re-derivation of the drop rule
    // from the materialized cell assignment: exactly the vectors with
    // an earlier same-cell neighbor over tau are dropped, with the
    // smallest such neighbor as witness and the exact earlier-count —
    // this is the check that fails if the rule ever regressed to
    // dropping originals in favor of their later clones
    val cells = assign.select(col("vec_id"), col("cid")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = cells.keys.toSeq.sorted.flatMap { v =>
      val earlier = cells.keys.toSeq
        .filter(a => a < v && cells(a) == cells(v) &&
          cos(vecs(a), vecs(v)) >= Tau)
      if (earlier.isEmpty) None
      else Some((v, cells(v), earlier.min, earlier.size.toLong))
    }.toSet
    val got = drops.map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == expected,
      s"drop set diverges from brute re-derivation: " +
        s"missing=${expected -- got}, extra=${got -- expected}")
    graft.operators.ArtifactStore.clear("kmeans")
    graft.operators.KMeans.clearLoadedCache()
  }
}
