package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Algorithm-quality pins for operators.Pca — the SQ8 lesson applied:
  * a projection query can hash-match a mirrored oracle while the
  * direction itself is garbage, so the eigenvector is pinned against
  * ground truth it cannot fake.
  */
class PcaSpec extends SparkSpec {
  import spark.implicits._

  test("PC1 recovers a known dominant direction from synthetic data") {
    // points t·(0.6, 0.8, 0) plus a tiny deterministic orthogonal
    // wobble — PC1 must align with (0.6, 0.8, 0)
    val rows = (1 to 400).map { i =>
      val t = (i % 41 - 20) / 4.0
      val w = (i % 7 - 3) / 100.0
      Array((0.6 * t + 0.8 * w).toFloat, (0.8 * t - 0.6 * w).toFloat,
        (i % 3 - 1) / 50.0f)
    }
    val df = rows.toDF("embedding")
    val fit = Pca.fitPc1(df, "embedding")
    val cos = math.abs(0.6 * fit.vector(0) + 0.8 * fit.vector(1))
    assert(cos > 0.9999, s"PC1 misaligned: ${fit.vector.toSeq}")
    assert(math.abs(fit.vector(2)) < 0.05,
      s"noise axis leaked into PC1: ${fit.vector.toSeq}")
  }

  test("fixture fit satisfies the eigen identities: unit norm, " +
    "small residual, λ ≥ every per-axis variance, evr ∈ (0,1]") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val fit = Pca.fitPc1(e, "embedding")
    val nrm = math.sqrt(fit.vector.map(x => x * x).sum)
    assert(math.abs(nrm - 1.0) < 1e-12, s"not unit norm: $nrm")
    // residual ‖Cv − λv‖ against the covariance rebuilt from moments
    val raw = Pca.moments(e, "embedding")
    val c = Pca.covariance(raw)
    val d = raw.dim
    var res = 0.0
    var i = 0
    while (i < d) {
      var s = 0.0
      var j = 0
      while (j < d) { s += c(i)(j) * fit.vector(j); j += 1 }
      val r = s - fit.eigenvalue * fit.vector(i)
      res += r * r
      i += 1
    }
    assert(math.sqrt(res) < 1e-6 * math.max(fit.eigenvalue, 1e-12),
      s"eigen residual too large: ${math.sqrt(res)} vs λ=${fit.eigenvalue}")
    // λ1 dominates every coordinate-axis variance (else it is not the
    // top component of the covariance)
    val maxAxis = (0 until d).map(k => c(k)(k)).max
    assert(fit.eigenvalue >= maxAxis - 1e-12,
      s"λ=${fit.eigenvalue} below axis variance $maxAxis")
    val evr = fit.explainedVarianceRatio
    assert(evr > 0.0 && evr <= 1.0 + 1e-12, s"evr out of range: $evr")
  }

  test("dimension past the driver cap fails loudly") {
    val wide = Seq(Array.fill(Pca.MaxDim + 1)(1.0f)).toDF("embedding")
    val ex = intercept[IllegalArgumentException] {
      Pca.fitPc1(wide, "embedding")
    }
    assert(ex.getMessage.contains("driver cap"), ex.getMessage)
  }

  test("empty corpus fails loudly at the operator (queries degrade " +
    "above it)") {
    val empty = Seq.empty[Array[Float]].toDF("embedding")
    val ex = intercept[IllegalArgumentException] {
      Pca.fitPc1(empty, "embedding")
    }
    assert(ex.getMessage.contains("EMPTY embedding corpus"),
      ex.getMessage)
  }

  test("clearPcaCache drops the memoized fit when a fixture is " +
    "rewritten at the same path in-session") {
    val dir = java.nio.file.Files.createTempDirectory("pcafix").toString
    def write(scale: Float): Unit =
      Seq.tabulate(8) { i =>
        val v = Array.fill(3)(0.001f * i)
        v(0) = scale * (1.0f + 0.1f * i)
        (i.toLong, v, i % 2)
      }.toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    def eigenvalue(): Double =
      graft.SparkEntry.queries("llm_embed_pca")(spark, dir)
        .collect().head.getAs[Double]("eigenvalue")
    write(scale = 1.0f)
    val first = eigenvalue()
    // same path, 25x the variance: WITHOUT the clear hook the stale
    // PC1 fit would be served (ArtifactStore keys on the read plan)
    write(scale = 5.0f)
    graft.operators.ArtifactStore.clear("pca_pc1")
    val second = eigenvalue()
    assert(second > first * 10,
      s"stale PC1 fit served after clear(\"pca_pc1\"): $first vs $second")
  }

  test("llm_embed_pca query: projections centered globally; labels " +
    "present exactly once") {
    val out = graft.SparkEntry.queries("llm_embed_pca")(
      spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty)
    val labels = out.map(_.getAs[Long]("label"))
    assert(labels.distinct.length == labels.length)
    // centered projection: the GLOBAL mean (weighted by n) must be ~0
    val tot = out.map(_.getAs[Long]("n_vectors")).sum.toDouble
    val wmean = out.map(r => r.getAs[Long]("n_vectors") *
      r.getAs[Double]("mean_pc1")).sum / tot
    assert(math.abs(wmean) < 1e-2, s"projections not centered: $wmean")
  }
}
