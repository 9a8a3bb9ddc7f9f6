package graft.streaming

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The incrementally-maintained IVF assignment equals a batch rebuild
  * against the committed quantizer after every prefix, the quantizer
  * trains exactly once, the per-batch objective detects distribution
  * drift, and replays are no-ops.
  */
object IvfAssignStreamSpec {
  case class Vec(vec_id: Long, embedding: Seq[Float])
}

class IvfAssignStreamSpec extends SparkSpec {
  import IvfAssignStreamSpec.Vec

  // clustered corpus (the IVF regime): 8 direction cones, dim 12
  private def clustered(ids: Range, seedOffset: Int = 0): Seq[Vec] = {
    val rng = new scala.util.Random(13 + seedOffset)
    val centers = Array.fill(8)(Array.fill(12)(rng.nextGaussian()))
    ids.map { i =>
      val c = centers(i % 8)
      Vec(i.toLong,
        c.map(x => (x + 0.05 * rng.nextGaussian()).toFloat).toSeq)
    }
  }

  private def assignMap(out: String) =
    IvfAssignStream.currentAssign(spark, out).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("streamed assignment == batch assignAgainst(committed " +
    "quantizer) after every batch prefix; the quantizer trains once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    graft.operators.ArtifactStore.clear("kmeans")
    graft.operators.KMeans.clearLoadedCache()
    val all = clustered(0 until 240)
    val batches = Seq(all.take(80), all.slice(80, 160), all.drop(160))
    val out = Files.createTempDirectory("ivfidx").toString
    val mem = MemoryStream[Vec]
    val q = IvfAssignStream.indexStream(mem.toDF(), out, k = 8, iters = 2)
      .option("checkpointLocation", s"$out/_ckpt").start()
    try {
      var seen = Seq.empty[Vec]
      var trainedCents: IndexedSeq[Array[Double]] = null
      for (b <- batches) {
        mem.addData(b: _*)
        q.processAllAvailable()
        seen = seen ++ b
        val cents = graft.operators.KMeans.load(spark, s"$out/quantizer")
        if (trainedCents == null) trainedCents = cents
        else assert(cents.map(_.toSeq) == trainedCents.map(_.toSeq),
          "appends must NOT retrain the quantizer (cell ids must stay " +
            "comparable)")
        val want = IvfAssignStream.assignAgainst(
          seen.toDF("vec_id", "embedding"), cents).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(assignMap(out) == want,
          s"after ${seen.size} vectors: streamed != batch rebuild")
      }
      assert(assignMap(out).size == 240)
      // clustered corpus, fixed quantizer: every batch's objective is
      // near the training objective (no drift)
      val objs = IvfAssignStream.objectives(spark, out).collect()
        .map(r => r.getLong(0) -> r.getDouble(2)).toMap
      assert(objs.size == 3)
      assert(objs.values.forall(_ > 0.85),
        s"same-distribution appends should score high: $objs")
      // and near each other: no batch drifts from its siblings
      assert(objs.values.max - objs.values.min < 0.05,
        s"same-distribution batches should score alike: $objs")
    } finally q.stop()
  }

  test("objective drift: an append from a DIFFERENT distribution " +
    "scores visibly below same-distribution appends — the retrain " +
    "signal") {
    import spark.implicits._
    graft.operators.ArtifactStore.clear("kmeans")
    graft.operators.KMeans.clearLoadedCache()
    val out = Files.createTempDirectory("ivfdrift").toString
    val inDist = clustered(0 until 120)
    IvfAssignStream.updateBatch(
      inDist.toDF("vec_id", "embedding"), out, 0, k = 8, iters = 2)
    // isotropic vectors: no direction structure the quantizer knows
    val rng = new scala.util.Random(99)
    val shifted = (200 until 280).map(i =>
      Vec(i.toLong, Seq.fill(12)(rng.nextGaussian().toFloat)))
    IvfAssignStream.updateBatch(
      shifted.toDF("vec_id", "embedding"), out, 1, k = 8, iters = 2)
    val objs = IvfAssignStream.objectives(spark, out).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(objs(0L) > 0.9, s"training-batch objective: ${objs(0L)}")
    assert(objs(1L) < objs(0L) - 0.1,
      s"shifted append must score visibly lower: $objs")
  }

  test("a creation batch smaller than k clamps k instead of wedging " +
    "the stream; an all-zero-norm creation batch fails loudly " +
    "(r6 review)") {
    import spark.implicits._
    graft.operators.ArtifactStore.clear("kmeans")
    graft.operators.KMeans.clearLoadedCache()
    val out = Files.createTempDirectory("ivfsmall").toString
    // 3 usable vectors, k=8: the quantizer must commit with k=3 and
    // every later batch must keep appending against it
    val tiny = clustered(0 until 3)
    IvfAssignStream.updateBatch(
      tiny.toDF("vec_id", "embedding"), out, 0, k = 8, iters = 1)
    assert(graft.operators.KMeans.load(spark, s"$out/quantizer").size == 3)
    val more = clustered(3 until 43)
    IvfAssignStream.updateBatch(
      more.toDF("vec_id", "embedding"), out, 1, k = 8, iters = 1)
    assert(assignMap(out).size == 43,
      "appends after a clamped creation batch must keep working")
    // a creation batch with rows but no usable vectors cannot train —
    // loud failure, nothing committed
    val out2 = Files.createTempDirectory("ivfzero").toString
    val zeros = Seq(IvfAssignStreamSpec.Vec(1L, Seq.fill(12)(0f)))
    val ex = intercept[IllegalArgumentException] {
      IvfAssignStream.updateBatch(
        zeros.toDF("vec_id", "embedding"), out2, 0, k = 4, iters = 1)
    }
    assert(ex.getMessage.contains("nonzero norm"), ex.getMessage)
    graft.operators.ArtifactStore.clear("kmeans")
    graft.operators.KMeans.clearLoadedCache()
  }

  test("compaction preserves the assignment and the drift rows; " +
    "replays and re-delivered vec_ids are no-ops; zero-norm vectors " +
    "assign deterministically") {
    import spark.implicits._
    graft.operators.ArtifactStore.clear("kmeans")
    graft.operators.KMeans.clearLoadedCache()
    val out = Files.createTempDirectory("ivfcomp").toString
    val b1 = clustered(0 until 60)
    val b2 = clustered(60 until 100) :+ Vec(999L, Seq.fill(12)(0f))
    IvfAssignStream.updateBatch(
      b1.toDF("vec_id", "embedding"), out, 0, k = 8, iters = 1)
    IvfAssignStream.updateBatch(
      b2.toDF("vec_id", "embedding"), out, 1, k = 8, iters = 1)
    val before = assignMap(out)
    assert(before(999L) == 0L,
      "zero-norm vector must land in cell 0, not NaN-scatter")
    // replay + re-delivery: no change
    IvfAssignStream.updateBatch(
      b2.toDF("vec_id", "embedding"), out, 1, k = 8, iters = 1)
    IvfAssignStream.updateBatch(
      b1.toDF("vec_id", "embedding"), out, 2, k = 8, iters = 1)
    assert(assignMap(out) == before)
    IvfAssignStream.compact(spark, out)
    assert(assignMap(out) == before, "compaction changed the index")
    assert(IvfAssignStream.objectives(spark, out).count() == 3)
    // appends continue on top of the base
    val b3 = clustered(100 until 130)
    IvfAssignStream.updateBatch(
      b3.toDF("vec_id", "embedding"), out, 3, k = 8, iters = 1)
    val cents = graft.operators.KMeans.load(spark, s"$out/quantizer")
    val want = IvfAssignStream.assignAgainst(
      (b1 ++ b2 ++ b3).toDF("vec_id", "embedding"), cents).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(assignMap(out) == want)
  }
}
