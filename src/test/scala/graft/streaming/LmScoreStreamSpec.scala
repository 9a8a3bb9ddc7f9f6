package graft.streaming

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The incrementally-maintained LM-score store equals the batch
  * scorer under the COMMITTED model after every prefix, the model
  * trains exactly once, OOV coverage detects vocabulary drift, and
  * replays / re-delivered doc_ids are no-ops.
  */
object LmScoreStreamSpec {
  case class Doc(doc_id: Long, text: String)
}

class LmScoreStreamSpec extends SparkSpec {
  import LmScoreStreamSpec.Doc

  private def scoresMap(out: String) =
    LmScoreStream.currentScores(spark, out).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap

  private def fresh(): String = {
    LmScoreStream.clearModelCache()
    graft.operators.ArtifactStore.clearAll()
    Files.createTempDirectory("lmscore").toString
  }

  test("streamed scores == scoreDocsWith(committed model) after every " +
    "batch prefix; the model trains once; appends never re-rank") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val out = fresh()
    val b1 = Seq(Doc(1L, "scan join scan join filter"),
      Doc(2L, "join scan join"), Doc(3L, "scan join filter sort"))
    val b2 = Seq(Doc(4L, "join scan join filter"),
      Doc(5L, "scan join"))
    val b3 = Seq(Doc(6L, "filter sort scan join"))
    val mem = MemoryStream[Doc]
    val q = LmScoreStream.scoreStream(mem.toDF(), out)
      .option("checkpointLocation", s"$out/_ckpt").start()
    try {
      var seen = Seq.empty[Doc]
      var committedWeights: Set[(String, String, Double)] = null
      for (b <- Seq(b1, b2, b3)) {
        mem.addData(b: _*)
        q.processAllAvailable()
        seen = seen ++ b
        val w = spark.read.parquet(s"$out/model/weights").collect()
          .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
          .toSet
        if (committedWeights == null) committedWeights = w
        else assert(w == committedWeights,
          "appends must NOT retrain the model (earlier scores would " +
            "silently re-rank)")
        // batch twin under the SAME fixed model
        LmScoreStream.clearModelCache()
        val modelB = graft.queries.Curation.broadcastWeights(
          spark.read.parquet(s"$out/model/weights"))
        val want = graft.queries.Curation
          .scoreDocsWith(seen.toDF("doc_id", "text"), modelB)
          .collect()
          .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
          .toMap
        assert(scoresMap(out) == want,
          s"streamed scores diverge from the fixed-model batch twin " +
            s"after prefix of ${seen.size} docs")
      }
    } finally { q.stop() }
  }

  test("OOV coverage falls on vocabulary drift; replays and " +
    "re-delivered doc_ids are no-ops") {
    import spark.implicits._
    val out = fresh()
    val b1 = (1L to 6L).map(i => Doc(i, "scan join scan join filter"))
    LmScoreStream.updateBatch(b1.toDF("doc_id", "text"), out, 0L)
    val cov0 = LmScoreStream.coverages(spark, out)
      .filter(col("batch_id") === 0L).collect()(0).getDouble(2)
    assert(cov0 > 0.5, s"in-distribution coverage should be high: $cov0")
    // drifted batch: none of these bigrams exist in the model
    val drifted = Seq(Doc(7L, "quux zorp blargh quux"),
      Doc(8L, "zorp blargh"))
    LmScoreStream.updateBatch(drifted.toDF("doc_id", "text"), out, 1L)
    val cov1 = LmScoreStream.coverages(spark, out)
      .filter(col("batch_id") === 1L).collect()(0).getDouble(2)
    assert(cov1 == 0.0, s"fully-OOV batch must read coverage 0: $cov1")
    // OOV docs emit no score row but ARE recorded in meta
    assert(!scoresMap(out).contains(7L))
    // replay of batch 0 is a no-op
    val before = scoresMap(out)
    LmScoreStream.updateBatch(b1.toDF("doc_id", "text"), out, 0L)
    assert(scoresMap(out) == before, "replay must be a no-op")
    // re-delivered doc_id in a NEW batch is a no-op for that doc
    LmScoreStream.updateBatch(
      Seq(Doc(1L, "scan join"), Doc(9L, "scan join")).toDF("doc_id", "text"),
      out, 2L)
    val after = scoresMap(out)
    assert(after(1L) == before(1L),
      "a re-delivered doc_id must keep its original score")
    assert(after.contains(9L))
    // a re-delivered fully-OOV doc (which never scored) is ALSO a
    // no-op: it must not recount into n_new or drag coverage (the
    // seen store, not the scores store, is the dedup set)
    LmScoreStream.updateBatch(
      Seq(Doc(7L, "quux zorp blargh quux"), Doc(10L, "scan join"))
        .toDF("doc_id", "text"), out, 3L)
    val meta3 = LmScoreStream.coverages(spark, out)
      .filter(col("batch_id") === 3L).collect()(0)
    assert(meta3.getLong(1) == 1L,
      s"re-delivered OOV doc must not recount into n_new: $meta3")
    assert(meta3.getDouble(2) == 1.0,
      s"coverage must reflect only the genuinely new doc: $meta3")
  }

  test("coverage denominator counts fully-OOV documents: a " +
    "part-drifted batch reads fractional coverage, not 1.0") {
    import spark.implicits._
    val out = fresh()
    LmScoreStream.updateBatch(
      (1L to 4L).map(i => Doc(i, "scan join scan"))
        .toDF("doc_id", "text"), out, 0L)
    // 1 in-vocabulary doc (2 pairs, both hit) + 3 fully-OOV docs
    // (2 pairs each, zero hits): true coverage 2/8 = 0.25 — the
    // scored-rows-only denominator would read 1.0
    LmScoreStream.updateBatch(
      (Seq(Doc(5L, "scan join scan")) ++
        (6L to 8L).map(i => Doc(i, s"quux$i zorp$i blargh$i")))
        .toDF("doc_id", "text"), out, 1L)
    val cov = LmScoreStream.coverages(spark, out)
      .filter(col("batch_id") === 1L).collect()(0).getDouble(2)
    assert(math.abs(cov - 0.25) < 1e-9,
      s"part-drifted batch must read fractional coverage: $cov")
  }

  test("creation batch with no scorable bigram fails loudly; empty " +
    "creation batch commits nothing") {
    import spark.implicits._
    val out = fresh()
    LmScoreStream.updateBatch(
      Seq.empty[Doc].toDF("doc_id", "text"), out, 0L)
    intercept[IllegalStateException] {
      LmScoreStream.currentScores(spark, out)
    }
    val ex = intercept[IllegalArgumentException] {
      LmScoreStream.updateBatch(
        Seq(Doc(1L, "solo"), Doc(2L, null.asInstanceOf[String]))
          .toDF("doc_id", "text"), out, 1L)
    }
    assert(ex.getMessage.contains("no scorable bigram"), ex.getMessage)
  }

  test("crash window: a seen delta written without its scores commit " +
    "is invisible and the retried batch overwrites it cleanly") {
    import spark.implicits._
    val out = fresh()
    LmScoreStream.updateBatch(
      Seq(Doc(1L, "a b a b"), Doc(2L, "b a")).toDF("doc_id", "text"),
      out, 0L)
    // simulate the crash: batch 1's seen delta lands but the commit
    // point (scores) does not
    Seq(Tuple1(3L)).toDF("doc_id")
      .write.parquet(s"$out/seen/delta_v1")
    // the half-written batch is invisible: doc 3 is NOT seen
    val before = scoresMap(out)
    assert(!before.contains(3L))
    // the retry of batch 1 must process doc 3 as NEW (the orphan
    // seen delta is uncommitted -> ignored by stored()) and commit
    LmScoreStream.updateBatch(
      Seq(Doc(3L, "a b")).toDF("doc_id", "text"), out, 1L)
    val after = scoresMap(out)
    assert(after.contains(3L), "retried batch must score the doc")
    assert(LmScoreStream.coverages(spark, out)
      .filter(col("batch_id") === 1L).collect()(0).getLong(1) == 1L,
      "retried batch must count the doc as new exactly once")
  }

  test("compaction folds deltas; the stored view is unchanged") {
    import spark.implicits._
    val out = fresh()
    LmScoreStream.updateBatch(
      Seq(Doc(1L, "a b a b"), Doc(2L, "b a")).toDF("doc_id", "text"),
      out, 0L)
    LmScoreStream.updateBatch(
      Seq(Doc(3L, "a b")).toDF("doc_id", "text"), out, 1L)
    val before = scoresMap(out)
    LmScoreStream.compact(spark, out)
    assert(scoresMap(out) == before, "compaction must not change the view")
  }
}
