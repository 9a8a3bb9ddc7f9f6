package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Exactly-once running-aggregate MERGE sink: totals equal the batch
  * aggregate of everything streamed, replayed batches don't
  * double-count, and an uncommitted (crashed) version is retried and
  * never read.
  */
object RunningAggSpec {
  case class Doc(source: String, n_tokens: Long)
  case class TextDoc(doc_id: Long, source: String, text: String)
}

class RunningAggSpec extends SparkSpec {
  import RunningAggSpec.Doc

  test("streamed totals equal the batch aggregate; replay is a no-op") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val out = Files.createTempDirectory("runagg").toString
    val mem = MemoryStream[Doc]
    val q = Sources.foreachBatchRunningAgg(mem.toDF(), out,
        keys = Seq("source"), sums = Seq("n_tokens"))
      .option("checkpointLocation", s"$out/_ckpt").start()
    try {
      mem.addData(Doc("a", 10), Doc("b", 5))
      q.processAllAvailable()
      mem.addData(Doc("a", 7), Doc("c", 1))
      q.processAllAvailable()
    } finally q.stop()
    val state = Sources.readRunningAgg(spark, out)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(state == Map("a" -> 17L, "b" -> 5L, "c" -> 1L))

    // replay batch 1 (same batchId, already committed) — skipped
    Sources.mergeBatch(Seq(Doc("a", 7), Doc("c", 1)).toDF(), out,
      Seq("source"), Seq("n_tokens"), batchId = 1)
    val replayed = Sources.readRunningAgg(spark, out)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(replayed == state, "replayed batch double-counted")

    // a later batch still merges on top
    Sources.mergeBatch(Seq(Doc("b", 2)).toDF(), out,
      Seq("source"), Seq("n_tokens"), batchId = 2)
    val next = Sources.readRunningAgg(spark, out)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(next == Map("a" -> 17L, "b" -> 7L, "c" -> 1L))
  }

  test("incremental term-stats maintenance: the streamed running state " +
    "equals an independent batch build over the documents seen so far") {
    import RunningAggSpec.TextDoc
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val out = Files.createTempDirectory("termstats").toString
    val batch1 = Seq(
      TextDoc(1, "web", "the cat sat"),
      TextDoc(2, "web", "the dog sat sat"),
      TextDoc(3, "book", "cat and dog"))
    val batch2 = Seq(
      TextDoc(4, "web", "the the the"),
      TextDoc(5, "book", "sat"))
    val mem = MemoryStream[TextDoc]
    val q = graft.streaming.DocumentStream
      .termStatsStream(mem.toDF(), out)
      .option("checkpointLocation", s"$out/_ckpt").start()
    try {
      mem.addData(batch1: _*)
      q.processAllAvailable()
      mem.addData(batch2: _*)
      q.processAllAvailable()
    } finally q.stop()
    // independent batch truth: raw tokenization, count/count_distinct
    val truth = (batch1 ++ batch2).toDF("doc_id", "source", "text")
      .select(col("doc_id"), col("source"),
        explode(split(col("text"), " ")).as("w"))
      .groupBy(col("source"), col("w"))
      .agg(count(lit(1)).as("tf"), count_distinct(col("doc_id")).as("sdf"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    val state = Sources.readRunningAgg(spark, out).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(state == truth,
      s"streamed artifact diverges from batch build: $state vs $truth")
  }

  test("incremental bigram-stats maintenance: the streamed running " +
    "state equals the batch-built artifact over the documents seen " +
    "so far") {
    import RunningAggSpec.TextDoc
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val out = Files.createTempDirectory("bigramstats").toString
    val batch1 = Seq(
      TextDoc(1, "web", "a b a b a"),
      TextDoc(2, "web", "b c"),
      TextDoc(3, "book", "solo"))
    val batch2 = Seq(
      TextDoc(4, "web", "a b c"),
      TextDoc(5, "book", "c c c"))
    val mem = MemoryStream[TextDoc]
    val q = graft.streaming.DocumentStream
      .bigramStatsStream(mem.toDF(), out)
      .option("checkpointLocation", s"$out/_ckpt").start()
    try {
      mem.addData(batch1: _*)
      q.processAllAvailable()
      mem.addData(batch2: _*)
      q.processAllAvailable()
    } finally q.stop()
    graft.operators.ArtifactStore.clearAll()
    val truth = graft.queries.Curation.bigramStatsFor(
      (batch1 ++ batch2).toDF("doc_id", "source", "text"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val state = Sources.readRunningAgg(spark, out).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(state == truth,
      s"streamed bigram artifact diverges from batch build: " +
        s"$state vs $truth")
    graft.operators.ArtifactStore.clearAll()
  }

  test("an uncommitted version is invisible to readers and safely " +
    "retried") {
    import spark.implicits._
    val out = Files.createTempDirectory("runagg2").toString
    Sources.mergeBatch(Seq(Doc("a", 3)).toDF(), out,
      Seq("source"), Seq("n_tokens"), batchId = 0)
    // simulate a crash mid-write of version 1: directory without
    // _SUCCESS
    val crashed = new java.io.File(s"$out/state_v1")
    assert(crashed.mkdirs())
    val state = Sources.readRunningAgg(spark, out)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(state == Map("a" -> 3L), "uncommitted version leaked to reader")
    // retry of batch 1 overwrites the partial dir and commits
    Sources.mergeBatch(Seq(Doc("a", 4)).toDF(), out,
      Seq("source"), Seq("n_tokens"), batchId = 1)
    val after = Sources.readRunningAgg(spark, out)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(after == Map("a" -> 7L))
  }

  test("NULL keys consolidate across batches (null-safe merge join) " +
    "and old committed versions are pruned (r5 review fixes)") {
    import spark.implicits._
    val out = Files.createTempDirectory("runagg3").toString
    def d(src: Option[String], n: Long) =
      Seq((src.orNull, n)).toDF("source", "n_tokens")
    Sources.mergeBatch(d(None, 3), out,
      Seq("source"), Seq("n_tokens"), batchId = 0)
    Sources.mergeBatch(d(None, 4), out,
      Seq("source"), Seq("n_tokens"), batchId = 1)
    Sources.mergeBatch(d(Some("a"), 5), out,
      Seq("source"), Seq("n_tokens"), batchId = 2)
    val rows = Sources.readRunningAgg(spark, out).collect()
      .map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    // with === instead of <=> the null key never matched itself: two
    // null rows surviving forever instead of one consolidated total
    assert(rows == Map(None -> 7L, Some("a") -> 5L))
    assert(Sources.readRunningAgg(spark, out).count() == 2)
    // retention: after v2 committed, only v1 and v2 remain on disk
    val dirs = new java.io.File(out).listFiles()
      .map(_.getName).filter(_.startsWith("state_v")).sorted.toSeq
    assert(dirs == Seq("state_v1", "state_v2"),
      s"expected pruned retention, got $dirs")
  }
}
