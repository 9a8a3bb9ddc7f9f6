package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** llm_retrieval_ndcg must equal an INDEPENDENT recomputation of
  * nDCG/MRR/P@k from the raw ranking + relevance (straight-line Scala
  * over the collected top-k — no shared code with the query), and
  * handle the no-relevant-docs edge. */
class RetrievalEvalSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private val terms = Seq("join", "scan", "dup")

  test("nDCG/MRR/P@k equal a straight-line recomputation from the " +
    "collected top-10 and corpus relevance") {
    val out = graft.SparkEntry.queries("llm_retrieval_ndcg")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap

    // independent ranking: reuse ONLY the scored frame contract
    // (rounded bm25, doc_id tiebreak), then recompute the metrics by
    // hand
    val docs = graft.Tables(spark, dir, "documents")
    val rel = docs.select(col("doc_id"),
        terms.map(t => when(array_contains(
          split(col("text"), " "), t), 1).otherwise(0)).reduce(_ + _)
          .as("rel"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val top = Curation.bm25ScoredFor(docs)
      .orderBy(col("bm25").desc, col("doc_id")).limit(10)
      .collect().map(_.getLong(0))
    val grades = rel.values.filter(_ >= 1).toSeq.sorted(
      Ordering[Int].reverse)
    def log2(x: Double) = math.log(x) / math.log(2.0)
    for (k <- Seq(5, 10)) {
      val cut = top.take(k).map(rel)
      val dcg = cut.zipWithIndex.map { case (g, i) =>
        ((1L << g) - 1).toDouble / log2(i + 2.0) }.sum
      val idcg = grades.take(k).zipWithIndex.map { case (g, i) =>
        ((1L << g) - 1).toDouble / log2(i + 2.0) }.sum
      val wantNdcg = if (idcg == 0) 0.0 else dcg / idcg
      val firstRel = cut.indexWhere(_ >= 1)
      val wantMrr = if (firstRel < 0) 0.0 else 1.0 / (firstRel + 1)
      val wantP = cut.count(_ >= 1).toDouble / k
      val (ndcg, mrr, p) = out(k.toLong)
      assert(math.abs(ndcg - wantNdcg) < 1e-5,
        s"ndcg@$k: got $ndcg want $wantNdcg")
      assert(math.abs(mrr - wantMrr) < 1e-9, s"mrr@$k: got $mrr")
      assert(math.abs(p - wantP) < 1e-9, s"p@$k: got $p")
      assert(ndcg > 0.0 && ndcg <= 1.0 + 1e-9,
        s"ndcg@$k out of range: $ndcg")
    }
  }

  test("a corpus with no query-term hits yields an empty report (no " +
    "ranking to grade)") {
    import spark.implicits._
    val tmp = java.nio.file.Files
      .createTempDirectory("ndcg-empty").toString
    (0 until 50).map(i => (i.toLong, s"alpha beta gamma d$i", "en",
        "src0"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    graft.operators.ArtifactStore.clearAll() // fresh bm25 stats for tmp
    val rows = graft.SparkEntry
      .queries("llm_retrieval_ndcg")(spark, tmp).collect()
    assert(rows.isEmpty,
      s"no-hit corpus must grade nothing: ${rows.mkString(",")}")
  }
}
