package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** llm_bpe_train must equal an INDEPENDENT straight-line BPE trainer
  * (symbol lists + greedy left-to-right merge application — no shared
  * code with the query's bracketed-replace machinery), including the
  * overlap case a space-joined replace gets wrong; llm_bpe_apply's
  * censuses must tie out against the same reference tokenizer. */
class BpeSpec extends SparkSpec {

  /** Plain-Scala reference BPE: train `n` merges over (word, count)
    * with the (cnt DESC, left, right) tie-break, greedy left-to-right
    * application. Returns (merges, tokenize function). */
  private def referenceBpe(vocab: Map[String, Long], n: Int)
      : (Seq[(String, String, Long)], String => Seq[String]) = {
    def applyMerge(sym: List[String], l: String, r: String): List[String] =
      sym match {
        case a :: b :: rest if a == l && b == r =>
          (a + b) :: applyMerge(rest, l, r)
        case a :: rest => a :: applyMerge(rest, l, r)
        case Nil => Nil
      }
    var words: Map[List[String], Long] =
      vocab.map { case (w, u) => w.toList.map(_.toString) -> u }
    val merges = scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
    var done = false
    for (_ <- 1 to n if !done) {
      val census = scala.collection.mutable.Map[(String, String), Long]()
      for ((sym, u) <- words; p <- sym.zip(sym.tail))
        census(p) = census.getOrElse(p, 0L) + u
      if (census.isEmpty) done = true
      else {
        val ((l, r), c) = census.minBy { case ((l, r), c) => (-c, l, r) }
        merges += ((l, r, c))
        words = words.groupMapReduce(
          { case (sym, _) => applyMerge(sym, l, r) })(_._2)(_ + _)
      }
    }
    val ms = merges.toSeq
    val tok = (w: String) => ms.foldLeft(w.toList.map(_.toString)) {
      case (sym, (l, r, _)) => applyMerge(sym, l, r)
    }
    (ms, tok)
  }

  private def writeDocs(texts: Seq[String]): String = {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("bpe").toString
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t, "en", "src0") }
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    graft.operators.ArtifactStore.clearAll()
    tmp
  }

  test("the 8 trained merges at sf0.001 equal the straight-line " +
    "reference trainer's") {
    val dir = "/root/testdata/sf0.001"
    graft.operators.ArtifactStore.clearAll()
    val got = graft.SparkEntry.queries("llm_bpe_train")(spark, dir)
      .collect().map(r => (r.getString(1), r.getString(2), r.getLong(3)))
    val vocab = graft.Tables(spark, dir, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w").rlike("^[a-z]+$"))
      .groupBy("w").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val (want, _) = referenceBpe(vocab, 8)
    assert(got.toSeq == want,
      s"merge tables differ:\n got ${got.toSeq}\nwant $want")
  }

  test("repeated-symbol runs merge greedily left-to-right (the case " +
    "a space-delimited replace drops)") {
    // 'bababa': after merge (b,a) the reference yields [ba, ba, ba];
    // a shared-delimiter replace(' b a ') consumes the boundary space
    // and stops at [ba, b, a, b, a]. 'aaa' pins the self-overlap case
    // ([aa, a], never [a, aa] or [aaa]).
    val dir = writeDocs(Seq("bababa bababa aaa", "bababa aaa aaa"))
    val got = graft.SparkEntry.queries("llm_bpe_train")(spark, dir)
      .collect().map(r => (r.getString(1), r.getString(2), r.getLong(3)))
    val vocab = Map("bababa" -> 3L, "aaa" -> 3L)
    val (want, tok) = referenceBpe(vocab, 8)
    assert(got.toSeq == want,
      s"merge tables differ:\n got ${got.toSeq}\nwant $want")
    // round 1 must be (b,a) ×9 — six from each 'bababa' would be
    // wrong (pairs overlap), three each is right
    assert(got.head == (("b", "a", 9L)), s"round 1: ${got.head}")
    // apply: the reference tokenizer prices the corpus
    val apply = graft.SparkEntry.queries("llm_bpe_apply")(spark, dir)
      .collect()
    val counts = Map("bababa" -> 3L, "aaa" -> 3L)
    val wantTokens = counts.map { case (w, u) => tok(w).size * u }.sum
    val wantChars = counts.map { case (w, u) => w.length * u }.sum
    assert(apply.length == 1)
    val r = apply.head
    assert(r.getLong(1) == counts.values.sum, "n_words")
    assert(r.getLong(2) == wantChars, "n_chars")
    assert(r.getLong(3) == wantTokens,
      s"n_tokens: got ${r.getLong(3)} want $wantTokens")
  }

  test("a fully-merged vocabulary stops training early") {
    val dir = writeDocs(Seq("ab ab ab"))
    val got = graft.SparkEntry.queries("llm_bpe_train")(spark, dir)
      .collect()
    assert(got.length == 1, s"want 1 merge then exhaustion: ${got.length}")
    assert((got.head.getString(1), got.head.getString(2),
      got.head.getLong(3)) == (("a", "b", 3L)))
  }

  test("apply censuses tie out per source at sf0.001 against the " +
    "reference tokenizer") {
    val dir = "/root/testdata/sf0.001"
    graft.operators.ArtifactStore.clearAll()
    val rows = graft.SparkEntry.queries("llm_bpe_apply")(spark, dir)
      .collect()
    val docs = graft.Tables(spark, dir, "documents")
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w").rlike("^[a-z]+$"))
      .groupBy("source", "w").count()
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val vocab = docs.groupMapReduce(_._2)(_._3)(_ + _)
    val (_, tok) = referenceBpe(vocab, 8)
    val bySrc = docs.groupBy(_._1)
    for (r <- rows) {
      val src = r.getString(0)
      val ws = bySrc(src)
      assert(r.getLong(1) == ws.map(_._3).sum, s"$src n_words")
      assert(r.getLong(2) == ws.map(t => t._2.length * t._3).sum,
        s"$src n_chars")
      assert(r.getLong(3) == ws.map(t => tok(t._2).size * t._3).sum,
        s"$src n_tokens")
      // fertility dial sanity: merged text never costs more tokens
      // than characters, and the ratio column is chars/tokens
      assert(r.getLong(3) <= r.getLong(2), s"$src tokens>chars")
      val want = math.floor((2.0 * r.getLong(2) * 10000 + r.getLong(3)) /
        (2.0 * r.getLong(3))) / 10000.0
      assert(r.getDouble(4) == want, s"$src chars_per_token")
    }
  }
}
