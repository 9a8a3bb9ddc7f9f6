package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Heavy-duplication drill (VERDICT r12 #6): generate a corpus at a
  * REALISTIC worst-case near-dup rate (30-60 % is normal for web
  * crawl; the house fixtures run ~5 %) and drive the dedup / split /
  * cluster / overlap family end-to-end, timing each key — the
  * pair-index frames here are O(corpus), exactly the regime the
  * round-13 hint removal (AQE-decided joins) exists for.
  *
  * Corpus recipe (DedupScaleSpec's, scaled): nBase unique 24-token
  * docs; doc b spawns b%3 near-copies, each mutating ONE token
  * (3-gram Jaccard vs base ≈ 0.76 ≥ the 0.6 verify threshold), so
  * ~56 % of docs are near-duplicates and components have 1-3 members.
  *
  * Usage: tools/run.sh graft.tools.HeavyDup [nBase] [outDir]
  */
object HeavyDup {

  /** Write the heavy-dup documents corpus (one shared recipe for this
    * drill AND DedupScaleSpec — a threshold/schema change edits ONE
    * place): nBase unique 24-token docs, doc b spawns b%3 near-copies
    * each mutating one token (3-gram Jaccard vs base ≈ 0.76 ≥ the 0.6
    * verify threshold; copy ids sort above base ids). Returns the doc
    * count (~2·nBase, ~56 % near-dup). */
  def writeCorpus(spark: SparkSession, nBase: Int, vocabMod: Int,
      parts: Int, out: String): Long = {
    import spark.implicits._
    val rows = (0 until nBase).flatMap { b =>
      val toks =
        (0 until 24).map(j => s"w${(b * 31 + j * 7) % vocabMod}x$j")
      val base = (b.toLong, toks.mkString(" "),
        if (b % 5 == 0) "de" else "en", s"src${b % 4}")
      val copies = (0 until (b % 3)).map { c =>
        val mut = toks.updated(5 + c, s"mut${b}c$c")
        ((nBase + b * 2 + c).toLong, mut.mkString(" "),
          base._3, s"src${(b + c + 1) % 4}")
      }
      base +: copies
    }
    rows.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")))
      .repartition(parts)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    spark.read.parquet(s"$out/documents.parquet").count()
  }

  def main(args: Array[String]): Unit = {
    val nBase = args.lift(0).map(_.toInt).getOrElse(22000)
    val out = args.lift(1).getOrElse("/tmp/graft_heavydup")
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .appName("graft-heavydup")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val nDocs = writeCorpus(spark, nBase, vocabMod = 49999,
      parts = 32, out = out)
    println(s"HEAVYDUP corpus: $nDocs docs " +
      f"(${1.0 - nBase.toDouble / nDocs}%.2f near-dup rate)")

    val keys = Seq("llm_minhash_lsh_dedup", "llm_dedup_apply",
      "llm_dedup_clusters", "llm_dedup_stats", "llm_split_leakage_safe",
      "llm_source_overlap")
    for (k <- keys) {
      graft.operators.ArtifactStore.clearAll() // per-key cold artifacts
      val t0 = System.nanoTime()
      val df = graft.SparkEntry.queries(k)(spark, out)
      val n = df.count()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"HEAVYDUP $k%-24s $sec%7.2f s  $n%9d rows")
      if (k == "llm_split_leakage_safe") {
        val r = df.collect()
        require(r.forall(_.getAs[Boolean]("leakage_free")),
          "leakage detected on the heavy-dup corpus")
        println("HEAVYDUP split: " + r.map(x =>
          s"${x.getString(0)}=${x.getAs[Long]("n_docs")}").mkString(" "))
      }
      if (k == "llm_dedup_stats")
        println("HEAVYDUP stats: " + df.collect().head)
    }
    spark.stop()
  }
}
