package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** INCREMENTAL maintenance of the per-document LM-score artifact —
  * the streaming twin of `Curation.lmScoresFor`, completing the
  * artifact-lifecycle set for the newest r7 artifact (term-stats, LSH
  * pairs, winnow overlap, IVF assignment, basket pairs, seasonal
  * profile, and now LM scores all maintain on appends instead of
  * rebuilding per corpus snapshot). The CCNet quality-bucketing and
  * any perplexity filter serve from the same scores, so they run
  * incrementally for free.
  *
  * Lifecycle mirrors [[IvfAssignStream]] (the fixed-model + measured-
  * drift shape): the FIRST non-empty batch builds the bigram LM from
  * its own documents and commits the (w1, w2, lp) weight table
  * durably under `dir/model`; every batch — including the first —
  * scores only its NEW documents (anti-join on doc_id) against the
  * COMMITTED model via the same `Curation.scoreDocsWith` scorer the
  * batch scan runs, and appends (doc_id, n_bigrams, avg_logp) deltas.
  * The model is FIXED across appends: scores must stay comparable
  * (a silently refreshed model would re-rank every earlier document),
  * so the maintainer never re-fits.
  *
  * Drift is measured instead: each batch's meta delta records its
  * OOV coverage — matched bigrams over total adjacent pairs under the
  * fixed model. Appends drawn from the training distribution hold the
  * training coverage; vocabulary drift (new domains, new languages)
  * drives coverage visibly down — the rebuild signal. Pinned in
  * LmScoreStreamSpec.
  *
  * State layout rides [[DeltaStore]]:
  * {{{
  *   dir/model/weights       (w1, w2, lp)  committed once, creation batch
  *   dir/meta/delta_vN       (batch_id, n_new, coverage — NULL when
  *                            the batch had no scorable text at all)
  *   dir/seen/delta_vN       (doc_id)  every new doc, scorable or not
  *   dir/scores/delta_vN     (doc_id, n_bigrams, avg_logp)
  * }}}
  * `scores` is written LAST and is the commit point; replays and
  * re-delivered doc_ids are no-ops. A crash after the model write but
  * before the scores commit leaves no committed batch — the retry
  * finds the written model and scores the replayed batch against it
  * (same creation batch by streaming replay semantics, so reusing the
  * written model equals rebuilding it).
  *
  * The `seen` substore is part of the store format since its
  * introduction (both landed in r7 — no earlier on-disk stores
  * exist); a store missing committed `seen` deltas is foreign or
  * corrupt and fails loudly at read, the library-wide convention.
  */
object LmScoreStream {

  private val Commit = "scores"
  private val Subs = Seq("meta", "seen", "scores")

  // ONE broadcast per store dir, replaced (and the superseded
  // broadcast destroyed) when the committed model's directory
  // fingerprint changes — an in-session rebuild (delete + re-seed,
  // the documented response to the drift signal) gets a fresh load,
  // and a long-lived session that rebuilds repeatedly holds exactly
  // one model broadcast per dir (r7 review: the mtime-only key both
  // missed same-tick rebuilds and leaked one broadcast per rebuild).
  // The fingerprint folds every file's name, length, and mtime, so a
  // re-seed is visible even when _SUCCESS lands in the same tick.
  private val modelCache = new java.util.concurrent.ConcurrentHashMap[
    String, (Long, org.apache.spark.broadcast.Broadcast[
      scala.collection.Map[(String, String), Double]])]()

  /** Test hook: destroy + drop memoized model broadcasts. */
  private[graft] def clearModelCache(): Unit = {
    modelCache.values.forEach(v => v._2.destroy())
    modelCache.clear()
  }

  private def modelPath(dir: String) = s"$dir/model/weights"

  private def committedModel(spark: SparkSession, dir: String)
      : Option[org.apache.spark.broadcast.Broadcast[
        scala.collection.Map[(String, String), Double]]] = {
    val root = new org.apache.hadoop.fs.Path(modelPath(dir))
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(
        modelPath(dir) + "/_SUCCESS"))) None
    else {
      // listStatus order is NOT an API guarantee — fold in sorted-path
      // order so identical content always fingerprints identically (an
      // order flip would read as a rebuild and churn the broadcast)
      val fp = fs.listStatus(root).sortBy(_.getPath.getName)
        .foldLeft(17L) { (h, st) =>
          ((h * 31 + st.getPath.getName.hashCode) * 31 + st.getLen) * 31 +
            st.getModificationTime
        }
      val fresh = modelCache.compute(dir, (_, cur) =>
        if (cur != null && cur._1 == fp) cur
        else {
          // superseded model: unpersist (executors refetch on demand),
          // NOT destroy — in-flight tasks may still hold a reference,
          // and destroy would fail them mid-batch
          if (cur != null) cur._2.unpersist(blocking = false)
          (fp, graft.queries.Curation.broadcastWeights(
            spark.read.parquet(modelPath(dir))))
        })
      Some(fresh._2)
    }
  }

  /** One incremental update. The creation batch builds + commits the
    * model from its own documents (a batch with rows but no scorable
    * bigram fails loudly rather than committing an empty model that
    * would score every later document as OOV). */
  def updateBatch(batch: DataFrame, dir: String, batchId: Long,
      autoCompactEvery: Int = 0): Unit = {
    val spark = batch.sparkSession
    if (DeltaStore.isCommitted(spark, dir, Commit, batchId))
      return // replay of a committed batch: done
    // dedup against the SEEN store, not the scores store: a fully-OOV
    // or null-text doc produces no score row but must still make its
    // re-delivery a no-op (r7 review — the scores-store anti-join let
    // exactly the OOV class recount into n_new/coverage)
    val seen = DeltaStore.stored(spark, dir, "seen", Commit, batchId)

    val incoming = batch.select(col("doc_id"), col("text"))
      .dropDuplicates("doc_id")
    val newDocs = seen match {
      case Some(p) => incoming.join(p.select(col("doc_id")),
        Seq("doc_id"), "left_anti")
      case None => incoming
    }
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val pinned = newDocs.persist(lvl)
    try {
      val modelB = committedModel(spark, dir).orElse {
        // no committed model: this is the creation batch
        if (pinned.isEmpty) None // empty creation batch: nothing to do
        else {
          // the term-stats derivation groups per source; the model
          // only needs corpus-wide counts (source-sum-invariant), so
          // a literal source keeps the maintainer schema-minimal.
          // UNCACHED derivation: the creation batch's plan never
          // recurs, so the session ArtifactStore must not persist it
          val weights = graft.queries.Curation.lmModelWeightsUncached(
            pinned.withColumn("source", lit("stream")))
          require(!weights.isEmpty,
            s"LM score store $dir: the creation batch has documents " +
              "but no scorable bigram — a model built from it would " +
              "mark every later document OOV; seed the store from a " +
              "representative corpus")
          weights.coalesce(1).write.mode("overwrite")
            .parquet(modelPath(dir))
          committedModel(spark, dir)
        }
      }
      modelB.foreach { m =>
        val scored = graft.queries.Curation.scoreDocsWith(pinned, m)
          .persist(lvl)
        try {
          // drift row: OOV coverage of THIS batch under the fixed
          // model — matched bigrams over the batch's TOTAL adjacent
          // pairs, computed over ALL new docs (scoreDocsWith emits no
          // row for a zero-match doc, so its denominator alone would
          // overstate coverage exactly when drift arrives as whole
          // new-domain documents; r7 review)
          val totRow = pinned.agg(
            count(lit(1)).as("n_new"),
            coalesce(sum(greatest(
              size(split(col("text"), " ", -1)) - 1, lit(0))), lit(0L))
              .as("tot")).collect()(0)
          val nNew = totRow.getLong(0)
          val tot = totRow.getLong(1)
          val hitRow = scored.agg(
            coalesce(sum(col("n_bigrams")), lit(0L))).collect()(0)
          // tot == 0 means NOTHING SCORABLE ARRIVED (all-null/empty
          // text) — record NULL, not 0.0, so a coverage monitor can
          // tell it apart from a genuinely fully-OOV drift batch
          val coverage: Option[Double] =
            if (tot == 0L) None
            else Some(hitRow.getLong(0).toDouble / tot)
          import spark.implicits._
          Seq((batchId, nNew, coverage))
            .toDF("batch_id", "n_new", "coverage").coalesce(1)
            .write.mode("overwrite").parquet(s"$dir/meta/delta_v$batchId")
          pinned.select(col("doc_id"))
            .write.mode("overwrite") // before the commit point: an
            .parquet(s"$dir/seen/delta_v$batchId") // uncommitted batch's
          // seen delta is invisible to stored() and overwritten on retry
          scored.select(col("doc_id"), col("n_bigrams"), col("avg_logp"))
            .write.mode("overwrite") // scores LAST = commit point
            .parquet(s"$dir/scores/delta_v$batchId")
        } finally { scored.unpersist(); () }
      }
    } finally { pinned.unpersist(); () }
    DeltaStore.autoCompact(spark, dir, Subs, Commit, autoCompactEvery)
  }

  /** Fold committed deltas into a new base (pure appends; the model
    * store is not touched). */
  def compact(spark: SparkSession, dir: String): Unit =
    DeltaStore.compact(spark, dir, Subs, Commit)

  /** The streaming entry point: maintain the score store under `dir`
    * from a streaming `documents` frame. */
  def scoreStream(docs: DataFrame, dir: String,
      autoCompactEvery: Int = 64): DataStreamWriter[Row] =
    docs.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[Row], batchId: Long) =>
        updateBatch(batch.toDF(), dir, batchId, autoCompactEvery)
    }

  /** The current score store (doc_id, n_bigrams, avg_logp) — equal to
    * `Curation.scoreDocsWith` over every document ingested so far,
    * under the committed model. */
  def currentScores(spark: SparkSession, dir: String): DataFrame =
    DeltaStore.stored(spark, dir, "scores", Commit, Long.MaxValue)
      .getOrElse(throw new IllegalStateException(
        s"no committed score store under $dir"))

  /** Per-batch drift rows (batch_id, n_new, coverage) — the rebuild
    * signal. */
  def coverages(spark: SparkSession, dir: String): DataFrame =
    DeltaStore.stored(spark, dir, "meta", Commit, Long.MaxValue)
      .getOrElse(throw new IllegalStateException(
        s"no committed score store under $dir"))
}
