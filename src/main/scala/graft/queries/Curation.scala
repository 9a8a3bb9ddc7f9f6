package graft.queries

import graft.{Canon, Tables}
import graft.operators.ArtifactStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-4 curation + relational coverage additions:
  * corpus vocabulary, regex scrubbing/redaction, calendar rollups,
  * edit-distance matching, and the salted skew join as an
  * oracle-checked query (not just a unit test).
  *
  * Scale posture: vocab/redact are per-row + one aggregation; the
  * edit-distance join is over a FIXED small dimension (broadcast,
  * never corpus²); the salted join is the skew path for fact-fact
  * equi-joins whose hot keys would otherwise straggle a 1000-executor
  * shuffle.
  */
object Curation {
  import Canon._
  type Q = (SparkSession, String) => DataFrame
  private def t(s: SparkSession, dir: String, n: String) = Tables(s, dir, n)

  // ---- the per-(source, term) statistics ARTIFACT --------------------
  // The tokenizer-training precursor a curation pipeline materializes
  // once per corpus snapshot: for every (source, word), total term
  // frequency and the number of docs containing it. A document's term
  // counts are ROW-LOCAL (word_counts collapses each doc to its
  // word→count map in place), so the only exchange carries per-(source,
  // word) partial aggregates — (word, counts) rows, never text. Both
  // the vocabulary and TF-IDF views are exact functions of this frame
  // (a doc belongs to exactly one source, so global df(w) = Σ_source
  // sdf(source, w) and global occurrences(w) = Σ_source tf(source, w)),
  // so it is built once and session-persisted under the same
  // build-once/serve-many contract as the dedup pair index and the
  // trained IVF quantizer. Output is bounded by |vocabulary| × sources,
  // ≪ corpus.
  private[queries] def termStatsFor(documents: DataFrame): DataFrame =
    documents.select(col("source"),
        explode(graft.functions.TokenOps.word_counts(
          split(col("text"), " "))).as(Seq("w", "c")))
      .groupBy(col("source"), col("w"))
      .agg(sum(col("c")).as("tf"), count(lit(1)).as("sdf"))

  /** Session-persisted per-(source, word) term statistics for
    * `documents` (build-once artifact; see note above). */
  private[queries] def termStats(documents: DataFrame): DataFrame =
    ArtifactStore.frame("term_stats", documents)(termStatsFor(documents))

  /** Global document frequency per term (w, df) = Σ over sources of
    * sdf — the ONE shared derivation for every idf consumer
    * (llm_keywords, llm_rarity, llm_bm25); a drift in the df
    * definition must change all of them together (r6 self-review). */
  private[queries] def globalDf(documents: DataFrame): DataFrame =
    termStats(documents).groupBy(col("w"))
      .agg(sum(col("sdf")).as("df"))

  // Session-persisted idf model (w, df, idf) with idf = ln(N/df) —
  // the ONE broadcast model every document-level idf consumer
  // (llm_rarity, llm_keywords) scores against; vocabulary-sized, a
  // re-aggregation of the term-stats artifact. Sharing the frame
  // keeps the idf definition drift-free across consumers (the
  // globalDf argument, one level up).
  private[queries] def idfModel(documents: DataFrame): DataFrame =
    ArtifactStore.frame("idf_model", documents)(
      globalDf(documents)
        .crossJoin(broadcast(documents.agg(count(lit(1)).as("n_docs"))))
        .select(col("w"), col("df"),
          log(col("n_docs").cast(DoubleType) / col("df")).as("idf")))

  // ---- llm_vocab_topk: corpus vocabulary, top-k by frequency --------
  // Served from the term-stats artifact: one tiny (word-keyed) re-agg
  // over per-source rows instead of re-tokenizing the corpus.
  private val vocab: Q = (s, dir) =>
    termStats(t(s, dir, "documents"))
      .groupBy(col("w"))
      .agg(sum(col("tf")).as("n_occurrences"),
        sum(col("sdf")).as("doc_frequency"))
      .orderBy(col("n_occurrences").desc, col("w"))
      .limit(20)

  private val vocabSql =
    """SELECT w, count(*) AS n_occurrences,
      |  count(DISTINCT doc_id) AS doc_frequency
      |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
      |      FROM documents)
      |GROUP BY w ORDER BY n_occurrences DESC, w LIMIT 20""".stripMargin

  // ---- llm_ttr: lexical-diversity audit per source ------------------
  // Type-token ratio (distinct words / words, per doc, averaged) plus
  // hapax-legomena rate — the vocabulary-health screens a curation
  // pipeline runs per source alongside the Gopher rules (repetitive
  // or template-generated sources show low TTR and a thin hapax
  // tail). Per-doc counts are ROW-LOCAL off the same word_counts map
  // as term-stats; the corpus-wide hapax tail is served FROM the
  // session term-stats artifact (no re-tokenization). Each per-doc
  // ratio is rounded to a 9-decimal DECIMAL before summing, so the
  // mean is an exact order-independent sum on both engines.
  private val ttr: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val perDoc = docs.select(col("source"),
      graft.functions.TokenOps.word_counts(split(col("text"), " "))
        .as("wc"),
      size(split(col("text"), " ")).cast(LongType).as("n_tokens"))
      .select(col("source"), col("n_tokens"),
        size(col("wc")).cast(LongType).as("n_types"))
    val diversity = perDoc.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        round(d(sum(round(d(col("n_types")) / col("n_tokens"), 9)
            .cast(DecimalType(12, 9)))) / count(lit(1)), 6)
          .as("avg_ttr"))
    val tail = termStats(docs).groupBy(col("source"))
      .agg(count(lit(1)).as("n_vocab"),
        sum(when(col("tf") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("source"), col("n_vocab"),
        round(d(col("n_hapax")) / col("n_vocab"), 6).as("hapax_rate"))
    diversity.join(tail, Seq("source")).orderBy(col("source"))
  }

  private val ttrSql =
    """WITH perdoc AS (
      |  SELECT source,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
      |      AS n_types
      |  FROM documents),
      |div AS (
      |  SELECT source, count(*) AS n_docs,
      |    round(CAST(sum(CAST(round(
      |      CAST(n_types AS DOUBLE) / n_tokens, 9) AS DECIMAL(12,9)))
      |      AS DOUBLE) / count(*), 6) AS avg_ttr
      |  FROM perdoc GROUP BY source),
      |tf AS (
      |  SELECT source, w, count(*) AS tf FROM (
      |    SELECT source, unnest(string_split(text, ' ')) AS w
      |    FROM documents)
      |  GROUP BY source, w),
      |tail AS (
      |  SELECT source, count(*) AS n_vocab,
      |    round(CAST(sum(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS DOUBLE)
      |      / count(*), 6) AS hapax_rate
      |  FROM tf GROUP BY source)
      |SELECT source, n_docs, avg_ttr, n_vocab, hapax_rate
      |FROM div JOIN tail USING (source) ORDER BY source""".stripMargin

  // ---- llm_hash_embed: feature-hashed document vectors --------------
  // The hashing trick (Weinberger et al. '09): a deterministic,
  // vocabulary-free document representation — bucket = md5(word) mod
  // 64, sign from the next nibble, weight = Σ count·sign. The cheap
  // embedding path when no model is available (streaming-safe: a
  // word's bucket never depends on corpus state, so append batches
  // hash identically). Weights are INTEGER sums — exact on both
  // engines, no float discipline needed. Work is row-local explode +
  // one bounded aggregation; the doc_id slice keeps the fixture
  // output small while the plan is the full-corpus one.
  private val HashDim = 64
  private val hashEmbed: Q = (s, dir) => {
    val h = md5(col("w"))
    t(s, dir, "documents")
      .filter(col("doc_id") < 20)
      .select(col("doc_id"),
        explode(graft.functions.TokenOps.word_counts(
          split(col("text"), " "))).as(Seq("w", "c")))
      .select(col("doc_id"), col("c"),
        (conv(substring(h, 1, 2), 16, 10).cast(IntegerType) %
          HashDim).as("bucket"),
        when(conv(substring(h, 3, 1), 16, 10).cast(IntegerType) < 8,
          lit(1L)).otherwise(lit(-1L)).as("sign"))
      .groupBy(col("doc_id"), col("bucket"))
      .agg(sum(col("c") * col("sign")).as("weight"))
      .orderBy(col("doc_id"), col("bucket"))
  }

  private val hashEmbedSql =
    s"""WITH tok AS (
       |  SELECT doc_id, w, count(*) AS c FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS w
       |    FROM documents WHERE doc_id < 20)
       |  GROUP BY doc_id, w),
       |hashed AS (
       |  SELECT doc_id, c,
       |    ((strpos('0123456789abcdef', substr(md5(w), 1, 1)) - 1) * 16
       |     + strpos('0123456789abcdef', substr(md5(w), 2, 1)) - 1)
       |      % $HashDim AS bucket,
       |    CASE WHEN strpos('0123456789abcdef', substr(md5(w), 3, 1))
       |      - 1 < 8 THEN 1 ELSE -1 END AS sign
       |  FROM tok)
       |SELECT doc_id, CAST(bucket AS INTEGER) AS bucket,
       |  CAST(sum(c * sign) AS BIGINT) AS weight
       |FROM hashed GROUP BY doc_id, bucket
       |ORDER BY doc_id, bucket""".stripMargin

  // ---- llm_keywords: per-document keyword extraction ----------------
  // Top-3 TF-IDF terms per document — the document-level complement
  // of llm_tfidf's per-source view (tagging, retrieval snippets,
  // index keys). tf is row-local (word_counts); global df comes from
  // the session term-stats artifact (Σ over sources) and ships
  // broadcast (vocabulary-sized); the top-3 is a per-doc window over
  // the doc's own terms. Scores round to 6 (double product
  // discipline); ties break on the term.
  private val keywords: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val tf = docs.filter(col("doc_id") < 100)
      .select(col("doc_id"),
        explode(graft.functions.TokenOps.word_counts(
          split(col("text"), " "))).as(Seq("w", "c")))
    val scored = tf
      .join(broadcast(idfModel(docs).select(col("w"), col("idf"))),
        Seq("w"))
      .withColumn("score", col("c") * col("idf"))
    scored.withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("score").desc, col("w"))))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("rk").cast(LongType).as("rk"),
        col("w").as("keyword"), round(col("score"), 6).as("score"))
      .orderBy(col("doc_id"), col("rk"))
  }

  private val keywordsSql =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS w
      |  FROM documents),
      |df AS (
      |  SELECT w, count(DISTINCT doc_id) AS df FROM tok GROUP BY w),
      |n AS (SELECT count(*) AS n_docs FROM documents),
      |tf AS (
      |  SELECT doc_id, w, count(*) AS c FROM tok
      |  WHERE doc_id < 100 GROUP BY doc_id, w),
      |scored AS (
      |  SELECT tf.doc_id, tf.w,
      |    tf.c * ln(CAST(n.n_docs AS DOUBLE) / df.df) AS score
      |  FROM tf JOIN df USING (w), n),
      |ranked AS (
      |  SELECT doc_id, w, score, row_number() OVER (
      |    PARTITION BY doc_id ORDER BY score DESC, w) AS rk
      |  FROM scored)
      |SELECT doc_id, rk, w AS keyword, round(score, 6) AS score
      |FROM ranked WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin

  // ---- llm_redact_terms: regex scrubbing / redaction ----------------
  // The PII-scrub operator shape: a lexicon/pattern match is replaced
  // with a sentinel and the hit count is kept for audit. The fixture
  // corpus has no emails/phones, so the pattern here is the stopword
  // lexicon — same regexp_replace/regexp_extract_all machinery a
  // production pattern ('[\w.]+@[\w.]+' etc.) would ride. Pure
  // per-row work: embarrassingly parallel at any scale.
  private val RedactPattern = "\\b(the|a|of|and|to)\\b"

  private val redact: Q = (s, dir) =>
    t(s, dir, "documents")
      .select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit(RedactPattern), lit(0)))
          .cast(LongType).as("n_redacted"),
        length(regexp_replace(col("text"), RedactPattern, "<X>"))
          .cast(LongType).as("redacted_len"))
      .orderBy(col("doc_id"))

  private val redactSql =
    s"""SELECT doc_id,
       |  CAST(len(regexp_extract_all(text, '$RedactPattern'))
       |    AS BIGINT) AS n_redacted,
       |  CAST(length(regexp_replace(text, '$RedactPattern', '<X>', 'g'))
       |    AS BIGINT) AS redacted_len
       |FROM documents ORDER BY doc_id""".stripMargin

  // ---- q47_date_funcs: calendar rollup -------------------------------
  // year/quarter extraction + per-bucket aggregates; partition-pruning
  // twin lives in sources.LayoutSpec — here the functions themselves
  // are under oracle check.
  private val q47: Q = (s, dir) =>
    t(s, dir, "orders")
      .groupBy(year(col("o_orderdate")).cast(LongType).as("o_year"),
        quarter(col("o_orderdate")).cast(LongType).as("o_quarter"))
      .agg(count(lit(1)).as("n_orders"),
        d(sum(dec2(col("o_totalprice")))).as("revenue"),
        min(to_date(col("o_orderdate"))).as("first_day"),
        max(to_date(col("o_orderdate"))).as("last_day"))
      .orderBy(col("o_year"), col("o_quarter"))

  private val q47Sql =
    """SELECT EXTRACT(year FROM o_orderdate) AS o_year,
      |  EXTRACT(quarter FROM o_orderdate) AS o_quarter,
      |  count(*) AS n_orders,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |  CAST(min(o_orderdate) AS DATE) AS first_day,
      |  CAST(max(o_orderdate) AS DATE) AS last_day
      |FROM orders GROUP BY 1, 2 ORDER BY o_year, o_quarter""".stripMargin

  // ---- q48_edit_distance: fuzzy string matching -----------------------
  // Nearest other nation by Levenshtein distance — the
  // entity-resolution primitive. The self-join is over a fixed small
  // dimension (25 rows): Spark broadcasts it; cost is |dim|², never
  // data-dependent.
  private val q48: Q = (s, dir) => {
    val n = t(s, dir, "nation").select(col("n_name"))
    val pairs = n.as("x")
      .join(broadcast(n.as("y")), col("x.n_name") =!= col("y.n_name"))
      .select(col("x.n_name").as("name"), col("y.n_name").as("other"),
        levenshtein(col("x.n_name"), col("y.n_name")).as("dist"))
    pairs
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("name"))
          .orderBy(col("dist"), col("other"))))
      .filter(col("rk") === 1)
      .select(col("name"), col("other").as("nearest"),
        col("dist").cast(LongType).as("distance"))
      .orderBy(col("name"))
  }

  private val q48Sql =
    """WITH pairs AS (
      |  SELECT x.n_name AS name, y.n_name AS other,
      |    levenshtein(x.n_name, y.n_name) AS dist
      |  FROM nation x JOIN nation y ON x.n_name <> y.n_name),
      |rk AS (
      |  SELECT name, other, dist,
      |    row_number() OVER (PARTITION BY name ORDER BY dist, other) AS rk
      |  FROM pairs)
      |SELECT name, other AS nearest, CAST(dist AS BIGINT) AS distance
      |FROM rk WHERE rk = 1 ORDER BY name""".stripMargin

  // ---- q77_jaro_winkler: blocked fuzzy match (entity resolution) -----
  // The ER shape at scale: BLOCK first (equi-join on a cheap blocking
  // key — here the name's first token), THEN score candidate pairs
  // with Jaro-Winkler, the prefix-weighted similarity fuzzy matching
  // wants and Spark doesn't ship. functions.JaroWinklerSim is a
  // custom codegen'd Catalyst expression whose semantics are pinned
  // to DuckDB's jaro_winkler_similarity (the oracle here — the
  // external engine's NATIVE function checks the custom expression).
  // Blocking keeps the pair count Σ block² ≪ corpus²; the key-bounded
  // slice keeps the fixture run small while the plan shape is the
  // production one.
  private val q77: Q = (s, dir) => {
    val p = t(s, dir, "part").filter(col("p_partkey") < 500)
      .select(col("p_partkey"), col("p_name"),
        substring_index(col("p_name"), " ", 1).as("blk"))
    val a = p.select(col("p_partkey").as("key"),
      col("p_name").as("name"), col("blk"))
    val b = p.select(col("p_partkey").as("okey"),
      col("p_name").as("oname"), col("blk"))
    a.join(b, Seq("blk"))
      .filter(col("key") =!= col("okey"))
      .select(col("key"), col("name"), col("okey"), col("oname"),
        graft.functions.JaroWinkler
          .jaro_winkler(col("name"), col("oname")).as("sim"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("key"))
          .orderBy(col("sim").desc, col("okey"))))
      .filter(col("rk") === 1)
      .select(col("key"), col("name"), col("okey").as("nearest_key"),
        col("oname").as("nearest_name"),
        round(col("sim"), 4).as("similarity"))
      .orderBy(col("key"))
  }

  private val q77Sql =
    """WITH p AS (
      |  SELECT p_partkey AS key, p_name AS name,
      |    split_part(p_name, ' ', 1) AS blk
      |  FROM part WHERE p_partkey < 500),
      |pairs AS (
      |  SELECT a.key, a.name, b.key AS okey, b.name AS oname,
      |    jaro_winkler_similarity(a.name, b.name) AS sim
      |  FROM p a JOIN p b ON a.blk = b.blk AND a.key <> b.key),
      |rk AS (
      |  SELECT *, row_number() OVER (
      |    PARTITION BY key ORDER BY sim DESC, okey) AS rk
      |  FROM pairs)
      |SELECT key, name, okey AS nearest_key, oname AS nearest_name,
      |  round(sim, 4) AS similarity
      |FROM rk WHERE rk = 1 ORDER BY key""".stripMargin

  // ---- q49_salted_join: skew-mitigated equi-join under oracle check ---
  // operators.SkewJoin.saltedHotKeyJoin — the manual fallback when
  // AQE skew-split can't kick in (e.g. the skew is one hot KEY, not a
  // fat partition). A seeded sample finds keys past the row
  // threshold; only those ride the salted (replicated) join, the
  // rest a plain equi-join. The fixture's keys are uniform, so the
  // detector finds nothing and the plan degrades to exactly the
  // plain join — zero replication tax, which is the point of
  // detecting first. The hot path's result parity is pinned on a
  // synthetic hot-key corpus in OperatorsSpec. Result must equal the
  // plain join: the oracle IS the plain join.
  private val q49: Q = (s, dir) => {
    val li = t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"))
    val o = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"))
    graft.operators.SkewJoin.saltedHotKeyJoin(li, o,
        "l_orderkey", "o_orderkey", salts = 8,
        sampleFraction = 0.01, hotRowThreshold = 100000)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        d(sum(dec2(col("l_quantity")))).as("total_qty"))
      .orderBy(col("o_orderpriority"))
  }

  private val q49Sql =
    """SELECT o_orderpriority, count(*) AS n_items,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ---- llm_tfidf: per-source distinctive terms ------------------------
  // TF-IDF over the corpus: tf per (source, term), document frequency
  // per term, idf = ln(N/df). ONE linear aggregation chain — every
  // shuffle carries only (term, counts), never text; N rides a
  // broadcast singleton. Scores are rounded to 4 decimals so both
  // engines hash the same doubles (same practice as the cosine
  // queries).
  //
  // r5 fusion (VERDICT r4): served from the term-stats artifact above
  // (the per-token (doc, word) exchange — the r4 plan's widest
  // shuffle — is gone; the artifact's only exchange carries
  // per-(source, word) partial aggregates). df(w) is recovered from
  // sdf with a window sum over the term key — no fork, no join, no
  // checkpoint barrier.
  private val tfidf: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val tf = termStats(docs)
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf
      .withColumn("df", sum(col("sdf")).over(Window.partitionBy(col("w"))))
      .crossJoin(broadcast(n))
      .withColumn("score",
        round(col("tf") * log(col("n_docs").cast(DoubleType) / col("df")), 4))
    scored
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("source"))
          .orderBy(col("score").desc, col("w"))))
      .filter(col("rk") <= 5)
      .select(col("source"), col("w").as("term"), col("tf"), col("df"),
        col("score"))
      .orderBy(col("source"), col("score").desc, col("term"))
  }

  private val tfidfSql =
    """WITH words AS (
      |  SELECT doc_id, source, unnest(string_split(text, ' ')) AS w
      |  FROM documents),
      |tf AS (SELECT source, w, count(*) AS tf FROM words GROUP BY 1, 2),
      |dfreq AS (SELECT w, count(DISTINCT doc_id) AS df FROM words GROUP BY 1),
      |n AS (SELECT count(*) AS n_docs FROM documents),
      |scored AS (
      |  SELECT source, w AS term, tf, df,
      |    round(tf * ln(CAST(n_docs AS DOUBLE) / df), 4) AS score
      |  FROM tf JOIN dfreq USING (w) CROSS JOIN n),
      |rk AS (
      |  SELECT *, row_number() OVER (
      |    PARTITION BY source ORDER BY score DESC, term) AS rk
      |  FROM scored)
      |SELECT source, term, tf, df, score FROM rk
      |WHERE rk <= 5 ORDER BY source, score DESC, term""".stripMargin

  // ---- llm_rarity: rare-token density scoring -------------------------
  // The document-level companion of TF-IDF: a doc's rarity is the
  // idf-weighted mean over its token occurrences — high = the doc is
  // made of corpus-rare words (specialist/long-tail content), low =
  // boilerplate. A standard curation signal for mixing (upweight rare
  // content) and a cheap proxy for memorization risk.
  //
  // Scale shape: the idf table is a |vocabulary|-row re-aggregation of
  // the session term-stats artifact, shipped broadcast as the MODEL
  // (the bigram-LM deployment shape); doc tokens collapse ROW-LOCALLY
  // to (word, count) via word_counts before the join, so the scoring
  // join fan-out is doc×distinct-words, never doc×tokens, and the
  // only exchange carries per-doc partial aggregates. Both engines
  // compute the identical c·idf product per (doc, word) and round the
  // weighted mean to 4 decimals (the avg_logp discipline: rounding
  // absorbs summation-order ulps).
  private val rarity: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val idf = idfModel(docs).select(col("w"), col("idf"))
    docs.select(col("doc_id"),
        explode(graft.functions.TokenOps.word_counts(
          split(col("text"), " "))).as(Seq("w", "c")))
      .join(broadcast(idf), Seq("w"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).cast(LongType).as("n_tokens"),
        round(sum(col("c") * col("idf")) / sum(col("c")), 4).as("rarity"))
      .orderBy(col("doc_id"))
  }

  private val raritySql =
    """WITH words AS (
      |  SELECT doc_id, w, count(*) AS c
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
      |        FROM documents)
      |  GROUP BY 1, 2),
      |dfreq AS (SELECT w, count(DISTINCT doc_id) AS df
      |          FROM words GROUP BY 1),
      |n AS (SELECT count(*) AS n_docs FROM documents),
      |idf AS (SELECT w, ln(CAST(n_docs AS DOUBLE) / df) AS idf
      |        FROM dfreq CROSS JOIN n)
      |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
      |  round(sum(c * idf) / sum(c), 4) AS rarity
      |FROM words JOIN idf USING (w)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---- llm_ngram_novelty: per-doc corpus-unique bigram fraction ------
  // The third consumer of the bigram-stats artifact: what fraction of
  // a document's bigrams appear NOWHERE else in the corpus. High
  // novelty = genuinely original phrasing (keep for diversity); near-
  // zero = the doc is assembled from corpus-common n-grams (template/
  // boilerplate suspect). The complement of the dedup family: dedup
  // finds documents that SHARE n-grams, novelty scores how much a doc
  // DOESN'T.
  //
  // Scale shape: doc bigram rows join the artifact on (w1, w2) —
  // broadcast here (bigram vocabulary ≪ corpus; a 100 TB corpus
  // min-count-prunes to "b = 1 or not" which is 1 bit per bigram), and
  // the only exchange carries per-doc partials. The 0/1 fraction is a
  // ratio of exact integer sums — bit-identical across engines, so
  // round(4) is belt-and-braces only.
  private val novelty: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    bigramRows(docs)
      .join(broadcast(bigramStats(docs)), Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(when(col("b") === 1L, 1.0).otherwise(0.0)), 4)
          .as("novelty"))
      .orderBy(col("doc_id"))
  }

  private val noveltySql =
    """WITH tok AS (
      |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
      |  WHERE len(string_split(text, ' ')) >= 2),
      |bi AS (
      |  SELECT doc_id,
      |    unnest([tk[i] for i in generate_series(1, len(tk)-1)]) AS w1,
      |    unnest([tk[i+1] for i in generate_series(1, len(tk)-1)]) AS w2
      |  FROM tok),
      |bc AS (SELECT w1, w2, count(*) AS b FROM bi GROUP BY 1, 2)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
      |  round(avg(CASE WHEN b = 1 THEN 1.0 ELSE 0.0 END), 4) AS novelty
      |FROM bi JOIN bc USING (w1, w2)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---- q50_interval_overlap: concurrency curve via interval binning --
  // How many user sessions are active in each hour. Intervals
  // (per-user-day [min ts, max ts]) explode into their hour buckets
  // (sequence = bounded replication, interval_length/bucket copies),
  // then a count per bucket — the scale-safe interval-overlap plan: no
  // interval×interval join, one map-side-combinable aggregation. The
  // temporal-family complement of q10 (range join) and q31 (as-of).
  private val q50: Q = (s, dir) =>
    Events.events(s, dir)
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(min(col("ts")).as("st"), max(col("ts")).as("en"))
      // date_trunc widens ntz → session-tz timestamp; cast back so the
      // output hashes as the tz-naive hour DuckDB produces
      .select(explode(sequence(
        date_trunc("hour", col("st")).cast("timestamp_ntz"),
        date_trunc("hour", col("en")).cast("timestamp_ntz"),
        expr("INTERVAL 1 HOUR"))).as("hour"))
      .groupBy(col("hour"))
      .agg(count(lit(1)).as("n_active"))
      .orderBy(col("hour"))

  private val q50Sql =
    """WITH s AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day,
      |    min(ts) AS st, max(ts) AS en
      |  FROM events GROUP BY 1, 2)
      |SELECT h AS hour, count(*) AS n_active
      |FROM s, unnest(generate_series(
      |  date_trunc('hour', st), date_trunc('hour', en),
      |  INTERVAL 1 HOUR)) AS t(h)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q51_funnel: ordered-stage conversion funnel --------------------
  // Users who did view → click → purchase IN ORDER: stage k's earliest
  // qualifying timestamp lower-bounds stage k+1. Each stage is a
  // conditional min over the SAME user partition — three chained
  // Window ops behind ONE user_id exchange (no sort: unbounded
  // frames), then a per-user collapse that reuses that partitioning.
  // One wide shuffle of the event log total, vs the naive
  // join-per-stage plan's six — the difference between one pass and
  // four over a 100 TB log.
  private val q51: Q = (s, dir) => {
    val w = Window.partitionBy(col("user_id"))
    val staged = Events.events(s, dir)
      .select(col("user_id"), col("event_type"), col("ts"))
      .withColumn("v_ts",
        min(when(col("event_type") === "view", col("ts"))).over(w))
      .withColumn("c_ts",
        min(when(col("event_type") === "click" &&
          col("ts") >= col("v_ts"), col("ts"))).over(w))
      .withColumn("p_ts",
        min(when(col("event_type") === "purchase" &&
          col("ts") >= col("c_ts"), col("ts"))).over(w))
    staged
      .groupBy(col("user_id"))
      .agg(min(col("v_ts")).as("v_ts"), min(col("c_ts")).as("c_ts"),
        min(col("p_ts")).as("p_ts"))
      .agg(count(col("v_ts")).as("n1"), count(col("c_ts")).as("n2"),
        count(col("p_ts")).as("n3"))
      .select(expr(
        """stack(3, CAST(1 AS BIGINT), 'view', n1,
          |         CAST(2 AS BIGINT), 'click', n2,
          |         CAST(3 AS BIGINT), 'purchase', n3)
          |  AS (stage_idx, stage, n_users)""".stripMargin))
      .orderBy(col("stage_idx"))
  }

  private val q51Sql =
    """WITH v AS (
      |  SELECT user_id, min(ts) AS v_ts FROM events
      |  WHERE event_type = 'view' GROUP BY 1),
      |c AS (
      |  SELECT e.user_id, min(ts) AS c_ts FROM events e
      |  JOIN v USING (user_id)
      |  WHERE event_type = 'click' AND ts >= v_ts GROUP BY 1),
      |p AS (
      |  SELECT e.user_id, min(ts) AS p_ts FROM events e
      |  JOIN c USING (user_id)
      |  WHERE event_type = 'purchase' AND ts >= c_ts GROUP BY 1)
      |SELECT CAST(1 AS BIGINT) AS stage_idx, 'view' AS stage,
      |  count(*) AS n_users FROM v
      |UNION ALL SELECT 2, 'click', count(*) FROM c
      |UNION ALL SELECT 3, 'purchase', count(*) FROM p
      |ORDER BY stage_idx""".stripMargin

  // ---- llm_mix_sources: temperature-weighted training mixture --------
  // The data-mixing operator: draw a fixed-size corpus whose per-source
  // share follows w_s = n_s^(1/T) (T = 2 here — the standard
  // multilingual up-sampling trick: rare sources get boosted, dominant
  // ones damped), selecting each source's quota DETERMINISTICALLY as
  // the docs with the smallest md5(doc_id) — reproducible across runs
  // and engines, no RNG. Quotas ride a broadcast (one row per source);
  // selection is one rank-per-source window. At 100 TB: weights from a
  // metadata aggregation, selection streams the corpus once.
  // Quotas use LARGEST-REMAINDER allocation (r5, VERDICT r4): plain
  // floor() leaves Σquota up to nSources−1 docs short of the target;
  // handing the shortfall to the sources with the largest fractional
  // remainders (deterministic tie-break on source name) makes
  // Σquota = MixTarget exactly, still with zero RNG. The quota frame
  // is one row per source — window functions over it are free.
  // (If a quota ever exceeded a source's doc count the mixture would
  // under-fill by the deficit; with T=2 damping that needs a source
  // smaller than its boosted share — callers with such long tails
  // should cap quota at n and re-allocate, a metadata-size loop.)
  private val MixTarget = 200

  private val mix: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val quotas = docs
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"))
      .withColumn("w", sqrt(col("n").cast(DoubleType)))
      .withColumn("wsum", sum(col("w")).over(Window.partitionBy()))
      .withColumn("exact", lit(MixTarget) * col("w") / col("wsum"))
      .withColumn("base", floor(col("exact")).cast(LongType))
      .withColumn("short",
        lit(MixTarget) - sum(col("base")).over(Window.partitionBy()))
      .withColumn("rrk", row_number().over(Window.partitionBy()
        .orderBy((col("exact") - col("base")).desc, col("source"))))
      .withColumn("quota",
        col("base") + when(col("rrk") <= col("short"), 1L).otherwise(0L))
      .select(col("source"), col("quota"))
    // per-group top-K in two phases: a source's global smallest-md5
    // quota set is a subset of every partitioning's partition-local
    // top-MixTarget for that source, so phase 1 ranks within
    // (input-partition, source) — parallelism = partitions × sources,
    // never a one-task-per-source sort of the whole corpus (the
    // single-window form is the 100 TB scale-killer: each source's
    // entire slice lands in ONE task) — and phase 2 computes exact
    // global ranks over the ≤ partitions × sources × MixTarget
    // survivors. Input partitioning is a deterministic table scan, so
    // the survivor superset is retry-stable; the final filter is
    // partitioning-independent either way.
    val hashed = docs
      .select(col("doc_id"), col("source"),
        md5(encode(col("doc_id").cast(StringType), "UTF-8")).as("h"))
      .withColumn("pid", spark_partition_id())
      .withColumn("prk", row_number().over(
        Window.partitionBy(col("pid"), col("source"))
          .orderBy(col("h"), col("doc_id"))))
      .filter(col("prk") <= MixTarget)
    val ranked = hashed
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("source"))
          .orderBy(col("h"), col("doc_id"))))
    ranked.join(broadcast(quotas), "source")
      .filter(col("rk") <= col("quota"))
      .select(col("doc_id"), col("source"))
      .orderBy(col("doc_id"))
  }

  private val mixSql =
    s"""WITH q AS (
       |  SELECT source, count(*) AS n FROM documents GROUP BY source),
       |e AS (
       |  SELECT source,
       |    $MixTarget * sqrt(CAST(n AS DOUBLE)) /
       |      sum(sqrt(CAST(n AS DOUBLE))) OVER () AS ex
       |  FROM q),
       |b AS (
       |  SELECT source, ex, CAST(floor(ex) AS BIGINT) AS base,
       |    $MixTarget - sum(CAST(floor(ex) AS BIGINT)) OVER () AS short,
       |    row_number() OVER (ORDER BY ex - floor(ex) DESC, source) AS rrk
       |  FROM e),
       |quotas AS (
       |  SELECT source,
       |    base + CASE WHEN rrk <= short THEN 1 ELSE 0 END AS quota
       |  FROM b),
       |ranked AS (
       |  SELECT doc_id, source,
       |    row_number() OVER (PARTITION BY source
       |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
       |  FROM documents)
       |SELECT doc_id, source FROM ranked JOIN quotas USING (source)
       |WHERE rk <= quota ORDER BY doc_id""".stripMargin

  // ---- llm_contamination: eval-set decontamination --------------------
  // Flag every (doc, probe) pair where a benchmark probe phrase occurs
  // verbatim in the doc — the decontamination pass a training corpus
  // runs against its eval suites. SHIPPED PLAN (r5): the probe list is
  // broadcast and compiled into ONE Aho-Corasick automaton per
  // partition (functions.AhoCorasick); each doc is scanned once,
  // O(len + matches) per row regardless of probe count — at thousands
  // of probes the naive explode multiplies the corpus ×P before its
  // filter. The explode form remains as [[contaminationExplodeFor]]:
  // it IS the oracle (and the DuckDB twin), and CurationSpec pins
  // automaton ≡ explode on a 10k-probe corpus.
  private val Probes = Seq(
    "hash join", "sort merge", "table scan", "key agg", "window table")

  /** One-pass Aho-Corasick contamination scan (the 100 TB path). */
  private[queries] def contaminationScanFor(docs: DataFrame,
      probes: Seq[String]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val probesB = spark.sparkContext.broadcast(probes.toArray)
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val pats = probesB.value
        val ac = new graft.functions.AhoCorasick(pats)
        it.flatMap { case (id, text) =>
          // null text matches nothing — same semantics as the explode
          // form, where contains(NULL, probe) is NULL and filters out
          if (text == null) Iterator.empty
          else ac.findDistinct(text).iterator.map(i => (id, pats(i)))
        }
      }
      .toDF("doc_id", "probe")
  }

  /** Probe-explode contamination (×P row blowup — oracle/baseline). */
  private[queries] def contaminationExplodeFor(docs: DataFrame,
      probes: Seq[String]): DataFrame =
    docs
      .select(col("doc_id"), col("text"),
        explode(array(probes.map(lit): _*)).as("probe"))
      .filter(col("text").contains(col("probe")))
      .select(col("doc_id"), col("probe"))

  private val contamination: Q = (s, dir) =>
    contaminationScanFor(t(s, dir, "documents"), Probes)
      .orderBy(col("doc_id"), col("probe"))

  private val contaminationSql =
    s"""SELECT doc_id, probe
       |FROM documents, unnest([${Probes.map(p => s"'$p'").mkString(", ")}])
       |  AS t(probe)
       |WHERE contains(text, probe)
       |ORDER BY doc_id, probe""".stripMargin

  // the apply form (detect + apply symmetry, like the dedup
  // families): the decontaminated training corpus = documents
  // anti-joined against the flagged set. Same one-pass automaton
  // scan; the anti-join key is doc_id, so the corpus never carries
  // probe rows — one pipeline, two outputs.
  private val contaminationApply: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    docs.join(
        contaminationScanFor(docs, Probes).select(col("doc_id")),
        Seq("doc_id"), "left_anti")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_clean"), sum(col("n_chars")).as("clean_chars"))
      .orderBy(col("source"))
  }

  private val contaminationApplySql =
    s"""WITH flagged AS (
       |  SELECT DISTINCT doc_id
       |  FROM documents,
       |    unnest([${Probes.map(p => s"'$p'").mkString(", ")}]) AS t(probe)
       |  WHERE contains(text, probe))
       |SELECT source, count(*) AS n_clean,
       |  CAST(sum(n_chars) AS BIGINT) AS clean_chars
       |FROM documents d
       |WHERE NOT EXISTS (SELECT 1 FROM flagged f WHERE f.doc_id = d.doc_id)
       |GROUP BY source ORDER BY source""".stripMargin

  // ---- llm_bigram_lm: corpus bigram LM, per-doc mean log-prob --------
  // The perplexity-style quality filter: train an add-one-smoothed
  // bigram language model ON the corpus itself, then score every
  // document by the mean natural-log probability of its bigrams.
  // Low-scoring docs are surprising under the corpus distribution
  // (gibberish, wrong language, boilerplate-free noise) — the classic
  // "KenLM filter" shape with the LM expressible in pure dataflow.
  //
  //   P(w2 | w1) = (B(w1 w2) + 1) / (U(w1) + V)
  //
  // with B = corpus bigram count, U = corpus occurrences of w1 (all
  // positions), V = corpus vocabulary size (add-one mass).
  //
  // The model is trained on the FULL corpus (unigram mass includes
  // every document); only documents with >= 2 tokens receive a score
  // (a 1-token doc has no bigrams).
  //
  // Scale shape: the unigram table U and the add-one mass V are EXACT
  // re-aggregations of the session's term-stats artifact (U(w) = Σ_src
  // tf(src, w)) — the corpus is tokenized once for bigram rows, not
  // three times. Bigram counts are one corpus-wide aggregation; the
  // doc-side bigram rows shuffle on the bigram key once — the count
  // aggregation's exchange is reused for the join probe (identical
  // subtree) or the count side broadcasts when small. V rides a
  // broadcast of a 1-row frame. Nothing is quadratic; the widest key
  // domain is the corpus bigram vocabulary, the same cardinality
  // class the term-stats artifact already shuffles.
  /** Positional bigram rows (doc_id, w1, w2), multiplicity kept:
    * arrays_zip of the token array against itself shifted by one —
    * the ONE tokenization contract shared by the bigram LM and PMI
    * (both DuckDB twins assume exactly this derivation). */
  private[graft] def bigramRows(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .filter(size(col("tk")) >= 2)
      .select(col("doc_id"), explode(arrays_zip(
        slice(col("tk"), lit(1), size(col("tk")) - 1),
        slice(col("tk"), lit(2), size(col("tk")) - 1))).as("z"))
      .select(col("doc_id"), col("z").getField("0").as("w1"),
        col("z").getField("1").as("w2"))

  /** Corpus unigram counts (w, u) — an exact re-aggregation of the
    * term-stats artifact, shared by the bigram LM and PMI.
    * Session-persisted: bounded by |vocabulary|, and serving it from
    * memory removes a per-query stage round-trip (the r5 verdict's
    * bigram-LM/PMI wall-clock diagnosis). */
  private[queries] def unigramCounts(documents: DataFrame): DataFrame =
    ArtifactStore.frame("unigram_counts", documents)(
      termStats(documents).groupBy(col("w")).agg(sum(col("tf")).as("u")))

  // ---- the per-(w1, w2) bigram-stats ARTIFACT ------------------------
  // The bigram companion of term-stats (VERDICT r5 #2): corpus bigram
  // counts with multiplicity, built from ONE tokenization pass and
  // session-persisted. Output is bounded by the corpus bigram
  // vocabulary — the same cardinality class term-stats already holds,
  // ≪ corpus rows. One build serves BOTH consumers: the add-one LM
  // (counts + smoothed weights) and PMI collocations (survivors + the
  // NB normalizer are re-aggregations of this frame, so the corpus is
  // never re-tokenized per query). The isnotnull guards are vacuous
  // (split never yields nulls) but keep the artifact's plan identical
  // to what the PMI join would push down, so both consumers share one
  // cached subtree.
  private[graft] def bigramStatsFor(documents: DataFrame): DataFrame =
    bigramRows(documents)
      .filter(col("w1").isNotNull && col("w2").isNotNull)
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("b"))

  /** Session-persisted per-(w1, w2) bigram counts for `documents`
    * (build-once artifact; see note above). */
  private[queries] def bigramStats(documents: DataFrame): DataFrame =
    ArtifactStore.frame("bigram_stats", documents)(
      bigramStatsFor(documents))

  private[queries] def bigramLmFor(documents: DataFrame): DataFrame = {
    val bi = bigramRows(documents)
    val uni = unigramCounts(documents)
    val vdf = uni.agg(count(lit(1)).as("v"))
    val bc = bigramStats(documents)
    // fold U and V into a per-bigram WEIGHT table first: the unigram
    // join runs over the bigram vocabulary (≪ corpus bigram rows),
    // and the corpus rows then join the weights on (w1, w2) — with
    // both count tables served from session artifacts, the only
    // corpus-wide work per query is the doc-side scoring join
    val weights = bc.join(uni, col("w1") === col("w"))
      .crossJoin(broadcast(vdf))
      .select(col("w1"), col("w2"),
        log((col("b") + 1).cast(DoubleType) / (col("u") + col("v")))
          .as("lp"))
    // broadcast pin on the MODEL side: without it Catalyst's size
    // estimate can pick BuildLeft and broadcast the corpus bigram
    // rows, probing with the weights — backwards at any scale. The LM
    // weight table is the model, and model-scoring ships the model to
    // the workers (the KenLM-filter deployment shape; a 100 TB corpus
    // prunes the LM by min-count exactly so it stays shippable) while
    // the corpus streams through the probe side inside one codegen
    // stage.
    bi.join(broadcast(weights), Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(col("lp")), 4).as("avg_logp"))
      .orderBy(col("doc_id"))
  }

  // ---- the SHIPPED bigram-LM plan: broadcast-model scoring ----------
  // The dataflow form above joins every corpus bigram occurrence
  // against the weight table — correct at any vocabulary size, but it
  // pays a weights subplan + join + per-doc aggregation per query.
  // The deployment shape for an LM quality filter is KenLM's: the
  // trained model ships to every worker and each document is scored
  // in one pass — a pure per-row scan, no explode, no join, no
  // aggregation exchange. The model here is the (w1, w2) → lp map
  // collected ONCE per corpus snapshot from the session bigram-stats
  // and term-stats artifacts (ArtifactStore), bounded by the corpus
  // bigram vocabulary; a servable production LM is min-count-pruned
  // to stay shippable, and the loud cap below makes an un-prunable
  // vocabulary fail fast instead of OOMing the driver — fall back to
  // [[bigramLmFor]] (the oracle twin, kept green in QueriesSpec) when
  // the model outgrows broadcast.
  private[queries] val MaxLmModelEntries = 50000000

  /** The (w1, w2, lp) weight table of the corpus bigram LM — the
    * derivation behind the broadcast model, exposed separately so the
    * incremental maintainer (`streaming.LmScoreStream`) can commit it
    * durably in exactly the form the scorer consumes. */
  private[graft] def lmModelWeights(documents: DataFrame): DataFrame =
    lmModelWeightsFrom(unigramCounts(documents), bigramStats(documents))

  /** Uncached weight derivation for ONE-OFF corpora (the maintainer's
    * creation batch): routing a never-recurring micro-batch plan
    * through the session ArtifactStore would persist term-stat frames no
    * later query can ever hit (r7 review). */
  private[graft] def lmModelWeightsUncached(documents: DataFrame)
      : DataFrame =
    lmModelWeightsFrom(
      termStatsFor(documents).groupBy(col("w"))
        .agg(sum(col("tf")).as("u")),
      bigramStatsFor(documents))

  private def lmModelWeightsFrom(uni: DataFrame,
      bigrams: DataFrame): DataFrame = {
    val vdf = uni.agg(count(lit(1)).as("v"))
    bigrams
      .join(uni, col("w1") === col("w"))
      .crossJoin(broadcast(vdf))
      .select(col("w1"), col("w2"),
        log((col("b") + 1).cast(DoubleType) / (col("u") + col("v")))
          .as("lp"))
  }

  /** Collect + broadcast a weight table behind the driver-residency
    * cap (the bound fires BEFORE the collect; VERDICT r5 #6). */
  private[graft] def broadcastWeights(weights: DataFrame,
      maxEntries: Long = MaxLmModelEntries.toLong)
      : org.apache.spark.broadcast.Broadcast[
        scala.collection.Map[(String, String), Double]] = {
    val cnt = weights.count()
    require(cnt <= maxEntries,
      s"bigram LM model has $cnt entries (cap $maxEntries): an " +
        "un-pruned vocabulary this large cannot ship as a broadcast " +
        "model — raise the min-count prune or score with the " +
        "dataflow form (bigramLmFor)")
    val rows = weights.collect()
    val m = new scala.collection.mutable.HashMap[(String, String), Double]()
    rows.foreach(r => m.put((r.getString(0), r.getString(1)),
      r.getDouble(2)))
    weights.sparkSession.sparkContext.broadcast(
      m: scala.collection.Map[(String, String), Double])
  }

  private[queries] def bigramLmModel(documents: DataFrame,
      maxEntries: Long = MaxLmModelEntries.toLong)
      : org.apache.spark.broadcast.Broadcast[
        scala.collection.Map[(String, String), Double]] = {
    val b = ArtifactStore.value("lm_model", documents)(
      broadcastWeights(lmModelWeights(documents), maxEntries))(
      _.unpersist())
    // the cap must hold on cache HITS too (r6 review): the cache key
    // ignores maxEntries, so a stricter budget probed after a larger
    // build must still refuse, not silently serve the oversized model
    require(b.value.size <= maxEntries,
      s"bigram LM model has ${b.value.size} entries (cap $maxEntries): " +
        "an un-pruned vocabulary this large cannot ship as a broadcast " +
        "model — raise the min-count prune or score with the dataflow " +
        "form (bigramLmFor)")
    b
  }

  /** One-pass broadcast-model LM scoring (the 100 TB path). Inner-join
    * semantics kept exactly: bigrams absent from the model contribute
    * neither to the count nor the mean, and a doc with no scored
    * bigram emits no row. Per-doc sums run in position order —
    * deterministic — and the 1e-4 rounding matches the dataflow twin
    * and the DuckDB oracle (both already round there). */
  // Session-persisted per-document LM scores (doc_id, n_bigrams,
  // avg_logp) — the scored corpus is a statistics artifact like
  // term-stats: the tokenize+score pass runs once per corpus
  // snapshot, then every consumer (the LM report, the CCNet quartile
  // bucketing, any future perplexity filter) re-reads the persisted
  // frame instead of re-scanning the corpus.
  private[queries] def lmScoresFor(documents: DataFrame): DataFrame =
    ArtifactStore.frame("lm_scores", documents)(bigramLmScanFor(documents))

  /** Per-row LM scoring against a FIXED broadcast model — the scorer
    * both the per-corpus scan and the incremental maintainer
    * (`streaming.LmScoreStream`) run, so streamed and batch scores
    * cannot drift. Emits the matched-bigram count and the rounded
    * mean log-prob; a doc with no matched bigram emits no row (the
    * maintainer computes its OOV-coverage denominator over the raw
    * batch for exactly that reason). */
  private[graft] def scoreDocsWith(documents: DataFrame,
      modelB: org.apache.spark.broadcast.Broadcast[
        scala.collection.Map[(String, String), Double]]): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val m = modelB.value
        it.flatMap { case (id, text) =>
          if (text == null) Iterator.empty
          else {
            val tk = text.split(" ", -1)
            var i = 0
            var n = 0L
            var s = 0.0
            while (i < tk.length - 1) {
              m.get((tk(i), tk(i + 1))) match {
                case Some(lp) => n += 1; s += lp
                case None => ()
              }
              i += 1
            }
            if (n == 0L) Iterator.empty
            else Iterator((id, n,
              BigDecimal(s / n)
                .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble))
          }
        }
      }
      .toDF("doc_id", "n_bigrams", "avg_logp")
  }

  private[queries] def bigramLmScanFor(documents: DataFrame): DataFrame =
    scoreDocsWith(documents, bigramLmModel(documents))

  private val bigramLm: Q = (s, dir) =>
    lmScoresFor(t(s, dir, "documents")).orderBy(col("doc_id"))

  private val bigramLmSql =
    """WITH tok AS (
      |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
      |  WHERE len(string_split(text, ' ')) >= 2),
      |uni AS (
      |  SELECT w, count(*) AS u
      |  FROM (SELECT unnest(string_split(text, ' ')) AS w
      |        FROM documents) GROUP BY w),
      |v AS (SELECT count(*) AS v FROM uni),
      |bi AS (
      |  SELECT doc_id,
      |    unnest([tk[i] for i in generate_series(1, len(tk)-1)]) AS w1,
      |    unnest([tk[i+1] for i in generate_series(1, len(tk)-1)]) AS w2
      |  FROM tok),
      |bc AS (SELECT w1, w2, count(*) AS b FROM bi GROUP BY 1, 2)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
      |  round(avg(ln((b + 1.0) / (u + v))), 4) AS avg_logp
      |FROM bi
      |JOIN bc USING (w1, w2)
      |JOIN uni ON bi.w1 = uni.w
      |CROSS JOIN v
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---- llm_pmi_bigrams: collocation extraction (pointwise MI) --------
  // The tokenizer-curation companion of the bigram LM: which word
  // pairs co-occur far MORE than chance — merge candidates for BPE-
  // style vocabularies and multiword-expression detection.
  //
  //   PMI(w1,w2) = ln( P(w1w2) / (P(w1)·P(w2)) )
  //              = ln( (B·NU·NU) / (NB·U(w1)·U(w2)) )
  //
  // with B = corpus bigram count (min-count 5 to kill noise), NB =
  // total bigrams, U = corpus unigram counts, NU = total tokens.
  //
  // Scale shape: everything re-aggregates from ARTIFACTS the corpus
  // already paid for — U and NU from the term-stats artifact, pair
  // counts and NB from the session bigram-stats artifact (the corpus
  // is not touched at all per query); the unigram joins run over the
  // min-count-filtered bigram VOCABULARY (≪ corpus rows), NU/NB ride
  // broadcasts of 1-row frames, and top-20 is a TakeOrdered, never a
  // global sort. Both engines build the PMI value with the identical
  // expression tree, so the rounded output hashes exactly (the
  // bigramLm double discipline).
  private val PmiMinCount = 5
  private val pmi: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val uni = unigramCounts(docs)
    val nu = uni.agg(sum(col("u")).as("nu"))
    // NB = Σ b over the UNFILTERED pair counts: both NB and the
    // min-count survivors are tiny re-aggregations of the persisted
    // bigram-stats artifact — one tokenization per corpus snapshot,
    // shared with the bigram LM
    val bcAll = bigramStats(docs)
    val nb = bcAll.agg(sum(col("b")).as("nb"))
    val bc = bcAll.filter(col("b") >= PmiMinCount)
    bc.join(uni.select(col("w").as("w1"), col("u").as("u1")), "w1")
      .join(uni.select(col("w").as("w2"), col("u").as("u2")), "w2")
      .crossJoin(broadcast(nu)).crossJoin(broadcast(nb))
      .select(col("w1"), col("w2"), col("b"),
        round(log((col("b").cast(DoubleType) * col("nu") * col("nu")) /
          (col("nb").cast(DoubleType) * col("u1") * col("u2"))), 4)
          .as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2")).limit(20)
  }

  private val pmiSql =
    s"""WITH tok AS (
       |  SELECT string_split(text, ' ') AS tk FROM documents
       |  WHERE len(string_split(text, ' ')) >= 2),
       |uni AS (
       |  SELECT w, count(*) AS u FROM (
       |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  GROUP BY w),
       |nu AS (SELECT CAST(sum(u) AS BIGINT) AS nu FROM uni),
       |bi AS (
       |  SELECT unnest([tk[i] for i in generate_series(1, len(tk)-1)]) AS w1,
       |    unnest([tk[i+1] for i in generate_series(1, len(tk)-1)]) AS w2
       |  FROM tok),
       |nb AS (SELECT count(*) AS nb FROM bi),
       |bc AS (SELECT w1, w2, count(*) AS b FROM bi
       |       GROUP BY 1, 2 HAVING count(*) >= $PmiMinCount)
       |SELECT bc.w1, bc.w2, bc.b,
       |  round(ln((CAST(b AS DOUBLE) * nu * nu) /
       |    (CAST(nb AS DOUBLE) * u1.u * u2.u)), 4) AS pmi
       |FROM bc JOIN uni u1 ON bc.w1 = u1.w JOIN uni u2 ON bc.w2 = u2.w
       |CROSS JOIN nu CROSS JOIN nb
       |ORDER BY pmi DESC, w1, w2 LIMIT 20""".stripMargin

  // ---- q58_bloom_join: bloom semi-join reduction under oracle check --
  // operators.BloomJoin.bloomPrunedJoin — the fact table probes a
  // bloom sketch of the filtered dimension's keys map-side, so only
  // possibly-matching rows reach the join. Result identical to the
  // plain join (no false negatives); the oracle IS the plain join.
  // OperatorsSpec pins the pruning effect and null-key behavior.
  private val q58: Q = (s, dir) => {
    val cust = t(s, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
    graft.operators.BloomJoin
      .bloomPrunedJoin(t(s, dir, "orders"), cust, "o_custkey", "c_custkey")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        d(sum(dec2(col("o_totalprice")))).as("revenue"))
      .orderBy(col("o_orderpriority"))
  }

  private val q58Sql =
    """SELECT o_orderpriority, count(*) AS n_orders,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS revenue
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING'
      |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin

  // ---- q59_heavy_hitters: one-pass frequent items (Misra-Gries) ------
  // The frequent-items complement to the q26/q52 sketches:
  // operators.HeavyHitters summarizes the corpus's token stream in
  // one pass with 64 counters per partition. Estimates are
  // merge-order-dependent, but the MG bound (est in
  // [true - n/65, true]) is deterministic — so the query reports the
  // EXACT top-10 (served from the term-stats artifact) with a
  // bound verdict per row, and the oracle is the exact top-10 with a
  // constant-TRUE verdict (the q26/q52 tolerance pattern).
  // ADVICE r5 (q63 note, applied to both sketch queries): the sketch
  // passes are full-corpus ACTIONS that ran eagerly at DataFrame-
  // construction time on every call — plan-only consumers (explain
  // tooling, plan-pinning specs) paid a corpus scan before touching
  // the plan. Cache the driver-side sketch per corpus snapshot like
  // termStats: built once, served to every later construction.

  private val q59: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val toks = docs.select(explode(split(col("text"), " ")).as("w"))
    val (est, n) = ArtifactStore.value("mg_sketch", docs, 64)(
      graft.operators.HeavyHitters.sketch(toks, "w", k = 64))()
    val bound = n.toDouble / 65
    import s.implicits._
    val estDf = est.toSeq.toDF("w", "est")
    termStats(docs)
      .groupBy(col("w")).agg(sum(col("tf")).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("w")).limit(10)
      .join(broadcast(estDf), Seq("w"), "left")
      .select(col("w"), col("n_occurrences"),
        (coalesce(col("est"), lit(0L)) <= col("n_occurrences") &&
          coalesce(col("est"), lit(0L)).cast(DoubleType) >=
            col("n_occurrences").cast(DoubleType) - bound)
          .as("est_in_bound"))
      .orderBy(col("n_occurrences").desc, col("w"))
  }

  private val q59Sql =
    """SELECT w, CAST(count(*) AS BIGINT) AS n_occurrences,
      |  TRUE AS est_in_bound
      |FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      |GROUP BY w ORDER BY n_occurrences DESC, w LIMIT 10""".stripMargin

  // ---- q63_count_min: point-frequency estimation (count-min) --------
  // The point-lookup complement to q59: Misra-Gries answers "which
  // items are frequent" with an order-dependent summary (only its
  // BOUND is deterministic); the count-min sketch answers "how often
  // does item x occur" with counters that are plain sums — so the
  // merged sketch, and every estimate, is bit-identical under any
  // partitioning/merge order/engine. The query therefore puts the
  // ESTIMATE itself under the oracle hash, not just a verdict: the
  // DuckDB twin rebuilds the identical 4x4096 counter matrix in SQL
  // (the simhash md5-hex trick: bucket = first 3 hex digits of
  // md5("j:w")) and must reproduce every cms_est exactly.
  // Serving is SQL-side too: the driver array becomes a 16k-row
  // broadcast frame, probes compute buckets with md5/conv in codegen
  // and min-join — estimating ANY probe list never shuffles the
  // corpus (the sketch pass is one treeAggregate).
  private val CmsDepth = 4
  private val q63: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val toks = docs.select(explode(split(col("text"), " ")).as("w"))
    val (m, _) = ArtifactStore.value("cms_sketch", docs, CmsDepth)(
      graft.operators.CountMin.sketch(toks, "w", CmsDepth))()
    import s.implicits._
    val width = graft.operators.CountMin.Width
    val counters = m.toSeq.zipWithIndex.collect { case (c, i) if c > 0L =>
      (i / width, i % width, c)
    }.toDF("j", "b", "c")
    val bucket = conv(substring(
      md5(concat(col("j").cast(StringType), lit(":"), col("w"))),
      1, 3), 16, 10).cast(IntegerType)
    termStats(docs)
      .groupBy(col("w")).agg(sum(col("tf")).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("w")).limit(10)
      .select(col("w"), col("n_occurrences"),
        explode(sequence(lit(0), lit(CmsDepth - 1))).as("j"))
      .withColumn("b", bucket)
      .join(broadcast(counters), Seq("j", "b"))
      .groupBy(col("w"), col("n_occurrences"))
      .agg(min(col("c")).as("cms_est"))
      .orderBy(col("n_occurrences").desc, col("w"))
  }

  private val q63Sql = {
    // value of the first 3 hex digits of md5(expr) — the cross-engine
    // bucket function (must match operators.CountMin.bucket exactly)
    def hex3(expr: String): String = (1 to 3).map { d =>
      val mult = math.pow(16, 3 - d).toInt
      s"(instr('0123456789abcdef', substr(md5($expr), $d, 1)) - 1) * $mult"
    }.mkString(" + ")
    val key = "CAST(j AS VARCHAR) || ':' || w"
    s"""WITH toks AS (
       |  SELECT unnest(string_split(text, ' ')) AS w FROM documents),
       |counters AS (
       |  SELECT j, ${hex3(key)} AS b, count(*) AS c
       |  FROM toks CROSS JOIN range($CmsDepth) t(j)
       |  GROUP BY 1, 2),
       |top AS (
       |  SELECT w, count(*) AS n_occurrences FROM toks
       |  GROUP BY w ORDER BY n_occurrences DESC, w LIMIT 10),
       |probe AS (
       |  SELECT w, n_occurrences, j, ${hex3(key)} AS b
       |  FROM top CROSS JOIN range($CmsDepth) t(j))
       |SELECT p.w, p.n_occurrences, min(c.c) AS cms_est
       |FROM probe p JOIN counters c ON c.j = p.j AND c.b = p.b
       |GROUP BY p.w, p.n_occurrences
       |ORDER BY n_occurrences DESC, w""".stripMargin
  }

  // ---- llm_stratified_sample: per-stratum deterministic sampling -----
  // Source re-balancing by RATE (the complement of llm_mix_sources'
  // exact top-K quotas): each source keeps a deterministic hash
  // fraction of its documents — no RNG, no seed, identical on any
  // engine/partitioning/rerun, and any row's membership is decidable
  // in isolation (the property that matters for incremental corpus
  // appends: a re-delivered doc samples identically). Rates ride the
  // md5 hex prefix like q42, but per-stratum: trailing digit 0-4 →
  // keep 4/16, else 8/16. ZERO corpus-wide shuffle: scan + per-row
  // filter + a per-source aggregation.
  private val stratified: Q = (s, dir) => {
    val lastCh = substring(col("source"), -1, 1)
    val thr = when(lastCh.isin("0", "1", "2", "3", "4"), lit("4"))
      .otherwise(lit("8"))
    t(s, dir, "documents")
      .filter(substring(md5(col("doc_id").cast(StringType)), 1, 1) < thr)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_sampled"),
        sum(col("n_chars")).as("sampled_chars"))
      .withColumn("rate_sixteenths",
        when(lastCh.isin("0", "1", "2", "3", "4"), lit(4L))
          .otherwise(lit(8L)))
      .select(col("source"), col("rate_sixteenths"),
        col("n_sampled"), col("sampled_chars"))
      .orderBy(col("source"))
  }

  private val stratifiedSql =
    """SELECT source,
      |  CAST(CASE WHEN substr(source, -1, 1) IN ('0','1','2','3','4')
      |    THEN 4 ELSE 8 END AS BIGINT) AS rate_sixteenths,
      |  count(*) AS n_sampled,
      |  CAST(sum(n_chars) AS BIGINT) AS sampled_chars
      |FROM documents
      |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <
      |  CASE WHEN substr(source, -1, 1) IN ('0','1','2','3','4')
      |    THEN '4' ELSE '8' END
      |GROUP BY source ORDER BY source""".stripMargin

  // ---- llm_weighted_sample: exact weighted reservoir (A-ES) ----------
  // Efraimidis–Spirakis weighted sampling without replacement: each doc
  // draws u ~ Uniform(0,1) and ranks by key = -ln(u)/w (w = n_chars);
  // the k smallest keys form an exact weighted sample (a doc's
  // inclusion odds are proportional to its weight). u is the doc-id
  // md5 32-bit prefix — no RNG, engine/partition/rerun-stable, and
  // per-row decidable, so a re-delivered doc samples identically
  // (the property incremental corpus appends need). Scale shape: scan
  // + per-row scoring + TakeOrdered(k) — no global sort, no shuffle
  // beyond the top-k reduction; ln and the division are per-row
  // libm/IEEE ops both engines execute identically (the same budget
  // llm_token_entropy rides).
  private val weightedSample: Q = (s, dir) => {
    val u = (conv(substring(md5(col("doc_id").cast(StringType)), 1, 8),
      16, 10).cast(DoubleType) + 0.5) / 4294967296.0
    t(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        col("n_chars").cast(LongType).as("weight"),
        (-log(u) / col("n_chars").cast(DoubleType)).as("key_raw"))
      .orderBy(col("key_raw"), col("doc_id"))
      .limit(200)
      .select(col("doc_id"), col("source"), col("weight"),
        round(col("key_raw"), 8).as("sample_key"))
  }

  private val weightedSampleSql =
    """WITH scored AS (
      |  SELECT doc_id, source, CAST(n_chars AS BIGINT) AS weight,
      |    -ln((list_sum([(strpos('0123456789abcdef',
      |            substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1)
      |          * power(16, 8 - i)
      |          for i in generate_series(1, 8)]) + 0.5)
      |        / 4294967296.0)
      |      / CAST(n_chars AS DOUBLE) AS key_raw
      |  FROM documents)
      |SELECT doc_id, source, weight, round(key_raw, 8) AS sample_key
      |FROM scored ORDER BY key_raw, doc_id LIMIT 200""".stripMargin

  // ---- llm_oov_rate: vocabulary-coverage curve ------------------------
  // Tokenizer/vocab budget planning: for candidate vocabulary sizes V,
  // the fraction of corpus TOKEN OCCURRENCES not covered by the top-V
  // words (frequency-ranked, (count DESC, word) tie-break) — the
  // curve a pipeline reads to pick a vocab size before training a
  // tokenizer, and the drift dial that says when a fixed vocab has
  // aged out of its corpus. Served from the session term-stats
  // artifact: the rank window and the conditional sums run over the
  // VOCABULARY (≪ corpus, the zipf_fit class); all four thresholds
  // come out of ONE aggregate pass, exploded to rows driver-free.
  // Exact integers everywhere; the oov rational is halfUp'd.
  private val OovVocabSizes = Seq(100L, 500L, 1000L, 2000L)

  private val oovRate: Q = (s, dir) => {
    val freq = termStats(t(s, dir, "documents"))
      .groupBy(col("w")).agg(sum(col("tf")).as("f"))
    val ranked = freq.select(col("f"),
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("f").desc, col("w"))).as("r"))
    val firstAgg = sum(col("f")).cast(LongType).as("total")
    val restAggs = OovVocabSizes.map(v =>
      sum(when(col("r") <= v, col("f")).otherwise(0L))
        .cast(LongType).as(s"c$v"))
    ranked.agg(firstAgg, restAggs: _*)
      .select(explode(array(OovVocabSizes.map(v => struct(
        lit(v).as("vocab_size"),
        col(s"c$v").as("n_covered_tokens"),
        col("total").as("n_total_tokens"),
        halfUp(col("total") - col(s"c$v"), col("total"), 6)
          .as("oov_rate"))): _*)).as("z"))
      .select(col("z.vocab_size"), col("z.n_covered_tokens"),
        col("z.n_total_tokens"), col("z.oov_rate"))
      .orderBy(col("vocab_size"))
  }

  private val oovRateSql = {
    val cells = OovVocabSizes.map(v =>
      s"""    CAST(sum(CASE WHEN r <= $v THEN f ELSE 0 END) AS BIGINT)
         |      AS c$v""".stripMargin).mkString(",\n")
    val union = OovVocabSizes.zipWithIndex.map { case (v, i) =>
      val cast = if (i == 0) s"CAST($v AS BIGINT)" else s"$v"
      s"""  SELECT $cast AS vocab_size, c$v AS n_covered_tokens,
         |    total AS n_total_tokens,
         |    CAST((2 * (total - c$v) * 1000000 + total)
         |         // (2 * total) AS DOUBLE) / 1000000.0 AS oov_rate
         |  FROM s""".stripMargin
    }.mkString("\n  UNION ALL\n")
    s"""WITH freq AS (
       |  SELECT w, CAST(count(*) AS BIGINT) AS f
       |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  GROUP BY w),
       |ranked AS (
       |  SELECT f, row_number() OVER (ORDER BY f DESC, w) AS r FROM freq),
       |s AS (
       |  SELECT CAST(sum(f) AS BIGINT) AS total,
       |$cells
       |  FROM ranked)
       |SELECT * FROM (
       |$union
       |) ORDER BY vocab_size""".stripMargin
  }

  // ---- llm_zipf_fit: Zipf's-law slope of the corpus frequency curve --
  // Corpus-health diagnostic (a natural corpus fits ln(freq) ≈
  // intercept + slope·ln(rank) with slope ≈ -1; a heavily duplicated
  // or templated corpus bends away). Served from the term-stats
  // artifact — no re-tokenization; the regression runs over the
  // VOCABULARY (≪ corpus). Cross-engine determinism: the ln terms are
  // rounded per row and summed as exact DECIMALs (order-independent),
  // then the closed-form least-squares slope/intercept is a handful of
  // scalar double ops both engines perform identically.
  private val zipfFit: Q = (s, dir) => {
    val freq = termStats(t(s, dir, "documents"))
      .groupBy(col("w")).agg(sum(col("tf")).as("f"))
    val ranked = freq.select(col("w"), col("f"),
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("f").desc, col("w"))).as("r"))
    val terms = ranked.select(
      round(log(col("r").cast(DoubleType)), 9)
        .cast(DecimalType(28, 9)).as("x"),
      round(log(col("f").cast(DoubleType)), 9)
        .cast(DecimalType(28, 9)).as("y"),
      round(log(col("r").cast(DoubleType)) * log(col("r").cast(DoubleType)), 9)
        .cast(DecimalType(28, 9)).as("xx"),
      round(log(col("r").cast(DoubleType)) * log(col("f").cast(DoubleType)), 9)
        .cast(DecimalType(28, 9)).as("xy"))
    val sums = terms.agg(
      count(lit(1)).as("n"),
      sum(col("x")).cast(DoubleType).as("sx"),
      sum(col("y")).cast(DoubleType).as("sy"),
      sum(col("xx")).cast(DoubleType).as("sxx"),
      sum(col("xy")).cast(DoubleType).as("sxy"))
    sums.select(col("n").as("n_terms"),
      round((col("n") * col("sxy") - col("sx") * col("sy")) /
        (col("n") * col("sxx") - col("sx") * col("sx")), 6).as("slope"),
      round((col("sy") - ((col("n") * col("sxy") - col("sx") * col("sy")) /
        (col("n") * col("sxx") - col("sx") * col("sx"))) * col("sx")) /
        col("n"), 6).as("intercept"))
  }

  private val zipfFitSql =
    """WITH freq AS (
      |  SELECT w, count(*) AS f
      |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      |  GROUP BY w),
      |ranked AS (
      |  SELECT w, f,
      |    row_number() OVER (ORDER BY f DESC, w) AS r
      |  FROM freq),
      |terms AS (
      |  SELECT
      |    CAST(round(ln(CAST(r AS DOUBLE)), 9) AS DECIMAL(28,9)) AS x,
      |    CAST(round(ln(CAST(f AS DOUBLE)), 9) AS DECIMAL(28,9)) AS y,
      |    CAST(round(ln(CAST(r AS DOUBLE)) * ln(CAST(r AS DOUBLE)), 9)
      |      AS DECIMAL(28,9)) AS xx,
      |    CAST(round(ln(CAST(r AS DOUBLE)) * ln(CAST(f AS DOUBLE)), 9)
      |      AS DECIMAL(28,9)) AS xy
      |  FROM ranked),
      |sums AS (
      |  SELECT count(*) AS n,
      |    CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
      |    CAST(sum(xx) AS DOUBLE) AS sxx, CAST(sum(xy) AS DOUBLE) AS sxy
      |  FROM terms)
      |SELECT n AS n_terms,
      |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
      |  round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n,
      |    6) AS intercept
      |FROM sums""".stripMargin

  // ---- llm_domain_importance: DSIR-shaped importance weights ---------
  // Data Selection via Importance Resampling (Xie et al. '23), the
  // unigram-LM form: score each document by the mean log-likelihood
  // ratio of a TARGET-domain language model (here the 'src0' slice —
  // a deploy parameterizes the target) against the whole-corpus model,
  // add-one smoothed. Positive = reads like the target domain; the
  // resampling weights a mixing pipeline feeds into llm_weighted_
  // sample. Fourth consumer of the term-stats artifact: the per-word
  // log-ratio table is a |vocab|-row re-aggregation shipped BROADCAST
  // as the model; docs collapse to row-local word counts first, so
  // join fan-out is doc×distinct-words. All model counts are exact
  // integers; the per-doc weighted mean rounds to 4 (the rarity/
  // avg_logp discipline: rounding absorbs summation-order ulps).
  private val domainImportance: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val stats = termStats(docs)
      .groupBy(col("w"))
      .agg(sum(when(col("source") === "src0", col("tf")).otherwise(0L))
          .as("tft"),
        sum(col("tf")).as("tfc"))
    val totals = stats.agg(sum(col("tft")).as("tt"),
      sum(col("tfc")).as("tc"), count(lit(1)).as("v"))
    val lr = stats.crossJoin(broadcast(totals))
      .select(col("w"),
        log(((col("tft") + 1).cast(DoubleType) /
             (col("tt") + col("v")).cast(DoubleType)) /
            ((col("tfc") + 1).cast(DoubleType) /
             (col("tc") + col("v")).cast(DoubleType))).as("lr"))
    docs.select(col("doc_id"), col("source"),
        explode(graft.functions.TokenOps.word_counts(
          split(col("text"), " "))).as(Seq("w", "c")))
      .join(broadcast(lr), Seq("w"))
      .groupBy(col("doc_id"), col("source"))
      .agg(sum(col("c")).cast(LongType).as("n_tokens"),
        round(sum(col("c") * col("lr")) / sum(col("c")), 4)
          .as("importance"))
      .orderBy(col("doc_id"))
  }

  private val domainImportanceSql =
    """WITH words AS (
      |  SELECT doc_id, source, w, count(*) AS c
      |  FROM (SELECT doc_id, source,
      |          unnest(string_split(text, ' ')) AS w
      |        FROM documents)
      |  GROUP BY 1, 2, 3),
      |stats AS (
      |  SELECT w,
      |    CAST(sum(CASE WHEN source = 'src0' THEN c ELSE 0 END)
      |      AS BIGINT) AS tft,
      |    CAST(sum(c) AS BIGINT) AS tfc
      |  FROM words GROUP BY 1),
      |totals AS (
      |  SELECT CAST(sum(tft) AS BIGINT) AS tt,
      |    CAST(sum(tfc) AS BIGINT) AS tc, count(*) AS v
      |  FROM stats),
      |lr AS (
      |  SELECT w,
      |    ln((CAST(tft + 1 AS DOUBLE) / (tt + v)) /
      |       (CAST(tfc + 1 AS DOUBLE) / (tc + v))) AS lr
      |  FROM stats CROSS JOIN totals)
      |SELECT doc_id, source, CAST(sum(c) AS BIGINT) AS n_tokens,
      |  round(sum(c * lr) / sum(c), 4) AS importance
      |FROM words JOIN lr USING (w)
      |GROUP BY doc_id, source ORDER BY doc_id""".stripMargin

  // ---- llm_bm25: retrieval scoring (Robertson/Sparck Jones BM25) -----
  // The ranking operator a curation pipeline uses to score documents
  // against a reference query/corpus (quality classifiers, targeted
  // subset mining, eval-set retrieval). Classic BM25 with k1=1.2,
  // b=0.75 over a fixed query-term set spanning the idf range (one
  // rare term, two common).
  //
  // Scale shape: ONE tokenization pass per query — the doc length
  // rides the tf explode (size(tk) is computed before the explode and
  // grouped with it), and only QUERY-term rows materialize (the isin
  // filter rides the explode — |terms| rows per doc max, not
  // |vocab|). df AND the avgdl normalizer come from the session
  // artifacts: df = Σ sdf over term-stats, avgdl = ΣNU / N with NU
  // from the persisted unigram counts (Σ token counts ≡ Σ doc
  // lengths, and integer sums below 2^53 are EXACT in double, so this
  // equals the oracle's avg(dl) bit-for-bit). The remaining corpus
  // touch beyond the tf pass is a metadata-served count(*). Per-term
  // contributions are cast to DECIMAL before the per-doc sum so the
  // score is independent of Spark's partial-aggregation order, and
  // both engines build the contribution from the IDENTICAL
  // double-expression tree (explicit casts everywhere a BIGINT would
  // meet DuckDB's decimal literals) — so the rounded output hashes
  // exactly (the PMI discipline).
  private val Bm25Terms = Seq("join", "scan", "dup")

  // Session-persisted BM25 index statistics (w, df, n_docs, avgdl)
  // for the query-term set — the index-time model of a retrieval
  // system (document frequencies + the length normalizer), a
  // |terms|-row re-aggregation of the term-stats/unigram artifacts.
  private def bm25StatsFor(documents: DataFrame): DataFrame =
    ArtifactStore.frame("bm25_stats", documents) {
      // count docs WITH text: the oracle's avg(dl) skips null-text
      // rows (string_split(NULL) is NULL), so N must skip them too or
      // avgdl and every idf diverge on corpora with null documents
      val nDf = documents.agg(count(col("text")).as("n_docs"))
      val nuDf = unigramCounts(documents).agg(sum(col("u")).as("nu"))
      val statsDf = nDf.crossJoin(nuDf)
        .select(col("n_docs"),
          (col("nu").cast(DoubleType) / col("n_docs").cast(DoubleType))
            .as("avgdl"))
      globalDf(documents).filter(col("w").isin(Bm25Terms: _*))
        .crossJoin(broadcast(statsDf))
    }

  /** The full (doc_id, bm25) scored frame — shared by llm_bm25 (which
    * top-10s it) and llm_hybrid_rrf (which ranks its top-20 as the
    * lexical leg). Scores are rounded to 4 BEFORE any ranking so both
    * consumers (and both engines) order the identical values. */
  // session-persisted (doc_id, bm25) scored corpus — the same
  // statistics-artifact class as lmScores: THREE consumers (llm_bm25,
  // llm_retrieval_ndcg's top-k, llm_hybrid_rrf's lexical leg) each
  // re-ran the tokenize+score pass per invocation
  private[queries] def bm25ScoredFor(documents: DataFrame): DataFrame =
    ArtifactStore.frame("bm25_scores", documents)(
      bm25ScoredRaw(documents, bm25StatsFor(documents)))

  private def bm25ScoredRaw(documents: DataFrame,
      model: DataFrame): DataFrame = {
    val toks = documents
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
    // the term filter rides INSIDE the array before the explode:
    // Generate emits |query terms ∩ doc| rows per doc, not |tokens|
    val tf = toks.select(col("doc_id"),
        size(col("tk")).cast(LongType).as("dl"),
        explode(filter(col("tk"),
          w => w.isin(Bm25Terms.map(x => x: Any): _*))).as("w"))
      .groupBy(col("doc_id"), col("dl"), col("w"))
      .agg(count(lit(1)).as("tf"))
    val dfD = col("df").cast(DoubleType)
    val idf = log(lit(1.0) +
      (col("n_docs").cast(DoubleType) - dfD + lit(0.5)) / (dfD + lit(0.5)))
    val tfD = col("tf").cast(DoubleType)
    val dlD = col("dl").cast(DoubleType)
    val contrib = tf
      .join(broadcast(model), "w")
      .select(col("doc_id"),
        (idf * (tfD * lit(2.2)) /
          (tfD + lit(1.2) * (lit(0.25) + lit(0.75) * dlD / col("avgdl"))))
          .cast(DecimalType(20, 10)).as("c"))
    contrib.groupBy(col("doc_id"))
      .agg(round(sum(col("c")).cast(DoubleType), 4).as("bm25"))
  }

  private[queries] def bm25For(documents: DataFrame): DataFrame =
    bm25ScoredFor(documents)
      .orderBy(col("bm25").desc, col("doc_id")).limit(10)

  private val bm25: Q = (s, dir) => bm25For(t(s, dir, "documents"))

  /** The BM25 CTE chain up to the scored `bm25s` frame — a NAMED
    * constant both the llm_bm25 and llm_hybrid_rrf oracles
    * interpolate (the ADVICE-r7 discipline: shared SQL is factored,
    * never substring-sliced out of a finished statement). */
  private val bm25CoreCte = {
    val terms = Bm25Terms.map(t0 => s"'$t0'").mkString(", ")
    s"""tok AS (
       |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       |dl AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl FROM tok),
       |stats AS (
       |  SELECT CAST(count(dl) AS BIGINT) AS n_docs, avg(dl) AS avgdl
       |  FROM dl),
       |dft AS (
       |  SELECT w, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
       |        FROM documents)
       |  WHERE w IN ($terms) GROUP BY w),
       |tf AS (
       |  SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
       |        FROM documents)
       |  WHERE w IN ($terms) GROUP BY 1, 2),
       |contrib AS (
       |  SELECT tf.doc_id,
       |    CAST(ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE)
       |        + 0.5) / (CAST(df AS DOUBLE) + 0.5)) *
       |      (CAST(tf AS DOUBLE) * 2.2) /
       |      (CAST(tf AS DOUBLE) + 1.2 *
       |        (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))
       |      AS DECIMAL(20,10)) AS c
       |  FROM tf JOIN dl ON tf.doc_id = dl.doc_id
       |  JOIN dft ON tf.w = dft.w CROSS JOIN stats),
       |bm25s AS (
       |  SELECT doc_id, round(CAST(sum(c) AS DOUBLE), 4) AS bm25
       |  FROM contrib GROUP BY doc_id)""".stripMargin
  }

  private val bm25Sql =
    s"""WITH $bm25CoreCte
       |SELECT doc_id, bm25 FROM bm25s
       |ORDER BY bm25 DESC, doc_id LIMIT 10""".stripMargin

  // ---- llm_retrieval_ndcg: retrieval-quality eval (nDCG/MRR/P@k) -----
  // The eval leg of the retrieval family (round 13): grade the BM25
  // ranking against a graded relevance label — nDCG@k, MRR@k and
  // precision@k at k ∈ {5, 10} — the metrics a retrieval/eval-set
  // pipeline reports before shipping a ranker. Relevance is
  // DETERMINISTIC and data-derived: rel(doc) = how many of the three
  // query terms the doc contains (0..3, a graded label both engines
  // compute from the same tokens).
  //
  // Scale shape: the ranking is bm25ScoredFor's top-10 (TakeOrdered —
  // distributed heap, no global sort materialization); relevance is
  // ONE corpus pass (three array_contains over the token split); the
  // only windows run over the 10-row top-k and the ≤3-row grade
  // histogram (the q100 bounded-by-k class). IDCG needs no ideal
  // SORT: the ideal ranking's grade at each position falls out of the
  // grade histogram's cumulative counts, expanded to ≤k position rows
  // via `sequence` (guarded: Spark's sequence(a, b) with a > b infers
  // step −1 — the bpePairs lesson — so empty spans are filtered
  // before the expansion).
  //
  // Determinism: scores are rounded to 4 BEFORE ranking (the
  // bm25ScoredFor contract) and the order carries the doc_id
  // tiebreak; 2^rel − 1 is exact integer (shiftleft); each position's
  // contribution (integer / log2(small int)) is cast to
  // DECIMAL(20, 12) before summing so partial-aggregation order
  // cannot move a bit; the final ndcg division + round(6) is one
  // mirrored double expression (the PMI discipline).
  private val retrievalNdcg: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val rel = docs.select(col("doc_id"),
      Bm25Terms.map(t0 =>
        when(array_contains(split(col("text"), " "), t0), 1)
          .otherwise(0)).reduce(_ + _).as("rel"))
    val topk = bm25ScoredFor(docs)
      .orderBy(col("bm25").desc, col("doc_id")).limit(10)
    val ks = s.range(1, 3).select((col("id") * 5).as("k")) // k = 5, 10
    // 2^rel − 1 in exact integer arithmetic (rel ≤ 3); shiftleft's
    // Scala binding wants a literal shift, so the SQL form is used
    val gain = (expr("shiftleft(1L, rel)") - 1L).cast(DoubleType)
    val ranked = topk.join(rel, Seq("doc_id"))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("bm25").desc, col("doc_id"))))
    val atK = ranked.crossJoin(broadcast(ks))
      .filter(col("rank") <= col("k"))
      .groupBy(col("k"))
      .agg(
        sum((gain / log2(col("rank") + 1))
          .cast(DecimalType(20, 12))).as("dcg"),
        min(when(col("rel") >= 1, col("rank"))).as("first_rel"),
        sum(when(col("rel") >= 1, 1L).otherwise(0L)).as("n_rel"))
    // ideal DCG from the grade histogram: grades fill positions
    // 1..k in rel-descending order; each grade's positions are the
    // cumulative span (prev, min(cum, k)]
    val hist = rel.filter(col("rel") >= 1)
      .groupBy(col("rel")).agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(
        Window.orderBy(col("rel").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("prev", col("cum") - col("c"))
    val idcg = hist.crossJoin(broadcast(ks))
      .filter(col("prev") < least(col("cum"), col("k")))
      .select(col("k"), col("rel"),
        explode(sequence(col("prev") + 1, least(col("cum"), col("k"))))
          .as("pos"))
      .groupBy(col("k"))
      .agg(sum((gain / log2(col("pos") + 1))
        .cast(DecimalType(20, 12))).as("idcg"))
    atK.join(idcg, Seq("k"), "left")
      .select(col("k"),
        round(when(coalesce(col("idcg"), lit(0)) === 0, lit(0.0))
          .otherwise(col("dcg").cast(DoubleType) /
            col("idcg").cast(DoubleType)), 6).as("ndcg"),
        round(coalesce(lit(1.0) / col("first_rel"), lit(0.0)), 6)
          .as("mrr"),
        round(col("n_rel").cast(DoubleType) / col("k"), 6).as("p_at_k"))
      .orderBy(col("k"))
  }

  private val retrievalNdcgSql = {
    val relExpr = Bm25Terms.map(t0 =>
      s"(CASE WHEN list_contains(string_split(text, ' '), '$t0') " +
        "THEN 1 ELSE 0 END)").mkString(" + ")
    s"""WITH $bm25CoreCte,
       |relv AS (
       |  SELECT doc_id, $relExpr AS rel FROM documents),
       |topk AS (
       |  SELECT doc_id, bm25 FROM bm25s
       |  ORDER BY bm25 DESC, doc_id LIMIT 10),
       |rk AS (
       |  SELECT t.doc_id, r.rel,
       |    row_number() OVER (ORDER BY t.bm25 DESC, t.doc_id) AS rank
       |  FROM topk t JOIN relv r ON t.doc_id = r.doc_id),
       |ks AS (SELECT unnest([5, 10]) AS k),
       |atk AS (
       |  SELECT k,
       |    sum(CAST(CAST((1 << rel) - 1 AS DOUBLE) / log2(rank + 1)
       |        AS DECIMAL(20,12))) AS dcg,
       |    min(CASE WHEN rel >= 1 THEN rank END) AS first_rel,
       |    CAST(sum(CASE WHEN rel >= 1 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_rel
       |  FROM rk, ks WHERE rank <= k GROUP BY k),
       |hist AS (
       |  SELECT rel, count(*) AS c FROM relv WHERE rel >= 1 GROUP BY rel),
       |cum AS (
       |  SELECT rel, c,
       |    sum(c) OVER (ORDER BY rel DESC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM hist),
       |ipos AS (
       |  SELECT k, rel,
       |    unnest(generate_series(CAST(cum - c + 1 AS BIGINT),
       |      CAST(least(cum, k) AS BIGINT))) AS pos
       |  FROM cum, ks WHERE cum - c < least(cum, k)),
       |idcg AS (
       |  SELECT k,
       |    sum(CAST(CAST((1 << rel) - 1 AS DOUBLE) / log2(pos + 1)
       |        AS DECIMAL(20,12))) AS idcg
       |  FROM ipos GROUP BY k)
       |SELECT atk.k,
       |  round(CASE WHEN COALESCE(idcg.idcg, 0) = 0 THEN 0.0
       |    ELSE CAST(atk.dcg AS DOUBLE) / CAST(idcg.idcg AS DOUBLE)
       |    END, 6) AS ndcg,
       |  round(COALESCE(1.0 / first_rel, 0.0), 6) AS mrr,
       |  round(CAST(n_rel AS DOUBLE) / atk.k, 6) AS p_at_k
       |FROM atk LEFT JOIN idcg ON atk.k = idcg.k
       |ORDER BY atk.k""".stripMargin
  }

  // ---- llm_bpe_pairs: the first BPE merge decision --------------------
  // Byte-pair-encoding tokenizer training's inner loop (Sennrich '16):
  // count adjacent SYMBOL pairs across the corpus (initially
  // characters), weighted by word frequency — the top pair is the
  // first merge. Reported: the top-20 candidate merges.
  //
  // Scale shape — the reason real BPE trainers scale at all: the pair
  // census runs over the WORD-COUNT TABLE (the session unigram
  // artifact, vocabulary-sized), never the corpus; each vocab word
  // explodes into len−1 weighted pairs, so the exchange carries
  // Σ|w| over the VOCABULARY. Counts are exact integer sums; no
  // doubles anywhere.
  //
  // The length≥2 filter is load-bearing on the engine side:
  // sequence(1, 0) in Spark INFERS step −1 and yields [1, 0] — a
  // single-char word would fabricate pairs without it (DuckDB's
  // generate_series(1, 0) is empty, so the filter is belt-and-braces
  // there).
  private val bpePairs: Q = (s, dir) =>
    bpePairsFor(t(s, dir, "documents"))

  private[queries] def bpePairsFor(documents: DataFrame): DataFrame = {
    val uni = unigramCounts(documents)
    uni
      .filter(length(col("w")) >= 2)
      .select(col("u"), explode(transform(
        sequence(lit(1), length(col("w")) - 1),
        i => col("w").substr(i, lit(2)))).as("pair"))
      .groupBy(substring(col("pair"), 1, 1).as("left_sym"),
        substring(col("pair"), 2, 1).as("right_sym"))
      .agg(sum(col("u")).cast(LongType).as("cnt"))
      .orderBy(col("cnt").desc, col("left_sym"), col("right_sym"))
      .limit(20)
  }

  private val bpePairsSql =
    """WITH uni AS (
      |  SELECT w, CAST(count(*) AS BIGINT) AS u
      |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      |  GROUP BY w),
      |pr AS (
      |  SELECT substring(w, CAST(i AS INTEGER), 2) AS pair, u
      |  FROM uni, unnest(generate_series(1, length(w) - 1)) AS t(i)
      |  WHERE length(w) >= 2)
      |SELECT substring(pair, 1, 1) AS left_sym,
      |  substring(pair, 2, 1) AS right_sym,
      |  CAST(sum(u) AS BIGINT) AS cnt
      |FROM pr GROUP BY 1, 2
      |ORDER BY cnt DESC, left_sym, right_sym LIMIT 20""".stripMargin

  // ---- llm_bpe_train / llm_bpe_apply: full BPE training loop ---------
  // The complete Sennrich '16 tokenizer-training loop, not just the
  // first merge decision (llm_bpe_pairs is round 1's census):
  // `BpeMerges` rounds of (pair census over the VOCABULARY → argmax →
  // apply the merge to every vocab word), then the learned merge
  // table applied back to the corpus as a per-source token census.
  //
  // Scale shape — the reason real BPE trainers scale at all: every
  // round operates on the session unigram ARTIFACT (|vocabulary|
  // rows, built from one corpus tokenization pass and persisted), so
  // training cost is rounds × O(Σ|w| over the VOCABULARY) with the
  // corpus never re-read. Each round is one tiny shuffle (pair
  // alphabet) + a TakeOrdered(1) argmax — the only driver residency
  // is the 1-row argmax per round, the bounded one-row-meta class.
  // The apply side is vocabulary-sized too: distinct words get their
  // post-merge symbol counts, then one broadcast-sized join against
  // the per-(source, word) term-stats artifact — the corpus is
  // never re-scanned, let alone re-tokenized, at any stage.
  //
  // Determinism: counts are exact integer sums; the argmax tie-break
  // is (cnt DESC, left, right) on both engines; merges REPLACE
  // left-to-right non-overlapping, which is exactly greedy BPE when
  // each symbol is individually bracketed (`<t><a><b>` — a shared
  // delimiter like a space would let one match consume the boundary
  // of the next: replace(' b a b a ', ' b a ') misses the second
  // merge, the classic space-join bug). Java String.replace and
  // DuckDB replace() share the scan-original-left-to-right contract
  // (verified: 'xaxaxa'/'xaxa' → 'yxa' on both). Bracket chars can
  // never collide with symbol text because training filters the
  // vocabulary to purely alphabetic words.
  private val BpeMerges = 8

  /** Purely-alphabetic word test. \A..\z anchors, not ^..$: Java's $
    * also matches BEFORE a final line terminator, so a word carrying a
    * trailing newline would enter Spark's vocabulary while DuckDB's
    * regexp_full_match excluded it — a cross-engine vocab divergence
    * (round-13 review). */
  private def bpeAlpha(c: org.apache.spark.sql.Column) =
    c.rlike("\\A[a-z]+\\z")

  /** Fold the merge table, in order, over a frame's bracketed `b`. */
  private def bpeFold(bracketed: DataFrame,
      merges: Seq[(String, String)]): DataFrame =
    merges.foldLeft(bracketed) { case (v, (l, r)) =>
      v.withColumn("b",
        replace(col("b"), lit(s"<$l><$r>"), lit(s"<$l$r>")))
    }

  /** (w, n_sym): post-merge symbol count per word — the ONE shared
    * merge-application site for every census consumer (the batch
    * apply key and the BpeStream maintainer must never drift apart on
    * bracketing or replace semantics). Each symbol contributes exactly
    * one '>', so n_sym is a length difference. */
  private[queries] def bpeSymCounts(words: DataFrame,
      merges: Seq[(String, String)]): DataFrame =
    bpeFold(words.select(col("w"),
        regexp_replace(col("w"), "(.)", "<$1>").as("b")), merges)
      .select(col("w"),
        (length(col("b")) - length(replace(col("b"), lit(">"), lit(""))))
          .cast(LongType).as("n_sym"))

  /** Alpha-word vocab as (w, b = per-symbol-bracketed form, u) after
    * applying `merges` in order. */
  private def bpeVocabAfter(uni: DataFrame,
      merges: Seq[(String, String)]): DataFrame =
    bpeFold(uni.filter(bpeAlpha(col("w")))
      .select(col("w"), regexp_replace(col("w"), "(.)", "<$1>").as("b"),
        col("u")), merges)

  /** Weighted adjacent-pair census over a bracketed vocab frame. */
  private def bpePairCensus(vocab: DataFrame): DataFrame =
    vocab.select(col("u"),
        split(col("b").substr(lit(2), length(col("b")) - 2), "><").as("tk"))
      .filter(size(col("tk")) >= 2)
      .select(col("u"), explode(arrays_zip(
        slice(col("tk"), lit(1), size(col("tk")) - 1),
        slice(col("tk"), lit(2), size(col("tk")) - 1))).as("z"))
      .groupBy(col("z").getField("0").as("left_sym"),
        col("z").getField("1").as("right_sym"))
      .agg(sum(col("u")).cast(LongType).as("cnt"))

  /** The training loop over an explicit unigram frame (w, u). */
  private def bpeTrainLoop(uni: DataFrame,
      n: Int): Seq[(String, String, Long)] = {
    val acc = scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
    var exhausted = false
    for (_ <- 1 to n if !exhausted) {
      val vocab = bpeVocabAfter(uni, acc.toSeq.map(m => (m._1, m._2)))
      val top = bpePairCensus(vocab)
        .orderBy(col("cnt").desc, col("left_sym"), col("right_sym"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else acc += ((top(0).getString(0), top(0).getString(1),
        top(0).getLong(2)))
    }
    acc.toSeq
  }

  /** The learned merge table — session build-once/serve-many (both
    * keys and any future tokenizer consumer share one training run).
    * Stops early if the vocabulary fully merges before `n` rounds. */
  private[queries] def bpeMergesFor(documents: DataFrame,
      n: Int): Seq[(String, String, Long)] =
    ArtifactStore.value("bpe_merges", documents, n)(
      bpeTrainLoop(unigramCounts(documents), n))()

  /** UNCACHED training from a one-off frame (the stream maintainer's
    * creation batch — its plan never recurs, so the session artifact
    * caches must not persist it; the LmScoreStream discipline). */
  private[graft] def bpeMergesUncached(documents: DataFrame,
      n: Int): Seq[(String, String, Long)] =
    bpeTrainLoop(
      documents.select(explode(split(col("text"), " ")).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("u")), n)

  /** Per-doc token census under a FIXED merge table — the shared
    * scorer behind the batch apply key's per-source census and the
    * [[graft.streaming.BpeStream]] maintainer: (doc_id, n_words,
    * n_chars, n_tokens) over the doc's alphabetic words. Docs with no
    * alphabetic word (or null text) emit no row — the scoreDocsWith
    * contract; the maintainer tracks them through its seen store. */
  private[graft] def bpeTokenCountsWith(docs: DataFrame,
      merges: Seq[(String, String)]): DataFrame = {
    val words = docs.select(col("doc_id"),
        explode(split(col("text"), " ")).as("w"))
      .filter(bpeAlpha(col("w")))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
    val tok = bpeSymCounts(words.select(col("w")).distinct(), merges)
    words.join(tok, Seq("w"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).cast(LongType).as("n_words"),
        sum(col("c") * length(col("w"))).cast(LongType).as("n_chars"),
        sum(col("c") * col("n_sym")).cast(LongType).as("n_tokens"))
  }

  private val bpeTrain: Q = (s, dir) => {
    val ms = bpeMergesFor(t(s, dir, "documents"), BpeMerges)
    import s.implicits._
    ms.zipWithIndex
      .map { case ((l, r, c), i) => (i + 1L, l, r, c) }
      .toDF("merge_round", "left_sym", "right_sym", "cnt")
      .orderBy(col("merge_round"))
  }

  /** The per-round oracle chain: p/m/v CTEs mirroring one census +
    * argmax + merge application round each. */
  private def bpeRoundSqlBlocks(n: Int): String = (1 to n).map { r =>
    s"""p$r AS (
       |  SELECT tk[i] AS l, tk[i + 1] AS r, CAST(sum(u) AS BIGINT) AS cnt
       |  FROM (SELECT string_split(substring(b, 2, length(b) - 2), '><')
       |          AS tk, u FROM v${r - 1}) s,
       |    unnest(generate_series(1, len(tk) - 1)) AS t(i)
       |  GROUP BY 1, 2),
       |m$r AS (SELECT l, r, cnt FROM p$r ORDER BY cnt DESC, l, r LIMIT 1),
       |v$r AS (
       |  -- LEFT JOIN ON TRUE, not CROSS JOIN: when training exhausts
       |  -- early m$r is EMPTY, and a cross join would annihilate the
       |  -- vocabulary (the apply census would read zero rows while
       |  -- the engine prices the full corpus — round-13 review)
       |  SELECT w, CASE WHEN l IS NULL THEN b
       |    ELSE replace(b, '<' || l || '><' || r || '>',
       |      '<' || l || r || '>') END AS b, u
       |  FROM v${r - 1} LEFT JOIN m$r ON TRUE)""".stripMargin
  }.mkString(",\n")

  private val bpeBaseSql =
    """uni AS (
      |  SELECT w, CAST(count(*) AS BIGINT) AS u
      |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      |  GROUP BY w),
      |v0 AS (
      |  SELECT w, regexp_replace(w, '(.)', '<\1>', 'g') AS b, u
      |  FROM uni WHERE regexp_full_match(w, '[a-z]+'))""".stripMargin

  private val bpeTrainSql = {
    val union = (1 to BpeMerges).map { r =>
      val cast = if (r == 1) "CAST(1 AS BIGINT)" else s"$r"
      s"SELECT $cast AS merge_round, l AS left_sym, r AS right_sym, cnt FROM m$r"
    }.mkString("\nUNION ALL ")
    s"""WITH $bpeBaseSql,
       |${bpeRoundSqlBlocks(BpeMerges)}
       |SELECT * FROM (
       |$union
       |) ORDER BY merge_round""".stripMargin
  }

  // Apply: per-source token census under the learned merges. The
  // chars-per-token compression dial is the tokenizer-fertility
  // metric a pretraining pipeline tracks per source; the rational is
  // exact-integer halfUp'd (the documented cross-engine round(double)
  // tie class). Non-alpha words are outside the trained vocabulary
  // and are excluded from the census on both engines (the wt join).
  private val bpeApply: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val ms = bpeMergesFor(docs, BpeMerges).map(m => (m._1, m._2))
    val wordTok = bpeSymCounts(
      unigramCounts(docs).filter(bpeAlpha(col("w"))).select(col("w")), ms)
    termStats(docs)
      .join(wordTok, Seq("w"))
      .groupBy(col("source"))
      .agg(sum(col("tf")).cast(LongType).as("n_words"),
        sum(col("tf") * length(col("w"))).cast(LongType).as("n_chars"),
        sum(col("tf") * col("n_sym")).cast(LongType).as("n_tokens"))
      .select(col("source"), col("n_words"), col("n_chars"),
        col("n_tokens"),
        halfUp(col("n_chars"), col("n_tokens"), 4).as("chars_per_token"))
      .orderBy(col("source"))
  }

  private val bpeApplySql =
    s"""WITH $bpeBaseSql,
       |${bpeRoundSqlBlocks(BpeMerges)},
       |st AS (
       |  SELECT source, w, CAST(count(*) AS BIGINT) AS tf
       |  FROM (SELECT source, unnest(string_split(text, ' ')) AS w
       |        FROM documents)
       |  GROUP BY 1, 2),
       |wt AS (SELECT w, length(b) - length(replace(b, '>', '')) AS n_sym
       |       FROM v$BpeMerges)
       |SELECT source,
       |  CAST(sum(tf) AS BIGINT) AS n_words,
       |  CAST(sum(tf * length(w)) AS BIGINT) AS n_chars,
       |  CAST(sum(tf * n_sym) AS BIGINT) AS n_tokens,
       |  CAST((2 * sum(tf * length(w)) * 10000 + sum(tf * n_sym))
       |       // (2 * sum(tf * n_sym)) AS DOUBLE) / 10000.0
       |    AS chars_per_token
       |FROM st JOIN wt USING (w)
       |GROUP BY source ORDER BY source""".stripMargin

  // ---- llm_hybrid_rrf: reciprocal-rank-fusion hybrid retrieval -------
  // The fusion step of a modern two-leg retrieval stack (lexical BM25
  // + dense cosine, Cormack et al. '09): each leg contributes
  // 1/(K + rank) for its top-`RrfDepth` hits, K = 60; documents found
  // by both legs rise above documents found by one. Doc 0 is the
  // query document (its embedding is the q29 query vector), so both
  // legs exclude it.
  //
  // Scale shape: each leg ends in a distributed TakeOrdered top-20 —
  // the only window in the plan ranks a 20-row frame (bounded by
  // RrfDepth forever, the q89/q100 justification); the fusion is a
  // full-outer join of two ≤20-row frames. The lexical leg rides the
  // session BM25 index stats (bm25ScoredFor), the dense leg the same
  // broadcast-query dot product as q29. Determinism: both legs rank
  // scores ALREADY rounded to 4 with the doc id as final tiebreak;
  // rrf = sum of 1/(60+rank) — IEEE divisions of exact small
  // integers, identical on both engines, one final round(6).
  private val RrfK = 60
  private val RrfDepth = 20

  private val hybridRrf: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val emb = t(s, dir, "embeddings")
    val lexTop = bm25ScoredFor(docs)
      .filter(col("doc_id") =!= 0)
      .orderBy(col("bm25").desc, col("doc_id")).limit(RrfDepth)
    val lex = lexTop
      .withColumn("lex_rank", row_number().over(
        Window.orderBy(col("bm25").desc, col("doc_id"))).cast(LongType))
      .select(col("doc_id"), col("lex_rank"))
    // the dense leg IS q29's scored frame (Llm.cosineVsQueryFor —
    // the single cosine expression tree both consumers share)
    val vecTop = Llm.cosineVsQueryFor(emb)
      .select(col("vec_id").as("doc_id"), col("cos"))
      .orderBy(col("cos").desc, col("doc_id")).limit(RrfDepth)
    val vec = vecTop
      .withColumn("vec_rank", row_number().over(
        Window.orderBy(col("cos").desc, col("doc_id"))).cast(LongType))
      .select(col("doc_id"), col("vec_rank"))
    lex.join(vec, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("lex_rank"), col("vec_rank"),
        round(
          coalesce(lit(1.0) / (lit(RrfK) + col("lex_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(RrfK) + col("vec_rank")), lit(0.0)),
          6).as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id")).limit(10)
  }

  private val hybridRrfSql =
    s"""WITH $bm25CoreCte,
       |lexall AS (
       |  SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id)
       |    AS lex_rank
       |  FROM bm25s WHERE doc_id <> 0),
       |lex AS (SELECT doc_id, CAST(lex_rank AS BIGINT) AS lex_rank
       |        FROM lexall WHERE lex_rank <= $RrfDepth),
       |${Llm.cosineVsQueryCte},
       |vecall AS (
       |  SELECT vec_id AS doc_id,
       |    row_number() OVER (ORDER BY cos DESC, vec_id) AS vec_rank
       |  FROM cosx),
       |vec AS (SELECT doc_id, CAST(vec_rank AS BIGINT) AS vec_rank
       |        FROM vecall WHERE vec_rank <= $RrfDepth)
       |SELECT doc_id, lex_rank, vec_rank,
       |  round(COALESCE(CAST(1.0 AS DOUBLE) / ($RrfK + lex_rank), 0.0) +
       |        COALESCE(CAST(1.0 AS DOUBLE) / ($RrfK + vec_rank), 0.0),
       |    6) AS rrf
       |FROM lex FULL JOIN vec USING (doc_id)
       |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin

  // ---- llm_quality_buckets: CCNet-style perplexity tiers -------------
  // The head/middle/tail split a curation pipeline applies before
  // mixing (CCNet, Wenzek et al. '20): documents bucketed by their
  // corpus-LM score quartiles — head = most fluent quarter
  // (avg_logp ≥ q75), tail = most surprising quarter (< q25), middle
  // between — counted per source (the mixing table).
  //
  // Scale shape: scores come from the broadcast-model LM scan (one
  // per-row pass over the corpus, artifacts session-persisted); the
  // two quartile cutoffs are one aggregate broadcast back as a 1-row
  // frame; tier assignment is per-row. No global sort, no window —
  // the ntile formulation would single-partition the corpus.
  //
  // Cross-engine determinism (round-11): the cutoffs are WITNESS
  // values — quantile_disc semantics, the stored score at 1-based
  // rank max(ceil(p·n), 1) — so no interpolation convention exists to
  // vary by engine version (the r10 form used quantile_cont cutoffs,
  // safe only under the fixed-formula argument). The witness is
  // derived from the SCORE HISTOGRAM: avg_logp is round(…,4)-valued,
  // so distinct scores are a bounded grid alphabet; the cumulative
  // window runs over that histogram frame (the q89 catalog-bounded
  // justification), never the corpus, and the exact integer rank is
  // k = (p_num·n + p_den − 1) div p_den.
  // session-persisted LM-score histogram (round-14): the quartile
  // cutoffs derive from the (avg_logp, m) histogram — a bounded-grid
  // frame (scores are round(…,4)-valued), exactly the q80 valueCells
  // class — yet each invocation re-aggregated the corpus-sized score
  // artifact to rebuild it.

  private val qualityBuckets: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val scored = lmScoresFor(docs)
      .select(col("doc_id"), col("avg_logp"))
    val hist = ArtifactStore.frame("lm_hist", docs)(
      scored.groupBy(col("avg_logp")).agg(count(lit(1)).as("m")))
    val wc = Window.orderBy(col("avg_logp"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist.select(col("avg_logp"),
      sum(col("m")).over(wc).as("cum"),
      sum(col("m")).over(Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)).as("n"))
    val cuts = cum.agg(
      min(when(col("cum") >= expr("(n + 3) DIV 4"), col("avg_logp")))
        .as("q25"),
      min(when(col("cum") >= expr("(3 * n + 3) DIV 4"), col("avg_logp")))
        .as("q75"))
    scored
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .crossJoin(broadcast(cuts))
      .select(col("source"),
        when(col("avg_logp") >= col("q75"), lit("head"))
          .when(col("avg_logp") < col("q25"), lit("tail"))
          .otherwise(lit("middle")).as("tier"))
      .groupBy(col("source"), col("tier"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("source"), col("tier"))
  }

  private val qualityBucketsSql = {
    // reuse the bigram-LM CTE chain (tok/uni/v/bi/bc) as the score
    // source — identical derivation => identical rounded avg_logp,
    // already hash-pinned by the llm_bigram_lm oracle
    val cte = bigramLmSql
      .substring(0, bigramLmSql.lastIndexOf("SELECT doc_id")).trim
      .stripPrefix("WITH ")
    s"""WITH $cte,
       |scores AS (
       |  SELECT doc_id, round(avg(ln((b + 1.0) / (u + v))), 4) AS avg_logp
       |  FROM bi JOIN bc USING (w1, w2) JOIN uni ON bi.w1 = uni.w
       |  CROSS JOIN v GROUP BY doc_id),
       |cuts AS (SELECT quantile_disc(avg_logp, 0.25) AS q25,
       |  quantile_disc(avg_logp, 0.75) AS q75 FROM scores)
       |SELECT d.source,
       |  CASE WHEN s.avg_logp >= q75 THEN 'head'
       |       WHEN s.avg_logp < q25 THEN 'tail'
       |       ELSE 'middle' END AS tier,
       |  count(*) AS n_docs
       |FROM scores s JOIN documents d USING (doc_id) CROSS JOIN cuts
       |GROUP BY 1, 2 ORDER BY source, tier""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "llm_quality_buckets" -> qualityBuckets,
    "llm_bm25" -> bm25,
    "llm_retrieval_ndcg" -> retrievalNdcg,
    "llm_hybrid_rrf" -> hybridRrf,
    "llm_bpe_pairs" -> bpePairs,
    "llm_bpe_train" -> bpeTrain,
    "llm_bpe_apply" -> bpeApply,
    "llm_bigram_lm" -> bigramLm,
    "llm_pmi_bigrams" -> pmi,
    "llm_stratified_sample" -> stratified,
    "llm_weighted_sample" -> weightedSample,
    "llm_zipf_fit" -> zipfFit,
    "llm_oov_rate" -> oovRate,
    "llm_domain_importance" -> domainImportance,
    "q58_bloom_join" -> q58,
    "q59_heavy_hitters" -> q59,
    "q63_count_min" -> q63,
    "llm_contamination" -> contamination,
    "llm_contamination_apply" -> contaminationApply,
    "llm_mix_sources" -> mix,
    "llm_vocab_topk" -> vocab,
    "llm_hash_embed" -> hashEmbed,
    "llm_keywords" -> keywords,
    "llm_ttr" -> ttr,
    "llm_redact_terms" -> redact,
    "llm_tfidf" -> tfidf,
    "llm_rarity" -> rarity,
    "llm_ngram_novelty" -> novelty,
    "q47_date_funcs" -> q47,
    "q48_edit_distance" -> q48,
    "q77_jaro_winkler" -> q77,
    "q49_salted_join" -> q49,
    "q50_interval_overlap" -> q50,
    "q51_funnel" -> q51,
  )

  val oracles: Map[String, String] = Map(
    // avg of identical per-bigram doubles; rounded to 4 decimals to
    // absorb summation-order differences between engines
    "llm_bigram_lm" -> bigramLmSql,
    // identical double-expression tree + decimal per-doc sum -> the
    // rounded BM25 hashes exactly (the PMI discipline)
    "llm_bm25" -> bm25Sql,
    "llm_retrieval_ndcg" -> retrievalNdcgSql,
    "llm_hybrid_rrf" -> hybridRrfSql,
    "llm_bpe_pairs" -> bpePairsSql,
    // exact integer pair counts; the argmax tie-break (cnt DESC, l, r)
    // and the bracketed-replace merge are identical on both engines
    "llm_bpe_train" -> bpeTrainSql,
    // integer token censuses; the chars-per-token rational is halfUp'd
    "llm_bpe_apply" -> bpeApplySql,
    "llm_quality_buckets" -> qualityBucketsSql,
    "llm_pmi_bigrams" -> pmiSql,
    "llm_stratified_sample" -> stratifiedSql,
    "llm_weighted_sample" -> weightedSampleSql,
    "llm_zipf_fit" -> zipfFitSql,
    // exact token sums; the oov rational is halfUp'd
    "llm_oov_rate" -> oovRateSql,
    "llm_domain_importance" -> domainImportanceSql,
    "q58_bloom_join" -> q58Sql,
    // sketch estimates are merge-order-dependent; the BOUND is
    // deterministic, so the verdict column is the oracle surface
    "q59_heavy_hitters" -> q59Sql,
    // CMS counters are order-independent SUMS: the estimate itself is
    // deterministic and sits under the exact oracle hash
    "q63_count_min" -> q63Sql,
    "llm_contamination" -> contaminationSql,
    "llm_contamination_apply" -> contaminationApplySql,
    "llm_mix_sources" -> mixSql,
    "llm_vocab_topk" -> vocabSql,
    // integer hashed weights: exact on both engines by construction
    "llm_hash_embed" -> hashEmbedSql,
    "llm_keywords" -> keywordsSql,
    // per-doc TTRs ride a 9-decimal DECIMAL sum (order-independent);
    // the hapax tail is integer arithmetic off term frequencies
    "llm_ttr" -> ttrSql,
    "llm_redact_terms" -> redactSql,
    "llm_tfidf" -> tfidfSql,
    // c·idf / 0-1 fractions: identical per-(doc,word) products, round
    // absorbs summation order (the avg_logp discipline)
    "llm_rarity" -> raritySql,
    "llm_ngram_novelty" -> noveltySql,
    "q47_date_funcs" -> q47Sql,
    "q48_edit_distance" -> q48Sql,
    "q77_jaro_winkler" -> q77Sql,
    "q49_salted_join" -> q49Sql,
    "q50_interval_overlap" -> q50Sql,
    "q51_funnel" -> q51Sql,
  )
}
