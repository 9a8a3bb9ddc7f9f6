package graft.queries

import graft.{Canon, Tables}
import graft.operators.ArtifactStore
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** LLM-training-data pipeline operators (SURVEY.md §2.3 Q27–Q30, §2.4):
  * exact + fuzzy dedup (n-gram Jaccard, MinHash+LSH, SimHash),
  * embedding similarity search, text analysis (lang-id heuristic,
  * quality scoring, token counts, fingerprinting), and the multimodal
  * decode-stub plumbing.
  *
  * Scale posture (100 TB): nothing here is quadratic in corpus size
  * except the declared brute-force similarity baselines (oracle
  * checks); the scale paths are the shingle-join Jaccard (sparse join
  * on shared shingles) and MinHash+LSH banding (candidate generation is
  * a hash-bucket self-join). Embedding ops use sequential array folds
  * (deterministic FP order) and broadcast the query vector.
  */
object Llm {
  import Canon._
  type Q = (SparkSession, String) => DataFrame
  private def t(s: SparkSession, dir: String, n: String) = Tables(s, dir, n)

  // ---- shared pieces -------------------------------------------------

  /** Default shingle document-frequency cap for the Jaccard family:
    * a shingle appearing in c docs contributes c² rows to the pair
    * join, so boilerplate shingles are pruned before it. 64 is a
    * strict superset of every fixture shingle (max df: 7 at sf0.01,
    * 25 at sf0.1), so fixture output is bit-identical to uncapped
    * exact Jaccard while any one shuffle key's fan-out is bounded by
    * maxDf² at web scale. */
  private[queries] val JaccardMaxDf = 64

  /** Sequential-fold double dot product (codegen'd Catalyst expr). */
  private def dot(a: Column, b: Column): Column =
    graft.functions.VectorOps.dot_product(a, b)

  private def norm2(a: Column): Column = dot(a, a)

  /** Jaccard (distinct word-3-gram shingles) for all doc pairs sharing
    * at least one surviving shingle; the sparse-join formulation — cost
    * scales with shared-shingle pairs, not corpus².
    *
    * Shingles with document frequency > maxDf are pruned before pair
    * generation (the VERDICT r1 #3 cap): a hot shingle in c docs
    * yields c² pairs and carries no discriminative signal, so the cap
    * bounds any one posting list's fan-out at maxDf² — the classic
    * posting-list prune, here literally a size filter on the list.
    * Intersections are counted over the surviving (discriminative)
    * shingles; set SIZES are exact full-universe counts, carried on
    * every exploded row (`n = size(sh)` computed in-row before the
    * explode) so there is NO per-doc sizes aggregation or join — the
    * pair groupBy reconstructs them from its grouping keys. On any
    * corpus where no shingle exceeds maxDf (all fixtures) the output
    * is bit-identical to uncapped exact Jaccard.
    *
    * Formulation history: r1-r3 shipped the shingle SELF-JOIN (with a
    * df-cap window and a localCheckpoint shared by both sides) after
    * an A/B where posting lists lost — but that variant expanded
    * combinations with nested INTERPRETED HOF lambdas. r4 re-ran the
    * A/B with the expansion as a compiled Dataset.flatMap over the
    * collected (doc_id, n) lists: two exchanges total (posting groupBy
    * + pair groupBy, no window sort, no join) and ~30-40% faster at
    * sf0.1 (1.0-1.3 s vs 1.6-1.9 s).
    */
  private[queries] def pairStatsFor(docs: DataFrame,
      maxDf: Int = JaccardMaxDf): DataFrame = {
    // shingles live their whole pipeline life as 64-bit hashes
    // (functions.ShingleHashes): the posting-list exchange is the
    // pipeline's widest shuffle and its key never needs to be readable
    // — 8-byte longs instead of ~30-byte strings, and no per-window
    // string concat/allocation on the map side either. Distinct-count
    // parity with string shingles holds modulo 64-bit collisions
    // (P ≈ D²/2⁶⁵ — the budget the minhash seeds already ride).
    val sh = docs
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .filter(size(col("tk")) >= 3)
      .select(col("doc_id"),
        graft.functions.TokenOps.shingle_hashes(col("tk"), 3).as("sh"))
      .select(col("doc_id"), size(col("sh")).cast(LongType).as("n"),
        explode(col("sh")).as("s"))
    // pair generation via posting lists: ONE aggregation shuffles the
    // shingle rows to per-shingle doc lists (the df cap is a size
    // filter on the list — no window sort), then a compiled flatMap
    // emits the id-ordered pairs locally. Two exchanges total (posting
    // groupBy + pair groupBy) vs the r1-r3 self-join's window sort +
    // join + pair shuffle. (doc_id, n) ride both exchanges PACKED into
    // one long (doc_id·2²¹ | n — n is the doc's distinct-shingle
    // count, bounded by its token count, so 2²¹ ≈ a 2M-token doc;
    // doc_id keeps 42 bits): posting values are one word, and the
    // pair groupBy keys two longs instead of four columns.
    val spark = docs.sparkSession
    import spark.implicits._
    val PackBits = 21
    val PackMask = (1L << PackBits) - 1L
    // pack bounds are a loud runtime guard, not a comment: a doc with
    // ≥2²¹ distinct shingles (a ~2M-token document) or an id ≥2⁴² would
    // silently corrupt both ids and denominators if packed unchecked
    val posting = sh
      .select(col("s"),
        when(col("n") < lit(1L << PackBits) &&
            col("doc_id").between(0L, (1L << (63 - PackBits)) - 1L),
          shiftleft(col("doc_id"), PackBits).bitwiseOR(col("n")))
          .otherwise(raise_error(concat(
            lit("jaccard pack overflow: doc_id="),
            col("doc_id").cast(StringType),
            lit(" n="), col("n").cast(StringType),
            lit(" exceed the 42/21-bit pack"))))
          .as("dn"))
      .groupBy(col("s"))
      .agg(collect_list(col("dn")).as("ds"))
      .filter(size(col("ds")).between(2, maxDf))
    val pairCounts = posting.select(col("ds"))
      .as[Seq[Long]]
      .flatMap { ds =>
        // packed values sort like (doc_id, n): doc_id is the high bits
        val sorted = ds.sorted
        for {
          i <- sorted.indices.iterator
          j <- (i + 1 until sorted.size).iterator
        } yield (sorted(i), sorted(j))
      }
      .toDF("a_dn", "b_dn")
      .groupBy(col("a_dn"), col("b_dn"))
      .agg(count(lit(1)).as("inter"))
    pairCounts
      .select(
        shiftrightunsigned(col("a_dn"), PackBits).as("a_id"),
        shiftrightunsigned(col("b_dn"), PackBits).as("b_id"),
        col("inter"),
        col("a_dn").bitwiseAND(PackMask).as("na"),
        col("b_dn").bitwiseAND(PackMask).as("nb"))
  }

  // Like the LSH verified-pair index below, the posting-list pair
  // stats are an artifact a curation deployment builds once per corpus
  // snapshot: the output is bounded (df-capped candidate pairs ≪
  // corpus²) and every overlap measure (jaccard, containment) reads
  // the same frame.

  /** Session-persisted [[pairStatsFor]] (build-once overlap-stats
    * index; see note above). */
  private[queries] def pairStatsIndex(docs: DataFrame,
      maxDf: Int = JaccardMaxDf): DataFrame =
    ArtifactStore.frame("pair_stats", docs, maxDf)(pairStatsFor(docs, maxDf))

  /** Raw overlap statistics per candidate pair — (a_id, b_id, inter,
    * na, nb) with ids ordered — the shared substrate jaccard AND
    * containment scoring derive from (one posting-list pipeline, two
    * similarity measures). */
  private[queries] def jaccardPairsFor(docs: DataFrame,
      maxDf: Int = JaccardMaxDf): DataFrame =
    pairStatsFor(docs, maxDf)
      .select(col("a_id"), col("b_id"),
        (col("inter").cast(DoubleType) /
          (col("na") + col("nb") - col("inter"))).as("jaccard"))

  private[queries] def jaccardPairs(s: SparkSession, dir: String): DataFrame =
    jaccardPairsFor(t(s, dir, "documents"))

  private val jaccardOracle =
    """WITH tok AS (
      |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
      |  WHERE len(string_split(text, ' ')) >= 3),
      |sh AS (
      |  SELECT DISTINCT doc_id,
      |    unnest([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
      |            for i in generate_series(1, len(tk)-2)]) AS s
      |  FROM tok),
      |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |pr AS (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT a_id, b_id,
      |  CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
      |FROM pr JOIN sz sa ON sa.doc_id = a_id JOIN sz sb ON sb.doc_id = b_id
      |WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.6
      |ORDER BY a_id, b_id""".stripMargin

  // ---- q27: exact dedup ---------------------------------------------

  private val q27: Q = (s, dir) =>
    t(s, dir, "documents")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        count_distinct(col("text")).as("n_distinct_texts"))
      .orderBy(col("lang"))

  private val q27Sql =
    """SELECT lang, count(*) AS n_docs,
      |  count(DISTINCT text) AS n_distinct_texts
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  // exact dedup, row form: one keeper per duplicated text
  private val q27b: Q = (s, dir) =>
    t(s, dir, "documents")
      .groupBy(col("text"))
      .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("copies"))
      .filter(col("copies") > 1)
      .select(col("keeper_id"), col("copies"))
      .orderBy(col("keeper_id"))

  private val q27bSql =
    """SELECT min(doc_id) AS keeper_id, count(*) AS copies
      |FROM documents GROUP BY text HAVING count(*) > 1
      |ORDER BY keeper_id""".stripMargin

  // ---- q28: text analysis per language -------------------------------

  private val q28: Q = (s, dir) =>
    t(s, dir, "documents")
      .withColumn("n_tokens", size(split(col("text"), " ")).cast(LongType))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        (sum(col("n_tokens")).cast(DoubleType) / count(lit(1)))
          .as("avg_tokens"),
        sum(col("n_chars")).as("total_chars"),
        max(col("n_chars")).as("max_chars"))
      .orderBy(col("lang"))

  private val q28Sql =
    """SELECT lang, count(*) AS n_docs,
      |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
      |  CAST(CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS DOUBLE) / count(*) AS avg_tokens,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |  max(n_chars) AS max_chars
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  // ---- q29: similarity search — brute-force cosine top-k --------------

  /** (vec_id, cos): rounded-4 cosine of every non-query vector against
    * the vec_id = 0 query embedding — the ONE derivation q29 and
    * llm_hybrid_rrf's dense leg share. The cross-engine hash guarantee
    * depends on this double-expression tree staying identical across
    * its consumers, so it exists exactly once on each engine (this
    * helper + [[cosineVsQueryCte]]), the bm25CoreCte discipline. */
  private[queries] def cosineVsQueryFor(emb: DataFrame): DataFrame = {
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding").as("qe"))
    emb.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(dot(col("embedding"), col("qe")) /
          (sqrt(norm2(col("embedding"))) * sqrt(norm2(col("qe")))), 4)
          .as("cos"))
  }

  /** The DuckDB twin of [[cosineVsQueryFor]]: CTEs `q` (the query
    * vector) and `cosx` (vec_id, cos) — a named constant every
    * consumer oracle interpolates. */
  private[queries] val cosineVsQueryCte =
    """q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      |cosx AS (
      |  SELECT vec_id,
      |    round(
      |      list_sum([CAST(embedding[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)
      |                for i in generate_series(1, len(embedding))]) /
      |      (sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) for x in embedding])) *
      |       sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) for x in qe]))),
      |    4) AS cos
      |  FROM embeddings, q WHERE vec_id <> 0)""".stripMargin

  private val q29: Q = (s, dir) =>
    cosineVsQueryFor(t(s, dir, "embeddings"))
      .select(col("vec_id"), col("cos").as("score"))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(10)

  private val q29Sql =
    s"""WITH $cosineVsQueryCte
      |SELECT vec_id, cos AS score FROM cosx
      |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin

  // ---- q30: near-dup similarity join (cosine > 0.5) -------------------

  private val q30: Q = (s, dir) => {
    // norms are precomputed per vector (O(n)) so the pair join does a
    // single codegen'd dot product per candidate pair
    val e = t(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"),
        sqrt(norm2(col("embedding"))).as("nrm"))
    val a = e.select(col("vec_id").as("a_id"), col("embedding").as("ea"),
      col("nrm").as("na"))
    val b = e.select(col("vec_id").as("b_id"), col("embedding").as("eb"),
      col("nrm").as("nb"))
    a.join(b, col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        round(dot(col("ea"), col("eb")) / (col("na") * col("nb")), 4)
          .as("score"))
      .filter(col("score") > 0.5)
      .orderBy(col("a_id"), col("b_id"))
  }

  private val q30Sql =
    """WITH e AS (SELECT vec_id,
      |    [CAST(x AS DOUBLE) for x in embedding] AS ed FROM embeddings)
      |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
      |  round(
      |    list_sum([a.ed[i] * b.ed[i] for i in generate_series(1, len(a.ed))]) /
      |    (sqrt(list_sum([x * x for x in a.ed])) *
      |     sqrt(list_sum([x * x for x in b.ed]))), 4) AS score
      |FROM e a JOIN e b ON a.vec_id < b.vec_id
      |WHERE round(
      |    list_sum([a.ed[i] * b.ed[i] for i in generate_series(1, len(a.ed))]) /
      |    (sqrt(list_sum([x * x for x in a.ed])) *
      |     sqrt(list_sum([x * x for x in b.ed]))), 4) > 0.5
      |ORDER BY a_id, b_id""".stripMargin

  // ---- bitext mining: mutual top-1 cross-side kNN + margin ------------
  // The parallel-corpus mining primitive (Artetxe & Schwenk's
  // margin-based mining): split the embedding space into two "sides"
  // (label parity — the fixture's stand-in for two languages), find
  // each source vector's nearest target and vice versa, keep only
  // MUTUAL top-1 pairs, and score each by the margin ratio
  // cos(a,b) / ((avg top-4 cos of a) + (avg top-4 cos of b)) / 2 —
  // the hubness correction that raw cosine thresholds lack (a hub
  // vector near everything gets a margin ~1, a true translation pair
  // scores well above its neighborhoods).
  //
  // Shape: the cross join IS the declared oracle shape (the q30
  // discipline — the scale path is the shared IVF index, which bounds
  // candidates per cell exactly as SemDeDup does; the smaller language
  // is usually the broadcast side in a real mining run). Ranking uses
  // the UNROUNDED cosine (one mirrored double tree → identical ranks
  // both engines); the presented score/margin round(4) — ratios of
  // sqrt-bearing sums, so rounding ties are measure-zero (the
  // transcendental-tree criterion from the sf1 rounding audit). The
  // top-4 means are avg over ≤4 doubles (round absorbs summation-order
  // ulps, the mean_cohesion discipline). Mutual-top-1 output has at
  // most one row per a_id, so ORDER BY a_id is total.
  private val bitextMine: Q = (s, dir) =>
    bitextBruteFor(t(s, dir, "embeddings"))

  /** Brute mutual-top-1 bitext pairs for any (vec_id, label,
    * embedding) frame — the declared-oracle shape; exposed for
    * BitextRecallSpec's recall pin against the IVF serving path. */
  private[queries] def bitextBruteFor(emb: DataFrame): DataFrame = {
    val e = emb
      .select(col("vec_id"), col("label"), col("embedding"),
        sqrt(norm2(col("embedding"))).as("nrm"))
    val a = e.filter(col("label") % 2 === 0)
      .select(col("vec_id").as("a_id"), col("embedding").as("ea"),
        col("nrm").as("na"))
    val b = e.filter(col("label") % 2 === 1)
      .select(col("vec_id").as("b_id"), col("embedding").as("eb"),
        col("nrm").as("nb"))
    val pairs = a.join(broadcast(b), lit(true))
      .select(col("a_id"), col("b_id"),
        (dot(col("ea"), col("eb")) / (col("na") * col("nb"))).as("cos"))
    mutualTop1Margin(pairs)
  }

  /** Mutual-top-1 pairs + margin over ANY (a_id, b_id, cos) candidate
    * frame — the shared tail of the brute and cell-bounded bitext
    * paths. Round-13 shape: each side's top-4 neighborhood comes from
    * ONE hash aggregation (sort_array + slice over the per-key collect
    * — the aprobe top-2 discipline, with the same −0.0 normalization
    * so the struct sort matches SQL ordering), replacing two
    * corpus-pair rank WINDOWS (full sort-shuffles of the pair frame)
    * plus a localCheckpoint materialization plus two more groupBy
    * passes over it. The mutual filter is then a join of the two
    * per-side top-1 columns. Semantics are unchanged: top-1/top-4
    * under (cos desc, id asc) — a total order, so the selected rows
    * are identical to the row_number form.
    *
    * Memory (round-14, VERDICT r13 What's-wrong #1): per-key state is
    * a FIXED-SIZE top-4 heap (functions.TopKAgg — O(log 4) per
    * candidate, 4 rows resident), never the key's whole candidate
    * list. The r13 collect-then-slice buffered O(cell size) per key
    * on the ivf/trained SERVING paths, which one skewed hot cell
    * inflates without a cap; the heap aggregate is the §5 answer.
    * Selection is identical: top_k_by keeps the k largest
    * (score, payload) keys with payload (-other, other, cos), i.e.
    * (cos desc, other asc) — the same total order the struct sort
    * walked — and -0.0/0.0 collapse to one tie class inside the
    * aggregate (TopKByScore normalizes score with +0.0). */
  private def mutualTop1Margin(pairs: DataFrame): DataFrame = {
    // the pair frame feeds BOTH side aggregations — left
    // un-materialized each would recompute the candidate generation
    // (for the IVF path: the probe windows + cell join; measured
    // 1.2 → 1.6 s without this). Lazy, like every other checkpoint
    // here: eager would run the candidate scan at CONSTRUCTION
    // (plan-only consumers like PlanCensus must stay plan-only).
    val p = pairs.localCheckpoint(false)
    def top4(key: String, other: String) =
      p
        // NaN cos = a zero-norm embedding (ADVICE r13): impossible in
        // this corpus (norms are strictly positive; the brute/ivf
        // oracle compares would catch one), so the filter is a no-op
        // on real data — but it pins the NaN policy explicitly, where
        // the r13 struct sort ranked NaN last and Double.compare in
        // the heap would rank it FIRST and poison the k_* means
        .filter(!isnan(col("cos")))
        .select(col(key), col(other), col("cos"))
        .groupBy(col(key))
        .agg(graft.functions.TopKAgg.top_k_by(col("cos"),
          struct((-col(other)).as("neg"), col(other), col("cos")), 4)
          .as("top"))
        .select(col(key),
          col("top")(0).getField(other).as(s"top_$other"),
          col("top")(0).getField("cos").as(s"cos_$key"),
          // mean of the top-≤4 cos, summed in rank order (cos desc) —
          // the same values avg() summed; verified bit-equal to the
          // oracle's avg at sf0.001/0.01/0.1
          (expr("aggregate(transform(top, x -> x.cos), 0D, (a, v) -> a + v)")
            / size(col("top"))).as(s"k_$key"))
    val aT = top4("a_id", "b_id")
    val bT = top4("b_id", "a_id")
    // mutual top-1: a's best partner is b AND b's best partner is a
    aT.join(bT,
        aT("top_b_id") === bT("b_id") && bT("top_a_id") === aT("a_id"))
      .select(col("a_id"), col("b_id"),
        round(col("cos_a_id"), 4).as("score"),
        round(col("cos_a_id") / ((col("k_a_id") + col("k_b_id")) / 2), 4)
          .as("margin"))
      .orderBy(col("a_id"))
  }

  private val bitextMineSql =
    """WITH e AS (
      |  SELECT vec_id, label,
      |    [CAST(x AS DOUBLE) for x in embedding] AS ed,
      |    sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
      |                   for x in embedding])) AS nrm
      |  FROM embeddings),
      |pairs AS (
      |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
      |    list_sum([a.ed[i] * b.ed[i]
      |              for i in generate_series(1, len(a.ed))]) /
      |      (a.nrm * b.nrm) AS cos
      |  FROM e a, e b WHERE a.label % 2 = 0 AND b.label % 2 = 1),
      |rk AS (
      |  SELECT *,
      |    row_number() OVER (PARTITION BY a_id ORDER BY cos DESC, b_id)
      |      AS ra,
      |    row_number() OVER (PARTITION BY b_id ORDER BY cos DESC, a_id)
      |      AS rb
      |  FROM pairs),
      |ka AS (SELECT a_id, avg(cos) AS ka FROM rk WHERE ra <= 4
      |       GROUP BY a_id),
      |kb AS (SELECT b_id, avg(cos) AS kb FROM rk WHERE rb <= 4
      |       GROUP BY b_id)
      |SELECT r.a_id, r.b_id, round(r.cos, 4) AS score,
      |  round(r.cos / ((ka.ka + kb.kb) / 2), 4) AS margin
      |FROM rk r JOIN ka USING (a_id) JOIN kb USING (b_id)
      |WHERE ra = 1 AND rb = 1 ORDER BY a_id""".stripMargin

  // ---- llm_bitext_mine_ivf: cell-bounded bitext serving path ---------
  // The scale form of llm_bitext_mine (VERDICT r10 #4): candidates
  // come from the SHARED session IVF index instead of the corpus²
  // cross join — side B (label odd) serves from its top-1 cell
  // assignment (the same `Multimodal.ivfIndex` that serves ANN search
  // and SemDeDup: build once, serve many), side A (label even) probes
  // its top-2 cells at query time (the annIvf nProbe discipline —
  // recall widens at the prober, the index stays single-assignment).
  // Mutual-top-1 + margin then run UNCHANGED over the cell-bounded
  // candidate set: per A-vector the candidate count is the size of 2
  // cells, never |B| — at 100 TB with the trained k=√n quantizer the
  // expected candidate set is ~2n/√n = 2√n per vector, linear total.
  // A pair double-probed through two shared cells dedups by
  // max(cos) over bit-identical values (deterministic). The margin
  // means are over the cell-bounded top-≤4 neighborhood — the serving
  // approximation of the brute margin; BitextRecallSpec pins the ivf
  // pair set's recall against the brute entry on a clustered corpus
  // (the regime IVF exists for) and records the isotropic-fixture
  // recall honestly, like the IVF ANN contract split.
  private val bitextMineIvf: Q = (s, dir) =>
    bitextIvfFor(t(s, dir, "embeddings"))

  /** Cell-bounded mutual-top-1 bitext pairs for any (vec_id, label,
    * embedding) frame; exposed for BitextRecallSpec. */
  private[queries] def bitextIvfFor(emb: DataFrame): DataFrame = {
    val ix = Multimodal.ivfIndex(emb)
    bitextIvfOver(emb, ix.cents, ix.assign, "ivf8")
  }

  /** The TRAINED-quantizer bitext serving path — k = ⌈√n⌉ exact-Lloyd
    * cells (graft.operators.KMeans, train-once cached), where the
    * cell-bounded candidate join is Θ(n^1.5) instead of the fixed-k
    * fixture quantizer's Θ(n²/k) (the ×12 slope table in BASELINE.md
    * measures exactly that difference). Not an oracle query (DuckDB
    * cannot train the quantizer — the llm_ann_ivf_trained verdict
    * pattern); BitextRecallSpec pins its pair recall vs brute on the
    * clustered regime. */
  private[queries] def bitextIvfTrained(emb: DataFrame,
      iters: Int = 3): DataFrame = {
    // the trained index (k=⌈√n⌉ centroids + top-1 assignment) is the
    // session-cached Multimodal artifact — ONE assignment spelling,
    // ONE build per corpus snapshot (review r11)
    val ix = Multimodal.ivfTrainedIndex(emb, iters)
    bitextIvfOver(emb, ix.cents, ix.assign, s"trained:$iters")
  }

  // ---- llm_bitext_mine_trained: the trained-quantizer serving entry --
  // Promotes `bitextIvfTrained` — the Θ(n^1.5) production path — to a
  // query key (VERDICT r11 Next #3). DuckDB cannot train Lloyd, so
  // the presented cells follow the llm_ann_ivf_trained verdict
  // pattern: index metadata the oracle derives independently
  // (k = ⌈√n⌉, the two side counts) plus engine-computed STRUCTURAL
  // booleans the oracle pins TRUE —
  //   matching_ok: mutual-top-1 is a partial matching, so the pair
  //     set must be injective on BOTH sides and no larger than
  //     min(|A|,|B|) (catches the double-probe dedup bug class);
  //   pairs_valid: every pair crosses parity (even a, odd b),
  //     carries a margin, and |score| ≤ 1 + rounding headroom
  //     (catches side-filter and normalization regressions);
  //   trained_no_worse: Lloyd's objective no-degradation at the SAME
  //     k = ⌈√n⌉ quantizer — the exact cached verdict
  //     llm_ann_ivf_trained serves (one training-quality definition).
  // A flipped boolean fails the driver gate; the bench entry records
  // the trained path's ×SF slope next to the fixture-k entry's.
  private val bitextMineTrained: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    val meta = Multimodal.annIvfTrainedWith(s, dir, 2)
      .select(col("k"), col("trained_no_worse"))
    val sides = emb.agg(
      count(when(col("label") % 2 === 0, 1)).as("n_a"),
      count(when(col("label") % 2 === 1, 1)).as("n_b"))
    val lab = emb.select(col("vec_id"), col("label"))
    val p = bitextIvfTrained(emb)
      .join(lab.select(col("vec_id").as("a_id"),
        (col("label") % 2 === 0).as("a_even")), "a_id")
      .join(lab.select(col("vec_id").as("b_id"),
        (col("label") % 2 === 1).as("b_odd")), "b_id")
      .agg(count(lit(1)).as("n_pairs"),
        count_distinct(col("a_id")).as("da"),
        count_distinct(col("b_id")).as("db"),
        // empty pair set (degenerate corpus): vacuously valid
        coalesce(min(col("a_even") && col("b_odd") &&
          col("a_id") =!= col("b_id") && col("margin").isNotNull &&
          abs(col("score")) <= lit(1.0001)), lit(true)).as("pairs_valid"))
    meta.crossJoin(sides).crossJoin(p)
      .select(col("k"), col("n_a"), col("n_b"),
        (col("da") === col("n_pairs") && col("db") === col("n_pairs") &&
          col("n_pairs") <= least(col("n_a"), col("n_b")))
          .as("matching_ok"),
        col("pairs_valid"), col("trained_no_worse"))
  }

  private val bitextMineTrainedSql =
    """SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) AS k,
      |  CAST(count(*) FILTER (WHERE label % 2 = 0) AS BIGINT) AS n_a,
      |  CAST(count(*) FILTER (WHERE label % 2 = 1) AS BIGINT) AS n_b,
      |  TRUE AS matching_ok, TRUE AS pairs_valid,
      |  TRUE AS trained_no_worse
      |FROM embeddings""".stripMargin

  // Session-persisted bitext probe/serve sides (round-14, VERDICT r13
  // Next #1): the A-side top-2 cell probe and the B-side cell lists
  // are pure functions of (corpus snapshot, quantizer) — exactly the
  // query-independent halves a production IVF server stores next to
  // the index — yet each bitext invocation re-ran the probe's
  // crossJoin+argtop and the B-side label join. Keyed on the STABLE
  // emb source frame + quantizer tag (never on the derived
  // cents/assign frames, whose persisted/checkpointed plans are not
  // key-stable — the r13 OPQ lesson); same residency class as the
  // ivfIndex assignment (O(corpus) rows, MEMORY_AND_DISK).

  /** Cell-bounded mutual-top-1 pipeline over ANY quantizer: `cents`
    * (cid, ce, cn2) + its top-1 `assign` (vec_id, cid, embedding,
    * n2). One pipeline for the hash-seeded oracle path and the
    * trained production path. `tag` names the quantizer for the
    * session probe/side cache (cents/assign must be pure functions of
    * (emb, tag) — true for both callers, whose indexes are themselves
    * ArtifactStore artifacts of emb). */
  private def bitextIvfOver(emb: DataFrame, cents: DataFrame,
      assign: DataFrame, tag: String): DataFrame = {
    val lab = emb.select(col("vec_id"), col("label"))
    // B side: the index's own top-1 spherical assignment
    val b = ArtifactStore.frame("bitext_b", emb, tag)(
      assign.join(lab, "vec_id")
        .filter(col("label") % 2 === 1)
        .select(col("cid"), col("vec_id").as("b_id"),
          col("embedding").as("eb"), col("n2").as("bn2")))
    // A side: probe the top-2 centroids (cs desc, cid asc) — scored
    // map-side against the k broadcast centroids, top-2 picked by the
    // BOUNDED heap aggregate (round-14: the r13 collect buffered all
    // k structs per vector — k=8 on the oracle path but k=⌈√n⌉ on
    // the trained path, i.e. per-key state GROWING with the corpus;
    // functions.TopKAgg holds 2 rows whatever k is, the §5 fix).
    // top_k_by keeps the 2 largest (cs, (-cid, cid)) keys = the same
    // (cs desc, cid asc) order the struct sort walked, with -0.0/0.0
    // one tie class inside the aggregate. At fleet scale (k ≈ 10⁵)
    // the probe becomes its own two-level argtop (coarse-quantize
    // the centroids), the standard IVF refinement dial (the same
    // remedy the SURVEY documents for the quantizer).
    val a0 = emb.filter(col("label") % 2 === 0)
      .select(col("vec_id"), col("embedding"),
        norm2(col("embedding")).as("n2"))
    val aprobe = ArtifactStore.frame("bitext_a", emb, tag)(
      a0.crossJoin(broadcast(cents))
        .withColumn("cs",
          dot(col("embedding"), col("ce")) /
            (sqrt(col("n2")) * sqrt(col("cn2"))))
        .groupBy(col("vec_id"))
        .agg(first(col("embedding")).as("ea"),
          first(col("n2")).as("an2"),
          graft.functions.TopKAgg.top_k_by(col("cs"),
            struct((-col("cid")).as("neg"), col("cid")), 2).as("top2"))
        .select(col("vec_id").as("a_id"), col("ea"), col("an2"),
          explode(expr("transform(top2, x -> x.cid)")).as("cid")))
    val pairs = aprobe.join(b, "cid")
      .select(col("a_id"), col("b_id"),
        (dot(col("ea"), col("eb")) /
          (sqrt(col("an2")) * sqrt(col("bn2")))).as("cos"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(max(col("cos")).as("cos"))
    // shared tail with the brute entry; the per-side frames it joins
    // are one row PER VECTOR — corpus-proportional on the scale path —
    // and stay AQE-decided (no broadcast hint; the r12 #1 audit)
    mutualTop1Margin(pairs)
  }

  // the hash-seeded cells rebuilt in SQL (the semdedupCellsSql/annIvf
  // discipline: DuckDB re-derives the exact index, so even the
  // approximate serving path is exactly checkable), then the brute
  // entry's rank/margin pipeline verbatim over the bounded candidates
  private val bitextMineIvfSql =
    """WITH e AS (
      |  SELECT vec_id, label,
      |    [CAST(x AS DOUBLE) for x in embedding] AS ed,
      |    list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
      |              for x in embedding]) AS n2
      |  FROM embeddings),
      |c AS (
      |  SELECT vec_id AS cid, ed AS ce, n2 AS cn2 FROM e
      |  ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 8),
      |ad AS (
      |  SELECT e.vec_id AS a_id, e.ed AS ea, e.n2 AS an2, c.cid,
      |    list_sum([e.ed[i] * c.ce[i]
      |      for i in generate_series(1, len(e.ed))]) /
      |      (sqrt(e.n2) * sqrt(c.cn2)) AS cs
      |  FROM e, c WHERE e.label % 2 = 0),
      |ap AS (
      |  SELECT a_id, ea, an2, cid FROM (
      |    SELECT *, row_number() OVER (
      |      PARTITION BY a_id ORDER BY cs DESC, cid) AS pr
      |    FROM ad) WHERE pr <= 2),
      |bd AS (
      |  SELECT e.vec_id AS b_id, e.ed AS eb, e.n2 AS bn2, c.cid,
      |    list_sum([e.ed[i] * c.ce[i]
      |      for i in generate_series(1, len(e.ed))]) /
      |      (sqrt(e.n2) * sqrt(c.cn2)) AS cs
      |  FROM e, c WHERE e.label % 2 = 1),
      |bs AS (
      |  SELECT b_id, eb, bn2, cid FROM (
      |    SELECT *, row_number() OVER (
      |      PARTITION BY b_id ORDER BY cs DESC, cid) AS rn
      |    FROM bd) WHERE rn = 1),
      |pairs AS (
      |  SELECT a_id, b_id,
      |    max(list_sum([ap.ea[i] * bs.eb[i]
      |      for i in generate_series(1, len(ap.ea))]) /
      |      (sqrt(ap.an2) * sqrt(bs.bn2))) AS cos
      |  FROM ap JOIN bs USING (cid) GROUP BY a_id, b_id),
      |rk AS (
      |  SELECT *,
      |    row_number() OVER (PARTITION BY a_id ORDER BY cos DESC, b_id)
      |      AS ra,
      |    row_number() OVER (PARTITION BY b_id ORDER BY cos DESC, a_id)
      |      AS rb
      |  FROM pairs),
      |ka AS (SELECT a_id, avg(cos) AS ka FROM rk WHERE ra <= 4
      |       GROUP BY a_id),
      |kb AS (SELECT b_id, avg(cos) AS kb FROM rk WHERE rb <= 4
      |       GROUP BY b_id)
      |SELECT r.a_id, r.b_id, round(r.cos, 4) AS score,
      |  round(r.cos / ((ka.ka + kb.kb) / 2), 4) AS margin
      |FROM rk r JOIN ka USING (a_id) JOIN kb USING (b_id)
      |WHERE ra = 1 AND rb = 1 ORDER BY a_id""".stripMargin

  // ---- fuzzy dedup: exact n-gram Jaccard (sparse shingle join) --------

  // Served from the shared verified-pair index (below): the index's
  // exact-verify step computes precisely this query's output — exact
  // distinct-shingle Jaccard ≥ 0.6 per candidate pair — and with
  // 32×2 banding candidate recall at J ≥ 0.6 is 1-(1-0.6²)³² ≈
  // 1-6e-7 (exactly 1 on every fixture, where the output is
  // bit-identical to the uncapped posting-list formulation — parity
  // pinned in QueriesSpec). The standalone posting-list formulation
  // [[jaccardPairsFor]] remains the df-capped exact path (and the
  // spec surface for cap semantics); VERDICT r4: "derive the jaccard
  // pair query from the already-computed LSH candidate path (one
  // pipeline, two outputs)".
  private val ngramJaccard: Q = (s, dir) =>
    lshVerifiedPairs(t(s, dir, "documents"))
      .filter(col("jaccard") >= 0.6)
      .orderBy(col("a_id"), col("b_id"))

  // ---- fuzzy dedup: MinHash + LSH banding, exact-verified -------------
  // 64 minhash permutations (min over xxhash64(shingle, seed)), 32
  // bands x 2 rows -> candidate recall ~1-(1-J^2)^32 (≥0.9999994 at
  // J=0.6); candidates are then exact-verified, so output equals the
  // brute-force Jaccard oracle whenever LSH recall is 1 on the corpus.
  /** LSH-verified near-dup pairs (a_id, b_id, jaccard >= 0.6),
    * unordered. minhash signatures are computed per-row over the
    * shingle array — zero shuffles until the band-bucket self-join,
    * which is the only O(candidates) stage; candidates are then
    * exact-verified against the full shingle sets.
    *
    * Candidate-generation A/B (r4): rewriting the band self-join as
    * bucket posting lists + compiled flatMap (the formulation that
    * won for [[jaccardPairsFor]]) measured a WASH-to-loss here
    * (minhash 0.68 → 0.79-0.82 s at sf0.1) — band buckets are far
    * sparser than shingle posting lists (32 exact-hash bands vs
    * thousands of shared shingles), so the join side's win on pair
    * expansion never materializes. Kept the join. */
  private def tokenized(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .filter(size(col("tk")) >= 3)

  /** (doc_id, band_idx, band_hash): the 32×2 LSH banding of each
    * doc's 64-component MinHash signature. Shared by the batch index
    * build and the streaming incremental maintenance
    * ([[graft.streaming.DedupIndexStream]]) so both discover the same
    * candidates by construction. */
  private[graft] def bandedSignatures(documents: DataFrame): DataFrame = {
    val docs = tokenized(documents).select(col("doc_id"),
      graft.functions.Shingles.word_shingles(col("tk"), 3).as("sh"))
    val mh = docs.select(col("doc_id"),
      graft.functions.MinHash.minhash_signature(col("sh"), 64).as("mh"))
    mh.select(col("doc_id"),
      posexplode(expr(
        "transform(sequence(0, 31), b -> xxhash64(mh[2*b], mh[2*b+1], b))"))
        .as(Seq("band_idx", "band_hash")))
  }

  /** (doc_id, shh): per-doc distinct shingle arrays as 64-bit hashes —
    * the verify-side feature frame (same cardinality as the string
    * shingles; ~4× fewer shuffle bytes and long-vs-string compares). */
  private[graft] def shingleArrays(documents: DataFrame): DataFrame =
    tokenized(documents).select(col("doc_id"),
      graft.functions.TokenOps.shingle_hashes(col("tk"), 3).as("shh"))

  /** Exact-verify candidate pairs against the shingle-array frame:
    * jaccard from per-doc array intersection, kept at >= 0.6. */
  private[graft] def verifiedFromCandidates(cand: DataFrame,
      docsH: DataFrame): DataFrame =
    cand
      .join(docsH.select(col("doc_id").as("a_id"), col("shh").as("sa")), "a_id")
      .join(docsH.select(col("doc_id").as("b_id"), col("shh").as("sb")), "b_id")
      .select(col("a_id"), col("b_id"),
        (size(array_intersect(col("sa"), col("sb"))).cast(DoubleType) /
          (size(col("sa")) + size(col("sb")) -
            size(array_intersect(col("sa"), col("sb"))))).as("jaccard"))
      .filter(col("jaccard") >= 0.6)

  private[graft] def lshVerifiedPairsFor(documents: DataFrame): DataFrame = {
    // (A/B-measured: lazy-localCheckpointing the tokenized frame is a
    // wash — its consumers otherwise compute in parallel plan
    // branches, and the materialization barrier serializes them)
    val banded = bandedSignatures(documents)
    val cand = banded.as("x")
      .join(banded.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
          col("x.band_hash") === col("y.band_hash") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .distinct()
    verifiedFromCandidates(cand, shingleArrays(documents))
  }

  // ---- the verified near-dup pair INDEX ------------------------------
  // Five queries consume the same verified-pair set (pair listing,
  // exact-Jaccard listing, sketch-accuracy, dedup-apply, clustering).
  // A curation deployment builds that set ONCE per corpus snapshot —
  // it IS the dedup index — and serves every downstream view from it,
  // so the pair frame is persisted per input plan for the session
  // (same build-once/serve-many memoization contract as
  // KMeans.fitCached and SkewJoin's hot-key probe; VERDICT r4's
  // "one pipeline, two outputs" for the jaccard/dedup_apply family).
  // The output is small by construction (verified near-dup pairs only,
  // ≪ corpus), so MEMORY_AND_DISK persistence is bounded.

  /** Session-persisted verified near-dup pairs for `documents`
    * (build-once dedup index; see note above). */
  private[queries] def lshVerifiedPairs(documents: DataFrame): DataFrame =
    ArtifactStore.frame("neardup_pairs", documents)(
      lshVerifiedPairsFor(documents))

  private val minhashLsh: Q = (s, dir) =>
    lshVerifiedPairs(t(s, dir, "documents"))
      .orderBy(col("a_id"), col("b_id"))

  // ---- llm_containment_dedup: asymmetric overlap (quote/subset) ------
  // The similarity measure Jaccard structurally misses: containment
  // C(A,B) = |A∩B| / min(|A|,|B|) is ~1 when one document QUOTES or
  // SUBSUMES another even though Jaccard is small (a 40-token doc
  // embedded in a 400-token doc has J ≈ 0.1, C ≈ 1.0). The standard
  // quote/boilerplate-inclusion detector in web-corpus dedup. Rides
  // the SAME df-capped posting-list pipeline as the Jaccard family
  // (pairStatsFor — one pipeline, two measures); the filter runs on
  // the RAW integer ratio (deterministic cross-engine), rounding is
  // output-only.
  private val containmentDedup: Q = (s, dir) =>
    pairStatsIndex(t(s, dir, "documents"))
      .withColumn("c_raw", col("inter").cast(DoubleType) /
        least(col("na"), col("nb")))
      .filter(col("c_raw") >= 0.9)
      .select(col("a_id"), col("b_id"),
        round(col("c_raw"), 4).as("containment"),
        round(col("inter").cast(DoubleType) /
          (col("na") + col("nb") - col("inter")), 4).as("jaccard"))
      .orderBy(col("a_id"), col("b_id"))

  private val containmentDedupSql =
    """WITH tok AS (
      |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
      |  WHERE len(string_split(text, ' ')) >= 3),
      |sh AS (
      |  SELECT DISTINCT doc_id,
      |    unnest([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
      |            for i in generate_series(1, len(tk)-2)]) AS s
      |  FROM tok),
      |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |pr AS (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT a_id, b_id,
      |  round(CAST(inter AS DOUBLE) / least(sa.n, sb.n), 4)
      |    AS containment,
      |  round(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter), 4)
      |    AS jaccard
      |FROM pr JOIN sz sa ON sa.doc_id = a_id
      |        JOIN sz sb ON sb.doc_id = b_id
      |WHERE CAST(inter AS DOUBLE) / least(sa.n, sb.n) >= 0.9
      |ORDER BY a_id, b_id""".stripMargin

  // ---- llm_source_overlap: cross-source near-dup matrix --------------
  // The sixth consumer of the verified-pair index: which SOURCES share
  // near-duplicate content, and how much. This is the
  // contamination-audit view a mixing pipeline reads before setting
  // source weights (a source that is 30 % near-dup against another
  // contributes less novel data than its row count suggests). Pair
  // endpoints join back to doc→source (the pair index ≪ corpus, so
  // AQE broadcasts the pair side against the corpus scan); the
  // unordered (source, source) key is canonicalized with
  // least/greatest so A×B and B×A collapse into one cell.
  private val sourceOverlap: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val src = docs.select(col("doc_id"), col("source"))
    lshVerifiedPairs(docs)
      .join(src.select(col("doc_id").as("a_id"),
        col("source").as("src_a")), "a_id")
      .join(src.select(col("doc_id").as("b_id"),
        col("source").as("src_b")), "b_id")
      .select(least(col("src_a"), col("src_b")).as("source_a"),
        greatest(col("src_a"), col("src_b")).as("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("source_a"), col("source_b"))
  }

  // same exact-Jaccard pair derivation as jaccardOracle (LSH recall is
  // 1 on the fixtures, pinned by llm_minhash_lsh_dedup), folded to the
  // per-source-pair matrix
  private val sourceOverlapSql =
    """WITH tok AS (
      |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
      |  WHERE len(string_split(text, ' ')) >= 3),
      |sh AS (
      |  SELECT DISTINCT doc_id,
      |    unnest([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
      |            for i in generate_series(1, len(tk)-2)]) AS s
      |  FROM tok),
      |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |pr AS (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |vp AS (
      |  SELECT a_id, b_id
      |  FROM pr JOIN sz sa ON sa.doc_id = a_id
      |          JOIN sz sb ON sb.doc_id = b_id
      |  WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.6)
      |SELECT least(da.source, db.source) AS source_a,
      |  greatest(da.source, db.source) AS source_b,
      |  count(*) AS n_pairs
      |FROM vp JOIN documents da ON da.doc_id = a_id
      |        JOIN documents db ON db.doc_id = b_id
      |GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin

  // sketch accuracy for the minhash family (the q26/q52 pattern): on
  // every verified near-dup pair, the MinHash-agreement estimate
  // (matching components / 64) must sit within ±0.25 of exact Jaccard
  // (64 components → σ ≈ 0.06; the band is >4σ, and the signatures
  // are seed-fixed so the verdict is deterministic, not flaky).
  // Output carries the exact score (hash-checked) + the verdict.
  private val minhashEstimate: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .filter(size(col("tk")) >= 3)
      .select(col("doc_id"),
        graft.functions.Shingles.word_shingles(col("tk"), 3).as("sh"))
    val mh = docs.select(col("doc_id"),
      graft.functions.MinHash.minhash_signature(col("sh"), 64).as("mh"))
    lshVerifiedPairs(t(s, dir, "documents"))
      .join(mh.select(col("doc_id").as("a_id"), col("mh").as("ma")), "a_id")
      .join(mh.select(col("doc_id").as("b_id"), col("mh").as("mb")), "b_id")
      .select(col("a_id"), col("b_id"),
        round(col("jaccard"), 4).as("jaccard"),
        (abs(aggregate(zip_with(col("ma"), col("mb"),
            (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, x) => acc + x).cast(DoubleType) / 64
          - col("jaccard")) <= 0.25).as("est_within_band"))
      .orderBy(col("a_id"), col("b_id"))
  }

  private val minhashEstimateSql = {
    val base = jaccardOracle
      .replaceAll("\nORDER BY a_id, b_id$", "")
      .replace("SELECT a_id, b_id,",
        "SELECT a_id, b_id, TRUE AS est_within_band,")
    // reshape: exact pairs + constant-TRUE verdict, same column order
    s"""WITH j AS (
       |$base
       |)
       |SELECT a_id, b_id, round(jaccard, 4) AS jaccard, est_within_band
       |FROM j ORDER BY a_id, b_id""".stripMargin
  }

  // ---- fuzzy dedup: embedding-cosine near-dup via SRP-LSH -------------
  // Signed-random-projection LSH (Charikar): fixed Rademacher (±1)
  // hyperplanes -> sign bits per vector -> `nBands` bands of
  // `bandBits` bits. Vectors sharing ANY band bucket become
  // candidates (bucket self-join — never corpus²) and are then exact
  // cosine-verified, so output equals brute force whenever band
  // recall is 1.
  //
  // Band geometry must be tuned to the similarity threshold: a bit
  // agrees w.p. 1-θ/π, so at the fixtures' q30 threshold (cos = 0.5,
  // p ≈ 0.667) the near/far gap vs random pairs (p = 0.5) is small —
  // the shipped 16 bands × 2 bits buys recall ≈ 0.9999 but prunes
  // little (isotropic fixtures are SRP's worst case, like IVF's — see
  // MultimodalSpec). At a realistic near-dup threshold (cos ≥ 0.9,
  // p ≈ 0.856) the tighter 8 × 8 geometry prunes candidates to a few
  // % of all pairs at recall ≈ 0.97 — pinned on clustered data in
  // CosineLshSpec. This is the 100 TB path for embedding-space dedup,
  // as MinHash+LSH is for token-space.
  private val SrpMaxBits = 64
  // fixed seeded hyperplanes, sliced per-row to the embedding dim
  private[queries] val srpPlanes: Array[Array[Double]] = {
    val rng = new java.util.Random(0x5ca1ab1eL)
    Array.fill(SrpMaxBits)(
      Array.fill(256)(if (rng.nextBoolean()) 1.0 else -1.0))
  }

  /** (vec_id, band_idx, band_val): one row per vector per band. */
  private[queries] def srpBandedFor(emb: DataFrame,
      nBands: Int, bandBits: Int): DataFrame = {
    require(nBands * bandBits <= SrpMaxBits)
    // resolve the embedding dim once (one-row driver peek) so each
    // hyperplane is a fixed-size literal — the per-row
    // slice(typedLit) alternative allocates a plane copy per row per
    // bit. Dim is a schema-level fact; peeking it is planning work.
    // An empty table has no dim: return the empty banded frame instead
    // of NoSuchElementException (ADVICE r3).
    val dimRow = emb.select(size(col("embedding")).as("d")).limit(1).collect()
    if (dimRow.isEmpty)
      return emb.sparkSession.emptyDataFrame
        .select(lit(0L).as("vec_id"), lit(0).as("band_idx"),
          lit(0L).as("band_val")).limit(0)
    val dim = dimRow.head.getInt(0)
    // planes are fixed at 256 components; a larger dim would silently
    // project onto the first 256 dims, degrading band recall with no
    // error (ADVICE r3) — fail loudly instead
    require(dim <= 256,
      s"embedding dim $dim exceeds the $SrpMaxBits-plane SRP geometry's " +
        "256 components; size srpPlanes from the observed dim")
    // all sign bits in ONE fused codegen traversal (r4: the unfused
    // 32-dot_product form re-read the embedding array once per plane;
    // srp_bits reads it once and packs signs into a single long)
    val slicedPlanes = srpPlanes.take(nBands * bandBits).map(_.take(dim))
    val bits = graft.functions.SrpBits.srp_bits(col("embedding"), slicedPlanes)
    val bandMask = (1L << bandBits) - 1L
    val bands: Seq[Column] = (0 until nBands).map { b =>
      shiftright(bits, b * bandBits).bitwiseAND(lit(bandMask))
    }
    emb.select(col("vec_id"),
      posexplode(array(bands: _*)).as(Seq("band_idx", "band_val")))
  }

  /** SRP band-bucket candidate pairs (a_id < b_id), deduplicated. */
  private[queries] def srpCandidatesFor(emb: DataFrame,
      nBands: Int, bandBits: Int): DataFrame = {
    val banded = srpBandedFor(emb, nBands, bandBits)
    banded.as("x")
      .join(banded.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
          col("x.band_val") === col("y.band_val") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("a_id"), col("y.vec_id").as("b_id"))
      .distinct()
  }

  /** Candidate-pair count the band buckets would emit: Σ C(c, 2) over
    * bucket sizes c — one tiny aggregation over the banded frame, the
    * runtime stat that drives the adaptive plan choice below. */
  private[queries] def srpCandidateEstimate(emb: DataFrame,
      nBands: Int, bandBits: Int): Long =
    srpBandedFor(emb, nBands, bandBits)
      .groupBy(col("band_idx"), col("band_val"))
      .agg(count(lit(1)).as("c"))
      .agg(coalesce(sum(col("c") * (col("c") - 1)), lit(0L)).as("p"))
      .collect()(0).getLong(0) / 2

  /** Candidates exact-verified against the cosine threshold.
    *
    * ADAPTIVE (r4): LSH banding only pays when the buckets actually
    * prune — on near-isotropic data at a low threshold (SRP's worst
    * case, and exactly the fixtures' shape) the band self-join emits
    * MORE pairs than brute force, then pays distinct + two row-pair
    * joins on top. So, AQE-style, a planning-time stats pass sums
    * C(c,2) over band buckets; if the candidate volume isn't under
    * half of all-pairs, the verify runs as the q30-shape brute join
    * (broadcast-nested-loop + codegen dot) instead. Either path
    * exact-verifies every emitted pair, so the output is identical —
    * the stat only picks the cheaper physical plan. Clustered
    * corpora at realistic thresholds (the 100 TB regime) keep the
    * LSH path: CosineLshSpec pins that the estimate prunes there. */
  // planning-time stats are memoized per input plan (the r4 contract
  // shared by KMeans quantizers / hot-key probes / the pair index):
  // a repeated query re-plans from the cached cardinality instead of
  // re-running the count job each construction (ADVICE r4 noted the
  // eager jobs; the first construction still pays them)
  private[queries] def cosineLshPairsFor(emb: DataFrame,
      threshold: Double = 0.5, nBands: Int = 16, bandBits: Int = 2)
      : DataFrame = {
    val e = emb.select(col("vec_id"), col("embedding"),
      sqrt(norm2(col("embedding"))).as("nrm"))
    val n = ArtifactStore.value("row_count", emb)(emb.count())()
    val allPairs = n * (n - 1) / 2
    // below ~1e8 pairs the codegen brute join is seconds of work on a
    // few cores — cheaper than even RUNNING the banding stats pass, so
    // skip straight to it; the stats decide only where brute could
    // actually hurt
    val bruteCheapPairs = 100000000L
    // NOTE: constructing this DataFrame is EAGER (count + possibly the
    // banding-stats aggregation run as driver jobs) — an AQE-style
    // planning-time stats pass. Callers that need a lazy plan should
    // cache the input or pick a branch explicitly.
    def candEstimate: Long = ArtifactStore.value("srp_candidates",
      srpBandedFor(emb, nBands, bandBits))(
      srpCandidateEstimate(emb, nBands, bandBits))()
    if (allPairs <= bruteCheapPairs || candEstimate >= allPairs / 2) {
      // broadcast pins BroadcastNestedLoopJoin: the brute branch fires
      // for n up to ~14k vectors, where 256-dim rows can exceed the
      // default autoBroadcast threshold and the non-equi condition
      // would otherwise fall to CartesianProductExec (ADVICE r4)
      e.as("x").join(broadcast(e.as("y")), col("x.vec_id") < col("y.vec_id"))
        .select(col("x.vec_id").as("a_id"), col("y.vec_id").as("b_id"),
          round(dot(col("x.embedding"), col("y.embedding")) /
            (col("x.nrm") * col("y.nrm")), 4).as("score"))
        .filter(col("score") > threshold)
    } else {
      srpCandidatesFor(emb, nBands, bandBits)
        .join(e.select(col("vec_id").as("a_id"), col("embedding").as("ea"),
          col("nrm").as("na")), "a_id")
        .join(e.select(col("vec_id").as("b_id"), col("embedding").as("eb"),
          col("nrm").as("nb")), "b_id")
        .select(col("a_id"), col("b_id"),
          round(dot(col("ea"), col("eb")) / (col("na") * col("nb")), 4)
            .as("score"))
        .filter(col("score") > threshold)
    }
  }

  private val cosineLsh: Q = (s, dir) =>
    cosineLshPairsFor(t(s, dir, "embeddings"))
      .orderBy(col("a_id"), col("b_id"))

  // ---- fuzzy dedup: SimHash fingerprints (md5-bit hash, oracle-checked)
  // Per word, 64 hash bits come from the 16 leading hex digits of
  // md5(word) (4 bits per digit); per doc per bit, ±1 votes are summed
  // and the fingerprint bit is (vote > 0). Emitted as two 32-bit
  // halves (fp_hi/fp_lo) so no BIGINT overflow on either engine. Same
  // operator shape as an xxhash64 SimHash, but md5 has an exact DuckDB
  // twin, so every bit is oracle-checkable (VERDICT r1 #4).
  private val simhash: Q = (s, dir) => {
    val tok = t(s, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .withColumn("hx", md5(encode(col("w"), "UTF-8")))
    val bitCols = (0 until 64).map { b =>
      val d = b / 4 + 1       // hex digit position (1-based)
      val k = 3 - b % 4       // bit within the digit, MSB first
      val v = expr(s"instr('0123456789abcdef', substring(hx, $d, 1)) - 1")
      sum(when(shiftright(v, k).bitwiseAND(1) === 1, 1).otherwise(-1))
        .as(s"b$b")
    }
    val agg = tok.groupBy(col("doc_id")).agg(bitCols.head, bitCols.tail: _*)
    def half(lo: Int): Column = (0 until 32).map { i =>
      when(col(s"b${lo + i}") > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _).cast(LongType)
    agg.select(col("doc_id"), half(32).as("fp_hi"), half(0).as("fp_lo"))
      .orderBy(col("doc_id"))
  }

  private val simhashSql: String = {
    val bitAggs = (0 until 64).map { b =>
      val d = b / 4 + 1
      val k = 3 - b % 4
      s"sum(CASE WHEN (((instr('0123456789abcdef', substr(hx, $d, 1)) - 1) " +
        s">> $k) & 1) = 1 THEN 1 ELSE -1 END) AS b$b"
    }.mkString(",\n    ")
    def half(lo: Int) = (0 until 32).map { i =>
      s"CASE WHEN b${lo + i} > 0 THEN ${1L << i} ELSE 0 END"
    }.mkString(" + ")
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
       |h AS (SELECT doc_id, md5(w) AS hx FROM tok),
       |agg AS (
       |  SELECT doc_id,
       |    $bitAggs
       |  FROM h GROUP BY doc_id)
       |SELECT doc_id,
       |  CAST(${half(32)} AS BIGINT) AS fp_hi,
       |  CAST(${half(0)} AS BIGINT) AS fp_lo
       |FROM agg ORDER BY doc_id""".stripMargin
  }

  // ---- chunking: fixed-size token windows with overlap ---------------
  // The pre-training sample cutter: each doc yields chunks of
  // `chunkTokens` tokens starting every `stride` tokens (overlap =
  // chunkTokens - stride). Pure per-row explode — embarrassingly
  // parallel at 100 TB, no shuffle until the caller aggregates.
  private val ChunkTokens = 32
  private val ChunkStride = 24

  private val chunk: Q = (s, dir) =>
    t(s, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .select(col("doc_id"), size(col("tk")).as("n"),
        posexplode(sequence(lit(0), greatest(size(col("tk")) - 1, lit(0)),
          lit(ChunkStride))).as(Seq("chunk_idx", "start")))
      .filter(col("start") < col("n"))
      .select(col("doc_id"), col("chunk_idx").cast(LongType).as("chunk_idx"),
        least(lit(ChunkTokens), col("n") - col("start")).cast(LongType)
          .as("chunk_tokens"))
      .orderBy(col("doc_id"), col("chunk_idx"))

  private val chunkSql =
    s"""WITH tok AS (
       |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       |st AS (
       |  SELECT doc_id, len(tk) AS n,
       |    unnest(range(0, greatest(len(tk), 1), $ChunkStride)) AS start
       |  FROM tok)
       |SELECT doc_id,
       |  CAST(start / $ChunkStride AS BIGINT) AS chunk_idx,
       |  CAST(least($ChunkTokens, n - start) AS BIGINT) AS chunk_tokens
       |FROM st WHERE start < n
       |ORDER BY doc_id, chunk_idx""".stripMargin

  // ---- packing: bin documents into context-length budgets ------------
  // Greedy sequential packing: docs ordered by id within a source;
  // each doc lands in the bin where its cumulative token count starts
  // (floor((cum - n)/L)). One window + one aggregation — the 100 TB
  // plan is a single co-partitioned sort per source.
  private val PackLen = 2048

  private val pack: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "documents")
      .withColumn("n_tokens", size(split(col("text"), " ")).cast(LongType))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .withColumn("bin",
        floor((col("cum") - col("n_tokens")) / PackLen).cast(LongType))
      .groupBy(col("source"), col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("bin_tokens"))
      .orderBy(col("source"), col("bin"))
  }

  private val packSql =
    s"""WITH t AS (
       |  SELECT source, doc_id,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |  FROM documents),
       |c AS (
       |  SELECT source, n_tokens,
       |    sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM t)
       |SELECT source,
       |  CAST(floor((cum - n_tokens) / $PackLen) AS BIGINT) AS bin,
       |  count(*) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS bin_tokens
       |FROM c GROUP BY source, bin
       |ORDER BY source, bin""".stripMargin

  // ---- export: deterministic shard manifest ---------------------------
  // The training-data EXPORT step every pipeline ends with: every
  // document is assigned to one of 16 shards by content-free
  // deterministic hash (first md5 nibble of doc_id — append-STABLE: a
  // doc's shard never changes as the corpus grows, unlike round-robin
  // or ntile cuts, so incremental exports only append), and the
  // manifest reports per shard what a downstream loader validates
  // before training: doc count, whitespace-token count (the
  // llm_pack_sequences tokenization), char volume, and an
  // ORDER-INSENSITIVE content fingerprint — bit_xor of each doc's
  // 60-bit md5 integer — so two exports of the same corpus compare
  // equal regardless of partitioning/task order, and one missing or
  // duplicated doc flips the fingerprint. Exact integer arithmetic
  // end-to-end (the 15-hex-digit parse stays in BIGINT on both
  // engines; a 16^14 double power would lose bits past 2^53).
  // Scale: one scan + one 16-group aggregate; nothing driver-side.
  /** The per-shard stats derivation — the ONE expression tree the
    * batch query and `streaming.ShardManifestStream` both run, so the
    * maintained manifest equals the batch form by construction (the
    * psiOfCells discipline). Two DISTINCT hashes by design: the shard
    * nibble hashes doc_id ALONE (routing must be append-stable — a
    * doc whose text is corrected re-exports into the SAME shard),
    * while the fingerprint hashes doc_id:text (a content edit, not
    * just a membership change, must flip the manifest row — a
    * doc_id-only fingerprint would validate a corrupted re-export as
    * identical). */
  private[graft] def shardStats(docs: DataFrame): DataFrame =
    docs
      .select(
        conv(substring(md5(col("doc_id").cast(StringType)), 1, 1), 16, 10)
          .cast(LongType).as("shard"),
        size(split(col("text"), " ")).cast(LongType).as("n_tokens"),
        col("n_chars").cast(LongType).as("n_chars"),
        conv(substring(md5(concat(col("doc_id").cast(StringType),
          lit(":"), col("text"))), 1, 15), 16, 10)
          .cast(LongType).as("fp"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"),
        expr("bit_xor(fp)").as("fingerprint"))

  private val shardManifest: Q = (s, dir) =>
    shardStats(t(s, dir, "documents")).orderBy(col("shard"))

  private val shardManifestSql =
    """WITH h AS (
      |  SELECT
      |    md5(CAST(doc_id AS VARCHAR)) AS hid,
      |    md5(CAST(doc_id AS VARCHAR) || ':' || text) AS hct,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |    CAST(n_chars AS BIGINT) AS n_chars
      |  FROM documents),
      |d AS (
      |  SELECT
      |    CAST(strpos('0123456789abcdef', substr(hid, 1, 1)) - 1
      |      AS BIGINT) AS shard,
      |    n_tokens, n_chars,
      |    CAST(list_sum([CAST(strpos('0123456789abcdef',
      |        substr(hct, i, 1)) - 1 AS BIGINT)
      |        * (1::BIGINT << (4 * (15 - i)))
      |      for i in generate_series(1, 15)]) AS BIGINT) AS fp
      |  FROM h)
      |SELECT shard, count(*) AS n_docs,
      |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
      |  CAST(sum(n_chars) AS BIGINT) AS n_chars,
      |  bit_xor(fp) AS fingerprint
      |FROM d GROUP BY shard ORDER BY shard""".stripMargin

  // ---- text analysis: language-id heuristic ---------------------------
  private val stop = Seq("the", "a", "of", "and", "to")

  private val langid: Q = (s, dir) =>
    t(s, dir, "documents")
      .withColumn("tk", split(col("text"), " "))
      .select(col("doc_id"),
        size(array_intersect(col("tk"),
          array(stop.map(lit): _*))).cast(LongType).as("en_stopwords"),
        when(size(array_intersect(col("tk"),
          array(stop.map(lit): _*))) > 0, lit("en"))
          .otherwise(lit("unknown")).as("predicted_lang"))
      .orderBy(col("doc_id"))

  private val langidSql =
    s"""SELECT doc_id,
       |  CAST(len(list_intersect(string_split(text, ' '),
       |    ['the', 'a', 'of', 'and', 'to'])) AS BIGINT) AS en_stopwords,
       |  CASE WHEN len(list_intersect(string_split(text, ' '),
       |    ['the', 'a', 'of', 'and', 'to'])) > 0
       |    THEN 'en' ELSE 'unknown' END AS predicted_lang
       |FROM documents ORDER BY doc_id""".stripMargin

  // ---- llm_lang_confusion: language-ID audit matrix ------------------
  // The evaluation view of the langid heuristic: predicted language
  // vs the corpus's recorded `lang` column, as a confusion matrix with
  // per-recorded-language rates. The audit a pipeline runs before
  // trusting a classifier for filtering — the same groupBy shape
  // serves any (predicted, actual) column pair. Rates are ratios of
  // exact integer counts presented via the exact-integer HALF_UP
  // discipline (tieprobe r10 found a LIVE tie at sf0.01 — rate
  // 0.90625 = 29/32 — and round(double) tie direction is engine-
  // version-dependent); one scan, one tiny exchange.
  private val langConfusion: Q = (s, dir) =>
    t(s, dir, "documents")
      .select(col("lang"),
        when(size(array_intersect(split(col("text"), " "),
          array(stop.map(lit): _*))) > 0, lit("en"))
          .otherwise(lit("unknown")).as("predicted_lang"))
      .groupBy(col("lang"), col("predicted_lang"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("rate", halfUp(col("n_docs"),
        sum(col("n_docs")).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("lang"))), 4))
      .orderBy(col("lang"), col("predicted_lang"))

  private val langConfusionSql =
    """WITH p AS (
      |  SELECT lang,
      |    CASE WHEN len(list_intersect(string_split(text, ' '),
      |      ['the', 'a', 'of', 'and', 'to'])) > 0
      |      THEN 'en' ELSE 'unknown' END AS predicted_lang
      |  FROM documents),
      |c AS (SELECT lang, predicted_lang, count(*) AS n_docs
      |      FROM p GROUP BY 1, 2)
      |SELECT lang, predicted_lang, n_docs,
      |  CAST((2 * n_docs * 10000 + sum(n_docs) OVER (PARTITION BY lang))
      |       // (2 * sum(n_docs) OVER (PARTITION BY lang)) AS DOUBLE)
      |    / 10000.0 AS rate
      |FROM c ORDER BY lang, predicted_lang""".stripMargin

  // ---- text analysis: quality scoring ---------------------------------
  private val quality: Q = (s, dir) =>
    t(s, dir, "documents")
      .withColumn("tk", split(col("text"), " "))
      .withColumn("n_tokens", size(col("tk")).cast(LongType))
      .withColumn("stop_hits",
        size(array_intersect(col("tk"), array(stop.map(lit): _*)))
          .cast(LongType))
      .select(col("doc_id"), col("n_tokens"),
        (length(regexp_replace(col("text"), " ", "")).cast(DoubleType) /
          col("n_tokens")).as("chars_per_token"),
        (col("stop_hits").cast(DoubleType) / col("n_tokens"))
          .as("stopword_ratio"))
      .orderBy(col("doc_id"))

  private val qualitySql =
    """SELECT doc_id,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |  CAST(length(replace(text, ' ', '')) AS DOUBLE) /
      |    len(string_split(text, ' ')) AS chars_per_token,
      |  CAST(len(list_intersect(string_split(text, ' '),
      |    ['the', 'a', 'of', 'and', 'to'])) AS DOUBLE) /
      |    len(string_split(text, ' ')) AS stopword_ratio
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---- llm_score_calibration: ECE of a quality/langid scorer ---------
  // The eval-family calibration leg (round 13): treat the stopword
  // ratio as a [0,1] "is-English" score (the langid heuristic's
  // continuous form), bin it into 10 equal-width confidence buckets,
  // and report per-bin confidence vs observed accuracy plus the
  // Expected Calibration Error Σ (n_b/n)·|acc_b − conf_b| — the
  // metric a pipeline checks before using a scorer's VALUE as a
  // probability (thresholding only needs ranking; mixing/weighting by
  // score needs calibration).
  //
  // Determinism: score = integer-ratio double (one division, IEEE-
  // identical both engines); bin = least(floor(score·10), 9) on that
  // exact double; per-bin score sums ride DECIMAL(20,12) (the bm25
  // discipline) so partial-aggregation order cannot move a bit; the
  // ECE contributions are one mirrored double tree, DECIMAL-summed
  // over the ≤10 bins, rounded to 6. Null/empty texts are filtered on
  // BOTH sides (Spark's size(split(NULL)) is −1 while DuckDB's
  // len/0-division is ±inf — the one construct pair that could
  // diverge). Scale: one corpus pass + a 10-row aggregate.
  /** The per-bin calibration cells (bin, n_docs, ssum, npos) — the
    * PURELY ADDITIVE state the streaming maintainer
    * (`streaming.CalibrationStream`, 25th) merges per batch; one
    * shared definition so the pair cannot drift. ssum rides a FIXED
    * DECIMAL(38, 12) so merged state never widens its schema. */
  private[graft] def calibrationCells(documents: DataFrame): DataFrame =
    documents
      .withColumn("tk", split(col("text"), " "))
      .filter(col("text").isNotNull && size(col("tk")) >= 1)
      .select(col("lang"),
        (size(array_intersect(col("tk"), array(stop.map(lit): _*)))
          .cast(DoubleType) / size(col("tk"))).as("score"))
      .select(least(floor(col("score") * 10), lit(9.0))
          .cast(LongType).as("bin"),
        col("score"),
        when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("score").cast(DecimalType(20, 12)))
          .cast(DecimalType(38, 12)).as("ssum"),
        sum(col("pos")).as("npos"))

  /** The served report (bin, n_docs, avg_score, pos_rate, ece) from
    * the cells — shared by the one-shot key and the maintainer's
    * serving view (identical expression trees by construction). */
  private[graft] def calibrationReportOf(cells: DataFrame): DataFrame = {
    val tot = cells.agg(sum(col("n_docs")).as("n"))
    val ece = cells.crossJoin(broadcast(tot))
      .agg(round(sum(
        ((col("n_docs").cast(DoubleType) / col("n")) *
          abs(col("npos").cast(DoubleType) / col("n_docs") -
            col("ssum").cast(DoubleType) / col("n_docs")))
          .cast(DecimalType(20, 12))).cast(DoubleType), 6).as("ece"))
    cells.crossJoin(broadcast(ece))
      .select(col("bin"), col("n_docs"),
        round(col("ssum").cast(DoubleType) / col("n_docs"), 6)
          .as("avg_score"),
        round(col("npos").cast(DoubleType) / col("n_docs"), 6)
          .as("pos_rate"),
        col("ece"))
      .orderBy(col("bin"))
  }

  private val calibration: Q = (s, dir) =>
    calibrationReportOf(calibrationCells(t(s, dir, "documents")))

  private val calibrationSql = {
    val stopLit = stop.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""WITH sc AS (
       |  SELECT lang,
       |    CAST(len(list_intersect(string_split(text, ' '), $stopLit))
       |      AS DOUBLE) / len(string_split(text, ' ')) AS score
       |  FROM documents
       |  WHERE text IS NOT NULL AND len(string_split(text, ' ')) >= 1),
       |b AS (
       |  SELECT CAST(least(floor(score * 10), 9) AS BIGINT) AS bin,
       |    CAST(count(*) AS BIGINT) AS n_docs,
       |    sum(CAST(score AS DECIMAL(20,12))) AS ssum,
       |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
       |      AS npos
       |  FROM sc GROUP BY 1),
       |t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n FROM b),
       |e AS (
       |  SELECT round(CAST(sum(CAST(
       |      (CAST(n_docs AS DOUBLE) / n) *
       |        abs(CAST(npos AS DOUBLE) / n_docs
       |          - CAST(ssum AS DOUBLE) / n_docs)
       |      AS DECIMAL(20,12))) AS DOUBLE), 6) AS ece
       |  FROM b, t)
       |SELECT bin, n_docs,
       |  round(CAST(ssum AS DOUBLE) / n_docs, 6) AS avg_score,
       |  round(CAST(npos AS DOUBLE) / n_docs, 6) AS pos_rate,
       |  ece
       |FROM b, e ORDER BY bin""".stripMargin
  }

  // ---- text analysis: Gopher-style rule filter ------------------------
  // The MassiveText/Gopher document-quality RULE SET (Rae et al. 2021,
  // App. A): hard thresholds on word count, mean word length, stopword
  // presence and alphabetic-word fraction, each surfaced as a named
  // boolean column plus the conjunctive keep verdict — the audit shape
  // a curation pipeline wants (per-rule pass rates, not just a filter).
  // Thresholds are the published ones except the word-count floor
  // (Gopher's 50 → 20 here; the fixture docs are short). Pure per-row
  // scan+project: zero exchanges, embarrassingly parallel at any
  // scale, and the verdict columns compress to almost nothing in a
  // columnar sink. mean_word_len and alpha_frac are integer ratios,
  // presented via the exact-integer HALF_UP discipline — tieprobe r10
  // found a LIVE round(double) tie at sf0.01 (4.40625, denominator
  // 32), and double-round tie direction is engine-version-dependent;
  // the rule predicates evaluate the PRESENTED values so decisions
  // stay mirrored.
  private val gopher: Q = (s, dir) =>
    t(s, dir, "documents")
      .withColumn("tk", split(col("text"), " "))
      .withColumn("n_tokens", size(col("tk")).cast(LongType))
      .withColumn("mwl", halfUp(
        length(regexp_replace(col("text"), " ", "")), col("n_tokens"), 4))
      .withColumn("n_stop_kinds",
        size(array_intersect(col("tk"), array(stop.map(lit): _*)))
          .cast(LongType))
      .withColumn("alpha_frac", halfUp(
        size(filter(col("tk"), x => x.rlike("[a-z]"))), col("n_tokens"), 4))
      .withColumn("r_wordcount",
        col("n_tokens") >= 20 && col("n_tokens") <= 100000)
      .withColumn("r_meanlen", col("mwl") >= 3.0 && col("mwl") <= 10.0)
      .withColumn("r_stopwords", col("n_stop_kinds") >= 2L)
      .withColumn("r_alpha", col("alpha_frac") >= 0.8)
      .select(col("doc_id"), col("n_tokens"),
        col("mwl").as("mean_word_len"), col("n_stop_kinds"),
        col("r_wordcount"), col("r_meanlen"), col("r_stopwords"),
        col("r_alpha"),
        (col("r_wordcount") && col("r_meanlen") && col("r_stopwords") &&
          col("r_alpha")).as("keep"))
      .orderBy(col("doc_id"))

  private val gopherSql =
    """WITH base AS (
      |  SELECT doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |    CAST((2 * length(replace(text, ' ', '')) * 10000
      |          + len(string_split(text, ' ')))
      |         // (2 * len(string_split(text, ' '))) AS DOUBLE)
      |      / 10000.0 AS mean_word_len,
      |    CAST(len(list_intersect(string_split(text, ' '),
      |      ['the', 'a', 'of', 'and', 'to'])) AS BIGINT) AS n_stop_kinds,
      |    CAST((2 * len(list_filter(string_split(text, ' '),
      |           x -> regexp_matches(x, '[a-z]'))) * 10000
      |          + len(string_split(text, ' ')))
      |         // (2 * len(string_split(text, ' '))) AS DOUBLE)
      |      / 10000.0 AS alpha_frac
      |  FROM documents)
      |SELECT doc_id, n_tokens, mean_word_len, n_stop_kinds,
      |  (n_tokens >= 20 AND n_tokens <= 100000) AS r_wordcount,
      |  (mean_word_len >= 3.0 AND mean_word_len <= 10.0) AS r_meanlen,
      |  (n_stop_kinds >= 2) AS r_stopwords,
      |  (alpha_frac >= 0.8) AS r_alpha,
      |  (n_tokens >= 20 AND n_tokens <= 100000
      |    AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
      |    AND n_stop_kinds >= 2 AND alpha_frac >= 0.8) AS keep
      |FROM base ORDER BY doc_id""".stripMargin

  // ---- text analysis: within-document repetition (Gopher-style) -------
  // The repetition quality filter from published web-corpus pipelines
  // (Gopher's "repetitious text" signals — fraction of the document
  // taken by its most common 2-gram, fraction of duplicated 3-grams;
  // MassiveText applies thresholds on exactly these): both fractions
  // come from one per-row pass over the token array — bigram counts
  // via the WordCounts map expression, distinct trigrams via the
  // WordShingles set expression (string-exact, no hash domain) — so
  // the plan is a pure scan+project with ZERO exchanges: at 100 TB
  // this is embarrassingly parallel, the ideal shape for a corpus-wide
  // quality sweep. Thresholds (0.20 / 0.30) are fixed constants of the
  // operator; fractions are integer ratios presented via the
  // exact-integer HALF_UP discipline (tieprobe r10: live tie 1/32 at
  // sf0.01 — round(double) tie direction is engine-version-dependent)
  // and the flag is 0/1 BIGINT evaluated on the presented values, so
  // decisions stay mirrored.
  /** Repetition signals over any (doc_id, text) frame — the table
    * query below plus a unit-test surface for the tiny hand-computed
    * fixtures in QueriesSpec. */
  private[graft] def repetitionOf(docs: DataFrame): DataFrame =
    docs
      .withColumn("tk", split(col("text"), " "))
      .filter(size(col("tk")) >= 3)
      .withColumn("bi", transform(
        sequence(lit(0), size(col("tk")) - 2),
        i => concat_ws(" ",
          element_at(col("tk"), i + 1), element_at(col("tk"), i + 2))))
      .withColumn("ntri",
        size(graft.functions.Shingles.word_shingles(col("tk"), 3))
          .cast(LongType))
      .withColumn("nt", size(col("tk")).cast(LongType))
      .withColumn("top_bigram_frac", halfUp(
        array_max(map_values(
          graft.functions.TokenOps.word_counts(col("bi")))),
        col("nt") - 1, 4))
      .withColumn("dup_trigram_frac", halfUp(
        col("nt") - 2 - col("ntri"), col("nt") - 2, 4))
      .select(col("doc_id"), col("top_bigram_frac"), col("dup_trigram_frac"),
        when(col("top_bigram_frac") > 0.2 || col("dup_trigram_frac") > 0.3,
          1L).otherwise(0L).as("repetitive"))
      .orderBy(col("doc_id"))

  private val repetition: Q = (s, dir) => repetitionOf(t(s, dir, "documents"))

  private val repetitionSql =
    """WITH tk AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
      |  WHERE len(string_split(text, ' ')) >= 3),
      |bg AS (
      |  SELECT doc_id, unnest(list_transform(range(1, len(w)),
      |    i -> w[i] || ' ' || w[i+1])) AS g
      |  FROM tk),
      |bc AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2),
      |top AS (
      |  SELECT doc_id,
      |    CAST((2 * max(c) * 10000 + CAST(sum(c) AS BIGINT))
      |         // (2 * CAST(sum(c) AS BIGINT)) AS DOUBLE) / 10000.0
      |      AS top_bigram_frac
      |  FROM bc GROUP BY doc_id),
      |tg AS (
      |  SELECT doc_id,
      |    CAST((2 * (len(w) - 2 - len(list_distinct(list_transform(
      |            range(1, len(w) - 1),
      |            i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))))
      |          * 10000 + (len(w) - 2))
      |         // (2 * (len(w) - 2)) AS DOUBLE) / 10000.0
      |      AS dup_trigram_frac
      |  FROM tk)
      |SELECT doc_id, top_bigram_frac, dup_trigram_frac,
      |  CAST(CASE WHEN top_bigram_frac > 0.2 OR dup_trigram_frac > 0.3
      |    THEN 1 ELSE 0 END AS BIGINT) AS repetitive
      |FROM top JOIN tg USING (doc_id) ORDER BY doc_id""".stripMargin

  // ---- text analysis: token entropy (lexical diversity) ---------------
  // Shannon entropy of the document's unigram distribution — the
  // standard lexical-diversity quality signal (low entropy = generated
  // / boilerplate text). H = ln(n) − Σ c·ln(c) / n from the same
  // per-row WordCounts map, folded sequentially (deterministic FP
  // order); again a zero-exchange scan. The DuckDB twin groups
  // per (doc, token) — its sum order differs, so the output rides the
  // round-to-4-decimals recipe (term-count ≤ 100 on fixtures keeps the
  // accumulated ulp error ~1e-13, far under the rounding grain).
  private val entropy: Q = (s, dir) => {
    val tk = split(col("text"), " ")
    val cnts = map_values(graft.functions.TokenOps.word_counts(tk))
    val n = size(tk).cast(DoubleType)
    t(s, dir, "documents")
      // NULL text: the oracle's unnest+join drops the doc; match it
      // (instead of emitting a row of NULL metrics)
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        size(tk).cast(LongType).as("n_tokens"),
        size(cnts).cast(LongType).as("n_types"),
        round(log(n) - aggregate(cnts, lit(0.0),
          (acc, c) => acc + c.cast(DoubleType) * log(c.cast(DoubleType)))
          / n, 4).as("token_entropy"))
      .orderBy(col("doc_id"))
  }

  private val entropySql =
    """WITH n AS (
      |  SELECT doc_id, len(string_split(text, ' ')) AS n FROM documents),
      |w AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      |  FROM documents),
      |c AS (SELECT doc_id, tok, count(*) AS c FROM w GROUP BY 1, 2)
      |SELECT doc_id,
      |  CAST(any_value(n) AS BIGINT) AS n_tokens,
      |  CAST(count(*) AS BIGINT) AS n_types,
      |  round(ln(any_value(n)) - sum(c * ln(c)) / any_value(n), 4)
      |    AS token_entropy
      |FROM c JOIN n USING (doc_id)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---- text analysis: token counts per source -------------------------
  private val tokenCount: Q = (s, dir) =>
    t(s, dir, "documents")
      .withColumn("n_tokens", size(split(col("text"), " ")).cast(LongType))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"))
      .orderBy(col("source"))

  private val tokenCountSql =
    """SELECT source, count(*) AS n_docs,
      |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  // ---- text analysis: document fingerprinting -------------------------
  private val fingerprint: Q = (s, dir) =>
    t(s, dir, "documents")
      .select(col("doc_id"),
        md5(encode(lower(col("text")), "UTF-8")).as("fp"),
        col("n_chars"))
      .orderBy(col("doc_id"))

  private val fingerprintSql =
    """SELECT doc_id, md5(lower(text)) AS fp, n_chars
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---- text analysis: winnowing fingerprints (rolling hash) ----------
  // The MOSS algorithm (Schleimer et al., SIGMOD'03): O(n) Rabin-Karp
  // rolling hash over 8-char windows + sliding-minimum winnowing
  // (functions.WinnowFingerprints, custom codegen expression). The
  // oracle recomputes every window hash positionally (O(n·k) — fine
  // for an oracle) and winnows with a ROWS-frame window min: exact
  // integer equality end to end. Guarantee: docs sharing ≥23
  // consecutive chars share a fingerprint; ≥1 hash kept per 16
  // positions (density bound).
  private val winnowFp: Q = (s, dir) =>
    t(s, dir, "documents")
      .select(col("doc_id"),
        explode(graft.functions.WinnowFingerprints
          .winnow_fingerprints(col("text"))).as("fp"))
      .orderBy(col("doc_id"), col("fp"))

  private val winnowFpSql =
    """WITH h AS (
      |  SELECT doc_id, i,
      |    (CAST(ord(substring(text, CAST(i AS INT), 1)) AS BIGINT) * 623063367
      |   + CAST(ord(substring(text, CAST(i + 1 AS INT), 1)) AS BIGINT) * 336663071
      |   + CAST(ord(substring(text, CAST(i + 2 AS INT), 1)) AS BIGINT) * 168429323
      |   + CAST(ord(substring(text, CAST(i + 3 AS INT), 1)) AS BIGINT) * 67503107
      |   + CAST(ord(substring(text, CAST(i + 4 AS INT), 1)) AS BIGINT) * 16974593
      |   + CAST(ord(substring(text, CAST(i + 5 AS INT), 1)) AS BIGINT) * 66049
      |   + CAST(ord(substring(text, CAST(i + 6 AS INT), 1)) AS BIGINT) * 257
      |   + CAST(ord(substring(text, CAST(i + 7 AS INT), 1)) AS BIGINT)) % 2147483647 AS hv,
      |    len(text) - 7 AS nh
      |  FROM documents, unnest(generate_series(1, len(text) - 7)) AS t(i)
      |  WHERE len(text) >= 8),
      |wm AS (
      |  SELECT doc_id, i, nh,
      |    min(hv) OVER (PARTITION BY doc_id ORDER BY i
      |      ROWS BETWEEN CURRENT ROW AND 15 FOLLOWING) AS fp
      |  FROM h)
      |SELECT DISTINCT doc_id, fp FROM wm WHERE i <= nh - 15
      |ORDER BY doc_id, fp""".stripMargin

  // ---- fuzzy dedup: winnow-fingerprint overlap pairs -----------------
  // The MOSS use-case: doc pairs sharing >= 5 winnowed fingerprints —
  // detects partial overlap/containment (a long passage copied into an
  // otherwise-different doc), which whole-document Jaccard similarity
  // under-scores. Same scale shape as the jaccard pipeline: per-doc
  // fingerprints (per-row compute) → posting lists per fingerprint
  // (one aggregation; hot prints df-capped at 64 like hot shingles) →
  // compiled flatMap pair expansion → pair count. Never corpus².
  // shared with streaming.WinnowIndexStream (the incremental
  // maintainer must apply the identical cap/threshold or parity breaks)
  private[graft] val WinnowDfCap = 64
  private[graft] val WinnowMinShared = 5

  private[graft] def winnowPairsFor(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val fps = documents
      .select(col("doc_id"),
        explode(graft.functions.WinnowFingerprints
          .winnow_fingerprints(col("text"))).as("fp"))
    val posting = fps
      .groupBy(col("fp"))
      .agg(collect_list(col("doc_id")).as("ds"))
      .filter(size(col("ds")).between(2, WinnowDfCap))
    posting.select(col("ds")).as[Seq[Long]]
      .flatMap { ds =>
        val sorted = ds.sorted
        for {
          i <- sorted.indices.iterator
          j <- (i + 1 until sorted.size).iterator
        } yield (sorted(i), sorted(j))
      }
      .toDF("a_id", "b_id")
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= WinnowMinShared)
  }

  // like the MinHash verified-pair set above, the fingerprint-overlap
  // pair set IS the MOSS index a plagiarism/overlap pipeline builds
  // once per corpus snapshot and serves many views from (output
  // bounded: df-capped pairs sharing ≥5 prints, ≪ corpus)

  /** Session-persisted winnow-fingerprint overlap pairs for
    * `documents` (build-once overlap index; see note above). */
  private[queries] def winnowPairs(documents: DataFrame): DataFrame =
    ArtifactStore.frame("winnow_pairs", documents)(winnowPairsFor(documents))

  private val winnowNeardup: Q = (s, dir) =>
    winnowPairs(t(s, dir, "documents"))
      .orderBy(col("a_id"), col("b_id"))

  private val winnowNeardupSql = {
    val fpsCte = winnowFpSql
      .replaceAll("\nORDER BY doc_id, fp$", "")
      .replace("  FROM h)\nSELECT DISTINCT doc_id, fp FROM wm WHERE i <= nh - 15",
        "  FROM h),\nfps AS (SELECT DISTINCT doc_id, fp FROM wm WHERE i <= nh - 15)")
      .replace("WITH h AS", "h AS")
    s"""WITH $fpsCte,
       |ok AS (SELECT fp FROM fps GROUP BY fp
       |       HAVING count(*) BETWEEN 2 AND 64)
       |SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS shared
       |FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |WHERE a.fp IN (SELECT fp FROM ok)
       |GROUP BY 1, 2 HAVING count(*) >= 5
       |ORDER BY a_id, b_id""".stripMargin
  }

  // dedup APPLIED: drop the higher-id doc of every near-dup pair
  // (J >= 0.6) plus exact-dup copies, count the surviving corpus per
  // language — the operator a curation pipeline actually ships.
  // Losers come from the LSH candidate pipeline (banded MinHash →
  // exact verify), NOT the all-pairs shingle join: this is the 100 TB
  // path (VERDICT r1 #3). Output equals exact Jaccard dedup whenever
  // LSH recall is 1 — with 32 bands × 2 rows the miss probability of
  // a J=0.6 pair is (1-0.6²)³² ≈ 6e-7, and recall is exactly 1 on
  // the fixtures (r1 correctness: llm_minhash_lsh_dedup hash-matched
  // the brute-force Jaccard oracle).
  private val dedupApply: Q = (s, dir) => {
    val losers = lshVerifiedPairs(t(s, dir, "documents"))
      .select(col("b_id").as("doc_id"))
      .distinct()
    // round-13 (VERDICT r12 #1): no broadcast hint — "losers ≪ corpus"
    // is the SPARSE-dup contract, and on a 30-60 % near-dup web crawl
    // losers is O(corpus); a forced hint would OOM there instead of
    // degrading. The loser set sits behind its distinct's exchange, so
    // AQE reads its true runtime size: broadcast-anti under the
    // threshold (pinned in DedupScaleSpec), shuffle-anti beyond it.
    t(s, dir, "documents")
      .join(losers, Seq("doc_id"), "left_anti")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang"))
  }

  private val dedupApplySql =
    """WITH tok AS (
      |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
      |  WHERE len(string_split(text, ' ')) >= 3),
      |sh AS (
      |  SELECT DISTINCT doc_id,
      |    unnest([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
      |            for i in generate_series(1, len(tk)-2)]) AS s
      |  FROM tok),
      |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |pr AS (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |losers AS (
      |  SELECT DISTINCT b_id AS doc_id
      |  FROM pr JOIN sz sa ON sa.doc_id = a_id JOIN sz sb ON sb.doc_id = b_id
      |  WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.6)
      |SELECT lang, count(*) AS n_docs FROM documents d
      |WHERE NOT EXISTS (SELECT 1 FROM losers l WHERE l.doc_id = d.doc_id)
      |GROUP BY lang ORDER BY lang""".stripMargin

  // near-dup CLUSTERS: connected components over the verified
  // near-dup pair graph. Pairwise dedup mishandles chains (a~b, b~c
  // but not a~c): the cluster view collapses each component to one
  // keeper. Components come from operators.ConnectedComponents: the
  // verified-pair graph is orders of magnitude smaller than the
  // corpus, so it almost always takes the single-job union-find path
  // (one executor partition, no iteration — the r3 iterative loop's
  // ~10 sequential job barriers each ate a straggler hit under host
  // contention, benching 66 s where a single job runs in ~1 s); a
  // graph past the edge cap falls back to distributed min-label
  // propagation that THROWS on non-convergence (ADVICE r3).
  private[queries] def dedupClustersFor(documents: DataFrame): DataFrame =
    graft.operators.ConnectedComponents
      .clusters(lshVerifiedPairs(documents).select(col("a_id"), col("b_id")))
      .orderBy(col("keeper_id"))

  private val dedupClusters: Q = (s, dir) =>
    dedupClustersFor(t(s, dir, "documents"))

  // ---- llm_dedup_stats: the dedup summary report ---------------------
  // The one-row report a curation run publishes before applying
  // dedup: corpus size, near-dup cluster census (count / clustered
  // docs / largest cluster), and BOTH drop policies' counts — both
  // derived from the session verified-pair index (eighth consumer):
  //   n_dropped          = Σ(cluster_size − 1), the CLUSTER-COLLAPSE
  //                        policy (llm_dedup_clusters: one keeper per
  //                        component); dedup_ratio divides THIS count.
  //   n_dropped_pairwise = |distinct b_id| over the verified pairs —
  //                        EXACTLY the loser set llm_dedup_apply
  //                        anti-joins away. For a star component whose
  //                        hub carries the max id (pairs (1,3),(2,3))
  //                        collapse drops 2 docs but pairwise apply
  //                        drops only doc 3, so the two counts are
  //                        published side by side instead of one
  //                        silently standing in for the other.
  // Exact integer counts; the ratio is the single final division both
  // engines round identically.
  private val dedupStats: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val nd = docs.agg(count(lit(1)).as("n_docs"))
    val pw = lshVerifiedPairs(docs)
      .agg(count_distinct(col("b_id")).cast(LongType)
        .as("n_dropped_pairwise"))
    dedupClustersFor(docs)
      .agg(count(lit(1)).as("n_clusters"),
        coalesce(sum(col("cluster_size")), lit(0L)).cast(LongType)
          .as("n_clustered"),
        coalesce(sum(col("cluster_size") - 1), lit(0L)).cast(LongType)
          .as("n_dropped"),
        coalesce(max(col("cluster_size")), lit(0L)).cast(LongType)
          .as("max_cluster"))
      .crossJoin(broadcast(nd))
      .crossJoin(broadcast(pw))
      .select(col("n_docs"), col("n_clusters"), col("n_clustered"),
        col("n_dropped"), col("n_dropped_pairwise"), col("max_cluster"),
        // try_divide: the empty-corpus report keeps its row with a
        // NULL ratio instead of an ANSI divide-by-zero (EmptyInputSpec)
        round(try_divide(col("n_dropped").cast(DoubleType),
          col("n_docs")), 6).as("dedup_ratio"))
  }

  // the CTE chain shared by the clusters and stats oracles — exact-
  // Jaccard verified pairs → undirected edges → transitive reach →
  // component labels. A NAMED constant both oracles interpolate
  // (ADVICE r7: the previous substring-slice of the finished clusters
  // SQL would silently corrupt the stats oracle on any rewording).
  private val dedupComponentsCte =
    """WITH RECURSIVE tok AS (
      |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
      |  WHERE len(string_split(text, ' ')) >= 3),
      |sh AS (
      |  SELECT DISTINCT doc_id,
      |    unnest([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
      |            for i in generate_series(1, len(tk)-2)]) AS s
      |  FROM tok),
      |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |pr AS (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |pairs AS (
      |  SELECT a_id, b_id
      |  FROM pr JOIN sz sa ON sa.doc_id = a_id JOIN sz sb ON sb.doc_id = b_id
      |  WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.6),
      |e AS (SELECT a_id AS s, b_id AS d FROM pairs
      |      UNION ALL SELECT b_id, a_id FROM pairs),
      |reach AS (
      |  SELECT s, d FROM e
      |  UNION
      |  SELECT r.s, e.d FROM reach r JOIN e ON r.d = e.s),
      |comp AS (
      |  SELECT s AS id, least(s, min(d)) AS lbl FROM reach GROUP BY s)""".stripMargin

  // ---- llm_split_leakage_safe: cluster-aware train/val/test split ----
  // The dedup-correct split: hash-splitting DOCUMENTS leaks near-dups
  // across train/test (a train doc's near-copy in test inflates every
  // eval number), so the split unit is the NEAR-DUP COMPONENT — every
  // doc inherits the split of its cluster root (singletons root at
  // themselves), and the 80/10/10 assignment hashes the ROOT with the
  // house md5 integer. Append-stable like llm_shard_manifest's
  // membership: a new doc joins its cluster's split, and an
  // unclustered doc's split never depends on corpus size. Leakage-
  // freedom holds BY CONSTRUCTION (split is a function of root) and
  // is still PRESENTED as a checked verdict — the engine counts roots
  // spanning >1 split and the oracle recomputes the same count, so a
  // regression in the root join flips a visible boolean instead of
  // silently contaminating eval. Scale: the component labels frame is
  // verified-pairs-sized (≪ corpus, broadcast); the corpus is touched
  // by one hash projection + two map-side-combinable aggregations.
  /** The house 80/10/10 split bucket: md5 of the (root) id's decimal
    * string, first 15 hex digits as an integer, mod 10 — the
    * append-stable membership hash (q107 spelling). Shared with the
    * streaming maintainer (`streaming.SplitStream`) so the served and
    * one-shot assignments agree bit-for-bit. */
  private[graft] def splitBucketOf(x: Column): Column =
    conv(substring(md5(x.cast(StringType)), 1, 15), 16, 10)
      .cast(LongType) % 10

  /** Bucket → split name: 0-7 train, 8 val, 9 test. */
  private[graft] def splitNameOf(bucket: Column): Column =
    when(bucket < 8, lit("train"))
      .when(bucket === 8, lit("val"))
      .otherwise(lit("test"))

  private val splitLeakageSafe: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val labels = graft.operators.ConnectedComponents
      .of(lshVerifiedPairs(docs).select(col("a_id"), col("b_id")))
      .withColumnRenamed("id", "doc_id")
    // round-13 (VERDICT r12 #1): NO broadcast hint on the labels join.
    // The component-labels frame is one row per doc in ANY verified
    // near-dup pair — small on a lightly-duplicated corpus, but real
    // web crawls run 30-60 % near-dup, where labels grow O(corpus)
    // and a FORCED broadcast OOMs instead of degrading. The join sits
    // above the pair pipeline's exchanges, so AQE sees the labels
    // frame's true runtime size and picks broadcast-hash under the
    // threshold (pinned in DedupScaleSpec) or degrades to a shuffle
    // join on a heavy-dup corpus — never a driver/executor OOM.
    val rooted = docs.select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("lbl"), col("doc_id")).as("root"))
    val spl = rooted.withColumn("split",
      splitNameOf(splitBucketOf(col("root"))))
    val leak = spl.groupBy(col("root"))
      .agg(count_distinct(col("split")).as("ns"))
      .agg(coalesce(sum(when(col("ns") > 1, lit(1L))), lit(0L))
        .as("n_leaky"))
    spl.groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        count_distinct(col("root")).as("n_groups"))
      .crossJoin(broadcast(leak))
      .select(col("split"), col("n_docs"), col("n_groups"),
        (col("n_leaky") === 0L).as("leakage_free"))
      .orderBy(col("split"))
  }

  // oracle: the shared component chain, roots via left join, the
  // q107 md5-integer spelling over the root, and the same leak count
  private val splitLeakageSafeSql =
    dedupComponentsCte + ",\n" +
      """rooted AS (
        |  SELECT d.doc_id, COALESCE(c.lbl, d.doc_id) AS root
        |  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id),
        |hb AS (
        |  SELECT doc_id, root,
        |    CAST(list_sum([CAST(strpos('0123456789abcdef',
        |        substr(md5(CAST(root AS VARCHAR)), i, 1)) - 1 AS BIGINT)
        |        * (1::BIGINT << (4 * (15 - i)))
        |      for i in generate_series(1, 15)]) AS BIGINT) % 10 AS b
        |  FROM rooted),
        |spl AS (
        |  SELECT doc_id, root,
        |    CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM hb),
        |leak AS (
        |  SELECT COALESCE(CAST(sum(CASE WHEN ns > 1 THEN 1 ELSE 0 END)
        |    AS BIGINT), 0) AS n_leaky
        |  FROM (SELECT root, count(DISTINCT split) AS ns FROM spl
        |        GROUP BY root))
        |SELECT split, count(*) AS n_docs,
        |  CAST(count(DISTINCT root) AS BIGINT) AS n_groups,
        |  (SELECT n_leaky FROM leak) = 0 AS leakage_free
        |FROM spl GROUP BY split ORDER BY split""".stripMargin

  // oracle: transitive closure by recursive CTE over the same exact
  // Jaccard pairs, component label = min reachable id
  private val dedupClustersSql =
    dedupComponentsCte + "\n" +
      """SELECT lbl AS keeper_id, count(*) AS cluster_size
        |FROM comp GROUP BY lbl ORDER BY keeper_id""".stripMargin

  // aggregate ABOVE the shared chain so an empty cluster set still
  // yields the one-row report; pw counts the pairwise-apply losers
  // from the SAME pairs CTE
  private val dedupStatsSql =
    dedupComponentsCte + ",\n" +
      """cl AS (
        |  SELECT lbl AS keeper_id, count(*) AS cluster_size
        |  FROM comp GROUP BY lbl),
        |agg AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_clusters,
        |    COALESCE(CAST(sum(cluster_size) AS BIGINT), 0) AS n_clustered,
        |    COALESCE(CAST(sum(cluster_size - 1) AS BIGINT), 0)
        |      AS n_dropped,
        |    COALESCE(CAST(max(cluster_size) AS BIGINT), 0) AS max_cluster
        |  FROM cl),
        |pw AS (
        |  SELECT CAST(count(DISTINCT b_id) AS BIGINT)
        |    AS n_dropped_pairwise FROM pairs),
        |nd AS (SELECT count(*) AS n_docs FROM documents)
        |SELECT nd.n_docs, agg.n_clusters, agg.n_clustered, agg.n_dropped,
        |  pw.n_dropped_pairwise, agg.max_cluster,
        |  round(CAST(agg.n_dropped AS DOUBLE) / nd.n_docs, 6)
        |    AS dedup_ratio
        |FROM agg, nd, pw""".stripMargin

  // embedding L2 normalization (unit vectors for downstream cosine).
  // The unit vector is built with `transform` (the array op under
  // test), then posexploded to (idx, u) rows because the driver's
  // pandas comparator can't sort array cells.
  private val normalize: Q = (s, dir) => {
    val e = t(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"),
        sqrt(norm2(col("embedding"))).as("nrm"))
    e.select(col("vec_id"), col("nrm"),
      posexplode(transform(col("embedding"),
        x => x.cast(DoubleType) / col("nrm"))).as(Seq("idx", "u")))
      .withColumn("idx", col("idx").cast(LongType))
      .orderBy(col("vec_id"), col("idx"))
  }

  private val normalizeSql =
    """WITH e AS (
      |  SELECT vec_id,
      |    sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
      |                   for x in embedding])) AS nrm,
      |    [CAST(x AS DOUBLE) for x in embedding] AS ed
      |  FROM embeddings)
      |SELECT vec_id, nrm,
      |  CAST(unnest(generate_series(1, len(ed))) - 1 AS BIGINT) AS idx,
      |  unnest([x / nrm for x in ed]) AS u
      |FROM e ORDER BY vec_id, idx""".stripMargin

  // ---- llm_substring_dedup: span-level exact-duplicate detection ------
  // The "dedup repeated substrings" curation step (cf. Lee et al.,
  // "Deduplicating Training Data Makes Language Models Better"): a
  // token WINDOW (width 8, positional — multiplicity kept) is
  // duplicated when it occurs in >= 2 distinct documents; each doc
  // reports how much of it is cross-doc duplicated span. Distinct
  // from the Jaccard/MinHash family: those score whole-document
  // similarity, this localizes shared spans regardless of overall
  // similarity (boilerplate, quotes, templated text).
  //
  // Scale shape: WindowHashCounts collapses within-doc duplicates
  // map-side, so the wide exchange ships one 8-byte hash + count per
  // DISTINCT window per doc. The corpus's window rows shuffle on the
  // hash exactly once (the doc-frequency aggregation); the dup-window
  // set is small by construction (duplicated hashes only) and comes
  // back as a broadcast probe — AQE picks BroadcastHashJoin, and if
  // the dup set ever outgrew broadcast the join keys on the same hash
  // the aggregation exchange already produced (exchange reuse). Both
  // pinned in QueriesSpec. No df cap needed: there is no pair
  // expansion, cost is linear in windows with per-key fan-in bounded
  // by the aggregation's partial combine.
  private[queries] val SubstringW = 8

  private[queries] def substringDedupFor(documents: DataFrame,
      w: Int = SubstringW): DataFrame = {
    val docs = documents
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .filter(size(col("tk")) >= w)
      .select(col("doc_id"), size(col("tk")).as("ntk"),
        graft.functions.TokenOps.window_hash_counts(col("tk"), w).as("wc"))
    val wins = docs.select(col("doc_id"),
      explode(col("wc")).as(Seq("wh", "cnt")))
    // windows present in >= 2 distinct docs; wc keys are distinct per
    // doc, so count(*) counts documents
    val dups = wins.groupBy(col("wh"))
      .agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2)
    val per = wins.join(dups, "wh")
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).cast(LongType).as("nd_win"))
    docs.select(col("doc_id"),
        (col("ntk") - w + 1).cast(LongType).as("n_windows"))
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_windows"),
        coalesce(col("nd_win"), lit(0L)).as("n_dup_windows"),
        round(coalesce(col("nd_win"), lit(0L)).cast(DoubleType) /
          col("n_windows"), 4).as("dup_ratio"))
      .orderBy(col("doc_id"))
  }

  private val substringDedup: Q = (s, dir) =>
    substringDedupFor(t(s, dir, "documents"))

  private val substringDedupSql =
    s"""WITH tok AS (
       |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
       |  WHERE len(string_split(text, ' ')) >= $SubstringW),
       |win AS (
       |  SELECT doc_id,
       |    unnest([array_to_string(tk[i:i+${SubstringW - 1}], ' ')
       |            for i in generate_series(1, len(tk)-${SubstringW - 1})])
       |      AS w
       |  FROM tok),
       |dups AS (
       |  SELECT w FROM win GROUP BY w HAVING count(DISTINCT doc_id) >= 2),
       |per AS (
       |  SELECT doc_id, count(*) AS nd_win
       |  FROM win JOIN dups USING (w) GROUP BY doc_id)
       |SELECT t.doc_id,
       |  CAST(len(tk) - ${SubstringW - 1} AS BIGINT) AS n_windows,
       |  CAST(coalesce(nd_win, 0) AS BIGINT) AS n_dup_windows,
       |  round(CAST(coalesce(nd_win, 0) AS DOUBLE)
       |    / (len(tk) - ${SubstringW - 1}), 4) AS dup_ratio
       |FROM tok t LEFT JOIN per ON t.doc_id = per.doc_id
       |ORDER BY t.doc_id""".stripMargin

  // ---- llm_semdedup: semantic dedup over quantizer cells -------------
  // SemDeDup (Abbas et al. '23): embedding-space near-duplicates are
  // found WITHIN coarse-quantizer cells only — the pair join is
  // bounded by cell size, never corpus². This reuses the
  // session-persisted IVF cell assignment (Multimodal.ivfIndex: one
  // index serves ANN search and dedup), so the whole query is one
  // within-cell self-join + aggregation. Drop rule, deterministic:
  // a vector is dropped iff an EARLIER (smaller vec_id) vector of the
  // SAME cell has cosine >= tau; the reported witness is the smallest
  // such neighbor. Exact duplicates are always caught: an identical
  // vector has identical cosines, so the deterministic argmax puts it
  // in the same cell (pinned in MultimodalSpec, trained path).
  //
  // 100 TB: cells come from the trained k=sqrt(n) quantizer
  // (semdedupDrops is the serving path for ANY assignment — the spec
  // drives it with KMeans-trained cells); the fixture query keeps the
  // hash-seeded assignment so the DuckDB twin can rebuild the exact
  // cells in SQL (the annIvfSql CTE chain) — the q26/q52 pattern of
  // making even the approximate operator's OUTPUT exactly checkable.
  private val SemDedupTau = 0.3

  /** Dropped rows for a cell `assign`ment (vec_id, cid, embedding,
    * n2): (vec_id, cid, near_vec_id, n_earlier). */
  private[queries] def semdedupDrops(assign: DataFrame, tau: Double)
      : DataFrame = {
    val a = assign.select(col("cid"), col("vec_id").as("a_id"),
      col("embedding").as("ae"), col("n2").as("an2"))
    val b = assign.select(col("cid"), col("vec_id"),
      col("embedding").as("be"), col("n2").as("bn2"))
    a.join(b, "cid")
      .filter(col("a_id") < col("vec_id"))
      .filter(dot(col("ae"), col("be")) /
        (sqrt(col("an2")) * sqrt(col("bn2"))) >= tau)
      .groupBy(col("vec_id"), col("cid"))
      .agg(min(col("a_id")).as("near_vec_id"),
        count(lit(1)).as("n_earlier"))
      .orderBy(col("vec_id"))
  }

  private val semdedup: Q = (s, dir) =>
    semdedupDrops(Multimodal.ivfIndex(t(s, dir, "embeddings")).assign,
      SemDedupTau)

  // the apply form (detect + apply symmetry, like llm_dedup_apply for
  // MinHash-LSH): the kept corpus = embeddings anti-joined against
  // the drop set — at scale the drops ride the same shared IVF index,
  // so detect and apply are one pipeline with two outputs
  private val semdedupApply: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    val drops = semdedupDrops(Multimodal.ivfIndex(emb).assign, SemDedupTau)
    emb.join(drops.select(col("vec_id")), Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("label"))
      .orderBy(col("vec_id"))
  }

  private val semdedupApplySql =
    s"""$semdedupCellsSql,
       |dropped AS (
       |  SELECT DISTINCT vec_id FROM pairs WHERE cs >= $SemDedupTau)
       |SELECT emb.vec_id, emb.label FROM embeddings emb
       |WHERE NOT EXISTS (
       |  SELECT 1 FROM dropped d WHERE d.vec_id = emb.vec_id)
       |ORDER BY emb.vec_id""".stripMargin

  // the hash-seeded cell-assignment + within-cell pair CTE chain,
  // shared VERBATIM by the detect and apply oracles (one SQL twin of
  // semdedupDrops, like the engine side shares the one helper — a
  // one-sided edit could otherwise make detect and apply disagree)
  // a def, not a val: semdedupApplySql is declared earlier in the
  // object and a forward VAL reference would interpolate null
  private def semdedupCellsSql =
    s"""WITH e AS (
       |  SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS ed,
       |    list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
       |              for x in embedding]) AS n2
       |  FROM embeddings),
       |c AS (
       |  SELECT vec_id AS cid, ed AS ce, n2 AS cn2 FROM e
       |  ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 8),
       |dists AS (
       |  SELECT e.vec_id, e.ed, e.n2, c.cid,
       |    list_sum([e.ed[i] * c.ce[i]
       |      for i in generate_series(1, len(e.ed))]) /
       |      (sqrt(e.n2) * sqrt(c.cn2)) AS cs
       |  FROM e, c),
       |assign AS (
       |  SELECT vec_id, ed, n2, cid FROM (
       |    SELECT *, row_number() OVER (
       |      PARTITION BY vec_id ORDER BY cs DESC, cid) AS rn
       |    FROM dists) WHERE rn = 1),
       |pairs AS (
       |  SELECT a.vec_id AS a_id, b.vec_id AS vec_id, a.cid,
       |    list_sum([a.ed[i] * b.ed[i]
       |      for i in generate_series(1, len(a.ed))]) /
       |      (sqrt(a.n2) * sqrt(b.n2)) AS cs
       |  FROM assign a JOIN assign b
       |    ON a.cid = b.cid AND a.vec_id < b.vec_id)""".stripMargin

  private val semdedupSql =
    s"""$semdedupCellsSql
       |SELECT vec_id, cid, min(a_id) AS near_vec_id,
       |  CAST(count(*) AS BIGINT) AS n_earlier
       |FROM pairs WHERE cs >= $SemDedupTau
       |GROUP BY vec_id, cid ORDER BY vec_id""".stripMargin

  val queries: Map[String, Q] = Map(
    "llm_semdedup" -> semdedup,
    "llm_semdedup_apply" -> semdedupApply,
    "llm_substring_dedup" -> substringDedup,
    "llm_dedup_apply" -> dedupApply,
    "llm_normalize_embeddings" -> normalize,
    "q27_dedup_exact" -> q27,
    "q27b_dedup_keepers" -> q27b,
    "q28_text_stats" -> q28,
    "q29_similarity_topk" -> q29,
    "q30_neardup_pairs" -> q30,
    "llm_bitext_mine" -> bitextMine,
    "llm_bitext_mine_ivf" -> bitextMineIvf,
    "llm_bitext_mine_trained" -> bitextMineTrained,
    "llm_ngram_jaccard_dedup" -> ngramJaccard,
    "llm_minhash_lsh_dedup" -> minhashLsh,
    "llm_minhash_estimate" -> minhashEstimate,
    "llm_cosine_lsh_neardup" -> cosineLsh,
    "llm_chunk" -> chunk,
    "llm_pack_sequences" -> pack,
    "llm_shard_manifest" -> shardManifest,
    "llm_dedup_clusters" -> dedupClusters,
    "llm_dedup_stats" -> dedupStats,
    "llm_split_leakage_safe" -> splitLeakageSafe,
    "llm_simhash" -> simhash,
    "llm_langid" -> langid,
    "llm_quality_score" -> quality,
    "llm_score_calibration" -> calibration,
    "llm_gopher_rules" -> gopher,
    "llm_source_overlap" -> sourceOverlap,
    "llm_containment_dedup" -> containmentDedup,
    "llm_lang_confusion" -> langConfusion,
    "llm_repetition" -> repetition,
    "llm_token_entropy" -> entropy,
    "llm_token_count" -> tokenCount,
    "llm_fingerprint" -> fingerprint,
    "llm_winnow_fingerprint" -> winnowFp,
    "llm_winnow_neardup" -> winnowNeardup,
  )

  val oracles: Map[String, String] = Map(
    // hash-seeded cells rebuilt in SQL (annIvfSql CTE chain) — the
    // approximate operator's output is exactly checkable
    "llm_semdedup" -> semdedupSql,
    "llm_semdedup_apply" -> semdedupApplySql,
    // window hashing parity modulo 64-bit collisions (the
    // ShingleHashes contract)
    "llm_substring_dedup" -> substringDedupSql,
    "llm_dedup_apply" -> dedupApplySql,
    "llm_normalize_embeddings" -> normalizeSql,
    "q27_dedup_exact" -> q27Sql,
    "q27b_dedup_keepers" -> q27bSql,
    "q28_text_stats" -> q28Sql,
    "q29_similarity_topk" -> q29Sql,
    "q30_neardup_pairs" -> q30Sql,
    "llm_bitext_mine" -> bitextMineSql,
    "llm_bitext_mine_ivf" -> bitextMineIvfSql,
    "llm_bitext_mine_trained" -> bitextMineTrainedSql,
    "llm_ngram_jaccard_dedup" -> jaccardOracle,
    // minhash-lsh: exact-verified output; equals the brute-force
    // Jaccard result when LSH recall is 1 (verified on the fixtures)
    "llm_minhash_lsh_dedup" -> jaccardOracle,
    "llm_minhash_estimate" -> minhashEstimateSql,
    // cosine-lsh: exact-verified output; equals brute-force q30 when
    // SRP band recall is 1 (verified on the fixtures)
    "llm_cosine_lsh_neardup" -> q30Sql,
    "llm_chunk" -> chunkSql,
    "llm_pack_sequences" -> packSql,
    "llm_shard_manifest" -> shardManifestSql,
    // clusters: LSH-verified pairs equal exact-Jaccard pairs on the
    // fixtures (recall 1), so components over them match the oracle's
    // recursive closure over exact pairs
    "llm_dedup_clusters" -> dedupClustersSql,
    "llm_dedup_stats" -> dedupStatsSql,
    "llm_split_leakage_safe" -> splitLeakageSafeSql,
    "llm_simhash" -> simhashSql,
    "llm_langid" -> langidSql,
    "llm_quality_score" -> qualitySql,
    "llm_score_calibration" -> calibrationSql,
    "llm_gopher_rules" -> gopherSql,
    "llm_source_overlap" -> sourceOverlapSql,
    // df-capped postings vs the oracle's uncapped join: parity holds
    // when no shared shingle exceeds the cap (true on the fixtures,
    // pinned by the gate at all three SFs — same contract as jaccard)
    "llm_containment_dedup" -> containmentDedupSql,
    "llm_lang_confusion" -> langConfusionSql,
    "llm_repetition" -> repetitionSql,
    "llm_token_entropy" -> entropySql,
    "llm_token_count" -> tokenCountSql,
    "llm_fingerprint" -> fingerprintSql,
    "llm_winnow_fingerprint" -> winnowFpSql,
    "llm_winnow_neardup" -> winnowNeardupSql,
  )
}
