package graft.queries

import graft.{SparkEntry, SparkSpec}
import graft.operators.ArtifactStore
import org.apache.spark.sql.functions._

/** Inventory-wide invariants: every query runs on the smoke fixture,
  * every oracle key matches a query key, and the flagship entry
  * returns rows (the driver's t1 smoke check). Deep value-correctness
  * is the DuckDB gate (tools/check.py, driver t2) — not re-tested here.
  */
class QueriesSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  test("oracle keys are a subset of query keys") {
    val extra = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(extra.isEmpty, s"oracles without queries: $extra")
  }

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  // artifact name -> the keys whose invocation built or hit it
  private val touched =
    scala.collection.mutable.Map.empty[String, Set[String]]

  for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
    test(s"$name executes on the smoke fixture") {
      val before = ArtifactStore.stats
      val df = fn(spark, dir)
      assert(df.columns.nonEmpty)
      // empty results are legitimate for some dedup queries at this sf
      assert(df.count() >= 0)
      ArtifactStore.stats.foreach { case (a, n) =>
        if (!before.get(a).contains(n))
          touched(a) = touched.getOrElse(a, Set.empty[String]) + name
      }
    }
  }

  // Artifacts admitted with a single consumer (ArtifactStore's
  // admission rule): bounded statistics whose size does not grow with
  // the corpus rows.
  private val BoundedStatistics = Set(
    "bloom_filter", // driver-side sketch bytes of a dimension slice
    "cms_sketch", // 4 x 4096 counters
    "hot_keys", // at most maxHotKeys keys
    "label_centroids", // one row per label
    "lm_hist", // one row per distinct rounded score
    "mg_sketch", // 64 counters
    "opq_perm", // one row: the dimension permutation
    "pca_pc1", // one vector of the embedding width
    "psi_cells", // sources x 10 buckets
    "row_count", // one number
    "seasonal_profile") // event types x hour slots

  // Single-consumer indexes that break the rule and are kept for a
  // stated reason; the test pins this set so it can only shrink.
  private val HeldIndexes = Set(
    // the benchmark panel's llm_containment_dedup serves from it
    "pair_stats",
    // the winnow served-view test below asserts on the stored index
    "winnow_pairs")

  test("every artifact serves at least 2 distinct keys or is a bounded " +
    "statistic") {
    assert(touched.nonEmpty, "runs after the per-key loop above")
    // a key served a derived artifact also reads what it was built from
    val deps = ArtifactStore.dependencies
    def closure(a: String, seen: Set[String] = Set.empty): Set[String] =
      if (seen(a)) seen
      else deps.getOrElse(a, Set.empty)
        .foldLeft(seen + a)((s, d) => closure(d, s))
    val readers = touched.toSeq
      .flatMap { case (a, ks) => closure(a).toSeq.map(_ -> ks) }
      .groupMapReduce(_._1)(_._2)(_ ++ _)
    val single = readers.toSeq.collect {
      case (a, ks) if ks.size < 2 && !BoundedStatistics(a) => a -> ks
    }.toMap
    val unlisted = (single -- HeldIndexes).toSeq
      .map { case (a, ks) => s"$a <- ${ks.mkString(", ")}" }.sorted
    assert(unlisted.isEmpty,
      s"single-consumer artifacts outside the bounded list: $unlisted")
    assert(HeldIndexes.forall(single.contains),
      s"held indexes no longer single-consumer (drop them from the " +
        s"list): ${HeldIndexes -- single.keySet}")
  }

  test("q01 pushes its filter and projection into the parquet scan") {
    val plan = SparkEntry.queries("q01_scan_filter")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), " +
      "LessThanOrEqual(l_shipdate"), s"no pushdown in plan:\n$plan")
    assert(plan.contains("ReadSchema") &&
      !plan.contains("l_extendedprice"), "projection not pruned")
  }

  test("llm_repetition, llm_token_entropy and llm_gopher_rules are " +
    "exchange-free scans " +
    "(the 100 TB shape: per-row signals, no shuffle before the sort)") {
    for (name <- Seq("llm_repetition", "llm_token_entropy",
        "llm_gopher_rules")) {
      // drop the presentation orderBy — the operator itself is the
      // per-row signal computation; only the global sort exchanges
      val df = SparkEntry.queries(name)(spark, dir).sortWithinPartitions()
      val plan = df.queryExecution.executedPlan.toString
      val exchanges = "Exchange".r.findAllIn(plan).length
      assert(exchanges <= 1, // the rangepartitioning of the final sort
        s"$name plans $exchanges exchanges:\n$plan")
    }
  }

  test("llm_rarity and llm_ngram_novelty score with a broadcast model " +
    "(the corpus never shuffles on the token/bigram key)") {
    for (name <- Seq("llm_rarity", "llm_ngram_novelty")) {
      val plan = SparkEntry.queries(name)(spark, dir)
        .queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      assert(plan.contains("BroadcastHashJoin"),
        s"$name does not broadcast the model:\n$plan")
      assert(!plan.contains("SortMergeJoin"),
        s"$name shuffles the corpus into a sort-merge join:\n$plan")
    }
  }

  test("llm_substring_dedup counts cross-doc window positions, keeps " +
    "within-doc multiplicity, and ignores within-doc-only repeats") {
    import spark.implicits._
    // w=3 windows: doc 1 "a b c d" -> [a b c, b c d]; doc 2 shares
    // "a b c" TWICE (multiplicity kept) plus unshared windows; doc 3
    // repeats "x y z x y z x" within itself only -> its windows occur
    // in one doc, so nothing is cross-doc duplicated
    val docs = Seq(
      (1L, "a b c d"),
      (2L, "a b c a b c"),
      (3L, "x y z x y z x")).toDF("doc_id", "text")
    val got = Llm.substringDedupFor(docs, w = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // doc 2 windows: [a b c, b c a, c a b, a b c] -> "a b c" x2 shared
    assert(got.toSeq == Seq(
      (1L, 2L, 1L, 0.5),
      (2L, 4L, 2L, 0.5),
      (3L, 5L, 0L, 0.0)), got.mkString(", "))
  }

  test("llm_substring_dedup shuffles the corpus's window rows on the " +
    "window hash exactly once (dup probe joins without a re-shuffle)") {
    val df = SparkEntry.queries("llm_substring_dedup")(spark, dir)
    df.collect() // inspect the final adaptive plan, not the initial
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    val winExchanges = "hashpartitioning\\(wh".r.findAllIn(plan).length
    assert(winExchanges == 1,
      s"expected ONE window-hash exchange, got $winExchanges:\n$plan")
    assert(plan.contains("BroadcastHashJoin [wh") ||
      plan.contains("ReusedExchange") || plan.contains("ReusedQueryStage"),
      s"dup probe re-shuffles the corpus:\n$plan")
  }

  test("q60: the union of per-nation HLL sketches estimates exactly " +
    "like a sketch built directly per region (re-aggregation is " +
    "lossless)") {
    val cust = spark.read.parquet(s"$dir/customer.parquet")
    val nr = spark.read.parquet(s"$dir/nation.parquet")
      .join(spark.read.parquet(s"$dir/region.parquet"),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("r_name"))
    val joined = cust.join(nr, col("c_nationkey") === col("n_nationkey"))
    val direct = joined.groupBy(col("r_name"))
      .agg(hll_sketch_estimate(
        hll_sketch_agg(col("c_custkey"), lit(14))).as("est"))
    val unioned = joined.groupBy(col("r_name"), col("c_nationkey"))
      .agg(hll_sketch_agg(col("c_custkey"), lit(14)).as("sk"))
      .groupBy(col("r_name"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
    val d = direct.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val u = unioned.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(d == u, s"direct $d vs unioned $u")
  }

  test("q61: theta set algebra is exact below the sketch's nominal " +
    "entry count (intersection = inner semantics, not an estimate)") {
    import spark.implicits._
    val a = (1L to 300L).toDF("k")
    val b = (200L to 500L).toDF("k")
    val ska = a.agg(theta_sketch_agg(col("k"), 14).as("s"))
    val skb = b.agg(theta_sketch_agg(col("k"), 14).as("s"))
    val r = ska.crossJoin(skb.withColumnRenamed("s", "s2"))
      .select(
        theta_sketch_estimate(theta_intersection(col("s"), col("s2")))
          .as("inter"),
        theta_sketch_estimate(theta_difference(col("s"), col("s2")))
          .as("diff"),
        theta_sketch_estimate(theta_union(col("s"), col("s2"), lit(14)))
          .as("uni"))
      .collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == (101L, 199L, 500L),
      r.toSeq)
  }

  test("llm_bigram_lm scores match a hand-computed add-one bigram LM") {
    import spark.implicits._
    // corpus: U(a)=3 U(b)=2 V=2; B(a b)=2 B(b a)=1
    // P(b|a)=(2+1)/(3+2)=0.6  P(a|b)=(1+1)/(2+2)=0.5
    val docs = Seq((1L, "a b", "web"), (2L, "a b a", "web"))
      .toDF("doc_id", "text", "source")
    val got = Curation.bigramLmFor(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val d1 = BigDecimal(math.log(0.6))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val d2 = BigDecimal((math.log(0.6) + math.log(0.5)) / 2)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.toSeq == Seq((1L, 1L, d1), (2L, 2L, d2)),
      got.mkString(", "))
    // the SHIPPED broadcast-model scan must equal the dataflow twin
    // bit-for-bit — on the hand-computed corpus and on the fixture
    val scan = Curation.bigramLmScanFor(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1) // scan row order is partition order by contract
    assert(scan.toSeq == got.toSeq,
      "broadcast-model scoring must equal the dataflow form")
    val fixDocs = graft.Tables(spark, dir, "documents")
    val a = Curation.bigramLmFor(fixDocs).collect().map(_.toSeq).toSeq
    val b = Curation.bigramLmScanFor(fixDocs)
      .orderBy(org.apache.spark.sql.functions.col("doc_id"))
      .collect().map(_.toSeq).toSeq
    assert(a == b,
      "fixture corpus: scan and dataflow LM scores must be identical")
    // model size = corpus bigram vocabulary; null-text and 1-token
    // docs emit no score row (they have no bigrams), matching the
    // dataflow twin's filter + inner-join semantics
    assert(Curation.bigramLmModel(docs).value.size == 2)
    val edge = Seq((9L, null.asInstanceOf[String], "web"),
      (10L, "solo", "web"), (11L, "x y", "web"))
      .toDF("doc_id", "text", "source")
    val e = Curation.bigramLmScanFor(edge).collect()
    assert(e.map(_.getLong(0)).toSeq == Seq(11L),
      "null/1-token docs must emit no score row")
  }

  test("llm_bm25 matches a hand-computed score (k1=1.2, b=0.75)") {
    import spark.implicits._
    graft.operators.ArtifactStore.clearAll()
    // N=3, dl = 3/2/2, avgdl = 7/3; df: join=1 scan=2 dup=1
    val docs = Seq(
      (1L, "join join scan", "web"), (2L, "scan dup", "web"),
      (3L, "filter sort", "web")).toDF("doc_id", "text", "source")
    def idf(df: Int) = math.log(1.0 + (3.0 - df + 0.5) / (df + 0.5))
    def w(tf: Int, dl: Int) = {
      val avgdl = 7.0 / 3.0
      (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
    }
    def dec(x: Double) = BigDecimal(x)
      .setScale(10, BigDecimal.RoundingMode.HALF_UP)
    def r4(x: BigDecimal) = x
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val want = Map(
      1L -> r4(dec(idf(1) * w(2, 3)) + dec(idf(2) * w(1, 3))),
      2L -> r4(dec(idf(2) * w(1, 2)) + dec(idf(1) * w(1, 2))))
    val got = Curation.bm25For(docs).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == want, s"got $got want $want")
    // a doc with no query term never scores
    assert(!got.contains(3L), "doc without query terms must not appear")
    graft.operators.ArtifactStore.clearAll()
  }

  test("llm_bpe_pairs counts corpus-weighted adjacent character pairs " +
    "(hand-computed; single-char words contribute nothing)") {
    import spark.implicits._
    graft.operators.ArtifactStore.clearAll()
    // corpus: "aab aab ab x" -> word counts: aab=2, ab=1, x=1
    // pairs: aa from aab (1/occurrence * 2) = 2
    //        ab from aab (1 * 2) + ab (1 * 1) = 3; x contributes none
    val docs = Seq((1L, "aab aab ab", "web"), (2L, "x", "web"))
      .toDF("doc_id", "text", "source")
    val rows = Curation.bpePairsFor(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(rows == Map(("a", "b") -> 3L, ("a", "a") -> 2L),
      s"got $rows")
    graft.operators.ArtifactStore.clearAll()
  }

  test("llm_hybrid_rrf fuses the two legs by reciprocal rank: scores " +
    "reconstruct from the reported ranks, both-leg docs dominate") {
    val rows = SparkEntry.queries("llm_hybrid_rrf")(spark, dir).collect()
    assert(rows.length == 10)
    rows.foreach { r =>
      val lex = if (r.isNullAt(1)) None else Some(r.getLong(1))
      val vec = if (r.isNullAt(2)) None else Some(r.getLong(2))
      assert(lex.nonEmpty || vec.nonEmpty, s"rankless row: $r")
      // ranks stay within the per-leg fusion depth
      (lex.toSeq ++ vec.toSeq).foreach(k => assert(k >= 1 && k <= 20))
      // the fused score is exactly the sum of the legs' contributions
      val want = BigDecimal(
        lex.map(k => 1.0 / (60 + k)).getOrElse(0.0) +
          vec.map(k => 1.0 / (60 + k)).getOrElse(0.0))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getDouble(3) == want, s"rrf != sum of legs: $r")
    }
    // descending fused order with doc_id tiebreak (total order)
    val keys = rows.map(r => (-r.getDouble(3), r.getLong(0))).toSeq
    assert(keys == keys.sorted, "output not ordered by (rrf desc, id)")
    // the query doc never retrieves itself
    assert(!rows.exists(_.getLong(0) == 0L), "doc 0 is the query")
  }

  test("llm_quality_buckets tiers partition the scored corpus by the " +
    "LM-score quartiles") {
    val docs = graft.Tables(spark, dir, "documents")
    val buckets = SparkEntry.queries("llm_quality_buckets")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val scored = Curation.bigramLmScanFor(docs).count()
    assert(buckets.map(_._3).sum == scored,
      "tiers must partition exactly the scored documents")
    assert(buckets.map(_._2).toSet.subsetOf(Set("head", "middle", "tail")))
    val byTier = buckets.groupBy(_._2).view.mapValues(_.map(_._3).sum)
    // quartile cutoffs: head and tail each hold ~a quarter (rounding
    // ties at the 4-decimal score granularity can shift the split,
    // but never past the neighboring tier's mass)
    assert(byTier("head") > 0 && byTier("tail") > 0)
    assert(byTier("head") <= byTier("middle") &&
      byTier("tail") <= byTier("middle"),
      s"quartile tiers out of shape: $byTier")
  }

  test("llm_repetition fractions match hand-computed values") {
    import spark.implicits._
    // "a b a b a": bigrams [a b, b a, a b, b a] -> top 2/4 = 0.5;
    // trigrams [a b a, b a b, a b a] -> 2 distinct of 3 -> dup 1/3
    val df = Seq((1L, "a b a b a")).toDF("doc_id", "text")
    val r = SparkEntry.queries("llm_repetition")(spark, dir)
    assert(r.columns.toSeq ==
      Seq("doc_id", "top_bigram_frac", "dup_trigram_frac", "repetitive"))
    // direct unit check of the expressions on the tiny frame
    val tiny = graft.queries.Llm.repetitionOf(df).collect().head
    assert(tiny.getDouble(1) == 0.5, s"top_bigram_frac ${tiny.getDouble(1)}")
    assert(math.abs(tiny.getDouble(2) - 0.3333) < 1e-9,
      s"dup_trigram_frac ${tiny.getDouble(2)}")
    assert(tiny.getLong(3) == 1L, "flag should fire at 0.5/0.33")
  }

  test("q04 plans a broadcast join for the small dimension") {
    val plan = SparkEntry.queries("q04_broadcast_join")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"plan:\n$plan")
  }

  test("q18's counted-aggregation rewrite equals Spark's native set " +
    "operators branch-for-branch") {
    val orders = spark.read.parquet(s"$dir/orders.parquet")
    val cust = spark.read.parquet(s"$dir/customer.parquet")
    val buyers = orders.select(col("o_custkey").as("key")).distinct()
    val rich = cust.filter(col("c_acctbal") > 5000)
      .select(col("c_custkey").as("key"))
    val native = Seq(
      "union" -> buyers.union(rich).distinct(),
      "intersect" -> buyers.intersect(rich),
      "except" -> buyers.except(rich),
      "intersect_all" -> buyers.intersectAll(rich),
      "except_all" -> buyers.exceptAll(rich))
    val got = SparkEntry.queries("q18_set_ops")(spark, dir)
      .groupBy("tag", "key").count().collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    for ((tag, df) <- native) {
      val want = df.groupBy("key").count().collect()
        .map(r => (tag, r.getLong(0)) -> r.getLong(1)).toMap
      val gotTag = got.filter(_._1._1 == tag)
      assert(gotTag == want, s"branch $tag diverges from the native op")
    }
  }

  test("q18 rides ONE key exchange: both legs union into a single " +
    "aggregation, no join") {
    val plan = SparkEntry.queries("q18_set_ops")(spark, dir)
      .queryExecution.executedPlan.toString
    val keyExchanges = "Exchange hashpartitioning".r
      .findAllIn(plan).size
    assert(keyExchanges == 1,
      s"expected exactly one key exchange, got $keyExchanges:\n$plan")
    assert(!plan.contains("Join"), s"q18 must not plan a join:\n$plan")
  }

  test("q63 serves CMS estimates via a broadcast of the counter " +
    "frame and a TakeOrdered top-10 — probing never shuffles") {
    val plan = SparkEntry.queries("q63_count_min")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"counter probe must broadcast:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-10 must be a TakeOrdered, not a global sort:\n$plan")
  }

  test("llm_semdedup plans an equi-join on the cell id (cell-bounded " +
    "pairs), and llm_pmi_bigrams takes its top-20 without a global " +
    "sort") {
    val sd = SparkEntry.queries("llm_semdedup")(spark, dir)
      .queryExecution.executedPlan.toString
    // an EQUI-join whose key list starts with cid — a regression to a
    // filtered cross join would plan BroadcastNestedLoopJoin (no key
    // list) at fixture scale and corpus-squared pairs at 100 TB
    assert(
      "(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \\[cid#".r
        .findFirstIn(sd).isDefined && !sd.contains("CartesianProduct"),
      s"semdedup pair join must be keyed on the cell id:\n$sd")
    val pm = SparkEntry.queries("llm_pmi_bigrams")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(pm.contains("TakeOrderedAndProject") &&
      !pm.contains("CartesianProduct"), s"pmi plan:\n$pm")
  }

  test("q48 broadcasts the fixed dimension for the edit-distance " +
    "self-join") {
    val plan = SparkEntry.queries("q48_edit_distance")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"), s"plan:\n$plan")
  }

  test("no query plans an un-broadcast cartesian product") {
    // broadcast-singleton cross joins (scalar thresholds, n_docs
    // counts) compile to BroadcastNestedLoopJoin and are fine; a
    // CartesianProductExec means a non-broadcast cross join slipped
    // in — always a scale bug, whatever the fixture timing says
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      val plan = fn(spark, dir).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$name plans a cartesian product:\n$plan")
    }
  }

  test("q51 funnel stage counts are monotone non-increasing") {
    val rows = SparkEntry.queries("q51_funnel")(spark, dir)
      .orderBy(col("stage_idx")).collect()
    assert(rows.length == 3)
    val counts = rows.map(_.getAs[Long]("n_users"))
    assert(counts.sliding(2).forall(p => p(0) >= p(1)),
      s"funnel widened downstream: ${counts.mkString(",")}")
  }

  test("q50 hourly concurrency never exceeds the distinct-user count") {
    val maxActive = SparkEntry.queries("q50_interval_overlap")(spark, dir)
      .agg(max(col("n_active"))).collect()(0).getLong(0)
    val users = Events.events(spark, dir)
      .select(col("user_id")).distinct().count()
    assert(maxActive <= users, s"$maxActive active > $users users")
  }

  test("llm_tfidf keeps at most 5 terms per source, scores descending") {
    val rows = SparkEntry.queries("llm_tfidf")(spark, dir).collect()
    val bySource = rows.groupBy(_.getAs[String]("source"))
    assert(bySource.values.forall(_.length <= 5))
    for ((_, rs) <- bySource) {
      val scores = rs.map(_.getAs[Double]("score")).toSeq
      assert(scores == scores.sorted.reverse, "scores not descending")
    }
  }

  test("llm_keywords: ≤3 per doc, ranks contiguous, scores descending " +
    "within each doc") {
    val rows = SparkEntry.queries("llm_keywords")(spark, dir).collect()
    assert(rows.nonEmpty)
    for ((_, rs0) <- rows.groupBy(_.getAs[Long]("doc_id"))) {
      val rs = rs0.sortBy(_.getAs[Long]("rk"))
      assert(rs.length <= 3)
      assert(rs.map(_.getAs[Long]("rk")).toSeq ==
        (1L to rs.length).toSeq, "ranks not contiguous")
      val scores = rs.map(_.getAs[Double]("score")).toSeq
      assert(scores == scores.sorted.reverse, "scores not descending")
    }
  }

  test("llm_hash_embed: total |weight| ≤ token count (hashing can only " +
    "cancel mass, never create it) and buckets within the dimension") {
    val rows = SparkEntry.queries("llm_hash_embed")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val b = r.getAs[Int]("bucket")
      assert(b >= 0 && b < 64, s"bucket out of range: $r")
    }
    val massByDoc = rows.groupBy(_.getAs[Long]("doc_id")).map {
      case (id, rs) => id -> rs.map(r =>
        math.abs(r.getAs[Long]("weight"))).sum
    }
    val tokensByDoc = graft.Tables(spark, dir, "documents")
      .filter(col("doc_id") < 20)
      .select(col("doc_id"), size(split(col("text"), " ")).as("nt"))
      .collect().map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    massByDoc.foreach { case (id, m) =>
      assert(m <= tokensByDoc(id), s"doc $id hashed mass $m exceeds " +
        s"its ${tokensByDoc(id)} tokens")
    }
  }

  test("dot_product matches the interpreted fold exactly") {
    import spark.implicits._
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(0.5f, -1.0f, 2.25f)))
      .toDF("a", "b")
    val fast = df.select(
      graft.functions.VectorOps.dot_product(col("a"), col("b")))
      .head().getDouble(0)
    val slow = df.select(
      aggregate(zip_with(col("a"), col("b"),
        (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, v) => acc + v)).head().getDouble(0)
    assert(fast == slow)
    assert(fast == (1.0f.toDouble * 0.5f + 2.0f.toDouble * -1.0f
      + 3.0f.toDouble * 2.25f))
  }

  test("minhash signatures are deterministic and length-64") {
    import spark.implicits._
    val df = Seq(Tuple1(Array("a b c", "b c d", "c d e"))).toDF("sh")
    val sig1 = df.select(
      graft.functions.MinHash.minhash_signature(col("sh"), 64))
      .head().getSeq[Long](0)
    val sig2 = df.select(
      graft.functions.MinHash.minhash_signature(col("sh"), 64))
      .head().getSeq[Long](0)
    assert(sig1.size == 64)
    assert(sig1 == sig2)
    // identical sets -> identical signature regardless of order
    val sig3 = df.select(graft.functions.MinHash.minhash_signature(
      reverse(col("sh")), 64)).head().getSeq[Long](0)
    assert(sig3 == sig1)
  }

  test("map functions: construction, keys, lookup (SURVEY §2.2 scalar row)") {
    import spark.implicits._
    val m = spark.read.parquet(s"$dir/orders.parquet")
      .groupBy(col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("o_orderpriority"))
      .agg(map_from_entries(
        collect_list(struct(col("o_orderstatus"), col("c")))).as("m"))
      .select(col("o_orderpriority"),
        size(map_keys(col("m"))).as("n_keys"),
        array_contains(map_keys(col("m")), "F").as("has_f"))
      .collect()
    assert(m.length == 5)
    m.foreach { r => assert(r.getInt(1) > 0 && r.getBoolean(2)) }
  }

  test("scalar udf() registration works (non-hot-path escape hatch)") {
    import spark.implicits._
    val bucket = udf((price: Double) => if (price > 200000) "high" else "low")
    spark.udf.register("price_bucket", bucket)
    val viaApi = spark.read.parquet(s"$dir/orders.parquet")
      .select(bucket(col("o_totalprice")).as("b"))
      .groupBy("b").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val viaSql = {
      spark.read.parquet(s"$dir/orders.parquet")
        .createOrReplaceTempView("orders_udf_v")
      spark.sql(
        "SELECT price_bucket(o_totalprice) b, count(*) c " +
          "FROM orders_udf_v GROUP BY 1").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    assert(viaApi == viaSql)
    assert(viaApi.values.sum == 1500)
  }

  test("jaccard shingle df cap bounds hot-shingle pair fan-out") {
    import spark.implicits._
    // 20 docs share one boilerplate 3-gram ("common header text") and
    // are otherwise disjoint: uncapped, the hot shingle alone emits
    // C(20,2) = 190 candidate pairs; with the cap below its df the
    // shingle is pruned BEFORE the self-join, so zero pairs survive.
    val docs = (1 to 20).map { i =>
      (i.toLong, s"common header text unique$i filler$i tail$i")
    }.toDF("doc_id", "text")
    val uncapped = Llm.jaccardPairsFor(docs, maxDf = 1000)
    assert(uncapped.count() == 190)
    val capped = Llm.jaccardPairsFor(docs, maxDf = 10)
    assert(capped.count() == 0)
    // a genuinely similar pair (many shared low-df shingles) survives
    // the cap even when boilerplate is pruned
    val mixed = docs.union(Seq(
      (100L, "alpha beta gamma delta epsilon zeta"),
      (101L, "alpha beta gamma delta epsilon eta")).toDF("doc_id", "text"))
    val out = Llm.jaccardPairsFor(mixed, maxDf = 10)
      .filter(col("jaccard") >= 0.5).collect()
    assert(out.length == 1 &&
      out.head.getLong(0) == 100L && out.head.getLong(1) == 101L)
    // fixture guarantee: no fixture shingle reaches the default cap,
    // so capped output is bit-identical to exact uncapped Jaccard
    val fixture = spark.read.parquet(s"$dir/documents.parquet")
    val exact = Llm.jaccardPairsFor(fixture, maxDf = Int.MaxValue)
    val prod = Llm.jaccardPairsFor(fixture)
    assert(exact.exceptAll(prod).isEmpty && prod.exceptAll(exact).isEmpty)
  }

  test("verified-pair index: LSH-served jaccard pairs are bit-identical " +
    "to the exact posting-list formulation, and the index is built once " +
    "per input plan") {
    val fixture = spark.read.parquet(s"$dir/documents.parquet")
    graft.operators.ArtifactStore.clear("neardup_pairs")
    // the LSH index's exact-verify output at J >= 0.6 equals the
    // uncapped exact posting-list Jaccard on any corpus where band
    // recall is 1 (all fixtures) — this pins llm_ngram_jaccard_dedup's
    // reroute through the index (VERDICT r4 one-pipeline-two-outputs)
    val viaIndex = Llm.lshVerifiedPairs(fixture)
      .filter(col("jaccard") >= 0.6)
    val viaPostings = Llm.jaccardPairsFor(fixture, maxDf = Int.MaxValue)
      .filter(col("jaccard") >= 0.6)
    assert(viaIndex.exceptAll(viaPostings).isEmpty &&
      viaPostings.exceptAll(viaIndex).isEmpty)
    // build-once: the same input plan returns the SAME persisted frame
    // (reference equality = no recomputation), a different plan builds
    // its own index
    val again = Llm.lshVerifiedPairs(
      spark.read.parquet(s"$dir/documents.parquet"))
    assert(again eq Llm.lshVerifiedPairs(fixture))
    val other = Llm.lshVerifiedPairs(fixture.limit(50))
    assert(!(other eq again))
    graft.operators.ArtifactStore.clear("neardup_pairs")
  }

  test("winnow overlap index and term-stats artifact: served views are " +
    "bit-identical to the direct formulations, built once per plan") {
    val fixture = spark.read.parquet(s"$dir/documents.parquet")
    graft.operators.ArtifactStore.clearAll()
    // winnow pair index == the direct posting-list pair query
    val viaIndex = Llm.winnowPairs(fixture)
    val direct = Llm.winnowPairsFor(fixture)
    assert(viaIndex.exceptAll(direct).isEmpty &&
      direct.exceptAll(viaIndex).isEmpty)
    assert(Llm.winnowPairs(
      spark.read.parquet(s"$dir/documents.parquet")) eq viaIndex)
    // the vocab view of the term-stats artifact == direct tokenization
    val viaStats = Curation.termStats(fixture)
      .groupBy(col("w"))
      .agg(sum(col("tf")).as("n"), sum(col("sdf")).as("df"))
    val directVocab = fixture
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .groupBy(col("w"))
      .agg(count(lit(1)).as("n"),
        count_distinct(col("doc_id")).as("df"))
    assert(viaStats.exceptAll(directVocab).isEmpty &&
      directVocab.exceptAll(viaStats).isEmpty)
    assert(Curation.termStats(
      spark.read.parquet(s"$dir/documents.parquet")) eq
      Curation.termStats(fixture))
    graft.operators.ArtifactStore.clearAll()
  }

  test("minhash rejects non-array<string> input and out-of-range " +
    "numHashes at analysis time (ADVICE r1)") {
    import spark.implicits._
    val bad = Seq(Tuple1(Array(1L, 2L))).toDF("sh")
    intercept[org.apache.spark.sql.AnalysisException] {
      bad.select(graft.functions.MinHash.minhash_signature(col("sh"), 64))
        .collect()
    }
    val ok = Seq(Tuple1(Array("a", "b"))).toDF("sh")
    intercept[org.apache.spark.sql.AnalysisException] {
      ok.select(graft.functions.MinHash.minhash_signature(col("sh"), 300))
        .collect()
    }
    // null elements are skipped, not NPE'd
    val withNull = Seq(Tuple1(Array("a", null, "b"))).toDF("sh")
    val sig = withNull.select(
      graft.functions.MinHash.minhash_signature(col("sh"), 8))
      .head().getSeq[Long](0)
    val noNull = Seq(Tuple1(Array("a", "b"))).toDF("sh")
    val sig2 = noNull.select(
      graft.functions.MinHash.minhash_signature(col("sh"), 8))
      .head().getSeq[Long](0)
    assert(sig == sig2)
  }

  test("q64 tiles are balanced: per group, tile sizes differ by <= 1 " +
    "and sum to the group's row count") {
    val rows = SparkEntry.queries("q64_ntile")(spark, dir).collect()
    val totals = spark.read.parquet(s"$dir/orders.parquet")
      .groupBy(col("o_orderpriority")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.groupBy(_.getString(0)).foreach { case (pri, rs) =>
      val ns = rs.map(_.getLong(2))
      assert(ns.max - ns.min <= 1, s"$pri tiles unbalanced: ${ns.toSeq}")
      assert(ns.sum == totals(pri),
        s"$pri tiles sum ${ns.sum} != total ${totals(pri)}")
    }
  }

  test("q67 rolling median equals the row value on each user's first " +
    "row and stays within the user's value range") {
    val rows = SparkEntry.queries("q67_rolling_median")(spark, dir)
      .collect()
    // round-11 integer cells: rolling_median_cents_x2 = 2 × median
    // in cents; value doubles convert exactly via the 0.01 grid
    def c2(v: Double): Long = math.round(v * 100) * 2
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val first = rs.head // output is ordered (user_id, ts, event_id)
      assert(first.getLong(4) == c2(first.getDouble(3)),
        s"first-row median ${first.getLong(4)} != " +
          s"value cents×2 ${c2(first.getDouble(3))}")
      val vals = rs.map(_.getDouble(3))
      rs.foreach(r => assert(
        r.getLong(4) >= c2(vals.min) && r.getLong(4) <= c2(vals.max),
        s"median ${r.getLong(4)} outside " +
          s"[${c2(vals.min)}, ${c2(vals.max)}]"))
    }
  }

  test("llm_knn_classify: deterministic across runs, votes bounded by " +
    "k, predicted labels drawn from the corpus") {
    val a = SparkEntry.queries("llm_knn_classify")(spark, dir).collect()
    val b = SparkEntry.queries("llm_knn_classify")(spark, dir).collect()
    assert(a.toSeq == b.toSeq, "two runs differ")
    val labels = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("label")).distinct().collect()
      .map(_.getInt(0).toLong).toSet
    a.foreach { r =>
      assert(r.getLong(2) >= 1L && r.getLong(2) <= 10L,
        s"votes ${r.getLong(2)} out of [1, 10]")
      assert(labels.contains(r.getLong(1)),
        s"pred_label ${r.getLong(1)} not a corpus label")
    }
  }

  test("llm_label_centroids covers every (label, idx) cell with the " +
    "label's exact cardinality") {
    val rows = SparkEntry.queries("llm_label_centroids")(spark, dir)
      .collect()
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val dim = e.select(size(col("embedding"))).head().getInt(0)
    val counts = e.groupBy(col("label")).count().collect()
      .map(r => r.getInt(0).toLong -> r.getLong(1)).toMap
    val byLabel = rows.groupBy(_.getLong(0))
    assert(byLabel.keySet == counts.keySet, "label sets differ")
    byLabel.foreach { case (l, rs) =>
      assert(rs.map(_.getLong(1)).toSet == (0L until dim.toLong).toSet,
        s"label $l misses centroid components")
      rs.foreach(r => assert(r.getLong(2) == counts(l),
        s"label $l n_vectors ${r.getLong(2)} != ${counts(l)}"))
    }
  }

  test("no query in the inventory plans a CartesianProduct (every " +
    "deliberate cross join is a broadcast of a singleton/tiny frame)") {
    val offenders = SparkEntry.queries.keys.toSeq.sorted.filter { name =>
      SparkEntry.queries(name)(spark, dir)
        .queryExecution.executedPlan.toString.contains("CartesianProduct")
    }
    assert(offenders.isEmpty,
      s"CartesianProduct planned by: ${offenders.mkString(", ")}")
  }

  test("q71 gap fill: complete per-user day grid, zero-filled gaps, " +
    "carry equals the last observed day value") {
    val rows = SparkEntry.queries("q71_gap_fill")(spark, dir).collect()
    val byUser = rows.groupBy(_.getLong(0))
    val days = rows.map(_.getDate(1).toLocalDate).distinct.sorted
    val span = java.time.temporal.ChronoUnit.DAYS
      .between(days.head, days.last) + 1
    assert(days.length.toLong == span, "global day grid has holes")
    byUser.foreach { case (u, rs) =>
      assert(rs.length.toLong == span, s"user $u grid incomplete")
      var carry: Option[Double] = None
      rs.sortBy(_.getDate(1).toLocalDate.toEpochDay).foreach { r =>
        val dv = r.getDouble(2)
        if (dv != 0.0) carry = Some(dv)
        if (r.isNullAt(3)) assert(carry.isEmpty,
          s"user $u: null carry after an observed day")
        // dv == 0.0 is ambiguous (gap vs true zero-sum day); only
        // non-zero observations must propagate exactly
        else if (carry.isDefined && dv != 0.0)
          assert(r.getDouble(3) == dv,
            s"user $u: carry ${r.getDouble(3)} != day value $dv")
      }
    }
  }

  test("q72 scd2: per user, intervals chain (valid_to = next " +
    "valid_from), exactly one current row, states alternate") {
    val rows = SparkEntry.queries("q72_scd2")(spark, dir).collect()
    rows.groupBy(_.getLong(0)).foreach { case (u, rs) =>
      assert(rs.count(_.getLong(4) == 1L) == 1,
        s"user $u: not exactly one is_current")
      rs.sliding(2).foreach {
        case Array(a, b) =>
          // ntz timestamps surface as LocalDateTime — compare generically
          assert(a.get(3) == b.get(2),
            s"user $u: interval chain broken")
          assert(a.getString(1) != b.getString(1),
            s"user $u: consecutive intervals share a state")
        case _ => ()
      }
      assert(rs.last.isNullAt(3) && rs.last.getLong(4) == 1L,
        s"user $u: last interval must be open + current")
    }
  }

  test("q73 snapshot diff: change classes follow the derivation " +
    "(added ≡7 mod 10, removed ≡3 mod 10, changed are open orders)") {
    val rows = SparkEntry.queries("q73_snapshot_diff")(spark, dir)
      .collect()
    val status = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderkey"), col("o_orderstatus")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (k, ct) = (r.getLong(0), r.getString(1))
      ct match {
        case "added"   => assert(k % 10 == 7, s"$k added but not ≡7")
        case "removed" => assert(k % 10 == 3, s"$k removed but not ≡3")
        case "changed" =>
          assert(k % 10 != 7 && k % 10 != 3 && status(k) == "O",
            s"$k changed but not an open order present in both")
        case other => fail(s"unexpected change_type $other")
      }
    }
  }

  test("q74 pagerank: ranks are a probability distribution over the " +
    "event-type alphabet (sum 1, all positive)") {
    val rows = SparkEntry.queries("q74_pagerank")(spark, dir).collect()
    val types = spark.read.parquet(s"$dir/events.parquet")
      .select(col("event_type")).distinct().count()
    assert(rows.length.toLong == types, "one rank row per event type")
    rows.foreach(r => assert(r.getDouble(1) > 0.0, "non-positive rank"))
    val sum = rows.map(_.getDouble(1)).sum
    assert(math.abs(sum - 1.0) < 1e-6, s"ranks sum to $sum, not 1")
  }

  test("llm_weighted_sample: top-k selection, not a global sort " +
    "(TakeOrdered), and keys respect the weight ordering property") {
    val df = SparkEntry.queries("llm_weighted_sample")(spark, dir)
    assert(df.queryExecution.executedPlan.toString
        .contains("TakeOrderedAndProject"),
      "weighted sample should plan a TakeOrdered, not sort the corpus")
    val rows = df.collect()
    assert(rows.length == math.min(200,
      spark.read.parquet(s"$dir/documents.parquet").count()).toInt)
    // sample keys ascending in output order; every key positive
    val keys = rows.map(_.getDouble(3))
    assert(keys.sameElements(keys.sorted), "keys not ascending")
    keys.foreach(k => assert(k >= 0.0))
  }

  test("llm_zipf_fit: negative slope on the fixture (frequency " +
    "decreases with rank) and n_terms = vocabulary size") {
    val r = SparkEntry.queries("llm_zipf_fit")(spark, dir).head()
    val vocab = spark.read.parquet(s"$dir/documents.parquet")
      .select(explode(split(col("text"), " ")).as("w"))
      .select(col("w")).distinct().count()
    assert(r.getLong(0) == vocab, s"n_terms ${r.getLong(0)} != $vocab")
    assert(r.getDouble(1) < 0.0, s"slope ${r.getDouble(1)} not negative")
  }

  test("llm_oov_rate: coverage ties out against a collected frequency " +
    "ranking, and the curve is monotone in vocab size") {
    val rows = SparkEntry.queries("llm_oov_rate")(spark, dir).collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(100L, 500L, 1000L, 2000L))
    val freq = spark.read.parquet(s"$dir/documents.parquet")
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").count()
      .collect().map(r => r.getString(0) -> r.getLong(1))
      .sortBy { case (w, c) => (-c, w) }
    val total = freq.map(_._2).sum
    for (r <- rows) {
      val v = r.getLong(0).toInt
      val covered = freq.take(v).map(_._2).sum
      assert(r.getLong(1) == covered, s"V=$v covered")
      assert(r.getLong(2) == total, s"V=$v total")
      val want = math.floor((2.0 * (total - covered) * 1e6 + total) /
        (2.0 * total)) / 1e6
      assert(r.getDouble(3) == want, s"V=$v oov_rate")
    }
    val oov = rows.map(_.getDouble(3))
    assert(oov.zip(oov.tail).forall { case (a, b) => a >= b },
      "oov_rate must not increase with vocab size")
  }

  test("llm_ann_sq8: quantized candidate search recovers (nearly all " +
    "of) the exact top-10, via integer candidate scores") {
    val sq8 = SparkEntry.queries("llm_ann_sq8")(spark, dir).collect()
      .map(_.getLong(0)).toSet
    val exact = SparkEntry.queries("q29_similarity_topk")(spark, dir)
      .collect().map(_.getLong(0)).toSet
    assert(sq8.size == 10)
    // int8 codes over 64 dims keep ~2-3 significant digits per
    // component — the exact top-10 should survive almost intact
    assert((sq8 & exact).size >= 8,
      s"sq8 recall ${(sq8 & exact).size}/10 vs exact top-10")
  }

  test("llm_domain_importance: target-domain docs score higher on " +
    "average than off-domain docs, one row per doc") {
    val rows = SparkEntry.queries("llm_domain_importance")(spark, dir)
      .collect()
    val nDocs = spark.read.parquet(s"$dir/documents.parquet").count()
    assert(rows.length.toLong == nDocs)
    val (in, out) = rows.partition(_.getString(1) == "src0")
    def mean(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(_.getDouble(3)).sum / rs.length
    assert(mean(in) > mean(out),
      s"src0 mean ${mean(in)} not above off-domain mean ${mean(out)}")
  }

  test("q75 time-weighted average stays inside each user's value " +
    "range and spans match the user's observation window") {
    val rows = SparkEntry.queries("q75_time_weighted_avg")(spark, dir)
      .collect()
    val ranges = Events.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(min(col("value")).as("lo"), max(col("value")).as("hi"),
        count(lit(1)).as("n"))
      .collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2),
        r.getLong(3))).toMap
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (lo, hi, n) = ranges(r.getLong(0))
      assert(r.getLong(1) == n - 1, "interval count != events - 1")
      assert(r.getDouble(3) >= lo - 1e-4 && r.getDouble(3) <= hi + 1e-4,
        s"user ${r.getLong(0)}: twa ${r.getDouble(3)} outside [$lo, $hi]")
    }
  }

  test("q76 IQR fences are ordered and every reported outlier extreme " +
    "lies outside them") {
    val rows = SparkEntry.queries("q76_iqr_outliers")(spark, dir)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      // fences are exact BIGINT cents×8 since the round-11
      // integer-cell fix (double interpolation and DECIMAL casts are
      // both engine-version-dependent construct classes); membership
      // is decided by the same integer comparison the query uses
      val lo = r.getLong(1)
      val hi = r.getLong(2)
      assert(lo < hi, s"${r.getString(0)}: fences inverted")
      assert(r.getLong(3) > 0)
      def c8(v: Double): Long = math.round(v * 100) * 8
      assert(c8(r.getDouble(4)) > hi || c8(r.getDouble(4)) < lo)
      assert(c8(r.getDouble(5)) > hi || c8(r.getDouble(5)) < lo)
    }
  }

  test("minhash collision probability tracks jaccard similarity") {
    import spark.implicits._
    // two 90%-overlapping shingle sets should collide on most rows
    val a = (0 until 100).map(i => s"sh$i").toArray
    val b = ((0 until 90).map(i => s"sh$i") ++
      (0 until 10).map(i => s"other$i")).toArray
    val df = Seq((a, b)).toDF("a", "b")
    val Array(sa, sb) = df.select(
      graft.functions.MinHash.minhash_signature(col("a"), 64),
      graft.functions.MinHash.minhash_signature(col("b"), 64))
      .head() match {
      case r => Array(r.getSeq[Long](0), r.getSeq[Long](1))
    }
    val agree = sa.zip(sb).count { case (x, y) => x == y }
    // E[agree] = 64 * J ~= 64 * 0.818 ~= 52; allow generous slack
    assert(agree > 35 && agree < 64, s"agreement $agree out of range")
  }
}
