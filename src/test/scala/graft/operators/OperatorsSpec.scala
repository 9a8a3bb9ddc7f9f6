package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Custom operator semantics: the salted skew join must be result-
  * identical to the plain equi-join; the as-of join must pick the most
  * recent right row at-or-before each left time per key.
  */
class OperatorsSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  test("salted equi-join returns exactly the plain join's rows") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
    val o = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderkey"), col("o_totalprice"))
    val plain = li.join(o, li("l_orderkey") === o("o_orderkey"))
      .select(col("l_orderkey"), col("l_linenumber"), col("o_totalprice"))
    val salted = SkewJoin.saltedEquiJoin(li, o, "l_orderkey", "o_orderkey",
      salts = 8)
      .select(col("l_orderkey"), col("l_linenumber"), col("o_totalprice"))
    assert(salted.count() == plain.count())
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }

  test("hot-key salted join: detects the hot key, splits the plan, " +
    "and matches the plain join exactly") {
    import spark.implicits._
    // one pathological key (90% of rows) + a uniform tail
    val big = ((1 to 9000).map(i => (999L, i.toLong)) ++
      (1 to 1000).map(i => (i.toLong % 50, i.toLong)))
      .toDF("k", "payload")
    val small = (0L to 999L).map(k => (k, s"dim_$k")).toDF("sk", "attr")
    val plain = big.join(small, big("k") === small("sk"))
      .select(col("k"), col("payload"), col("attr"))
    val adaptive = SkewJoin.saltedHotKeyJoin(big, small, "k", "sk",
        salts = 8, sampleFraction = 0.5, hotRowThreshold = 1000)
      .select(col("k"), col("payload"), col("attr"))
    assert(adaptive.count() == plain.count())
    assert(adaptive.exceptAll(plain).isEmpty &&
      plain.exceptAll(adaptive).isEmpty)
  }

  test("hot-key salted join: a NULL in caller-supplied hot keys must " +
    "not drop the cold side (NOT-IN three-valued logic)") {
    import spark.implicits._
    val big = ((1 to 100).map(i => (999L, i.toLong)) ++
      (1 to 100).map(i => (i.toLong % 10, i.toLong)))
      .toDF("k", "payload")
    val small = (0L to 999L).map(k => (k, s"dim_$k")).toDF("sk", "attr")
    val plain = big.join(small, big("k") === small("sk"))
    val adaptive = SkewJoin.saltedHotKeyJoin(big, small, "k", "sk",
      salts = 4, knownHotKeys = Some(Seq(null, 999L)))
    assert(adaptive.count() == plain.count(),
      "cold rows were silently dropped by a NULL hot key")
  }

  test("heavy hitters: exact when distinct values fit the counters") {
    import spark.implicits._
    val df = (Seq.fill(50)("a") ++ Seq.fill(30)("b") ++ Seq.fill(7)("c"))
      .toDF("w").repartition(5)
    val (est, n) = HeavyHitters.sketch(df, "w", k = 8)
    assert(n == 87L)
    assert(est == Map("a" -> 50L, "b" -> 30L, "c" -> 7L), est)
  }

  test("heavy hitters: the MG bound holds on an adversarial stream " +
    "under every partition layout, and true heavies are present") {
    import spark.implicits._
    // 4 heavy values + a long tail of singletons that forces constant
    // decrements at k=8
    val heavy = Seq("h1" -> 400, "h2" -> 300, "h3" -> 200, "h4" -> 100)
    val data = heavy.flatMap { case (w, c) => Seq.fill(c)(w) } ++
      (1 to 500).map(i => s"tail_$i")
    val truth = data.groupBy(identity).view.mapValues(_.size.toLong).toMap
    for (parts <- Seq(1, 3, 16)) {
      val df = data.toDF("w").repartition(parts)
      val (est, n) = HeavyHitters.sketch(df, "w", k = 8)
      assert(n == data.size.toLong)
      val bound = n.toDouble / 9
      for ((w, c) <- truth) {
        val e = est.getOrElse(w, 0L)
        assert(e <= c && e >= c - bound,
          s"parts=$parts: est($w)=$e outside [${c - bound}, $c]")
      }
      for ((w, c) <- truth if c > bound)
        assert(est.contains(w),
          s"parts=$parts: heavy $w (count $c > $bound) missing")
    }
  }

  test("bloom-pruned join returns exactly the plain join's rows and " +
    "prunes non-matching big-side rows before the join") {
    import spark.implicits._
    graft.operators.ArtifactStore.clear("bloom_filter")
    val o = spark.read.parquet(s"$dir/orders.parquet")
    val cust = spark.read.parquet(s"$dir/customer.parquet")
      .filter(col("c_mktsegment") === "BUILDING")
    val plain = o.join(cust, o("o_custkey") === cust("c_custkey"))
      .select(col("o_orderkey"), col("c_custkey"))
    val bloomed = BloomJoin
      .bloomPrunedJoin(o, cust, "o_custkey", "c_custkey")
      .select(col("o_orderkey"), col("c_custkey"))
    assert(bloomed.exceptAll(plain).isEmpty &&
      plain.exceptAll(bloomed).isEmpty, "bloom join changed the result")
    // the probe itself prunes: most orders belong to other segments
    val bytes = BloomJoin.bloomBytesFor(cust, "c_custkey", 0.01)
    val surviving = o.filter(graft.functions.BloomOps
      .might_contain(col("o_custkey"), bytes)).count()
    val total = o.count()
    val matched = plain.count()
    assert(surviving < total, s"no pruning: $surviving of $total")
    assert(surviving >= matched, "bloom dropped matching rows")
  }

  test("bloom probe: null keys are dropped, matching the inner join; " +
    "string keys probe by utf8 bytes") {
    import spark.implicits._
    graft.operators.ArtifactStore.clear("bloom_filter")
    val big = Seq((Some(1L), "m"), (None, "n"), (Some(9L), "x"))
      .toDF("k", "tag")
    val small = Seq((1L, "dim1")).toDF("sk", "attr")
    val joined = BloomJoin.bloomPrunedJoin(big, small, "k", "sk").collect()
    assert(joined.map(_.getString(1)).toSeq == Seq("m"), joined.toSeq)
    val sSmall = Seq(("alpha", 1)).toDF("sk", "v")
    val sBig = Seq(("alpha", 10), ("beta", 20)).toDF("k", "v2")
    val sJoined = BloomJoin.bloomPrunedJoin(sBig, sSmall, "k", "sk")
      .select(col("k")).as[String].collect().toSeq
    assert(sJoined == Seq("alpha"), sJoined)
  }

  test("hot-key salted join degrades to the plain join when nothing " +
    "is hot") {
    import spark.implicits._
    val big = (1 to 2000).map(i => (i.toLong % 500, i.toLong))
      .toDF("k", "payload")
    val small = (0L to 499L).map(k => (k, s"dim_$k")).toDF("sk", "attr")
    val adaptive = SkewJoin.saltedHotKeyJoin(big, small, "k", "sk",
      salts = 8, sampleFraction = 0.5, hotRowThreshold = 100000)
    // no explode/salt machinery in the degraded plan
    assert(!adaptive.queryExecution.executedPlan.toString.contains("__salt"))
    assert(adaptive.count() ==
      big.join(small, big("k") === small("sk")).count())
  }

  test("forward as-of picks the nearest at-or-after right row; " +
    "tolerance nulls matches beyond the bound") {
    import spark.implicits._
    val left = Seq((1L, 100L), (1L, 205L), (2L, 50L))
      .toDF("k", "t")
    val right = Seq((1L, 100L, "exact"), (1L, 150L, "mid"),
      (1L, 400L, "far"), (2L, 45L, "before"))
      .toDF("rk", "rt", "v")
    val fwd = AsofJoin.asofJoin(left, right, "k", "rk", "t", "rt",
        Seq("v"), direction = "forward")
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        Option(r.getString(2))).toMap
    // inclusive at equal times; nearest following otherwise
    assert(fwd((1L, 100L)).contains("exact"))
    assert(fwd((1L, 205L)).contains("far"))
    assert(fwd((2L, 50L)).isEmpty, "no right row at-or-after")
    val tol = AsofJoin.asofJoin(left, right, "k", "rk", "t", "rt",
        Seq("v"), direction = "forward", tolerance = Some(lit(100L)))
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        Option(r.getString(2))).toMap
    // nearest-then-tolerance: (1,205)'s nearest is 400, 195 away —
    // nulled, NOT replaced by anything else
    assert(tol((1L, 100L)).contains("exact"))
    assert(tol((1L, 205L)).isEmpty)
  }

  test("as-of join carries the latest right value at-or-before each " +
    "left time, null when none exists") {
    import spark.implicits._
    val left = Seq(
      (1L, 5L, "e1"), (1L, 10L, "e2"), (1L, 20L, "e3"),
      (2L, 7L, "e4"), (3L, 9L, "e5"))
      .toDF("key", "t", "tag")
    val right = Seq(
      (1L, 5L, "r@5"), (1L, 15L, "r@15"),
      (2L, 8L, "r@8")) // key 2's only row is later than e4; key 3 empty
      .toDF("key", "t", "v")
    val out = AsofJoin.asofJoin(left, right,
      "key", "key", "t", "t", Seq("v"))
      .select(col("tag"), col("asof_v"))
      .collect().map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(out == Map(
      "e1" -> Some("r@5"), // inclusive: same-instant right row matches
      "e2" -> Some("r@5"),
      "e3" -> Some("r@15"),
      "e4" -> None,
      "e5" -> None))
  }

  test("as-of join propagates a matched right row's NULL value and " +
    "never matches NULL keys") {
    import spark.implicits._
    val left = Seq(
      (Option(1L), 10L, "e1"), (Option(1L), 30L, "e2"),
      (Option.empty[Long], 10L, "e3")) // null-key left row
      .toDF("key", "t", "tag")
    val right = Seq(
      (Option(1L), 5L, Option("r@5")),
      (Option(1L), 20L, Option.empty[String]), // matched row carries NULL
      (Option.empty[Long], 1L, Option("null-key-r"))) // must never match
      .toDF("key", "t", "v")
    val out = AsofJoin.asofJoin(left, right,
      "key", "key", "t", "t", Seq("v"))
      .select(col("tag"), col("asof_v"))
      .collect().map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(out == Map(
      "e1" -> Some("r@5"),
      "e2" -> None, // the r@20 match's NULL, not the older r@5
      "e3" -> None)) // ASOF equality never matches a NULL key
  }

  test("hot-key salted join: hot NULL keys never poison the cold " +
    "branch's NOT-IN filter") {
    import spark.implicits._
    graft.operators.ArtifactStore.clear("hot_keys")
    // NULL is the most frequent key — an unfiltered probe would
    // collect it as hot, and `NOT k IN (..., NULL)` then evaluates
    // NULL for every cold row, silently dropping the whole cold side
    // (ADVICE r4). 999 is also hot; 0-49 are the cold tail.
    val big = ((1 to 4000).map(_ => (Option.empty[Long], 0L)) ++
      (1 to 3000).map(i => (Option(999L), i.toLong)) ++
      (1 to 1000).map(i => (Option(i.toLong % 50), i.toLong)))
      .toDF("k", "payload")
    val small = (0L to 999L).map(k => (k, s"dim_$k")).toDF("sk", "attr")
    val plain = big.join(small, big("k") === small("sk"))
      .select(col("k"), col("payload"), col("attr"))
    val adaptive = SkewJoin.saltedHotKeyJoin(big, small, "k", "sk",
        salts = 4, sampleFraction = 0.5, hotRowThreshold = 1000)
      .select(col("k"), col("payload"), col("attr"))
    assert(plain.count() > 0)
    assert(adaptive.count() == plain.count())
    assert(adaptive.exceptAll(plain).isEmpty &&
      plain.exceptAll(adaptive).isEmpty)
  }

  test("hot-key probe is memoized per plan: a repeated join reuses " +
    "one detection scan") {
    import spark.implicits._
    graft.operators.ArtifactStore.clear("hot_keys")
    val big = ((1 to 3000).map(_ => (999L, 1L)) ++
      (1 to 500).map(i => (i.toLong % 50, i.toLong))).toDF("k", "payload")
    val first = SkewJoin.probeHotKeys(big, "k",
      sampleFraction = 0.5, hotRowThreshold = 1000)
    val second = SkewJoin.probeHotKeys(big, "k",
      sampleFraction = 0.5, hotRowThreshold = 1000)
    // reference equality: the second call returned the memoized array
    // without running the sample/groupBy/collect scan again
    assert(first eq second)
    assert(first.toSeq == Seq(999L))
    // a semantically different plan gets its own probe
    val other = SkewJoin.probeHotKeys(big.filter(col("payload") >= 0), "k",
      sampleFraction = 0.5, hotRowThreshold = 1000)
    assert(!(other eq first))
    graft.operators.ArtifactStore.clear("hot_keys")
  }

  test("pagerank: distributed loop and bounded driver variant are " +
    "bit-identical; ranks are a probability distribution") {
    import spark.implicits._
    // small weighted digraph with a dangling-free structure and
    // asymmetric weights (exercises the decimal-sum path)
    val edges = Seq(
      ("a", "b", 0.5), ("a", "c", 0.5),
      ("b", "a", 1.0),
      ("c", "a", 0.25), ("c", "b", 0.75)).toDF("src", "dst", "w")
    val n = PageRank.nodesOf(edges).count()
    val dist = PageRank.run(edges, n).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val bounded = PageRank.runBounded(edges).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(dist == bounded,
      s"distributed $dist != bounded $bounded")
    val sum = bounded.values.sum
    assert(math.abs(sum - 1.0) < 1e-9, s"rank mass $sum")
    assert(bounded.values.forall(_ > 0.0))
  }

  test("pagerank on an empty edge list returns an empty rank table") {
    import spark.implicits._
    val edges = Seq.empty[(String, String, Double)].toDF("src", "dst", "w")
    assert(PageRank.runBounded(edges).count() == 0)
  }
}
