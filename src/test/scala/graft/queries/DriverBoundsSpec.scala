package graft.queries

import java.nio.file.Files

import graft.SparkSpec
import graft.streaming.VersionedState

/** Every documented driver-side bound is a loud `require`, not a
  * comment (VERDICT r5 #6): a 100× misuse or a corrupt/foreign store
  * must fail fast with an actionable message BEFORE the driver
  * collects anything unbounded. One failure-path test per cap.
  */
class DriverBoundsSpec extends SparkSpec {

  test("quantizer load refuses a store past the driver-residency " +
    "budget from the META row, before collecting centroids") {
    import spark.implicits._
    val out = Files.createTempDirectory("qbound").toString
    val store = s"$out/ivf"
    val emb = Seq(1L -> Seq(1f, 0f), 2L -> Seq(0f, 1f))
      .toDF("vec_id", "embedding")
    graft.operators.ArtifactStore.clear("kmeans")
    graft.operators.KMeans.clearLoadedCache()
    graft.operators.KMeans.fitOrLoad(
      emb, "embedding", "vec_id", k = 2, iters = 0, store)
    // forge the committed meta to claim a giant quantizer: the cap
    // must fire off the one-row meta, not after a centroid collect
    Seq((20000, 10000, 0, -1L, 0L, -1L))
      .toDF("k", "dim", "iters", "corpus_n", "corpus_fp", "sample_n")
      .coalesce(1).write.mode("overwrite")
      .parquet(VersionedState.path(store, "meta", 0))
    val ex = intercept[IllegalArgumentException] {
      graft.operators.KMeans.load(spark, store)
    }
    assert(ex.getMessage.contains("driver-residency"), ex.getMessage)
    graft.operators.ArtifactStore.clear("kmeans")
    graft.operators.KMeans.clearLoadedCache()
  }

  test("heavy-hitters maintainer refuses a stored summary past the " +
    "driver-residency cap, while a legitimate k decrease re-bounds") {
    import spark.implicits._
    val dir = Files.createTempDirectory("hhbound").toString
    // forge a committed store no sane MG summary could produce
    spark.range(graft.streaming.HeavyHittersStream.MaxSummaryRows + 1)
      .selectExpr("CAST(id AS STRING) AS w", "id AS c")
      .write.parquet(VersionedState.path(dir, "summary", 0))
    Seq(55L).toDF("n_total").coalesce(1).write
      .parquet(VersionedState.path(dir, "meta", 0))
    val ex = intercept[IllegalArgumentException] {
      graft.streaming.HeavyHittersStream.updateBatch(
        Seq("x").toDF("w"), "w", dir, batchId = 1, k = 4)
    }
    assert(ex.getMessage.contains("driver-residency"), ex.getMessage)
    // restarting with a SMALLER k than the store was built with is a
    // legitimate re-bounding, not corruption (r6 review): the merge
    // trims to the new k
    val dir2 = Files.createTempDirectory("hhrebound").toString
    val words = (1 to 10).flatMap(i => Seq.fill(i)(s"w$i"))
    graft.streaming.HeavyHittersStream.updateBatch(
      words.toDF("w"), "w", dir2, batchId = 0, k = 8)
    graft.streaming.HeavyHittersStream.updateBatch(
      Seq("w10").toDF("w"), "w", dir2, batchId = 1, k = 3)
    val (summary, n) =
      graft.streaming.HeavyHittersStream.current(spark, dir2)
    assert(summary.size <= 3, s"k decrease must re-bound: $summary")
    assert(n == words.size + 1L)
  }

  test("count-min maintainer refuses counter indexes outside the " +
    "d x w matrix") {
    import spark.implicits._
    val dir = Files.createTempDirectory("cmsbound").toString
    val depth = 2
    val bad = depth * graft.operators.CountMin.Width + 5
    Seq((bad, 7L)).toDF("i", "c")
      .coalesce(1).write.parquet(VersionedState.path(dir, "sketch", 0))
    Seq((depth, 7L)).toDF("depth", "n").coalesce(1).write
      .parquet(VersionedState.path(dir, "meta", 0))
    val ex = intercept[IllegalArgumentException] {
      graft.streaming.CountMinStream.current(spark, dir, depth)
    }
    assert(ex.getMessage.contains("outside the"), ex.getMessage)
  }

  test("skew-join hot-key probe rejects a cap past the driver/IN-list " +
    "budget") {
    import spark.implicits._
    val df = Seq(1L -> "a").toDF("k", "v")
    val ex = intercept[IllegalArgumentException] {
      graft.operators.SkewJoin.probeHotKeys(
        df, "k", maxHotKeys = 2000000)
    }
    assert(ex.getMessage.contains("driver-resident"), ex.getMessage)
  }

  test("pagerank runBounded refuses an over-cap edge list before " +
    "collecting it") {
    import spark.implicits._
    val edges = Seq(("a", "b", 1.0), ("b", "a", 1.0), ("a", "c", 0.0))
      .toDF("src", "dst", "w")
    val ex = intercept[IllegalArgumentException] {
      graft.operators.PageRank.runBounded(edges, maxEdges = 2)
    }
    assert(ex.getMessage.contains("driver cap"), ex.getMessage)
  }

  test("q97 batch form raises on a user series past the per-task " +
    "cap, pointing at the streaming twin") {
    import spark.implicits._
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val events = (1 to 4)
      .map(i => (7L, ts, i.toLong, 1.5))
      .toDF("user_id", "ts", "event_id", "value")
    val ex = intercept[Exception] {
      Events.ewmaBatch(events, cap = 3).collect()
    }
    assert(ex.getMessage.contains("EventPipelines.ewma"),
      s"guard must route to the streaming twin: ${ex.getMessage}")
    // at the cap itself the query still runs
    assert(Events.ewmaBatch(events, cap = 4).collect().length == 1)
  }

  test("q102 batch form raises on a user series past the per-task " +
    "cap, pointing at the streaming twin") {
    import spark.implicits._
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val events = (1 to 4)
      .map(i => (7L, ts, i.toLong, 1.5))
      .toDF("user_id", "ts", "event_id", "value")
    val ex = intercept[Exception] {
      Events.holtBatch(events, cap = 3).collect()
    }
    assert(ex.getMessage.contains("EventPipelines.holt"),
      s"guard must route to the streaming twin: ${ex.getMessage}")
    assert(Events.holtBatch(events, cap = 4).collect().length == 1)
  }

  test("q103 batch form raises on a (user, type) series past the " +
    "per-task cap, pointing at the streaming twin; and suppression " +
    "is relative to the last KEPT event, not the previous row") {
    import spark.implicits._
    def ts(min: Int) = java.sql.Timestamp.valueOf(
      f"2024-01-01 ${min / 60}%02d:${min % 60}%02d:00")
    // events at 0/20/40/60 min, 30-min window: 0 kept; 20 suppressed
    // (gap 20 from survivor 0); 40 kept (gap 40 > 30 from survivor 0
    // — a gap-to-previous-ROW formulation would suppress it, gap 20);
    // 60 suppressed (gap 20 from survivor 40)
    val events = Seq(0, 20, 40, 60).zipWithIndex
      .map { case (m, i) => (7L, "click", ts(m), i.toLong) }
      .toDF("user_id", "event_type", "ts", "event_id")
    val rows = Events.debounceBatch(events, cap = 10).collect()
    assert(rows.length == 1)
    assert(rows.head.getLong(2) == 4L && rows.head.getLong(3) == 2L,
      s"debounce must keep {0, 40min}: ${rows.head}")
    val ex = intercept[Exception] {
      Events.debounceBatch(events, cap = 3).collect()
    }
    assert(ex.getMessage.contains("EventPipelines.debounce"),
      s"guard must route to the streaming twin: ${ex.getMessage}")
  }

  test("bigram LM model build refuses an over-cap vocabulary before " +
    "collecting it") {
    import spark.implicits._
    graft.operators.ArtifactStore.clearAll()
    val docs = Seq((1L, "a b c d e", "web"), (2L, "b c d e f", "web"))
      .toDF("doc_id", "text", "source")
    val ex = intercept[IllegalArgumentException] {
      Curation.bigramLmModel(docs, maxEntries = 1L)
    }
    assert(ex.getMessage.contains("broadcast model"), ex.getMessage)
    graft.operators.ArtifactStore.clearAll()
  }

  test("withGroupRank refuses a per-entity group key before the " +
    "driver holds more than the bounded cell cap (VERDICT r12 #2)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val n = 2 * (graft.operators.DistributedNtile.MaxGroups + 5)
    val df = (0 until n)
      .map(i => (i.toLong, s"user${i % (n / 2)}", i % 7))
      .toDF("id", "grp", "v")
    val ex = intercept[IllegalArgumentException] {
      graft.operators.DistributedNtile.withGroupRank(
        df, "grp", "rn", "cnt", col("v"), col("id"))
    }
    assert(ex.getMessage.contains("per-entity Window"), ex.getMessage)
  }
}
