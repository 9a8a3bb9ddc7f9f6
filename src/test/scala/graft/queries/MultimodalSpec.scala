package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.Row

/** ANN-IVF quality (VERDICT r1 #8): quantify recall of the bucketed
  * index against the brute-force cosine top-k baseline (q29), and pin
  * the quantizer's determinism. Recall@10 = |ivf top-10 ∩ brute
  * top-10| / 10 on the sf0.01 fixture (2k vectors, 8 cells).
  */
class MultimodalSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.01"

  private def top10(rows: Array[Row]): Set[Long] =
    rows.map(_.getLong(0)).toSet

  test("mm_image_roundtrip decodes REAL PNGs: dims and pixel checksum " +
    "from the decoded image equal the generation formula") {
    val rows = graft.SparkEntry.queries("mm_image_roundtrip")(spark, dir)
      .limit(20).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val w = 16 + (id % 32); val h = 16 + (id * 3) % 24
      assert(r.getAs[Long]("width") == w && r.getAs[Long]("height") == h,
        s"decoded dims disagree with the formula at doc $id: $r")
      var sum = 0L
      for (y <- 0 until h.toInt; x <- 0 until w.toInt)
        sum += (id + x * 3 + y * 7) % 256 + 2 * ((x * 5 + y) % 256) +
          3 * ((id * 11 + x + y * 13) % 256)
      assert(r.getAs[Long]("pixel_sum") == sum,
        s"decoded pixel checksum disagrees at doc $id: $r vs $sum")
    }
  }

  test("an undecodable blob fails the decode stage loudly") {
    import spark.implicits._
    val bad = Seq((1L, Array[Byte](1, 2, 3))).toDF("doc_id", "png")
    val ex = intercept[Exception] {
      Multimodal.decodeBlobs(bad).collect()
    }
    assert(ex.getMessage.contains("undecodable"), ex.getMessage)
  }

  test("a non-WAV blob fails the audio decode stage loudly") {
    import spark.implicits._
    val bad = Seq((1L, Array[Byte](1, 2, 3, 4, 5, 6, 7, 8)))
      .toDF("doc_id", "wav")
    val ex = intercept[Exception] {
      Multimodal.decodeWavBlobs(bad).collect()
    }
    // javax.sound raises UnsupportedAudioFileException for a
    // container it cannot parse — the task fails, nothing is faked
    assert(ex.getMessage != null, ex.toString)
  }

  test("a non-GIF blob fails the frame-sample stage loudly") {
    import spark.implicits._
    val bad = Seq((1L, Array[Byte](1, 2, 3, 4, 5, 6, 7, 8)))
      .toDF("doc_id", "gif")
    val ex = intercept[Exception] {
      Multimodal.sampleGifBlobs(bad).collect()
    }
    // javax.imageio either refuses the container (no frames) or
    // throws on read — the task fails, nothing is faked
    assert(ex.getMessage != null, ex.toString)
  }

  test("GIF frame sampling decodes real frames: count, every-5th " +
    "sampling, lossless pixels") {
    import spark.implicits._
    val rows = graft.SparkEntry.queries("mm_frame_sample")(spark, dir)
      .filter(org.apache.spark.sql.functions.col("doc_id") < 20)
      .collect()
    for (r <- rows) {
      val id = r.getAs[Long]("doc_id")
      val n = 4 + (id % 23)
      val w = 8 + (id % 9)
      val h = 8 + ((id * 5) % 7)
      assert(r.getAs[Long]("n_frames") == n, s"frame count at doc $id: $r")
      val f = r.getAs[Long]("frame_idx")
      assert(f % 5 == 0 && f < n, s"sampled index off-grid at doc $id: $r")
      assert(r.getAs[Long]("width") == w && r.getAs[Long]("height") == h,
        s"decoded dims disagree with the formula at doc $id: $r")
      var sum = 0L
      for (y <- 0 until h.toInt; x <- 0 until w.toInt)
        sum += (id * 13 + f * 31 + x * 5 + y * 7) % 256
      assert(r.getAs[Long]("pixel_sum") == sum,
        s"decoded pixel checksum disagrees at doc $id frame $f: $r vs $sum")
    }
    // every doc below the cutoff contributed ceil(n/5) sampled frames
    val perDoc = rows.groupBy(_.getAs[Long]("doc_id"))
    for ((id, rs) <- perDoc) {
      val n = 4 + (id % 23)
      assert(rs.length == (n + 4) / 5,
        s"doc $id: expected ${(n + 4) / 5} sampled frames, got ${rs.length}")
    }
  }

  test("IVF recall@10 curve vs brute force: above the random-probe " +
    "floor at the shipped nProbe=2, monotone in probe width, exact " +
    "at full probe") {
    val brute = top10(graft.SparkEntry.queries("q29_similarity_topk")(
      spark, dir).collect())
    assert(brute.size == 10)
    val recalls = Seq(1, 2, 4, 8).map { p =>
      val ivf = top10(Multimodal.annIvfWith(spark, dir, p).collect())
      val r = (ivf & brute).size / 10.0
      info(f"recall@10 nProbe=$p: $r%.2f")
      p -> r
    }.toMap
    // Fixture embeddings are ISOTROPIC unit vectors (top-10 cosines
    // are only ~0.26-0.37) — the worst case for any coarse quantizer:
    // true neighbors spread near-uniformly over cells, so expected
    // recall at p probes of 8 cells has a p/8 floor plus whatever
    // directional lift the spherical assignment buys. Measured: 0.50
    // at nProbe=2 vs the 0.25 random floor — the index IS steering
    // probes toward the query's cone. Pin "well above random", not a
    // clustered-data fantasy number.
    assert(recalls(2) >= 2.0 / 8 + 0.1,
      s"nProbe=2 recall ${recalls(2)} not above the random-probe floor")
    // probing every cell IS brute force — recall must be exactly 1
    assert(recalls(8) == 1.0, "nProbe=8 must equal brute force")
    // monotone non-decreasing in probe width
    assert(recalls(1) <= recalls(2) && recalls(2) <= recalls(4) &&
      recalls(4) <= recalls(8))
  }

  test("hash-sampled quantizer is deterministic across runs") {
    // clear the IVF index between runs so the second call re-BUILDS —
    // the assertion is determinism of the build, not cache hygiene
    graft.operators.ArtifactStore.clear("ivf_index")
    val a = Multimodal.annIvfWith(spark, dir, 2).collect().toSeq
    graft.operators.ArtifactStore.clear("ivf_index")
    val b = Multimodal.annIvfWith(spark, dir, 2).collect().toSeq
    assert(a == b)
  }

  test("IVF index is built once per input plan (build-once cache)") {
    graft.operators.ArtifactStore.clear("ivf_index")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val first = Multimodal.ivfIndex(emb)
    val again = Multimodal.ivfIndex(
      spark.read.parquet(s"$dir/embeddings.parquet"))
    assert(again.assign eq first.assign,
      "same input plan must return the same persisted assignment")
    val other = Multimodal.ivfIndex(emb.limit(50))
    assert(!(other.assign eq first.assign),
      "a different input plan must build its own index")
    graft.operators.ArtifactStore.clear("ivf_index")
  }

  test("trained IVF (k-means, k=ceil(sqrt(n))): recall@10 >= 0.9 at " +
    "nProbe=2 on a clustered corpus — the regime IVF exists for") {
    graft.operators.ArtifactStore.clear("kmeans")
    graft.operators.KMeans.clearLoadedCache()
    import spark.implicits._
    // synthetic clustered embeddings at fixture scale: 30 tight
    // direction cones of ~33 vectors (dim 16, seeded) — the shape of a
    // real near-dup embedding corpus. vec 0 (the query) sits in
    // cluster 0, so its true top-10 are intra-cluster.
    val rng = new scala.util.Random(7)
    val centers = Array.fill(30)(Array.fill(16)(rng.nextGaussian()))
    val rows = (0 until 990).map { i =>
      val c = centers(i % 30)
      (i.toLong, c.map(x => (x + 0.05 * rng.nextGaussian()).toFloat).toSeq)
    }
    val emb = rows.toDF("vec_id", "embedding")
    val recall = Multimodal.ivfTrainedRecallAt10(emb, nProbe = 2)
    info(f"clustered trained-IVF recall@10 at nProbe=2: $recall%.2f")
    assert(recall >= 0.9,
      f"trained quantizer must capture the query's cluster: $recall%.2f")
    // and on the ISOTROPIC parquet fixture the same index is honest
    // about its limit: any k-cell quantizer's probe set captures about
    // nProbe/k of uniformly-spread neighbors (k=23 at sf0.01) — assert
    // the ceiling is acknowledged, not silently missed
    graft.operators.ArtifactStore.clear("kmeans")
    graft.operators.KMeans.clearLoadedCache()
    val fixtureRecall = Multimodal.ivfTrainedRecallAt10(
      spark.read.parquet(s"$dir/embeddings.parquet"), nProbe = 2)
    info(f"isotropic fixture recall@10 at nProbe=2: $fixtureRecall%.2f")
    assert(fixtureRecall < 0.9,
      "isotropic fixtures cannot satisfy the clustered-recall bar; if " +
        "this starts passing the fixtures changed and the oracle " +
        "contract should be revisited")
  }

  test("trained IVF verdict query: Lloyd objective never degrades, " +
    "deterministic across runs, k scales with corpus size") {
    graft.operators.ArtifactStore.clear("kmeans")
    graft.operators.KMeans.clearLoadedCache()
    graft.operators.ArtifactStore.clear("ivf_t_verdict")
    val a = Multimodal.annIvfTrainedWith(spark, dir, 2).collect().toSeq
    // drop BOTH caches so b re-trains from scratch: the assertion is
    // run-determinism of the training itself, not cache hygiene
    graft.operators.ArtifactStore.clear("kmeans")
    graft.operators.KMeans.clearLoadedCache()
    graft.operators.ArtifactStore.clear("ivf_t_verdict")
    val b = Multimodal.annIvfTrainedWith(spark, dir, 2).collect().toSeq
    assert(a == b, "trained verdict must be run-deterministic")
    assert(a.size == 1)
    assert(a.head.getLong(0) == 23L, "k = ceil(sqrt(500)) = 23")
    assert(a.head.getBoolean(2), "training must not degrade the objective")
  }

  test("KMeans spherical update: magnitude-invariant (unit-vector " +
    "means), zero-norm vectors excluded, centroids always finite " +
    "(r5 review fix)") {
    import spark.implicits._
    val base = Seq(
      1L -> Array(1f, 0f, 0f), 2L -> Array(0.75f, 0.25f, 0f),
      3L -> Array(0f, 1f, 0f), 4L -> Array(0.25f, 0.75f, 0f),
      5L -> Array(0f, 0f, 1f), 6L -> Array(0f, 0.25f, 0.75f))
    def fit(vs: Seq[(Long, Array[Float])]) =
      graft.operators.KMeans
        .fit(vs.toDF("vec_id", "embedding"), "embedding", "vec_id", 2, 3)
        .map(_.toSeq)
    val a = fit(base)
    // power-of-two rescale of one member: exact in float AND in the
    // per-row unit-normalization, so the spherical (unit-vector) mean
    // is bit-identical — a raw-vector mean would move with the scale
    val b = fit(base.map { case (id, v) =>
      id -> (if (id == 2L) v.map(_ * 4f) else v) })
    assert(a == b, "spherical update must ignore member magnitudes")
    // a zero vector has no direction: excluded from init AND update,
    // so training is unchanged by its presence and nothing goes NaN
    val c = fit(base :+ (7L -> Array(0f, 0f, 0f)))
    assert(a == c, "zero-norm vectors must not affect training")
    assert(c.forall(_.forall(x => !x.isNaN && !x.isInfinite)))
  }

  test("sample-trained quantizer (r6 verdict #1): hash-sample " +
    "training is deterministic, sample size tracks the cap, and the " +
    "objective matches full-corpus training on clustered data") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dot = graft.functions.VectorOps.dot_product _
    // clustered corpus — the regime the quantizer exists for; big
    // enough (800 > cap 80) that the hash-sample path actually engages
    val rng = new scala.util.Random(11)
    val centers = Array.fill(10)(Array.fill(8)(rng.nextGaussian()))
    val rows = (0 until 800).map { i =>
      val c = centers(i % 10)
      (i.toLong, c.map(x => (x + 0.05 * rng.nextGaussian()).toFloat).toSeq)
    }
    val emb = rows.toDF("vec_id", "embedding")
    val sampled = graft.operators.KMeans.fitStats(
      emb, "embedding", "vec_id", k = 10, iters = 3, sampleCap = 80)
    // the sample path engaged, and the threshold sample landed near
    // the cap (binomial around 80, not 800 and not a handful)
    assert(sampled.corpusN == 800L)
    assert(sampled.sampleN >= 40 && sampled.sampleN <= 160,
      s"hash-threshold sample of cap 80 over 800 rows came back " +
        s"${sampled.sampleN}")
    // data-deterministic: same corpus, same cap -> same sample, same
    // centroids (fixed-point Long sums are partition-order-free)
    val again = graft.operators.KMeans.fitStats(
      emb, "embedding", "vec_id", k = 10, iters = 3, sampleCap = 80)
    assert(sampled.cents.map(_.toSeq) == again.cents.map(_.toSeq),
      "sample training must be run-deterministic")
    assert(sampled.corpusFp == again.corpusFp)
    // quality: on clustered data a 256-per-centroid-style sample sees
    // every cluster, so the full-corpus objective of sample-trained
    // centroids matches full-corpus training within noise, and beats
    // the seeded init (training on a sample still trains)
    val e = emb.select(col("vec_id"), col("embedding"),
      dot(col("embedding"), col("embedding")).as("n2"))
    val full = graft.operators.KMeans.fit(
      emb, "embedding", "vec_id", k = 10, iters = 3,
      sampleCap = Int.MaxValue)
    val init = graft.operators.KMeans.fit(
      emb, "embedding", "vec_id", k = 10, iters = 0, sampleCap = 80)
    val objSample = Multimodal.meanMaxCos(e, sampled.cents)
    val objFull = Multimodal.meanMaxCos(e, full)
    val objInit = Multimodal.meanMaxCos(e, init)
    info(f"objective init=${objInit}%.4f sample=${objSample}%.4f " +
      f"full=${objFull}%.4f")
    assert(objSample >= objInit,
      "sample training must not degrade the seeded init")
    assert(objSample >= objFull - BigDecimal("0.02"),
      s"sample-trained objective $objSample too far below " +
        s"full-trained $objFull")
  }

  test("quantizer store provenance + dim guard (r5 ADVICE): meta " +
    "records what the store was trained with; serving a store against " +
    "a different-dimension corpus fails loudly") {
    import spark.implicits._
    graft.operators.ArtifactStore.clear("kmeans")
    graft.operators.KMeans.clearLoadedCache()
    val out = java.nio.file.Files.createTempDirectory("quantp").toString
    val emb3 = Seq(
      1L -> Seq(1f, 0f, 0f), 2L -> Seq(0f, 1f, 0f),
      3L -> Seq(0f, 0f, 1f), 4L -> Seq(1f, 1f, 0f))
      .toDF("vec_id", "embedding")
    val store = s"$out/ivf3"
    // cold fitOrLoad trains and persists WITH provenance
    graft.operators.KMeans.fitOrLoad(
      emb3, "embedding", "vec_id", k = 2, iters = 1, store)
    val meta = spark.read.parquet(s"$store/meta/state_v0").collect()(0)
    assert(meta.getAs[Int]("k") == 2)
    assert(meta.getAs[Int]("dim") == 3)
    assert(meta.getAs[Int]("iters") == 1)
    assert(meta.getAs[Long]("corpus_n") == 4L)
    assert(meta.getAs[Long]("sample_n") == 4L)
    assert(meta.getAs[Long]("corpus_fp") != 0L,
      "corpus fingerprint must be recorded")
    // the SAME store served against a dim-4 corpus must refuse: it was
    // trained on a different embedding table
    val emb4 = Seq(1L -> Seq(1f, 0f, 0f, 0f), 2L -> Seq(0f, 1f, 0f, 0f))
      .toDF("vec_id", "embedding")
    val ex = intercept[IllegalStateException] {
      graft.operators.KMeans.fitOrLoad(
        emb4, "embedding", "vec_id", k = 2, iters = 1, store)
    }
    assert(ex.getMessage.contains("different embedding table"))
    graft.operators.ArtifactStore.clear("kmeans")
    graft.operators.KMeans.clearLoadedCache()
  }

  test("trained quantizer persists durably: save/load round-trips " +
    "bit-identically, fitOrLoad serves from disk across sessions, " +
    "uncommitted dirs fail loudly") {
    import spark.implicits._
    graft.operators.ArtifactStore.clear("kmeans")
    graft.operators.KMeans.clearLoadedCache()
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val trained = graft.operators.KMeans.fit(
      emb, "embedding", "vec_id", k = 5, iters = 2)
    val out = java.nio.file.Files.createTempDirectory("quant").toString
    val store = s"$out/ivf_k5"
    graft.operators.KMeans.save(spark, trained, store)
    val loaded = graft.operators.KMeans.load(spark, store)
    assert(loaded.map(_.toSeq) == trained.map(_.toSeq),
      "doubles must survive the parquet round-trip exactly")
    // fitOrLoad with an EMPTY session cache and matching k but
    // iters=0 must return the iters=2-trained centroids: retraining
    // would reproduce the seeded init, so equality proves it served
    // from the store
    graft.operators.ArtifactStore.clear("kmeans")
    graft.operators.KMeans.clearLoadedCache()
    val served = graft.operators.KMeans.fitOrLoad(
      emb, "embedding", "vec_id", k = 5, iters = 0, store)
    assert(served.map(_.toSeq) == trained.map(_.toSeq),
      "fitOrLoad must serve the committed quantizer, not retrain")
    // a k mismatch against the committed store must fail loudly, not
    // silently serve the wrong cell granularity
    intercept[IllegalStateException] {
      graft.operators.KMeans.fitOrLoad(
        emb, "embedding", "vec_id", k = 3, iters = 0, store)
    }
    // a second save never destroys the committed version mid-write:
    // it commits a NEW version, and load resolves to it
    graft.operators.KMeans.save(spark, trained.take(4), store)
    assert(graft.operators.KMeans.load(spark, store).size == 4,
      "a re-save must commit a new readable version")
    intercept[IllegalArgumentException] {
      graft.operators.KMeans.save(spark, IndexedSeq.empty, store)
    }
    intercept[IllegalStateException] {
      graft.operators.KMeans.load(spark, s"$out/nothing_here")
    }
    graft.operators.ArtifactStore.clear("kmeans")
    graft.operators.KMeans.clearLoadedCache()
  }

  test("llm_ivf_balance: shares sum to 1, counts cover the corpus, " +
    "cohesion within [-1, 1] and own-centroid cells contain their " +
    "centroid (cohesion > 0 on the fixture)") {
    val rows = graft.SparkEntry.queries("llm_ivf_balance")(
      spark, "/root/testdata/sf0.001").collect()
    assert(rows.length == 8, s"expected 8 cells, got ${rows.length}")
    val n = rows.map(_.getAs[Long]("n_vectors")).sum
    val total = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet").count()
    assert(n == total, s"cells must partition the corpus: $n vs $total")
    val shareSum = rows.map(_.getAs[Double]("share")).sum
    assert(math.abs(shareSum - 1.0) < 1e-2, s"shares must sum to 1: $shareSum")
    rows.foreach { r =>
      val c = r.getAs[Double]("mean_cohesion")
      assert(c >= -1.0 - 1e-9 && c <= 1.0 + 1e-9, s"cohesion range: $r")
    }
  }

  test("mm_phash_dedup finds the manufactured brightness variants and " +
    "nothing else: every pair is (base, base+1), recall >= 0.9") {
    val rows = graft.SparkEntry.queries("mm_phash_dedup")(spark, dir)
      .collect()
    val nDocs = graft.Tables(spark, dir, "documents").count()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (a, b, d) = (r.getLong(0), r.getLong(1), r.getLong(2))
      // the residue-salted corpus makes cross-document collisions
      // vanishingly rare — every detected pair must be a doc's own
      // +2-brightness variant (img ids are doc_id*2 and doc_id*2+1)
      assert(a % 2 == 0 && b == a + 1,
        s"unexpected cross-document pair ($a, $b)")
      assert(d >= 0 && d <= 3, s"hamming out of band: $r")
    }
    // a +2 clamped channel shift moves block averages by <= 1 gray
    // level, so most variants stay within the d<=3 band (96.7%
    // measured at sf0.1); pin a conservative floor
    assert(rows.length >= (nDocs * 9) / 10,
      s"variant recall too low: ${rows.length} of $nDocs")
  }

  test("mm_dhash_dedup: gradient hash finds the brightness variants " +
    "with recall >= phash's floor and nothing else") {
    val rows = graft.SparkEntry.queries("mm_dhash_dedup")(spark, dir)
      .collect()
    val nDocs = graft.Tables(spark, dir, "documents").count()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (a, b, d) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(a % 2 == 0 && b == a + 1,
        s"unexpected cross-document pair ($a, $b)")
      assert(d >= 0 && d <= 3, s"hamming out of band: $r")
    }
    // dHash thresholds each block against its neighbor, so a +2
    // clamped single-channel shift (<= 1 gray level per block) flips
    // a bit only where adjacent block averages were within 1 of each
    // other — variant recall should be at least the aHash floor
    assert(rows.length >= (nDocs * 9) / 10,
      s"variant recall too low: ${rows.length} of $nDocs")
  }

  test("mm_phash_dct: the spectral hash finds the brightness variants " +
    "with the family's best recall and nothing else") {
    val rows = graft.SparkEntry.queries("mm_phash_dct")(spark, dir)
      .collect()
    val nDocs = graft.Tables(spark, dir, "documents").count()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (a, b, d) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(a % 2 == 0 && b == a + 1,
        s"unexpected cross-document pair ($a, $b)")
      assert(d >= 0 && d <= 3, s"hamming out of band: $r")
    }
    // the ±1-gray clamp noise of the +2-red variant is high-frequency
    // — the 8×8 low-pass DCT window barely sees it, so pHash recall
    // beats both block hashes (measured 100% at sf0.01, 99.9% at
    // sf0.1 vs dHash 99.2% and aHash 96.7%)
    assert(rows.length >= (nDocs * 95) / 100,
      s"variant recall too low: ${rows.length} of $nDocs")
  }

  test("llm_ann_ivfpq: shortlist deterministic, ADC-ordered, " +
    "candidates confined to the probed cells, signal above noise") {
    val run1 = graft.SparkEntry.queries("llm_ann_ivfpq")(spark, dir)
      .collect()
    val run2 = graft.SparkEntry.queries("llm_ann_ivfpq")(spark, dir)
      .collect()
    assert(run1.toSeq == run2.toSeq, "IVF-PQ shortlist not deterministic")
    assert(run1.length == 10)
    val adcs = run1.map(_.getAs[Double]("adc_score"))
    assert(adcs.zip(adcs.tail).forall { case (a, b) => a >= b },
      s"ADC scores not descending: ${adcs.toSeq}")
    // every shortlisted candidate must live in one of the query's 2
    // probed cells (the whole point of the coarse quantizer)
    val emb = graft.Tables(spark, dir, "embeddings")
    val ix = Multimodal.ivfIndex(emb)
    import org.apache.spark.sql.functions._
    val assign = ix.assign.select(col("vec_id"), col("cid")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cellsOfShortlist = run1.map(r => assign(r.getLong(0))).toSet
    assert(cellsOfShortlist.size <= 2,
      s"shortlist spans ${cellsOfShortlist.size} cells (> nProbe=2): " +
        s"$cellsOfShortlist")
    // the query's own assigned cell is its top-1 probe (same argmax),
    // so it is always in the probe set — the shortlist's cells must
    // be a subset of {own cell, one other}
    val qCell = assign(0L)
    assert((cellsOfShortlist - qCell).size <= 1,
      s"shortlist cells $cellsOfShortlist exceed {own, +1}: own=$qCell")
    // the probe confines the pool to 2 of 8 cells (~25% of an
    // ISOTROPIC corpus), so the shortlist is necessarily weaker than
    // whole-corpus PQ's (0.17): measured 0.048 at sf0.01 — pin above
    // the corpus mean (~0, σ/√10 ≈ 0.04 for 64-dim random cosines)
    // without pretending cell-restricted isotropic recall
    val meanCos = run1.map(_.getAs[Double]("exact_cos")).sum / 10.0
    assert(meanCos > 0.02,
      s"IVF-PQ shortlist mean exact cosine $meanCos is noise-level")
  }

  test("llm_ann_pq: ADC shortlist is deterministic, ordered, and " +
    "carries real signal (mean exact cosine well above the isotropic " +
    "corpus mean of ~0)") {
    val run1 = graft.SparkEntry.queries("llm_ann_pq")(spark, dir).collect()
    val run2 = graft.SparkEntry.queries("llm_ann_pq")(spark, dir).collect()
    assert(run1.toSeq == run2.toSeq, "PQ shortlist is not deterministic")
    assert(run1.length == 10)
    val adcs = run1.map(_.getAs[Double]("adc_score"))
    assert(adcs.zip(adcs.tail).forall { case (a, b) => a >= b },
      s"ADC scores not descending: ${adcs.toSeq}")
    // 16-codeword hash-sampled codebooks are a weak quantizer on an
    // isotropic fixture (the honest llm_ann_recall posture), but the
    // compressed scan must still rank REAL neighbors: mean exact
    // cosine of the shortlist must sit clearly above the ~0 corpus
    // mean (measured 0.17 at sf0.01)
    val meanCos = run1.map(_.getAs[Double]("exact_cos")).sum / 10.0
    assert(meanCos > 0.05,
      s"PQ shortlist mean exact cosine $meanCos is noise-level")
  }

  test("mm_afp_dedup: every pair is a true (base, noise-variant) clip " +
    "pair of one doc, recall stays near 1, and the fingerprint is " +
    "DC-offset invariant") {
    val dir = "/root/testdata/sf0.01"
    val rows = graft.SparkEntry.queries("mm_afp_dedup")(spark, dir)
      .collect()
    // purity: a_id even, b_id = a_id + 1 — the residue-salted corpus
    // must never pair two different docs at d≤3
    rows.foreach { r =>
      val a = r.getAs[Long]("a_id"); val b = r.getAs[Long]("b_id")
      assert(a % 2 == 0 && b == a + 1,
        s"cross-document audio pair ($a, $b) — corpus salting broke")
      assert(r.getAs[Long]("hamming") <= 3)
    }
    // recall floor: ±1 noise flips an AC sign only when |coef| is
    // tiny (measured 499/500 at sf0.01, 49998/50000 at sf1)
    assert(rows.length >= 495,
      s"variant recall collapsed: ${rows.length}/500 pairs")
    // DC-offset invariance: skipping u=0 means a constant amplitude
    // shift leaves every fingerprint bit unchanged — hash a shifted
    // clip directly and compare
    val base = Multimodal.afpClipForTest(7L, 0)
    val shifted = base.map(s => (s + 50).toShort)
    assert(Multimodal.afpBitsForTest(base) ==
      Multimodal.afpBitsForTest(shifted),
      "fingerprint not invariant to a constant amplitude offset")
  }

  test("llm_ann_opq: snake allocation balances per-subspace variance " +
    "better than the identity split, and the ADC shortlist is " +
    "deterministic with real signal") {
    val run1 = graft.SparkEntry.queries("llm_ann_opq")(spark, dir).collect()
    val run2 = graft.SparkEntry.queries("llm_ann_opq")(spark, dir).collect()
    assert(run1.toSeq == run2.toSeq, "OPQ shortlist is not deterministic")
    assert(run1.length == 10)
    val adcs = run1.map(_.getAs[Double]("adc_score"))
    assert(adcs.zip(adcs.tail).forall { case (a, b) => a >= b },
      s"ADC scores not descending: ${adcs.toSeq}")
    val meanCos = run1.map(_.getAs[Double]("exact_cos")).sum / 10.0
    assert(meanCos > 0.05,
      s"OPQ shortlist mean exact cosine $meanCos is noise-level")
    // independent reimplementation of the allocation (plain Scala over
    // the collected fixture — a test-side differential check): the
    // snake split's per-subspace variance-proxy sums must spread no
    // wider than the identity split's contiguous 8-dim blocks
    val vecs = graft.Tables(spark, dir, "embeddings")
      .selectExpr("transform(embedding, x -> cast(x as double))")
      .collect().map(_.getSeq[Double](0))
    val n = vecs.length.toLong
    val vp = (0 until 64).map { d =>
      var sy = BigInt(0); var sy2 = BigInt(0)
      vecs.foreach { v =>
        val y = BigInt(math.floor(v(d) * 1048576.0).toLong)
        sy += y; sy2 += y * y
      }
      BigInt(n) * sy2 - sy * sy
    }
    def spread(alloc: Int => Int): BigInt = {
      val sums = Array.fill(8)(BigInt(0))
      (0 until 64).foreach(d => sums(alloc(d)) += vp(d))
      sums.max - sums.min
    }
    val rankOf = (0 until 64).sortBy(d => (-vp(d), d))
      .zipWithIndex.toMap // dim -> variance rank
    val snakeSpread = spread { d =>
      val r = rankOf(d)
      if ((r / 8) % 2 == 0) r % 8 else 7 - (r % 8)
    }
    // the PROVABLE balance invariant (not a fixture coincidence —
    // review r11): every subspace takes exactly one dim per rank
    // octile, so any two subspace sums differ per octile by at most
    // that octile's range: spread ≤ Σ_blocks (max_b − min_b)
    val sortedVp = vp.sortBy(v => -v)
    val blockRangeSum = (0 until 8)
      .map(b => sortedVp(b * 8) - sortedVp(b * 8 + 7)).sum
    assert(snakeSpread <= blockRangeSum,
      s"snake spread $snakeSpread exceeds the per-octile range bound " +
        s"$blockRangeSum — the allocation is not one-per-octile")
    // and the bound is TIGHT on this corpus relative to the naive
    // contiguous split (observed ~20× wider spread at sf0.01) — an
    // observation, not an invariant, so no hard assert on it
  }

  test("mm_matryoshka_recall: recall@10 grows with prefix width and " +
    "stays a valid proportion") {
    val rows = graft.SparkEntry.queries("mm_matryoshka_recall")(spark, dir)
      .collect()
    assert(rows.map(_.getAs[Int]("k_dims")).toSeq == Seq(8, 16, 32))
    val recalls = rows.map(_.getAs[Double]("recall"))
    recalls.foreach(r => assert(r >= 0.0 && r <= 1.0, s"recall range: $r"))
    assert(recalls(0) <= recalls(1) && recalls(1) <= recalls(2),
      s"recall not monotone in prefix width: ${recalls.toSeq}")
    rows.foreach { r =>
      assert(r.getAs[Long]("sum_overlap") <=
        10L * r.getAs[Long]("n_queries"), s"overlap exceeds top-k: $r")
    }
  }
}
