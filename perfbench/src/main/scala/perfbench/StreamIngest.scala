package perfbench

import java.io.File
import java.nio.file.{Files => JFiles, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import graft.streaming.{DedupIndexStream, DocumentStream, EventPipelines}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

/** The `stream_ingest` workload: an open-loop generator drops seeded
  * slices of `documents` and `events` as parquet files into two input
  * directories at a fixed rate, and real file-source streams drive
  * three maintainers: the LSM near-dup band index
  * (`DedupIndexStream.indexStream`), the term-stats state
  * (`DocumentStream.termStatsStream`) and a watermarked tumbling-window
  * query (`EventPipelines.tumbling`). The seed fixes which documents go
  * in which file and which events arrive out of order; every late event
  * stays inside the 2-hour watermark, so no row is dropped and each
  * final state must equal its batch twin over the whole tables.
  */
final class StreamIngest(a: Args) extends Workload {
  import StreamIngest._

  private var dir: String = _
  private var docFiles: Seq[File] = Nil
  private var eventFiles: Seq[File] = Nil

  def setup(spark: SparkSession, rep: Int): Unit = {
    dir = s"${a.workDir}/stream-$rep"
    val n = files
    val docs = graft.Tables(spark, a.dataDir, "documents")
      .withColumn("file_idx", pmod(xxhash64(col("doc_id"), lit(a.seed)), lit(n)))
    val byTs = org.apache.spark.sql.expressions.Window.orderBy(col("ts"), col("event_id"))
    val inFile = org.apache.spark.sql.expressions.Window.partitionBy(col("file_idx"))
    val events = graft.queries.Events.events(spark, a.dataDir)
      .withColumn("ts", col("ts").cast("timestamp"))
      .withColumn("rn", row_number().over(byTs) - 1)
      .withColumn("file_idx", floor(col("rn") * n / lit(EventRows)).cast("int"))
      .withColumn("file_max", max(col("ts")).over(inFile))
      // a seeded share of the rows near a file's end arrive one file
      // late, still inside the watermark of every batch that reads them
      .withColumn("file_idx", when(col("file_idx") < n - 1 &&
        col("ts") > col("file_max") - expr(s"INTERVAL $LateWithinMinutes MINUTES") &&
        pmod(xxhash64(col("event_id"), lit(a.seed)), lit(100)) < LatePercent,
        col("file_idx") + 1).otherwise(col("file_idx")))
      .drop("rn", "file_max")
    docFiles = stage(docs, s"$dir/staged/docs", "docs")
    eventFiles = stage(events, s"$dir/staged/events", "events")
  }

  private def files: Int = FilesPerSecond * a.seconds

  /** Write one parquet file per file_idx; returns them in order. */
  private def stage(df: DataFrame, out: String, prefix: String): Seq[File] = {
    df.repartition(col("file_idx")).write.partitionBy("file_idx").parquet(out)
    (0 until files).flatMap { k =>
      Option(new File(out, s"file_idx=$k").listFiles())
        .flatMap(_.find(f => f.getName.endsWith(".parquet")))
        .map { f =>
          val named = new File(out, f"$prefix-$k%04d.parquet")
          JFiles.move(f.toPath, named.toPath)
          named
        }
    }
  }

  override def teardown(spark: SparkSession): Unit =
    spark.streams.active.foreach(_.stop())

  def run(spark: SparkSession, probe: Option[Probe]): Outcome = {
    val docsIn = new File(s"$dir/in/docs"); docsIn.mkdirs()
    val eventsIn = new File(s"$dir/in/events"); eventsIn.mkdirs()
    val dedupDir = s"$dir/state/dedup"
    val termDir = s"$dir/state/terms"
    val listener = probe.map(_ => new Progress(dedupDir))
    listener.foreach(spark.streams.addListener)

    val windows = new ConcurrentHashMap[(Long, String), (Long, Double)]()
    val tc0 = Clock.nowMs()
    val docs = graft.sources.Sources.readStream(spark, docsIn.getPath,
      spark.read.parquet(docFiles.head.getPath).schema)
    val events = graft.sources.Sources.readStream(spark, eventsIn.getPath,
      spark.read.parquet(eventFiles.head.getPath).schema)
    val tumbling = EventPipelines.tumbling(events)
    val tc1 = Clock.nowMs()
    def ckpt(q: String) = s"$dir/checkpoints/$q"
    val queries: Seq[(String, StreamingQuery)] = Seq(
      "dedup_index" -> DedupIndexStream.indexStream(
        docs.select(col("doc_id"), col("text")), dedupDir, AutoCompactEvery),
      "term_stats" -> DocumentStream.termStatsStream(docs, termDir),
      "tumbling" -> tumbling.writeStream.outputMode("update")
        .foreachBatch { (b: Dataset[Row], _: Long) =>
          b.collect().foreach { r =>
            windows.put((r.getTimestamp(0).getTime, r.getString(1)),
              (r.getLong(2), r.getDouble(3)))
          }
        }
    ).map { case (name, w) =>
      name -> w.queryName(name).option("checkpointLocation", ckpt(name)).start()
    }

    // open-loop generator: file k of each source lands at k / rate
    val dueMs = new ConcurrentHashMap[String, Double]()
    var lateMs = 0.0
    val t0 = Clock.nowMs() + 200.0
    val intervalMs = 1e3 / FilesPerSecond
    docFiles.zipAll(eventFiles, null, null).zipWithIndex.foreach {
      case ((d, e), k) =>
        val due = t0 + k * intervalMs
        val wait = due - Clock.nowMs()
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        // lag counts from when the file was due, so a generator stall
        // shows as lag rather than hiding it
        Seq(d -> docsIn, e -> eventsIn).foreach { case (f, to) =>
          if (f != null) {
            JFiles.move(f.toPath, new File(to, f.getName).toPath,
              StandardCopyOption.ATOMIC_MOVE)
            dueMs.put(f.getName, due)
          }
        }
        lateMs = math.max(lateMs, Clock.nowMs() - due)
    }
    queries.foreach(_._2.processAllAvailable())
    queries.foreach(_._2.stop())
    listener.foreach(spark.streams.removeListener)

    // a slice (documents file k and events file k, due together) is
    // ingested once every maintainer has committed a batch that read
    // it; its lag runs from the due time to that last commit
    val perQuery = queries.map { case (name, _) =>
      name -> batchesOf(ckpt(name))
    }.toMap
    def commitOf(q: String, f: File): Option[Double] = {
      val (fileBatch, commitMs) = perQuery(q)
      fileBatch.get(f.getName).flatMap(commitMs.get)
    }
    val sliceLags = (0 until math.max(docFiles.size, eventFiles.size)).map { k =>
      val commits = Seq("dedup_index", "term_stats").map(q =>
        docFiles.lift(k).map(commitOf(q, _))) :+
        eventFiles.lift(k).map(commitOf("tumbling", _))
      val due = (docFiles.lift(k) ++ eventFiles.lift(k))
        .map(f => dueMs.get(f.getName)).min
      if (commits.exists(_.contains(None))) None
      else Some((commits.flatten.flatten.max - due) / 1e3)
    }
    val missing = sliceLags.count(_.isEmpty).toLong
    val lags = sliceLags.drop(1).flatten
    perQuery.foreach { case (name, (_, commitMs)) =>
      System.err.println(f"[perfbench] $name: ${commitMs.size} batches")
    }
    System.err.println("[perfbench] slice lags: " +
      sliceLags.map(_.fold("-")(l => f"$l%.2f")).mkString(" "))

    // output checks against the batch twins over the whole tables
    val allDocs = graft.Tables(spark, a.dataDir, "documents")
    def pairs(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    def terms(df: DataFrame) = df.select("source", "w", "tf", "sdf").collect()
      .map(r => (r.getString(0), r.getString(1),
        r.getAs[Number](2).longValue, r.getAs[Number](3).longValue)).toSet
    val gotPairs = pairs(DedupIndexStream.currentPairs(spark, dedupDir))
    val gotTerms = terms(graft.sources.Sources.latestState(spark, termDir)
      .getOrElse(throw new IllegalStateException("no term-stats state")))
    val gotWindows = windows.asScala.toMap
    val ok = Map(
      "dedup_index" -> (gotPairs == pairs(graft.queries.BenchTwins.dedupPairs(
        allDocs.select(col("doc_id"), col("text"))))),
      "term_stats" -> (gotTerms == terms(graft.queries.BenchTwins.termStats(allDocs))),
      "tumbling" -> (gotWindows == graft.SparkEntry.queries("q22_tumbling_window")(
        spark, a.dataDir).collect().map { r =>
          (r.getAs[java.time.LocalDateTime](0).atZone(java.time.ZoneOffset.UTC)
            .toInstant.toEpochMilli, r.getString(1)) ->
            (r.getLong(2), r.getDouble(3))
        }.toMap))
    ok.filterNot(_._2).keys.foreach(q =>
      System.err.println(s"[perfbench] WRONG $q: final state differs from its batch twin"))
    val batches = perQuery.map { case (n, (_, c)) => n -> c.size.toLong }
    val attempted = batches.values.sum + missing
    val failed = missing + batches.collect { case (n, c) if !ok(n) => c }.sum

    // drain rate: files a maintainer committed per second it spent in
    // batches (offset-log write to commit), for the slowest of the three.
    // Unlike files over wall time, this is not set by the generator's rate.
    val drain = queries.map { case (name, _) =>
      val (fileBatch, commitMs) = perQuery(name)
      val startMs = batchStarts(ckpt(name))
      val busyS = commitMs.map { case (id, c) => c - startMs.getOrElse(id, c) }.sum / 1e3
      fileBatch.size / busyS
    }
    val e2e = Map(
      "cold_s" -> Metric(sliceLags.head.getOrElse(Double.NaN), "s"),
      "ops_per_s" -> Metric(drain.min, "1/s"),
      "latency_p50_s" -> Metric(Stats.quantile(lags, 0.5), "s"),
      "latency_p90_s" -> Metric(Stats.quantile(lags, 0.9), "s"))

    val perLayer = (probe, listener) match {
      case (Some(p), Some(l)) =>
        p.drain()
        val sp = new Spans
        val byQuery = p.finishedJobs.groupBy(_.streamQuery.getOrElse(""))
        val ids = queries.map { case (n, q) => n -> q.id.toString }.toMap
        val progress = l.batches.asScala.toSeq
        progress.foreach { b =>
          val trace = sp.nextId()
          val (fileBatch, _) = perQuery(b.query)
          val files = fileBatch.collect { case (f, id) if id == b.batchId => f }
          val first = files.toSeq.sorted.headOption
          val due = first.map(f => dueMs.get(f)).getOrElse(b.startMs)
          sp.add(Span(trace, 0L, trace, s"file ${first.getOrElse("-")}",
            "harness", due, b.endMs))
          val batch = sp.add(trace, trace, s"${b.query} batch ${b.batchId}",
            "streaming", b.startMs, b.endMs)
          byQuery.getOrElse(ids(b.query), Nil)
            .filter(j => j.startMs >= b.startMs && j.startMs < b.endMs)
            .foreach(j => sp.add(batch, trace, s"job ${j.jobId}", "exec",
              j.startMs, j.endMs))
        }
        sp.add(0L, 0L, "construct streams", "queries", tc0, tc1)
        sp.write(new File(a.traceDir, s"stream_ingest-seed${a.seed}.jsonl"))
        val stateRows = progress.filter(_.query == "tumbling").lastOption
          .map(_.stateRows).getOrElse(0L) + gotTerms.size + gotPairs.size
        p.layerMetrics() ++ Workloads.selfTimes(sp) ++ Workloads.noFlow ++ Map(
          "queries.construct_s" -> Metric((tc1 - tc0) / 1e3, "s"),
          "operators.warm_artifact_builds" -> Metric(0.0, "count"),
          "streaming.trigger_s" -> Metric(Stats.mean(progress.map(_.triggerMs / 1e3)), "s"),
          "streaming.add_batch_s" -> Metric(Stats.mean(progress.map(_.addBatchMs / 1e3)), "s"),
          "streaming.plan_s" -> Metric(Stats.mean(progress.map(_.planMs / 1e3)), "s"),
          "streaming.state_rows" -> Metric(stateRows.toDouble, "count"),
          "streaming.store_files" -> Metric(l.maxDeltas.toDouble, "count"),
          "streaming.backlog_files" -> Metric(perQuery.values.map { case (fb, _) =>
            fb.groupBy(_._2).values.map(_.size).max }.max.toDouble, "count"),
          "streaming.compactions" -> Metric(l.bases.size.toDouble, "count"),
          "streaming.generator_late_s" -> Metric(lateMs / 1e3, "s"),
          "trace.latency_p50_s" -> e2e("latency_p50_s"),
          "trace.ops_per_s" -> e2e("ops_per_s"))
      case _ => Map.empty[String, Metric]
    }
    Outcome(attempted, failed, e2e, perLayer, lags.size)
  }
}

object StreamIngest {
  val FilesPerSecond = 2
  val EventRows = 10000L
  val LatePercent = 20
  val LateWithinMinutes = 110
  /** Compact the band index every 4 batches, so every run crosses
    * several compactions (the library default, 64, needs minutes). */
  val AutoCompactEvery = 4

  /** A query's (file name -> batch id) from its file-source log, and
    * (batch id -> commit time) from its commit log. */
  def batchesOf(ckpt: String): (Map[String, Long], Map[Long, Double]) = {
    val srcLog = Option(new File(s"$ckpt/sources/0").listFiles()).getOrElse(Array.empty)
    val entry = """"path":"([^"]+)".*"batchId":(\d+)""".r.unanchored
    val fileBatch = srcLog.toSeq.filterNot(_.getName.startsWith("."))
      .flatMap { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.getLines().toList.collect {
          case entry(path, id) => path.split('/').last -> id.toLong
        } finally src.close()
      }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).min }
    val commits = Option(new File(s"$ckpt/commits").listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.forall(_.isDigit))
      .map(f => f.getName.toLong -> f.lastModified().toDouble).toMap
    (fileBatch, commits)
  }

  /** A query's (batch id -> time its offset-log entry was written),
    * i.e. when the batch was planned and started. */
  def batchStarts(ckpt: String): Map[Long, Double] =
    Option(new File(s"$ckpt/offsets").listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.forall(_.isDigit))
      .map(f => f.getName.toLong -> f.lastModified().toDouble).toMap

  final case class Batch(query: String, batchId: Long, startMs: Double,
      endMs: Double, triggerMs: Double, addBatchMs: Double, planMs: Double,
      stateRows: Long)

  /** StreamingQueryListener of the traced run: per-batch durations and
    * state size from query progress, and the band index's delta fan-in
    * and compactions sampled after every batch. */
  final class Progress(dedupDir: String) extends StreamingQueryListener {
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Batch]()
    @volatile var maxDeltas = 0
    val bases = ConcurrentHashMap.newKeySet[String]()

    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def d(k: String) = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      if (p.numInputRows > 0) {
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        batches.add(Batch(p.name, p.batchId, start, start + d("triggerExecution"),
          d("triggerExecution"), d("addBatch"), d("queryPlanning"),
          p.stateOperators.map(_.numRowsTotal).sum))
      }
      if (p.name == "dedup_index") {
        def list(s: String) =
          Option(new File(dedupDir, s).list()).getOrElse(Array.empty[String]).toSeq
        val deltas = Seq("bands", "docs", "pairs").map(list(_).count(_.startsWith("delta_v")))
        maxDeltas = math.max(maxDeltas, deltas.sum)
        // the pairs base commits a compaction
        list("pairs").filter(_.startsWith("base_v")).foreach(bases.add)
      }
    }
  }
}
