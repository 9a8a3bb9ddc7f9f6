package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel

/** One benchmark run: set the workload up on a fresh session in a
  * fresh JVM, run its measured window on that session, check its
  * outputs, then repeat the set-up alone [[SetupReps]] - 1 more times
  * (the median of all set-ups is `setup_s`), and print the result as
  * the last line of standard output. `run.py` builds and launches this.
  */
object Main {
  val SetupReps = 3

  def main(argv: Array[String]): Unit = {
    // exit explicitly: a failed run must not print a result, and
    // lingering non-daemon threads must not keep the JVM alive
    val code = try { runOnce(Args.parse(argv)); 0 } catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    System.out.flush()
    sys.exit(code)
  }

  private def runOnce(a: Args): Unit = {
    new File(a.workDir).mkdirs()
    val workload: Workload = a.workload match {
      case "inventory" => new Inventory(a)
      case "flows" => new Flows(a)
      case "stream_ingest" => new StreamIngest(a)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }

    // set-up 1 is JVM-cold and its session runs the measured window,
    // so the window's first pass pays every first-use cost
    val (spark, setup1, registerS) = setUp(a, workload, 1)
    val probe = if (a.trace) Some(new Probe(spark).start()) else None
    val out = workload.run(spark, probe)
    probe.foreach(_.stop())
    // block-store bytes held at the end: every cached RDD, memory + disk
    val cacheMb = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / (1024.0 * 1024.0)
    println(runInfo(spark, a, out.latencySamples))
    workload.teardown(spark)
    spark.stop()

    // the remaining set-ups, timed only, after the measured window
    val setupS = setup1 +: (2 to SetupReps).map { rep =>
      val (s, t, _) = setUp(a, workload, rep)
      workload.teardown(s)
      s.stop()
      t
    }

    val metrics =
      if (a.trace) out.perLayer ++ Map(
        "tables.register_s" -> Metric(registerS, "s"),
        "self.tables_s" -> Metric(registerS, "s"),
        "exec.cache_mb" -> Metric(cacheMb, "MB"))
      else out.endToEnd +
        ("setup_s" -> Metric(Stats.median(setupS), "s"))
    val correct = out.failed == 0
    println(s"""{"correct":$correct,"attempted":${out.attempted},""" +
      s""""failed":${out.failed},"metrics":${Json.metrics(metrics)}}""")
  }

  /** Session start, table registration and the workload's own set-up;
    * returns the session, the set-up time and the registration time. */
  private def setUp(a: Args, workload: Workload,
      rep: Int): (SparkSession, Double, Double) = {
    val t0 = System.nanoTime()
    val spark = session(a)
    val tReg = System.nanoTime()
    graft.Tables.registerViews(spark, a.dataDir,
      StorageLevel.MEMORY_AND_DISK, parts = -1)
    val registerS = (System.nanoTime() - tReg) / 1e9
    workload.setup(spark, rep)
    val s = (System.nanoTime() - t0) / 1e9
    System.err.println(f"[perfbench] setup $rep: $s%.3f s " +
      f"(session ${(tReg - t0) / 1e9}%.3f s, tables $registerS%.3f s)")
    (spark, s, registerS)
  }

  /** The session `graft.Bench` builds: local[cpus], shuffle width
    * cpus/4, AQE on, 64m broadcast threshold; scratch space inside the
    * run's work directory. */
  def session(a: Args): SparkSession = {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val shuffle = math.max(cpus / 4, 1)
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", shuffle.toString)
      .config("spark.scheduler.mode", "FIFO")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.network.timeout", "600s")
      .config("spark.executor.heartbeatInterval", "120s")
      .config("spark.cleaner.periodicGC.interval", "2min")
      .config("spark.local.dir", s"${a.workDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.workDir}/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The effective Spark conf, cpus and heap, printed with every run so
    * drift between session builders shows in the record. */
  private def runInfo(spark: SparkSession, a: Args, samples: Int): String = {
    val conf = spark.sparkContext.getConf.getAll
      .filterNot { case (k, _) => k.startsWith("spark.app.") ||
        k.startsWith("spark.driver.host") || k.startsWith("spark.driver.port") ||
        k == "spark.executor.id" || k.startsWith("spark.local.dir") ||
        k.startsWith("spark.sql.warehouse.dir") ||
        k.endsWith("extraJavaOptions") }
      .sortBy(_._1)
      .map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }
      .mkString("{", ",", "}")
    val rt = Runtime.getRuntime
    s"""{"run_info":{"workload":${Json.str(a.workload)},"seed":${a.seed},""" +
      s""""seconds":${a.seconds},"trace":${a.trace},""" +
      s""""latency_samples":$samples,""" +
      s""""cpus":${rt.availableProcessors},""" +
      s""""default_parallelism":${spark.sparkContext.defaultParallelism},""" +
      s""""heap_max_mb":${rt.maxMemory / (1024 * 1024)},""" +
      s""""spark_version":${Json.str(spark.version)},"spark_conf":$conf}}"""
  }
}
