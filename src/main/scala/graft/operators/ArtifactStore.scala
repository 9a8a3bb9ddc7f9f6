package graft.operators

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.{
  HadoopFsRelation, LogicalRelation}
import org.apache.spark.storage.StorageLevel

/** The session registry of build-once/serve-many artifacts — dedup
  * pair indexes, term statistics, trained quantizers, sketches, probe
  * stats — one store under one key scheme and one eviction path.
  *
  * KEY: `(name, input.queryExecution.logical.canonicalized, params)`.
  * `params` must carry every argument the build reads besides the
  * input frame. Structural plan equality cannot collide; a 32-bit
  * hashCode collision between two corpora would serve one corpus's
  * artifact for the other.
  *
  * SLOTS: each key maps to its own lazily forced slot, so one build
  * may call another artifact's build (a dependency resolves inside
  * the build that needs it). Racing callers of one cold key block on
  * its slot and the build runs exactly once. Builds must not form a
  * cycle.
  *
  * SNAPSHOT SEMANTICS (read before adding an artifact): a
  * canonicalized file-scan plan compares by its root paths, so an
  * artifact reflects the table AS OF ITS BUILD. Files appended under
  * the same path in-session are NOT picked up — the catalog-statistics
  * model: artifacts refresh with the table lifecycle, not per query.
  * The supported refresh paths are (a) the streaming maintainers
  * (`DocumentStream.termStatsStream`, `streaming.DedupIndexStream`),
  * which merge append deltas into versioned durable state, and
  * (b) [[clear]] / [[clearAll]] after a manual table rewrite. Queries
  * that must see raw-latest data should not go through the registry.
  *
  * ADMISSION RULE: an artifact is admitted only if it is read by at
  * least two distinct inventory keys, or it is a bounded statistic
  * (a driver-side value or a frame whose size does not grow with the
  * corpus: k centroids, a sketch, a histogram over a fixed grid). A
  * cache that serves one key its own stored answer only makes the key
  * look cheap. QueriesSpec checks the rule against the [[stats]]
  * counters.
  *
  * FRAMES are written to a session-scoped parquet table and served as
  * the MEMORY_AND_DISK-persisted read-back. Why a file and not only
  * `persist()`: a persisted frame still carries its full derivation
  * as its logical plan, so every consuming query re-pays Catalyst
  * analysis of the build subtree (the CacheManager substitutes the
  * InMemoryRelation only during physical planning). The read-back's
  * analyzed plan is one file scan — the production shape: an index is
  * a table a serving system stores, not a plan it re-derives. The
  * file keeps the recompute path: a lost executor loses nothing (any
  * task re-reads it), and eviction deletes the files so the next
  * consumer rebuilds from the inputs. Nothing survives the JVM: the
  * directory is unique per session and removed by a shutdown hook.
  * On a cluster this directory would be shared storage.
  */
object ArtifactStore {

  private final case class Key(name: String, plan: LogicalPlan, params: Any)

  /** One artifact: built on first [[get]], evicted at most once. */
  private final class Slot(name: String, build: () => Any,
      onEvict: Any => Unit) {
    private var built: Option[Any] = None
    private var evicted = false

    /** The value, building it on first use; None once evicted (the
      * caller re-resolves the key to a fresh slot). */
    def get(): Option[Any] = synchronized {
      if (evicted) None
      else {
        if (built.isEmpty) {
          building.set(name :: building.get)
          try built = Some(build())
          finally building.set(building.get.tail)
          counts(name)._1.increment()
        } else counts(name)._2.increment()
        built
      }
    }

    def evict(): Unit = synchronized {
      built.foreach(onEvict)
      built = None
      evicted = true
    }
  }

  private val slots = new ConcurrentHashMap[Key, Slot]()
  private val counters = new ConcurrentHashMap[String, (LongAdder, LongAdder)]()

  private def counts(name: String): (LongAdder, LongAdder) =
    counters.computeIfAbsent(name, _ => (new LongAdder, new LongAdder))

  // the names whose builds are running on this thread, innermost
  // first, and name → the names its builds read
  private val building = ThreadLocal.withInitial[List[String]](() => Nil)
  private val reads = new ConcurrentHashMap[String, java.util.Set[String]]()

  /** A driver-side artifact (trained centroids, a sketch, a broadcast
    * model, …), built on first use. `onEvict` runs once when the
    * artifact is cleared. */
  def value[V](name: String, input: DataFrame, params: Any = ())(
      build: => V)(onEvict: V => Unit = (_: V) => ()): V = {
    val key = Key(name, input.queryExecution.logical.canonicalized, params)
    building.get.headOption.foreach(b =>
      reads.computeIfAbsent(b, _ => ConcurrentHashMap.newKeySet()).add(name))
    // None: the slot was evicted between lookup and get, and eviction
    // has already unmapped it, so the next lookup makes a fresh one
    var got: Option[Any] = None
    while (got.isEmpty)
      got = slots.computeIfAbsent(key, _ => new Slot(name, () => build,
        v => onEvict(v.asInstanceOf[V]))).get()
    got.get.asInstanceOf[V]
  }

  /** A frame artifact: `build` is written to the session parquet
    * table on first use and the persisted read-back is served.
    * Eviction unpersists it and deletes its files. */
  def frame(name: String, input: DataFrame, params: Any = ())(
      build: => DataFrame): DataFrame =
    value(name, input, params)(store(build, name)) { case (path, readBack) =>
      readBack.unpersist()
      builds.remove(path)
      deleteTree(java.nio.file.Paths.get(path))
    }._2

  /** Evict every artifact named `name`. */
  def clear(name: String): Unit = evictWhere(_.name == name)

  /** Evict every artifact in the session — after a table rewrite, and
    * wherever a harness needs cold state: plan shapes differ between a
    * cold session (artifact derived in-plan) and a warm one (a file
    * scan of the stored artifact), so a plan-shape comparison against
    * a fresh-session census pins the registry first (PlanBudgetSpec vs
    * `tools.PlanCensus`), and per-key cold timings clear it per key
    * (`tools.HeavyDup`). */
  def clearAll(): Unit = evictWhere(_ => true)

  private def evictWhere(p: Key => Boolean): Unit =
    slots.keySet.asScala.filter(p).foreach { k =>
      Option(slots.remove(k)).foreach(_.evict())
    }

  /** Session-lifetime (builds, hits) per artifact name. */
  def stats: Map[String, (Long, Long)] =
    counters.asScala.map { case (n, (b, h)) => n -> (b.sum, h.sum) }.toMap

  /** Artifact name → the artifact names its builds read. A consumer
    * served a stored artifact also reads what that artifact was built
    * from. */
  def dependencies: Map[String, Set[String]] =
    reads.asScala.map { case (n, d) => n -> d.asScala.toSet }.toMap

  private lazy val root: java.nio.file.Path = {
    val dir = java.nio.file.Files.createTempDirectory("graft-artifacts-")
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteTree(dir)))
    dir
  }

  private val seq = new AtomicInteger()

  // path → the stored frame's ANALYZED build plan, so plan audits
  // (WindowAuditSpec's straggler guard) trace THROUGH a stored
  // artifact's file scan into the derivation that built it. One entry
  // per live frame artifact, dropped with its files.
  private val builds = new ConcurrentHashMap[String, LogicalPlan]()

  /** The build plan behind a stored artifact's parquet scan, if
    * `plan` is one (audit hook; None for any other plan). */
  def buildPlanFor(plan: LogicalPlan): Option[LogicalPlan] =
    plan match {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation =>
          fs.location.rootPaths.headOption
            .flatMap(p => Option(builds.get(p.toUri.getPath)))
        case _ => None
      }
      case _ => None
    }

  /** Files under the session artifact directory and entries in the
    * build-plan map (leak-check hook). */
  private[graft] def residue: (Seq[java.nio.file.Path], Seq[String]) = {
    val files = {
      val s = java.nio.file.Files.list(root)
      try s.iterator().asScala.toList finally s.close()
    }
    (files, builds.keySet.asScala.toSeq)
  }

  /** Write `df` as a session-scoped parquet table; returns its path
    * and the persisted read-back. The write runs the build exactly
    * once, eagerly. */
  private def store(df: DataFrame, name: String): (String, DataFrame) = {
    val path = root.resolve(
      s"${name.replaceAll("[^A-Za-z0-9_.-]", "_").take(40)}-" +
        s"${seq.incrementAndGet()}").toString
    df.write.mode("overwrite").parquet(path)
    builds.put(path, df.queryExecution.analyzed)
    (path, df.sparkSession.read.parquet(path)
      .persist(StorageLevel.MEMORY_AND_DISK))
  }

  private def deleteTree(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val walk = java.nio.file.Files.walk(p)
      try walk.iterator().asScala.toSeq
        .sortBy(-_.getNameCount)
        .foreach(f => try java.nio.file.Files.deleteIfExists(f) catch {
          case _: java.io.IOException => ()
        })
      finally walk.close()
    }
}
