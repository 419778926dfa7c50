package graft.operators

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Session-scoped materialized index artifacts. The reference keeps ONE
  * inverted index that every query reads (Solr holds it between requests,
  * /root/reference/README.md:12-13); the engine-native equivalent of that
  * discipline is building each derived index artifact exactly once per
  * session and serving every consumer — every branch of one plan AND every
  * query of the family — from the materialized copy, instead of
  * re-deriving the artifact inside each query plan.
  *
  * Artifacts are persisted MEMORY_AND_DISK and computed EAGERLY at first
  * request: consumers never race to compute partitions, and a plan that
  * references the artifact N times reads cached blocks N times instead of
  * embedding N copies of the build subtree. What goes in the cache is
  * always a derived INDEX component — posting lists and shingle indexes
  * (vocabulary-sized), pair sets (result-sized), per-document term
  * vectors (the same per-doc artifact Lucene optionally stores for
  * highlighting/MLT — index-sized, not raw input) — never an unprocessed
  * copy of the source table. At 100 TB the same seam is a persisted table
  * maintained incrementally by the changelog pipeline
  * (`streaming/IncrementalPostings.scala` is the file-backed maintained
  * form; `operators/IvfIndex.scala` the vector one); the in-process cache
  * is the session-lifetime complement, spilling to local disk past
  * memory.
  *
  * Lifecycle:
  *   - entries live until [[reset]] (per session), [[invalidate]] (per
  *     data scope — called when the data under `scope` is known to have
  *     changed, e.g. by the incremental-maintenance pipelines), or the
  *     session's context ending: the first artifact built on a context
  *     registers a [[SparkListener]] whose `onApplicationEnd` drops every
  *     entry of that context's sessions, so a long-lived driver cycling
  *     sessions cannot pin executor storage through forgotten caches.
  *
  * Concurrency: builds are guarded per key — two threads requesting
  * DIFFERENT artifacts build in parallel; two requesting the same key get
  * one build. Cache hits never block on a build. Teardown ([[reset]] /
  * [[invalidate]]) synchronizes on the same per-key lock as the build, so
  * it cannot race an in-flight build into a resurrected or leaked entry:
  * it waits for the build's put, then removes and unpersists exactly that
  * value. Keys hold the session reference itself (identity equality — the
  * cached DataFrames retain the session anyway), so distinct sessions can
  * never collide.
  */
object Materialize {
  private type Key = (SparkSession, String, String)
  private val cache = new java.util.concurrent.ConcurrentHashMap[Key, DataFrame]()
  private val locks = new java.util.concurrent.ConcurrentHashMap[Key, Object]()
  private val hooks = new java.util.concurrent.ConcurrentHashMap[SparkContext, SparkListener]()
  private val buildNanos = new java.util.concurrent.atomic.AtomicLong(0L)
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Cumulative wall time this process has spent BUILDING artifacts (cache
    * hits cost nothing). Queries served from the cache measure warm-index
    * latency — the Solr-mirroring contract — so benchmarks report this
    * build cost as its own line instead of letting whichever query runs
    * first absorb it. */
  def buildSeconds: Double = buildNanos.get() / 1e9

  /** THIS thread's cumulative build-clock reading, for callers that must
    * subtract NESTED builds from their own wall time before recording
    * (see [[recordBuild]] — double-counting would corrupt the breakdown).
    * Per-thread rather than global so a concurrent build of an UNRELATED
    * artifact on another thread is never subtracted from this caller's
    * span; a nested build always runs on the caller's own thread
    * ([[artifact]] executes the build inline under its key lock). Known
    * residual: if ANOTHER thread wins the key lock for the same artifact,
    * this thread's span includes that build's wall time without the
    * subtraction — acceptable for the benchmark's single-driver-thread
    * protocol (graft.Bench runs queries sequentially), where it cannot
    * occur. */
  private[graft] def threadBuildClockNanos: Long = threadBuildNanos.get().get()

  private val threadBuildNanos =
    ThreadLocal.withInitial[java.util.concurrent.atomic.AtomicLong](
      () => new java.util.concurrent.atomic.AtomicLong())

  /** Per-name build durations (seconds), for benchmark attribution: which
    * artifact costs what, summed across scopes and sessions. */
  def buildBreakdown: Map[String, Double] = {
    val out = scala.collection.mutable.LinkedHashMap[String, Double]()
    builds.forEach((name, nanos) => out(name) = nanos.get() / 1e9)
    out.toMap
  }

  private val builds =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()

  private def addBuild(name: String, nanos: Long): Unit = {
    buildNanos.addAndGet(nanos)
    threadBuildNanos.get().addAndGet(nanos)
    builds.computeIfAbsent(name, _ => new java.util.concurrent.atomic.AtomicLong())
      .addAndGet(nanos): Unit
  }

  /** Fold an EXTERNAL one-time build (e.g. a file-backed maintained state
    * constructed for a session) into the same build clock, so
    * `artifact_build_sec` attributes every one-time cost, not just the
    * in-process cache's. */
  private[graft] def recordBuild(name: String, nanos: Long): Unit =
    addBuild(name, nanos)

  /** The artifact `name` over scope `scope` (the data directory), built at
    * most once per SparkSession; later calls return the persisted copy. */
  def artifact(spark: SparkSession, name: String, scope: String)
              (build: => DataFrame): DataFrame = {
    val key: Key = (spark, name, scope)
    val hit = cache.get(key)
    if (hit != null) return hit
    hookSessionClose(spark)
    val lock = locks.computeIfAbsent(key, _ => new Object)
    lock.synchronized {
      val again = cache.get(key)
      if (again != null) again
      else {
        val t0 = System.nanoTime()
        val df = build.persist(StorageLevel.MEMORY_AND_DISK)
        df.count() // eager: the build runs here, once — not in consumer plans
        val took = System.nanoTime() - t0
        addBuild(name, took)
        log.info(f"built artifact $name over $scope in ${took / 1e9}%.2f s")
        // A drop() that ran between our computeIfAbsent and this
        // synchronized block removed the lock we hold — a later requester
        // can then build under a fresh lock. The put displaces whichever
        // copy lost that race; unpersist it so nothing leaks.
        val displaced = cache.put(key, df)
        if (displaced != null && (displaced ne df)) quietUnpersist(displaced)
        df
      }
    }
  }

  /** Drop one key under its build lock: wait out any in-flight build, then
    * remove and unpersist the value that build produced. Removing the lock
    * last keeps the invariant that every cached entry has a lock. */
  private def drop(key: Key): Unit = {
    val lock = locks.get(key)
    def remove(): Unit = {
      val df = cache.remove(key)
      if (df != null) quietUnpersist(df)
    }
    if (lock == null) remove()
    else lock.synchronized { remove(); locks.remove(key) }
  }

  private def quietUnpersist(df: DataFrame): Unit =
    try df.unpersist(): Unit
    catch { case _: Throwable => () } // context already stopped: blocks are gone

  private def keysFor(pred: Key => Boolean): Seq[Key] = {
    val all = new scala.collection.mutable.LinkedHashSet[Key]
    locks.keySet.forEach(k => all += k)
    cache.keySet.forEach(k => all += k)
    all.filter(pred).toSeq
  }

  /** Cleanups run whenever a session's artifacts are freed ([[reset]] or
    * the context-close listener) — session-keyed side caches (probe
    * fixtures, maintained-state registrations) register here so retired
    * sessions are not pinned by their map keys either. */
  private val sessionCleaners =
    new java.util.concurrent.CopyOnWriteArrayList[SparkSession => Unit]()

  private[graft] def onSessionFreed(f: SparkSession => Unit): Unit =
    sessionCleaners.add(f): Unit

  /** Drop every artifact cached for `spark` (unpersist + forget) — called
    * when a session's artifacts should no longer pin executor storage
    * (spec teardown wires this per suite; the session-close listener calls
    * it for every session of a stopping context). */
  private[graft] def reset(spark: SparkSession): Unit = {
    keysFor(_._1 eq spark).foreach(drop)
    freeSession(spark)
  }

  private def freeSession(spark: SparkSession): Unit = {
    fixtures.entrySet.removeIf { e =>
      val mine = e.getKey._1 eq spark
      if (mine) e.getValue.synchronized(e.getValue.dir.foreach(deleteLocalDir))
      mine
    }: Unit
    sessionCleaners.forEach(f => f(spark))
  }

  /** A session-scoped FILE-BACKED fixture: `build` runs once per (session,
    * name, dir), given a fresh driver-local temp directory to put its
    * state roots under, and its value is served to every later caller. The
    * build's wall time is recorded on the build clock under `name`, minus
    * the artifact builds that ran nested inside it (they are already on
    * the clock under their own names). The temp directory is deleted when
    * the session's artifacts are freed ([[reset]] or the context ending);
    * [[invalidate]] does not drop fixtures. Builds of different keys run
    * in parallel; a fixture may request another fixture. */
  private[graft] def fixture[T](spark: SparkSession, name: String, dir: String)
                               (build: String => T): T = {
    hookSessionClose(spark)
    val f = fixtures.computeIfAbsent((spark, name, dir), _ => new Fixture)
    f.synchronized {
      if (f.dir.isEmpty) {
        val tmp = java.nio.file.Files.createTempDirectory(s"graft_$name").toString
        val t0 = System.nanoTime()
        val clock0 = threadBuildClockNanos
        f.value = try build(tmp) catch {
          case e: Throwable => deleteLocalDir(tmp); throw e
        }
        val nested = threadBuildClockNanos - clock0
        recordBuild(name, math.max(0L, System.nanoTime() - t0 - nested))
        f.dir = Some(tmp)
      }
      f.value.asInstanceOf[T]
    }
  }

  private final class Fixture { var dir: Option[String] = None; var value: Any = _ }
  private val fixtures = new java.util.concurrent.ConcurrentHashMap[Key, Fixture]()

  /** Drop every session's artifacts over data scope `scope` — the
    * invalidation hook for data changes: anything that mutates the corpus
    * a scope points at (e.g. an incremental-maintenance merge landing new
    * state for `scope`) calls this so no session keeps serving stale
    * derived artifacts. */
  def invalidate(scope: String): Unit =
    keysFor(_._3 == scope).foreach(drop)

  /** Drop one named artifact over `scope`, across sessions. */
  def invalidate(name: String, scope: String): Unit =
    keysFor(k => k._2 == name && k._3 == scope).foreach(drop)

  /** First artifact on a context registers the close hook: when the
    * context ends, every entry of its sessions is dropped, so forgotten
    * caches do not outlive the executors that held their blocks. */
  private def hookSessionClose(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    hooks.computeIfAbsent(sc, _ => {
      val listener = new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
          val keys = keysFor(_._1.sparkContext eq sc)
          keys.foreach(drop)
          val sessions = keys.map(_._1) ++ fixtureSessions(sc)
          sessions.distinct.foreach(freeSession)
          hooks.remove(sc): Unit
        }
      }
      sc.addSparkListener(listener)
      listener
    }): Unit
  }

  private def fixtureSessions(sc: SparkContext): Seq[SparkSession] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[SparkSession]
    fixtures.keySet.forEach(k => if (k._1.sparkContext eq sc) out += k._1)
    out.toSeq
  }

  /** Test seam: the close listener registered for `sc`, if any. */
  private[graft] def closeListener(sc: SparkContext): Option[SparkListener] =
    Option(hooks.get(sc))

  /** Recursively delete a DRIVER-LOCAL directory — for session-scoped
    * fixture state roots created with `Files.createTempDirectory`, whose
    * cleaners otherwise only dropped the map keys and left corpus-sized
    * state directories orphaned on disk. java.io is deliberate here:
    * fixture roots are always local temp paths, never `hdfs://`. */
  private[graft] def deleteLocalDir(path: String): Unit = {
    def rec(f: java.io.File): Unit = {
      val kids = f.listFiles()
      if (kids != null) kids.foreach(rec)
      f.delete(): Unit
    }
    rec(new java.io.File(path))
  }
}
