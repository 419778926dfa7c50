package graft

import java.util.concurrent.CountDownLatch

import org.apache.spark.scheduler.SparkListenerApplicationEnd
import org.apache.spark.storage.StorageLevel
import graft.operators.Materialize

/** Lifecycle contract of the artifact cache: entries are freed by scope
  * invalidation (data changed), by session reset, and by the context-close
  * hook — and teardown cannot race an in-flight build into a leaked or
  * resurrected entry. */
class MaterializeSpec extends SparkSpec {

  // distinct row count per artifact: Spark's CacheManager keys cached data
  // by canonicalized plan, so identical builds would share ONE cache entry
  // and unpersisting one would uncache them all — unlike real artifacts,
  // which always have distinct build plans
  private def build(tag: Int) = spark.range(5 + tag).toDF("v")

  test("reset runs registered session cleaners (side caches drop their keys)") {
    val seen = scala.collection.mutable.Buffer[org.apache.spark.sql.SparkSession]()
    operators.Materialize.onSessionFreed(s => seen += s: Unit)
    operators.Materialize.reset(spark)
    assert(seen.exists(_ eq spark))
  }

  test("invalidate(scope) drops that scope's artifacts across names; other scopes survive") {
    val a1 = Materialize.artifact(spark, "m_a", "scopeX")(build(1))
    val a2 = Materialize.artifact(spark, "m_b", "scopeX")(build(2))
    val b = Materialize.artifact(spark, "m_a", "scopeY")(build(3))
    Materialize.invalidate("scopeX")
    assert(a1.storageLevel == StorageLevel.NONE)
    assert(a2.storageLevel == StorageLevel.NONE)
    assert(b.storageLevel != StorageLevel.NONE)
    val a1b = Materialize.artifact(spark, "m_a", "scopeX")(build(1))
    assert(!(a1b eq a1), "invalidated entry must rebuild")
    assert(Materialize.artifact(spark, "m_a", "scopeY")(build(3)) eq b,
      "untouched scope must keep serving its cached instance")
  }

  test("a fixture builds once per key, survives invalidate(scope), and reset deletes its dir") {
    var builds = 0
    def get(): String = Materialize.fixture(spark, "m_fix", "scopeF") { tmp =>
      builds += 1
      java.nio.file.Files.writeString(java.nio.file.Paths.get(tmp, "state"), "x")
      tmp
    }
    val dir = get()
    assert(get() === dir && builds === 1)
    Materialize.invalidate("scopeF")
    assert(get() === dir && builds === 1, "invalidate(scope) must not drop a fixture")
    Materialize.reset(spark)
    assert(!new java.io.File(dir).exists, "reset must delete the fixture's temp dir")
    assert((get() !== dir) && builds === 2, "a freed fixture rebuilds on the next request")
    Materialize.reset(spark)
  }

  test("invalidate(name, scope) drops exactly that artifact") {
    val a = Materialize.artifact(spark, "m_c", "scopeZ")(build(4))
    val b = Materialize.artifact(spark, "m_d", "scopeZ")(build(5))
    Materialize.invalidate("m_c", "scopeZ")
    assert(a.storageLevel == StorageLevel.NONE)
    assert(b.storageLevel != StorageLevel.NONE)
  }

  test("reset waits out an in-flight build and frees its result — no resurrected entry") {
    val started = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    @volatile var built: org.apache.spark.sql.DataFrame = null
    val builder = new Thread(() => {
      built = Materialize.artifact(spark, "m_race", "scopeR") {
        started.countDown()
        release.await()
        build(6)
      }
    })
    builder.start()
    started.await()
    // reset while the build holds the key's lock: it must block on that
    // lock, then remove and unpersist exactly what the build put
    val resetter = new Thread(() => Materialize.reset(spark))
    resetter.start()
    Thread.sleep(100) // give reset time to reach the contended lock
    release.countDown()
    builder.join(30000)
    resetter.join(30000)
    assert(!builder.isAlive && !resetter.isAlive)
    assert(built != null)
    assert(built.storageLevel == StorageLevel.NONE,
      "reset must unpersist the in-flight build's result, not leak it")
    val fresh = Materialize.artifact(spark, "m_race", "scopeR")(build(6))
    assert(!(fresh eq built), "entry must not be resurrected past reset")
  }

  test("a stopping context frees its sessions' artifacts and cache entries") {
    val a = Materialize.artifact(spark, "m_close", "scopeC")(build(7))
    assert(a.storageLevel != StorageLevel.NONE)
    val listener = Materialize.closeListener(spark.sparkContext)
    assert(listener.nonEmpty, "first artifact must register the close hook")
    listener.get.onApplicationEnd(SparkListenerApplicationEnd(0L))
    assert(a.storageLevel == StorageLevel.NONE,
      "context end must unpersist the session's artifacts")
    val rebuilt = Materialize.artifact(spark, "m_close", "scopeC")(build(7))
    assert(!(rebuilt eq a), "cache entry must be gone after context end")
  }
}
