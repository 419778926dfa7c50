package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import graft.streaming.{CellStore, CounterStore}

/** The commutative-aggregate counter state: sums fold at merge time,
  * tombstones reset, and the high-water contract makes batch replay a
  * no-op — HBase Increment's seqid discipline over bucketed parquet. */
class CounterStoreSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("rowkey", StringType),
    StructField("qualifier", StringType),
    StructField("event_id", LongType),
    StructField("op", StringType),
    StructField("delta", DoubleType)))

  private def df(rows: Seq[(String, String, Long, String, Double)]) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r =>
        Row(r._1, r._2, java.lang.Long.valueOf(r._3), r._4,
          java.lang.Double.valueOf(r._5))), 2),
      schema)

  private def counters(root: String): Set[(String, String, Double, Long, Long)] =
    CounterStore.readCounters(spark, root).collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2),
        r.getLong(3), r.getLong(4)))
      .toSet

  test("increments fold across merges; tombstone resets; post-reset deltas survive") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_ctr1").toString + "/state"
    CounterStore.mergeCounters(spark, df(Seq(
      ("r1", "clicks", 1L, "incr", 2.0),
      ("r1", "clicks", 2L, "incr", 3.0),
      ("r1", "spend", 3L, "incr", 10.0),
      ("r2", "clicks", 4L, "incr", 1.0))), root, numBuckets = 4)
    assert(counters(root) === Set(
      ("r1", "clicks", 5.0, 2L, 2L), ("r1", "spend", 10.0, 1L, 3L),
      ("r2", "clicks", 1.0, 1L, 4L)))
    // second merge: fold into existing partials + reset r2 mid-batch —
    // its pre-tombstone delta dies, the post-tombstone one survives
    CounterStore.mergeCounters(spark, df(Seq(
      ("r1", "clicks", 5L, "incr", 4.0),
      ("r2", "clicks", 6L, "incr", 9.0),
      ("r2", null, 7L, "delete", 0.0),
      ("r2", "clicks", 8L, "incr", 2.5))), root, numBuckets = 4)
    assert(counters(root) === Set(
      ("r1", "clicks", 9.0, 3L, 5L), ("r1", "spend", 10.0, 1L, 3L),
      ("r2", "clicks", 2.5, 1L, 8L)))
  }

  test("replaying a committed batch is a no-op (high-water dedupe)") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_ctr2").toString + "/state"
    val b1 = df(Seq(
      ("r1", "clicks", 1L, "incr", 2.0),
      ("r1", "clicks", 2L, "incr", 3.0)))
    val b2 = df(Seq(
      ("r1", "clicks", 3L, "incr", 7.0),
      ("r3", null, 4L, "delete", 0.0)))
    assert(CounterStore.mergeCounters(spark, b1, root, numBuckets = 4) === 0L,
      "a fresh batch suppresses nothing")
    CounterStore.mergeCounters(spark, b2, root, numBuckets = 4)
    val before = counters(root)
    // crash replay — the suppression is OBSERVABLE both as the return
    // value and per-root, so operators can tell expected replay
    // suppression from a monotone-arrival contract violation
    assert(CounterStore.mergeCounters(spark, b2, root, numBuckets = 4) === 1L,
      "the hw-suppressed replay row must be counted, not silent")
    assert(counters(root) === before,
      "a replayed batch must not double-count")
    assert(before === Set(("r1", "clicks", 12.0, 3L, 3L)))
    assert(CounterStore.lastMergeHwDrops(root) === 1L,
      "the per-root metric must match the last merge on THIS root")
    // the metric is keyed per root: a concurrent merge on a DIFFERENT
    // root must not overwrite this root's count
    val other = java.nio.file.Files
      .createTempDirectory("graft_ctr2b").toString + "/state"
    CounterStore.mergeCounters(spark, df(Seq(
      ("x1", "clicks", 1L, "incr", 1.0))), other, numBuckets = 4)
    assert(CounterStore.lastMergeHwDrops(root) === 1L,
      "a merge on another root must not clobber this root's drop count")
    // spelling variants of the SAME root read the same slot, never a
    // silent 0 (round-12 ADVICE): trailing slash and file:-scheme URI
    assert(CounterStore.lastMergeHwDrops(root + "/") === 1L,
      "a trailing-slash spelling of the root must read the same metric")
    assert(CounterStore.lastMergeHwDrops("file:" + root) === 1L,
      "a file:-URI spelling of the root must read the same metric")
    // `.`-segment spellings too (round-13 ADVICE): getAbsolutePath keeps
    // `.` segments, so '/x/./state' read a DIFFERENT slot than '/x/state'
    // — the silent 0 the canonical key exists to prevent
    val dotted = root.patch(root.lastIndexOf('/'), "/.", 0)
    assert(CounterStore.lastMergeHwDrops(dotted) === 1L,
      s"a '.'-segment spelling ($dotted) of the root must read the same metric")
    // a NO-OP batch on THIS root resets the metric — a previous merge's
    // drops must never be attributed to an empty batch
    assert(CounterStore.mergeCounters(spark, df(Seq.empty), root, numBuckets = 4) === 0L)
    assert(CounterStore.lastMergeHwDrops(root) === 0L,
      "an empty batch must reset the hw-drop metric, not inherit the previous merge's")
  }

  test("intra-batch whole-row duplicates collapse; same-id distinct deltas both count") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_ctr3").toString + "/state"
    CounterStore.mergeCounters(spark, df(Seq(
      ("r1", "clicks", 1L, "incr", 2.0),
      ("r1", "clicks", 1L, "incr", 2.0),   // at-least-once duplicate
      ("r1", "clicks", 2L, "incr", 5.0),
      ("r1", "clicks", 2L, "incr", 6.0))), // distinct delta, same id
      root, numBuckets = 4)
    assert(counters(root) === Set(("r1", "clicks", 13.0, 3L, 2L)))
  }

  test("getCounters opens only the requested keys' buckets") {
    // the keyed Get every row-keyed store shares: getCounters and getCells
    val rows = (1 to 40).map(i => (s"r$i", "n", i.toLong, "incr", 1.0))
    val stores = Seq[(String, String => Unit, (String, Seq[String]) => DataFrame)](
      ("getCounters", r => CounterStore.mergeCounters(spark, df(rows), r, numBuckets = 8): Unit,
        CounterStore.getCounters(spark, _, _)),
      ("getCells", CellStore.mergeCells(spark, df(rows.map(_.copy(_4 = "put"))), _, numBuckets = 8),
        CellStore.getCells(spark, _, _)))
    for ((name, merge, get) <- stores) withClue(s"$name: ") {
      val root = java.nio.file.Files
        .createTempDirectory("graft_ctr4").toString + "/state"
      merge(root)
      val got = get(root, Seq("r7"))
      assert(got.collect().map(_.getAs[String]("rowkey")).toSeq === Seq("r7"))
      val opened = got.inputFiles.map(_.replaceAll(".*/(b=\\d+)/.*", "$1")).distinct
      assert(opened.length < 8, s"point get opened every bucket: ${opened.toSeq}")
    }
  }
}
