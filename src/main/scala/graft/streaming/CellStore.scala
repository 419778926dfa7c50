package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Maintained CELL-level state with HBase's version-retention semantics —
  * the storage model underneath the reference's changelog (SURVEY.md §2.A
  * O11 deepened): HBase keeps up to `VERSIONS` timestamped values per
  * (row, qualifier) cell and enforces the bound at compaction time
  * (reference context: the coprocessor reads `getFamilyCellMap` per
  * mutation, HbaseSolrIndexCoprocesser.java:41-49 — each put carries a
  * SUBSET of a row's cells, so row state is the union of per-cell
  * histories, not the latest event's payload).
  *
  * Layout: [[StateStore]]'s bucket layout keyed by `rowkey`, merged by
  * [[StateStore.mergeKeyed]].
  *
  * Retention contract (= HBase major compaction):
  *  - per (rowkey, qualifier), only the `maxVersions` NEWEST puts (by
  *    `event_id`, the changelog's total order) are retained;
  *  - a row tombstone (`op = 'delete'`, qualifier NULL) kills every cell
  *    version at or below it; dead cells are purged immediately (they are
  *    dominated by the tombstone, which IS retained — only the latest
  *    tombstone per row, earlier ones are dominated too);
  *  - retention converges under any delivery order: a version inside the
  *    global top-`maxVersions` of its live cell is inside the top set of
  *    every delivered prefix (fewer than `maxVersions` newer versions
  *    exist globally, hence in any prefix), so merge-time pruning can
  *    never discard it; and a tombstone only ever purges cells that are
  *    dead in the final state (tombstone ids are monotone under max).
  *  - replay-idempotent: re-merging a batch unions identical rows, and
  *    the rank tiebreak is a stable whole-row hash, so the retained set
  *    is unchanged — the property the prefix-atomic commit requires.
  *
  * The stored `version` column is the cell's rank (1 = newest) within the
  * state at its last rewrite; because a merge rewrites touched buckets
  * wholly, stored ranks are always current, and reads are pure
  * scan-project — no window at query time. TTL is a READ/compaction-time
  * concern in HBase (a cell may expire between compactions), so readers
  * apply their own `ts` cutoff; retention here bounds only version count.
  *
  * 100 TB: merges shuffle O(batch + touched buckets) on rowkey; the
  * replay dedupe is one all-columns hash aggregate over that bounded set,
  * then the two windows (row tombstone max, per-cell rank) share ONE
  * further hash exchange —
  * `hash(rowkey)` co-locates every (rowkey, qualifier) group, so the
  * second window adds a sort, not an exchange. Point reads open one
  * bucket; version scans prune pages via the (rowkey, qualifier)
  * clustered write order.
  */
object CellStore {

  val DefaultBuckets = 16
  val DefaultMaxVersions = 3

  /** Versioned-cell compaction of (state ∪ batch) changes. Input schema:
    * `rowkey STRING, qualifier STRING (NULL for row deletes), event_id
    * LONG, op STRING ('put'|'delete'), …payload`. Output adds `version`
    * (1 = newest per live cell; 1 for the retained tombstone row). */
  def compactCells(changes: DataFrame, maxVersions: Int): DataFrame = {
    require(maxVersions >= 1, s"maxVersions must be >= 1, got $maxVersions")
    val del = col("op") === "delete"
    // Replay idempotence: a re-merged batch unions each row with its
    // already-committed copy; collapse whole-row duplicates FIRST so the
    // rank below never counts the same put twice (which would both retain
    // the duplicate and evict a genuinely older distinct version past
    // maxVersions). Distinct puts sharing an event_id still coexist via
    // the stable whole-row-hash tiebreak.
    val deduped = changes.dropDuplicates(changes.columns.toIndexedSeq)
    val rowHash = xxhash64(deduped.columns.map(col): _*)
    val wRow = Window.partitionBy("rowkey")
    val wCell = Window.partitionBy(col("rowkey"), col("qualifier"))
      .orderBy(col("event_id").desc, rowHash)
    deduped
      .withColumn("tomb", max(when(del, col("event_id"))).over(wRow))
      // keep: the latest tombstone; puts strictly above it
      .filter(when(del, col("event_id") === col("tomb"))
        .otherwise(col("event_id") > coalesce(col("tomb"), lit(-1L))))
      .withColumn("version", row_number().over(wCell))
      // tombstones dedupe to one row; puts keep the newest maxVersions
      .filter(when(del, col("version") === 1)
        .otherwise(col("version") <= maxVersions))
      .drop("tomb")
  }

  /** Merge one batch of cell mutations into the bucketed state at
    * `statePath` ([[StateStore.mergeKeyed]]). The stored `version` is
    * recomputed by [[compactCells]], so the state side drops it before
    * the union with the (version-less) batch. */
  def mergeCells(spark: SparkSession, batch: DataFrame, statePath: String,
                 maxVersions: Int = DefaultMaxVersions,
                 numBuckets: Int = DefaultBuckets): Unit =
    StateStore.mergeKeyed(spark, statePath, batch, numBuckets, Seq("rowkey", "qualifier"))(
      (old, b) => compactCells(old.drop("version").unionByName(b), maxVersions))

  /** Live cell versions (tombstone rows filtered). Pure scan-project —
    * `version` is served from storage, no query-time window. */
  def readCells(spark: SparkSession, statePath: String): DataFrame =
    StateStore.scanLive(spark, statePath)

  /** Point fetch of one row's cell versions (HBase `Get` with
    * `setMaxVersions`): opens only the keys' buckets. */
  def getCells(spark: SparkSession, statePath: String,
               rowkeys: Seq[String]): DataFrame =
    StateStore.getKeyed(spark, statePath, rowkeys)
}
