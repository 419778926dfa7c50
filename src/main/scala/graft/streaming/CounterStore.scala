package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Maintained COUNTER state — HBase's `Increment` mutation family
  * (SURVEY.md §2.A O11 deepened a second way): per (rowkey, qualifier)
  * the value is the running SUM of deltas, not the latest put. This is a
  * commutative-aggregate merge semantic, architecturally distinct from
  * the latest-wins stores ([[IncrementalIndex]], [[CellStore]]): state
  * rows are PARTIALS (total, n_incr, last_id), never raw history, so a
  * hot counter costs O(1) storage regardless of increment volume —
  * exactly why HBase ships Increment instead of read-modify-write puts.
  *
  * Layout: [[StateStore]]'s bucket layout keyed by `rowkey`, merged by
  * [[StateStore.mergeKeyed]].
  *
  * Semantics:
  *  - `op = 'incr'` rows add `delta` to cell (rowkey, qualifier);
  *  - a row tombstone (`op = 'delete'`, qualifier NULL) RESETS every
  *    cell of the row at or below its event_id (HBase delete-row over
  *    counter columns); the latest tombstone is retained;
  *  - replay-safe via the HIGH-WATER contract (HBase's own seqid
  *    discipline): a cell's partial carries `last_id`, and a batch row
  *    with `event_id <= last_id` is already folded in and is dropped.
  *    This requires per-key MONOTONE batch arrival — event ids of later
  *    batches exceed earlier ones for the same key, which the changelog
  *    total order (and any per-key-ordered source, e.g. a partitioned
  *    log) provides. An out-of-order cross-batch delta below the high
  *    water would be dropped as a replay; that is the same trade HBase
  *    makes, and the monotone contract is documented at every entry.
  *    Whole-row duplicate raws WITHIN one batch collapse exactly like
  *    [[CellStore.compactCells]]'s replay dedupe.
  *
  * 100 TB: merges shuffle O(batch + touched buckets) on rowkey — the
  * intra-batch dedupe is one all-columns aggregate over that bounded
  * set, the high-water drop and tombstone mask share one rowkey
  * exchange, and the final per-cell fold is a partial aggregate over
  * already-co-located rows. Reads are pure scan-project; point reads
  * open one bucket.
  */
object CounterStore {

  val DefaultBuckets = 16

  /** Compact (state partials ∪ raw batch) to fresh per-cell partials.
    * Input schema: `rowkey STRING, qualifier STRING (NULL for row
    * deletes), last_id LONG (the raw event_id for batch rows), op STRING
    * ('incr'|'delete'), total DOUBLE (the raw delta for batch rows),
    * n_incr LONG (1 for batch rows), agg BOOLEAN (true for state
    * partials)`. */
  /** The compaction input annotated with its keep/drop verdicts — the
    * shared head of [[compactCounters]] (which keeps) and the merge's
    * hw-drop metric (which counts the drops). `hw_dropped` marks exactly
    * the rows the HIGH-WATER filter suppresses: raw non-delete rows that
    * survive the tombstone but fall at or below their cell's folded
    * last_id. Under the documented monotone-arrival contract those are
    * replays; under a contract VIOLATION (a genuine out-of-order
    * cross-batch increment) they are silent data loss — which is why the
    * merge counts them (see [[lastMergeHwDrops]]). */
  private def annotated(changes: DataFrame): DataFrame = {
    val del = col("op") === "delete"
    // intra-batch at-least-once duplicates collapse (CellStore's replay
    // dedupe); distinct deltas sharing an event_id survive as distinct
    val deduped = changes.dropDuplicates(changes.columns.toIndexedSeq)
    val wRow = Window.partitionBy("rowkey")
    val wCell = Window.partitionBy(col("rowkey"), col("qualifier"))
    deduped
      .withColumn("tomb", max(when(del, col("last_id"))).over(wRow))
      // high water: raw rows at or below a partial's last_id are replays
      .withColumn("hw",
        max(when(col("agg") && !del, col("last_id"))).over(wCell))
      .withColumn("hw_dropped",
        !del && !col("agg") &&
          col("last_id") > coalesce(col("tomb"), lit(-1L)) &&
          col("last_id") <= coalesce(col("hw"), lit(-1L)))
      .withColumn("kept",
        when(del, col("last_id") === col("tomb")) // latest tombstone
          .otherwise(
            col("last_id") > coalesce(col("tomb"), lit(-1L)) &&
            (col("agg") || col("last_id") > coalesce(col("hw"), lit(-1L)))))
  }

  /** The per-cell fold over the annotated frame's kept rows — one body
    * shared by [[compactCounters]] and the merge (two copies would drift
    * on the next schema change). */
  private def fold(ann: DataFrame): DataFrame =
    ann.filter(col("kept"))
      .groupBy("rowkey", "qualifier", "op")
      .agg(max(col("last_id")).as("last_id"),
        sum(col("total")).as("total"),
        sum(col("n_incr")).as("n_incr"))
      .withColumn("agg", lit(true))

  def compactCounters(changes: DataFrame): DataFrame =
    fold(annotated(changes))

  /** Rows the last [[mergeCounters]] ON THIS ROOT suppressed as
    * high-water replays — the observability seam for the monotone-arrival
    * contract: expected checkpoint replays show up here too, but a
    * NON-ZERO count outside a replay window means genuine out-of-order
    * increments were dropped (the documented trade). Keyed per statePath
    * so concurrent pipelines in one JVM never overwrite each other's
    * counts (a process-global last-merge-wins field was unreliable
    * exactly when multiple roots merge at once); [[mergeCounters]] also
    * RETURNS the count so callers needn't consult the map at all.
    * Per-JVM side metric, not state. */
  private val hwDropsByRoot =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** One canonical key per root: an unnormalized variant of the same path
    * (trailing slash, `./`-relative vs absolute) must read the SAME
    * metric slot, not silently 0 (round-12 ADVICE). Hadoop Path handles
    * the slash/scheme canonicalization; the explicit absolutize covers
    * relative-vs-absolute spellings of a local root. */
  private def rootKey(statePath: String): String = {
    val p = new org.apache.hadoop.fs.Path(statePath)
    val scheme = p.toUri.getScheme
    if (scheme == null || scheme == "file") {
      // local root: `file:`-URI, relative, `./`-relative, and
      // trailing-slash spellings all collapse to one absolute NORMALIZED
      // filesystem path — File.getAbsolutePath keeps `.`/`..` segments
      // ('./x' → '/cwd/./x' ≠ '/cwd/x'), which would silently split the
      // metric slot this key exists to unify (round-13 ADVICE)
      val raw = if (scheme == null) statePath else p.toUri.getPath
      java.nio.file.Paths.get(raw).toAbsolutePath.normalize
        .toString.stripSuffix("/")
    } else p.toUri.toString.stripSuffix("/")
  }

  /** The last merge's hw-replay drop count for `statePath` (0 if this JVM
    * has not merged that root). */
  def lastMergeHwDrops(statePath: String): Long =
    Option(hwDropsByRoot.get(rootKey(statePath))).map(_.longValue).getOrElse(0L)

  private def normalize(batch: DataFrame): DataFrame =
    batch.select(col("rowkey"), col("qualifier"),
      col("event_id").as("last_id"), col("op"),
      col("delta").cast("double").as("total"),
      when(col("op") === "delete", 0L).otherwise(1L).as("n_incr"),
      lit(false).as("agg"))

  /** Merge one batch of increment/delete mutations (schema: rowkey,
    * qualifier, event_id, op, delta) into the bucketed counter state
    * ([[StateStore.mergeKeyed]]); same monotone high-water replay
    * contract as the object doc. Returns the number of raw increments
    * suppressed as high-water replays (also readable afterwards via
    * [[lastMergeHwDrops]]). */
  def mergeCounters(spark: SparkSession, batch: DataFrame, statePath: String,
                    numBuckets: Int = DefaultBuckets): Long = {
    // an empty batch suppresses nothing: reset BEFORE the merge so the
    // last-merge-wins metric can never attribute a previous merge's drops
    // to a no-op batch
    hwDropsByRoot.put(rootKey(statePath), 0L)
    // annotated once and cached: the kept rows feed the fold, the
    // hw-dropped rows the replay-suppression metric — one window pass
    var ann: DataFrame = null
    try StateStore.mergeKeyed(spark, statePath, normalize(batch), numBuckets,
        Seq("rowkey", "qualifier")) { (old, raw) =>
      ann = annotated(old.unionByName(raw)).cache()
      val hwDrops = ann.filter(col("hw_dropped")).count()
      hwDropsByRoot.put(rootKey(statePath), hwDrops)
      if (hwDrops > 0)
        System.err.println(s"CounterStore.mergeCounters: $hwDrops " +
          s"raw increment(s) at or below their cell's high water were " +
          s"suppressed as replays at $statePath — expected under checkpoint " +
          s"replay; outside a replay window this is the monotone-arrival " +
          s"contract being violated (out-of-order increments dropped)")
      fold(ann)
    } finally if (ann != null) ann.unpersist(): Unit
    lastMergeHwDrops(statePath)
  }

  /** Live counters (tombstone rows filtered): (rowkey, qualifier, total,
    * n_incr, last_id). Pure scan-project. */
  def readCounters(spark: SparkSession, statePath: String): DataFrame =
    StateStore.scanLive(spark, statePath).select(CounterCols.map(col): _*)

  /** Point fetch of one row's counters (HBase `Get` over counter
    * columns): opens only the keys' buckets. */
  def getCounters(spark: SparkSession, statePath: String,
                  rowkeys: Seq[String]): DataFrame =
    StateStore.getKeyed(spark, statePath, rowkeys).select(CounterCols.map(col): _*)

  private val CounterCols = Seq("rowkey", "qualifier", "total", "n_incr", "last_id")
}
