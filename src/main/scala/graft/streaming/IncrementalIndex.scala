package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming flavor of the reference's incremental index maintenance
  * (SURVEY.md §2.A O7–O10): the coprocessor's buffer + dual-trigger flush
  * (size threshold at SolrIndexTools.java:124, 30 s timer at :46-49)
  * becomes a Structured Streaming micro-batch pipeline — `readStream` →
  * `foreachBatch` merge into the materialized index state, with
  * `Trigger.ProcessingTime("30 seconds")` playing the commit interval.
  *
  * What the re-architecture removes (SURVEY.md §4): the single-flusher
  * semaphore (SolrIndexTools.java:110,121 — the reference's acknowledged
  * throughput killer) is replaced by parallel per-partition writes, and the
  * volatile in-memory buffer that loses data on a crash
  * (/root/reference/README.md:19-20) is replaced by checkpointed source
  * offsets — exactly-once per micro-batch.
  *
  * State layout: [[StateStore]]'s bucket layout keyed by `rowkey` — a
  * merge rewrites only the buckets the batch's rowkeys hash into
  * ([[StateStore.mergeKeyed]]), so write volume is O(batch + touched-
  * bucket state), not O(state). At 100 TB, numBuckets is sized so one
  * bucket is a comfortable rewrite unit (the same knob as LSM compaction
  * granularity); on object stores the same layout maps onto a
  * MERGE-capable table format (SCALE.md §streaming).
  */
object IncrementalIndex {

  /** Default state bucket count. Local tests use a handful; a real
    * deployment sizes this so one bucket ≈ a comfortable rewrite unit. */
  val DefaultBuckets = 16

  /** Latest-wins compaction of a (possibly already-compacted ∪ new) slice
    * of the changelog: one row per rowkey, deletes dropped. Read-side
    * view; the persisted state keeps tombstones (see [[compactAll]]). */
  def compact(changes: DataFrame): DataFrame =
    compactAll(changes).filter(col("op") =!= "delete")

  /** Latest event per rowkey with tombstones retained. The state table
    * must keep delete tombstones: if they were dropped, a stale put
    * (lower event_id) arriving in a later batch would resurrect a deleted
    * row. At 100 TB tombstones are garbage-collected once the source can
    * no longer replay events older than the tombstone (retention horizon),
    * the same discipline as compacted-topic / LSM deletes.
    *
    * Ties on event_id break on a stable hash of the whole row: with the
    * per-bucket PREFIX-atomic commit, a checkpoint replay must pick the
    * same winner it picked before the crash — an arbitrary tie order
    * would let a replay promote different content into an
    * already-committed bucket. Fully identical rows are the only
    * remaining tie, and those are idempotent by definition. */
  def compactAll(changes: DataFrame): DataFrame = {
    val rowHash = xxhash64(changes.columns.map(col): _*)
    val w = Window.partitionBy(col("rowkey"))
      .orderBy(col("event_id").desc, rowHash)
    changes
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  /** Merge one micro-batch into the bucketed state at `statePath`.
    * Reference semantics: client.add = upsert-by-id, client.deleteById =
    * drop (SolrIndexTools.java:60,63,127,129). The state persists the
    * latest event per rowkey INCLUDING tombstones; readers apply
    * `op != 'delete'` (or use [[readState]]). Re-merging the same batch
    * is idempotent — latest-wins by event_id.
    *
    * `rollup` threads an incrementally-maintained aggregate through the
    * same pass ([[IncrementalRollup]]): after the row swap, the touched
    * buckets' partial aggregates are recomputed from the post-merge rows
    * the merge already holds cached — replay-idempotent because the
    * partials are a pure function of the (idempotently re-merged) bucket
    * contents. */
  def mergeBatch(spark: SparkSession, batch: DataFrame, statePath: String,
                 numBuckets: Int = DefaultBuckets,
                 rollup: Option[IncrementalRollup.Spec] = None): Unit =
    StateStore.mergeKeyed(spark, statePath, batch, numBuckets, Seq("rowkey"),
      andThen = (merged, dirs) => rollup.foreach(spec =>
        IncrementalRollup.updateBuckets(spark, merged, spec, dirs, numBuckets)))(
      (old, b) => compactAll(old.unionByName(b)))

  /** Garbage-collect tombstones older than the source's replay horizon —
    * the retention discipline the state design names: a tombstone must
    * outlive every event that could resurrect its rowkey, i.e.
    * `horizonEventId` must be ≤ the smallest event_id the source can
    * still replay. (A stale put BELOW a GC'd tombstone would win the
    * latest-wins merge — the same contract as compacted-topic / LSM
    * delete retention.) Only buckets actually holding expired tombstones
    * are rewritten; a bucket left empty by GC is removed. */
  def gcTombstones(spark: SparkSession, statePath: String, horizonEventId: Long,
                   numBuckets: Int = DefaultBuckets): Unit = {
    val dirs = StateStore.liveBuckets(spark, statePath)
    if (dirs.isEmpty) return
    StateStore.ensureBucketCount(spark, statePath, numBuckets)
    val expired = col("op") === "delete" && col("event_id") < horizonEventId
    val touched = StateStore.touchedBuckets(
      StateStore.readBuckets(spark, statePath, dirs).filter(expired), "rowkey", numBuckets)
    if (touched.nonEmpty)
      StateStore.rewriteKeyed(spark, statePath, touched, numBuckets, Seq("rowkey"),
        empty = sys.error("expired tombstones sit in live buckets"))(_.filter(!expired))
  }

  /** Read the live view of the persisted state (tombstones filtered). */
  def readState(spark: SparkSession, statePath: String): DataFrame =
    StateStore.scanLive(spark, statePath)

  /** Point lookup against the maintained state — [[StateStore.getKeyed]]:
    * per-call I/O is |touched buckets|, never the state. */
  def get(spark: SparkSession, statePath: String, rowkeys: Seq[String]): DataFrame =
    StateStore.getKeyed(spark, statePath, rowkeys)

  /** Wire a streaming changelog (schema: rowkey STRING, event_id LONG,
    * op STRING, …) into the merge sink. `firstDelaySeconds` mirrors the
    * reference's `first_delay` (application.properties:10, the timer's
    * initial delay at SolrIndexTools.java:48): the first merge of THIS
    * start() call waits out the remainder of the delay inside
    * `foreachBatch` — data accumulates at the source exactly as it does
    * in the reference's buffer, and the gate holds the stream thread, not
    * the caller. */
  def start(changes: DataFrame, statePath: String, checkpoint: String,
            intervalSeconds: Int = 30, firstDelaySeconds: Int = 0,
            numBuckets: Int = DefaultBuckets,
            rollup: Option[IncrementalRollup.Spec] = None): StreamingQuery = {
    val gate = firstBatchGate(firstDelaySeconds)
    // cross-process single-writer fence (see WriterFence): a later
    // claimant on this root fences every subsequent batch here out
    val fence = WriterFence.claim(changes.sparkSession, statePath)
    changes.writeStream
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(s"$intervalSeconds seconds"))
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        gate()
        fence.check(batch.sparkSession)
        mergeBatch(batch.sparkSession, batch, statePath, numBuckets, rollup)
      }
      .start()
  }

  /** A once-per-start gate: the first invocation sleeps out whatever is
    * left of `delaySeconds` since creation, later ones return immediately. */
  private[graft] def firstBatchGate(delaySeconds: Int): () => Unit = {
    val startNanos = System.nanoTime()
    val done = new java.util.concurrent.atomic.AtomicBoolean(delaySeconds <= 0)
    () =>
      if (done.compareAndSet(false, true)) {
        val remainMs = delaySeconds * 1000L - (System.nanoTime() - startNanos) / 1000000L
        if (remainMs > 0) Thread.sleep(remainMs)
      }
  }
}
