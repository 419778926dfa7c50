package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{GraftConfig, Tables}

/** Changelog / incremental-index family — the reference's write path
  * re-expressed as declarative Spark plans (SURVEY.md §2.A, O1–O11).
  *
  * The reference is an HBase coprocessor that turns each row mutation into a
  * Solr document upsert (HbaseSolrIndexCoprocesser.java:38-53) or a
  * delete-by-rowkey (same file, :56-61), micro-batched by a size threshold
  * (SolrIndexTools.java:124) and a 30 s timer (SolrIndexTools.java:46-49).
  * Net index semantics: latest put per rowkey, minus rowkeys whose latest
  * event is a delete — here the `q_index_state` changelog compaction.
  *
  * Scale notes (100 TB): compaction shuffles once on `rowkey` (hash
  * partition); a window + `row_number` is a single exchange + in-partition
  * sort. At production scale the state table would be bucketed by
  * `hash(rowkey)` so every incremental merge reuses the same partitioning
  * and point lookups prune to one bucket. The reference's single-flusher
  * semaphore (SolrIndexTools.java:110,121 — its self-acknowledged
  * bottleneck) has no equivalent here: parallel tasks write independent
  * partitions.
  */
object Changelog {
  type Q = (SparkSession, String) => DataFrame

  /** O13: every operator parameter below (rowkey field, CF allowlist,
    * delete marker, thresholds, interval) comes from [[GraftConfig]] —
    * the reference drives the same set from application.properties:2-16.
    * The fixed `queries` map pins [[GraftConfig.default]] (the fixture
    * binding: `error` events model tombstones, FIXTURES.md) so the oracle
    * checks one stable instantiation. */
  private val Cfg = GraftConfig.default

  /** O3: rowkey extraction — Bytes.toString(put.getRow()),
    * HbaseSolrIndexCoprocesser.java:39. */
  def withRowkey(events: DataFrame, cfg: GraftConfig = Cfg): DataFrame =
    events.withColumn("rowkey", col(cfg.rowkeyField).cast("string"))

  /** O11 (flagship): latest-wins changelog compaction. Pure DataFrame ops:
    * one hash exchange on rowkey, in-partition sort, row_number, filter.
    * `event_id` is the total commit order (FIXTURES.md), so the result is
    * deterministic regardless of input partitioning. */
  def indexState(events: DataFrame, cfg: GraftConfig = Cfg): DataFrame = {
    val w = Window.partitionBy(col("rowkey")).orderBy(col("event_id").desc)
    withRowkey(events, cfg)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("event_type") =!= cfg.deleteClass)
      .select(
        col("rowkey"),
        col("ts").as("ts_us"),
        col("event_type"),
        round(col("value"), 2).as("value"),
        get_json_object(col("props"), "$.k").as("k"))
  }

  /** O4: column-family allowlist filter (HbaseSolrIndexCoprocesser.java:42;
    * `hbase_column_family`, application.properties:2). */
  def filterCf(events: DataFrame, cfg: GraftConfig = Cfg): DataFrame =
    events.filter(col("event_type").isin(cfg.cfAllowlist: _*))

  // ---- queries (driver contract) ----

  private def qScanEvents(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir).select(
      col("event_id"), col("ts").as("ts_us"), col("user_id"),
      col("event_type"), round(col("value"), 2).as("value"), col("props"))
      .orderBy("event_id")

  private def qProjectRowkey(spark: SparkSession, dir: String): DataFrame =
    withRowkey(Tables.events(spark, dir))
      .select("rowkey").distinct()
      .orderBy(col("rowkey").cast("long"))

  private def qFilterCf(spark: SparkSession, dir: String): DataFrame =
    // O4: config-driven allowlist — event_type plays the CF.
    filterCf(Tables.events(spark, dir))
      .select("event_id", "event_type", "user_id")
      .orderBy("event_id")

  private def qFilterNonempty(spark: SparkSession, dir: String): DataFrame =
    // O5: skip rows with no indexable cells
    // (HbaseSolrIndexCoprocesser.java:44). The reference's check is
    // structural (cells null/empty), so this is a string predicate, not a
    // JSON parse — at scale the parse belongs in the projection of the few
    // surviving rows (see q_index_state's `k`), never in a full-scan
    // filter (measured: ~20 µs/row of Jackson vs ~ns for the LIKE).
    Tables.events(spark, dir)
      .filter(col("props").isNotNull && col("props") =!= "{}" &&
        col("props").like("%\"k\":%"))
      .select("event_id", "props")
      .orderBy("event_id")

  private val pivotValues = Seq("click", "error", "purchase", "signup", "view")

  private def qPivotDoc(spark: SparkSession, dir: String): DataFrame =
    // O6: cells → flat document (doc.addField loop,
    // HbaseSolrIndexCoprocesser.java:45-49). `max` not `first`: first() is
    // order-nondeterministic under shuffle (SURVEY.md §7.5). Conditional
    // aggregation, not Dataset.pivot: pivot plans two exchanges (pair-key
    // agg then pivotfirst re-agg); max-over-when computes the same wide
    // row with a single exchange on rowkey.
    withRowkey(Tables.events(spark, dir))
      .groupBy("rowkey")
      .agg(
        round(max(when(col("event_type") === pivotValues.head, col("value"))), 2)
          .as(pivotValues.head),
        pivotValues.tail.map(v =>
          round(max(when(col("event_type") === v, col("value"))), 2).as(v)): _*)
      .orderBy(col("rowkey").cast("long"))

  private def qCounterState(spark: SparkSession, dir: String): DataFrame = {
    // HBase `Increment` — O11's COMMUTATIVE sibling: per (row, qualifier)
    // the value is the running SUM of deltas, with the row tombstone as
    // a counter reset (delete-row over counter columns). Latest-wins
    // answers "what is the field now"; this answers "how much has
    // accumulated since the last reset" — the other half of what the
    // reference's coprocessor sees in a mutation stream. One rowkey
    // window masks pre-tombstone deltas; the per-cell fold is a partial
    // aggregate over already-co-located rows.
    val del = col("event_type") === Cfg.deleteClass
    val wRow = Window.partitionBy("user_id")
    Tables.events(spark, dir)
      .withColumn("tomb", max(when(del, col("event_id"))).over(wRow))
      .filter(!del && col("event_id") > coalesce(col("tomb"), lit(-1L)))
      .groupBy(col("user_id"), col("event_type").as("qualifier"))
      .agg(round(sum(col("value")), 2).as("total"),
        count(lit(1)).as("n_incr"),
        max(col("event_id")).as("last_id"))
      .select(col("user_id").cast("string").as("rowkey"), col("qualifier"),
        col("total"), col("n_incr"), col("last_id"))
      .orderBy(col("rowkey").cast("long"), col("qualifier"))
  }

  /** A [[graft.streaming.CounterStore]] root built by merging the events
    * changelog (as increment mutations) in ONE pass. The fixture serves
    * the maintained READ (`q_counter_maintained`); the property that a
    * SECOND merge genuinely folds deltas into existing partials — and
    * that its tombstones reset counters — is CounterStoreSpec's, pinned
    * on its own roots. It used to be re-proven here with a median split,
    * which doubled the bucket rewrites (every merge rewrites every
    * touched bucket whole) and made this the suite's single most
    * load-sensitive artifact build (round-14: 6 s quiet, 90.7 s on a
    * loaded box) for no additional read coverage. */
  private def counterFixture(spark: SparkSession, dir: String): String =
    Materialize.fixture(spark, "counter_store_fixture", dir) { tmp =>
      val root = tmp + "/state"
      val changes = Tables.events(spark, dir).select(
        col("user_id").cast("string").as("rowkey"),
        when(col("event_type") === Cfg.deleteClass, lit(null: String))
          .otherwise(col("event_type")).as("qualifier"),
        col("event_id"),
        when(col("event_type") === Cfg.deleteClass, "delete")
          .otherwise("incr").as("op"),
        col("value").as("delta"))
      graft.streaming.CounterStore.mergeCounters(spark, changes, root)
      root
    }

  private def qCounterMaintained(spark: SparkSession, dir: String): DataFrame =
    // q_counter_state served from the MAINTAINED counter store: the sum
    // was folded at MERGE time into O(1)-per-cell partials (never raw
    // history — the reason HBase ships Increment), so the read is a pure
    // scan-project with zero query-time aggregation. Same oracle as the
    // scan form: two physical strategies, one semantics.
    graft.streaming.CounterStore
      .readCounters(spark, counterFixture(spark, dir))
      .select(col("rowkey"), col("qualifier"),
        round(col("total"), 2).as("total"), col("n_incr"), col("last_id"))
      .orderBy(col("rowkey").cast("long"), col("qualifier"))

  private def qCellState(spark: SparkSession, dir: String): DataFrame = {
    // O6/O11 deepened to HBase's ACTUAL versioning unit: a put carries a
    // SUBSET of a row's cells, so the row's current document is the
    // per-QUALIFIER latest value — not the latest event's payload
    // (q_index_state's row-level view) and not an all-history aggregate
    // (q_pivot_doc). A delete event is the row tombstone: cells at or
    // before it are dead; qualifiers written AFTER it survive. One hash
    // exchange on rowkey computes everything — per-qualifier max_by
    // (latest value), per-qualifier max event_id (to compare against the
    // tombstone), and the tombstone itself — then a scan-side projection
    // masks dead cells and drops fully-dead rows. event_type plays the
    // qualifier exactly as it plays the CF in O4.
    val quals = pivotValues.filterNot(_ == Cfg.deleteClass)
    def q(v: String) = col("event_type") === v
    val aggs =
      max(when(col("event_type") === Cfg.deleteClass, col("event_id")))
        .as("tomb") +:
      quals.flatMap(v => Seq(
        max_by(when(q(v), col("value")), when(q(v), col("event_id")))
          .as(s"${v}_val"),
        max(when(q(v), col("event_id"))).as(s"${v}_id")))
    val cols = quals.map(v =>
      round(when(col(s"${v}_id") > coalesce(col("tomb"), lit(-1L)),
        col(s"${v}_val")), 2).as(v))
    withRowkey(Tables.events(spark, dir))
      .groupBy("rowkey")
      .agg(aggs.head, aggs.tail: _*)
      .select(col("rowkey") +: cols: _*)
      .filter(quals.map(v => col(v).isNotNull).reduce(_ || _))
      .orderBy(col("rowkey").cast("long"))
  }

  /** VERSIONS retained per cell and the TTL horizon for [[qCellVersions]] /
    * [[qVersionsMaintained]] — HBase's per-CF retention knobs
    * (HColumnDescriptor VERSIONS / TTL; the reference's table carries the
    * defaults). TTL is data-derived (half the changelog's ts span) so every
    * SF exercises genuine expiry. */
  private val MaxVersions = 3

  private def ttlCutoff(spark: SparkSession, dir: String): DataFrame =
    broadcast(Tables.events(spark, dir)
      .agg(expr("max(ts) - (max(ts) - min(ts)) div 2").as("ttl_cut")))

  private def qCellVersions(spark: SparkSession, dir: String): DataFrame = {
    // HBase's retention semantics as ONE declarative read: per
    // (rowkey, qualifier) keep the newest `VERSIONS` puts above the row
    // tombstone, then expire cells past the TTL horizon (HBase evaluates
    // TTL at read/compaction time, AFTER version retention bounds what is
    // stored — so rank first, expire second; the maintained twin
    // q_versions_maintained relies on exactly this order). Both windows
    // share ONE hash exchange: hash(rowkey) co-locates every
    // (rowkey, qualifier) group, so the per-cell rank window adds a sort,
    // never a second shuffle. The TTL scalar broadcasts back; at scale
    // the ts predicate prunes row groups of commit-ordered files.
    val del = col("event_type") === Cfg.deleteClass
    val wRow = Window.partitionBy("rowkey")
    val wCell = Window.partitionBy(col("rowkey"), col("qualifier"))
      .orderBy(col("event_id").desc)
    withRowkey(Tables.events(spark, dir))
      .crossJoin(ttlCutoff(spark, dir))
      .withColumn("qualifier", col("event_type"))
      .withColumn("tomb", max(when(del, col("event_id"))).over(wRow))
      .filter(!del && col("event_id") > coalesce(col("tomb"), lit(-1L)))
      .withColumn("version", row_number().over(wCell).cast("long"))
      .filter(col("version") <= MaxVersions && col("ts") >= col("ttl_cut"))
      .select(col("rowkey"), col("qualifier"), col("version"),
        round(col("value"), 2).as("value"), col("ts").as("ts_us"))
      .orderBy(col("rowkey").cast("long"), col("qualifier"), col("version"))
  }

  private def qBatchCount(spark: SparkSession, dir: String): DataFrame =
    // O7: threshold flush arithmetic — add_batchCount
    // (application.properties:14, SolrIndexTools.java:124). Batches are
    // commit-order buckets of the configured size.
    Tables.events(spark, dir)
      .groupBy(floor(col("event_id") / Cfg.addBatchCount).cast("long").as("batch_id"))
      .agg(
        count(lit(1)).as("n_events"),
        count(when(col("event_type") =!= Cfg.deleteClass, lit(1))).as("n_puts"),
        count(when(col("event_type") === Cfg.deleteClass, lit(1))).as("n_dels"))
      .orderBy("batch_id")

  private def qDelBatchCount(spark: SparkSession, dir: String): DataFrame = {
    // O7's delete-side twin: the reference keeps a SEPARATE delete buffer
    // with its own flush threshold (del_batchCount=2000,
    // application.properties:16; SolrIndexTools.java:105-107). A delete's
    // batch is floor(rank-among-deletes / threshold) in commit order.
    // Scalable rank: a bare row_number over the whole delete stream would
    // sort it in ONE partition; instead deletes rank within coarse
    // event_id segments (a partitioned window), and each segment's global
    // offset comes from a running sum over the tiny per-segment count
    // table — the distributed prefix-sum pattern. The only unpartitioned
    // window runs over |events|/segment_size rows, not the stream.
    val segSize = 10000
    val dels = Tables.events(spark, dir)
      .filter(col("event_type") === Cfg.deleteClass)
      .select(col("event_id"), floor(col("event_id") / segSize).as("seg"))
    val segOffsets = dels.groupBy("seg").agg(count(lit(1)).as("n"))
      .withColumn("offset", coalesce(sum(col("n")).over(
        Window.orderBy("seg").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("seg", "offset")
    dels
      .withColumn("rn", row_number().over(
        Window.partitionBy("seg").orderBy("event_id")))
      .join(broadcast(segOffsets), "seg")
      .withColumn("k", col("offset") + col("rn") - 1)
      .groupBy(floor(col("k") / Cfg.delBatchCount).cast("long").as("del_batch_id"))
      .agg(count(lit(1)).as("n_dels"),
        min(col("event_id")).as("first_event"), max(col("event_id")).as("last_event"))
      .orderBy("del_batch_id")
  }

  private def qIntervalWindow(spark: SparkSession, dir: String): DataFrame =
    // O8: interval flush (interval_commit_index=30,
    // application.properties:12; SolrIndexTools.java:46-49) as time-window
    // bucketing over the epoch-µs timestamp (normalized in Tables.events).
    Tables.events(spark, dir)
      .groupBy(expr(s"(ts div ${Cfg.commitIntervalSec.toLong * 1000000L}) " +
        s"* ${Cfg.commitIntervalSec}").cast("long").as("win_start"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
      .orderBy("win_start")

  private def qIndexState(spark: SparkSession, dir: String): DataFrame =
    indexState(Tables.events(spark, dir)).orderBy(col("rowkey").cast("long"))

  private def qPointLookup(spark: SparkSession, dir: String): DataFrame =
    // S12-adjacent: point lookup on the materialized index state. The
    // rowkey filter is on the window's partition key, so Catalyst pushes it
    // below the window into the scan (check .explain: PushedFilters on
    // user_id after the cast is resolved — partition-key filters prune
    // before the shuffle).
    indexState(Tables.events(spark, dir))
      .filter(col("rowkey") === "7")
      .orderBy("rowkey")

  /** TIME TRAVEL: the index state AS OF a changelog position — the same
    * latest-wins compaction over the log's prefix `event_id <= cutoff`.
    * This surface is the changelog design's native dividend: the
    * reference's coprocessor forwards mutations and FORGETS them, so
    * Solr can only ever answer "now" — here the log is the primary and
    * every historical state is one filter away. At scale the cutoff
    * predicate prunes at the scan (commit-ordered files skip whole
    * row groups past the cutoff) and the compaction shuffles only the
    * surviving prefix. */
  def stateAsOf(events: DataFrame, cutoff: Column,
                cfg: GraftConfig = Cfg): DataFrame =
    indexState(events.filter(col("event_id") <= cutoff), cfg)

  private def qStateAsof(spark: SparkSession, dir: String): DataFrame = {
    // pinned instantiation: as of half the log (a data-derived cutoff so
    // every SF exercises a genuine mid-history read); the tiny max
    // aggregate broadcasts back as a scalar
    val ev = Tables.events(spark, dir)
    val cut = broadcast(ev.agg(floor(max(col("event_id")) / 2).as("cut")))
    indexState(ev.crossJoin(cut).filter(col("event_id") <= col("cut")))
      .orderBy(col("rowkey").cast("long"))
  }

  /** What changed between two changelog positions — the audit/debug twin
    * of [[stateAsOf]]: per rowkey, `added` (absent→live), `deleted`
    * (live→absent), or `updated` (any newer event won). Classification
    * compares the winning EVENT ids, not payloads: the changelog's total
    * order is the identity of a state, so "updated" is exactly "a newer
    * event decided this key". One shuffle per prefix compaction + one
    * equi-join on rowkey. */
  private def qStateDiff(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val cuts = broadcast(ev.agg(
      floor(max(col("event_id")) / 3).as("c1"),
      floor(max(col("event_id")) * 2 / 3).as("c2")))
    val evc = withRowkey(ev.crossJoin(cuts))
    def liveAt(cut: Column): DataFrame = evc
      .filter(col("event_id") <= cut)
      .groupBy("rowkey")
      .agg(max(col("event_id")).as("eid"),
        max_by(col("event_type"), col("event_id")).as("etype"),
        round(max_by(col("value"), col("event_id")), 2).as("value"))
      .filter(col("etype") =!= Cfg.deleteClass)
    val a = liveAt(col("c1")).select(col("rowkey"),
      col("eid").as("old_eid"), col("value").as("old_value"))
    val b = liveAt(col("c2")).select(col("rowkey"),
      col("eid").as("new_eid"), col("value").as("new_value"))
    a.join(b, Seq("rowkey"), "full_outer")
      .withColumn("change",
        when(col("old_eid").isNull, "added")
          .when(col("new_eid").isNull, "deleted")
          .when(col("old_eid") =!= col("new_eid"), "updated"))
      .filter(col("change").isNotNull)
      .select(col("rowkey"), col("change"), col("old_value"), col("new_value"))
      .orderBy(col("rowkey").cast("long"))
  }

  /** Session-scoped maintained event-index fixture: the events changelog
    * folded once per (session, dir) into the file-backed bucketed state
    * `IncrementalIndex` keeps current in production — so facet reads over
    * the MAINTAINED index (Solr's facet-over-standing-index, the
    * reference's query surface) are oracle-checked against genuinely
    * maintained state, like the postings fixture in Index.scala. */
  private def indexFixture(spark: SparkSession, dir: String): String =
    Materialize.fixture(spark, "maintained_index_fixture", dir) { tmp =>
      val root = tmp + "/state"
      val changes = Tables.events(spark, dir).select(
        col("user_id").cast("string").as("rowkey"),
        col("event_id"),
        when(col("event_type") === Cfg.deleteClass, "delete")
          .otherwise("put").as("op"),
        col("event_type"), col("value"))
      graft.streaming.IncrementalIndex.mergeBatch(spark, changes, root)
      root
    }

  /** A row-state root whose merge ALSO maintained the per-bucket rollup
    * sidecar ([[graft.streaming.IncrementalRollup]]) — built by streaming
    * the events changelog through `mergeBatch` in TWO halves split on
    * event_id, so the second merge genuinely updates partials the first
    * one wrote (replacements and deletes included). Returns (stateRoot,
    * rollupSpec). */
  private def rollupFixture(spark: SparkSession, dir: String)
      : (String, graft.streaming.IncrementalRollup.Spec) =
    Materialize.fixture(spark, "rollup_fixture", dir) { base =>
      val root = base + "/state"
      val spec = graft.streaming.IncrementalRollup.Spec(
        base + "/rollup", Seq("event_type"), Some("value"),
        statsCol = Some("value"))
      val changes = Tables.events(spark, dir).select(
        col("user_id").cast("string").as("rowkey"),
        col("event_id"),
        when(col("event_type") === Cfg.deleteClass, "delete")
          .otherwise("put").as("op"),
        col("event_type"), col("value"))
      val mid = changes.agg(percentile_approx(col("event_id"), lit(0.5),
        lit(100))).head().getLong(0)
      graft.streaming.IncrementalIndex.mergeBatch(
        spark, changes.filter(col("event_id") <= mid), root, rollup = Some(spec))
      graft.streaming.IncrementalIndex.mergeBatch(
        spark, changes.filter(col("event_id") > mid), root, rollup = Some(spec))
      (root, spec)
    }

  /** A [[graft.streaming.CellStore]] root built by merging the events
    * changelog in TWO halves split on event_id — so the second merge
    * genuinely re-ranks versions the first one retained and its
    * tombstones genuinely purge cells the first merge wrote. */
  private def cellFixture(spark: SparkSession, dir: String): String =
    Materialize.fixture(spark, "cell_store_fixture", dir) { tmp =>
      val root = tmp + "/state"
      val changes = Tables.events(spark, dir).select(
        col("user_id").cast("string").as("rowkey"),
        when(col("event_type") === Cfg.deleteClass, lit(null: String))
          .otherwise(col("event_type")).as("qualifier"),
        col("event_id"),
        when(col("event_type") === Cfg.deleteClass, "delete")
          .otherwise("put").as("op"),
        col("ts"), col("value"))
      val mid = changes.agg(percentile_approx(col("event_id"), lit(0.5),
        lit(100))).head().getLong(0)
      graft.streaming.CellStore.mergeCells(
        spark, changes.filter(col("event_id") <= mid), root, MaxVersions)
      graft.streaming.CellStore.mergeCells(
        spark, changes.filter(col("event_id") > mid), root, MaxVersions)
      root
    }

  private def qVersionsMaintained(spark: SparkSession, dir: String): DataFrame =
    // q_cell_versions served from the MAINTAINED cell store: version
    // retention was enforced at MERGE time (HBase's compaction-time
    // discipline), the stored rank is current because merges rewrite
    // touched buckets wholly, and TTL stays a read-time predicate — so
    // the read is a pure scan-project over live buckets with zero
    // query-time windows. Same oracle as the scan form: two physical
    // strategies, one semantics.
    graft.streaming.CellStore.readCells(spark, cellFixture(spark, dir))
      .crossJoin(ttlCutoff(spark, dir))
      .filter(col("ts") >= col("ttl_cut"))
      .select(col("rowkey"), col("qualifier"),
        col("version").cast("long").as("version"),
        round(col("value"), 2).as("value"), col("ts").as("ts_us"))
      .orderBy(col("rowkey").cast("long"), col("qualifier"), col("version"))

  private def qStatsMaintained(spark: SparkSession, dir: String): DataFrame = {
    // S9 served from the INCREMENTALLY-MAINTAINED rollup: min/max/avg
    // (+count/sum) per facet bucket with no state scan — the third
    // physical strategy for the stats facet (q_stats_agg recomputes from
    // the table, q_facet_maintained scans maintained state, this one
    // collapses |buckets|×|groups| stats partials the merges kept
    // current). min/max under deletes is exactly the aggregate delta
    // maintenance cannot retract; the recompute-per-touched-bucket
    // discipline handles it for free, the same argument that made the
    // rollup's HLL deletable.
    val (_, spec) = rollupFixture(spark, dir)
    graft.streaming.IncrementalRollup.read(spark, spec)
      .select(col("event_type"), col("n"),
        round(col("min_value"), 2).as("min_value"),
        round(col("max_value"), 2).as("max_value"),
        round(col("sum_value"), 2).as("sum_value"),
        round(col("avg_value"), 2).as("avg_value"))
      .orderBy("event_type")
  }

  private def qCursorMaintained(spark: SparkSession, dir: String): DataFrame = {
    // S5's keyset deep-paging form served from the MAINTAINED row state
    // (q_cursor_page pages the raw table): the read opens live buckets
    // only, the compound cursor predicate filters before the
    // TakeOrderedAndProject page, and depth never re-sorts a prefix —
    // the reference's delegated paged-OLAP read (README.md:5-6) over the
    // state its coprocessor maintains.
    val st = graft.streaming.IncrementalIndex
      .readState(spark, indexFixture(spark, dir))
      .select(col("rowkey").cast("long").as("rk"), col("value"))
    graft.operators.Search.cursorPage(st, "value", "rk", 20,
        cursor = Some((50.0, 0L)))
      .select(col("rk").as("rowkey"), round(col("value"), 2).as("value"))
  }

  private def qFacetIncremental(spark: SparkSession, dir: String): DataFrame = {
    // S6 served from the INCREMENTALLY-MAINTAINED aggregate: no state
    // scan at query time at all — the read collapses |buckets|×|groups|
    // partial rows the merges kept current (IncrementalRollup). Same
    // oracle as q_facet_maintained: three physical strategies (recompute,
    // state scan, maintained rollup) proven equal every round.
    val (_, spec) = rollupFixture(spark, dir)
    graft.streaming.IncrementalRollup.read(spark, spec)
      .select(col("event_type"), col("n"),
        round(col("sum_value"), 2).as("sum_value"))
      .orderBy("event_type")
  }

  private def qGetMaintained(spark: SparkSession, dir: String): DataFrame =
    // S12's fetch half over MAINTAINED state — the literal HBase Get:
    // only the key's bucket dir is opened (StateStore.bucketDirsFor), and
    // the pushed rowkey predicate prunes pages inside it via the
    // clustered write order.
    graft.streaming.IncrementalIndex
      .get(spark, indexFixture(spark, dir), Seq("7"))
      .select(col("rowkey"), col("event_id"), col("event_type"),
        round(col("value"), 2).as("value"))
      .orderBy("rowkey")

  private def qFacetMaintained(spark: SparkSession, dir: String): DataFrame =
    // S6 over MAINTAINED state: the field facet Solr serves from its
    // standing index, read from the file-backed state the changelog keeps
    // current — one live-bucket read, partial+final aggregate by field
    // value; the events table is never re-compacted at query time.
    graft.streaming.IncrementalIndex
      .readState(spark, indexFixture(spark, dir))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .orderBy("event_type")

  val queries: Map[String, Q] = Map(
    "q_scan_events" -> qScanEvents,
    "q_project_rowkey" -> qProjectRowkey,
    "q_filter_cf" -> qFilterCf,
    "q_filter_nonempty" -> qFilterNonempty,
    "q_pivot_doc" -> qPivotDoc,
    "q_cell_state" -> qCellState,
    "q_counter_state" -> qCounterState,
    "q_counter_maintained" -> qCounterMaintained,
    "q_cell_versions" -> qCellVersions,
    "q_versions_maintained" -> qVersionsMaintained,
    "q_batch_count" -> qBatchCount,
    "q_del_batch_count" -> qDelBatchCount,
    "q_interval_window" -> qIntervalWindow,
    "q_index_state" -> qIndexState,
    "q_state_asof" -> qStateAsof,
    "q_state_diff" -> qStateDiff,
    "q_facet_maintained" -> qFacetMaintained,
    "q_facet_incremental" -> qFacetIncremental,
    "q_stats_maintained" -> qStatsMaintained,
    "q_cursor_maintained" -> qCursorMaintained,
    "q_get_maintained" -> qGetMaintained,
    "q_point_lookup" -> qPointLookup)

  private val counterStateSql =
    """WITH tomb AS (
      |  SELECT user_id, max(event_id) AS te FROM events
      |  WHERE event_type = 'error' GROUP BY 1)
      |SELECT CAST(e.user_id AS VARCHAR) AS rowkey, e.event_type AS qualifier,
      |       round(sum(e.value), 2) AS total, count(*) AS n_incr,
      |       max(e.event_id) AS last_id
      |FROM events e LEFT JOIN tomb t USING (user_id)
      |WHERE e.event_type <> 'error'
      |  AND e.event_id > coalesce(t.te, -1)
      |GROUP BY e.user_id, e.event_type
      |ORDER BY CAST(rowkey AS BIGINT), qualifier""".stripMargin

  private val indexStateSql =
    """WITH ranked AS (
      |  SELECT CAST(user_id AS VARCHAR) AS rowkey, event_id, ts, event_type, value, props,
      |         row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
      |  FROM events)
      |SELECT rowkey, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_type,
      |       round(value, 2) AS value, json_extract_string(props, '$.k') AS k
      |FROM ranked WHERE rn = 1 AND event_type <> 'error'""".stripMargin

  // Shared by q_cell_versions (scan) and q_versions_maintained (cell
  // store): rank versions above the row tombstone FIRST (retention bounds
  // what is stored), expire by TTL second — HBase's order of operations.
  private val cellVersionsSql =
    """WITH b AS (
      |  SELECT max(epoch_us(CAST(ts AS TIMESTAMP)))
      |           - (max(epoch_us(CAST(ts AS TIMESTAMP)))
      |              - min(epoch_us(CAST(ts AS TIMESTAMP)))) // 2 AS ttl_cut
      |  FROM events),
      |tomb AS (
      |  SELECT user_id, max(event_id) AS tomb FROM events
      |  WHERE event_type = 'error' GROUP BY 1),
      |live AS (
      |  SELECT e.user_id, e.event_type AS qualifier, e.value,
      |         epoch_us(CAST(e.ts AS TIMESTAMP)) AS ts_us,
      |         row_number() OVER (PARTITION BY e.user_id, e.event_type
      |                            ORDER BY e.event_id DESC) AS version
      |  FROM events e LEFT JOIN tomb t ON e.user_id = t.user_id
      |  WHERE e.event_type <> 'error' AND e.event_id > coalesce(t.tomb, -1))
      |SELECT CAST(user_id AS VARCHAR) AS rowkey, qualifier, version,
      |       round(value, 2) AS value, ts_us
      |FROM live, b WHERE version <= 3 AND ts_us >= ttl_cut
      |ORDER BY user_id, qualifier, version""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_scan_events" ->
      """SELECT event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, user_id, event_type,
        |       round(value, 2) AS value, props
        |FROM events ORDER BY event_id""".stripMargin,
    "q_project_rowkey" ->
      """SELECT DISTINCT CAST(user_id AS VARCHAR) AS rowkey
        |FROM events ORDER BY CAST(rowkey AS BIGINT)""".stripMargin,
    "q_filter_cf" ->
      """SELECT event_id, event_type, user_id FROM events
        |WHERE event_type IN ('click', 'purchase', 'view') ORDER BY event_id""".stripMargin,
    "q_filter_nonempty" ->
      """SELECT event_id, props FROM events
        |WHERE props IS NOT NULL AND props <> '{}'
        |  AND props LIKE '%"k":%'
        |ORDER BY event_id""".stripMargin,
    "q_pivot_doc" ->
      """SELECT CAST(user_id AS VARCHAR) AS rowkey,
        |       round(max(value) FILTER (WHERE event_type = 'click'), 2) AS click,
        |       round(max(value) FILTER (WHERE event_type = 'error'), 2) AS error,
        |       round(max(value) FILTER (WHERE event_type = 'purchase'), 2) AS purchase,
        |       round(max(value) FILTER (WHERE event_type = 'signup'), 2) AS signup,
        |       round(max(value) FILTER (WHERE event_type = 'view'), 2) AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_counter_state" -> counterStateSql,
    "q_counter_maintained" -> counterStateSql,
    "q_cell_state" ->
      """WITH agg AS (
        |  SELECT CAST(user_id AS VARCHAR) AS rowkey, user_id,
        |         max(event_id) FILTER (WHERE event_type = 'error') AS tomb,
        |         arg_max(value, event_id) FILTER (WHERE event_type = 'click') AS click_val,
        |         max(event_id) FILTER (WHERE event_type = 'click') AS click_id,
        |         arg_max(value, event_id) FILTER (WHERE event_type = 'purchase') AS purchase_val,
        |         max(event_id) FILTER (WHERE event_type = 'purchase') AS purchase_id,
        |         arg_max(value, event_id) FILTER (WHERE event_type = 'signup') AS signup_val,
        |         max(event_id) FILTER (WHERE event_type = 'signup') AS signup_id,
        |         arg_max(value, event_id) FILTER (WHERE event_type = 'view') AS view_val,
        |         max(event_id) FILTER (WHERE event_type = 'view') AS view_id
        |  FROM events GROUP BY user_id)
        |SELECT rowkey,
        |       round(CASE WHEN click_id > coalesce(tomb, -1) THEN click_val END, 2) AS click,
        |       round(CASE WHEN purchase_id > coalesce(tomb, -1) THEN purchase_val END, 2) AS purchase,
        |       round(CASE WHEN signup_id > coalesce(tomb, -1) THEN signup_val END, 2) AS signup,
        |       round(CASE WHEN view_id > coalesce(tomb, -1) THEN view_val END, 2) AS view
        |FROM agg
        |WHERE click IS NOT NULL OR purchase IS NOT NULL
        |   OR signup IS NOT NULL OR view IS NOT NULL
        |ORDER BY user_id""".stripMargin,
    "q_cell_versions" -> cellVersionsSql,
    "q_versions_maintained" -> cellVersionsSql,
    "q_batch_count" ->
      """SELECT CAST(floor(event_id / 10000) AS BIGINT) AS batch_id,
        |       count(*) AS n_events,
        |       count(*) FILTER (WHERE event_type <> 'error') AS n_puts,
        |       count(*) FILTER (WHERE event_type = 'error') AS n_dels
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_del_batch_count" ->
      """WITH d AS (
        |  SELECT event_id, row_number() OVER (ORDER BY event_id) - 1 AS k
        |  FROM events WHERE event_type = 'error')
        |SELECT CAST(floor(k / 2000) AS BIGINT) AS del_batch_id, count(*) AS n_dels,
        |       min(event_id) AS first_event, max(event_id) AS last_event
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_interval_window" ->
      """SELECT CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 30) * 30 AS BIGINT) AS win_start,
        |       count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_index_state" -> (indexStateSql + "\nORDER BY CAST(rowkey AS BIGINT)"),
    "q_state_asof" ->
      """WITH m AS (SELECT floor(max(event_id) / 2) AS cut FROM events),
        |ranked AS (
        |  SELECT CAST(user_id AS VARCHAR) AS rowkey, event_id, ts, event_type, value, props,
        |         row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |  FROM events, m WHERE event_id <= cut)
        |SELECT rowkey, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_type,
        |       round(value, 2) AS value, json_extract_string(props, '$.k') AS k
        |FROM ranked WHERE rn = 1 AND event_type <> 'error'
        |ORDER BY CAST(rowkey AS BIGINT)""".stripMargin,
    "q_state_diff" ->
      """WITH m AS (SELECT floor(max(event_id) / 3) AS c1,
        |                  floor(max(event_id) * 2 / 3) AS c2 FROM events),
        |a AS (SELECT CAST(user_id AS VARCHAR) AS rowkey, max(event_id) AS eid,
        |             arg_max(event_type, event_id) AS etype,
        |             round(arg_max(value, event_id), 2) AS value
        |      FROM events, m WHERE event_id <= c1 GROUP BY 1),
        |b AS (SELECT CAST(user_id AS VARCHAR) AS rowkey, max(event_id) AS eid,
        |             arg_max(event_type, event_id) AS etype,
        |             round(arg_max(value, event_id), 2) AS value
        |      FROM events, m WHERE event_id <= c2 GROUP BY 1),
        |al AS (SELECT * FROM a WHERE etype <> 'error'),
        |bl AS (SELECT * FROM b WHERE etype <> 'error'),
        |d AS (
        |  SELECT coalesce(al.rowkey, bl.rowkey) AS rowkey,
        |         CASE WHEN al.eid IS NULL THEN 'added'
        |              WHEN bl.eid IS NULL THEN 'deleted'
        |              WHEN al.eid <> bl.eid THEN 'updated' END AS change,
        |         al.value AS old_value, bl.value AS new_value
        |  FROM al FULL JOIN bl ON al.rowkey = bl.rowkey)
        |SELECT rowkey, change, old_value, new_value
        |FROM d WHERE change IS NOT NULL
        |ORDER BY CAST(rowkey AS BIGINT)""".stripMargin,
    "q_facet_maintained" ->
      """WITH ranked AS (
        |  SELECT user_id, event_id, event_type, value,
        |         row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |  FROM events)
        |SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM ranked WHERE rn = 1 AND event_type <> 'error'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_facet_incremental" ->
      """WITH ranked AS (
        |  SELECT user_id, event_id, event_type, value,
        |         row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |  FROM events)
        |SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM ranked WHERE rn = 1 AND event_type <> 'error'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_stats_maintained" ->
      """WITH ranked AS (
        |  SELECT user_id, event_id, event_type, value,
        |         row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |  FROM events)
        |SELECT event_type, count(*) AS n,
        |       round(min(value), 2) AS min_value,
        |       round(max(value), 2) AS max_value,
        |       round(sum(value), 2) AS sum_value,
        |       round(avg(value), 2) AS avg_value
        |FROM ranked WHERE rn = 1 AND event_type <> 'error'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_cursor_maintained" ->
      """WITH ranked AS (
        |  SELECT user_id, event_id, event_type, value,
        |         row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |  FROM events),
        |live AS (
        |  SELECT CAST(user_id AS BIGINT) AS rowkey, value
        |  FROM ranked WHERE rn = 1 AND event_type <> 'error')
        |SELECT rowkey, round(value, 2) AS value FROM live
        |WHERE value < 50.0 OR (value = 50.0 AND rowkey > 0)
        |ORDER BY value DESC, rowkey LIMIT 20""".stripMargin,
    "q_get_maintained" ->
      """WITH ranked AS (
        |  SELECT CAST(user_id AS VARCHAR) AS rowkey, event_id, event_type, value,
        |         row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        |  FROM events)
        |SELECT rowkey, event_id, event_type, round(value, 2) AS value
        |FROM ranked WHERE rn = 1 AND event_type <> 'error' AND rowkey = '7'
        |ORDER BY rowkey""".stripMargin,
    "q_point_lookup" -> (indexStateSql.replace("FROM ranked WHERE rn = 1",
      "FROM ranked WHERE rowkey = '7' AND rn = 1") + "\nORDER BY rowkey"))
}
