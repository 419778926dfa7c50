package graft.streaming

import java.io.IOException

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.graftbridge.Bridge
import graft.operators.Percolate

/** The reference's whole write path as ONE pipeline: a changelog
  * micro-batch is admission-filtered — quality predicate, text dedup
  * gate, and (when armed) the embedding-cosine semantic gate — then
  * merged into every maintained state: the row-state index (the
  * coprocessor's Solr table, HbaseSolrIndexCoprocesser.java:38-61), the
  * inverted index, the dedup family's shingle index, and (when the
  * changelog carries an `embedding` column) the IVF vector index — all
  * in a single `foreachBatch`. The reference runs exactly one flush path
  * per mutation (SolrIndexTools.java:93-144); wiring the maintenance
  * streams separately would read the source once per state and leave the
  * gate to each caller.
  *
  * Crash contract — the part that needs a design, not just composition:
  * the gate reads the very shingle state this pipeline advances, so a
  * checkpoint replay that RE-DECIDED admission against half-merged state
  * could admit a different set than the crashed attempt, stranding the
  * first attempt's rows in whichever states it had already merged. The
  * fix is the classic decide-once-durably move: the batch's per-rowkey
  * verdicts ([[IncrementalShingles.gateDecisions]]) are committed to an
  * ADMISSION LOG (`<root>/admissions/batch=<id>`, one atomic directory
  * swap — [[StateStore.commit]]) BEFORE any merge, and a replay that
  * finds the log entry reuses it verbatim. Every downstream merge is
  * idempotent under a FIXED admitted set (event_id latest-wins, double
  * anti-join), so any crash point replays to the logged decision — the
  * pipeline is deterministic end-to-end.
  *
  * The log doubles as the pipeline's audit surface ([[admissionLog]]):
  * which documents a training-data ingest dropped, when, why
  * (`quality_reject` vs `state_dup` vs `batch_dup` vs `semantic_dup`),
  * and against what (`dup_of`) — the provenance record a 100 TB corpus
  * build keeps next to the corpus. Per-batch log size is |batch rowkeys|
  * (verdict rows), dwarfed by the batch itself; [[gcAdmissions]] applies
  * the same replay-horizon retention as tombstone GC.
  */
object IngestPipeline {

  /** State roots under one pipeline root — fixed layout so every read
    * surface (get, search, probe) addresses the pipeline by one path. */
  def stateRoot(pipelineRoot: String): String = s"$pipelineRoot/state"
  def postingsRoot(pipelineRoot: String): String = s"$pipelineRoot/postings"
  def shingleRoot(pipelineRoot: String): String = s"$pipelineRoot/shingles"
  def vectorsRoot(pipelineRoot: String): String = s"$pipelineRoot/vectors"
  def rollupRoot(pipelineRoot: String): String = s"$pipelineRoot/rollup"

  /** Root marker holding the pipeline's maintained-aggregate spec (see
    * [[enableRollup]]) — read by every merge path, so the rollup rides
    * applyBatch, bootstrap resume, AND forget without parameter
    * threading, the same marker-is-authoritative discipline as
    * `_nbuckets`/`_scheme`/`_tokenizer`. */
  private val RollupMarker = "_rollup_spec"

  /** Turn on the incrementally-maintained aggregate sidecar
    * ([[IncrementalRollup]]) for this pipeline: every subsequent row-state
    * merge — streamed batch, bootstrap, forget tombstones — keeps
    * per-bucket partials of `groupCols` (+ optional `sum(sumCol)`)
    * current, and [[readRollup]] serves the facet in O(buckets × groups)
    * with no state scan. `groupCols` must exist in the changelog schema;
    * a merge of a batch without them fails loudly. Enabling on a
    * populated pipeline backfills by one [[IncrementalRollup.rebuild]]
    * pass. This is a WRITER (it claims the root's fence): run it against
    * a stopped pipeline or from the maintenance slot. */
  def enableRollup(spark: SparkSession, pipelineRoot: String,
                   groupCols: Seq[String],
                   sumCol: Option[String] = None,
                   distinctCol: Option[String] = None,
                   statsCol: Option[String] = None): Unit = {
    val spec = IncrementalRollup.Spec(rollupRoot(pipelineRoot), groupCols,
      sumCol, distinctCol, statsCol)
    val fence = WriterFence.claim(spark, pipelineRoot)
    // validate the spec against the live schema BEFORE pinning it: a
    // typo'd column must fail HERE, not after the marker is durable —
    // a pinned bad spec would crash-loop every subsequent merge (the
    // marker drives them) and resist correction (ensureTag rejects a
    // changed value; that's what [[disableRollup]] is for). A fresh
    // root has no schema to check yet; its first merge still fails
    // loudly on a missing column, but the marker can be removed.
    // a conflicting RE-enable must fail against the pipeline's pinned
    // marker up front (ensureTag validates without writing when the
    // marker exists) — not incidentally against the sidecar's own tag
    // halfway into the rebuild
    if (StateStore.readTag(spark, pipelineRoot, RollupMarker).nonEmpty)
      StateStore.ensureTag(spark, pipelineRoot, RollupMarker, spec.tagValue)
    val live = StateStore.liveBuckets(spark, stateRoot(pipelineRoot))
    if (live.nonEmpty) {
      val have = IncrementalIndex
        .readState(spark, stateRoot(pipelineRoot)).schema.fieldNames.toSet
      val missing = (groupCols ++ sumCol ++ distinctCol ++ statsCol)
        .filterNot(have)
      require(missing.isEmpty,
        s"rollup spec names columns absent from the row state: " +
          s"${missing.mkString(", ")} (state has: ${have.toSeq.sorted.mkString(", ")})")
    }
    // the ROOT marker goes durable only AFTER the backfill rebuild
    // succeeds: the marker is what makes merges maintain (and readRollup
    // serve) the sidecar, so pinning it first would let a crash between
    // marker and rebuild leave an active marker over a missing/partial
    // sidecar — subsequent merges would then maintain only touched
    // buckets and readRollup would silently undercount. With this order
    // a crash mid-rebuild leaves an orphan sidecar but NO marker:
    // readRollup fails loudly ("no rollup enabled") and re-running
    // enableRollup converges (rebuild is a whole-root idempotent swap).
    if (live.nonEmpty)
      IncrementalRollup.rebuild(spark, stateRoot(pipelineRoot), spec)
    fence.check(spark)
    StateStore.ensureTag(spark, pipelineRoot, RollupMarker, spec.tagValue)
  }

  /** Remove the maintained rollup: drops the root marker and the partial
    * sidecar. The escape hatch for a mis-specified [[enableRollup]] on a
    * fresh root (the pinned marker otherwise rejects correction), and
    * the off switch generally; a later enableRollup starts clean. Writer
    * — claims the fence like enableRollup. */
  def disableRollup(spark: SparkSession, pipelineRoot: String): Unit = {
    val fence = WriterFence.claim(spark, pipelineRoot)
    fence.check(spark)
    val conf = spark.sessionState.newHadoopConf()
    val marker = new Path(s"$pipelineRoot/$RollupMarker")
    val fs = marker.getFileSystem(conf)
    if (fs.exists(marker)) fs.delete(marker, false): Unit
    if (fs.exists(new Path(rollupRoot(pipelineRoot))))
      StateStore.commit(spark, rollupRoot(pipelineRoot))(_ => ())
  }

  /** The enabled rollup spec of this pipeline, if any — parsed from the
    * root marker, so merge paths and read surfaces always agree. */
  def pipelineRollup(spark: SparkSession,
                     pipelineRoot: String): Option[IncrementalRollup.Spec] =
    StateStore.readTag(spark, pipelineRoot, RollupMarker).map { v =>
      val parts = v.split("\\|", -1)
      def opt(i: Int): Option[String] =
        if (parts.length <= i || parts(i).isEmpty) None else Some(parts(i))
      IncrementalRollup.Spec(rollupRoot(pipelineRoot),
        parts(0).split(",").toSeq.filter(_.nonEmpty), opt(1), opt(2), opt(3))
    }

  /** The maintained aggregate ([[enableRollup]] must have run): one row
    * per group with `n` (+ `sum_<col>`, `n_distinct_<col>`), read from
    * the partial sidecar — never the row state. `by` collapses to a
    * SUBSET of the enabled group columns (one maintained cuboid serves
    * every coarser facet — [[IncrementalRollup.readBy]]). */
  def readRollup(spark: SparkSession, pipelineRoot: String,
                 by: Seq[String] = Nil): DataFrame = {
    val spec = pipelineRollup(spark, pipelineRoot)
      .getOrElse(throw new IllegalStateException(
        s"no rollup enabled at $pipelineRoot — run enableRollup first"))
    if (by.isEmpty) IncrementalRollup.read(spark, spec)
    else IncrementalRollup.readBy(spark, spec, by)
  }

  // ---- percolator: standing alert queries over the ingest ----

  def percolatorRoot(pipelineRoot: String): String = s"$pipelineRoot/percolator"
  private def registryDir(pipelineRoot: String): String =
    s"${percolatorRoot(pipelineRoot)}/registry"
  /** Remove bucket dirs of a state root as one commit that writes
    * nothing for them (see [[StateStore.swapIn]]'s missing-tmp case), so
    * the root's token moves and no cached listing still names them. */
  private def dropDirs(spark: SparkSession, root: String, dirs: Seq[String]): Unit =
    if (dirs.nonEmpty) StateStore.commitBuckets(spark, root, dirs)(_ => ())

  private def alertsRoot(pipelineRoot: String): String =
    s"${percolatorRoot(pipelineRoot)}/alerts"
  private def alertDir(pipelineRoot: String, batchId: Long): String =
    s"${alertsRoot(pipelineRoot)}/batch=$batchId"

  /** Upsert standing percolator queries (term conjunctions, keyed by
    * query_id) into the pipeline's registry — from the NEXT batch on,
    * every admitted put is matched against them and hits land durably
    * under `percolator/alerts/batch=<id>` ([[alerts]]): the reference's
    * search surface turned around into ingest-time alerting
    * ([[graft.operators.Percolate]]). The registry is a tiny
    * whole-swap parquet state (same [[StateStore.commit]] discipline as
    * every sidecar); registrations are queries-by-id, so re-registering
    * an id replaces its terms (within one call too — last wins).
    *
    * Concurrency contract: registration is crash-safe (swap), but it is
    * a read-modify-write with no fence — ONE administrative writer at a
    * time, and racing a live batch's registry read can fail one side
    * LOUDLY (the reader's heal can abort the writer's promote, or the
    * swap can pull files from under an already-planned read; both
    * retryable, neither corrupting). Prefer the maintenance slot (the
    * stream's own foreachBatch thread) for registry changes, the same
    * place every other whole-root operation runs. */
  def registerQueries(spark: SparkSession, pipelineRoot: String,
                      queries: Seq[(String, Seq[String])]): Unit =
    registerStoredQueries(spark, pipelineRoot,
      queries.map { case (id, ts) => Percolate.StoredQuery(id, ts) })

  /** Full boolean registration (every `all` term, ≥1 `any` term when any
    * are given, no `none` term — the S2 semantics turned standing). */
  def registerStoredQueries(spark: SparkSession, pipelineRoot: String,
                            queries: Seq[Percolate.StoredQuery]): Unit = {
    require(queries.nonEmpty, "registerQueries needs at least one query")
    // validate range fields against the live row-state schema BEFORE the
    // registry swap (the enableRollup pre-pin pattern): a typo'd field
    // would otherwise throw in EVERY subsequent batch's emitAlerts at
    // gated.select — halting ingest until the query is removed — rather
    // than failing the registration call that introduced it. A fresh
    // root has no schema to check yet; its first batch still fails
    // loudly on a missing column, and the bad query is removable.
    val rangeFields = queries.flatMap(_.range).map(_.field).distinct
    if (rangeFields.nonEmpty &&
        StateStore.liveBuckets(spark, stateRoot(pipelineRoot)).nonEmpty) {
      val have = IncrementalIndex.readState(spark, stateRoot(pipelineRoot))
        .schema.fieldNames.toSet
      val missing = rangeFields.filterNot(have)
      require(missing.isEmpty,
        s"stored-query range predicates name columns absent from the " +
          s"pipeline's changelog schema: ${missing.mkString(", ")} " +
          s"(state has: ${have.toSeq.sorted.mkString(", ")})")
    }
    // upsert-by-id must hold WITHIN one call too: persisting two copies
    // of an id would make registry() merge their terms into one stricter
    // conjunction — last registration wins, same as two separate calls
    val deduped = queries.reverse.distinctBy(_.id).reverse
    import spark.implicits._
    val ids = deduped.map(_.id).toDF("query_id")
    val fresh = Percolate.explodeRoles(deduped).toDF("query_id", "term", "role")
    // frame-level upsert: the EXISTING registry never materializes on the
    // driver — replaced ids drop through one broadcast anti-join, new
    // rows union in. A registry large enough for the join match strategy
    // stays large-registry-safe on its own write path too.
    val existing = registryRows(spark, pipelineRoot)
      .getOrElse(fresh.limit(0))
    writeRegistry(spark, pipelineRoot,
      existing.join(broadcast(ids), Seq("query_id"), "left_anti")
        .unionByName(fresh))
  }

  /** Drop standing queries by id (absent ids are ignored). */
  def removeQueries(spark: SparkSession, pipelineRoot: String,
                    ids: Seq[String]): Unit = {
    import spark.implicits._
    registryRows(spark, pipelineRoot).foreach { existing =>
      writeRegistry(spark, pipelineRoot,
        existing.join(broadcast(ids.toDF("query_id")),
          Seq("query_id"), "left_anti"))
    }
  }

  private def writeRegistry(spark: SparkSession, pipelineRoot: String,
                            rows: DataFrame): Unit = {
    val cached = rows.cache()
    // decouple from the current registry files before the whole-dir swap
    val n = cached.count()
    // one file per ~50k exploded rows: a demo registry keeps the single
    // file it always had, a million-query registry lands bucketed
    // instead of funneling through one task's coalesce(1)
    val parts = math.min(32L, n / 50000L + 1L).toInt
    try StateStore.commit(spark, registryDir(pipelineRoot)) { tmp =>
      cached.repartition(parts, col("query_id")).write.parquet(tmp)
    } finally cached.unpersist(): Unit
  }

  /** The persisted registry as `(query_id, term, role)` rows — None means
    * GENUINELY empty. A whole-dir swap by a concurrent [[registerQueries]]
    * makes the dir transiently absent between its two renames; reading
    * that window as "all queries removed" would make [[emitAlerts]]
    * silently (and, once the checkpoint commits, permanently) emit no
    * alerts for the batch. The `.old` the writer set aside is the
    * distinguishing evidence — retry while it exists (recover() heals it
    * on the next pass), and fail loudly rather than return a lie if it
    * somehow persists. */
  private def registryRows(spark: SparkSession,
                           pipelineRoot: String): Option[DataFrame] = {
    val dir = registryDir(pipelineRoot)
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    var attempt = 0
    while (attempt < 50) {
      StateStore.recover(spark, dir)
      if (StateStore.nonEmpty(spark, dir)) return Some(spark.read.parquet(dir))
      if (!fs.exists(new Path(dir + ".old"))) return None
      attempt += 1
      Thread.sleep(20)
    }
    throw new IllegalStateException(
      s"registry at $dir stuck mid-swap (.old present but never promoted)")
  }

  /** How many standing queries the registry holds, from the registry
    * frame — the strategy-dispatch input, never a driver materialization. */
  private def registrySize(reg: DataFrame): Long =
    reg.select("query_id").distinct().count()

  /** Above this many standing queries, [[emitAlerts]] switches from the
    * compiled-projection strategy (one boolean column per query in the
    * batch plan) to the broadcast-join strategy
    * ([[graft.operators.Percolate.matchesBoolFrame]]): a compiled plan
    * grows with the registry and would make one oversized registration
    * degrade every subsequent batch, while the join form treats the
    * registry as data. */
  private[graft] val CompiledRegistryMax: Long = 512L

  private def queriesFromRows(reg: DataFrame): Seq[Percolate.StoredQuery] =
    Percolate.fromRoleRows(reg.collect().toSeq
      .map(r => (r.getAs[String]("query_id"), r.getAs[String]("term"),
        r.getAs[String]("role"))))

  /** The registered standing queries — driver-side, for inspection and
    * the compiled match path (which must fit one plan anyway; see
    * [[graft.operators.Percolate.matchesCompiled]]'s size guidance). */
  def registry(spark: SparkSession,
               pipelineRoot: String): Seq[Percolate.StoredQuery] =
    registryRows(spark, pipelineRoot).map(queriesFromRows).getOrElse(Seq.empty)

  /** Every durable alert — (rowkey, query_id, batch_id): which admitted
    * put matched which standing query, in which batch. Alerts are the
    * pipeline's OUTBOX: a consumer drains by batch id high-water mark;
    * [[gcAlerts]] applies the same horizon retention as the admission
    * log. Empty (with schema) when nothing has matched. */
  def alerts(spark: SparkSession, pipelineRoot: String): DataFrame = {
    import spark.implicits._
    val root = alertsRoot(pipelineRoot)
    val dirs = StateStore.liveBuckets(spark, root, prefix = "batch=")
    if (dirs.isEmpty)
      return Seq.empty[(String, String, Long)]
        .toDF("rowkey", "query_id", "batch_id")
    // ONE partition-discovery read over the live dirs (basePath makes
    // `batch` a partition column) — a per-dir union would build an
    // N-node plan and pay one listing per outbox dir, which between
    // maintenance GCs is thousands. The schema is declared, not
    // inferred: a stretch of hit-less batches leaves dirs with no data
    // files, and inference over only those would fail the read.
    val sch = StructType(Seq(StructField("rowkey", StringType),
      StructField("query_id", StringType), StructField("batch", LongType)))
    spark.read.option("basePath", root).schema(sch)
      .parquet(dirs.map(d => s"$root/$d"): _*)
      .select(col("rowkey"), col("query_id"), col("batch").as("batch_id"))
  }

  /** Drop alert batch dirs behind the consumer's high-water mark — the
    * outbox drain (bootstrap alerts, like the bootstrap admission entry,
    * are initial-load provenance and survive). */
  def gcAlerts(spark: SparkSession, pipelineRoot: String,
               horizonBatchId: Long): Unit = {
    val root = alertsRoot(pipelineRoot)
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(rootPath)) return
    dropDirs(spark, root, StateStore.liveBuckets(spark, root, prefix = "batch=")
      .filter { d =>
        val id = d.stripPrefix("batch=").toLong
        id != BootstrapBatchId && id < horizonBatchId
      })
  }

  /** Match this batch's admitted puts against the registry and commit the
    * hits under the batch's alert dir — compiled percolation (stateless,
    * no shuffle), latest-event-per-rowkey so a put superseded inside its
    * own batch never alerts. Replay-idempotent: the same gated batch
    * produces the same hits, and the per-batch commit overwrites. A
    * delete-only batch (forget) or an empty registry writes nothing. */
  private def emitAlerts(spark: SparkSession, gated: DataFrame,
                         pipelineRoot: String, batchId: Long,
                         tokenize: Column => Column): Unit = {
    // the registry parquet is read ONCE per batch: cached for the
    // dispatch count + whatever the chosen strategy derives from it
    // (the compiled path then collects a single time and reuses the
    // collected rows for both the query plan and its range-field list,
    // so the ingest hot path pays one scan + at most one collect, not a
    // job per derived piece)
    val regDf = registryRows(spark, pipelineRoot).map(_.cache()).orNull
    try {
      val nQueries = if (regDf == null) 0L else registrySize(regDf)
      if (nQueries == 0L) {
        // replay reconciliation: a batch replayed AFTER every standing
        // query was removed must clear the alerts its first run committed
        // — skipping would leave the outbox advertising hits for queries
        // that no longer exist (a nonempty registry overwrites instead)
        // (a commit that writes nothing removes the dir, after healing
        // a `<dir>.old` a swap interrupted on the FIRST run left behind)
        val dir = alertDir(pipelineRoot, batchId)
        val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
        if (fs.exists(new Path(dir)) || fs.exists(new Path(dir + ".old")))
          StateStore.commit(spark, dir)(_ => ())
        return
      }
      // percolation tokenizes with the SAME function this very batch's
      // postings merge indexes with (passed down from mergeAll, where the
      // marker check already pins it to the root) — reading the marker
      // here instead would race the concurrent postings merge that writes
      // it on a fresh root, and would silently fall back to whitespace
      // for a custom tokenizer run without a tokenizerName.
      // Strategy dispatch on registry size: small registries compile into
      // the batch plan (stateless, shuffle-free); past CompiledRegistryMax
      // the registry joins as data, so one oversized registration can
      // never degrade every subsequent batch with an unbounded projection.
      // Registered range predicates read numeric CHANGELOG columns beside
      // the text — those fields ride the percolated frame (and fail
      // loudly when the batch does not carry them, rather than silently
      // never alerting); the field list is registry metadata.
      val (matchedOf, rangeFields) =
        if (nQueries <= CompiledRegistryMax) {
          val qs = queriesFromRows(regDf)
          ((docs: DataFrame) =>
            Percolate.matchesCompiledBool(docs, qs, tokenize),
            qs.flatMap(_.range).map(_.field).distinct)
        } else {
          val fields = regDf.filter(col("role") === "range")
            .select(split(col("term"), ":", 3).getItem(0).as("f"))
            .distinct().collect().map(_.getString(0)).toSeq
          ((docs: DataFrame) =>
            Percolate.matchesBoolFrame(docs, regDf, tokenize), fields)
        }
      val docs = IncrementalIndex.compact(
          gated.select((TextCols ++ rangeFields).distinct.map(col): _*))
        .select(col("rowkey").as("doc_id") +: col("text") +:
          rangeFields.map(col): _*)
      val hits = matchedOf(docs)
        .select(col("doc_id").as("rowkey"), col("query_id"))
      StateStore.commit(spark, alertDir(pipelineRoot, batchId)) { tmp =>
        hits.write.parquet(tmp)
      }
    } finally if (regDf != null) regDf.unpersist(): Unit
  }

  /** The columns every maintained TEXT state consumes. The pipeline
    * projects the gated batch to these before the postings/shingle merges,
    * so payload columns (the vector, multimodal blobs) never bloat the
    * text-index state — only the row state keeps the full document
    * record. */
  private val TextCols = Seq("rowkey", "event_id", "op", "text")
  private def admissionsRoot(pipelineRoot: String): String = s"$pipelineRoot/admissions"
  private def admissionDir(pipelineRoot: String, batchId: Long): String =
    s"${admissionsRoot(pipelineRoot)}/batch=$batchId"

  private val decisionSchema = StructType(Seq(
    StructField("rowkey", StringType),
    StructField("verdict", StringType),
    StructField("dup_of", StringType),
    StructField("batch_id", LongType)))

  /** The batch's admission decisions, decided at most once: a logged
    * batch id returns its committed verdicts untouched (replay); a new
    * one decides — quality first, then the dedup gate against the
    * CURRENT shingle state — and commits the verdicts atomically before
    * returning. The returned frame always reads from the log — the
    * decision a merge acts on is by construction the decision that
    * survives a crash.
    *
    * `admitIf` is the QUALITY gate: a boolean expression over the
    * batch's columns (length floors, stopword ratios — the
    * `TextAnalysis` quality family as a predicate), evaluated on each
    * rowkey's LATEST put (same granularity as the dedup gate). Rejects
    * get verdict `quality_reject` and never reach the dedup probe — the
    * cheap pure-function filter runs before the stateful one.
    *
    * `semanticThreshold` arms the SEMANTIC gate ([[semanticDrops]]): puts
    * that survived quality and text dedup are additionally probed by
    * embedding cosine — against the maintained vector index and within
    * the batch — and matches ≥ the threshold get verdict `semantic_dup`.
    * It runs LAST because it is the most expensive and the most
    * approximate of the three filters.
    *
    * A text `threshold` above 1.0 DISABLES the text dedup pass (Jaccard
    * never exceeds 1, so nothing could trip it) — and the gate skips the
    * shingle probe entirely instead of running a corpus-sized sketch
    * pass that drops nothing: the semantic-only configuration
    * ([[bootstrap]]'s embedding-corpus case) pays only for the gate it
    * armed. */
  private[graft] def decideAndLog(spark: SparkSession, batch: DataFrame,
                                  pipelineRoot: String, batchId: Long,
                                  threshold: Double,
                                  scheme: IncrementalShingles.SketchScheme,
                                  admitIf: Option[Column],
                                  semanticThreshold: Option[Double] = None,
                                  semanticProbes: Int = 2,
                                  gateMaxCandidates: Int = 0,
                                  clock: PhaseClock = new PhaseClock): DataFrame = {
    val dir = admissionDir(pipelineRoot, batchId)
    if (!StateStore.nonEmpty(spark, dir)) {
      // threshold > 1.0: text gate disarmed — every put rowkey is
      // text-admitted without probing the shingle state
      def textGate(b: DataFrame): DataFrame =
        if (threshold > 1.0)
          b.filter(col("op") =!= "delete").select("rowkey").distinct()
            .select(col("rowkey"), lit("admitted").as("verdict"),
              lit(null).cast("string").as("dup_of"))
        else IncrementalShingles.gateDecisions(
          spark, shingleRoot(pipelineRoot), b, threshold, scheme,
          gateMaxCandidates, clock)
      val textDecisions = admitIf match {
        case None => textGate(batch)
        case Some(pred) =>
          val rest = batch.columns.filter(_ != "rowkey").toIndexedSeq
          val latest = batch.filter(col("op") =!= "delete")
            .groupBy("rowkey")
            .agg(max_by(struct(rest.map(col): _*), col("event_id")).as("e"))
            .select(col("rowkey") +: rest.map(c => col(s"e.$c").as(c)): _*)
          val rejected = latest.filter(!coalesce(pred, lit(false)))
            .select(col("rowkey"),
              lit("quality_reject").as("verdict"),
              lit(null).cast("string").as("dup_of")).localCheckpoint()
          val surviving = batch.filter(col("op") === "delete")
            .unionByName(batch.filter(col("op") =!= "delete")
              .join(rejected.select("rowkey"), Seq("rowkey"), "left_anti"))
          textGate(surviving).unionByName(rejected)
      }
      val decisions = semanticThreshold match {
        case Some(t) if batch.columns.contains("embedding") =>
          val admitted = textDecisions.filter(col("verdict") === "admitted")
            .select("rowkey")
          val latestVec = batch
            .filter(col("op") =!= "delete" && col("embedding").isNotNull)
            .groupBy("rowkey")
            .agg(max_by(col("embedding"), col("event_id")).as("embedding"))
            .join(admitted, "rowkey")
          val drops = semanticDrops(spark, vectorsRoot(pipelineRoot),
            latestVec, t, semanticProbes)
          textDecisions
            .join(drops.withColumnRenamed("dup_of", "sem_dup_of"),
              Seq("rowkey"), "left_outer")
            .select(col("rowkey"),
              when(col("sem_dup_of").isNotNull, lit("semantic_dup"))
                .otherwise(col("verdict")).as("verdict"),
              coalesce(col("sem_dup_of"), col("dup_of")).as("dup_of"))
        case _ => textDecisions
      }
      // the durable verdict commit — with the gate's upstream frames
      // checkpointed (gateDecisions), this phase is the parquet write +
      // swap plus the final decisions join; the armed semantic gate's
      // probe (bench legs run text-only) also executes here
      clock.time("log_commit")(
        StateStore.commit(spark, dir)(tmp =>
          decisions.withColumn("batch_id", lit(batchId)).write.parquet(tmp)))
    }
    spark.read.schema(decisionSchema).parquet(dir)
  }

  /** Decimal-rowkey → vec_id, failing loudly on any key that is not the
    * CANONICAL decimal form of a long — not just non-numeric keys. A
    * non-canonical decimal ('01', ' 1', '+1') casts to the same long as
    * '1', so accepting it would (a) collapse two distinct rowkeys onto
    * one vec_id — one doc's upsert/delete silently clobbering the
    * other's vector while both live in the row state — and (b) break the
    * semantic gate's verdict join, which casts the vec_id BACK to string
    * to meet the text decisions' rowkey ('1' never joins '01', so the
    * semantic_dup verdict would be silently lost and the doc admitted).
    * The round-trip check `string(long(rowkey)) == rowkey` admits exactly
    * the canonical forms. */
  private def asVecId: Column =
    when(col("rowkey").cast("long").isNull ||
        col("rowkey").cast("long").cast("string") =!= col("rowkey"),
      raise_error(concat(
        lit("non-canonical rowkey in vector changelog (need the canonical "),
        lit("decimal form of a long): '"), col("rowkey"), lit("'"))))
      .otherwise(col("rowkey").cast("long"))

  /** Rowkeys to drop as SEMANTIC duplicates — the embedding-cosine gate
    * (the online form of the batch family's `q_embed_lsh_dup`; the check
    * published corpus builds run as "SemDeDup"): a put whose embedding
    * matches stored or co-arriving content at ≥ `threshold` cosine is a
    * duplicate even when its TEXT passed the shingle gate (paraphrases,
    * translations, re-renders). Two passes, mirroring the text gate:
    *
    *   1. AGAINST THE MAINTAINED INDEX: one [[IvfIndex.searchBatch]] over
    *      the batch's embeddings (k=2 so a vector's own stored copy can
    *      be skipped), self-matches exempt (an update must not be gated
    *      out by its own previous embedding), best match per query
    *      deterministically chosen (highest cosine, smallest id on ties);
    *   2. WITHIN THE BATCH: sign-LSH-bucketed pair join among the pass-1
    *      survivors (O(Σ bucket²), never all-pairs), the NOVEL member of
    *      each ≥-threshold pair dropped (the larger-keyed one when both
    *      are novel; a vector already in the index is an update and is
    *      never sacrificed for a novel arrival — the text gate's exact
    *      rule, with "novel" answered by the id sidecar,
    *      [[IvfIndex.existingIds]]).
    *
    * Both passes are approximate BY DESIGN — probed search can miss a
    * far-cell match and LSH blocking a cross-bucket pair; `probes` tunes
    * the recall/cost trade. Per-batch I/O: ≤ probes×|batch| cells (union
    * bounded by nlist) + the batch's id buckets + a batch-sized pair
    * join. Returns (rowkey, dup_of). */
  private def semanticDrops(spark: SparkSession, vroot: String,
                            latestVec: DataFrame, threshold: Double,
                            probes: Int): DataFrame = {
    import graft.operators.IvfIndex
    val ids = latestVec.select(asVecId.as("vec_id"), col("embedding"))
      .localCheckpoint() // feeds the existence probe, the search, and the pair join
    val hasIndex = IvfIndex.exists(spark, vroot) &&
      StateStore.liveBuckets(spark, vroot + "/vectors", "cell=").nonEmpty
    val none = ids.select(col("vec_id"), col("vec_id").as("dup_vec")).limit(0)
    val stateDups =
      if (!hasIndex) none
      else IvfIndex.searchBatch(spark, vroot,
          ids.select(col("vec_id").as("qid"), col("embedding").as("qv")),
          k = 2, probes = probes)
        .filter(col("vec_id") =!= col("qid") && col("sim") >= threshold)
        .groupBy("qid")
        .agg(min_by(col("vec_id"), struct(-col("sim"), col("vec_id"))).as("dup_vec"))
        .select(col("qid").as("vec_id"), col("dup_vec"))
    val sd = stateDups.localCheckpoint() // survivors and the union both read it
    val surv = ids.join(sd, Seq("vec_id"), "left_anti")
    val indexed =
      if (!hasIndex) none.select("vec_id")
      else IvfIndex.existingIds(spark, vroot, surv.select("vec_id"))
    val e = surv
      .select(col("vec_id"), col("embedding"),
        graft.operators.Vectors.signBucket("embedding").as("bucket"))
      .join(indexed.withColumn("exists", lit(true)), Seq("vec_id"), "left_outer")
      .select(col("vec_id"), col("embedding"), col("bucket"),
        coalesce(col("exists"), lit(false)).as("exists"))
    val pairs = e.as("a").join(e.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos",
        graft.functions.VecDotFloat.vec_dot(col("a.embedding"), col("b.embedding")))
      .filter(col("cos") >= threshold)
      .select(col("a.vec_id").as("da"), col("b.vec_id").as("db"),
        col("a.exists").as("ea"), col("b.exists").as("eb"))
    val batchDrops = pairs.filter(!col("eb"))
      .select(col("db").as("vec_id"), col("da").as("dup_vec"))
      .unionByName(pairs.filter(!col("ea") && col("eb"))
        .select(col("da").as("vec_id"), col("db").as("dup_vec")))
      .groupBy("vec_id").agg(min(col("dup_vec")).as("dup_vec"))
    sd.unionByName(batchDrops)
      .select(col("vec_id").cast("string").as("rowkey"),
        col("dup_vec").cast("string").as("dup_of"))
  }

  /** Fold one changelog micro-batch (rowkey STRING, event_id LONG, op
    * put|delete, text STRING, and optionally embedding ARRAY<FLOAT>)
    * through the gate into every maintained state. Safe to replay with
    * the same `batchId`: the logged decisions are reused and every merge
    * is idempotent. When the batch carries an `embedding` column, the
    * pipeline also keeps an IVF vector index current under
    * [[vectorsRoot]] — admitted puts upsert, deletes remove
    * ([[mergeVectors]]) — so similarity search stays coherent with the
    * text surfaces from the same admission decision. The changelog schema
    * must be stable across batches for one pipeline root (the row state
    * stores the full record). The merges run concurrently in any
    * completion order ([[mergeAll]]) — but all of them, including the
    * shingle state the NEXT batch's gate reads (and whose merge triggers
    * the session-artifact invalidation for registered scopes), have
    * completed before this method returns. */
  def applyBatch(spark: SparkSession, batch: DataFrame, pipelineRoot: String,
                 batchId: Long, threshold: Double = 0.8,
                 numBuckets: Int = IncrementalIndex.DefaultBuckets,
                 tokenize: Column => Column = split(_, " "),
                 scheme: IncrementalShingles.SketchScheme =
                   IncrementalShingles.WordShingles,
                 admitIf: Option[Column] = None,
                 annNlist: Int = 16, annIters: Int = 5,
                 semanticThreshold: Option[Double] = None,
                 semanticProbes: Int = 2,
                 tokenizerName: Option[String] = None,
                 textTransform: Option[Column => Column] = None,
                 gateMaxCandidates: Int = 0): Unit = {
    applyBatchPhased(spark, batch, pipelineRoot, batchId, threshold, numBuckets,
      tokenize, scheme, admitIf, annNlist, annIters, semanticThreshold,
      semanticProbes, tokenizerName, textTransform, gateMaxCandidates): Unit
  }

  /** [[applyBatch]] returning (gateSeconds, mergeSeconds, gatePhases) —
    * the per-batch cost split between the admission decision (probe +
    * durable log commit) and the state merges, with the gate's wall time
    * further attributed to its sub-phases via [[PhaseClock]]: `sketch` /
    * `probe` / `score` ([[IncrementalShingles.gateDecisions]]) and
    * `log_commit` (the durable verdict write).
    * A replayed batch (decisions already logged) reports an empty/zero
    * phase list — the gate re-reads the log, it does not re-decide. */
  private[graft] def applyBatchPhased(spark: SparkSession, rawBatch: DataFrame,
                 pipelineRoot: String, batchId: Long, threshold: Double = 0.8,
                 numBuckets: Int = IncrementalIndex.DefaultBuckets,
                 tokenize: Column => Column = split(_, " "),
                 scheme: IncrementalShingles.SketchScheme =
                   IncrementalShingles.WordShingles,
                 admitIf: Option[Column] = None,
                 annNlist: Int = 16, annIters: Int = 5,
                 semanticThreshold: Option[Double] = None,
                 semanticProbes: Int = 2,
                 tokenizerName: Option[String] = None,
                 textTransform: Option[Column => Column] = None,
                 gateMaxCandidates: Int = 0): (Double, Double, Seq[(String, Double)]) = {
    val t0 = System.nanoTime()
    // the text transform (PII redaction, normalization) runs FIRST —
    // before the gate sees the batch — so raw text never reaches the
    // admission log's dup keys, any maintained state, or the alert
    // percolation. A replayed batch re-applies the same deterministic
    // transform, so decision reuse stays coherent.
    val batch = textTransform.fold(rawBatch)(f =>
      rawBatch.withColumn("text", f(col("text"))))
    // the root's own `_nbuckets` marker is authoritative for an EXISTING
    // pipeline — the parameter seeds a fresh root. This is what lets a
    // maintenance-slot rescale change the layout under a RUNNING stream:
    // the next batch follows the marker instead of failing the merge's
    // count check against the start()-time parameter.
    val effBuckets = StateStore.bucketCount(spark, stateRoot(pipelineRoot))
      .getOrElse(numBuckets)
    val clock = new PhaseClock
    val decisions = decideAndLog(spark, batch, pipelineRoot, batchId, threshold,
      scheme, admitIf, semanticThreshold, semanticProbes, gateMaxCandidates,
      clock)
    val t1 = System.nanoTime()
    mergeAll(spark, batch, decisions, pipelineRoot, effBuckets, tokenize,
      scheme, annNlist, annIters, tokenizerName, Some(batchId))
    ((t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9, clock.phases)
  }

  /** The merge half of [[applyBatch]] (shared with [[bootstrap]]): apply
    * a committed decisions frame to the batch and advance every
    * maintained state.
    *
    * The four merges run CONCURRENTLY: they touch disjoint state roots,
    * and under a durably-logged admitted set every one is idempotent —
    * so any completion order, including a crash that lands an arbitrary
    * subset, replays to the same final states (the existing
    * crash-between-merges spec's argument, which never depended on
    * sequencing). Measured NEUTRAL on a small local box (the merges
    * CPU-saturate the executor threads, so overlap reallocates rather
    * than adds throughput — 56.9 vs 56.4 docs/s at local[8]); the win
    * this exists for is cluster-scale slot utilization, where each
    * merge's per-bucket jobs occupy |touched buckets| tasks and running
    * them one at a time would leave most of a 1000-slot cluster idle
    * between stages. The one ordering that matters — the NEXT batch's
    * gate must read a fully-merged shingle state — is preserved because
    * this method joins every merge before returning. Each merge runs
    * under the caller's Spark local properties (job group, description,
    * scheduler pool), snapshotted at submit: a pool thread otherwise
    * keeps the properties of whichever thread first started it. */
  private def mergeAll(spark: SparkSession, batch: DataFrame,
                       decisions: DataFrame, pipelineRoot: String,
                       numBuckets: Int, tokenize: Column => Column,
                       scheme: IncrementalShingles.SketchScheme,
                       annNlist: Int, annIters: Int,
                       tokenizerName: Option[String] = None,
                       batchId: Option[Long] = None): Unit = {
    // checkpointed: every merge reads the gated batch; without it each
    // would re-run the semi-join (and re-read the source batch)
    val gated = IncrementalShingles.gatedBatch(batch, decisions).localCheckpoint()
    val gatedText = gated.select(TextCols.map(col): _*)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val props = Bridge.localProperties(spark)
    // fatal throwables (OOM, stack overflow) never complete a Future's
    // promise — an unwrapped one would hang the Await below forever
    // instead of failing the batch; wrap them so they propagate
    def merge(f: => Unit): Future[Unit] = Future {
      try Bridge.withLocalProperties(spark, props)(f) catch {
        case t: Throwable if !scala.util.control.NonFatal(t) =>
          throw new RuntimeException("fatal error in state merge", t)
      }
    }
    val merges = Seq(
      merge(IncrementalIndex.mergeBatch(spark, gated,
        stateRoot(pipelineRoot), numBuckets,
        pipelineRollup(spark, pipelineRoot))),
      merge(IncrementalPostings.mergeBatch(spark, gatedText,
        postingsRoot(pipelineRoot), tokenize, numBuckets, tokenizerName)),
      merge(IncrementalShingles.mergeBatch(spark, gatedText,
        shingleRoot(pipelineRoot), numBuckets, scheme))) ++
      // standing-query alerting shares the batch pass: hits commit to the
      // per-batch alert dir beside the state merges (disjoint root, same
      // idempotent-replay argument). Forget passes no id — a takedown's
      // delete-only batch has nothing to alert on.
      batchId.map(id =>
        merge(emitAlerts(spark, gated, pipelineRoot, id, tokenize))).toSeq ++
      (if (gated.columns.contains("embedding"))
        Seq(merge(mergeVectors(spark, gated, vectorsRoot(pipelineRoot),
          annNlist, annIters)))
      else Nil)
    // surface the FIRST failure but only after every merge has stopped
    // touching its state (never abandon a merge mid-write to throw)
    val outcomes = merges.map(f => Await.ready(f, Duration.Inf).value.get)
    outcomes.collectFirst { case scala.util.Failure(e) => throw e }: Unit
  }

  /** Fold the gated batch's vector column into the IVF index: the LATEST
    * event per rowkey decides (same granularity as every other merge) —
    * deletes leave the index and puts with a non-null embedding upsert
    * against the trained quantizer, in one [[IvfIndex.applyChanges]]
    * pass. The first non-empty admitted batch TRAINS the index
    * ([[IvfIndex.build]] — at scale, pre-build from a hash-sample instead
    * and let the stream take over). Replay converges from any crash
    * point: a half-built index (committed centroids, missing vectors) is
    * completed by the pass against the same trained centroids, and the
    * pass is idempotent under a fixed admitted set. Rowkeys must be
    * decimal vec_id strings — the vector family's numeric-id contract;
    * non-decimal keys fail loudly rather than silently collapsing into
    * one null id.
    *
    * One crash shape needs an explicit repair rather than dispatch: a
    * crash inside [[graft.operators.IvfIndex.build]] between the vectors
    * write and the ids write leaves centroids+vectors with no id map.
    * On replay `exists()` is true, so the change pass would run — and
    * it fails loudly on the missing map ("rebuild it with
    * IvfIndex.build"), wedging the stream until manual repair. Since
    * `build` only ever runs on the FIRST non-empty admitted batch, every
    * vector in the torn index came from THIS logged batch — re-running
    * `build` from the replayed admitted set reproduces it completely. */
  private def mergeVectors(spark: SparkSession, gated: DataFrame, vroot: String,
                           nlist: Int, iters: Int): Unit = {
    val latest = IncrementalIndex.compactAll(
      gated.select("rowkey", "event_id", "op", "embedding"))
    val puts = latest.filter(col("op") =!= "delete" && col("embedding").isNotNull)
      .select(asVecId.as("vec_id"), col("embedding"))
    val exists = graft.operators.IvfIndex.exists(spark, vroot)
    val torn = exists &&
      StateStore.liveBuckets(spark, vroot + "/ids").isEmpty &&
      StateStore.liveBuckets(spark, vroot + "/vectors", "cell=").nonEmpty
    if (!exists || torn) {
      if (!puts.isEmpty) graft.operators.IvfIndex.build(puts, vroot, nlist, iters)
      // deletes against a not-yet-built index are no-ops by definition
    } else {
      // one pass: the latest event per rowkey decides, so no vec_id is
      // both a put and a delete here
      val dels = latest.filter(col("op") === "delete").select(asVecId.as("vec_id"))
      graft.operators.IvfIndex.applyChanges(spark, vroot, puts, dels)
    }
  }

  /** Every logged admission decision — (rowkey, verdict, dup_of,
    * batch_id), the ingest's provenance record: what arrived, what was
    * dropped, and what each drop lost to. Schema-stable from the first
    * batch on; empty (with schema) for a fresh root. */
  def admissionLog(spark: SparkSession, pipelineRoot: String): DataFrame = {
    val root = admissionsRoot(pipelineRoot)
    val dirs = StateStore.liveBuckets(spark, root, prefix = "batch=") ++
      StateStore.liveBuckets(spark, root, prefix = "batches=")
    val decisions =
      if (dirs.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], decisionSchema)
      else
        // distinct: a crash between a compaction's swap and its source
        // deletes can leave a batch's rows in both a range dir and its
        // original dir — decisions are deterministic per (rowkey, batch),
        // so the duplicates are exact and distinct() restores the truth
        spark.read.schema(decisionSchema).parquet(dirs.map(d => s"$root/$d"): _*)
          .distinct()
    // [[forget]] takedowns are part of the same provenance record: each
    // forget=<id> dir surfaces as verdict `forgotten` under batch_id=<id>
    // (written once, atomically — no distinct needed)
    StateStore.liveBuckets(spark, root, prefix = "forget=")
      .foldLeft(decisions) { (acc, d) =>
        val id = d.stripPrefix("forget=").toLong
        acc.unionByName(spark.read.schema(forgetSchema).parquet(s"$root/$d")
          .select(col("rowkey"), lit("forgotten").as("verdict"),
            lit(null).cast("string").as("dup_of"),
            lit(id).as("batch_id")))
      }
  }

  /** Drop admission-log entries for batches the stream's checkpoint can no
    * longer replay (`batchId < horizonBatchId`) — the same retention
    * discipline as tombstone GC: a log entry must outlive every replay
    * that could consult it, and no longer. The [[bootstrap]] entry
    * ([[BootstrapBatchId]], below every stream id) is always kept: it is
    * tiny (one row per corpus rowkey gated), it is the resume record of
    * a bootstrap that may have crashed mid-merge — GC'ing it would turn
    * that crash from resumable into stuck — and afterwards it is the
    * corpus's initial-load provenance. */
  def gcAdmissions(spark: SparkSession, pipelineRoot: String,
                   horizonBatchId: Long): Unit = {
    val root = admissionsRoot(pipelineRoot)
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(rootPath)) return
    dropDirs(spark, root, StateStore.liveBuckets(spark, root, prefix = "batch=")
      .filter { d =>
        val id = d.stripPrefix("batch=").toLong
        id != BootstrapBatchId && id < horizonBatchId
      })
    // compacted range dirs wholly below the horizon go too — GC is the
    // operator's explicit provenance-deletion choice
    dropDirs(spark, root, StateStore.liveBuckets(spark, root, prefix = "batches=")
      .filter(d => rangeSpan(d).exists(_._2 < horizonBatchId)))
  }

  private def rangeSpan(dirName: String): Option[(Long, Long)] =
    dirName.stripPrefix("batches=").split("-", 2) match {
      case Array(lo, hi) =>
        scala.util.Try((lo.toLong, hi.toLong)).toOption
      case _ => None
    }

  /** Compact the admission log's per-batch directories behind the replay
    * horizon into ONE range directory `batches=<lo>-<hi>` — the listing-
    * bound fix for a log that otherwise accumulates one directory per
    * micro-batch forever (at a 30 s trigger, ~2900/day): after
    * compaction the listing is O(live batches + 1), while every verdict
    * row SURVIVES — the log is the pipeline's provenance record, and
    * provenance-deletion is [[gcAdmissions]]'s explicit, separate call.
    *
    * Only batches the stream can no longer replay (`id < horizonBatchId`)
    * are folded in: a replayable batch's per-directory lookup
    * (`decideAndLog`'s decide-once-durably read) must keep finding its
    * own directory. The [[bootstrap]] entry stays in place for the same
    * reason it survives GC. Existing range dirs are folded into the new
    * one (the invariant is a single range dir, spanning min..max), the
    * combined dir commits under the standard atomic swap, and only then
    * are the sources deleted — a crash between swap and deletes leaves
    * exact-duplicate rows that [[admissionLog]]'s distinct() suppresses,
    * and a re-run converges. */
  def compactAdmissions(spark: SparkSession, pipelineRoot: String,
                        horizonBatchId: Long): Unit = {
    val root = admissionsRoot(pipelineRoot)
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(rootPath)) return
    val batchDirs = StateStore.liveBuckets(spark, root, prefix = "batch=")
      .filter { d =>
        val id = d.stripPrefix("batch=").toLong
        id != BootstrapBatchId && id < horizonBatchId
      }
    if (batchDirs.isEmpty) return // nothing newly behind the horizon
    val rangeDirs = StateStore.liveBuckets(spark, root, prefix = "batches=")
    val ids = batchDirs.map(_.stripPrefix("batch=").toLong)
    val spans = rangeDirs.flatMap(rangeSpan)
    val lo = (ids ++ spans.map(_._1)).min
    val hi = (ids ++ spans.map(_._2)).max
    val target = s"batches=$lo-$hi"
    val combined = spark.read.schema(decisionSchema)
      .parquet((batchDirs ++ rangeDirs).map(d => s"$root/$d"): _*)
      .distinct()
      .coalesce(1) // one small audit file per compaction epoch
      .cache()
    combined.count() // decouple from the source dirs before any delete/swap
    try StateStore.commit(spark, s"$root/$target")(tmp =>
      combined.write.parquet(tmp))
    finally combined.unpersist(): Unit
    dropDirs(spark, root, batchDirs ++ rangeDirs.filterNot(_ == target))
  }

  /** The reserved batch id under which [[bootstrap]] logs its admission
    * decisions: below every streaming batch id, so a stream started after
    * the bootstrap can never collide with (and wrongly replay) them. */
  val BootstrapBatchId: Long = -1L

  /** What [[bootstrap]] did: corpus rowkeys seen, admitted, dropped. */
  final case class BootstrapReport(docs: Long, admitted: Long, dropped: Long)

  /** INITIAL LOAD — the bulk path a 100 TB corpus takes into the
    * pipeline. Feeding history through [[applyBatch]] would pay, per
    * micro-batch, a state probe plus a read-and-rewrite of every touched
    * bucket — O(batches × state) total write volume. `bootstrap` instead
    * merges the whole corpus in ONE pass per state (every merge against
    * an empty root is a pure partitioned write), trains the vector
    * quantizer on the FULL admitted corpus (a stream's first-batch
    * training sees only that batch's distribution), and then hands off:
    * start the stream with a fresh checkpoint and the gate reads the
    * bootstrapped state like any other.
    *
    * `dedupWithin` arms the intra-corpus near-dup gate (the batch
    * family's exact pair machinery via [[IncrementalShingles
    * .gateDecisions]] — against an empty state the state pass is a
    * no-op, so the whole gate is the offline corpus-dedup job);
    * `semanticThreshold` arms the intra-corpus SEMANTIC gate (the
    * embedding-cosine pass [[applyBatch]] runs — no vector state exists
    * yet at bootstrap, so it is exactly the sign-LSH-blocked intra-batch
    * pair pass over the whole corpus), so "bulk then stream" admits the
    * same set as "stream from the start" for embedding corpora too, not
    * just for the text gate. Leaving both `None` admits everything —
    * the curated-corpus case. Either way the
    * decisions are committed to the admission log under
    * [[BootstrapBatchId]] BEFORE any merge — the same
    * decide-once-durably contract as the stream, so a crashed bootstrap
    * re-run resumes with the logged decisions and idempotent merges
    * converge. A re-run is only accepted as a RESUME (its log entry
    * exists); bootstrapping over an already-populated pipeline fails
    * loudly instead of silently double-merging. [[gcAdmissions]] never
    * drops the bootstrap entry: it is the crashed-bootstrap resume
    * record and, afterwards, the corpus's initial-load provenance. */
  def bootstrap(spark: SparkSession, rawCorpus: DataFrame, pipelineRoot: String,
                dedupWithin: Option[Double] = None,
                numBuckets: Int = IncrementalIndex.DefaultBuckets,
                tokenize: Column => Column = split(_, " "),
                scheme: IncrementalShingles.SketchScheme =
                  IncrementalShingles.WordShingles,
                annNlist: Int = 16, annIters: Int = 5,
                tokenizerName: Option[String] = None,
                semanticThreshold: Option[Double] = None,
                semanticProbes: Int = 2,
                textTransform: Option[Column => Column] = None): BootstrapReport = {
    // same pre-gate transform seam as applyBatch: the initial load must
    // scrub exactly like the stream, or the bootstrapped states would
    // carry raw PII the streamed ones never see
    val corpus = textTransform.fold(rawCorpus)(f =>
      rawCorpus.withColumn("text", f(col("text"))))
    // bootstrap is a writer on every state at once — claim the root so a
    // prematurely-started stream (or a second bootstrap) fences out
    val fence = WriterFence.claim(spark, pipelineRoot)
    val dir = admissionDir(pipelineRoot, BootstrapBatchId)
    if (!StateStore.nonEmpty(spark, dir)) {
      // fresh bootstrap: every state must be empty — merging a corpus
      // into live state is applyBatch's job, and doing it here would
      // bypass the gate the stream's documents went through
      val populated = Seq(
        stateRoot(pipelineRoot), postingsRoot(pipelineRoot) + "/docs",
        shingleRoot(pipelineRoot) + "/docs")
        .filter(r => StateStore.liveBuckets(spark, r).nonEmpty)
      if (populated.nonEmpty || graft.operators.IvfIndex.exists(spark,
          vectorsRoot(pipelineRoot)))
        throw new IllegalStateException(
          s"bootstrap requires an empty pipeline root; found live state " +
            s"under $pipelineRoot — use applyBatch for incremental loads")
    }
    val decisions = (dedupWithin, semanticThreshold) match {
      case (t, st) if t.isDefined || st.isDefined =>
        // 2.0 > any Jaccard: disarms the text pass when only the
        // semantic gate was requested (decideAndLog's fast path)
        decideAndLog(spark, corpus, pipelineRoot, BootstrapBatchId,
          t.getOrElse(2.0), scheme, admitIf = None, st, semanticProbes)
      case _ =>
        if (!StateStore.nonEmpty(spark, dir)) {
          val all = corpus.filter(col("op") =!= "delete")
            .select("rowkey").distinct()
            .select(col("rowkey"), lit("admitted").as("verdict"),
              lit(null).cast("string").as("dup_of"),
              lit(BootstrapBatchId).as("batch_id"))
          StateStore.commit(spark, dir)(tmp => all.write.parquet(tmp))
        }
        spark.read.schema(decisionSchema).parquet(dir)
    }
    fence.check(spark) // last look before the merges start
    mergeAll(spark, corpus, decisions, pipelineRoot, numBuckets, tokenize,
      scheme, annNlist, annIters, tokenizerName, Some(BootstrapBatchId))
    val counts = decisions.groupBy("verdict").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val admitted = counts.getOrElse("admitted", 0L)
    BootstrapReport(counts.values.sum, admitted, counts.values.sum - admitted)
  }

  /** One operational snapshot of everything the pipeline maintains —
    * (state, metric, value) rows: per keyed state its live bucket count,
    * total rows, and tombstone count; the vector index's trained cells,
    * stored vectors, and cell skew; the admission log's per-verdict
    * histogram. The read an operator runs BEFORE choosing [[maintain]]'s
    * horizons (how many tombstones are waiting) or a retrain (what the
    * skew is). Costs parquet footer reads plus narrow single-column
    * scans of the op/verdict columns — stats-cheap, not free; run it on
    * the monitoring cadence, not per batch. */
  def describe(spark: SparkSession, pipelineRoot: String): DataFrame = {
    import spark.implicits._
    def keyedStats(name: String, root: String,
                   tombstoned: Boolean): Seq[(String, String, Double)] = {
      val dirs = StateStore.liveBuckets(spark, root)
      if (dirs.isEmpty) return Seq((name, "buckets", 0.0))
      val df = StateStore.readBuckets(spark, root, dirs)
      val base = Seq((name, "buckets", dirs.size.toDouble))
      if (tombstoned) {
        val agg = df.agg(count(lit(1)).as("n"),
          count(when(col("op") === "delete", 1)).as("t")).head()
        base ++ Seq((name, "rows", agg.getLong(0).toDouble),
          (name, "tombstones", agg.getLong(1).toDouble))
      } else base :+ ((name, "rows", df.count().toDouble))
    }
    val vroot = vectorsRoot(pipelineRoot)
    val vec =
      if (!graft.operators.IvfIndex.exists(spark, vroot)) Seq.empty
      else {
        // list cells via liveBuckets, not raw partition discovery: the
        // listing heals interrupted per-cell swaps and skips stranded
        // `.old`/`.tmp` dirs, so a crash mid-upsert can't double-count
        // rows or pollute the inferred partition column — the snapshot
        // must be trustworthy exactly when an operator is diagnosing a
        // crash (exists() above already ran the root-level heal)
        val cells = StateStore.liveBuckets(spark, vroot + "/vectors", "cell=")
        Seq(
          ("vectors", "cells",
            graft.operators.IvfIndex.centroids(spark, vroot).count().toDouble),
          ("vectors", "rows",
            if (cells.isEmpty) 0.0
            else spark.read.parquet(cells.map(c => s"$vroot/vectors/$c"): _*)
              .count().toDouble),
          ("vectors", "cell_skew",
            graft.operators.IvfIndex.cellSkew(spark, vroot)))
      }
    val adm = admissionLog(spark, pipelineRoot)
    val admStats = adm.groupBy("verdict").count().collect()
      .map(r => ("admissions", "verdict_" + r.getString(0), r.getLong(1).toDouble))
      .toSeq :+ (("admissions", "batches",
        adm.select("batch_id").distinct().count().toDouble))
    val roll = pipelineRollup(spark, pipelineRoot).toSeq.flatMap { sp =>
      Seq(("rollup", "buckets",
          StateStore.liveBuckets(spark, sp.path).size.toDouble),
        ("rollup", "groups",
          IncrementalRollup.read(spark, sp).count().toDouble))
    }
    // df-cap saturation: the share of the shingle vocabulary (and of its
    // posting mass) candidate generation drops at the cap — the per-
    // token-df-sidecar trigger metric (SCALE.md's recorded decision);
    // cap comes from the root's OWN scheme marker, the forget discipline
    val shScheme = StateStore
      .readTag(spark, shingleRoot(pipelineRoot), "_scheme")
      .map(IncrementalShingles.schemeNamed)
      .getOrElse(IncrementalShingles.WordShingles)
    val dfSat = IncrementalShingles
      .dfSaturation(spark, shingleRoot(pipelineRoot), shScheme.dfCap)
      .toSeq.flatMap { case (sat, vFrac, massFrac) =>
        Seq(("shingle_entries", "df_cap", shScheme.dfCap.toDouble),
          ("shingle_entries", "df_saturated", sat.toDouble),
          ("shingle_entries", "df_saturated_frac", vFrac),
          ("shingle_entries", "df_saturated_mass_frac", massFrac))
      }
    (keyedStats("row_state", stateRoot(pipelineRoot), tombstoned = true) ++
      keyedStats("postings_docs", postingsRoot(pipelineRoot) + "/docs",
        tombstoned = true) ++
      keyedStats("postings_entries", postingsRoot(pipelineRoot) + "/entries",
        tombstoned = false) ++
      keyedStats("shingle_docs", shingleRoot(pipelineRoot) + "/docs",
        tombstoned = true) ++
      keyedStats("shingle_entries", shingleRoot(pipelineRoot) + "/entries",
        tombstoned = false) ++ dfSat ++
      vec ++ roll ++ admStats)
      .toDF("state", "metric", "value")
      .orderBy("state", "metric")
  }

  /** What a [[maintain]] pass did — the numbers an operator alerts on.
    * `annSkewBefore`/`annSkewAfter` are [[graft.operators.IvfIndex.cellSkew]]
    * readings (None when the pipeline has no vector index); `annRebuilt`
    * is whether the drift threshold tripped an online retrain.
    * `bucketPressureBytes` is the post-GC byte size of the LARGEST text
    * state family (avg-per-bucket × bucket count — the rewrite-cost base
    * every merge pays); `rescaledTo` is the new bucket count when the
    * growth gate tripped an in-place rescale (None: gate off or under
    * budget). `dfSaturatedMassFrac` is the post-GC share of the shingle
    * state's posting mass above the df cap
    * ([[IncrementalShingles.dfSaturation]] — the per-token-df-sidecar
    * trigger; None when the pipeline has no shingle entries).
    * `dfSidecarAdvised` is that trigger FIRED: the saturated mass
    * fraction exceeded `dfSatAdviseThreshold` this pass while the root
    * does NOT yet maintain the per-token-df sidecar — the state is
    * majority crowd-shingles and the probes are reading lists they drop
    * ([[IncrementalShingles.enableDfSidecar]] is the remedy); [[maintain]]
    * also logs a WARN naming that call so the signal cannot pass unseen
    * in an unmonitored report. `dfSidecarEnabled` reports whether the
    * sidecar is in place; `dfSidecarAutoEnabled` is [[maintain]]'s
    * `autoDfSidecar` policy acting on the trigger THIS pass — the advice
    * fired, the sidecar was enabled in the same maintenance slot (one
    * dfs/ recompute pass, cost logged), and the advice is already
    * cleared: `dfSidecarAdvised` stays false because nothing is left for
    * the operator to do (an enabled root is never re-advised — the
    * saturation fraction stays observable either way). */
  final case class MaintenanceReport(annSkewBefore: Option[Double],
                                     annRebuilt: Boolean,
                                     annSkewAfter: Option[Double],
                                     bucketPressureBytes: Long = 0L,
                                     rescaledTo: Option[Int] = None,
                                     dfSaturatedMassFrac: Option[Double] = None,
                                     dfSidecarAdvised: Boolean = false,
                                     dfSidecarEnabled: Boolean = false,
                                     dfSidecarAutoEnabled: Boolean = false)

  /** The pipeline's MAINTENANCE pass — [[applyBatch]]'s operational
    * counterpart, run on a maintenance cadence (every N batches, or
    * nightly), never per batch. One call applies the whole
    * retention-and-repair story to every maintained state:
    *
    *   - tombstone GC at `horizonEventId` on the row state and on both
    *     token-state docs roots (postings, shingles — the shingle root IS
    *     a postings root, so the proven rewrite applies verbatim), per
    *     the LSM delete-retention contract: a tombstone must outlive
    *     every event the source can still replay, so the horizon is the
    *     smallest replayable event id;
    *   - admission-log retention at `horizonBatchId`: by default the
    *     below-horizon batch directories are COMPACTED into one range
    *     directory ([[compactAdmissions]] — the listing stays bounded
    *     and every verdict survives as provenance); pass
    *     `compactAdmissionLog = false` to delete them instead
    *     ([[gcAdmissions]] — the explicit provenance-deletion choice).
    *     Either way a verdict outlives every replay that could consult
    *     it: only unreplayable batches are touched;
    *   - quantizer-drift repair on the vector index: when
    *     [[graft.operators.IvfIndex.needsRebuild]]'s skew threshold
    *     trips, retrain ONLINE ([[graft.operators.IvfIndex.rebuild]] —
    *     the index serves reads for the whole retrain and cuts over in
    *     one atomic swap);
    *   - GROWTH-GATED RESCALE of the hash-bucketed states (armed by
    *     `bucketByteBudget` > 0): when the largest text state family
    *     exceeds the budget per bucket on average (post-GC, bytes,
    *     driver-side metadata only), [[rescale]] re-buckets every state
    *     in place to the smallest ×2^k multiple that restores it —
    *     closing the 100×-growth seam where a root bootstrapped small
    *     pays ever-larger bucket rewrites for fixed-size deltas. Run
    *     from the stream's own maintenance slot it happens under the
    *     stream's fence (`heldFence`), and the next batch follows the
    *     new `_nbuckets` marker without a restart.
    *
    * Both horizons come from the SOURCE's retention (checkpointed
    * offsets / compacted-topic retention), not from the states — the
    * states cannot know what the source can still replay. Every step is
    * idempotent and delta-sized except the rebuild, which is index-sized
    * by design and gated on measured drift.
    *
    * SERIALIZE this call with the ingest loop: every step is crash-safe,
    * but GC rewriting a bucket a concurrent merge is also rewriting —
    * or the rebuild's cutover racing an in-flight upsert planned against
    * the old cell layout — is two writers on one state root, outside the
    * StateStore contract. The natural home is the `foreachBatch` thread
    * itself, every N batches (maintenance between batches, merges within
    * them — one writer at a time by construction). */
  def maintain(spark: SparkSession, pipelineRoot: String,
               horizonEventId: Long, horizonBatchId: Long,
               numBuckets: Int = IncrementalIndex.DefaultBuckets,
               annNlist: Int = 16, annIters: Int = 5,
               annSkewThreshold: Double = 4.0,
               compactAdmissionLog: Boolean = true,
               bucketByteBudget: Long = 0L,
               heldFence: Option[WriterFence.Fence] = None,
               dfSatAdviseThreshold: Double = 0.5,
               autoDfSidecar: Boolean = false): MaintenanceReport = {
    require(annSkewThreshold > 1.0,
      "annSkewThreshold must exceed 1.0 (perfect balance)")
    // marker-first, like forget: a maintain against a rescaled root must
    // follow what the pipeline actually is, not the caller's stale default
    val effBuckets = StateStore.bucketCount(spark, stateRoot(pipelineRoot))
      .getOrElse(numBuckets)
    IncrementalIndex.gcTombstones(spark, stateRoot(pipelineRoot),
      horizonEventId, effBuckets)
    IncrementalPostings.gcTombstones(spark, postingsRoot(pipelineRoot),
      horizonEventId, effBuckets)
    IncrementalPostings.gcTombstones(spark, shingleRoot(pipelineRoot),
      horizonEventId, effBuckets)
    if (compactAdmissionLog) compactAdmissions(spark, pipelineRoot, horizonBatchId)
    else gcAdmissions(spark, pipelineRoot, horizonBatchId)
    gcAlerts(spark, pipelineRoot, horizonBatchId) // outbox drain, same horizon
    val vroot = vectorsRoot(pipelineRoot)
    val (skewBefore, rebuilt, skewAfter) =
      if (!graft.operators.IvfIndex.exists(spark, vroot))
        (None, false, None)
      else {
        val skew = graft.operators.IvfIndex.cellSkew(spark, vroot)
        if (skew >= annSkewThreshold) {
          graft.operators.IvfIndex.rebuild(spark, vroot, annNlist, annIters)
          (Some(skew), true,
            Some(graft.operators.IvfIndex.cellSkew(spark, vroot)))
        } else (Some(skew), false, Some(skew))
      }
    // GROWTH GATE — the ANN drift gate's twin for the hash-bucketed
    // states: measured POST-GC (GC may have just shrunk the state), in
    // BYTES (the rewrite cost a merge pays per touched bucket is the
    // bucket's byte size, not its row count), driver-side metadata only.
    // When the largest text state family exceeds `bucketByteBudget` per
    // bucket on average, re-bucket IN PLACE to the smallest ×2^k multiple
    // that restores the budget — integer-multiple growth is the
    // shuffle-free rescale path, and the ×2 ladder keeps counts aligned
    // across repeated trips. Config is read from the ROOT MARKERS (the
    // forget discipline); a tokenizer the registry cannot reconstruct
    // refuses loudly rather than rebuilding dl stats with a look-alike.
    val pressure = Seq(
      StateStore.bucketBytes(spark, stateRoot(pipelineRoot)),
      StateStore.bucketBytes(spark, postingsRoot(pipelineRoot) + "/docs") +
        StateStore.bucketBytes(spark, postingsRoot(pipelineRoot) + "/entries"),
      StateStore.bucketBytes(spark, shingleRoot(pipelineRoot) + "/docs") +
        StateStore.bucketBytes(spark, shingleRoot(pipelineRoot) + "/entries")).max
    val rescaledTo =
      if (bucketByteBudget <= 0L || pressure <= bucketByteBudget * effBuckets)
        None
      else {
        // ×8 per pass at most: a mis-set budget must not explode the
        // directory count in one maintenance slot — still over budget
        // next pass, the gate trips again and doubles on from here
        var target = effBuckets
        while (pressure > bucketByteBudget * target &&
          target < effBuckets * 8) target *= 2
        // config from the ROOT MARKERS (the forget discipline). The
        // dstats recompute is tokenizer-free (dl from the entries' own
        // tf sums), so no analyzer reconstruction is needed — the old
        // re-tokenizing path silently fell back to whitespace for an
        // anonymous custom tokenizer, rebuilding dl in the wrong units.
        val tokName =
          StateStore.readTag(spark, postingsRoot(pipelineRoot), "_tokenizer")
        val scheme =
          StateStore.readTag(spark, shingleRoot(pipelineRoot), "_scheme")
            .map(IncrementalShingles.schemeNamed)
            .getOrElse(IncrementalShingles.WordShingles)
        rescale(spark, pipelineRoot, target, scheme, tokName, heldFence)
        Some(target)
      }
    // post-GC df-cap saturation (the per-token-df-sidecar trigger) — the
    // maintenance pass is exactly when an operator decides whether the
    // cap's read-time drop should become a merge-time one
    val satScheme = StateStore
      .readTag(spark, shingleRoot(pipelineRoot), "_scheme")
      .map(IncrementalShingles.schemeNamed)
      .getOrElse(IncrementalShingles.WordShingles)
    val dfSat = IncrementalShingles
      .dfSaturation(spark, shingleRoot(pipelineRoot), satScheme.dfCap)
      .map(_._3)
    // The recorded decision rule (SCALE.md): past the threshold the state
    // is storing mostly crowd shingles, and the probes read those lists
    // only to drop them at the cap — the per-token-df sidecar
    // ([[IncrementalShingles.enableDfSidecar]]) is the remedy, letting
    // candidate generation skip saturated lists without reading them.
    // Enabling stays an operator decision (a second maintained state to
    // keep consistent), so the trigger is loud — WARN + report flag —
    // and clears once the sidecar is in place.
    val sidecarOn = IncrementalShingles
      .dfSidecarEnabled(spark, shingleRoot(pipelineRoot))
    val triggered = !sidecarOn && dfSat.exists(_ > dfSatAdviseThreshold)
    // autoDfSidecar: the 100 TB operator's policy flag — act on the
    // trigger inside this maintenance slot (the pass already holds the
    // single-writer window, and the enable is the same one-pass dfs/
    // backfill the advice names) instead of leaving a WARN for a human.
    // The enable cost is LOGGED, not silent: it is a vocabulary-shaped
    // recompute (measured 2.1–5.5 s at probe scale — DF_SIDECAR_PROBE),
    // and an unexplained slow maintenance pass is its own incident.
    // Default OFF: enabling a second maintained state stays an explicit
    // operator decision unless this policy says otherwise.
    val autoEnabled = triggered && autoDfSidecar
    if (autoEnabled) {
      val t0 = System.nanoTime()
      IncrementalShingles.enableDfSidecar(spark, shingleRoot(pipelineRoot))
      log.info(
        s"shingle state at ${shingleRoot(pipelineRoot)}: " +
          f"df-saturated posting-mass fraction ${dfSat.get}%.3f exceeded " +
          f"$dfSatAdviseThreshold%.2f — autoDfSidecar enabled the " +
          f"per-token-df sidecar in ${(System.nanoTime() - t0) / 1e9}%.2f s " +
          "(one dfs/ backfill pass; later merges keep it current)")
    }
    val advised = triggered && !autoEnabled
    if (advised) log.warn(
      s"shingle state at ${shingleRoot(pipelineRoot)}: " +
        f"df-saturated posting-mass fraction ${dfSat.get}%.3f exceeds " +
        f"$dfSatAdviseThreshold%.2f — candidate generation reads then " +
        "drops the majority of stored entry rows; enable the per-token-df " +
        "sidecar (IncrementalShingles.enableDfSidecar) so probes skip " +
        "saturated posting lists without reading them (SCALE.md df-cap " +
        "decision rule)")
    MaintenanceReport(skewBefore, rebuilt, skewAfter, pressure, rescaledTo,
      dfSat, advised, sidecarOn || autoEnabled, autoEnabled)
  }

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Re-bucket every hash-bucketed state under the pipeline to
    * `newBuckets` — the 100×-growth move: bucket count is the rewrite-
    * unit knob ([[IncrementalIndex]]'s layout doc), and a corpus that
    * grew 100× needs proportionally more buckets or every merge rewrites
    * gigabyte directories for kilobyte deltas. Row state re-hashes by
    * rowkey, postings and shingles through their own rescales (docs +
    * entries + recomputed dstats; see [[IncrementalPostings.rescale]]),
    * each under an atomic whole-root swap. Prefer integer multiples of
    * the current count — that path is shuffle-free per state
    * ([[StateStore.rescale]]).
    *
    * The vector index is NOT here: its layout is cell-partitioned by the
    * quantizer (not key-hashed), and it already has its own resize —
    * [[maintain]]'s drift-gated online [[graft.operators.IvfIndex
    * .rebuild]] with a larger `annNlist`.
    *
    * STOP THE STREAM FIRST (or call between batches from the
    * `foreachBatch` thread, passing the fence that thread holds as
    * `heldFence` — [[maintain]]'s growth gate does exactly this):
    * rescale is a writer on every root at once. A crash between the
    * per-state swaps leaves earlier states at the new count and later
    * ones at the old — every writer fails its `_nbuckets` check loudly
    * rather than mis-hashing, and re-running `rescale` converges (done
    * states no-op). A stream that keeps running through an in-fence
    * rescale needs no restart: [[applyBatch]] resolves the bucket count
    * marker-first each batch. */
  def rescale(spark: SparkSession, pipelineRoot: String, newBuckets: Int,
              scheme: IncrementalShingles.SketchScheme =
                IncrementalShingles.WordShingles,
              tokenizerName: Option[String] = None,
              heldFence: Option[WriterFence.Fence] = None): Unit = {
    // claiming the root fences out a still-running stream: its next batch
    // fails its epoch check instead of merging against a half-moved layout.
    // A caller that ALREADY holds the root's fence (the maintenance slot
    // inside the stream's own foreachBatch thread — growth-gated
    // auto-rescale) passes it instead: same serialization, no epoch bump,
    // so the stream it runs inside keeps its claim and continues.
    val fence = heldFence.getOrElse(WriterFence.claim(spark, pipelineRoot))
    fence.check(spark)
    StateStore.rescale(spark, stateRoot(pipelineRoot), "rowkey", newBuckets)
    fence.check(spark)
    // the rollup sidecar mirrors the row state's bucket ids — a rescale
    // stales its LAYOUT (totals stay correct: the read collapses all
    // partials), and the next merge would fail its _nbuckets check; one
    // rebuild pass re-buckets it at the new count
    pipelineRollup(spark, pipelineRoot).foreach { sp =>
      IncrementalRollup.rebuild(spark, stateRoot(pipelineRoot), sp)
      fence.check(spark)
    }
    // the dstats recompute is tokenizer-free (dl from the entries' own
    // tf sums); tokenizerName still validates against the _tokenizer
    // marker so a caller asserting the wrong analyzer fails loudly
    IncrementalPostings.rescale(spark, postingsRoot(pipelineRoot), newBuckets,
      tokenizerName)
    fence.check(spark)
    IncrementalShingles.rescale(spark, shingleRoot(pipelineRoot), newBuckets,
      scheme)
  }

  /** Retrofit product quantization onto the pipeline's maintained ANN
    * index ([[graft.operators.IvfIndex.enablePq]] on [[vectorsRoot]]) —
    * a one-time maintenance action, after which every merge keeps each
    * cell's codes consistent with its vectors for free (the codes ride
    * the upsert/delete cell rewrites) and the drift-gated online retrain
    * ([[maintain]] → `IvfIndex.rebuild`) retrains the codebooks with the
    * quantizer. Claims the writer fence ([[rescale]]'s discipline): the
    * retrofit is a whole-index rewrite, so a still-running stream must be
    * fenced out rather than merge against a half-replaced layout. Requires
    * a populated index (the first admitted batch trains it). */
  def enableAnnPq(spark: SparkSession, pipelineRoot: String,
                  pq: graft.operators.IvfIndex.PqSpec =
                    graft.operators.IvfIndex.PqSpec(),
                  heldFence: Option[WriterFence.Fence] = None): Unit = {
    val fence = heldFence.getOrElse(WriterFence.claim(spark, pipelineRoot))
    fence.check(spark)
    graft.operators.IvfIndex.enablePq(spark, vectorsRoot(pipelineRoot), pq)
  }

  private def forgetDir(pipelineRoot: String, forgetId: Long): String =
    s"${admissionsRoot(pipelineRoot)}/forget=$forgetId"

  private val forgetSchema = StructType(Seq(
    StructField("rowkey", StringType),
    StructField("event_id", LongType)))

  /** Targeted deletion across every maintained state — the retention /
    * right-to-be-forgotten surface a long-lived corpus needs (drop one
    * user's documents, expire a source, honor a takedown). `predicate`
    * is a boolean Column over the LIVE row state's columns
    * ([[IncrementalIndex.readState]]: rowkey, event_id, payload); every
    * matching key gets a synthesized delete event that dominates its
    * live event (`event_id + 1`) and flows through the SAME four-state
    * merge path as a streamed tombstone — row state, postings, shingles,
    * and the vector index retire the doc exactly as if the changelog had
    * delivered the delete.
    *
    * Decide-once-durably, like every other write here: the matched keys
    * (with their synthesized event ids) commit to
    * `<admissions>/forget=<forgetId>` BEFORE any state is touched, so a
    * crash mid-forget re-runs as a RESUME — the logged set replays
    * through the idempotent merges and converges. Re-evaluating the
    * predicate instead would see a partially-deleted row state and leave
    * orphan entries in the states that had already merged. A re-run with
    * the same `forgetId` is therefore always safe (and never re-decides);
    * a NEW forget takes a fresh id. The log entry doubles as the
    * takedown's audit record ([[admissionLog]] surfaces it with verdict
    * `forgotten`), and the `forget=` namespace is exempt from the batch-
    * horizon GC/compaction — deleting it is the operator's explicit
    * provenance-deletion choice.
    *
    * This is a WRITER: it claims the writer fence (a live stream fails
    * its next epoch check) and re-checks it before the merges, so a
    * forget presumed dead cannot wake up beside a replacement writer —
    * the same discipline as [[rescale]]. Run it from the maintenance
    * slot or against a stopped pipeline. A replayed source batch still
    * carrying the forgotten doc's put is dominated by the synthesized
    * tombstone; a genuinely NEW put for the key after the forget
    * re-creates the doc — changelog semantics, not a leak. Returns the
    * number of keys forgotten.
    *
    * `forgetId` must lie BELOW [[BootstrapBatchId]] (choose -2, -3, …):
    * stream batch ids are non-negative and the bootstrap owns -1, so the
    * takedown's provenance rows can never collide with a real batch's
    * under one `batch_id` in [[admissionLog]]. The merge configuration
    * (bucket count, sketch scheme, tokenizer) is READ FROM THE ROOT
    * MARKERS, not taken as parameters — a forget must match whatever the
    * pipeline actually is, including one rescaled after creation. */
  def forget(spark: SparkSession, pipelineRoot: String, predicate: Column,
             forgetId: Long): Long = {
    require(forgetId < BootstrapBatchId,
      s"forgetId must be below the reserved bootstrap id $BootstrapBatchId " +
        s"(got $forgetId): stream batch ids are non-negative, and a forget's " +
        "provenance must never share a batch_id with a real batch")
    val fence = WriterFence.claim(spark, pipelineRoot)
    val sroot = stateRoot(pipelineRoot)
    // the roots themselves say how they are laid out — a forget against a
    // rescaled or CJK pipeline must follow its markers, not defaults
    val numBuckets = StateStore.bucketCount(spark, sroot)
      .getOrElse(IncrementalIndex.DefaultBuckets)
    val scheme = StateStore.readTag(spark, shingleRoot(pipelineRoot), "_scheme")
      .map(IncrementalShingles.schemeNamed)
      .getOrElse(IncrementalShingles.WordShingles)
    val tokenizerName =
      StateStore.readTag(spark, postingsRoot(pipelineRoot), "_tokenizer")
    val dir = forgetDir(pipelineRoot, forgetId)
    if (!StateStore.nonEmpty(spark, dir)) {
      val doomed =
        if (StateStore.liveBuckets(spark, sroot).isEmpty)
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], forgetSchema)
        else IncrementalIndex.readState(spark, sroot)
          .filter(predicate)
          .select(col("rowkey"), (col("event_id") + 1).as("event_id"))
      StateStore.commit(spark, dir)(tmp => doomed.write.parquet(tmp))
    }
    val logged = spark.read.schema(forgetSchema).parquet(dir)
    // Tombstones must match the ROW STATE's schema exactly: the merge
    // unions them against existing bucket rows, and a changelog that
    // carried payload columns (vectors, multimodal blobs, facet fields)
    // stored them in the state — a hardcoded (rowkey, event_id, op,
    // text) tombstone would fail that union. Synthesize from the live
    // schema: text as "" (the delete convention the token merges
    // expect), every other payload column as a typed null. The embedding
    // column thus rides along exactly when the state has one — which is
    // also what routes the batch through the vector merge; a non-vector
    // pipeline's rowkeys need not be numeric vec_ids.
    val stateSchema =
      if (StateStore.liveBuckets(spark, sroot).isEmpty) None
      else Some(IncrementalIndex.readState(spark, sroot).schema)
    val dels = stateSchema match {
      case Some(sch) =>
        val keyed = Set("rowkey", "event_id", "op")
        val cols = sch.fields.map { f =>
          if (keyed.contains(f.name)) col(f.name)
          else if (f.name == "text") lit("").as("text")
          else lit(null).cast(f.dataType).as(f.name)
        }
        logged.select(col("rowkey"), col("event_id"),
            lit("delete").as("op"))
          .select(cols.toSeq: _*)
      case None =>
        logged.select(col("rowkey"), col("event_id"),
          lit("delete").as("op"), lit("").as("text"))
    }
    val noDecisions = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], decisionSchema)
    // a forget that stalled long enough for an operator to start another
    // writer must die HERE, not interleave its bucket swaps with the new
    // writer's (tokenize is never evaluated for a delete-only batch)
    fence.check(spark)
    mergeAll(spark, dels, noDecisions, pipelineRoot, numBuckets,
      tokenize = split(_, " "), scheme, annNlist = 16, annIters = 5,
      tokenizerName)
    logged.count()
  }

  /** Consistent point-in-time copy of a pipeline root — the operational
    * surface Solr gives the reference for free (index replication /
    * backup): hand a serving replica its own root, keep a restore point
    * before a risky migration, or fork a corpus build. The copy is a
    * NEW root, immediately usable by every read surface and by a fresh
    * pipeline start on top of it.
    *
    * What is copied: every state family and the admission log, healed
    * first (interrupted per-bucket swaps are promoted via the same
    * [[StateStore.recover]] every reader runs), with swap garbage
    * (`.tmp`/`.old`/`.tmpbatch` at any depth) excluded. The `_writers`
    * fence history is NOT copied: the snapshot is a new root identity,
    * and its first writer should claim epoch 1 rather than inherit the
    * source's epoch history (a restore that wants to resurrect the OLD
    * root copies the snapshot back and then claims — the claim takes
    * max+1 of whatever fence history the target holds).
    *
    * Consistency contract — same as every other whole-root operation
    * here: snapshot reads multiple directories non-atomically, so it
    * must not race a writer. Run it from the maintenance slot (the
    * `foreachBatch` thread between batches) or against a stopped
    * pipeline. It deliberately does NOT claim the writer fence: a
    * backup should never fence out the live ingest.
    *
    * Scale shape: the file list is driver-side metadata (bounded by
    * bucket count × files per bucket — the merges write one file per
    * bucket); the BYTES move executor-side, one task per file
    * (distcp's shape), so a 100 TB snapshot copies at cluster width,
    * not through the driver.
    *
    * Atomic visibility: the copy lands under `<dest>.tmp` and is
    * promoted by one rename ([[StateStore.commit]]) — a destination that
    * EXISTS is a complete snapshot; a crashed attempt leaves only a
    * `.tmp` the retry clears. A backup that could be partial yet look
    * complete is worse than no backup. */
  def snapshot(spark: SparkSession, pipelineRoot: String,
               destRoot: String): Unit =
    snapshotInto(spark, pipelineRoot, destRoot, preserveFence = false)

  /** The copy itself, under [[StateStore.commit]]'s tmp-then-swap: the
    * destination becomes visible ATOMICALLY and only when complete — a
    * crashed snapshot leaves a `.tmp` the retry clears, never a partial
    * root that passes for a backup. `preserveFence = true` (restore)
    * additionally carries the TARGET's existing fence history into the
    * new root before the swap, and replaces a populated target wholesale
    * (the swap's move-aside makes even that window crash-safe: old root
    * or new, never a mix). */
  private def snapshotInto(spark: SparkSession, pipelineRoot: String,
                           destRoot: String, preserveFence: Boolean): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val src = new Path(pipelineRoot)
    val fs = src.getFileSystem(conf)
    require(fs.exists(src), s"no pipeline root at $pipelineRoot")
    val dest = new Path(destRoot)
    val dfs = dest.getFileSystem(conf)
    if (!preserveFence && dfs.exists(dest) && dfs.listStatus(dest).nonEmpty)
      throw new IllegalStateException(
        s"snapshot destination $destRoot already holds data; " +
          "refusing to overwrite — delete it first or pick a fresh path")
    def garbage(n: String): Boolean =
      n.endsWith(".tmp") || n.endsWith(".old") || n.endsWith(".tmpbatch")
    // heal pass: promote any interrupted swap (`X.old` with no `X`)
    // before listing, so the snapshot captures the surviving copy
    def heal(p: Path): Unit = {
      fs.listStatus(p).foreach { c =>
        val n = c.getPath.getName
        if (n.endsWith(".old"))
          StateStore.recover(spark, new Path(p, n.stripSuffix(".old")).toString)
      }
      // recurse over the post-recovery listing, so a just-promoted
      // directory's own subtree is healed too
      fs.listStatus(p).foreach { c =>
        if (c.isDirectory && !garbage(c.getPath.getName)) heal(c.getPath)
      }
    }
    heal(src)
    StateStore.commit(spark, destRoot) { tmp =>
      val tmpPath = new Path(tmp)
      // driver-side recursive listing of live files (metadata-bounded);
      // empty dirs are recreated so family roots survive even when empty
      val files = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      def walk(p: Path, rel: String): Unit = fs.listStatus(p).foreach { c =>
        val n = c.getPath.getName
        if (!garbage(n) && n != WriterFence.FenceDir) {
          val childRel = if (rel.isEmpty) n else s"$rel/$n"
          if (c.isDirectory) {
            dfs.mkdirs(new Path(tmpPath, childRel)); walk(c.getPath, childRel)
          } else files += ((c.getPath.toString, new Path(tmpPath, childRel).toString))
        }
      }
      dfs.mkdirs(tmpPath)
      walk(src, "")
      // restore keeps the target root's identity: its claimed fence
      // epochs ride the swap so the restorer stays the newest writer and
      // a zombie still fails its next check against the restored root
      if (preserveFence && dfs.exists(new Path(dest, WriterFence.FenceDir)))
        org.apache.hadoop.fs.FileUtil.copy(dfs,
          new Path(dest, WriterFence.FenceDir), dfs,
          new Path(tmpPath, WriterFence.FenceDir), false, conf): Unit
      // bytes move executor-side, one task per file. The SESSION's Hadoop
      // conf rides along as plain properties — a bare Configuration() on
      // the executor would see only classpath XML and drop everything
      // injected via spark.hadoop.* (object-store credentials, the
      // standard Spark-on-S3 setup), failing the copy with auth errors
      if (files.nonEmpty) {
        val confProps = {
          val it = conf.iterator()
          val b = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
          while (it.hasNext) { val e = it.next(); b += ((e.getKey, e.getValue)) }
          b.toArray
        }
        val bcConf = spark.sparkContext.broadcast(confProps)
        spark.sparkContext.parallelize(files.toSeq, math.min(files.size, 64))
          .foreach { case (s, d) =>
            val hc = new org.apache.hadoop.conf.Configuration(false)
            bcConf.value.foreach { case (k, v) => hc.set(k, v) }
            val sp = new Path(s); val dp = new Path(d)
            org.apache.hadoop.fs.FileUtil.copy(
              sp.getFileSystem(hc), sp, dp.getFileSystem(hc), dp, false, hc): Unit
          }
      }
    }
  }

  /** Roll a pipeline root back to a [[snapshot]] — the restore half of
    * the backup story (bad deploy, corrupted state, operator error).
    * Claims the WRITER FENCE on the target first: restore replaces the
    * root, so a zombie stream still writing it must fail its next epoch
    * check rather than merge into the restored state; the caller then
    * restarts the stream with a FRESH checkpoint (the old checkpoint's
    * offsets describe batches the restored state never saw — replaying
    * them through applyBatch is safe only back to the snapshot's own
    * admission log, which the snapshot carries).
    *
    * The target is replaced in ONE atomic swap (the copy lands beside it
    * under [[StateStore.commit]]'s tmp-then-rename): at every instant the
    * root is either the old state or the restored one, never a partial
    * mix — a crashed restore is simply re-run. The fence history is
    * preserved across the restore (the point of fencing the root is that
    * it KEEPS its identity — contrast with [[snapshot]], which starts a
    * new one).
    *
    * Residual window (the fence's own CAS-less limit, restated for the
    * swap): a BRAND-NEW claim racing the restore's final rename lands in
    * the directory the swap retires and is lost — the zombie case is
    * covered (its epoch rides the copied history and stays below the
    * restorer's), but a writer STARTING during the restore must re-claim
    * after it. Operationally: restore with the pipeline stopped. */
  def restore(spark: SparkSession, snapshotRoot: String,
              pipelineRoot: String): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val src = new Path(snapshotRoot)
    require(src.getFileSystem(conf).exists(src), s"no snapshot at $snapshotRoot")
    val fence = WriterFence.claim(spark, pipelineRoot)
    snapshotInto(spark, snapshotRoot, pipelineRoot, preserveFence = true)
    fence.check(spark)
  }

  /** Wire a streaming changelog into the gated three-state pipeline —
    * the reference's coprocessor-to-index loop as one streaming query,
    * same knobs as the individual maintenance starts.
    *
    * `maintainEvery` wires [[maintain]] into its documented home: after
    * every Nth batch's merges complete, the SAME `foreachBatch` thread
    * runs the maintenance pass — one writer at a time by construction,
    * which is exactly the serialization the maintenance contract
    * requires (0 = never, the default). `maintainHorizons` maps the
    * just-completed batch id to the (event, batch) replay horizons the
    * SOURCE guarantees — only the source's retention knows them. Its
    * default sits below everything, so maintenance GCs nothing but
    * still runs the drift-gated quantizer retrain. */
  def start(changes: DataFrame, pipelineRoot: String, checkpoint: String,
            threshold: Double = 0.8, intervalSeconds: Int = 30,
            firstDelaySeconds: Int = 0,
            numBuckets: Int = IncrementalIndex.DefaultBuckets,
            tokenize: Column => Column = split(_, " "),
            scheme: IncrementalShingles.SketchScheme =
              IncrementalShingles.WordShingles,
            admitIf: Option[Column] = None,
            annNlist: Int = 16, annIters: Int = 5,
            semanticThreshold: Option[Double] = None,
            semanticProbes: Int = 2,
            tokenizerName: Option[String] = None,
            maintainEvery: Int = 0,
            maintainHorizons: Long => (Long, Long) =
              _ => (Long.MinValue, Long.MinValue),
            annSkewThreshold: Double = 4.0,
            bucketByteBudget: Long = 0L,
            textTransform: Option[Column => Column] = None,
            gateMaxCandidates: Int = 0): StreamingQuery = {
    val gate = IncrementalIndex.firstBatchGate(firstDelaySeconds)
    // cross-process single-writer fence: this start() claims the root;
    // any later claimant (second stream, rescale, replacement driver)
    // makes every subsequent batch here fail loudly instead of
    // interleaving writes — see WriterFence
    val fence = WriterFence.claim(changes.sparkSession, pipelineRoot)
    changes.writeStream
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(s"$intervalSeconds seconds"))
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        gate()
        fence.check(batch.sparkSession)
        applyBatch(batch.sparkSession, batch, pipelineRoot, id,
          threshold, numBuckets, tokenize, scheme, admitIf, annNlist, annIters,
          semanticThreshold, semanticProbes, tokenizerName, textTransform,
          gateMaxCandidates)
        if (maintainEvery > 0 && id > 0 && id % maintainEvery == 0) {
          val (he, hb) = maintainHorizons(id)
          // this thread holds the stream's fence — maintenance (and any
          // growth-gated rescale it trips) runs under THAT claim, so the
          // stream's own epoch survives and the next batch simply follows
          // the new _nbuckets marker (applyBatch resolves marker-first)
          maintain(batch.sparkSession, pipelineRoot, he, hb, numBuckets,
            annNlist, annIters, annSkewThreshold,
            bucketByteBudget = bucketByteBudget,
            heldFence = Some(fence)): Unit
        }
      }
      .start()
  }
}
