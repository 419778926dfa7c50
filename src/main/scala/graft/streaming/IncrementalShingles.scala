package graft.streaming

import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}
import graft.operators.{Analyzer, Materialize}

/** Incremental maintenance of the dedup family's shingle inverted index —
  * the reference's architecture (an index kept current by the mutation
  * stream, HbaseSolrIndexCoprocesser.java:38-61 → SolrIndexTools.java:93-144)
  * applied to the repo's most expensive derived artifact. The state reuses
  * [[IncrementalPostings]]' bucketed-delta machinery verbatim — the
  * "token" is a word 3-gram — so every property proven there holds here:
  * per-batch writes are O(touched doc buckets + touched shingle buckets),
  * never O(state); per-bucket swaps are prefix-atomic with idempotent
  * replay (double anti-join + tombstoned docs state).
  *
  * Read side: [[shingleIndex]] serves the maintained state in exactly
  * `Dedup.shingleIndex`'s batch shape — (s, sorted numeric ids) with the
  * document-frequency cap applied AT READ (the cap is query semantics, not
  * state semantics: a shingle that crosses the cap as docs arrive must
  * drop out of candidate generation, and one whose docs get deleted must
  * re-enter — capping the persisted state would bake in arrival order).
  *
  * Wiring: [[register]] points a corpus scope (data directory) at a
  * maintained state root; `Dedup.sharedShingleIndex` then feeds the
  * session's materialized artifact from the maintained table instead of
  * rebuilding from the corpus — and every merge into that root invalidates
  * the registered scopes' session caches ([[Materialize.invalidate]]), so
  * no session serves a stale shingle index or near-dup pair set after the
  * stream has moved the state forward.
  *
  * Contract: the changelog `rowkey` is the decimal string form of the
  * corpus `doc_id` (the fixture corpus's natural key) — the read side
  * casts ids back to long for the pair generators' numeric ordering.
  */
object IncrementalShingles {

  /** Word 3-gram shingling as a pure column expression, shingle-set
    * identical per document to the batch builder (`TextAnalysis.shingles`):
    * whitespace tokens; documents under 3 tokens yield no shingles. The
    * merge keys entries by (shingle, doc) — multiplicity rides in the tf
    * column; the read side treats postings as a set. */
  val shingleize: Column => Column = text => {
    val t = Analyzer.default.tokens(text)
    when(size(t) >= 3,
      transform(sequence(lit(1), size(t) - 2),
        i => concat_ws(" ", slice(t, i, lit(3)))))
      .otherwise(array().cast("array<string>"))
  }

  /** Driver-local twin of [[shingleize]] for single-string probe texts:
    * identical output to the column expression (property-tested in
    * PropertySpec), without scheduling a Spark job to shingleize one
    * driver-resident string. Tokenization matches `Analyzer.default`
    * exactly — Spark's `split(text, " ")` is Java regex split with
    * limit -1 (trailing empty tokens kept). */
  private[graft] def shingleizeLocal(text: String): Seq[String] = {
    val t = text.split(" ", -1)
    if (t.length < 3) Seq.empty
    else (0 to t.length - 3).map(i => s"${t(i)} ${t(i + 1)} ${t(i + 2)}")
  }

  /** A near-dup sketching scheme — the seam that makes the ONLINE dedup
    * path (per-doc probe, batch probe, admission gate, ingest pipeline)
    * script-generic: the column expression turning a text into its
    * comparable token set, a driver-local twin for single-string probes
    * (identical output, property-tested), and the family's
    * document-frequency cap. The maintained state must be merged with
    * the SAME scheme it is probed with ([[mergeBatch]]'s `scheme`). */
  sealed trait SketchScheme {
    def sketch: Column => Column
    def sketchLocal(text: String): Seq[String]
    def dfCap: Int
    /** Recorded in the state root's `_scheme` marker: a root merged with
      * one scheme refuses merges — and probe reads fail loudly — under
      * another (mixed token universes would quietly return garbage). */
    def name: String
  }

  /** Word 3-gram shingles — whitespace-delimited text (the default
    * family; [[shingleize]]). */
  case object WordShingles extends SketchScheme {
    val sketch: Column => Column = shingleize
    def sketchLocal(text: String): Seq[String] = shingleizeLocal(text)
    def dfCap: Int = graft.operators.Dedup.DfCap
    val name = "word3"
  }

  /** Bottom-k md5 character-5-gram sketch — SPACE-FREE text, the
    * reference's actual language context (/root/reference/README.md:5-6):
    * word 3-grams do not exist without whitespace, so the online path
    * runs over `Dedup.charSketch`'s fixed-footprint sketch instead. */
  case object CharSketch extends SketchScheme {
    val sketch: Column => Column = graft.operators.Dedup.charSketch
    def sketchLocal(text: String): Seq[String] =
      graft.operators.Dedup.charSketchLocal(text)
    def dfCap: Int = graft.operators.Dedup.SketchDfCap
    val name = "char5md5"
  }

  /** The scheme a root's `_scheme` marker names — for operators that
    * must merge against an EXISTING root without being handed its scheme
    * (e.g. [[IngestPipeline.forget]]'s delete-only merges). Unknown
    * names fail loudly rather than default. */
  def schemeNamed(name: String): SketchScheme = name match {
    case WordShingles.name => WordShingles
    case CharSketch.name => CharSketch
    case other => throw new IllegalArgumentException(
      s"unknown sketch scheme '$other' in a _scheme marker (known: " +
        s"${WordShingles.name}, ${CharSketch.name})")
  }

  /** A probe/merge against a root whose `_scheme` marker disagrees with
    * the presented scheme is a silent-garbage generator (word shingles
    * never match md5 grams) — fail loudly instead. A root without the
    * marker has never been merged: every merge records it first. */
  private def requireScheme(spark: SparkSession, rootPath: String,
                            scheme: SketchScheme): Unit =
    StateStore.readTag(spark, rootPath, "_scheme").foreach { recorded =>
      require(recorded == scheme.name,
        s"shingle state at $rootPath was merged with scheme=$recorded; " +
          s"refusing to read it as ${scheme.name}")
    }

  /** corpus scope (session, data dir) → maintained shingle-state root. */
  private val registry =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), String]()
  Materialize.onSessionFreed(s => registry.keySet.removeIf(_._1 eq s): Unit)

  /** Serve `corpusDir`'s shingle index from the maintained state at
    * `rootPath` (drops the scope's cached shingle artifacts so the switch
    * takes effect immediately). */
  def register(spark: SparkSession, corpusDir: String, rootPath: String): Unit = {
    registry.put((spark, corpusDir), rootPath)
    invalidateScope(corpusDir)
  }

  /** Back to batch-building `corpusDir`'s shingle index from the corpus. */
  def unregister(spark: SparkSession, corpusDir: String): Unit = {
    registry.remove((spark, corpusDir))
    invalidateScope(corpusDir)
  }

  private[graft] def maintainedRoot(spark: SparkSession, corpusDir: String): Option[String] =
    Option(registry.get((spark, corpusDir)))

  /** The scope's LIVE documents as (doc_id, text): the maintained docs
    * state when `corpusDir` is [[register]]ed — so per-doc derived
    * artifacts (SimHash fingerprints, min-shingle fingerprints) are fed
    * from the state the changelog keeps current, with no corpus scan —
    * otherwise the corpus table itself. Every maintained-state merge
    * invalidates the scope's session artifacts ([[mergeBatch]]), so a
    * registered scope's fingerprint tables can never lag the state.
    * Rowkeys are the decimal doc_id strings (the class contract) — a
    * non-decimal rowkey fails loudly here rather than becoming a null
    * doc_id that the fingerprint groupBys would silently merge into one
    * garbage row. */
  private[graft] def liveDocs(spark: SparkSession, corpusDir: String): DataFrame =
    maintainedRoot(spark, corpusDir)
      .map(root => IncrementalPostings.docsState(spark, root)
        .select(
          when(col("rowkey").cast("long").isNull,
            raise_error(concat(lit("non-decimal rowkey in maintained docs state "),
              lit(root), lit(": "), col("rowkey"))))
            .otherwise(col("rowkey").cast("long")).as("doc_id"),
          col("text")))
      .getOrElse(graft.Tables.documents(spark, corpusDir).select("doc_id", "text"))

  /** Every artifact derived from the scope's corpus must drop when its
    * source changes (registration or a maintained-state merge) — the whole
    * scope, not a name list: fingerprints, postings, and any artifact
    * added later are corpus-derived too, and a stale survivor would
    * silently serve pre-mutation results. */
  private def invalidateScope(corpusDir: String): Unit =
    Materialize.invalidate(corpusDir)

  /** Fold one changelog micro-batch (rowkey, event_id, op, text) into the
    * maintained shingle state, then invalidate every session artifact fed
    * by this root — the cache-coherence half of ADVICE's stale-artifact
    * concern: a corpus mutated through the pipeline cannot keep serving
    * pre-mutation dedup artifacts. */
  def mergeBatch(spark: SparkSession, batch: DataFrame, rootPath: String,
                 numBuckets: Int = IncrementalIndex.DefaultBuckets,
                 scheme: SketchScheme = WordShingles): Unit = {
    StateStore.ensureTag(spark, rootPath, "_scheme", scheme.name)
    // keepPositions = false: a shingle's offsets carry no query semantics
    // (no phrase queries over sketches), so the position payload would be
    // dead weight rewritten in every touched bucket forever
    IncrementalPostings.mergeBatch(spark, batch, rootPath, scheme.sketch, numBuckets,
      keepPositions = false)
    registry.forEach { (key, root) =>
      if (root == rootPath) invalidateScope(key._2)
    }
  }

  /** Re-bucket the maintained shingle root to `newBuckets` — the sketch
    * family's [[IncrementalPostings.rescale]]: same swaps (the dstats
    * recompute is scheme-free — dl comes from the entries' own tf sums),
    * with the `_scheme` marker validated first so a rescale against the
    * wrong scheme still fails loudly. Derived session artifacts are
    * invalidated exactly as a merge invalidates them. */
  def rescale(spark: SparkSession, rootPath: String, newBuckets: Int,
              scheme: SketchScheme = WordShingles): Unit = {
    StateStore.ensureTag(spark, rootPath, "_scheme", scheme.name)
    IncrementalPostings.rescale(spark, rootPath, newBuckets)
    registry.forEach { (key, root) =>
      if (root == rootPath) invalidateScope(key._2)
    }
  }

  /** The maintained shingle inverted index in the batch builder's shape:
    * (s, sorted numeric doc ids), shingles over the DF cap dropped at
    * read. */
  def shingleIndex(spark: SparkSession, rootPath: String, dfCap: Int): DataFrame =
    IncrementalPostings.postings(spark, rootPath)
      .filter(col("df") <= dfCap)
      .select(col("tok").as("s"),
        sort_array(transform(col("ids"), _.cast("long"))).as("ids"))

  /** How much of the maintained shingle state the df cap is DROPPING —
    * (saturated shingle count, vocabulary fraction, posting-MASS
    * fraction): shingles with df > `dfCap` carry no near-dup signal but
    * quadratic candidate fan-out, so [[shingleIndex]] and the online
    * probe exclude them; this is the observability for that trade
    * (round-12 verdict task 4). The MASS fraction (Σ df of saturated
    * shingles / Σ df) is the decision metric: it is the share of entry
    * rows candidate generation never reads — when it grows past ~0.5 the
    * state is storing mostly crowd shingles and the per-token-df SIDECAR
    * (drop saturated shingles at MERGE time instead of read time,
    * SCALE.md's recorded trigger) starts paying for itself. None when
    * the root has no entries. Vocabulary-sized aggregate over the
    * entries — monitoring cadence, not per batch; reads df via
    * [[IncrementalPostings.vocabulary]] (a plain countDistinct), NOT
    * [[IncrementalPostings.postings]], whose per-token sorted id arrays
    * are posting-mass-sized shuffle/memory a df read never inspects
    * (round-13 ADVICE). */
  def dfSaturation(spark: SparkSession, rootPath: String,
                   dfCap: Int): Option[(Long, Double, Double)] = {
    if (StateStore.liveBuckets(spark, rootPath + "/entries").isEmpty)
      return None
    // served from the df sidecar when the root maintains one: the same
    // (tok, df) facts from two metadata columns — no entries scan, no
    // posting-list aggregation — so the monitoring read gets cheap
    // exactly when the state gets crowd-heavy
    def aggOf(vocabDf: org.apache.spark.sql.DataFrame) = vocabDf
      .agg(count(lit(1)).as("v"),
        count(when(col("df") > dfCap, 1)).as("sat"),
        sum(col("df")).as("mass"),
        coalesce(sum(when(col("df") > dfCap, col("df"))), lit(0L)).as("satmass"))
      .head()
    val sidecar = IncrementalPostings.dfsAll(spark, rootPath)
    var agg = aggOf(sidecar.getOrElse(
      IncrementalPostings.vocabulary(spark, rootPath)))
    if (sidecar.isDefined && agg.getLong(0) == 0L)
      // enabled-but-empty sidecar (the rescale crash window, healed by
      // the next merge): entries exist — the guard above said so — and a
      // monitoring pass must not read "nothing saturated" off a sidecar
      // that merely hasn't been backfilled; fall back to the entries
      agg = aggOf(IncrementalPostings.vocabulary(spark, rootPath))
    val (v, sat) = (agg.getLong(0), agg.getLong(1))
    if (v == 0L) None
    else Some((sat, sat.toDouble / v,
      agg.getLong(3).toDouble / math.max(1L, agg.getLong(2))))
  }

  /** Turn the per-token df sidecar ON for a maintained shingle root — the
    * remedy [[IngestPipeline.maintain]]'s `dfSidecarAdvised` recommends
    * once saturated posting mass crosses the advise threshold. Backfills
    * (tok, df) from the live entries and keeps it current on every later
    * merge; the probes ([[nearDuplicates]], [[nearDuplicatesBatch]], the
    * gate) then skip reading saturated shingles' posting lists instead of
    * reading-then-dropping them. Candidate sets and scores are unchanged
    * by contract — the sidecar moves I/O, not semantics. Single-writer
    * contract: run it from the maintenance cadence, not beside a live
    * merge. */
  def enableDfSidecar(spark: SparkSession, rootPath: String): Unit =
    IncrementalPostings.enableDfSidecar(spark, rootPath)

  /** Whether `rootPath` maintains the df sidecar. */
  def dfSidecarEnabled(spark: SparkSession, rootPath: String): Boolean =
    IncrementalPostings.dfSidecarEnabled(spark, rootPath)

  /** Query-time near-duplicate probe against the MAINTAINED state — the
    * ingestion-time dedup check a training-data pipeline runs per arriving
    * document, with no corpus scan anywhere (the online form of the batch
    * family's `q_dedup_near`; the reference's search-then-fetch topology
    * applied to dedup). Three steps:
    *
    *   1. the arriving text's own shingles (one doc — driver-side
    *      metadata, computed through the SAME column expression as the
    *      index's write side);
    *   2. candidate ids from the entries read bucket-pruned to those
    *      shingles ([[IncrementalPostings.prunedEntries]]), with the
    *      document-frequency cap applied exactly (a shingle's posting
    *      list is complete within its bucket): a shingle shared by more
    *      than `dfCap` docs carries no near-dup signal but quadratic
    *      fan-out — same recall contract as the batch family;
    *   3. the candidate list — bounded by dfCap × |query shingles| by
    *      construction — fetches its live rows from ONLY the doc buckets
    *      the candidates hash to (the HBase-Get shape), and the score is
    *      the EXACT Jaccard between the two shingle sets, recomputed
    *      from the fetched texts: candidates are cap-bounded, the
    *      reported score is uncapped truth.
    *
    * Per-query I/O: |query-shingle entry buckets| + |candidate doc
    * buckets|, never the index or the corpus. Two jobs — the entries
    * collect and the candidates' fetch; the score runs on the driver.
    * Returns (rowkey, jaccard) ≥ `threshold`, best match first, as a
    * local frame. */
  def nearDuplicates(spark: SparkSession, rootPath: String, text: String,
                     threshold: Double = 0.8,
                     dfCap: Int = graft.operators.Dedup.DfCap,
                     maxQueryShingles: Int = 0,
                     maxCandidates: Int = 0): DataFrame =
    nearDuplicatesWith(spark, rootPath, text, WordShingles, threshold, dfCap,
      maxQueryShingles, maxCandidates)

  /** [[nearDuplicates]] over a SPACE-FREE (CJK) maintained sketch state —
    * the online ingestion-time check for the reference's actual language:
    * candidates from the query sketch's bucket-pruned posting entries,
    * scored by the exact bottom-k sketch Jaccard recomputed from the
    * fetched live texts (the same score universe as the batch family's
    * `q_dedup_cjk` pairs). The state must have been merged with
    * `scheme = CharSketch`. */
  def nearDuplicatesChar(spark: SparkSession, rootPath: String, text: String,
                         threshold: Double = 0.8,
                         dfCap: Int = graft.operators.Dedup.SketchDfCap,
                         maxQueryShingles: Int = 0,
                         maxCandidates: Int = 0): DataFrame =
    nearDuplicatesWith(spark, rootPath, text, CharSketch, threshold, dfCap,
      maxQueryShingles, maxCandidates)

  /** `maxQueryShingles` (0 = unbounded, the default and the oracle-checked
    * exact contract) caps how many of the QUERY's shingles generate
    * candidates — the per-probe latency bound for a growing state. With
    * the full shingle set, a probe touches up to min(|qsh|, buckets)
    * entry buckets, and since a typical document has more distinct
    * shingles than the root has buckets, probe I/O degrades to the WHOLE
    * entries state as it grows (measured: 1.1 s at 1×, 8.1 s at 30× —
    * SCALE.md). Budgeted, the probe reads ≤ maxQueryShingles buckets —
    * with enough buckets, a fixed fraction of state per probe.
    *
    * Selection is the deterministic BOTTOM-K of crc32(shingle) — the
    * bottom-k-sketch estimator's selection, reproducible across runs and
    * engines, and uncorrelated with bucket assignment's crc32-mod-N only
    * in the low bits (different reduction of the same hash; candidate
    * generation needs any-shared-shingle, not distinct buckets, so
    * correlation is harmless). The recall trade against the exact
    * contract: a true near-dup at Jaccard J shares ≥ J/(1+J)… in
    * practice ≥ J of the query's shingles in expectation, so it escapes
    * K probed shingles only if ALL K land in the unshared minority —
    * ≤ (1−J)^K for hash-uncorrelated overlap (J=0.8, K=16 → ~6.6e-12);
    * adversarial corpora can do worse, which is why the default stays
    * exact. The SCORE is unchanged either way: exact Jaccard against the
    * FULL query sketch, recomputed from fetched texts — the budget bounds
    * candidate generation only, exactly like the df cap.
    *
    * `maxCandidates` (0 = unbounded) bounds the other growth axis — the
    * candidate doc FETCH. The shingle budget caps how many entry buckets
    * a probe reads, but on a corpus where candidates multiply with state
    * (verbatim replication, boilerplate families) the surviving posting
    * lists alone touch nearly every DOC bucket — measured: rescaling the
    * 10× root to 256 buckets cut the entries scan yet moved probe latency
    * only −8%, pinning the cost on the fetch. The bound consumes posting
    * lists RAREST shingle first (df ascending — Lucene's cost-ordering:
    * the rarest shared shingle is the most selective evidence, and a true
    * near-dup at Jaccard J shares ~J of the query's shingles, so it
    * appears in some rare list long before the budget fills) and stops
    * ADDING lists once the accumulated distinct-candidate set reaches the
    * budget — whole lists only, so the fetch is ≤ maxCandidates + dfCap
    * docs and the result stays deterministic. Same contract as the
    * shingle budget: candidate generation is bounded, the SCORE on every
    * surviving candidate is the exact full-sketch Jaccard. */
  private def nearDuplicatesWith(spark: SparkSession, rootPath: String,
                                 text: String, scheme: SketchScheme,
                                 threshold: Double, dfCap: Int,
                                 maxQueryShingles: Int = 0,
                                 maxCandidates: Int = 0): DataFrame = {
    requireScheme(spark, rootPath, scheme)
    val qsh = scheme.sketchLocal(text).distinct
    if (qsh.isEmpty) // too short to sketch: no candidates — empty, not an error
      return noDuplicates(spark)
    val probeSh =
      if (maxQueryShingles > 0 && qsh.size > maxQueryShingles) {
        def crc(s: String): Long = {
          val c = new java.util.zip.CRC32()
          c.update(s.getBytes("UTF-8")); c.getValue
        }
        qsh.sortBy(s => (crc(s), s)).take(maxQueryShingles)
      } else qsh
    // df sidecar prefilter (when the root maintains one —
    // [[enableDfSidecar]]): learn WHICH probe shingles are saturated from
    // (tok, df) rows proportional to the probe, and skip reading those
    // shingles' posting lists entirely — the crowd lists are the probe's
    // dominant read on a saturated corpus, and the exact path reads them
    // only to drop them at the cap. The read-side cap filter below stays
    // (defense in the sidecar's one-batch-stale crash window); scores are
    // text-derived and unaffected. An absent sidecar row means "read the
    // list" — staleness and partial backfill only cost I/O, never a
    // wrong skip... except the delete-window case every capped read
    // shares: a shingle whose df fell back under the cap is skipped until
    // the next merge touches its bucket, the same transient the gate's
    // torn-prefix clamp documents.
    val readSh = IncrementalPostings.dfsForTokens(spark, rootPath, probeSh)
      .map { dfs =>
        val sat = dfs.filter(col("df") > dfCap)
          .select("tok").collect().map(_.getString(0)).toSet
        probeSh.filterNot(sat)
      }.getOrElse(probeSh)
    if (readSh.isEmpty) // every probe shingle saturated: no candidates
      return noDuplicates(spark)
    // one collect of the pruned entries: per-shingle df and posting list
    // together on the driver, cap filter, then the union of surviving
    // posting lists — bounded by dfCap × |query shingles| by
    // construction, so the live-row fetch below prunes to the
    // candidates' own doc buckets (the HBase-Get shape).
    val lists = IncrementalPostings.prunedEntries(spark, rootPath, readSh)
      .select("tok", "doc_id").collect().toSeq
      .groupMap(_.getString(0))(_.getString(1)).toSeq
      .collect { case (tok, ids) if ids.size <= dfCap => (ids.size, tok, ids) }
    val candIds: Seq[String] =
      if (maxCandidates > 0) {
        // lists are consumed whole, rarest first, so membership — not the
        // order within a list — decides the set
        val acc = scala.collection.mutable.LinkedHashSet.empty[String]
        val it = lists.sortBy { case (df, tok, _) => (df, tok) }.iterator
        while (it.hasNext && acc.size < maxCandidates) acc ++= it.next()._3
        acc.toSeq
      } else lists.flatMap(_._3).distinct
    if (candIds.isEmpty)
      return noDuplicates(spark)
    // the fetch is the read's second job; the score runs on the driver:
    // |A∩B| of two distinct shingle sets, the Jaccard in Spark's double
    // division and 4-place HALF_UP round, ordered by Jaccard then rowkey
    // in Spark's string order
    val q = qsh.toSet
    val scored = probeFetch(spark, rootPath, candIds, scheme).collect().toSeq.flatMap { r =>
      val bs = r.getSeq[String](1)
      val c = bs.count(q).toLong
      val jaccard = IncrementalPostings.roundHalfUp(
        c.toDouble / (bs.size + qsh.length - c).toDouble, 4)
      if (jaccard >= threshold) Some(r.getString(0) -> jaccard) else None
    }
    IncrementalPostings.scoredFrame(spark, "rowkey", "jaccard",
      IncrementalPostings.topK(scored, scored.size))
  }

  /** The probe's empty answer, in its schema. */
  private def noDuplicates(spark: SparkSession): DataFrame =
    IncrementalPostings.scoredFrame(spark, "rowkey", "jaccard", Nil)

  /** The per-doc probe's candidate fetch, LAZY: the candidates' live rows
    * from only their own doc buckets ([[IncrementalPostings.prunedDocs]]),
    * sketched — (rowkey, bs), bs the distinct shingle set.
    * [[nearDuplicatesWith]] collects this and scores on the driver;
    * exposed so specs can pin the fetch's bucket pruning on the exact
    * frame the probe collects. */
  private[graft] def probeFetch(spark: SparkSession, rootPath: String,
      candIds: Seq[String], scheme: SketchScheme): DataFrame =
    IncrementalPostings.prunedDocs(spark, rootPath, candIds)
      .select(col("rowkey"), array_distinct(scheme.sketch(col("text"))).as("bs"))

  /** Batch form of [[nearDuplicates]] — a micro-batch of arriving
    * documents probes the maintained state at once (the shape an ingest
    * pipeline runs per batch, not per doc): candidates df-capped exactly
    * as the per-doc probe, scored by the exact Jaccard between the
    * arrival's sketch set and the candidate's live text. A flush-sized
    * batch runs on the driver in three jobs ([[nearDuplicatesBatchSketched]]);
    * a larger one runs the distributed plan, whose per-batch I/O is also
    * O(touched entry buckets + candidate doc buckets) — never the index,
    * never the corpus — which is what lets [[dedupGate]] run this on EVERY
    * ingest micro-batch. `docs` is (qid STRING, text), one row per qid:
    * rows with a null qid are dropped, and a qid on two rows fails the
    * call with an IllegalArgumentException, whichever path runs. Returns
    * (qid, rowkey, jaccard) ≥ `threshold`. */
  def nearDuplicatesBatch(spark: SparkSession, rootPath: String, docs: DataFrame,
                          threshold: Double = 0.8,
                          dfCap: Int = graft.operators.Dedup.DfCap,
                          scheme: SketchScheme = WordShingles,
                          maxCandidates: Int = 0): DataFrame =
    nearDuplicatesBatchSketched(spark, rootPath,
      docs.select(col("qid"),
        array_sort(array_distinct(scheme.sketch(col("text")))).as("qs"))
        .localCheckpoint(),
      threshold, dfCap, scheme, maxCandidates)

  /** [[nearDuplicatesBatch]] over PRE-SKETCHED queries — `sk` is (qid,
    * qs ARRAY<STRING>), the distinct sketch set per doc, SORTED ascending.
    * The gate computes one sketch pass per batch and threads it through
    * this probe AND the intra-batch pass ([[gateDecisions]]). `sk` should
    * be materialized (localCheckpoint): both paths read it more than once.
    *
    * Two paths, the same rows, chosen by [[probeOnDriver]]:
    *   - on the driver ([[probeLocal]]) when `sk` holds at most
    *     `maxLocalRows` (qid, shingle) rows and the entry buckets its
    *     tokens hash to hold at most `maxEntryRows` rows — three jobs:
    *     the bounded collect of `sk`, one collect of the entry rows, one
    *     |B| fetch; one job, the collect of `sk`, when the root holds no
    *     live entry bucket;
    *   - otherwise the distributed plan ([[probeDistributed]]), or no
    *     job past the bounded collect when the root holds no entry.
    *
    * Null qids are dropped; a repeated qid throws on either path (the
    * driver path finds it in the collected rows, the distributed one
    * with one aggregate job), since the two would score its rows
    * differently.
    *
    * `maxCandidates` (0 = unbounded, the exact default) is the per-doc
    * probe's candidate budget in batch form: per qid, posting lists are
    * consumed RAREST shingle first (df ascending, tok tiebreak in Spark's
    * string order) and a list is taken only while the ids consumed BEFORE
    * it stay under the budget — whole lists, so each qid's candidate set
    * is ≤ budget + dfCap and the selection is deterministic. One
    * difference from the per-doc form, documented rather than hidden: the
    * running count here is PRE-dedup (the distributed plan's windowed sum
    * over list sizes — a distinct-count running total is not expressible
    * as a window — and the driver path keeps that sum), so on
    * replica-heavy states the batch form stops a list or two earlier than
    * the per-doc form would; both bound the fetch identically and both
    * keep the rarest (most selective) evidence first. Scores on every
    * surviving candidate are the exact capped Jaccard either way. */
  private[graft] def nearDuplicatesBatchSketched(spark: SparkSession,
      rootPath: String, sk: DataFrame, threshold: Double, dfCap: Int,
      scheme: SketchScheme, maxCandidates: Int = 0,
      maxLocalRows: Long = LocalScoreMaxRows,
      maxEntryRows: Long = LocalProbeMaxEntryRows): DataFrame = {
    requireScheme(spark, rootPath, scheme)
    val stored = hasEntries(spark, rootPath)
    val keyed = sk.filter(col("qid").isNotNull)
    probeOnDriver(spark, rootPath, keyed, "qid", stored, threshold, dfCap, scheme,
        maxCandidates, maxLocalRows, maxEntryRows) match {
      case Some((rows, matches)) =>
        val seen = scala.collection.mutable.HashSet[String]()
        requireOneRowPerQid(rows.iterator.map(_._1).find(!seen.add(_)))
        matchesFrame(spark, matches)
      case None =>
        requireOneRowPerQid(keyed.groupBy("qid").count().filter(col("count") > 1)
          .select("qid").limit(1).collect().headOption.map(_.getString(0)))
        if (stored) probeDistributed(spark, rootPath, keyed, threshold, dfCap, scheme,
          maxCandidates)
        else matchesFrame(spark, Nil)
    }
  }

  private def requireOneRowPerQid(repeated: Option[String]): Unit =
    repeated.foreach(q => throw new IllegalArgumentException(
      s"nearDuplicatesBatch takes one row per qid; qid '$q' is on more than one"))

  /** Whether the root holds a live entry bucket: without one no batch
    * has a candidate, and neither probe reads the state. */
  private def hasEntries(spark: SparkSession, rootPath: String): Boolean =
    StateStore.liveBuckets(spark, rootPath + "/entries").nonEmpty

  /** The batch probe's path choice, one place for [[nearDuplicatesBatchSketched]]
    * and the gate: `sk`'s (key, qs) rows collected under `maxRows`
    * ([[boundedRows]]), then their matches from [[probeLocal]] under
    * `maxEntryRows` — none, and no further job, when the root holds no
    * entry (`stored` false). Returns the collected rows with their
    * matches, or None when the batch or its tokens' entry buckets pass
    * their bound and the caller must run the distributed plan. */
  private def probeOnDriver(spark: SparkSession, rootPath: String, sk: DataFrame,
      key: String, stored: Boolean, threshold: Double, dfCap: Int,
      scheme: SketchScheme, maxCandidates: Int,
      maxRows: Long, maxEntryRows: Long
  ): Option[(Array[(String, Array[String])], Seq[(String, String, Double)])] =
    boundedRows(sk, key, maxRows).flatMap { rows =>
      if (!stored) Some(rows -> Nil)
      else probeLocal(spark, rootPath, rows, threshold, dfCap, scheme, maxCandidates,
        maxEntryRows).map(rows -> _)
    }

  /** Probe matches (qid, rowkey, jaccard) as a local frame. */
  private def matchesFrame(spark: SparkSession,
                           matches: Seq[(String, String, Double)]): DataFrame =
    IncrementalPostings.local(spark, (StructType(Seq(
        StructField("qid", StringType), StructField("rowkey", StringType),
        StructField("jaccard", DoubleType))),
      matches.map { case (q, k, j) => Row(q, k, j) }.toArray))

  /** The batch probe on the driver, for a collected batch `sk` of (qid,
    * sorted distinct sketch set), one row per qid. One collect of the
    * batch tokens' entry rows ([[IncrementalPostings.batchEntries]]) when
    * the entry buckets it reads hold at most `maxRows` rows by their
    * parquet footers ([[StateStore.bucketRows]]: no job, and the collect
    * cannot pass it); None otherwise, before any read, and the caller
    * runs the distributed plan. Then, on the driver, the distributed plan's steps
    * over the same rows: df as the token's entry-row count, the `dfCap`
    * cut, the candidates (the `maxCandidates` rule included), the exact
    * overlap |A∩B| as the count of a candidate's entry rows among the
    * qid's tokens (uncapped: the cap bounds candidate generation, never
    * the score), |B| from one [[candidateSizes]] fetch, the `least(c, na,
    * nb)` clamp of the torn-prefix window, and the Jaccard rounded like
    * Spark's `round(x, 4)`. A candidate with no live doc scores nothing,
    * as the distributed inner join drops it. No tokens: no matches, and
    * no job. The caller has checked that the root holds entries. */
  private def probeLocal(spark: SparkSession, rootPath: String,
      sk: Array[(String, Array[String])], threshold: Double, dfCap: Int,
      scheme: SketchScheme, maxCandidates: Int,
      maxRows: Long): Option[Seq[(String, String, Double)]] = {
    import scala.collection.mutable
    val toks = sk.iterator.flatMap(_._2).toSet
    if (toks.isEmpty) return Some(Nil)
    val dirs = IncrementalPostings.entryDirsFor(spark, rootPath, toks)
    if (StateStore.bucketRows(spark, rootPath + "/entries", dirs) > maxRows) return None
    Some(IncrementalPostings.batchEntries(spark, rootPath, toks, dirs).collect()
        .map(r => (r.getString(0), r.getString(1))))
      .map { rows =>
        // docs as dense ranks; per token, its posting list as one rank per
        // entry row
        val docRank = mutable.HashMap[String, Int]()
        val docs = mutable.ArrayBuffer[String]()
        val lists = mutable.HashMap[String, mutable.ArrayBuilder.ofInt]()
        rows.foreach { case (tok, doc) =>
          val d = docRank.getOrElseUpdate(doc, { docs += doc; docs.length - 1 })
          lists.getOrElseUpdate(tok, new mutable.ArrayBuilder.ofInt) += d
        }
        val posting = lists.map { case (t, b) => t -> b.result() }
        // the candidate lists: df = entry rows ≤ dfCap, ids distinct
        val capped = posting.collect { case (t, ds) if ds.length <= dfCap => t -> ds.distinct }
        // per qid, overlap counts over every posting row of its tokens
        // (one dense array, reset through the touched list), and the
        // (qid, candidate, c) triples
        val c = new Array[Int](docs.length)
        val touched = mutable.ArrayBuffer[Int]()
        val isCand = new Array[Boolean](docs.length)
        val pairs = sk.map { case (qid, qs) =>
          qs.foreach(t => posting.get(t).foreach(_.foreach { d =>
            if (c(d) == 0) touched += d
            c(d) += 1
          }))
          val hits = qs.flatMap(t => capped.get(t).map(ids => (posting(t).length, t, ids)))
          val taken =
            if (maxCandidates <= 0) hits
            else {
              var consumed = 0L
              hits.sortWith { case ((dfa, ta, _), (dfb, tb, _)) =>
                if (dfa != dfb) dfa < dfb else IncrementalPostings.sparkStringOrder.lt(ta, tb)
              }.takeWhile { case (_, _, ids) =>
                val take = consumed < maxCandidates
                consumed += ids.length
                take
              }
            }
          val cands = mutable.ArrayBuffer[(Int, Int)]()
          taken.foreach(_._3.foreach { d =>
            if (!isCand(d)) { isCand(d) = true; cands += d -> c(d) }
          })
          cands.foreach { case (d, _) => isCand(d) = false }
          touched.foreach(c(_) = 0)
          touched.clear()
          (qid, qs.length.toLong, cands)
        }
        val candDocs = pairs.iterator.flatMap(_._3.iterator.map(p => docs(p._1))).toSet
        val nb: Map[String, Long] =
          if (candDocs.isEmpty) Map.empty
          else candidateSizes(spark, rootPath, candDocs, scheme).collect()
            .map(r => r.getString(0) -> r.getLong(1)).toMap
        pairs.toSeq.flatMap { case (qid, na, cands) =>
          cands.flatMap { case (d, overlap) =>
            nb.get(docs(d)).flatMap { b =>
              val n = math.min(overlap.toLong, math.min(na, b))
              val jaccard = IncrementalPostings.roundHalfUp(n.toDouble / (b + na - n).toDouble, 4)
              if (jaccard >= threshold) Some((qid, docs(d), jaccard)) else None
            }
          }
        }
      }
  }

  /** The driver probe's |B| fetch, LAZY: (rowkey, nb) — the size of each
    * candidate's live sketch set, one long per doc — from only the
    * candidates' own doc buckets, the keys in a broadcast set
    * ([[IncrementalPostings.hitDocs]]). Exposed so specs can pin its
    * buckets. */
  private[graft] def candidateSizes(spark: SparkSession, rootPath: String,
      cands: Set[String], scheme: SketchScheme): DataFrame =
    IncrementalPostings.hitDocs(spark, rootPath, cands)
      .select(col("rowkey"),
        size(array_distinct(scheme.sketch(col("text")))).cast("long").as("nb"))

  /** The batch probe as one distributed plan — [[nearDuplicatesBatchSketched]]
    * for a batch or an entries read past the driver bound: one shingle
    * explode over the batch, the entries read BUCKET-PRUNED to the
    * batch's shingles (the shingle VALUES are data, but the bucket ids
    * they hash to are driver metadata bounded by the bucket count —
    * [[IncrementalPostings.entryBucketDirsForFrame]], the same
    * touched-bucket collect the merge itself runs), per-shingle df and
    * posting list aggregated together, candidates df-capped, then the
    * candidate rows fetched from ONLY the doc buckets the candidates
    * hash to ([[IncrementalPostings.prunedDocsForKeys]]). The caller has
    * checked that the root holds entries. */
  private def probeDistributed(spark: SparkSession, rootPath: String,
      sk: DataFrame, threshold: Double, dfCap: Int, scheme: SketchScheme,
      maxCandidates: Int): DataFrame = {
    val qsh = sk.select(col("qid"), explode(col("qs")).as("tok"))
    // read twice (hit aggregation + overlap count) rather than
    // checkpointed: the pruned bucket scan is ~1 s while materializing
    // the full pre-cap entry rows costs more than the second scan
    val allToks = qsh.select("tok").distinct()
    // ONE distinct-bucket-id driver job serves every tok-keyed pruned
    // read of this probe (round-17 verdict #2): the entries read, the
    // dfs-sidecar read (pinned to the same bucket count), and the
    // candidate-entries read below previously each ran their own
    // identical metadata job per batch — three of the probe's per-batch
    // fixed-cost jobs collapsed into this one collect.
    val tokDirs = IncrementalPostings.entryBucketDirsForFrame(spark, rootPath,
      allToks)
    val entries = IncrementalPostings.prunedEntriesForTokensIn(spark, rootPath,
        tokDirs, allToks)
      .select(col("tok"), col("doc_id").as("rowkey"))
    // df sidecar prefilter for CANDIDATE GENERATION only (same contract
    // as the per-doc probe): saturated batch shingles' posting lists are
    // never aggregated into hit sets they'd be dropped from anyway. The
    // OVERLAP count below deliberately keeps reading ALL batch shingles'
    // entries — shared high-df shingles still count toward the score
    // (the df cap bounds candidate generation, never the score), so the
    // sidecar cannot change a single admitted/dropped verdict, only the
    // I/O of finding the candidates. Job count is unchanged: the exact
    // path already scanned the entries twice (hit + overlap).
    val candToks = IncrementalPostings
      .dfsForTokensFrameIn(spark, rootPath, tokDirs, allToks)
      .map(dfs => allToks.join(
        dfs.filter(col("df") > dfCap).select("tok"), Seq("tok"), "left_anti"))
      .getOrElse(allToks)
    // candToks ⊆ allToks, so its touched dirs ⊆ tokDirs and the token
    // join restricts the rows identically — reusing the resolved dirs
    // trades a (possibly) wider scan for one fewer driver job per batch
    val candEntries =
      if (candToks eq allToks) entries
      else IncrementalPostings.prunedEntriesForTokensIn(spark, rootPath,
          tokDirs, candToks)
        .select(col("tok"), col("doc_id").as("rowkey"))
    val hit = candEntries
      .groupBy("tok")
      .agg(count(lit(1)).as("df"), collect_set(col("rowkey")).as("ids"))
      .filter(col("df") <= dfCap)
    // df-cap-bounded by construction (≤ dfCap × |batch shingles| rows);
    // checkpointed so the fetch's bucket-id collect and the join read one
    // materialization
    val candPairs =
      if (maxCandidates > 0) {
        // rarest-first per qid: one window over batch-sized rows (the
        // df-capped hits joined back to their qids), lists kept whole
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("qid").orderBy(col("df"), col("tok"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
        hit.join(qsh, "tok")
          .withColumn("consumed", coalesce(sum(size(col("ids"))).over(w), lit(0L)))
          .filter(col("consumed") < maxCandidates)
          .select(col("qid"), explode(col("ids")).as("rowkey"))
      } else
        hit.select(col("tok"), explode(col("ids")).as("rowkey"))
          .join(qsh, "tok")
          .select(col("qid"), col("rowkey"))
    val cands = candPairs.distinct().localCheckpoint()
    // EXACT |A∩B| per candidate pair from the entries already read: every
    // shared shingle is by definition one of the batch's shingles, whose
    // posting bucket the pruned read opened — so counting matched (tok,
    // doc) rows per pair over the UNCAPPED entries reproduces exactly the
    // intersection the fetched-text merge scan used to compute (the df
    // cap bounds candidate GENERATION only; shared high-df shingles still
    // count toward the score). This replaces the old shape — candidate
    // texts re-sketched and both shingle ARRAYS carried through the pair
    // join into a per-pair merge scan — with a count aggregate over rows
    // the probe had already materialized: the arrays never move, and the
    // per-pair work is a hash-aggregate increment (measured: the array
    // score join was ~5 s of the 9 s steady-state gate at sf0.1).
    // Join order matters: restricting entries to candidate DOCS first
    // keeps the intermediate at Σ_tok |cand docs with tok| × |batch docs
    // with tok| — bounded by batch-sized quantities (candidate docs are
    // dfCap × |batch shingles| by construction, the batch is flush-sized)
    // and measured fastest; expanding pairs × |A| first doubled the
    // probe's wall-clock (the pair×shingle fan-out shuffles before
    // anything filters).
    // left_semi instead of distinct+inner: same row set (entries rows
    // with ≥1 candidate match, never duplicated), one aggregate exchange
    // fewer per batch
    val overlap = entries
      .join(cands.select("rowkey"), Seq("rowkey"), "left_semi")
      .join(qsh, "tok")
      .join(cands, Seq("qid", "rowkey"))
      .groupBy("qid", "rowkey").agg(count(lit(1)).as("c"))
    // |B| rides as ONE long per candidate doc (sketch size of the live
    // text — same universe the entries were written from), never an array
    val bSize = IncrementalPostings.prunedDocsForKeys(spark, rootPath,
        cands.select("rowkey"))
      .select(col("rowkey"),
        size(array_distinct(scheme.sketch(col("text")))).cast("long").as("nb"))
    overlap.join(bSize, "rowkey")
      .join(sk.select(col("qid"), size(col("qs")).cast("long").as("na")), "qid")
      // least() clamps the transient torn-prefix window where a crash
      // left entries a bucket ahead of docs (replay heals it) — a score
      // above 1.0 must never decide an admission
      .withColumn("c", least(col("c"), col("na"), col("nb")))
      .withColumn("jaccard",
        round(col("c") / (col("nb") + col("na") - col("c")), 4))
      .filter(col("jaccard") >= threshold)
      .select("qid", "rowkey", "jaccard")
  }

  /** Rowkeys to DROP among one batch's own documents. Near-dup pairs at
    * `threshold` are generated within the batch (df-capped shingle
    * buckets → posting-list pair expansion — `Dedup.pairsFromBuckets`'s
    * shape, batch-sized); per-doc shingle counts come from the SAME
    * capped buckets, so the score is exactly the batch family's
    * (`Dedup.nearDupPairs`) capped Jaccard — intersection and set sizes
    * measured over the same shingle universe, never a capped numerator
    * against uncapped denominators. `docs` carries an `exists` flag (the
    * rowkey is already live in the maintained state — i.e. the put is an
    * UPDATE): an update is never dropped in favor of a novel arrival —
    * dropping it would discard the changelog's newer content and leave
    * the stale version live — so for each pair the NOVEL member goes
    * (the larger-keyed one when both are novel; neither when both are
    * updates, since both documents are already in the corpus and the
    * state pass with its self-exemption admitted them). Among novel
    * members this keeps every local minimum — a maximal-independent-set
    * rule that admits strictly more data than component-minimum under
    * the same pairwise-near-dup-free invariant (near-dup is not
    * transitive). */
  private[graft] def intraBatchDrops(docs: DataFrame, threshold: Double,
                                     dfCap: Int): DataFrame = {
    // docs is (rowkey, qs ARRAY<STRING>, exists) — qs is the doc's
    // distinct sketch set, computed ONCE by the gate and threaded here
    val sh = docs.select(col("rowkey"), explode(col("qs")).as("s"))
    val buckets = sh.groupBy("s")
      .agg(sort_array(collect_set(col("rowkey"))).as("ids"))
      .filter(size(col("ids")) <= dfCap)
    val co = graft.operators.Dedup.pairsFromBuckets(buckets, "ids")
      .groupBy("da", "db").agg(count(lit(1)).as("c"))
    // per-doc counts over the CAPPED buckets — same universe as c
    val cnt = buckets.select(explode(col("ids")).as("rowkey"))
      .groupBy("rowkey").agg(count(lit(1)).as("nsh"))
    val ex = docs.select("rowkey", "exists")
    val pairs = co
      .join(cnt.select(col("rowkey").as("da"), col("nsh").as("na")), "da")
      .join(cnt.select(col("rowkey").as("db"), col("nsh").as("nb")), "db")
      .filter(round(col("c") / (col("na") + col("nb") - col("c")), 4) >= threshold)
      .join(ex.select(col("rowkey").as("da"), col("exists").as("ea")), "da")
      .join(ex.select(col("rowkey").as("db"), col("exists").as("eb")), "db")
    // pairs are ordered da < db (sorted bucket arrays): drop db unless it
    // is an update; drop da when it is novel and db is the update. Each
    // dropped key carries the partner it lost to (smallest partner when
    // several) — the audit trail's `dup_of`.
    pairs.filter(!col("eb")).select(col("db").as("rowkey"), col("da").as("dup_of"))
      .unionByName(pairs.filter(!col("ea") && col("eb"))
        .select(col("da").as("rowkey"), col("db").as("dup_of")))
      .groupBy("rowkey").agg(min(col("dup_of")).as("dup_of"))
  }

  /** The driver bound of the gate's probe and score phases: the largest
    * batch, in (rowkey, shingle) rows, whose state probe ([[probeLocal]])
    * and intra-batch score ([[intraBatchDropsLocal]]) run on the driver.
    * A larger batch (a bootstrap's `dedupWithin` over a whole corpus)
    * runs the distributed plans. Measured on local[4], the score phase
    * against a 2,000-doc state (records/SCORE_CROSSOVER.json): the
    * driver path is faster at every size tried, 0.6 s against 2.5 s at
    * 1k docs (53k rows) and 10.6 s against 21.2 s at 16k docs (849k
    * rows). */
  private[graft] val LocalScoreMaxRows: Long = 500000L

  /** The largest entries read the driver probe ([[probeLocal]]) takes, in
    * rows of the entry buckets the batch's tokens hash to, counted from
    * their parquet footers before the read. Set by the driver's memory,
    * not by speed: a 1,000-doc batch against growing states
    * (records/GATE_PROBE_CROSSOVER.json) ran on the driver 1.8–4× faster
    * than the distributed plan at every size up to 2.8M entry rows, but
    * in a 1 GB heap it completed at 2.84M rows, and at 5.63M its first
    * step, the entries collect, ran out of memory. One million rows stays 2.8× under the 1 GB success, so every
    * heap the repo runs Spark with (2 GB and up) holds it beside the rest
    * of the session; past it the distributed plan runs, which holds no
    * entry row on the driver. */
  private[graft] val LocalProbeMaxEntryRows: Long = 1000000L

  /** The gate's `score` phase — which state-pass survivors (rowkey, qs)
    * to drop within the batch, as (rowkey, dup_of). At most
    * `maxLocalRows` (rowkey, shingle) rows: the survivors are collected
    * once and scored on the driver ([[scoreLocal]]) — two jobs. Above it:
    * the distributed plan, each survivor flagged as an UPDATE by a
    * key-fetch against only the batch keys' own doc buckets, checkpointed
    * so the final decisions select — the frame the admission log's
    * durable write executes — is a cheap join of checkpointed
    * batch-bounded inputs, and `log_commit` measures the write, not a
    * replay of the scoring plan. Both paths return the same rows. */
  private[graft] def scoreSurvivors(spark: SparkSession, rootPath: String,
      survivors: DataFrame, threshold: Double, dfCap: Int,
      maxLocalRows: Long = LocalScoreMaxRows): DataFrame =
    boundedRows(survivors, "rowkey", maxLocalRows) match {
      case Some(rows) =>
        import spark.implicits._
        scoreLocal(spark, rootPath, rows.toSeq, threshold, dfCap).toDF("rowkey", "dup_of")
      case None =>
        val existing = IncrementalPostings
          .prunedDocsForKeys(spark, rootPath, survivors.select("rowkey"))
          .select(col("rowkey"), lit(true).as("exists"))
        val flagged = survivors.join(existing, Seq("rowkey"), "left_outer")
          .select(col("rowkey"), col("qs"),
            coalesce(col("exists"), lit(false)).as("exists"))
        intraBatchDrops(flagged, threshold, dfCap).localCheckpoint()
    }

  /** The score phase on collected survivors: each one flagged as an
    * UPDATE when its rowkey is already live in the state — the
    * driver-keyed [[IncrementalPostings.prunedDocs]], one job, none when
    * there are no survivors — then [[intraBatchDropsLocal]]. */
  private def scoreLocal(spark: SparkSession, rootPath: String,
      rows: Seq[(String, Array[String])], threshold: Double,
      dfCap: Int): Seq[(String, String)] = {
    val keys = rows.map(_._1)
    val stored =
      if (keys.isEmpty) Set.empty[String]
      else IncrementalPostings.prunedDocs(spark, rootPath, keys)
        .select("rowkey").collect().map(_.getString(0)).toSet
    intraBatchDropsLocal(rows.map { case (k, qs) => (k, qs.toSeq, stored(k)) },
      threshold, dfCap)
  }

  /** `df`'s (key, qs) rows on the driver when their `qs` sizes total at
    * most `maxRows`, else None — in ONE job that moves at most about
    * `maxRows` shingles whatever the frame holds: each of the frame's p
    * partitions stops shipping once its own total passes `maxRows / p`,
    * and a partition past that share answers None for the whole call. So
    * a frame skewed across its partitions can answer None below the
    * bound; the callers' distributed plans return the same rows. */
  private def boundedRows(df: DataFrame, key: String,
      maxRows: Long): Option[Array[(String, Array[String])]] = {
    val rdd = df.select(key, "qs").rdd
    val share = maxRows / math.max(1, rdd.getNumPartitions)
    val parts = rdd.mapPartitions { it =>
      var n = 0L
      val out = Array.newBuilder[(String, Array[String])]
      while (it.hasNext && n <= share) {
        val r = it.next()
        val qs = if (r.isNullAt(1)) Array.empty[String] else r.getSeq[String](1).toArray
        n += qs.length
        out += r.getString(0) -> qs
      }
      Iterator.single((n > share, out.result()))
    }.collect()
    if (parts.exists(_._1)) None
    else Some(parts.flatMap(_._2))
  }

  /** [[intraBatchDrops]] computed on the driver for a batch-bounded
    * survivor set of (rowkey, qs, exists): the same df-capped buckets,
    * pair counts and per-doc counts over the capped universe, the same
    * 4-place HALF_UP rounding of the Jaccard (Spark's `round` on a double
    * rounds its shortest decimal form, `BigDecimal.valueOf`), and the same
    * update-vs-novel drop rule. Keys order the way Spark orders strings
    * — by UTF-8 bytes, unsigned, not by UTF-16 code units — so the same
    * member of a pair is `da`, and the same partner wins `min(dup_of)`. */
  private[graft] def intraBatchDropsLocal(docs: Seq[(String, Seq[String], Boolean)],
      threshold: Double, dfCap: Int): Seq[(String, String)] = {
    import scala.collection.mutable
    val keys = docs.map(_._1).distinct.sorted(IncrementalPostings.sparkStringOrder).toArray
    val rank = keys.iterator.zipWithIndex.toMap
    val exists = new Array[Boolean](keys.length)
    val members = mutable.HashMap[String, mutable.ArrayBuffer[Int]]()
    docs.foreach { case (k, qs, ex) =>
      val r = rank(k)
      exists(r) ||= ex
      qs.foreach(s => members.getOrElseUpdate(s, mutable.ArrayBuffer[Int]()) += r)
    }
    // the capped buckets (member ranks ascending) and, per doc, the
    // capped buckets holding it — its count over the capped universe
    val buckets = members.valuesIterator.map(_.distinct.sorted.toArray)
      .filter(_.length <= dfCap).toArray
    val docBuckets = Array.fill(keys.length)(mutable.ArrayBuilder.make[Int])
    buckets.indices.foreach(i => buckets(i).foreach(r => docBuckets(r) += i))
    val held = docBuckets.map(_.result())
    // dropped key → the smallest partner it lost to
    val dupOf = Array.fill(keys.length)(-1)
    def drop(r: Int, partner: Int): Unit =
      if (dupOf(r) < 0 || partner < dupOf(r)) dupOf(r) = partner
    // pair counts of a with every b > a in key order, accumulated in one
    // dense array (reset through the touched list) — no map of pairs
    val co = new Array[Int](keys.length)
    val touched = mutable.ArrayBuffer[Int]()
    var a = 0
    while (a < keys.length) {
      held(a).foreach { i =>
        val ids = buckets(i)
        var j = java.util.Arrays.binarySearch(ids, a) + 1
        while (j < ids.length) {
          val b = ids(j)
          if (co(b) == 0) touched += b
          co(b) += 1
          j += 1
        }
      }
      touched.foreach { b =>
        val c = co(b).toLong
        val jaccard = IncrementalPostings.roundHalfUp(
          c.toDouble / (held(a).length + held(b).length - c).toDouble, 4)
        if (jaccard >= threshold) {
          if (!exists(b)) drop(b, a) else if (!exists(a)) drop(a, b)
        }
        co(b) = 0
      }
      touched.clear()
      a += 1
    }
    dupOf.indices.filter(dupOf(_) >= 0).map(r => (keys(r), keys(dupOf(r))))
  }

  /** The gate's per-rowkey verdicts — (rowkey, verdict, dup_of) for every
    * put rowkey in the batch, verdict ∈ {admitted, state_dup, batch_dup};
    * `dup_of` names what the drop lost to (the best-matching stored
    * rowkey for a state_dup — highest Jaccard, smallest key on ties —
    * or the surviving intra-batch partner for a batch_dup; null for
    * admitted), so the audit log answers "against WHAT" and not just
    * "why".
    * Decisions are per ROWKEY over the batch's LATEST event (the version
    * the merge would keep — an early superseded version must not veto its
    * own rewrite). Two passes:
    *
    *   1. AGAINST THE MAINTAINED STATE (`state_dup`): rowkeys whose
    *      latest text already has a near-duplicate in the state (at
    *      `threshold`) — via the bucket-pruned [[nearDuplicatesBatch]],
    *      so the per-batch I/O is O(touched buckets), never the index;
    *   2. WITHIN THE BATCH (`batch_dup`): two near-identical documents
    *      arriving in the SAME micro-batch (invisible to pass 1 when both
    *      are novel) are deduped against each other ([[intraBatchDrops]]):
    *      the novel member of each pair is dropped (the larger-keyed one
    *      when both are novel; updates to already-stored documents are
    *      never sacrificed for a novel arrival), so the admitted set adds
    *      no near-dup pair to the corpus.
    *
    * This is the gate's decision procedure split from its filter so the
    * decisions themselves are a value — [[IngestPipeline]] commits them
    * durably BEFORE any merge and replays them verbatim after a crash
    * (the gate reads the very state its pipeline advances, so re-deciding
    * against half-merged state could admit a different set; a logged
    * decision cannot).
    *
    * `maxCandidates` (0 = exact, the default) bounds pass 1's per-doc
    * candidate fetch rarest-shingle-first
    * ([[nearDuplicatesBatchSketched]]) — the latency knob for a gate
    * running against a long-lived state. The budget is part of the
    * decision procedure: selection is deterministic, so crash replay of
    * an UNLOGGED batch re-derives the same decisions, and logged
    * decisions replay verbatim regardless. The trade is the documented
    * one — a true near-dup can escape a filled budget, admitting a
    * duplicate the exact gate would have dropped (and, second-order, a
    * doc that escapes pass 1 re-enters the intra-batch pass, which can
    * shift WHICH member of an intra-batch pair is kept — the admitted
    * set is still pairwise-near-dup-free within the batch). */
  def gateDecisions(spark: SparkSession, rootPath: String, batch: DataFrame,
                    threshold: Double = 0.8,
                    scheme: SketchScheme = WordShingles,
                    maxCandidates: Int = 0,
                    clock: PhaseClock = new PhaseClock): DataFrame =
    gateDecisionsBody(spark, rootPath, batch, threshold, scheme,
      maxCandidates, clock, LocalScoreMaxRows)

  /** Execution settings for the gate's SKETCH action (round-18, guide
    * §1.2 order: measured before changed). Interleaved A/Bs of a
    * multi-batch ingest sample at three scopes:
    *   - whole gate: sketch 2.6→1.1 s/5 batches, probe neutral, score
    *     6.7→20.5/23.9 s — AQE's runtime join replanning is LOAD-BEARING
    *     in the intra-batch scoring pass, so AQE stays on there;
    *   - sketch only (this shape): the phase is one flush-bounded
    *     groupBy + sketch projection with no joins for AQE to replan —
    *     AQE off removes only the per-query-stage job dispatches.
    * Shuffle partitions are defaultParallelism (NOT a local-mode
    * constant: at any cluster size that is the core count, the right
    * width for flush-bounded shuffles) so a production session sized for
    * large analytic shuffles does not launch 2000-task stages on
    * batch-sized frames once AQE is not there to coalesce them.
    *
    * The settings live on a private session of the caller's context,
    * made once per context ([[Bridge.isolatedSession]]); the sketch plan
    * is re-bound to it, checkpointed there, and the checkpoint re-bound
    * to the caller's session. The caller's conf is never written, so
    * overlapping gate calls and unrelated queries on the same session
    * plan exactly as they would without the gate. */
  private def onSketchSession(spark: SparkSession)(df: DataFrame): DataFrame = {
    sketchSessions.keySet.removeIf(_.isStopped)
    val iso = sketchSessions.computeIfAbsent(spark.sparkContext, sc =>
      Bridge.isolatedSession(spark, Map(
        "spark.sql.adaptive.enabled" -> "false",
        "spark.sql.shuffle.partitions" -> sc.defaultParallelism.toString)))
    Bridge.rebind(spark, Bridge.rebind(iso, df).localCheckpoint())
  }

  private val sketchSessions = new java.util.concurrent.ConcurrentHashMap[
    org.apache.spark.SparkContext, SparkSession]()

  /** [[gateDecisions]] with its driver bound: a batch of at most
    * `maxLocalRows` (rowkey, shingle) rows — a flush — whose tokens' entry
    * buckets hold at most [[LocalProbeMaxEntryRows]] rows is probed,
    * scored and decided on the driver ([[probeLocal]], [[scoreLocal]]),
    * and the decisions are a local frame; otherwise the distributed
    * plans run. Both give the same decisions. */
  private[graft] def gateDecisionsBody(spark: SparkSession, rootPath: String,
                    batch: DataFrame, threshold: Double,
                    scheme: SketchScheme, maxCandidates: Int,
                    clock: PhaseClock, maxLocalRows: Long): DataFrame = {
    val puts = batch.filter(col("op") =!= "delete")
    // document granularity first: the latest event per rowkey is what the
    // merge would keep, so it alone decides admission for the rowkey.
    // The sketch set is computed HERE, once — the state probe, the
    // intra-batch pass, and the score join all read the same
    // materialized arrays (sketching used to run three times per gate)
    // Phase attribution (`clock`): each phase ends in a collect or an
    // eager localCheckpoint, so each phase's wall time is REAL when it
    // runs — `sketch` (latest-event dedup + sketch arrays), `probe` (the
    // bucket-pruned state probe + survivor set), `score` (the
    // update-flag key fetch + intra-batch pair scoring). The default
    // clock is a discarded accumulator — zero behavior change for
    // untimed callers.
    val latest = clock.time("sketch")(onSketchSession(spark)(
      puts.groupBy("rowkey")
        .agg(max_by(col("text"), col("event_id")).as("text"))
        .select(col("rowkey"),
          array_sort(array_distinct(scheme.sketch(col("text")))).as("qs"))))
    val (stored, onDriver) = clock.time("probe") {
      requireScheme(spark, rootPath, scheme)
      val stored = hasEntries(spark, rootPath)
      (stored, probeOnDriver(spark, rootPath, latest, "rowkey", stored, threshold,
        scheme.dfCap, scheme, maxCandidates, maxLocalRows, LocalProbeMaxEntryRows))
    }
    onDriver match {
      case Some((rows, matches)) =>
        decideLocal(spark, rootPath, rows.toSeq, matches, threshold, scheme.dfCap, clock)
      case None =>
        decideDistributed(spark, rootPath, latest, stored, threshold, scheme,
          maxCandidates, clock, maxLocalRows)
    }
  }

  /** The gate's verdicts from a driver probe's `matches` over the batch
    * `rows`: per rowkey the best stored match other than itself (a put
    * whose only near-dup is its OWN stored version is an UPDATE, not a
    * duplicate) — the highest Jaccard, the smallest rowkey in Spark's
    * string order on ties, as the distributed `min_by` picks it — then
    * the survivors scored on the driver, and the decisions as a local
    * frame the admission log's write reads with no plan behind it. */
  private def decideLocal(spark: SparkSession, rootPath: String,
      rows: Seq[(String, Array[String])], matches: Seq[(String, String, Double)],
      threshold: Double, dfCap: Int, clock: PhaseClock): DataFrame = {
    val best: Map[String, String] = clock.time("probe")(
      matches.filter { case (qid, key, _) => qid != key }
        .groupMapReduce(_._1)(m => (m._2, m._3)) { case (a @ (ka, ja), b @ (kb, jb)) =>
          if (ja != jb) { if (ja > jb) a else b }
          else if (IncrementalPostings.sparkStringOrder.lteq(ka, kb)) a else b
        }
        .map { case (qid, (key, _)) => qid -> key })
    val drops = clock.time("score")(
      scoreLocal(spark, rootPath, rows.filterNot(r => best.contains(r._1)),
        threshold, dfCap)).toMap
    IncrementalPostings.local(spark, (StructType(Seq("rowkey", "verdict", "dup_of")
        .map(StructField(_, StringType))),
      rows.map { case (key, _) =>
        best.get(key).map(Row(key, "state_dup", _))
          .orElse(drops.get(key).map(Row(key, "batch_dup", _)))
          .getOrElse(Row(key, "admitted", null))
      }.toArray))
  }

  /** The gate's verdicts through the distributed plans — a batch past the
    * driver bound; no state probe when the root holds no entry (`stored`
    * false). */
  private def decideDistributed(spark: SparkSession, rootPath: String,
      latest: DataFrame, stored: Boolean, threshold: Double, scheme: SketchScheme,
      maxCandidates: Int, clock: PhaseClock, maxLocalRows: Long): DataFrame = {
    // min_by over (-jaccard, rowkey) is deterministic: the logged dup_of
    // must not depend on aggregation order (the crash-replay spec
    // compares two independently computed decision sets)
    // checkpointed: dupBest feeds BOTH the survivor anti-join and the
    // final decisions select — without it the whole state probe (the
    // batch's most expensive plan) executes twice per gate
    val matches =
      if (stored) probeDistributed(spark, rootPath,
        latest.select(col("rowkey").as("qid"), col("qs")), threshold,
        scheme.dfCap, scheme, maxCandidates)
      else matchesFrame(spark, Nil)
    val dupBest = clock.time("probe")(matches
      .filter(col("qid") =!= col("rowkey"))
      .groupBy("qid")
      .agg(min_by(col("rowkey"), struct(-col("jaccard"), col("rowkey"))).as("dup_of"))
      .select(col("qid").as("rowkey"), col("dup_of"))
      .localCheckpoint())
    // checkpointed: state-pass survivors feed the existence probe and the
    // intra-batch pair generation — one probe. (Round-18: dropping this
    // checkpoint was A/B'd and measured WORSE — the un-checkpointed
    // anti-join re-executes per consumer under AQE, job count rose and
    // the score phase slowed — so it STAYS.)
    val survivors = clock.time("probe")(
      latest.join(dupBest, Seq("rowkey"), "left_anti").localCheckpoint())
    val drops = clock.time("score")(
      scoreSurvivors(spark, rootPath, survivors, threshold, scheme.dfCap, maxLocalRows))
    latest.select("rowkey")
      .join(dupBest.withColumnRenamed("dup_of", "s_dup_of")
        .withColumn("state_dup", lit(true)), Seq("rowkey"), "left_outer")
      .join(drops.withColumnRenamed("dup_of", "b_dup_of")
        .withColumn("batch_dup", lit(true)), Seq("rowkey"), "left_outer")
      .select(col("rowkey"),
        when(col("state_dup"), lit("state_dup"))
          .when(col("batch_dup"), lit("batch_dup"))
          .otherwise(lit("admitted")).as("verdict"),
        when(col("state_dup"), col("s_dup_of"))
          .when(col("batch_dup"), col("b_dup_of"))
          .otherwise(lit(null).cast("string")).as("dup_of"))
  }

  /** The ingestion-time admission filter — the dedup gate an LLM-data
    * pipeline runs before letting a batch into the corpus: puts whose
    * [[gateDecisions]] verdict is `admitted` pass (ALL events of an
    * admitted rowkey — the merge's latest-wins picks the newest); deletes
    * always pass through unchanged, ready for the merge sinks. */
  def dedupGate(spark: SparkSession, rootPath: String, batch: DataFrame,
                threshold: Double = 0.8,
                scheme: SketchScheme = WordShingles,
                maxCandidates: Int = 0): DataFrame =
    gatedBatch(batch, gateDecisions(spark, rootPath, batch, threshold, scheme,
      maxCandidates))

  /** Apply a decisions frame (rowkey, verdict) to a batch: deletes plus
    * the puts of admitted rowkeys — the filter half of [[dedupGate]],
    * shared with [[IngestPipeline]]'s logged-decision replay. */
  private[graft] def gatedBatch(batch: DataFrame, decisions: DataFrame): DataFrame = {
    val admitted = decisions.filter(col("verdict") === "admitted").select("rowkey")
    batch.filter(col("op") === "delete")
      .unionByName(batch.filter(col("op") =!= "delete")
        .join(admitted, Seq("rowkey"), "left_semi"))
  }

  /** Wire a streaming document changelog into the shingle-state merge —
    * same knobs as [[IncrementalPostings.start]]. */
  def start(changes: DataFrame, rootPath: String, checkpoint: String,
            intervalSeconds: Int = 30, firstDelaySeconds: Int = 0,
            numBuckets: Int = IncrementalIndex.DefaultBuckets,
            scheme: SketchScheme = WordShingles): StreamingQuery = {
    val gate = IncrementalIndex.firstBatchGate(firstDelaySeconds)
    val fence = WriterFence.claim(changes.sparkSession, rootPath)
    changes.writeStream
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(s"$intervalSeconds seconds"))
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        gate()
        fence.check(batch.sparkSession)
        mergeBatch(batch.sparkSession, batch, rootPath, numBuckets, scheme)
      }
      .start()
  }
}
