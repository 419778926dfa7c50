package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StringType, StructField, StructType}
import scala.jdk.CollectionConverters._

/** Incremental maintenance of the materialized posting-list table — the
  * reference's actual product (HBase mutations kept in sync with a Solr
  * inverted index, HbaseSolrIndexCoprocesser.java:38-61) expressed over the
  * engine's own postings table (`Index.postings`): each changelog
  * micro-batch of document puts/deletes is folded into a persisted inverted
  * index, so term queries read |postings(term)| rows instead of re-scanning
  * the corpus (SCALE.md §search names this as the 100 TB search path).
  *
  * State layout — two bucketed roots, each in the `b=<i>` layout of
  * [[StateStore.commitBuckets]]:
  *   - `<root>/docs`    — latest event per rowkey INCLUDING tombstones,
  *     bucketed by `crc32(rowkey)` (same discipline as
  *     [[IncrementalIndex]]: without tombstones a stale put in a later
  *     batch would resurrect a deleted doc's postings);
  *   - `<root>/entries` — the inverted index as (tok, doc_id, tf) rows
  *     (tf = the term's per-doc occurrence count, Lucene's posting
  *     payload), bucketed by `crc32(tok)`;
  *   - `<root>/dstats` — a per-doc-bucket stats sidecar (live doc count,
  *     total token length) rewritten with exactly the touched doc
  *     buckets, so corpus-level ranking statistics (N, avgdl — BM25's
  *     denominators) are a ≤-bucket-count metadata read, never a docs
  *     scan.
  *
  * The per-batch delta is keyed by TOKEN on both sides, which is the scale
  * property: removals are the touched docs' OLD tokens and additions their
  * NEW tokens, so a batch reads and rewrites only the entry buckets those
  * tokens hash to — never the full index. (A doc_id-keyed anti-join would
  * shuffle the whole entries table per batch.) Write volume per batch is
  * O(touched doc buckets + touched token buckets), not O(state).
  *
  * Crash protocol: per-bucket swaps are prefix-atomic, so the merge itself
  * must be idempotent under replay against ANY partially-promoted state.
  * Two ingredients guarantee that:
  *   1. entries commit BEFORE docs — replay after a crash between the two
  *      recomputes removals from the still-old docs, so old tokens are
  *      re-removed (or already gone: anti-join no-op);
  *   2. the entries rewrite anti-joins BOTH removals and additions before
  *      unioning the additions once — re-applying it to an
  *      already-promoted entry bucket reproduces identical content instead
  *      of duplicating the additions.
  */
object IncrementalPostings {

  private val entriesSchema = StructType(Seq(
    StructField("tok", StringType), StructField("doc_id", StringType),
    StructField("tf", LongType),
    StructField("positions", org.apache.spark.sql.types.ArrayType(IntegerType)),
    StructField("field", StringType),
    StructField("b", IntegerType)))

  /** The default field name — what every single-field root indexes as.
    * The reference
    * maps each HBase qualifier to its own Solr field
    * (HbaseSolrIndexCoprocesser.java:45-49); a single-text-column root is
    * the one-qualifier case. */
  val DefaultField = "text"

  /** The documented merge-batch schema — the shape of the docs state. */
  private val docsSchema = StructType(Seq(
    StructField("rowkey", StringType), StructField("event_id", LongType),
    StructField("op", StringType), StructField("text", StringType)))

  /** Per-doc-bucket, PER-FIELD stats rows (live doc count + total token
    * length) for the dstats sidecar — a pure function of each bucket's
    * docs content, which is what makes the sidecar idempotent under
    * replay. Lucene semantics per field: a doc counts toward a field's
    * docCount (and its avgdl denominator) iff it HAS the field (non-null
    * value) — exactly the rows the merge indexes for that field, so the
    * sidecar and the entries can never disagree about N. Single-field
    * roots write one row per bucket under [[DefaultField]]. */
  private def bucketStats(docs: DataFrame, tokenize: Column => Column,
                          fields: Seq[String]): DataFrame =
    fields.map { f =>
      docs.groupBy("b").agg(
        count(when(col("op") =!= "delete" && col(f).isNotNull, lit(1))).as("n_docs"),
        // the isNotNull guard must mirror n_docs': under legacy sizeOfNull
        // (ANSI off) size(tokenize(NULL)) is -1, and an unguarded sum
        // would silently SUBTRACT one per null-field doc — dl_sum and the
        // entries would then disagree about the field's length mass
        coalesce(sum(when(col("op") =!= "delete" && col(f).isNotNull,
          size(tokenize(col(f))).cast("long"))), lit(0L)).as("dl_sum"))
        .withColumn("field", lit(f))
    }.reduce(_ unionByName _)

  /** Whitespace tokenization by default; pass e.g. `Analyzer.cjk.tokens`
    * for space-free scripts. One row per (tok, doc) carrying the per-doc
    * term frequency AND the token's sorted position list — the full
    * Lucene-shaped posting entry (frequencies + positions), so ranked
    * retrieval (BM25/tf-idf), occurrence-ranked vocabulary reads, and
    * phrase queries ([[phraseSearch]]'s adjacency intersection) are all
    * served from the maintained entries alone. `keepPositions = false`
    * stores NULL instead (the shingle family's root: a shingle's offsets
    * carry no query semantics, so the array would be dead weight in every
    * bucket rewrite). The aggregate is batch-sized (it feeds the delta,
    * never the state) and partial-aggregates map-side; positions are a
    * pure function of the doc's text, so replay reproduces identical
    * rows — the merge stays idempotent. */
  private def docToks(docs: DataFrame, tokenize: Column => Column,
                      keepPositions: Boolean = true,
                      fields: Seq[String] = Seq(DefaultField)): DataFrame =
    fields.map { f =>
      // a null field value means the doc doesn't HAVE the field — it
      // indexes nothing for it (Lucene's absent-field semantics)
      val base = docs.filter(col("op") =!= "delete" && col(f).isNotNull)
      val toks =
        if (keepPositions)
          base.select(col("rowkey").as("doc_id"),
              posexplode(tokenize(col(f))).as(Seq("pos", "tok")))
            .groupBy("tok", "doc_id")
            .agg(count(lit(1)).as("tf"),
              sort_array(collect_list(col("pos"))).as("positions"))
        else
          base.select(col("rowkey").as("doc_id"), explode(tokenize(col(f))).as("tok"))
            .groupBy("tok", "doc_id").agg(count(lit(1)).as("tf"),
              lit(null).cast("array<int>").as("positions"))
      toks.withColumn("field", lit(f))
    }.reduce(_ unionByName _)

  /** Entries rows of the given entries bucket dirs under the entries
    * schema — a fixed schema, so no footer is read to plan the scan. */
  private def readEntries(spark: SparkSession, rootPath: String,
                          dirs: Seq[String]): DataFrame =
    StateStore.readBuckets(spark, rootPath + "/entries", dirs,
      Some(StructType(entriesSchema.filterNot(_.name == "b"))))

  /** Fold one micro-batch (rowkey STRING, event_id LONG, op put|delete,
    * text STRING) into the persisted postings state. The touched-bucket
    * lists collected to the driver are bounded by `numBuckets` each —
    * metadata, not data. */
  def mergeBatch(spark: SparkSession, batch: DataFrame, rootPath: String,
                 tokenize: Column => Column = split(_, " "),
                 numBuckets: Int = IncrementalIndex.DefaultBuckets,
                 tokenizerName: Option[String] = None,
                 keepPositions: Boolean = true): Unit =
    mergeImpl(spark, batch, rootPath, Seq(DefaultField), tokenize, numBuckets,
      tokenizerName, keepPositions)

  /** Fold one MULTI-FIELD micro-batch into the persisted postings state —
    * the reference's actual document shape: every HBase qualifier becomes
    * its own Solr field (HbaseSolrIndexCoprocesser.java:45-49,
    * `doc.addField(qualifier, value)`), so a document is (rowkey,
    * event_id, op, one string column PER FIELD). Entries carry a `field`
    * column ((tok, field, doc_id) is the posting key — Lucene's terms ARE
    * (field, term) pairs); the dstats sidecar keeps per-field length
    * stats, so per-field BM25 ([[bm25SearchFields]]) reads exact N/avgdl
    * per field with no docs scan. A null field value means the doc
    * doesn't have the field. The field list is pinned in a `_fields`
    * root marker: single- and multi-field writers can never interleave
    * on one root (a single-field merge would strand the other fields'
    * stale postings — its removals only re-tokenize its own column). */
  def mergeBatchFields(spark: SparkSession, batch: DataFrame, rootPath: String,
                       fields: Seq[String],
                       tokenize: Column => Column = split(_, " "),
                       numBuckets: Int = IncrementalIndex.DefaultBuckets,
                       tokenizerName: Option[String] = None,
                       keepPositions: Boolean = true): Unit = {
    require(fields.nonEmpty && fields.distinct == fields,
      s"field list must be non-empty and duplicate-free, got $fields")
    mergeImpl(spark, batch, rootPath, fields, tokenize, numBuckets,
      tokenizerName, keepPositions)
  }

  private def mergeImpl(spark: SparkSession, batch0: DataFrame, rootPath: String,
                        fields: Seq[String], tokenize: Column => Column,
                        numBuckets: Int, tokenizerName: Option[String],
                        keepPositions: Boolean): Unit = {
    // the merge computes removals by RE-tokenizing each touched doc's old
    // text — entries written under one tokenizer and removed under
    // another never match, stranding stale postings forever. A named
    // tokenizer pins itself in a `_tokenizer` root marker (the shingle
    // family's `_scheme` move): the first named merge records, a later
    // named merge with a different name fails loudly. Anonymous lambdas
    // (None) can't be checked and validate nothing — name the tokenizer
    // wherever the root outlives one writer.
    tokenizerName.foreach(n =>
      StateStore.ensureTag(spark, rootPath, "_tokenizer", n))
    // the FIELD LIST is always checkable (it's data, not code): the first
    // merge records it, and a later merge with a different list fails
    // loudly instead of stranding the missing fields' stale postings
    StateStore.ensureTag(spark, rootPath, "_fields", fields.mkString(","))
    val docsRoot = rootPath + "/docs"
    val entriesRoot = rootPath + "/entries"
    // the batch in the docs state's own schema, the one every docs read
    // takes: the stored docs never carry a column no read resolves
    val batch = batch0.select(docsSchemaFor(spark, rootPath).fields.toSeq
      .map(f => col(f.name).cast(f.dataType)): _*)

    val docDirs = StateStore.touchedBuckets(batch, "rowkey", numBuckets)
    if (docDirs.isEmpty) return // empty micro-batch: nothing to rewrite
    StateStore.ensureBucketCount(spark, docsRoot, numBuckets)
    StateStore.ensureBucketCount(spark, entriesRoot, numBuckets)
    val liveDocs = StateStore.liveBuckets(spark, docsRoot).toSet
    val oldDocs = readDocs(spark, rootPath, docDirs.filter(liveDocs.contains))

    // Only rowkeys present in the batch can change; everything is derived
    // from this (small) touched set.
    val touched = batch.select("rowkey").distinct()
    // placed by bucket: the stats aggregate and the docs write need no
    // further exchange
    val mergedDocs = StateStore.decouple(IncrementalIndex.compactAll(oldDocs.unionByName(batch))
      .withColumn("b", StateStore.bucketOf(col("rowkey"), numBuckets)))
    // removals: the touched docs' PREVIOUS tokens (tok-keyed delta);
    // additions: their tokens after the merge. A stale batch event leaves
    // both sides equal, so the entries are rewritten unchanged — idempotent.
    // Both are cached: each feeds the touched-bucket collect AND the
    // entries rewrite, and the tokenize explode is the merge's dominant
    // cost — recomputing it doubled the batch time.
    // removals never need positions — they are pure (tok, doc_id) anti-join
    // keys — so they always take the cheap explode path regardless of the
    // root's positions setting
    val removals = docToks(oldDocs.join(broadcast(touched), "rowkey"), tokenize,
      keepPositions = false, fields).cache()
    val additions = docToks(mergedDocs.drop("b").join(broadcast(touched), "rowkey"),
      tokenize, keepPositions, fields).cache()

    val entryDirs = StateStore.touchedBuckets(
      removals.select("tok").unionByName(additions.select("tok")), "tok", numBuckets)
    val liveEntries = StateStore.liveBuckets(spark, entriesRoot).toSet
    val oldEntries = readEntries(spark, rootPath, entryDirs.filter(liveEntries.contains))
    // Double anti-join (see crash protocol in the class doc): removals for
    // the delta, additions so replay over an already-promoted bucket
    // cannot duplicate them.
    val newEntries = StateStore.decouple(oldEntries
      .join(removals, Seq("tok", "field", "doc_id"), "left_anti")
      .join(additions, Seq("tok", "field", "doc_id"), "left_anti")
      .unionByName(additions)
      .withColumn("b", StateStore.bucketOf(col("tok"), numBuckets)))

    // Per-bucket doc stats for the touched buckets: a pure function of the
    // bucket's post-merge content, so replay reproduces identical rows —
    // idempotent exactly like the bucket rewrites themselves. Committed
    // LAST: a crash before this commit leaves stats one batch behind, and
    // the checkpointed replay recomputes them from the (already-new) docs.
    val statsRoot = rootPath + "/dstats"
    StateStore.ensureBucketCount(spark, statsRoot, numBuckets)
    val stats = bucketStats(mergedDocs, tokenize, fields)

    try {
      // Bucket files are clustered by their read key (entries by tok, docs
      // by rowkey) — Lucene's sorted term dictionary expressed as parquet
      // page statistics.
      if (entryDirs.nonEmpty)
        StateStore.writeBuckets(spark, entriesRoot, entryDirs, newEntries,
          clusterBy = Seq("tok"))
      StateStore.writeBuckets(spark, docsRoot, docDirs, mergedDocs,
        clusterBy = Seq("rowkey"))
      StateStore.writeBuckets(spark, statsRoot, docDirs, stats)
      // df sidecar (opt-in, [[enableDfSidecar]]): each touched entries
      // bucket's dfs twin is recomputed from the already-cached post-merge
      // content — pure function of bucket content, so replay reproduces
      // identical rows. Committed after the entries (a crash between
      // leaves the sidecar one batch behind; the checkpointed replay
      // recomputes it from the already-new entries — dstats' argument).
      if (entryDirs.nonEmpty && dfSidecarEnabled(spark, rootPath)) {
        StateStore.ensureBucketCount(spark, dfsRoot(rootPath), numBuckets)
        StateStore.writeBuckets(spark, dfsRoot(rootPath), entryDirs, dfsOf(newEntries),
          clusterBy = Seq("tok"))
      }
    } finally {
      mergedDocs.unpersist(); newEntries.unpersist()
      removals.unpersist(); additions.unpersist(): Unit
    }
  }

  /** Garbage-collect doc tombstones older than the source's replay horizon
    * — the retention discipline the docs state names (see
    * [[IncrementalIndex.gcTombstones]]; same contract: `horizonEventId`
    * must be ≤ the smallest event_id the source can still replay, or a
    * stale put below a GC'd tombstone could resurrect the doc). Tombstones
    * live ONLY in the docs state: a delete's postings are removed from the
    * entries at merge time ([[docToks]] drops deletes), so GC rewrites only
    * the doc buckets holding expired tombstones and never opens an entry
    * bucket — [[termSearch]] results are unchanged by construction. The
    * docs root is row-keyed like `IncrementalIndex`'s state, so the
    * rewrite is the same one. */
  def gcTombstones(spark: SparkSession, rootPath: String, horizonEventId: Long,
                   numBuckets: Int = IncrementalIndex.DefaultBuckets): Unit =
    IncrementalIndex.gcTombstones(spark, rootPath + "/docs", horizonEventId, numBuckets)

  /** Re-bucket the whole postings root to `newBuckets` — the planned
    * resize when doc/entry buckets outgrow their rewrite unit (see
    * [[StateStore.rescale]] for the protocol and the shuffle-free
    * integer-multiple growth path). Docs re-hash by `rowkey`, entries by
    * `tok`, each under its own atomic whole-root swap; the dstats sidecar
    * is a per-docs-bucket AGGREGATE (its rows are keyed by the bucket id
    * itself), so it cannot be re-hashed — it is recomputed from the
    * rescaled docs, the same pure-function-of-bucket-content derivation
    * the merge writes, and committed with its own swap. A crash between
    * the three swaps leaves a mixed-count root whose next writer fails
    * [[StateStore.ensureBucketCount]] loudly (counts are pinned per
    * subroot) — re-running `rescale` converges: done subroots no-op.
    *
    * `tokenize` must be the root's own analyzer (it feeds the dstats
    * dl_sum recompute); a `tokenizerName` is validated against the
    * `_tokenizer` marker exactly as the merge validates it. Single-writer
    * contract: stop the stream first. */
  def rescale(spark: SparkSession, rootPath: String, newBuckets: Int,
              tokenizerName: Option[String] = None): Unit = {
    tokenizerName.foreach(n => StateStore.ensureTag(spark, rootPath, "_tokenizer", n))
    StateStore.rescale(spark, rootPath + "/docs", "rowkey", newBuckets)
    StateStore.rescale(spark, rootPath + "/entries", "tok", newBuckets)
    val docsRoot = rootPath + "/docs"
    val statsRoot = rootPath + "/dstats"
    val dirs = StateStore.liveBuckets(spark, docsRoot)
    if (dirs.nonEmpty) {
      // dl is recomputed TOKENIZER-FREE: each live doc's length is the
      // sum of its entries' term frequencies — the entries were derived
      // from the same text by the same analyzer at merge time, so the
      // sums are identical to re-tokenizing, for ANY scheme (word, CJK
      // bigram, char sketch). The previous implementation re-tokenized
      // the docs here, which forced the growth-gated auto-rescale to
      // reconstruct the analyzer from its name marker and silently fell
      // back to whitespace for an anonymous custom tokenizer — wrong
      // dl units with no error. Deriving from the index itself cannot
      // mismatch the index.
      // per-FIELD recompute (the `_fields` marker names the root's
      // fields): a field's dl is the sum of the doc's entries' tfs FOR
      // THAT FIELD, keyed (doc, field) so a multi-field root's sidecar
      // keeps exact per-field N/avgdl
      val fields = StateStore.readTag(spark, rootPath, "_fields")
        .map(_.split(",").toSeq).getOrElse(Seq(DefaultField))
      val live = readDocs(spark, rootPath, dirs)
        .withColumn("b", StateStore.bucketOf(col("rowkey"), newBuckets))
        .filter(col("op") =!= "delete")
      val dl = allEntries(spark, rootPath)
        .groupBy("doc_id", "field").agg(sum("tf").as("dl"))
      val stats = fields.map { f =>
        val had = live.filter(col(f).isNotNull).select(col("rowkey"), col("b"))
        val dlf = dl.filter(col("field") === lit(f))
          .withColumnRenamed("doc_id", "rowkey").drop("field")
        had.join(dlf, Seq("rowkey"), "left")
          .groupBy("b").agg(
            count(lit(1)).as("n_docs"),
            coalesce(sum("dl"), lit(0L)).as("dl_sum"))
          .withColumn("field", lit(f))
      }.reduce(_ unionByName _).cache()
      stats.count() // decouple from the old dstats files before the swap
      try StateStore.commit(spark, statsRoot)(StateStore.writeBucketFiles(stats, _))
      finally stats.unpersist(): Unit
    }
    else if (StateStore.nonEmpty(spark, statsRoot)) {
      // docs gone but a stale sidecar remains: clear it (a commit that
      // writes nothing removes the root) so the re-pin below cannot
      // collide with the old count's marker
      StateStore.commit(spark, statsRoot)(_ => ())
    }
    // the swap replaced the sidecar root, marker included — re-pin
    StateStore.ensureBucketCount(spark, statsRoot, newBuckets)
    // df sidecar: tok-keyed, but recomputed from the rescaled entries
    // rather than re-hashed — the same pure-function-of-bucket-content
    // derivation the merge writes. The old root (old bucket-count marker
    // included) is dropped first; a crash between the delete and the
    // backfill leaves an enabled-but-empty sidecar, which reads as
    // "nothing saturated" — probes then read every list, the exact
    // fallback behavior (absent rows are always the safe direction), and
    // re-running rescale or the backfill converges.
    if (dfSidecarEnabled(spark, rootPath)) {
      StateStore.commit(spark, dfsRoot(rootPath))(_ => ())
      enableDfSidecar(spark, rootPath)
    }
  }

  /** All live entries rows (tok, doc_id) — the full-index read behind the
    * vocabulary and batch-probe paths (per-TERM reads use the bucket-
    * pruned [[prunedEntries]] instead). */
  private[streaming] def allEntries(spark: SparkSession, rootPath: String): DataFrame =
    readEntries(spark, rootPath, StateStore.liveBuckets(spark, rootPath + "/entries"))

  /** The maintained inverted index, in `Index.postings` shape:
    * (tok, sorted doc ids, document frequency, total occurrence count). */
  def postings(spark: SparkSession, rootPath: String): DataFrame =
    allEntries(spark, rootPath).groupBy("tok")
      .agg(sort_array(collect_set(col("doc_id"))).as("ids"),
        countDistinct(col("doc_id")).as("df"),
        sum(col("tf")).as("n"))

  /** The maintained index's vocabulary — (tok, df, n). A vocabulary-sized
    * scan of the entries, never the docs: the read surface Solr's
    * suggester/spellchecker serve from the standing index. The entries'
    * tf column makes `n` the occurrence count, so maintained-state
    * vocabulary reads rank identically to the corpus-scoped
    * `q_suggest_prefix`/`q_spell_correct`. Aggregated straight from the
    * entries — NOT via [[postings]], whose sort_array(collect_set(id))
    * materializes a posting-mass-sized id array per token that a
    * (df, n) read never looks at (round-13 ADVICE). */
  def vocabulary(spark: SparkSession, rootPath: String): DataFrame =
    allEntries(spark, rootPath).groupBy("tok")
      .agg(countDistinct(col("doc_id")).as("df"),
        sum(col("tf")).as("n"))

  // ——— per-token document-frequency sidecar ———————————————————————————
  //
  // The remedy behind MaintenanceReport.dfSidecarAdvised (SCALE.md
  // §df-cap): on a boilerplate-heavy corpus most posting MASS belongs to
  // crowd tokens over the near-dup df cap, and candidate generation reads
  // those lists only to drop them. The sidecar keeps (tok, df) — two
  // columns, vocabulary-sized — in its own bucketed subroot, maintained
  // like dstats (each dfs bucket is a pure function of its entries
  // bucket's post-merge content, recomputed for exactly the touched
  // buckets), so a probe can learn WHICH of its query tokens are
  // saturated from rows proportional to the query, then skip reading the
  // saturated posting lists entirely. Opt-in ([[enableDfSidecar]]) —
  // a second maintained state is only worth keeping consistent once the
  // saturation trigger fires.

  private def dfsRoot(rootPath: String): String = rootPath + "/dfs"

  /** Whether `rootPath` maintains the per-token df sidecar (the `_dfs`
    * root marker [[enableDfSidecar]] sets). */
  def dfSidecarEnabled(spark: SparkSession, rootPath: String): Boolean =
    StateStore.readTag(spark, rootPath, "_dfs").contains("1")

  /** The (b, tok, df) rows for one set of entries buckets (rows carrying
    * their bucket column `b`) — the pure function of bucket content both
    * the backfill and the per-merge maintenance write: a token's posting
    * list is complete within its bucket, so per-bucket df is exact. */
  private def dfsOf(entries: DataFrame): DataFrame =
    entries.groupBy("b", "tok").agg(countDistinct(col("doc_id")).as("df"))

  /** The sidecar's stored schema. */
  private val dfsSchema = StructType(Seq(
    StructField("tok", StringType), StructField("df", LongType)))

  /** Turn the df sidecar ON for an existing root and backfill it from the
    * live entries (one pass — vocabulary-shaped aggregate, committed
    * bucket-by-bucket under the usual swap protocol). Idempotent: re-run
    * recomputes the same rows. Every later merge keeps the touched
    * buckets current ([[mergeBatch]]); [[rescale]] recomputes it like
    * dstats. Single-writer contract as for any maintenance pass. */
  def enableDfSidecar(spark: SparkSession, rootPath: String): Unit = {
    val entriesRoot = rootPath + "/entries"
    val n = StateStore.bucketCount(spark, entriesRoot)
      .getOrElse(IncrementalIndex.DefaultBuckets)
    StateStore.ensureTag(spark, rootPath, "_dfs", "1")
    StateStore.ensureBucketCount(spark, dfsRoot(rootPath), n)
    val dirs = StateStore.liveBuckets(spark, entriesRoot)
    if (dirs.nonEmpty) {
      // decoupled from any prior dfs files before the swaps
      val dfs = StateStore.decouple(dfsOf(readEntries(spark, rootPath, dirs)
        .withColumn("b", StateStore.bucketOf(col("tok"), n))))
      try StateStore.writeBuckets(spark, dfsRoot(rootPath), dirs, dfs, clusterBy = Seq("tok"))
      finally dfs.unpersist(): Unit
    }
  }

  /** The sidecar's (tok, df) rows for exactly `toks`, reading only the dfs
    * buckets those tokens hash to — per-probe I/O proportional to the
    * query's tokens, never the vocabulary. None when the root does not
    * maintain the sidecar (callers fall back to reading the lists). A
    * token with no postings has no row — absent means df = 0. */
  private[graft] def dfsForTokens(spark: SparkSession, rootPath: String,
                                  toks: Seq[String]): Option[DataFrame] = {
    if (!dfSidecarEnabled(spark, rootPath)) return None
    val root = dfsRoot(rootPath)
    Some(StateStore.readBuckets(spark, root, StateStore.bucketDirsFor(spark, root, toks),
      Some(dfsSchema)).filter(col("tok").isin(toks: _*)))
  }

  /** [[dfsForTokens]] for a token FRAME (values are data, bucket ids are
    * driver metadata — [[bucketDirsForFrame]]'s contract): the batch
    * probe's sidecar read. None when the sidecar is disabled. */
  private[graft] def dfsForTokensFrame(spark: SparkSession, rootPath: String,
                                       toks: DataFrame): Option[DataFrame] = {
    if (!dfSidecarEnabled(spark, rootPath)) return None
    val root = dfsRoot(rootPath)
    dfsReadDirs(spark, root, StateStore.bucketDirsFor(spark, root, toks, "tok"), toks)
  }

  /** [[dfsForTokensFrame]] served from an ENTRY-dir list already resolved
    * for the same token set ([[entryBucketDirsForFrame]]): the sidecar is
    * pinned to the entries' bucket count at enable time, so the same
    * `b=NN` names address the same tokens' dfs buckets — no second
    * distinct-bucket-id job. Falls back to its own derivation when the
    * counts are not provably equal (a rescale that stopped between its
    * swaps). */
  private[graft] def dfsForTokensFrameIn(spark: SparkSession, rootPath: String,
      entryDirs: Seq[String], toks: DataFrame): Option[DataFrame] = {
    if (!dfSidecarEnabled(spark, rootPath)) return None
    val root = dfsRoot(rootPath)
    val nEntries = StateStore.bucketCount(spark, rootPath + "/entries")
    val nDfs = StateStore.bucketCount(spark, root)
    if (nEntries.isEmpty || nEntries != nDfs)
      return dfsForTokensFrame(spark, rootPath, toks)
    val wanted = entryDirs.toSet
    val dirs = StateStore.liveBuckets(spark, root).filter(wanted.contains)
    dfsReadDirs(spark, root, dirs, toks)
  }

  private def dfsReadDirs(spark: SparkSession, root: String, dirs: Seq[String],
                          toks: DataFrame): Option[DataFrame] =
    Some(StateStore.readBuckets(spark, root, dirs, Some(dfsSchema))
      .join(toks.select("tok").distinct(), "tok"))

  /** The full sidecar (tok, df) view — the cheap source for saturation
    * monitoring once the sidecar exists (two columns of vocabulary-sized
    * metadata; no entries scan, no posting lists). None when disabled. */
  private[graft] def dfsAll(spark: SparkSession, rootPath: String): Option[DataFrame] = {
    if (!dfSidecarEnabled(spark, rootPath)) return None
    val root = dfsRoot(rootPath)
    Some(StateStore.readBuckets(spark, root, StateStore.liveBuckets(spark, root), Some(dfsSchema)))
  }

  /** Prefix completions from the MAINTAINED vocabulary, ranked by corpus
    * occurrence count — the same ranking as the corpus-scoped suggester. */
  def suggest(spark: SparkSession, rootPath: String, prefix: String,
              k: Int = 10): DataFrame =
    vocabulary(spark, rootPath)
      .filter(col("tok").startsWith(prefix))
      .select(col("tok"), col("n"))
      .orderBy(col("n").desc, col("tok"))
      .limit(k)

  /** Correction candidates from the MAINTAINED vocabulary: terms within
    * `maxEdits` of the query term, occurrence-ranked like the
    * corpus-scoped speller. */
  def spellCorrect(spark: SparkSession, rootPath: String, term: String,
                   maxEdits: Int = 1, k: Int = 5): DataFrame =
    vocabulary(spark, rootPath)
      .filter(levenshtein(col("tok"), lit(term)) <= maxEdits)
      .select(col("tok"), col("n"))
      .orderBy(col("n").desc, col("tok"))
      .limit(k)

  /** Fuzzy term query over MAINTAINED state — Solr's `term~maxEdits`:
    * live docs containing ANY indexed term within the edit bound. The
    * edit distance has no bucket to prune to and parquet cannot evaluate
    * it, so EVERY entry row is read (entries only, never the corpus) and
    * the distance is computed once per posting row — a cost that grows
    * with the index's posting mass (Σ df), not its vocabulary; only the
    * matching tokens' rows come back ([[expansionSearch]]). */
  def fuzzySearch(spark: SparkSession, rootPath: String, term: String,
                  maxEdits: Int = 1): DataFrame =
    expansionSearch(spark, rootPath, levenshtein(col("tok"), lit(term)) <= maxEdits)

  /** The live docs holding any token that satisfies `tokMatches` — the
    * fuzzy and wildcard reads: one collect of the matching entry rows'
    * doc ids, then the keyed fetch of the hit docs ([[hitDocs]]), lazy. */
  private def expansionSearch(spark: SparkSession, rootPath: String,
                              tokMatches: Column): DataFrame =
    hitDocs(spark, rootPath, allEntries(spark, rootPath).filter(tokMatches)
      .select("doc_id").collect().map(_.getString(0)).toSet)

  /** Live view of the maintained document state (tombstones filtered);
    * empty with the documented schema before the first merge. */
  def docsState(spark: SparkSession, rootPath: String): DataFrame =
    readDocs(spark, rootPath, StateStore.liveBuckets(spark, rootPath + "/docs"))
      .filter(col("op") =!= "delete")


  /** The entries rows for exactly `toks`, reading ONLY the buckets those
    * tokens hash to — per-query I/O is |touched buckets|, not the index.
    * A token's posting list is COMPLETE within its bucket, so per-token
    * counts (df) over this frame are exact. */
  private[graft] def prunedEntries(spark: SparkSession, rootPath: String,
                                       toks: Seq[String]): DataFrame = {
    readEntries(spark, rootPath, StateStore.bucketDirsFor(spark, rootPath + "/entries", toks))
      .filter(col("tok").isin(toks: _*))
  }

  /** The entry-bucket dirs a DataFrame of tokens hashes into — tokens
    * whose VALUES are data (too many to collect) but whose touched-BUCKET
    * set is driver metadata bounded by the bucket count: one distinct-
    * bucket-id job, the same move as the merge's touched-bucket collect.
    * Exposed so a caller with several tok-keyed pruned reads of the SAME
    * token set (the gate probe: entries + dfs sidecar + candidate
    * entries) runs the job once and shares the result. */
  private[graft] def entryBucketDirsForFrame(spark: SparkSession,
      rootPath: String, toks: DataFrame): Seq[String] =
    StateStore.bucketDirsFor(spark, rootPath + "/entries", toks, "tok")

  /** The entries rows matching a DataFrame of tokens, from an already-
    * resolved dir list ([[entryBucketDirsForFrame]]) — the batch-probe
    * analogue of [[prunedEntries]]: per-call I/O is O(touched entry
    * buckets), never the index, and since a token's posting list is
    * complete within its bucket, per-token counts over the result are
    * exact. Passing a SUPERSET of the tokens' own dirs is sound — the
    * token join restricts rows either way; the trade is scan width for
    * driver jobs, the caller's call. */
  private[graft] def prunedEntriesForTokensIn(spark: SparkSession,
      rootPath: String, dirs: Seq[String], toks: DataFrame): DataFrame =
    readEntries(spark, rootPath, dirs).join(toks.select("tok").distinct(), "tok")

  /** The docs state's schema from the root's own `_fields` marker — the
    * authority for which per-field columns a fields root stores (the
    * marker is ensured at every merge, before the docs are written, and
    * it is what keeps single- and multi-field writers off each other's
    * roots). Every docs read and the merge's own batch take it, so a
    * docs scan is planned without opening a footer. */
  private def docsSchemaFor(spark: SparkSession, rootPath: String): StructType =
    StateStore.readTag(spark, rootPath, "_fields") match {
      case Some(fs) => StructType(
        docsSchema.filterNot(_.name == "text") ++
          fs.split(",").toSeq.map(f => StructField(f, StringType)))
      case None => docsSchema
    }

  /** The docs rows (tombstones included) of the given docs bucket dirs,
    * under [[docsSchemaFor]] — no dirs give zero rows in that schema: a
    * multi-field root's docs carry per-field columns, and an empty fetch
    * must still resolve them (the per-field dl melt selects the field
    * columns even when the hit list is empty). */
  private def readDocs(spark: SparkSession, rootPath: String,
                       dirs: Seq[String]): DataFrame =
    StateStore.readBuckets(spark, rootPath + "/docs", dirs, Some(docsSchemaFor(spark, rootPath)))

  /** The LIVE doc rows matching a DataFrame of rowkeys — bucket-pruned
    * like [[prunedEntriesForTokensIn]]: the keys stay distributed, only
    * their distinct bucket ids (≤ bucket count) are collected, and only
    * those doc buckets are opened. The batch form of the HBase-Get-shaped
    * [[prunedDocs]] fetch. */
  private[graft] def prunedDocsForKeys(spark: SparkSession, rootPath: String,
                                       keys: DataFrame): DataFrame =
    readDocs(spark, rootPath, StateStore.bucketDirsFor(spark, rootPath + "/docs", keys, "rowkey"))
      .filter(col("op") =!= "delete").join(keys.select("rowkey").distinct(), "rowkey")

  /** The LIVE doc rows for exactly `rowkeys`, reading only the buckets
    * those keys hash to — the HBase-Get-shaped fetch for a BOUNDED key
    * list (the probe's df-capped candidates, a seed doc, the gate's
    * batch keys). The driver resolves the buckets from the keys
    * themselves, so the fetch is one job, and the keys reach the parquet
    * scan as a pushed `isin`. */
  private[graft] def prunedDocs(spark: SparkSession, rootPath: String,
                                    rowkeys: Seq[String]): DataFrame =
    liveDocsIn(spark, rootPath, rowkeys).filter(col("rowkey").isin(rowkeys: _*))

  /** The LIVE doc rows of a hit list — the second step of every
    * maintained read whose hits are on the driver already (term, phrase,
    * fuzzy and wildcard hits, BM25's length fetch). Buckets resolve on
    * the driver as in [[prunedDocs]], so the fetch is one job, but the
    * keys ship as a broadcast set tested by a UDF, not as a plan
    * literal: a hit list has no upper bound (a frequent term, a
    * one-letter prefix), and an `isin` of n keys grows the plan, its
    * planning time and every task binary with n, while the broadcast
    * leaves the plan the same size for any n (measured in CHANGES.md).
    * The membership test does not reach parquet; a hit list spread over
    * its buckets' key ranges would prune no row group there anyway. The
    * set ships as a `java.util.HashSet`, which serializes several times
    * faster than a Scala set. */
  private[graft] def hitDocs(spark: SparkSession, rootPath: String,
                             rowkeys: Set[String]): DataFrame =
    liveDocsIn(spark, rootPath, rowkeys.toSeq).filter(memberOf(spark, rowkeys)(col("rowkey")))

  /** Membership in `keys` as a UDF over one broadcast set — the test
    * [[hitDocs]] and [[batchEntries]] apply, whose plans then stay the
    * same size for any number of keys. */
  private def memberOf(spark: SparkSession, keys: Set[String]): Column => Column = {
    val set = spark.sparkContext.broadcast(new java.util.HashSet[String](keys.asJava))
    c => udf((k: String) => set.value.contains(k)).apply(c)
  }

  /** The entry rows (tok, doc_id) of a batch's token set — the gate
    * probe's one entries read on the driver path. The buckets resolve on
    * the driver from the tokens themselves (no bucket-id job), and the
    * tokens, a flush's worth (tens of thousands), ship as a broadcast
    * set, as in [[hitDocs]]. Lazy and exposed, so specs can pin its
    * buckets. */
  private[graft] def batchEntries(spark: SparkSession, rootPath: String,
                                  toks: Set[String]): DataFrame =
    batchEntries(spark, rootPath, toks, entryDirsFor(spark, rootPath, toks))

  /** [[batchEntries]] over entry bucket dirs `dirs` the caller resolved
    * with [[entryDirsFor]]. */
  private[graft] def batchEntries(spark: SparkSession, rootPath: String,
                                  toks: Set[String], dirs: Seq[String]): DataFrame =
    readEntries(spark, rootPath, dirs)
      .filter(memberOf(spark, toks)(col("tok")))
      .select("tok", "doc_id")

  /** The live entry bucket dirs `toks` hash to, resolved on the driver. */
  private[graft] def entryDirsFor(spark: SparkSession, rootPath: String,
                                  toks: Set[String]): Seq[String] =
    StateStore.bucketDirsFor(spark, rootPath + "/entries", toks.toSeq)

  /** The live rows of the doc buckets `rowkeys` hash to, resolved on the
    * driver — the scan both keyed fetches filter. */
  private def liveDocsIn(spark: SparkSession, rootPath: String,
                         rowkeys: Seq[String]): DataFrame =
    readDocs(spark, rootPath, StateStore.bucketDirsFor(spark, rootPath + "/docs", rowkeys))
      .filter(col("op") =!= "delete")

  /** The query terms' posting rows (tok, doc_id, tf) from the bucket-
    * pruned entries — what the term-matching and ranked reads collect.
    * Lazy and exposed, so specs can pin its buckets and its read schema
    * (no `positions`). */
  private[graft] def postingRows(spark: SparkSession, rootPath: String,
                                 toks: Seq[String]): DataFrame =
    prunedEntries(spark, rootPath, toks).select("tok", "doc_id", "tf")

  /** Per hit doc, how many of `groups` it matches — a group matches when
    * the doc holds any of its terms — from one collect of the groups'
    * [[postingRows]]. A token listed in several groups counts for each. */
  private def groupMatches(spark: SparkSession, rootPath: String,
                           groups: Seq[Seq[String]]): Map[String, Int] = {
    val groupsOf = groups.zipWithIndex
      .flatMap { case (g, i) => g.distinct.map(_ -> i) }
      .groupMap(_._1)(_._2)
    postingRows(spark, rootPath, groupsOf.keys.toSeq).collect()
      .groupMapReduce(_.getString(1))(r => groupsOf(r.getString(0)).toSet)(_ ++ _)
      .map { case (doc, gs) => doc -> gs.size }
  }

  /** The reference's read topology over the MAINTAINED state — multi-term
    * AND via posting intersection, then key-fetch of the live rows (Solr
    * hit list → HBase Get, /root/reference/README.md:12-13) — with no
    * corpus scan anywhere: the query terms' entry rows are collected once
    * ([[postingRows]]), intersected on the driver, and the hit docs come
    * back through the lazy keyed fetch ([[hitDocs]]), so the caller's
    * action is the read's second and last job. */
  def termSearch(spark: SparkSession, rootPath: String, terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "termSearch needs at least one term")
    termSearchGroups(spark, rootPath, terms.distinct.map(Seq(_)))
  }

  /** Wildcard/prefix search over the maintained state — Solr's
    * `field:pre*`: the [[fuzzySearch]] read with a prefix predicate in
    * place of edit distance (the prefix pushes into the entries scan as a
    * parquet `StringStartsWith`). */
  def wildcardSearch(spark: SparkSession, rootPath: String,
                     prefix: String): DataFrame = {
    require(prefix.nonEmpty, "wildcard search needs a non-empty prefix")
    expansionSearch(spark, rootPath, col("tok").startsWith(prefix))
  }

  /** Minimum-should-match retrieval over the maintained state — Solr
    * edismax's `mm` parameter: docs matching at least `minMatch` of the
    * query terms, with the match count carried for ranking (`n_matched`,
    * looked up on the fetched rows in a broadcast map, like the keys
    * themselves). Same two steps as [[termSearch]] (`termSearch` ≡
    * `minMatch = terms.size`). */
  def termSearchMinMatch(spark: SparkSession, rootPath: String,
                         terms: Seq[String], minMatch: Int): DataFrame = {
    val uniq = terms.distinct
    require(minMatch >= 1 && minMatch <= uniq.size,
      s"minMatch must be in [1, ${uniq.size}], got $minMatch")
    val hits = groupMatches(spark, rootPath, uniq.map(Seq(_)))
      .collect { case (doc, n) if n >= minMatch => doc -> n.toLong }
    val matched = spark.sparkContext.broadcast(new java.util.HashMap[String, java.lang.Long](
      hits.map { case (doc, n) => doc -> java.lang.Long.valueOf(n) }.asJava))
    hitDocs(spark, rootPath, hits.keySet)
      .withColumn("n_matched", udf((k: String) => matched.value.get(k)).apply(col("rowkey")))
  }

  /** Grouped-OR retrieval over the maintained state — the query shape
    * query-time synonym expansion produces (Solr's SynonymGraphFilter at
    * query time): each group is an OR of interchangeable terms, groups
    * AND together. `termSearch(ts)` ≡ `termSearchGroups(ts.map(Seq(_)))`.
    * Same two steps: one collect of the expansion terms' bucket-pruned
    * entry rows, the group count on the driver, then the lazy keyed
    * fetch. Per-query I/O is Σ|postings(expansion)| plus the hit docs'
    * buckets, never the corpus. */
  def termSearchGroups(spark: SparkSession, rootPath: String,
                       groups: Seq[Seq[String]]): DataFrame = {
    require(groups.nonEmpty && groups.forall(_.nonEmpty),
      "grouped search needs at least one non-empty term group")
    hitDocs(spark, rootPath, groupMatches(spark, rootPath, groups)
      .collect { case (doc, n) if n == groups.size => doc }.toSet)
  }

  /** A ranking-statistics aggregate or a ranked answer on the driver:
    * [[docStats]]/[[fieldStats]] keep theirs in [[StateStore.cached]],
    * and the ranked reads assemble theirs from collected rows. Served
    * back as a LocalRelation ([[local]]), a consumer's `collect()`,
    * `head()` or `broadcast(...)` runs driver-side with zero Spark
    * jobs. */
  private[graft] type Collected = (StructType, Array[Row])

  private[graft] def local(spark: SparkSession, c: Collected): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(c._2: _*), c._1)

  /** Spark's `round(x, scale)` on a double, on the driver: HALF_UP on the
    * double's shortest decimal form (`BigDecimal.valueOf`), NaN and
    * infinities passed through. */
  private[graft] def roundHalfUp(x: Double, scale: Int): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Spark's string order on the driver: UTF-8 bytes, unsigned — not the
    * JVM's UTF-16 code-unit order, which differs beyond the BMP. */
  private[graft] val sparkStringOrder: Ordering[String] = new Ordering[String] {
    def compare(a: String, b: String): Int = java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** `scored` ordered like `orderBy(score.desc, key)` — ties broken by
    * [[sparkStringOrder]] — and cut to `k`. */
  private[graft] def topK(scored: Seq[(String, Double)], k: Int): Seq[(String, Double)] =
    scored.sortWith { case ((ka, sa), (kb, sb)) =>
      if (sa != sb) sa > sb else sparkStringOrder.lt(ka, kb)
    }.take(k)

  /** A (key, score) answer as a local frame — the schema the distributed
    * `groupBy(key).agg(round(sum(..), 4).as(score))` gave it. */
  private[graft] def scoredFrame(spark: SparkSession, key: String, score: String,
                                 rows: Seq[(String, Double)]): DataFrame =
    local(spark, (StructType(Seq(StructField(key, StringType),
        StructField(score, DoubleType))),
      rows.map { case (k, s) => Row(k, s) }.toArray))

  /** The dstats sidecar's rows (n_docs, dl_sum, field) — a fixed
    * schema, like the entries and docs reads. */
  private val statsSchema = StructType(Seq(
    StructField("n_docs", LongType), StructField("dl_sum", LongType),
    StructField("field", StringType)))

  private def readStats(spark: SparkSession, root: String): DataFrame =
    StateStore.readBuckets(spark, root, StateStore.liveBuckets(spark, root), Some(statsSchema))

  /** Corpus-level ranking statistics over the maintained state — one row
    * (n_docs, avgdl) summed from the per-bucket stats sidecar: ≤
    * bucket-count rows of metadata, no docs scan. avgdl is the exact
    * integer token-length sum over the exact live count, divided once in
    * double — the same arithmetic as the corpus-scoped BM25's `avg`.
    * The row is cached on the sidecar root's token. */
  def docStats(spark: SparkSession, rootPath: String): DataFrame =
    local(spark, docStatsCollected(spark, rootPath))

  private val docStatsSchema = StructType(Seq(StructField("n_docs", LongType),
    StructField("avgdl", DoubleType)))

  private def docStatsCollected(spark: SparkSession, rootPath: String): Collected = {
    val root = rootPath + "/dstats"
    StateStore.cached(spark, root, "docStats") {
      // guard symmetry with the `_fields` WRITE marker: a single-field
      // ranked read against a multi-field root would filter the sidecar
      // to a field that doesn't exist and score every document with NULL
      // statistics — silently. Fail loudly instead, like the write path.
      StateStore.readTag(spark, rootPath, "_fields").foreach { f =>
        if (f != DefaultField) throw new IllegalStateException(
          s"state at $rootPath is a multi-field root (fields=$f); " +
            "single-field ranked reads have no statistics here — use " +
            "bm25SearchFields/termSearchFields with explicit field boosts")
      }
      // single-field reads take the default field's rows: summing across
      // fields would hand a multi-field root's combined length mass to a
      // single-field ranking
      val per = statsRows(spark, root).filter(_._1 == DefaultField)
      (docStatsSchema, Array(avgdl(per).fold(Row(null, null)) {
        case (n, a) => Row(n, a) }))
    }
  }

  /** The sidecar's (field, n_docs, dl_sum) rows — one job, ≤ bucket ×
    * field rows. */
  private def statsRows(spark: SparkSession, root: String): Seq[(String, Long, Long)] =
    readStats(spark, root).collect().toSeq
      .map(r => (r.getString(2), r.getLong(0), r.getLong(1)))

  /** (n_docs, avgdl) over per-bucket rows — the long sums and the one
    * double division `sum(n_docs)`, `sum(dl_sum).cast(double) / n_docs`
    * made in Spark; None for no rows (Spark's NULL sums), and a NULL
    * avgdl for no live doc. */
  private def avgdl(per: Seq[(String, Long, Long)]): Option[(Long, java.lang.Double)] =
    if (per.isEmpty) None
    else {
      val n = per.map(_._2).sum
      val dl = per.map(_._3).sum
      Some((n, if (n == 0L) null else java.lang.Double.valueOf(dl.toDouble / n.toDouble)))
    }

  /** PER-FIELD ranking statistics from the dstats sidecar — one row per
    * field (field, n_docs, avgdl), where n_docs is the field's docCount
    * (docs that HAVE the field — Lucene's per-field similarity statistic)
    * and avgdl its exact-integer length sum over that count. ≤ bucket ×
    * field rows of metadata, no docs scan, cached on the sidecar root's
    * token. */
  def fieldStats(spark: SparkSession, rootPath: String): DataFrame = {
    val root = rootPath + "/dstats"
    local(spark, StateStore.cached(spark, root, "fieldStats") {
      require(StateStore.liveBuckets(spark, root).nonEmpty,
        s"no dstats sidecar at $rootPath — merge a batch first")
      (StructType(StructField("field", StringType) +: docStatsSchema.fields),
        statsRows(spark, root).groupBy(_._1).toArray.flatMap { case (f, per) =>
          avgdl(per).map { case (n, a) => Row(f, n, a) } })
    })
  }

  /** Multi-field boosted term search over the maintained state — Solr
    * edismax's `qf` (e.g. `qf=title^2 body`) with `tie=1.0`, i.e. the
    * per-field term frequencies (summed over the query's DISTINCT terms
    * — real `qf` queries are multi-term) weighted by their field boosts
    * and SUMMED. One bucket-pruned entries read serves every (term,
    * field): a term's postings for ALL fields live in the one bucket the
    * term hashes to (the field is posting payload, not part of the hash
    * key), so per-query I/O is the terms' buckets + the hit docs' own
    * buckets — never a corpus scan. Returns the live hit rows with
    * per-field `tf_<field>` counts and the weighted `score`. Docs
    * matching ONLY non-boosted fields are excluded (edismax searches
    * `qf` fields only). */
  def termSearchFields(spark: SparkSession, rootPath: String,
                       terms: Seq[String],
                       boosts: Seq[(String, Double)]): DataFrame = {
    // checkpoint the hit list: it is consumed THREE times (the bucket-dir
    // collect inside prunedDocsForKeys, the pruning join, the final
    // broadcast), and without the checkpoint each consumer re-decodes the
    // pruned entry buckets from parquet
    val hits = qfHits(spark, rootPath, terms, boosts).localCheckpoint()
    prunedDocsForKeys(spark, rootPath, hits.select("rowkey"))
      .join(broadcast(hits), "rowkey")
  }

  /** The `qf` hit frame shared by [[termSearchFields]] and
    * [[phraseBoostSearchFields]]: (rowkey, tf_<field>…, score) — per-doc
    * per-field tf summed over the query terms, boost-weighted. Σ df(term)
    * input rows from the bucket-pruned entries; never a corpus scan. */
  private def qfHits(spark: SparkSession, rootPath: String,
                     terms: Seq[String],
                     boosts: Seq[(String, Double)]): DataFrame =
    qfHitsFrom(prunedEntries(spark, rootPath, terms.distinct), terms, boosts)

  /** [[qfHits]] over an already-read entries frame — so
    * [[phraseBoostSearchFields]] can serve qf tf AND phrase positions from
    * ONE bucket-pruned read (the qf terms and the phrase terms usually
    * overlap; round 12's shipped key had them identical, and the two
    * independent `prunedEntries` reads opened and decoded the same
    * buckets twice). */
  private def qfHitsFrom(ent: DataFrame, terms: Seq[String],
                         boosts: Seq[(String, Double)]): DataFrame = {
    require(terms.nonEmpty, "qf needs at least one term")
    require(boosts.nonEmpty && boosts.map(_._1).distinct.size == boosts.size,
      s"qf needs a non-empty, duplicate-free field->boost list, got $boosts")
    val e = ent.filter(col("tok").isin(terms.distinct: _*))
    val tfAggs = boosts.map { case (f, _) =>
      sum(when(col("field") === f, col("tf"))).as(s"tf_$f") }
    val score = boosts.map { case (f, w) =>
      coalesce(col(s"tf_$f"), lit(0L)) * lit(w) }.reduce(_ + _)
    e.groupBy(col("doc_id").as("rowkey"))
      .agg(tfAggs.head, tfAggs.tail: _*)
      .filter(boosts.map { case (f, _) => col(s"tf_$f").isNotNull }.reduce(_ || _))
      .select(col("rowkey") +:
        boosts.map { case (f, _) => coalesce(col(s"tf_$f"), lit(0L)).as(s"tf_$f") } :+
        score.as("score"): _*)
  }

  /** Per-doc, per-field phrase frequency from the POSITIONS payload —
    * one row per matching doc (`rowkey`, `pf_<field>`…): the number of
    * positions where the whole phrase occurs contiguously in each of the
    * `fields` given, the classic positional start-witness intersection
    * ([[phraseSearch]]'s algorithm) COUNTED per field instead of
    * collapsed to a match set. Input is the phrase terms' entry rows
    * (from the caller's shared bucket-pruned read, pre-restricted to the
    * qf HIT docs — pf is boost-only, so a non-hit doc's rows can never
    * affect results and are dropped BEFORE the positions
    * check); output is ≤ |matching doc| rows. Fails loudly on a
    * positions-free row of a HIT doc, like [[phraseSearch]] — a
    * positions-free row of a non-hit doc (a keepPositions=false
    * re-put) no longer aborts the query (round-12 ADVICE). */
  private def phraseTfFields(spark: SparkSession, ent: DataFrame,
                             hitKeys: DataFrame,
                             phrase: Seq[String],
                             fields: Seq[String]): DataFrame = {
    require(phrase.length >= 2, "a phrase boost needs >= 2 terms")
    import spark.implicits._
    val slots = phrase.zipWithIndex.toDF("tok", "slot")
    // The null-positions guard lives AFTER an explode_outer, not in a
    // pre-explode projection: a plain explode makes Catalyst infer
    // `size(positions) > 0 AND isnotnull(positions)` from the generator —
    // a filter CONTAINING the raise_error CASE — and push it below the
    // hit-docs semi-join to the scan, re-widening the blast radius this
    // join exists to shrink. explode_outer infers nothing (its output is
    // nullable: a null array yields one null-pos row, which the guard
    // converts to the loud failure), and the guard can't be pushed below
    // the generator whose output it references. A kept entry row always
    // has non-empty positions (tf ≥ 1), so pos-null ⟺ positions-null.
    ent.filter(col("tok").isin(phrase.distinct: _*))
      .filter(col("field").isin(fields: _*))
      .join(broadcast(hitKeys.select(col("rowkey").as("doc_id"))),
        Seq("doc_id"), "left_semi")
      .join(broadcast(slots), "tok")
      .select(col("tok"), col("doc_id"), col("field"), col("slot"),
        explode_outer(col("positions")).as("pos0"))
      .select(col("doc_id"), col("field"), col("slot"),
        when(col("pos0").isNull, raise_error(concat(
          lit("no position payload for term '"), col("tok"),
          lit("' of doc "), col("doc_id"),
          lit(" (keepPositions=false root); "),
          lit("use the corpus-scoped phrase boost"))))
          .otherwise(col("pos0")).as("pos"))
      // count(1), not countDistinct(slot) (which plans an Expand): for a
      // fixed (doc, field, start), slot s contributes at most ONE row —
      // its witnessing position is pinned to start + s and a term's
      // positions are distinct — so the row count IS the distinct-slot
      // count (repeated phrase terms are distinct slots, same as
      // [[phraseSearch]])
      .groupBy(col("doc_id"), col("field"), (col("pos") - col("slot")).as("start"))
      .agg(count(lit(1)).as("nslots"))
      .filter(col("nslots") === phrase.length)
      // widen to one row per doc HERE (conditional per-field counts)
      // instead of a (doc, field) groupBy followed by the caller's (doc)
      // pivot — the chained regroup was a third shuffle for nothing
      .groupBy(col("doc_id").as("rowkey"))
      .agg(fields.map(f =>
          sum(when(col("field") === f, 1L)).as(s"pf_$f")).head,
        fields.map(f =>
          sum(when(col("field") === f, 1L)).as(s"pf_$f")).tail: _*)
  }

  /** Edismax `qf` + `pf` over the maintained state — the full deployed
    * form: the multi-term [[termSearchFields]] score, PLUS a phrase-
    * proximity boost for documents where the query terms appear as a
    * contiguous phrase in a `pf` field (Solr's `pf=title^3 body^1.5`:
    * docs already matching the main query get `pfBoost_f × phraseTf_f`
    * added — pf boosts, it never admits new docs). The phrase
    * frequencies come from the round-9 POSITIONS payload
    * ([[phraseTfFields]]); the whole read is ONE bucket-pruned entry pass
    * over the union of the qf and phrase terms' buckets
    * (`localCheckpoint`ed — qf tf and phrase positions are both served
    * from it) and the hit docs' keyed fetch —
    * no corpus scan. Returns the live hit rows with `tf_<field>` counts,
    * `pf_<field>` phrase counts, and the combined `score`. */
  def phraseBoostSearchFields(spark: SparkSession, rootPath: String,
                              terms: Seq[String],
                              boosts: Seq[(String, Double)],
                              phrase: Seq[String],
                              pf: Seq[(String, Double)]): DataFrame = {
    require(pf.nonEmpty && pf.map(_._1).distinct.size == pf.size,
      s"pf needs a non-empty, duplicate-free field->boost list, got $pf")
    // one read of the union'd pruned buckets serves qf tf AND phrase
    // positions (in the deployed form the term sets overlap or coincide;
    // two independent prunedEntries reads decoded the same buckets twice)
    val ent = prunedEntries(spark, rootPath, (terms ++ phrase).distinct)
      .select("tok", "field", "doc_id", "tf", "positions")
      .localCheckpoint()
    val hits = qfHitsFrom(ent, terms, boosts)
    // already wide — one row per hit doc with per-field phrase counts
    // (conditional aggregation inside phraseTfFields' own groupBy; a
    // .pivot() here would plan TWO extra aggregates for a known field list)
    val pfWide = phraseTfFields(spark, ent, hits.select("rowkey"),
      phrase, pf.map(_._1))
    val pfScore = pf.map { case (f, w) =>
      coalesce(col(s"pf_$f"), lit(0L)) * lit(w) }.reduce(_ + _)
    // left join: pf BOOSTS qf hits, it never admits a phrase-only doc.
    // Checkpointed: `boosted` is consumed three times (bucket-dir collect,
    // pruning join, final broadcast) and its subtree — qf agg + the whole
    // phrase-intersection pipeline — would otherwise run once per consumer.
    val boosted = hits.withColumnRenamed("score", "qf_score")
      .join(pfWide, Seq("rowkey"), "left")
      .select(col("rowkey") +:
        (boosts.map { case (f, _) => col(s"tf_$f") } ++
          pf.map { case (f, _) => coalesce(col(s"pf_$f"), lit(0L)).as(s"pf_$f") }) :+
        (col("qf_score") + pfScore).as("score"): _*)
      .localCheckpoint()
    prunedDocsForKeys(spark, rootPath, boosted.select("rowkey"))
      .join(broadcast(boosted), "rowkey")
  }

  /** Multi-field BM25 over the maintained state — Lucene's per-field
    * similarity under edismax `qf` with `tie=1.0`: every field is its own
    * index with its OWN statistics (df per (term, field), docCount and
    * avgdl per field from the [[fieldStats]] sidecar, dl per (doc,
    * field) from the fetched rows), each (term, field) contribution is
    * the standard BM25 term (k1=1.2, b=0.75, constant-folded literals as
    * everywhere), weighted by the field boost, and summed per doc. Read
    * shape is [[bm25Search]]'s: bucket-pruned entries (a (term, field)
    * posting set is complete within the term's bucket, so df is exact),
    * metadata-sized sidecar, hit-list-broadcast fetch of only the hit
    * docs' buckets — no corpus file opened. `tokenize` must match the
    * state's merge tokenizer. */
  def bm25SearchFields(spark: SparkSession, rootPath: String,
                       terms: Seq[String], boosts: Seq[(String, Double)],
                       k: Int = 20,
                       tokenize: Column => Column = split(_, " ")): DataFrame = {
    require(terms.nonEmpty, "ranked retrieval needs at least one term")
    require(boosts.nonEmpty && boosts.map(_._1).distinct.size == boosts.size,
      s"qf needs a non-empty, duplicate-free field->boost list, got $boosts")
    import spark.implicits._
    val fieldNames = boosts.map(_._1)
    // sidecar first: an un-merged root fails HERE with fieldStats'
    // "merge a batch first" instead of an unresolved-column error from
    // the per-field dl melt over the empty docs fallback
    val fstats = fieldStats(spark, rootPath)
    val ent = prunedEntries(spark, rootPath, terms.distinct)
      .filter(col("field").isin(fieldNames: _*))
      .select("tok", "field", "doc_id", "tf")
      .localCheckpoint() // one read of the pruned buckets for df AND tf
    val hits = ent
      .join(broadcast(ent.groupBy("tok", "field").agg(count(lit(1)).as("df"))),
        Seq("tok", "field"))
    val boostDf = boosts.toDF("field", "boost")
    // per-field dl of the hit docs, from the fetched rows' own columns —
    // ONE pass over the (bucket-pruned) fetch: the fields melt through a
    // single explode instead of one read per field. A null field value
    // (doc doesn't have the field) surfaces dl -1 under this engine's
    // legacy sizeOfNull (size(NULL) = -1, not NULL — same semantics as
    // the bucketStats guard) and is dropped by the >= 0 filter; the
    // isNotNull leg covers a future ANSI flip where size(NULL) IS NULL.
    val docs = prunedDocsForKeys(spark, rootPath,
      hits.select(col("doc_id").as("rowkey")))
    val dls = docs.select(col("rowkey").as("doc_id"),
        explode(array(fieldNames.map(f => struct(lit(f).as("field"),
          size(tokenize(col(f))).cast("long").as("dl"))): _*)).as("fd"))
      .select(col("doc_id"), col("fd.field").as("field"), col("fd.dl").as("dl"))
      .filter(col("dl").isNotNull && col("dl") >= 0)
    dls.join(broadcast(hits), Seq("doc_id", "field"))
      .join(broadcast(fstats), "field")
      .join(broadcast(boostDf), "field")
      .withColumn("contrib",
        col("boost") *
          log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
          (lit(2.2) * col("tf")) /
          (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
      .groupBy("doc_id")
      .agg(round(sum(col("contrib")), 4).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** A query term's posting in a hit doc, with the term's df: one row of
    * the ranked reads' hit list. */
  private final case class TermHit(tok: String, docId: String, tf: Long, df: Long)

  /** The query terms' hit list — one collect of their bucket-pruned
    * [[postingRows]], each term's df counted on the driver (a term's
    * posting list is complete within its bucket, so the count is
    * exact); the shared head of the ranked reads. */
  private def termHits(spark: SparkSession, rootPath: String,
                       terms: Seq[String]): Seq[TermHit] = {
    require(terms.nonEmpty, "ranked retrieval needs at least one term")
    val rows = postingRows(spark, rootPath, terms.distinct).collect()
    val df = rows.groupMapReduce(_.getString(0))(_ => 1L)(_ + _)
    rows.toSeq.map(r => TermHit(r.getString(0), r.getString(1), r.getLong(2), df(r.getString(0))))
  }

  /** A query term's BM25 weight in one doc (k1=1.2, b=0.75 as the
    * constant-folded literals 2.2 and 0.25) over columns tf, df, dl,
    * n_docs and avgdl — the one form of the formula, evaluated over a
    * distributed join or over collected hits ([[weighed]]). */
  private[graft] val bm25Contrib: Column =
    log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
      (lit(2.2) * col("tf")) /
      (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))

  /** A query term's TF-IDF weight in one doc, tf·ln(N/df), over columns
    * tf, df and n_docs. */
  private[graft] val tfidfContrib: Column = col("tf") * log(col("n_docs") / col("df"))

  private val weighSchema = StructType(Seq(StructField("doc_id", StringType),
    StructField("tok", StringType), StructField("tf", LongType),
    StructField("df", LongType), StructField("dl", LongType),
    StructField("n_docs", LongType), StructField("avgdl", DoubleType)))

  /** Each doc's score over collected (doc_id, tok, tf, df, dl, n_docs,
    * avgdl) rows: `contrib` is selected over them as a local relation,
    * which the optimizer evaluates on the driver (ConvertToLocalRelation,
    * no job) with the same expression a distributed read runs; each doc's
    * weights are then summed in term order, NULLs skipped like Spark's
    * `sum`, and rounded like `round(sum(contrib), 4)`. */
  private def weighed(spark: SparkSession, contrib: Column,
                      rows: Seq[Row]): Seq[(String, Double)] =
    local(spark, (weighSchema, rows.toArray))
      .select(col("doc_id"), col("tok"), contrib).collect().toSeq
      .groupBy(_.getString(0)).toSeq.map { case (doc, ws) =>
        doc -> roundHalfUp(ws.sortBy(_.getString(1)).filterNot(_.isNullAt(2))
          .map(_.getDouble(2)).sum, 4)
      }

  /** The hit docs' lengths for BM25 — (rowkey, dl) from only their own
    * doc buckets ([[hitDocs]]); lazy and exposed, so specs can pin the
    * fetch's buckets. */
  private[graft] def lengthFetch(spark: SparkSession, rootPath: String,
      keys: Set[String], tokenize: Column => Column = split(_, " ")): DataFrame =
    hitDocs(spark, rootPath, keys)
      .select(col("rowkey"), size(tokenize(col("text"))).cast("long").as("dl"))

  /** Every hit doc's BM25 score, on the driver: N/avgdl from the cached
    * [[docStats]] row, dl from one [[lengthFetch]] job, [[bm25Contrib]]
    * [[weighed]] over the hits. A hit whose doc is no longer live scores
    * nothing, as the inner join it replaces dropped it. */
  private def bm25Scores(spark: SparkSession, rootPath: String, hits: Seq[TermHit],
                         tokenize: Column => Column): Seq[(String, Double)] = {
    val stats = docStatsCollected(spark, rootPath)._2.head
    if (hits.isEmpty) return Nil
    require(!stats.isNullAt(0) && !stats.isNullAt(1),
      s"no ranking statistics at $rootPath for ${hits.size} hits")
    val dl = lengthFetch(spark, rootPath, hits.map(_.docId).toSet, tokenize)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    weighed(spark, bm25Contrib, hits.filter(h => dl.contains(h.docId)).map(h =>
      Row(h.docId, h.tok, h.tf, h.df, dl(h.docId), stats.getLong(0), stats.getDouble(1))))
  }

  /** BM25 ranked retrieval served ENTIRELY from the maintained state —
    * Solr's default similarity (BM25Similarity, k1=1.2, b=0.75, the
    * reference's actual ranking) over the incrementally-maintained index:
    * tf and df from the query terms' BUCKET-PRUNED entries (a term's
    * posting list is complete within its bucket, so both are exact),
    * N/avgdl from the [[docStats]] sidecar (metadata-sized), and dl from
    * the hit docs' keyed fetch. Two jobs: the entries collect and the
    * fetch; the scores and the top k are assembled on the driver and come
    * back as a local frame. The weight is the corpus-scoped
    * `Index.qBm25Topk`'s own column ([[bm25Contrib]], one round at the
    * end; ties by doc_id in Spark's string order), so converged state
    * ranks identically — spec-pinned and oracle-checked
    * (`q_bm25_maintained`). `tokenize` must match the one the state was
    * merged with. */
  def bm25Search(spark: SparkSession, rootPath: String, terms: Seq[String],
                 k: Int = 20, tokenize: Column => Column = split(_, " ")): DataFrame =
    scoredFrame(spark, "doc_id", "score",
      topK(bm25Scores(spark, rootPath, termHits(spark, rootPath, terms), tokenize), k))

  private val hitsSchema = StructType(Seq(StructField("tok", StringType),
    StructField("doc_id", StringType), StructField("tf", LongType),
    StructField("df", LongType)))

  /** The query terms' hit list as a local frame (tok, doc_id, tf, df) —
    * exposed so a caller composing a predicate (Hybrid's filtered
    * lexical leg) can derive the candidate ids from ONE entry-bucket
    * read and hand the frame back to [[bm25ScoredFrom]]. */
  private[graft] def bm25Hits(spark: SparkSession, rootPath: String,
      terms: Seq[String]): DataFrame =
    local(spark, (hitsSchema, termHits(spark, rootPath, terms)
      .map(h => Row(h.tok, h.docId, h.tf, h.df)).toArray))

  /** [[bm25Search]]'s scored candidates PRE top-k over a [[bm25Hits]]
    * frame, as (doc_id, score), optionally RESTRICTED to `among` (a
    * (doc_id) frame, collected) — the seam a FILTERED search composes a
    * predicate into: filtering here, before the rank truncation, keeps
    * k-fill semantics (the leg fills its depth from MATCHING docs), and
    * the restriction applies before the doc-length fetch, so only the
    * surviving hits' buckets are opened. Restricting candidates never
    * changes a survivor's score: tf/df/dl are per-doc or per-term facts
    * and n_docs/avgdl are state-level ([[docStats]]) — Lucene's fq
    * discipline. */
  private[graft] def bm25ScoredFrom(spark: SparkSession, rootPath: String,
      hits: DataFrame, among: Option[DataFrame],
      tokenize: Column => Column = split(_, " ")): DataFrame = {
    val allowed = among.map(_.select("doc_id").collect().map(_.getString(0)).toSet)
    val kept = hits.select("tok", "doc_id", "tf", "df").collect().toSeq
      .map(r => TermHit(r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .filter(h => allowed.forall(_.contains(h.docId)))
    scoredFrame(spark, "doc_id", "score", bm25Scores(spark, rootPath, kept, tokenize))
  }

  /** BM25 with query-time synonym expansion over the maintained state —
    * Lucene's SynonymQuery scoring (what Solr does when the query
    * analyzer expands a term): each OR group scores as ONE pseudo-term,
    * tf(doc) = Σ member tf, df = MAX member df (SynonymQuery#docFreq),
    * so a synonym group never inflates idf the way separately-scored OR
    * terms would. Same bucket-pruned read shape and constant-folded
    * arithmetic as [[bm25Search]] (`bm25Search(ts)` ≡ singleton groups);
    * the corpus-scoped twin is `Index.qSynonymBm25`, one oracle checks
    * both. `tokenize` must match the state's merge tokenizer. */
  def bm25SearchGroups(spark: SparkSession, rootPath: String,
                       groups: Seq[Seq[String]], k: Int = 20,
                       tokenize: Column => Column = split(_, " ")): DataFrame = {
    require(groups.nonEmpty && groups.forall(_.nonEmpty),
      "grouped ranked retrieval needs at least one non-empty term group")
    import spark.implicits._
    val uniq = groups.map(_.distinct)
    val tokGroup = uniq.zipWithIndex
      .flatMap { case (g, i) => g.map(t => (t, i)) }.toDF("tok", "grp")
    val tagged = prunedEntries(spark, rootPath, uniq.flatten.distinct)
      .select("tok", "doc_id", "tf")
      .join(broadcast(tokGroup), "tok")
      .localCheckpoint() // one read of the pruned buckets for df AND tf
    val dfg = tagged.select("grp", "tok", "doc_id").distinct()
      .groupBy("grp", "tok").agg(count(lit(1)).as("df"))
      .groupBy("grp").agg(max(col("df")).as("df"))
    val hits = tagged.groupBy("grp", "doc_id").agg(sum(col("tf")).as("tf"))
      .join(broadcast(dfg), "grp")
    val stats = docStats(spark, rootPath)
    prunedDocsForKeys(spark, rootPath, hits.select(col("doc_id").as("rowkey")))
      .select(col("rowkey").as("doc_id"), size(tokenize(col("text"))).cast("long").as("dl"))
      .join(broadcast(hits), "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("contrib", bm25Contrib)
      .groupBy("doc_id")
      .agg(round(sum(col("contrib")), 4).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** TF-IDF ranked retrieval from the maintained state — same read shape
    * as [[bm25Search]] (bucket-pruned entries for tf/df, N from the stats
    * sidecar), the corpus-scoped `q_tfidf_topk`'s own weight column
    * ([[tfidfContrib]]: score = Σ tf·ln(N/df), one round at the end), so
    * a converged corpus ranks identically. No docs read at all: unlike
    * BM25 there is no length normalization, so the whole query is
    * answered from one entries collect plus one metadata row, scored on
    * the driver. */
  def tfidfSearch(spark: SparkSession, rootPath: String, terms: Seq[String],
                  k: Int = 20): DataFrame = {
    val stats = docStatsCollected(spark, rootPath)._2.head
    val hits = termHits(spark, rootPath, terms)
    require(hits.isEmpty || !stats.isNullAt(0),
      s"no ranking statistics at $rootPath for ${hits.size} hits")
    scoredFrame(spark, "doc_id", "score", topK(weighed(spark, tfidfContrib,
      hits.map(h => Row(h.docId, h.tok, h.tf, h.df, null, stats.getLong(0), null))), k))
  }

  /** More-like-this over the MAINTAINED state — Solr's MLT served with
    * zero corpus scans: the seed document's distinct terms are fetched by
    * key (one [[prunedDocs]] Get — a single doc's vocabulary is driver
    * metadata, the same bound as the probe's query shingles), then the
    * overlap count per candidate comes from the bucket-pruned entries of
    * exactly those terms. Returns (doc_id, overlap), best first, seed
    * excluded. `tokenize` must match the state's merge tokenizer. */
  def moreLikeThis(spark: SparkSession, rootPath: String, seedKey: String,
                   k: Int = 10,
                   tokenize: Column => Column = split(_, " ")): DataFrame = {
    val seedToks = prunedDocs(spark, rootPath, Seq(seedKey))
      .select(explode(array_distinct(tokenize(col("text")))).as("tok"))
      .collect().map(_.getString(0)).toSeq.distinct
    if (seedToks.isEmpty) // unknown or deleted seed: empty, not an error
      return spark.range(0).select(lit("").as("doc_id"), lit(0L).as("overlap"))
    prunedEntries(spark, rootPath, seedToks)
      .filter(col("doc_id") =!= seedKey)
      .groupBy("doc_id").agg(count(lit(1)).as("overlap"))
      .orderBy(col("overlap").desc, col("doc_id"))
      .limit(k)
  }

  /** Phrase query over the MAINTAINED state — Solr's `"t0 t1 …"~0` served
    * from the entries' position lists by adjacency intersection, the
    * classic positional-index algorithm: a document matches iff some
    * start position p has slot i's term at p + i for every slot i
    * ([[phraseAt]]). Repeated terms in the phrase are distinct slots, so
    * "a a" requires two adjacent positions, not one counted twice.
    * The check runs per (doc, FIELD) (like [[phraseTfFields]]): a
    * multi-field root stores one entry row per (tok, doc, field), and a
    * phrase matches within ONE field — 'a'@1 in title and 'b'@2 in body
    * never combine into "a b". Matching fields collapse to the doc set
    * afterwards.
    * Read shape is [[termSearch]]'s: one collect of the phrase's distinct
    * terms' bucket-pruned entry rows ([[positionRows]]), the adjacency
    * check on the driver, and the lazy keyed fetch of the matching docs
    * ([[hitDocs]]) — no corpus scan anywhere.
    *
    * Positions are NULL on a `keepPositions = false` root (the shingle
    * family); a phrase query over one fails loudly rather than silently
    * never matching — keep phrase queries on the corpus-scoped path
    * there. */
  def phraseSearch(spark: SparkSession, rootPath: String,
                   phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phraseSearch needs at least one term")
    val hits = positionRows(spark, rootPath, phrase.distinct).collect().toSeq
      .map { r =>
        if (r.isNullAt(3)) throw new IllegalStateException(
          s"no position payload for term '${r.getString(0)}' of doc " +
            s"${r.getString(2)} (keepPositions=false root); " +
            "use the corpus-scoped phrase query")
        ((r.getString(2), r.getString(1)), r.getString(0) -> r.getSeq[Int](3).toSet)
      }
      .groupMap(_._1)(_._2)
      .collect { case ((doc, _), toks) if phraseAt(toks.toMap, phrase) => doc }
    hitDocs(spark, rootPath, hits.toSet)
  }

  /** Whether some start position p has `phrase(i)` at p + i for every
    * slot i, given one (doc, field)'s positions per token. Slot 0 pins
    * every candidate start, and each slot is checked at its own offset,
    * so a repeated term ("a a") needs two adjacent positions. */
  private def phraseAt(positions: Map[String, Set[Int]], phrase: Seq[String]): Boolean =
    positions.getOrElse(phrase.head, Set.empty[Int]).exists(p =>
      phrase.indices.forall(i => positions.get(phrase(i)).exists(_.contains(p + i))))

  /** The phrase terms' entry rows with their positions payload — (tok,
    * field, doc_id, positions) from the bucket-pruned entries; the one
    * collect of [[phraseSearch]], lazy and exposed so specs can pin its
    * buckets. */
  private[graft] def positionRows(spark: SparkSession, rootPath: String,
                                  toks: Seq[String]): DataFrame =
    prunedEntries(spark, rootPath, toks).select("tok", "field", "doc_id", "positions")

  /** Solr highlighting served from MAINTAINED state: each live doc's
    * sorted position list for `term`, straight from the entries' position
    * payload — no corpus scan and no re-tokenization at read time; I/O is
    * the term's single entry bucket (deletes already anti-joined their
    * entries away, so every row here is a live doc). Positions come back
    * 1-based and comma-joined — the corpus-scoped q_highlight's canonical
    * encoding, so the two surfaces are directly comparable. Fails loudly
    * on a positions-free root, like [[phraseSearch]]. */
  def highlight(spark: SparkSession, rootPath: String, term: String): DataFrame =
    prunedEntries(spark, rootPath, Seq(term))
      .select(col("doc_id"),
        when(col("positions").isNull, raise_error(concat(
          lit(s"no position payload for term '$term' of doc "), col("doc_id"),
          lit(" (keepPositions=false root); "),
          lit("use the corpus-scoped highlight"))))
          .otherwise(col("positions")).as("positions"))
      .select(col("doc_id"),
        array_join(transform(col("positions"),
          p => (p + 1).cast("string")), ",").as("positions"),
        size(col("positions")).cast("long").as("n_hits"))

  /** Wire a streaming document changelog into the postings merge sink.
    * `firstDelaySeconds` mirrors the reference's `first_delay`
    * (application.properties:10) — see [[IncrementalIndex.start]]. */
  def start(changes: DataFrame, rootPath: String, checkpoint: String,
            intervalSeconds: Int = 30,
            tokenize: Column => Column = split(_, " "),
            firstDelaySeconds: Int = 0,
            numBuckets: Int = IncrementalIndex.DefaultBuckets,
            tokenizerName: Option[String] = None): StreamingQuery = {
    val gate = IncrementalIndex.firstBatchGate(firstDelaySeconds)
    val fence = WriterFence.claim(changes.sparkSession, rootPath)
    changes.writeStream
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(s"$intervalSeconds seconds"))
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        gate()
        fence.check(batch.sparkSession)
        mergeBatch(batch.sparkSession, batch, rootPath, tokenize, numBuckets,
          tokenizerName)
      }
      .start()
  }
}
