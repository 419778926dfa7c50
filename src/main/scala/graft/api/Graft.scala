package graft.api

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.StreamingQuery
import graft.{GraftConfig, Tables}
import graft.operators.{Analyzer, Changelog, Index, IvfIndex, TextAnalysis, Tokenizer, Vectors}
import graft.streaming.{IncrementalIndex, IncrementalPostings, IncrementalShingles, IngestPipeline}

/** The user-facing library surface — what a user of the reference system
  * (HBase rows + Solr secondary index, queried with full-text search,
  * filters, facets, stats, then row fetch; /root/reference/README.md:5-13)
  * migrates to. Each method is the parameterized form of an operator from
  * SURVEY.md §2; `SparkEntry.queries` pins fixed instantiations of the same
  * operators for the correctness oracle.
  *
  * All methods return lazy DataFrames — compose freely, nothing executes
  * until an action.
  *
  * `cfg` is the O13 parameter set (the reference's application.properties
  * — CF allowlist, rowkey field, thresholds; load one with
  * `GraftConfig.load(path)`); `tokenizer` is the analyzer seam the Solr
  * schema occupies in the reference (pass `Analyzer.Cjk` for space-free
  * corpora).
  */
class Graft(spark: SparkSession, dir: String,
            cfg: GraftConfig = GraftConfig.default,
            tokenizer: Tokenizer = Analyzer.default) {

  // ---- tables ----
  def events: DataFrame = Tables.events(spark, dir)
  def documents: DataFrame = Tables.documents(spark, dir)
  def embeddings: DataFrame = Tables.embeddings(spark, dir)

  // ---- index maintenance (the reference's write path) ----

  /** Materialized secondary-index state: latest put per rowkey, deletes
    * applied (the coprocessor pipeline O1–O11 as one declarative plan). */
  def indexState: DataFrame = Changelog.indexState(events, cfg)

  /** O4: the configured column-family allowlist over the changelog. */
  def allowedEvents: DataFrame = Changelog.filterCf(events, cfg)

  /** Point lookup by rowkey against the index state (HBase `Get`). */
  def lookup(rowkey: String): DataFrame =
    indexState.filter(col("rowkey") === rowkey)

  /** Start the streaming index-state merge for a changelog stream, fully
    * parameterized by the config — commit interval =
    * `interval_commit_index`, initial delay = `first_delay` (the
    * reference timer's two knobs, SolrIndexTools.java:46-49). The state
    * at `statePath` is bucketed; merges rewrite only touched buckets. */
  def startIndexMaintenance(changes: DataFrame, statePath: String,
                            checkpoint: String): StreamingQuery =
    IncrementalIndex.start(changes, statePath, checkpoint,
      intervalSeconds = cfg.commitIntervalSec,
      firstDelaySeconds = cfg.firstDelaySec)

  /** The streaming landing-zone changelog at `path`, with the config's
    * size threshold (`add_batchCount`, the reference's buffer-flush bound
    * at SolrIndexTools.java:124) applied as source admission — the SIZE
    * half of the reference's dual flush trigger; [[startIndexMaintenance]]
    * supplies the TIME half (`interval_commit_index` as the processing
    * trigger). `eventsPerFile` translates the row threshold into the file
    * source's admission unit (files): producers dropping ~fixed-size
    * files make `ceil(addBatchCount / eventsPerFile)` the per-batch file
    * budget. When one file already exceeds the row threshold
    * (`eventsPerFile > addBatchCount`), file granularity cannot honor it —
    * the cap degrades to one file per trigger (logged); producers with
    * variable or large files should bound bytes instead
    * ([[changeStreamBytes]]). */
  def changeStream(path: String, format: String = "json",
                   eventsPerFile: Int = 1): DataFrame = {
    require(eventsPerFile > 0, s"eventsPerFile must be positive, got $eventsPerFile")
    if (eventsPerFile > cfg.addBatchCount)
      Graft.log.warn(
        s"changeStream($path): one file carries ~$eventsPerFile events but " +
          s"add_batchCount=${cfg.addBatchCount}; file-granular admission degrades " +
          "to 1 file/trigger — consider changeStreamBytes for a byte bound")
    graft.sources.ChangelogSource.stream(spark, path, format,
      maxFilesPerTrigger =
        Some(math.max(1L, (cfg.addBatchCount.toLong + eventsPerFile - 1) / eventsPerFile).toInt))
  }

  /** Byte-budgeted flavor of [[changeStream]] — the sturdier admission
    * knob for file sources: `bytesPerEvent` translates the config's row
    * threshold into a per-trigger byte budget, which holds regardless of
    * how the producer sliced its files. */
  def changeStreamBytes(path: String, format: String = "json",
                        bytesPerEvent: Long = 256L): DataFrame = {
    require(bytesPerEvent > 0, s"bytesPerEvent must be positive, got $bytesPerEvent")
    graft.sources.ChangelogSource.stream(spark, path, format,
      maxBytesPerTrigger = Some(math.max(1L, cfg.addBatchCount * bytesPerEvent)))
  }

  /** Queue-shaped changelog records (value-bytes + broker metadata)
    * projected through the declared schema — see
    * [[graft.sources.ChangelogSource.fromBroker]]. */
  def brokerChanges(records: DataFrame): DataFrame =
    graft.sources.ChangelogSource.fromBroker(records)

  /** Start the streaming inverted-index merge, tokenizing through this
    * facade's analyzer; same config knobs as [[startIndexMaintenance]]. */
  def startPostingsMaintenance(changes: DataFrame, rootPath: String,
                               checkpoint: String): StreamingQuery =
    IncrementalPostings.start(changes, rootPath, checkpoint,
      intervalSeconds = cfg.commitIntervalSec,
      tokenize = tokenizer.tokens,
      firstDelaySeconds = cfg.firstDelaySec,
      tokenizerName = Some(tokenizer.name))

  /** Query the INCREMENTALLY MAINTAINED index at `rootPath` (multi-term
    * AND, then live-row fetch) — the reference's read path over the state
    * [[startPostingsMaintenance]] keeps current, no corpus scan. */
  def searchMaintained(rootPath: String, terms: Seq[String]): DataFrame =
    IncrementalPostings.termSearch(spark, rootPath, terms)

  /** Multi-field boosted term search (edismax `qf`, tie=1) over a
    * maintained multi-field root (`mergeBatchFields`): per-field tf
    * summed over the query terms, weighted by the field boosts, hit rows
    * key-fetched. */
  def searchFields(rootPath: String, terms: Seq[String],
                   boosts: Seq[(String, Double)]): DataFrame =
    IncrementalPostings.termSearchFields(spark, rootPath, terms, boosts)

  /** Edismax `qf` + `pf` (phrase-field proximity boost) over a
    * maintained multi-field root: the [[searchFields]] score plus
    * `pf_boost × contiguous-phrase count` per pf field, served from the
    * positions payload — pf boosts qf hits, it never admits new docs. */
  def searchFieldsPhrase(rootPath: String, terms: Seq[String],
                         boosts: Seq[(String, Double)],
                         phrase: Seq[String],
                         pf: Seq[(String, Double)]): DataFrame =
    IncrementalPostings.phraseBoostSearchFields(spark, rootPath, terms,
      boosts, phrase, pf)

  /** Per-field BM25 under `qf` boosts (Lucene's per-field similarity —
    * each field its own df/docCount/avgdl/dl) over a maintained
    * multi-field root. */
  def bm25Fields(rootPath: String, terms: Seq[String],
                 boosts: Seq[(String, Double)], k: Int = 20): DataFrame =
    IncrementalPostings.bm25SearchFields(spark, rootPath, terms, boosts, k)

  /** Point lookup (HBase Get/multi-Get) against a maintained index
    * state: opens only the keys' own bucket dirs; pages inside prune via
    * the clustered write order. */
  def getMaintained(statePath: String, rowkeys: Seq[String]): DataFrame =
    IncrementalIndex.get(spark, statePath, rowkeys)

  /** Prefix completions from the maintained index's vocabulary
    * (occurrence-ranked, Solr-suggester parity with the corpus-scoped
    * suggester; a vocabulary-sized entries scan, no docs). */
  def suggestMaintained(rootPath: String, prefix: String, k: Int = 10): DataFrame =
    IncrementalPostings.suggest(spark, rootPath, prefix, k)

  /** Spelling corrections from the maintained vocabulary within
    * `maxEdits`, occurrence-ranked. */
  def spellCorrectMaintained(rootPath: String, term: String,
                             maxEdits: Int = 1, k: Int = 5): DataFrame =
    IncrementalPostings.spellCorrect(spark, rootPath, term, maxEdits, k)

  /** BM25 top-k over the MAINTAINED index — ranked retrieval with zero
    * corpus scans: tf/df from the query terms' bucket-pruned entries,
    * N/avgdl from the per-bucket stats sidecar. Ranks a converged corpus
    * identically to [[bm25TopK]]. */
  def bm25Maintained(rootPath: String, terms: Seq[String], k: Int = 20): DataFrame =
    IncrementalPostings.bm25Search(spark, rootPath, terms, k)

  /** TF-IDF top-k over the MAINTAINED index — entries plus one metadata
    * row; no docs read. */
  def tfidfMaintained(rootPath: String, terms: Seq[String], k: Int = 20): DataFrame =
    IncrementalPostings.tfidfSearch(spark, rootPath, terms, k)

  /** More-like-this over the MAINTAINED index: seed terms by key-fetch,
    * overlap ranking from their pruned posting entries. */
  def moreLikeThisMaintained(rootPath: String, seedKey: String, k: Int = 10): DataFrame =
    IncrementalPostings.moreLikeThis(spark, rootPath, seedKey, k)

  /** Fuzzy term query (`term~maxEdits`) over the MAINTAINED index: one
    * collect of the entry rows whose token is within the edit bound (an
    * entries scan, never the corpus), then the hit docs' keyed fetch. */
  def fuzzySearchMaintained(rootPath: String, term: String,
                            maxEdits: Int = 1): DataFrame =
    IncrementalPostings.fuzzySearch(spark, rootPath, term, maxEdits)

  /** Phrase query over the MAINTAINED index: adjacency intersection of
    * the entries' position lists, hits fetched from their own buckets. */
  def phraseSearchMaintained(rootPath: String, phrase: Seq[String]): DataFrame =
    IncrementalPostings.phraseSearch(spark, rootPath, phrase)

  /** Highlighting over the MAINTAINED index: each live doc's 1-based hit
    * positions for `term`, from the entries' position payload — one entry
    * bucket of I/O, no corpus re-tokenization. */
  def highlightMaintained(rootPath: String, term: String): DataFrame =
    IncrementalPostings.highlight(spark, rootPath, term)

  /** Drop tombstones older than the source's replay horizon from a
    * maintained index state ([[startIndexMaintenance]]'s `statePath`) —
    * the compacted-topic/LSM retention discipline; only buckets holding
    * expired tombstones are rewritten. `horizonEventId` must be ≤ the
    * smallest event_id the source can still replay. */
  def gcIndexState(statePath: String, horizonEventId: Long): Unit =
    IncrementalIndex.gcTombstones(spark, statePath, horizonEventId)

  /** Same horizon GC for a maintained postings or shingle root (they share
    * the docs-state layout); the inverted index is never touched. */
  def gcPostings(rootPath: String, horizonEventId: Long): Unit =
    IncrementalPostings.gcTombstones(spark, rootPath, horizonEventId)

  /** Start the streaming shingle-index merge — the dedup family's dominant
    * artifact kept current by the changelog instead of rebuilt per session;
    * same config knobs as [[startIndexMaintenance]]. */
  def startShingleMaintenance(changes: DataFrame, rootPath: String,
                              checkpoint: String,
                              scheme: IncrementalShingles.SketchScheme =
                                IncrementalShingles.WordShingles): StreamingQuery =
    IncrementalShingles.start(changes, rootPath, checkpoint,
      intervalSeconds = cfg.commitIntervalSec,
      firstDelaySeconds = cfg.firstDelaySec,
      scheme = scheme)

  /** Serve this corpus's dedup artifacts (shingle index, near-dup pairs)
    * from the maintained shingle state at `rootPath`; each merge into that
    * root invalidates the session's cached artifacts automatically. */
  def useMaintainedShingles(rootPath: String): Unit =
    IncrementalShingles.register(spark, dir, rootPath)

  /** Query-time near-duplicate probe of an arriving document against the
    * maintained shingle state at `rootPath` — candidates from the capped,
    * bucket-pruned index, exact Jaccard scored on the fetched live rows;
    * no corpus or index scan. The ingestion-time dedup gate. */
  def nearDuplicatesOf(rootPath: String, text: String,
                       threshold: Double = 0.8,
                       maxQueryShingles: Int = 0,
                       maxCandidates: Int = 0): DataFrame =
    IncrementalShingles.nearDuplicates(spark, rootPath, text, threshold,
      maxQueryShingles = maxQueryShingles, maxCandidates = maxCandidates)

  /** [[nearDuplicatesOf]] for SPACE-FREE (CJK) text against a maintained
    * char-sketch state (merged with `scheme = CharSketch`) — the online
    * dedup check in the reference's actual language context. */
  def nearDuplicatesOfChar(rootPath: String, text: String,
                           threshold: Double = 0.8): DataFrame =
    IncrementalShingles.nearDuplicatesChar(spark, rootPath, text, threshold)

  /** Batch form of [[nearDuplicatesOf]]: `docs` is (qid STRING, text),
    * one row per qid, and the whole batch probes the maintained state at
    * once. Rows with a null qid are dropped; a qid on more than one row
    * fails the call with an IllegalArgumentException. */
  def nearDuplicatesOfBatch(rootPath: String, docs: DataFrame,
                            threshold: Double = 0.8,
                            maxCandidates: Int = 0): DataFrame =
    IncrementalShingles.nearDuplicatesBatch(spark, rootPath, docs, threshold,
      maxCandidates = maxCandidates)

  /** The ingestion admission filter: drop changelog puts whose text
    * already near-duplicates the maintained state at `rootPath`; novel
    * puts and all deletes pass through, ready for the merge sinks.
    * `maxCandidates` (0 = exact) bounds the per-doc candidate fetch
    * rarest-shingle-first — the gate-latency knob for long-lived states
    * (see [[graft.streaming.IncrementalShingles.gateDecisions]]). */
  def dedupGate(rootPath: String, batch: DataFrame,
                threshold: Double = 0.8,
                scheme: IncrementalShingles.SketchScheme =
                  IncrementalShingles.WordShingles,
                maxCandidates: Int = 0): DataFrame =
    IncrementalShingles.dedupGate(spark, rootPath, batch, threshold, scheme,
      maxCandidates)

  /** The reference's ENTIRE write path as one stream: each micro-batch is
    * admission-filtered by the dedup gate, then merged into the row-state
    * index, the inverted index, and the shingle index under
    * `pipelineRoot` — with the gate's verdicts committed to a durable
    * admission log before any merge, so a crash replay applies the SAME
    * decisions (see [[graft.streaming.IngestPipeline]]). A changelog
    * carrying an `embedding` column additionally keeps an IVF vector
    * index current at `IngestPipeline.vectorsRoot(pipelineRoot)`
    * (query it with [[ivfSearch]]/[[ivfSearchBatch]]). Read the text
    * states with [[getMaintained]]/[[searchMaintained]]/
    * [[nearDuplicatesOf]] at
    * `IngestPipeline.stateRoot/postingsRoot/shingleRoot(pipelineRoot)`;
    * audit what the gate dropped with [[admissionLog]]. */
  def startIngestPipeline(changes: DataFrame, pipelineRoot: String,
                          checkpoint: String, threshold: Double = 0.8,
                          scheme: IncrementalShingles.SketchScheme =
                            IncrementalShingles.WordShingles,
                          admitIf: Option[Column] = None,
                          semanticThreshold: Option[Double] = None,
                          maintainEvery: Int = 0,
                          maintainHorizons: Long => (Long, Long) =
                            _ => (Long.MinValue, Long.MinValue),
                          bucketByteBudget: Long = 0L,
                          textTransform: Option[Column => Column] = None,
                          gateMaxCandidates: Int = 0): StreamingQuery =
    IngestPipeline.start(changes, pipelineRoot, checkpoint, threshold,
      intervalSeconds = cfg.commitIntervalSec,
      firstDelaySeconds = cfg.firstDelaySec,
      tokenize = tokenizer.tokens,
      scheme = scheme,
      admitIf = admitIf,
      semanticThreshold = semanticThreshold,
      tokenizerName = Some(tokenizer.name),
      maintainEvery = maintainEvery,
      maintainHorizons = maintainHorizons,
      bucketByteBudget = bucketByteBudget,
      textTransform = textTransform,
      gateMaxCandidates = gateMaxCandidates)

  /** The pipeline's ingest provenance — every (rowkey, verdict, dup_of,
    * batch_id) the gate decided: `admitted`, `quality_reject` (failed the
    * `admitIf` predicate), `state_dup` (text near-dup of stored content;
    * `dup_of` = the best-matching stored rowkey), `batch_dup` (lost an
    * intra-batch text pairing; `dup_of` = the surviving partner), or
    * `semantic_dup` (embedding cosine ≥ `semanticThreshold` against
    * stored or co-arriving content). */
  def admissionLog(pipelineRoot: String): DataFrame =
    IngestPipeline.admissionLog(spark, pipelineRoot)

  /** Initial bulk load of an empty pipeline root: one merge pass per
    * state, quantizer trained on the full admitted corpus, decisions
    * logged under the reserved bootstrap batch id; the stream then takes
    * over with a fresh checkpoint. `dedupWithin` arms the intra-corpus
    * near-dup gate; `None` admits everything (curated corpus). Uses this
    * instance's tokenizer — the SAME token universe
    * [[startIngestPipeline]] merges with, so the stream's delta removals
    * match the bootstrapped entries; pass the same `scheme` to both. */
  def bootstrapPipeline(corpus: DataFrame, pipelineRoot: String,
                        dedupWithin: Option[Double] = None,
                        scheme: IncrementalShingles.SketchScheme =
                          IncrementalShingles.WordShingles,
                        annNlist: Int = 16,
                        annIters: Int = 5,
                        textTransform: Option[Column => Column] = None): IngestPipeline.BootstrapReport =
    IngestPipeline.bootstrap(spark, corpus, pipelineRoot, dedupWithin,
      tokenize = tokenizer.tokens, scheme = scheme,
      annNlist = annNlist, annIters = annIters,
      tokenizerName = Some(tokenizer.name),
      textTransform = textTransform)

  /** Register the engine's tables and derived views for `spark.sql(...)`:
    * `events`, `documents`, `embeddings`, plus `graft_index_state` (the
    * compacted secondary index) and `graft_postings` (the inverted
    * index). Views are lazy plans — a SQL query against them gets the
    * same Catalyst optimization as the DataFrame API. */
  def createViews(): Unit = {
    events.createOrReplaceTempView("events")
    documents.createOrReplaceTempView("documents")
    embeddings.createOrReplaceTempView("embeddings")
    indexState.createOrReplaceTempView("graft_index_state")
    postings.createOrReplaceTempView("graft_postings")
  }

  // ---- search (the Solr read path) ----

  private def toks = tokenizer.tokens(col("text"))

  /** Boolean full-text search: all of `all`, at least one of `any` (if
    * given), none of `none`. */
  def search(all: Seq[String], any: Seq[String] = Nil, none: Seq[String] = Nil): DataFrame = {
    val preds =
      all.map(t => array_contains(toks, t)) ++
        (if (any.isEmpty) Nil else Seq(any.map(t => array_contains(toks, t)).reduce(_ || _))) ++
        none.map(t => !array_contains(toks, t))
    // no clauses at all → match-all (Solr's q=*:*)
    documents.filter(preds.reduceOption(_ && _).getOrElse(lit(true)))
  }

  /** Term-frequency relevance top-k for one term. */
  def topkByRelevance(term: String, k: Int): DataFrame =
    documents
      .select(col("doc_id"), size(filter(toks, t => t === term)).cast("long").as("tf"))
      .filter(col("tf") > 0)
      .orderBy(col("tf").desc, col("doc_id"))
      .limit(k)

  /** BM25-ranked top-k for a multi-term query (Solr's default similarity;
    * Lucene form, k1=1.2, b=0.75). */
  def bm25TopK(terms: Seq[String], k: Int): DataFrame = {
    val stats = documents
      .select(size(toks).cast("long").as("dl"))
      .agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
    val tf = documents
      .select(col("doc_id"), size(toks).cast("long").as("dl"),
        explode(toks).as("tok"))
      .filter(col("tok").isin(terms: _*))
      .groupBy("doc_id", "tok")
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
    val df_ = tf.groupBy("tok").agg(countDistinct(col("doc_id")).as("df"))
    tf.join(broadcast(df_), "tok")
      .crossJoin(broadcast(stats))
      .withColumn("contrib",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
          (lit(2.2) * col("tf")) /
          (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
      .groupBy("doc_id")
      .agg(sum(col("contrib")).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** Context-window chunking of the corpus — ≤ `w`-token windows at
    * stride `s` (w−s tokens of overlap) with (doc_id, chunk_id)
    * provenance; the step between curation and sequence packing in a
    * training pipeline. */
  def chunkDocuments(w: Int = 32, s: Int = 24): DataFrame =
    graft.operators.TextAnalysis.chunks(documents, w, s)

  /** Adjacent-token phrase search (exact for whitespace analysis). */
  def phrase(words: Seq[String]): DataFrame =
    documents.filter(concat(lit(" "), col("text"), lit(" "))
      .contains(" " + words.mkString(" ") + " "))

  /** Spelling-correction candidates: vocabulary terms within `maxEdits`
    * of the query term, ranked by corpus frequency. */
  def spellCorrect(term: String, maxEdits: Int = 1, k: Int = 5): DataFrame =
    documents.select(explode(toks).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("n"))
      .filter(levenshtein(col("tok"), lit(term)) <= maxEdits)
      .orderBy(col("n").desc, col("tok"))
      .limit(k)

  /** Posting lists (token → sorted doc ids, df, occurrence count, per-doc
    * tf) — the inverted index; the default analyzer serves the session's
    * MATERIALIZED copy. Persist and maintain incrementally at scale. */
  def postings: DataFrame =
    if (tokenizer eq Analyzer.default) Index.sharedPostings(spark, dir)
    else Index.postings(documents, tokenizer)

  // ---- facets / stats ----

  def facetField(df: DataFrame, field: String, topN: Int = 100): DataFrame =
    df.groupBy(field).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col(field)).limit(topN)

  def facetRange(df: DataFrame, field: String, gap: Double): DataFrame =
    df.groupBy((floor(col(field) / gap) * gap).as("bucket"))
      .agg(count(lit(1)).as("n")).orderBy("bucket")

  def stats(df: DataFrame, groupField: String, valueField: String): DataFrame =
    df.groupBy(groupField).agg(
      count(lit(1)).as("n"),
      min(col(valueField)).as("min"), max(col(valueField)).as("max"),
      sum(col(valueField)).as("sum"), avg(col(valueField)).as("avg"))
      .orderBy(groupField)

  /** Solr result grouping (group.field + group.limit): the `n` best rows
    * per group. Compiles to WindowGroupLimit — a pre-shuffle partial
    * top-n per key, never the group's full contents through one task. */
  def topPerGroup(df: DataFrame, groupField: String, orderField: String,
                  tiebreak: String, n: Int = 1): DataFrame =
    df.withColumn("rn", row_number().over(
        Window.partitionBy(col(groupField))
          .orderBy(col(orderField).desc, col(tiebreak))))
      .filter(col("rn") <= n).drop("rn")

  // ---- training-data pipeline ----

  /** Exact dedup survivors: one row per distinct text (min doc_id wins). */
  def dedupExact: DataFrame =
    documents.withColumn("h", md5(col("text")))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("h")).orderBy(col("doc_id"))))
      .filter(col("rn") === 1).drop("rn", "h")

  /** Deterministic hash split: rows whose seeded md5 falls in
    * [0, fraction) of the hash space (first hex digit granularity 1/16). */
  def hashSample(seed: String, sixteenths: Int): DataFrame = {
    val allowed = (0 until sixteenths).map(_.toHexString)
    documents.filter(
      substring(md5(concat(lit(seed + ":"), col("doc_id"))), 1, 1).isin(allowed: _*))
  }

  /** Deterministic training shuffle: total order by seeded hash. */
  def shuffled(seed: String): DataFrame =
    documents
      .withColumn("shuffle_key", md5(concat(lit(seed + ":"), col("doc_id"))))
      .orderBy("shuffle_key")

  /** Brute-force cosine top-k neighbors of a stored vector. */
  def vectorTopK(queryVecId: Long, k: Int): DataFrame = {
    val q = embeddings.filter(col("vec_id") === queryVecId)
      .select(col("embedding").as("qv"))
    embeddings.filter(col("vec_id") =!= queryVecId)
      .crossJoin(broadcast(q))
      .withColumn("sim", Vectors.dot("embedding", "qv"))
      .select(col("vec_id"), col("label"), col("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(k)
  }

  /** Train and materialize a persisted IVF index over this corpus's
    * embeddings (cell-partitioned layout; probes prune at the file level).
    * Pass `pq` to also train product-quantization codebooks and store
    * 4-bit-code shortlist forms alongside the vectors ([[ivfSearchPq]]). */
  def buildIvfIndex(path: String, nlist: Int = 16, iters: Int = 5,
                    pq: Option[IvfIndex.PqSpec] = None,
                    attrs: Seq[String] = Nil): Unit =
    IvfIndex.build(embeddings, path, nlist, iters, pq, attrs)

  /** Probed ANN search against a persisted IVF index. */
  def ivfSearch(path: String, query: Seq[Float], k: Int = 10, probes: Int = 2): DataFrame =
    IvfIndex.search(spark, path, query, k, probes)

  /** Probed ANN search composed with a metadata predicate over the
    * index's stored attribute columns ([[buildIvfIndex]]'s `attrs`) —
    * "nearest neighbors among docs with lang='en'". The predicate applies
    * INSIDE the probed cells, before the top-k, so k fills whenever the
    * probed cells hold ≥ k matches (post-filtering a top-k under-fills). */
  def ivfSearchFiltered(path: String, query: Seq[Float], predicate: Column,
                        k: Int = 10, probes: Int = 2): DataFrame =
    IvfIndex.searchFiltered(spark, path, query, predicate, k, probes)

  /** Hybrid BM25 ⊕ vector first-stage retrieval over maintained state
    * (RRF fusion): lexical leg from a standing postings root, vector leg
    * a probed read of a persisted IVF index. Mixed-epoch, never torn,
    * when racing a live batch ([[graft.operators.Hybrid.maintainedLegs]]'
    * two-root coherence contract). */
  def hybridSearch(postingsRoot: String, ivfRoot: String,
                   terms: Seq[String], qv: Seq[Float], probes: Int = 2,
                   legDepth: Int = 50, consistent: Boolean = false): DataFrame =
    graft.operators.Hybrid.hybridSearchMaintained(spark, postingsRoot,
      ivfRoot, terms, qv, probes, legDepth, consistent = consistent)

  /** Retrieve-then-rerank over maintained state — the other standard
    * first-stage shape: BM25 top-`candDepth` candidates from the standing
    * postings, re-scored by embedding dot against `qv` via a keyed vector
    * fetch from the IVF index (a candidate deleted from the index drops).
    * Mixed-epoch by default; `consistent = true` opts into the optimistic
    * one-epoch mode over both roots (retry on an interleaved commit, loud
    * failure on exhaustion — [[graft.operators.Hybrid.oneEpoch]]). */
  def hybridRerank(postingsRoot: String, ivfRoot: String,
                   terms: Seq[String], qv: Seq[Float], candDepth: Int = 50,
                   top: Int = 20, consistent: Boolean = false): DataFrame =
    graft.operators.Hybrid.rerankMaintained(spark, postingsRoot, ivfRoot,
      terms, qv, candDepth, top, consistent = consistent)

  /** [[hybridRerank]] composed with a metadata predicate over the IVF
    * index's stored attribute columns — fq over retrieve-then-rerank:
    * candidates are the top-`candDepth` MATCHING docs (k-fill; predicate
    * answered by the colocated attribute store, scoring stats the full
    * state's), then re-scored by the keyed vector fetch. */
  def hybridRerankFiltered(postingsRoot: String, ivfRoot: String,
                           terms: Seq[String], qv: Seq[Float],
                           predicate: Column, candDepth: Int = 50,
                           top: Int = 20,
                           consistent: Boolean = false): DataFrame =
    graft.operators.Hybrid.rerankFilteredMaintained(spark, postingsRoot,
      ivfRoot, terms, qv, predicate, candDepth, top, consistent = consistent)

  /** [[hybridSearch]] composed with a metadata predicate over the IVF
    * index's stored attribute columns — the fq-over-hybrid shape: the
    * vector leg evaluates it inside the probed cells, the lexical leg's
    * candidates key-fetch their metadata from the same store; both legs
    * filter BEFORE their top-Ns (k-fill), stats stay the full state's. */
  def hybridSearchFiltered(postingsRoot: String, ivfRoot: String,
                           terms: Seq[String], qv: Seq[Float],
                           predicate: Column, probes: Int = 2,
                           legDepth: Int = 50,
                           consistent: Boolean = false): DataFrame =
    graft.operators.Hybrid.hybridSearchFilteredMaintained(spark,
      postingsRoot, ivfRoot, terms, qv, predicate, probes, legDepth,
      consistent = consistent)

  /** Memory-bounded probed search against a PQ-enabled index: ADC
    * shortlist over the (column-pruned) codes, exact rerank of the top
    * `shortlist` ids — equals [[ivfSearch]] whenever the true top-k
    * survives the shortlist. */
  def ivfSearchPq(path: String, query: Seq[Float], k: Int = 10,
                  probes: Int = 2, shortlist: Int = 100): DataFrame =
    IvfIndex.searchPq(spark, path, query, k, probes, shortlist)

  /** Batched [[ivfSearchPq]]: `queries` is (qid LONG, qv ARRAY<FLOAT>).
    * The batch, the codebooks, and the centroids are collected
    * DRIVER-SIDE and the probe ranking + per-query ADC tables are built
    * there, entering the plan as local relations (|queries| × m × k rows
    * — batch-sized by contract, so an oversized batch costs driver
    * memory; a broadcast would move the same rows through the driver
    * anyway). Only the data-sized work stays distributed: the probed
    * cells' codes scan and the full-precision rerank — floats touched
    * only at the rerank, no per-query driver loop. */
  def ivfSearchBatchPq(path: String, queries: DataFrame, k: Int = 10,
                       probes: Int = 2, shortlist: Int = 100): DataFrame =
    IvfIndex.searchBatchPq(spark, path, queries, k, probes, shortlist)

  /** Retrofit PQ codebooks + codes onto a built plain-IVF index (one
    * whole-root rewrite under the online-rebuild swap protocol). */
  def ivfEnablePq(path: String, pq: IvfIndex.PqSpec = IvfIndex.PqSpec()): Unit =
    IvfIndex.enablePq(spark, path, pq)

  /** Batched probed search: `queries` is (qid LONG, qv ARRAY<FLOAT>); one
    * broadcast join against the cell-pruned index serves every query —
    * no per-query driver loop. */
  def ivfSearchBatch(path: String, queries: DataFrame,
                     k: Int = 10, probes: Int = 2): DataFrame =
    IvfIndex.searchBatch(spark, path, queries, k, probes)

  /** Incrementally upsert (vec_id, embedding) rows into a persisted IVF
    * index — only the landed cells are rewritten. */
  def upsertIvf(path: String, vectors: DataFrame): Unit =
    IvfIndex.upsert(spark, path, vectors)

  /** Remove vectors by id from a persisted IVF index — the changelog-
    * delete half of [[upsertIvf]]: only the id buckets and cells holding
    * the ids are rewritten. `vecIds` is a one-column (vec_id) frame. */
  def deleteIvf(path: String, vecIds: DataFrame): Unit =
    IvfIndex.delete(spark, path, vecIds)

  /** True when drift has skewed the index's cells past `skewThreshold`×
    * their fair share and the quantizer should be retrained
    * ([[buildIvfIndex]]) — run on the maintenance cadence, not per
    * upsert. */
  def ivfNeedsRebuild(path: String, skewThreshold: Double = 4.0): Boolean =
    IvfIndex.needsRebuild(spark, path, skewThreshold)

  /** Retrain a drifted IVF index ONLINE: a complete replacement is built
    * beside the live index and promoted by one atomic swap — readers see
    * old or new, never torn; a crash between the renames heals on the
    * next read. The action [[ivfNeedsRebuild]] calls for. */
  def ivfRebuild(path: String, nlist: Int = 16, iters: Int = 5): Unit =
    IvfIndex.rebuild(spark, path, nlist, iters)

  /** Operational snapshot of a pipeline root — (state, metric, value):
    * per-state bucket/row/tombstone counts, ANN cells/rows/skew, and the
    * admission-verdict histogram. The read that precedes choosing
    * [[maintainPipeline]]'s horizons. */
  def describePipeline(pipelineRoot: String): DataFrame =
    IngestPipeline.describe(spark, pipelineRoot)

  /** One maintenance pass over every state the ingest pipeline maintains:
    * tombstone GC (row state + both token states) at `horizonEventId`,
    * admission-log GC at `horizonBatchId`, and a drift-gated online
    * retrain of the vector index. Run on the maintenance cadence, never
    * per batch; the horizons come from the source's replay retention.
    * `autoDfSidecar = true` lets the pass act on its own df-saturation
    * trigger — enable the per-token-df sidecar in the same maintenance
    * slot (cost logged) instead of leaving the advice for a human. */
  def maintainPipeline(pipelineRoot: String, horizonEventId: Long,
                       horizonBatchId: Long,
                       annNlist: Int = 16, annIters: Int = 5,
                       annSkewThreshold: Double = 4.0,
                       autoDfSidecar: Boolean = false): IngestPipeline.MaintenanceReport =
    IngestPipeline.maintain(spark, pipelineRoot, horizonEventId, horizonBatchId,
      annNlist = annNlist, annIters = annIters,
      annSkewThreshold = annSkewThreshold, autoDfSidecar = autoDfSidecar)

  /** Retrofit PQ onto the pipeline's maintained ANN index (one fenced
    * whole-index rewrite); afterwards every merge maintains the codes and
    * the drift-gated retrain re-trains the codebooks — [[ivfSearchPq]]
    * then serves from `IngestPipeline.vectorsRoot(pipelineRoot)`. */
  def enablePipelineAnnPq(pipelineRoot: String,
                          pq: IvfIndex.PqSpec = IvfIndex.PqSpec()): Unit =
    IngestPipeline.enableAnnPq(spark, pipelineRoot, pq)

  /** Consistent point-in-time copy of a pipeline root to a fresh root —
    * the replication/backup surface (Solr's replication in the
    * reference's stack). Run from the maintenance slot or against a
    * stopped pipeline; it never fences out live ingest. */
  def snapshotPipeline(pipelineRoot: String, destRoot: String): Unit =
    IngestPipeline.snapshot(spark, pipelineRoot, destRoot)

  /** Roll a pipeline root back to a snapshot, fencing out any zombie
    * writer first; restart the stream with a fresh checkpoint after. */
  def restorePipeline(snapshotRoot: String, pipelineRoot: String): Unit =
    IngestPipeline.restore(spark, snapshotRoot, pipelineRoot)

  /** Retention / right-to-be-forgotten: delete every doc matching
    * `predicate` (over the live row state's columns) from ALL pipeline
    * states via synthesized dominating tombstones. The matched set is
    * durably logged under `forget=<forgetId>` before any merge — a
    * same-id re-run resumes from the log, never re-decides — and shows
    * in [[admissionLog]] as verdict `forgotten`. `forgetId` must be
    * below the reserved bootstrap id (-2, -3, …) so it can never collide
    * with a stream batch id; bucket count / scheme / tokenizer are read
    * from the pipeline's own markers. Claims the writer fence; run from
    * the maintenance slot or a stopped pipeline. Returns the number of
    * keys forgotten. */
  def forgetPipeline(pipelineRoot: String, predicate: Column,
                     forgetId: Long): Long =
    IngestPipeline.forget(spark, pipelineRoot, predicate, forgetId)

  /** Re-bucket every hash-bucketed pipeline state to `newBuckets` — the
    * growth move when buckets outgrow their rewrite unit. Stop the
    * stream first (the claim fences a zombie out); restart it passing
    * the new count. Integer multiples of the current count re-bucket
    * shuffle-free. */
  def rescalePipeline(pipelineRoot: String, newBuckets: Int,
                      scheme: IncrementalShingles.SketchScheme =
                        IncrementalShingles.WordShingles): Unit =
    IngestPipeline.rescale(spark, pipelineRoot, newBuckets,
      scheme = scheme, tokenizerName = Some(tokenizer.name))

  /** Turn on the pipeline's incrementally-maintained aggregate
    * ([[graft.streaming.IncrementalRollup]]): subsequent merges keep
    * per-bucket partials of `groupCols` (+ optional `sum(sumCol)`)
    * current; [[pipelineRollup]] then serves the facet with no state
    * scan. Writer — run against a stopped pipeline or from the
    * maintenance slot. */
  def enableRollup(pipelineRoot: String, groupCols: Seq[String],
                   sumCol: Option[String] = None,
                   distinctCol: Option[String] = None,
                   statsCol: Option[String] = None): Unit =
    IngestPipeline.enableRollup(spark, pipelineRoot, groupCols, sumCol,
      distinctCol, statsCol)

  /** Remove the maintained rollup (marker + sidecar) — the off switch
    * and the correction path for a mis-specified enable. */
  def disableRollup(pipelineRoot: String): Unit =
    IngestPipeline.disableRollup(spark, pipelineRoot)

  /** The maintained aggregate of a rollup-enabled pipeline: one row per
    * group with `n` (+ `sum_<col>`, `n_distinct_<col>`), read from
    * |buckets|×|groups| partial rows. `by` collapses to a subset of the
    * enabled group columns — one maintained cuboid serves every coarser
    * facet. */
  def pipelineRollup(pipelineRoot: String, by: Seq[String] = Nil): DataFrame =
    IngestPipeline.readRollup(spark, pipelineRoot, by)

  /** Register standing percolator queries on a pipeline: from the next
    * batch on, every admitted put is matched and hits land durably under
    * the pipeline's alert outbox ([[pipelineAlerts]]). */
  def registerQueries(pipelineRoot: String,
                      queries: Seq[(String, Seq[String])]): Unit =
    IngestPipeline.registerQueries(spark, pipelineRoot, queries)

  /** Boolean registration: every `all` term, ≥1 `any` term (when given),
    * no `none` term — the search surface's S2 semantics, standing. */
  def registerStoredQueries(pipelineRoot: String,
                            queries: Seq[graft.operators.Percolate.StoredQuery]): Unit =
    IngestPipeline.registerStoredQueries(spark, pipelineRoot, queries)

  /** The pipeline's durable alert outbox — (rowkey, query_id, batch_id)
    * for every standing-query hit. */
  def pipelineAlerts(pipelineRoot: String): DataFrame =
    IngestPipeline.alerts(spark, pipelineRoot)

  /** Gap-based sessionization of [[events]] (30-minute idle split): one
    * row per (user, session) — count, span, value sum. */
  def sessions: DataFrame = graft.operators.Temporal.sessions(events)

  /** Conversion funnel over [[events]]: per gap-session, the furthest
    * stage of `steps` reached IN ORDER (ordered subsequence, one
    * codegen'd automaton pass per session). */
  def funnel(steps: Seq[String] = Seq("view", "click", "purchase")): DataFrame =
    graft.operators.Temporal.funnelStages(events, steps)

  /** Point-in-interval counts via the grid-cell equi-join
    * ([[graft.operators.Temporal.activeIntervalCounts]]); for heavily
    * stacked intervals prefer the boundary-sweep form (see
    * `q_active_sweep`), which has no pairwise fan-out. */
  def activeIntervalCounts(points: DataFrame, intervals: DataFrame,
                           idCol: String): DataFrame =
    graft.operators.Temporal.activeIntervalCounts(points, intervals, idCol)

  /** As-of join: each `left` row picks the latest `right` row at-or-
    * before its `ts` within the same key ([[graft.operators.Temporal.asofJoin]]
    * — the one-shuffle union-tag shape). */
  def asofJoin(left: DataFrame, right: DataFrame, keyCol: String,
               tsCol: String, tieCol: String,
               rightPayload: Seq[String]): DataFrame =
    graft.operators.Temporal.asofJoin(left, right, keyCol, tsCol, tieCol, rightPayload)

  /** Percolation (reverse search): which of the STORED `queries` (term
    * conjunctions) match each doc of `docs`. Registries that fit a
    * projection compile into the plan (stateless, streaming-safe:
    * [[graft.operators.Percolate.matchesCompiled]]); larger ones use the
    * broadcast-join form ([[graft.operators.Percolate.matches]]). */
  def percolate(docs: DataFrame, queries: Seq[(String, Seq[String])],
                compiled: Boolean = true): DataFrame =
    if (compiled) graft.operators.Percolate.matchesCompiled(docs, queries)
    else graft.operators.Percolate.matches(docs, queries)

  /** Keyset (cursor) page over any frame — Solr's `cursorMark` deep
    * paging: the top `n` rows in `(sortCol DESC, keyCol ASC)` order
    * strictly after `cursor` (page N's last `(sortVal, keyVal)`); `None`
    * is the first page. The cursor predicate pushes to the scan and the
    * page is a TakeOrderedAndProject, so depth never costs a prefix
    * re-sort (the `start`/`rows` offset form does). */
  def cursorPage(df: DataFrame, sortCol: String, keyCol: String, n: Int,
                 cursor: Option[(Double, Long)] = None): DataFrame =
    graft.operators.Search.cursorPage(df, sortCol, keyCol, n, cursor)

  /** Skew-safe exact distinct count per (possibly hot) key: a two-phase
    * aggregation that first dedupes within `buckets` hash-shards of the
    * value space, then sums the shard counts — so a hot key's distinct set
    * is built by `buckets` parallel tasks instead of one straggler.
    * (Plain per-key count/sum facets don't need this: map-side partial
    * aggregation already flattens them; distinct is the aggregate whose
    * partial state is unbounded.) */
  def distinctCountSalted(df: DataFrame, keyField: String, valueField: String,
                          buckets: Int = 32): DataFrame =
    df.groupBy(col(keyField), pmod(hash(col(valueField)), lit(buckets)).as("_shard"))
      .agg(countDistinct(col(valueField)).as("_partial"))
      .groupBy(keyField)
      .agg(sum(col("_partial")).as("n_distinct"))
      .orderBy(keyField)

  /** Train/test contamination report: eval-split docs whose min-shingle
    * fingerprint matches a training-split doc (1-permutation MinHash —
    * equal fingerprints ⇒ high shingle overlap). `testHex` selects the
    * deterministic eval split (n/16 of the hash space). */
  def contamination(seed: String = "split0", testHex: Seq[String] = Seq("0", "1", "2", "3")): DataFrame = {
    val fps = TextAnalysis.shingles(documents)
      .groupBy("doc_id").agg(min(md5(col("s"))).as("fp"))
      .withColumn("is_test",
        substring(md5(concat(lit(seed + ":"), col("doc_id"))), 1, 1).isin(testHex: _*))
    val train = fps.filter(!col("is_test"))
      .groupBy("fp").agg(min(col("doc_id")).as("train_doc_id"))
    fps.filter(col("is_test")).join(train, "fp")
      .select(col("doc_id").as("test_doc_id"), col("train_doc_id"))
  }

  /** Sequence-packing plan: docs assigned to fixed-capacity token packs
    * per source shard (exclusive prefix sum — no global order). */
  def packBatches(capacity: Int = 4096): DataFrame = {
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    documents
      .select(col("source"), col("doc_id"), size(toks).cast("long").as("n_tokens"))
      .withColumn("prev", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("pack_id", floor(col("prev") / capacity).cast("long"))
      .drop("prev")
  }

  /** Per-document quality/text-analysis report (tokens, TTR, stop ratio). */
  def textReport: DataFrame =
    documents.select(col("doc_id"), col("lang"),
      size(toks).cast("long").as("n_tokens"),
      size(array_distinct(toks)).cast("long").as("n_unique"),
      TextAnalysis.stopRatio(toks).as("stop_ratio"))
}

object Graft {
  private val log = org.slf4j.LoggerFactory.getLogger(classOf[Graft])

  def apply(spark: SparkSession, dir: String,
            cfg: GraftConfig = GraftConfig.default,
            tokenizer: Tokenizer = Analyzer.default): Graft =
    new Graft(spark, dir, cfg, tokenizer)
}
