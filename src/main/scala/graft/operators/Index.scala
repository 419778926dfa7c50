package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Inverted-index query family — the reference's actual architecture
  * (HBase rows + a Solr inverted index over their fields,
  * /root/reference/README.md:12-13) expressed natively: posting lists are a
  * Spark table derived from the corpus, and term queries are joins against
  * them instead of full-corpus scans.
  *
  * Scale notes: at 100 TB the posting-list table is the thing you
  * materialize once (bucketed by token) and incrementally maintain with the
  * changelog pipeline — then a term query touches |postings(term)| rows,
  * not the corpus. `q_inverted_search` demonstrates the read path: small
  * per-term posting sets are intersected (multi-term AND) with aggregated
  * semi-join shape; the corpus table is only consulted for the final row
  * fetch, keyed — the same search-then-fetch topology as the reference,
  * minus the second system.
  *
  * `q_tfidf_topk` upgrades S4's raw TF ranking with corpus-level IDF —
  * the aggregation producing df(term) is itself the posting-list build.
  */
object Index {
  type Q = (SparkSession, String) => DataFrame

  /** Posting lists: (token, sorted doc ids, document frequency, total
    * occurrence count, per-doc term frequencies). Tokenization goes through
    * the analyzer seam. `hits` is the full Lucene-shaped posting — (doc_id,
    * tf) pairs sorted by doc — from which `ids`/`df`/`n` are projections,
    * so every vocabulary query (suggest, spell, MLT) AND every ranked
    * retrieval (tf-idf, BM25) is answerable from the index alone, exactly
    * the read surface Solr serves from its standing index. The build
    * partial-aggregates twice ((tok, doc) then tok); at 100 TB both
    * shuffles are bounded by distinct (token, doc) pairs, not occurrences. */
  def postings(docs: DataFrame, tokenizer: Tokenizer = Analyzer.default): DataFrame =
    docs.select(col("doc_id"), explode(tokenizer.tokens(col("text"))).as("tok"))
      .groupBy("tok", "doc_id").agg(count(lit(1)).as("tf"))
      .groupBy("tok")
      .agg(sort_array(collect_list(struct(col("doc_id"), col("tf")))).as("hits"))
      .select(col("tok"),
        col("hits.doc_id").as("ids"),
        size(col("hits")).cast("long").as("df"),
        aggregate(col("hits"), lit(0L), (acc, h) => acc + h("tf")).as("n"),
        col("hits"))

  /** The default-analyzer posting lists over the corpus at `dir`,
    * MATERIALIZED once per session (see [[Materialize]]) — the read-side
    * form of the index the reference keeps in Solr. Term, fuzzy and
    * intersection queries consume the persisted copy: the filter runs per
    * DISTINCT vocabulary term against cached blocks, and because the
    * artifact is already materialized there is no aggregate in the
    * consumer's plan for Catalyst to (incorrectly for cost) push a
    * per-occurrence predicate beneath — no optimizer-barrier tricks
    * needed. */
  def sharedPostings(spark: SparkSession, dir: String): DataFrame =
    Materialize.artifact(spark, "postings_default", dir)(
      postings(Tables.documents(spark, dir)))

  /** Per-document token counts (doc_id, dl), derived from the MATERIALIZED
    * postings — Lucene's length norms, the per-doc sidecar BM25 needs. dl =
    * Σ tf over the doc's postings = the doc's token count, so corpus-level
    * ranking statistics (N, avgdl) come from the index too: none of the
    * ranked-retrieval queries touches the corpus files. */
  private[graft] def docLens(spark: SparkSession, dir: String): DataFrame =
    Materialize.artifact(spark, "doc_lens", dir)(
      sharedPostings(spark, dir)
        .select(explode(col("hits")).as("h"))
        .groupBy(col("h.doc_id").as("doc_id"))
        .agg(sum(col("h.tf")).as("dl")))

  private def qInvertedSearch(spark: SparkSession, dir: String): DataFrame = {
    // Multi-term AND via posting-list intersection: explode each matched
    // term's postings, keep doc_ids seen under every term. Then fetch the
    // matched rows from the corpus (search-then-fetch, one engine).
    val docs = Tables.documents(spark, dir)
    val terms = Seq("merge", "sort")
    val hits = sharedPostings(spark, dir)
      .filter(col("tok").isin(terms: _*))
      .select(explode(col("ids")).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("nt"))
      .filter(col("nt") === terms.length)
      .select("doc_id")
    docs.join(hits, "doc_id")
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")
  }

  private def qTfidfTopk(spark: SparkSession, dir: String): DataFrame = {
    // TF-IDF ranked retrieval for a two-term query. idf = ln(N / df);
    // score = Σ_terms tf(term, doc) · idf(term). All double arithmetic is
    // derived from exact integer counts, rounded once at the end.
    // Served ENTIRELY from the standing index (Solr's topology): the query
    // terms' posting rows already carry df and the per-doc tfs, and N comes
    // from the doc-length sidecar — zero corpus file scans; per-query work
    // is Σ df(term) posting entries.
    val terms = Seq("merge", "sort")
    val n = docLens(spark, dir).agg(count(lit(1)).as("n_docs"))
    val tf = sharedPostings(spark, dir)
      .filter(col("tok").isin(terms: _*))
      .select(col("df"), explode(col("hits")).as("h"))
      .select(col("h.doc_id").as("doc_id"), col("h.tf").as("tf"), col("df"))
    tf.crossJoin(broadcast(n))
      .groupBy("doc_id")
      .agg(round(sum(graft.streaming.IncrementalPostings.tfidfContrib), 4).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(20)
  }

  private def qBm25Topk(spark: SparkSession, dir: String): DataFrame = {
    // BM25 ranked retrieval — Solr's actual default similarity
    // (BM25Similarity, k1=1.2, b=0.75), i.e. what the reference's read
    // path returns today. idf is the Lucene/Robertson form
    // ln(1 + (N − df + ½)/(df + ½)); the tf saturation divides by
    // tf + k1·(1 − b + b·dl/avgdl), written as its constant-folded
    // literals (2.2 = k1+1, 0.25 = 1−b) identically in the oracle so the
    // double pipelines match operation-for-operation. Every input is an
    // exact integer aggregate (tf, df, N, dl; avgdl = exact integer sum /
    // exact count), one round at the end. Served ENTIRELY from the standing
    // index: tf/df from the query terms' posting rows, dl from the
    // doc-length sidecar (Lucene's norms), N/avgdl aggregated over the same
    // sidecar. The (small, Σ df(term)-bounded) hit list broadcasts into the
    // length join — the same hit-list-into-fetch topology as
    // search-then-fetch; no corpus file is opened.
    val terms = Seq("merge", "sort")
    val lens = docLens(spark, dir)
    val stats = lens.agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
    val tf = sharedPostings(spark, dir)
      .filter(col("tok").isin(terms: _*))
      .select(col("df"), explode(col("hits")).as("h"))
      .select(col("h.doc_id").as("doc_id"), col("h.tf").as("tf"), col("df"))
    lens.join(broadcast(tf), "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("contrib", graft.streaming.IncrementalPostings.bm25Contrib)
      .groupBy("doc_id")
      .agg(round(sum(col("contrib")), 4).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(20)
  }

  private def qHashSample(spark: SparkSession, dir: String): DataFrame =
    // Deterministic 2/16 (12.5%) hash sample — the reproducible alternative to
    // TABLESAMPLE for training-data splits: membership is a pure function
    // of the stable id, so the sample is identical across engines, runs,
    // and partitionings, and downstream joins of "sampled" tables line up.
    Tables.documents(spark, dir)
      .filter(substring(md5(concat(lit("split0:"), col("doc_id"))), 1, 1).isin("0", "1"))
      .select("doc_id", "lang", "source")
      .orderBy("doc_id")

  private def qContamination(spark: SparkSession, dir: String): DataFrame = {
    // Train/test contamination check — the training-data hygiene pass that
    // looks for eval documents leaked into the training split. Exact-hash
    // intersection misses rewrites, so the match key is the document's
    // min-shingle fingerprint (a 1-permutation MinHash: equal fingerprints
    // ⇒ high shingle-set overlap). Split membership is the deterministic
    // hash split (pure function of doc_id — reproducible anywhere); the
    // check itself is one fingerprint aggregation and one equi-join keyed
    // on the fingerprint, both shuffle-partitioned by that key at scale.
    val testHex = Seq("0", "1", "2", "3") // 4/16 deterministic eval split
    // the match key reads the MATERIALIZED fingerprint artifact — shared
    // with q_fingerprint, built once per session
    val fps = TextAnalysis.sharedFingerprints(spark, dir)
      .select(col("doc_id"), col("fp"))
      .withColumn("is_test",
        substring(md5(concat(lit("split0:"), col("doc_id"))), 1, 1).isin(testHex: _*))
    val train = fps.filter(!col("is_test"))
      .groupBy("fp").agg(min(col("doc_id")).as("train_doc_id"))
    fps.filter(col("is_test"))
      .join(train, "fp")
      .select(col("doc_id").as("test_doc_id"), col("train_doc_id"))
      .orderBy("test_doc_id")
  }

  private def qStratifiedSample(spark: SparkSession, dir: String): DataFrame =
    // Stratified deterministic sampling: a fixed fraction per stratum
    // (lang), membership a pure function of the stable id — so the sample
    // is reproducible across engines, runs, and partitionings, and
    // per-stratum rates are exact by construction. One partial-aggregated
    // groupBy; no shuffle of the sampled rows themselves.
    Tables.documents(spark, dir)
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_total"),
        count(when(substring(md5(concat(lit("strat:"), col("doc_id"))), 1, 1)
          .isin("0", "1", "2", "3"), lit(1))).as("n_sampled"))
      .orderBy("lang")

  private def qPackBatches(spark: SparkSession, dir: String): DataFrame = {
    // Training-sequence packing planner: documents are assigned, in
    // deterministic order within each source shard, to fixed-capacity
    // token packs. pack = floor(exclusive-prefix-sum / capacity) is the
    // streaming packing rule — a doc lands in the pack where its running
    // offset starts. The prefix sum partitions by source, so every shard
    // packs independently and in parallel; nothing in the plan holds a
    // global order.
    val cap = 4096
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .withColumn("prev", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .groupBy(col("source"), floor(col("prev") / cap).cast("long").as("pack_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("pack_tokens"))
      .orderBy("source", "pack_id")
  }

  private def qDomainCap(spark: SparkSession, dir: String): DataFrame =
    // Per-source document cap — the Common-Crawl-style curation rule that
    // stops any one domain from dominating the training mix: within each
    // source, rank docs (longest first, id tiebreak) and keep the top K.
    // One shuffle on `source`; the rank is a per-partition streaming
    // window, and at 100 TB a skewed mega-domain is exactly the case the
    // cap exists for — its partition does O(domain size) work once and
    // drops the tail, nothing downstream sees the skew.
    Tables.documents(spark, dir)
      .withColumn("rk", row_number().over(
        Window.partitionBy("source").orderBy(col("n_chars").desc, col("doc_id"))))
      .select(col("doc_id"), col("source"), col("rk"),
        (col("rk") <= 15).as("kept"))
      .orderBy("doc_id")

  private def qLangBalance(spark: SparkSession, dir: String): DataFrame = {
    // Language rebalancing — equalize the mix by downsampling every
    // language to the minority language's count. Membership is rank by a
    // seeded hash of the stable id within the language (deterministic
    // across engines/runs/partitionings, like every sampling op here).
    // The per-lang counts aggregate is a few rows → broadcast back; the
    // only corpus-sized exchange is the one shuffle on `lang` for the
    // rank window.
    val docs = Tables.documents(spark, dir)
    val minCnt = broadcast(docs.groupBy("lang").count()
      .agg(min(col("count")).as("min_cnt")))
    docs
      .withColumn("rk", row_number().over(
        Window.partitionBy("lang")
          .orderBy(md5(concat(lit("bal:"), col("doc_id"))), col("doc_id"))))
      .crossJoin(minCnt)
      .select(col("doc_id"), col("lang"),
        (col("rk") <= col("min_cnt")).as("kept"))
      .orderBy("doc_id")
  }

  private def qShuffleOrder(spark: SparkSession, dir: String): DataFrame =
    // Deterministic global shuffle for training-data interleaving: a total
    // order by a seeded hash of the id. At scale this is a range exchange
    // on the hash — exactly one shuffle, reproducible given the seed.
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        md5(concat(lit("seed42:"), col("doc_id"))).as("shuffle_key"))
      .orderBy("shuffle_key")
      .limit(100)

  /** Session-scoped maintained token-postings fixture backing the
    * maintained-read correctness keys: the corpus folded once per
    * (session, dir) into the file-backed state `IncrementalPostings`
    * keeps current in production — so the reference's PRIMARY read
    * topology (search the index, fetch the live rows) is exercised by the
    * oracle gate against genuinely maintained state, not a session cache. */
  private[graft] def maintainedFixture(spark: SparkSession, dir: String): String =
    Materialize.fixture(spark, "maintained_postings_fixture", dir) { tmp =>
      val root = tmp + "/postings"
      graft.streaming.IncrementalPostings.mergeBatch(spark,
        Tables.documents(spark, dir).select(
          col("doc_id").cast("string").as("rowkey"),
          col("doc_id").as("event_id"), lit("put").as("op"), col("text")), root)
      root
    }

  private def qSearchMaintained(spark: SparkSession, dir: String): DataFrame =
    // The reference's read path, end to end, over MAINTAINED state:
    // multi-term AND via bucket-pruned posting intersection, then the
    // live-row fetch (Solr hit list → HBase Get). rowkey is the decimal
    // doc_id string; the ORDER BY is numeric via event_id for a stable
    // oracle comparison.
    graft.streaming.IncrementalPostings
      .termSearch(spark, maintainedFixture(spark, dir), Seq("scan", "merge"))
      .orderBy("event_id")

  private def qSuggestMaintained(spark: SparkSession, dir: String): DataFrame =
    // Solr suggester over the MAINTAINED vocabulary — occurrence-ranked
    // from the entries' tf column, the SAME ranking as the corpus-scoped
    // q_suggest_prefix: both surfaces order one corpus one way.
    graft.streaming.IncrementalPostings
      .suggest(spark, maintainedFixture(spark, dir), "s", 10)

  private def qBm25Maintained(spark: SparkSession, dir: String): DataFrame =
    // BM25 ranked retrieval over MAINTAINED state — the ranked form of
    // the reference's read path: tf/df from the query terms' bucket-
    // pruned posting entries, N/avgdl from the per-bucket stats sidecar,
    // dl from the fetched rows. Same arithmetic as q_bm25_topk, so the
    // two surfaces rank a converged corpus identically (doc_id here is
    // the rowkey string; the oracle casts to match).
    graft.streaming.IncrementalPostings
      .bm25Search(spark, maintainedFixture(spark, dir), Seq("merge", "sort"))

  private def qSpellMaintained(spark: SparkSession, dir: String): DataFrame =
    // Solr SpellCheckComponent over the MAINTAINED vocabulary —
    // occurrence-ranked, identical semantics to the corpus-scoped
    // q_spell_correct.
    graft.streaming.IncrementalPostings
      .spellCorrect(spark, maintainedFixture(spark, dir), "mirge")

  private def qTfidfMaintained(spark: SparkSession, dir: String): DataFrame =
    // TF-IDF over MAINTAINED state: answered from the bucket-pruned
    // entries plus the stats sidecar's doc count — no docs read at all.
    graft.streaming.IncrementalPostings
      .tfidfSearch(spark, maintainedFixture(spark, dir), Seq("merge", "sort"))

  private def qPhraseMaintained(spark: SparkSession, dir: String): DataFrame =
    // Solr phrase query over MAINTAINED state — adjacency intersection of
    // the entries' position lists (the positional-index algorithm), then
    // the live-row fetch from only the hit docs' buckets. Same semantics
    // as the corpus-scoped q_phrase_search: for the whitespace analyzer,
    // position adjacency ≡ padded-substring containment, which is what the
    // oracle checks.
    graft.streaming.IncrementalPostings
      .phraseSearch(spark, maintainedFixture(spark, dir), Seq("merge", "sort"))
      .orderBy("event_id")

  private def qHighlightMaintained(spark: SparkSession, dir: String): DataFrame =
    // Solr highlighting over MAINTAINED state: the hit positions come off
    // the entries' position payload (one entry bucket of I/O), not from
    // re-tokenizing the corpus — same 1-based comma-joined encoding as
    // the corpus-scoped q_highlight, so one oracle checks both surfaces.
    graft.streaming.IncrementalPostings
      .highlight(spark, maintainedFixture(spark, dir), "merge")
      .select(col("doc_id").cast("long").as("doc_id"),
        col("positions"), col("n_hits"))
      .orderBy("doc_id")

  private def qFuzzyMaintained(spark: SparkSession, dir: String): DataFrame =
    // Solr fuzzy (term~1) over MAINTAINED state: one collect of the
    // entry rows whose token is within the edit bound (entries only),
    // then the hit docs' keyed fetch — same semantics as the
    // corpus-scoped q_fuzzy_search.
    graft.streaming.IncrementalPostings
      .fuzzySearch(spark, maintainedFixture(spark, dir), "merge", maxEdits = 1)
      .orderBy("event_id")

  private def qMltMaintained(spark: SparkSession, dir: String): DataFrame =
    // Solr MLT over MAINTAINED state: seed terms by key-fetch, overlap
    // from the seed terms' pruned posting entries (zero corpus scans).
    graft.streaming.IncrementalPostings
      .moreLikeThis(spark, maintainedFixture(spark, dir), "0")

  private def qSynonymBm25(spark: SparkSession, dir: String): DataFrame = {
    // Ranked retrieval WITH synonym expansion — Lucene's SynonymQuery
    // scoring (what Solr actually does when the query analyzer expands a
    // term): each expansion group scores as ONE pseudo-term — tf(doc) =
    // Σ member tf, df = MAX member df (SynonymQuery#docFreq) — so a
    // synonym group never inflates idf the way a naive OR of separately-
    // scored terms would double-count. Same constant-folded BM25
    // arithmetic and index-only topology as q_bm25_topk: postings +
    // length sidecar, hit lists broadcast, no corpus file opened.
    import spark.implicits._
    val groups = Analyzer.expandQuery(Search.synonymQueryTerms, Search.demoSynonyms)
    val tokGroup = groups.zipWithIndex
      .flatMap { case (g, i) => g.map(t => (t, i)) }.toDF("tok", "grp")
    val lens = docLens(spark, dir)
    val stats = lens.agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
    val gp = sharedPostings(spark, dir).join(broadcast(tokGroup), "tok")
    val dfg = gp.groupBy("grp").agg(max(col("df")).as("dfg"))
    val tfg = gp.select(col("grp"), explode(col("hits")).as("h"))
      .groupBy(col("grp"), col("h.doc_id").as("doc_id"))
      .agg(sum(col("h.tf")).as("tfg"))
    lens.join(broadcast(tfg), "doc_id")
      .join(broadcast(dfg), "grp")
      .crossJoin(broadcast(stats))
      .withColumn("contrib",
        log(lit(1.0) + (col("n_docs") - col("dfg") + lit(0.5)) / (col("dfg") + lit(0.5))) *
          (lit(2.2) * col("tfg")) /
          (col("tfg") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
      .groupBy("doc_id")
      .agg(round(sum(col("contrib")), 4).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(20)
  }

  private def qSynonymMaintained(spark: SparkSession, dir: String): DataFrame =
    // Query-time synonym expansion over MAINTAINED state: the same OR
    // groups as the corpus-scoped q_synonym_search, served by the
    // bucket-pruned grouped retrieval — the index is never expanded and
    // never re-scanned; per-query I/O is the expansion terms' entry
    // buckets plus the hit fetch. One oracle checks both surfaces.
    graft.streaming.IncrementalPostings
      .termSearchGroups(spark, maintainedFixture(spark, dir),
        Analyzer.expandQuery(Search.synonymQueryTerms, Search.demoSynonyms))
      .orderBy("event_id")

  private def qSynonymBm25Maintained(spark: SparkSession, dir: String): DataFrame =
    // SynonymQuery-scored BM25 over MAINTAINED state — the ranked form
    // of q_synonym_maintained: group tf/df from one bucket-pruned
    // entries read, N/avgdl from the stats sidecar, dl from the hit
    // rows' keyed fetch. Same arithmetic as the corpus-scoped
    // q_synonym_bm25, so converged state ranks identically.
    graft.streaming.IncrementalPostings
      .bm25SearchGroups(spark, maintainedFixture(spark, dir),
        Analyzer.expandQuery(Search.synonymQueryTerms, Search.demoSynonyms))

  private def qWildcardMaintained(spark: SparkSession, dir: String): DataFrame =
    // Solr wildcard over MAINTAINED state: one collect of the entry rows
    // whose token has the prefix, hit rows key-fetched — the fuzzy
    // topology with a prefix predicate. Same oracle semantics as the
    // corpus-scoped q_wildcard_search.
    graft.streaming.IncrementalPostings
      .wildcardSearch(spark, maintainedFixture(spark, dir), "s")
      .orderBy("event_id")

  private def qMmMaintained(spark: SparkSession, dir: String): DataFrame =
    // edismax mm over MAINTAINED state: at-least-2-of-3 counted on the
    // driver from the bucket-pruned entry rows, match count carried on
    // the keyed fetch's rows.
    graft.streaming.IncrementalPostings
      .termSearchMinMatch(spark, maintainedFixture(spark, dir),
        Seq("merge", "sort", "scan"), minMatch = 2)
      .select(col("rowkey"), col("event_id"), col("op"), col("text"),
        col("n_matched"))
      .orderBy("event_id")

  val queries: Map[String, Q] = Map(
    "q_wildcard_maintained" -> qWildcardMaintained,
    "q_mm_maintained" -> qMmMaintained,
    "q_synonym_bm25" -> qSynonymBm25,
    "q_synonym_bm25_maintained" -> qSynonymBm25Maintained,
    "q_synonym_maintained" -> qSynonymMaintained,
    "q_search_maintained" -> qSearchMaintained,
    "q_suggest_maintained" -> qSuggestMaintained,
    "q_bm25_maintained" -> qBm25Maintained,
    "q_tfidf_maintained" -> qTfidfMaintained,
    "q_mlt_maintained" -> qMltMaintained,
    "q_spell_maintained" -> qSpellMaintained,
    "q_phrase_maintained" -> qPhraseMaintained,
    "q_highlight_maintained" -> qHighlightMaintained,
    "q_fuzzy_maintained" -> qFuzzyMaintained,
    "q_inverted_search" -> qInvertedSearch,
    "q_tfidf_topk" -> qTfidfTopk,
    "q_bm25_topk" -> qBm25Topk,
    "q_hash_sample" -> qHashSample,
    "q_contamination" -> qContamination,
    "q_stratified_sample" -> qStratifiedSample,
    "q_domain_cap" -> qDomainCap,
    "q_lang_balance" -> qLangBalance,
    "q_pack_batches" -> qPackBatches,
    "q_shuffle_order" -> qShuffleOrder)

  val oracle: Map[String, String] = Map(
    "q_wildcard_maintained" ->
      """SELECT CAST(doc_id AS VARCHAR) AS rowkey, doc_id AS event_id,
        |       'put' AS op, text
        |FROM documents
        |WHERE len(list_filter(string_split(text, ' '),
        |                      t -> starts_with(t, 's'))) > 0
        |ORDER BY event_id""".stripMargin,
    "q_mm_maintained" ->
      """SELECT CAST(d.doc_id AS VARCHAR) AS rowkey, d.doc_id AS event_id,
        |       'put' AS op, d.text, m.n_matched
        |FROM documents d JOIN (
        |  SELECT doc_id, count(DISTINCT tok) AS n_matched
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |        FROM documents)
        |  WHERE tok IN ('merge', 'sort', 'scan')
        |  GROUP BY doc_id) m USING (doc_id)
        |WHERE m.n_matched >= 2
        |ORDER BY event_id""".stripMargin,
    "q_synonym_bm25_maintained" ->
      """WITH n AS (
        |  SELECT count(*) AS n_docs, avg(len(string_split(text, ' '))) AS avgdl
        |  FROM documents),
        |reg(grp, tok) AS (
        |  SELECT * FROM (VALUES (0, 'quick'), (0, 'fast'),
        |    (1, 'combine'), (1, 'merge'), (1, 'join'))),
        |toks AS (
        |  SELECT doc_id, len(string_split(text, ' ')) AS dl,
        |         unnest(string_split(text, ' ')) AS tok FROM documents),
        |df1 AS (SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY tok),
        |dfg AS (SELECT grp, max(df) AS dfg FROM reg JOIN df1 USING (tok) GROUP BY grp),
        |tfg AS (
        |  SELECT t.doc_id, r.grp, count(*) AS tfg, max(t.dl) AS dl
        |  FROM toks t JOIN reg r USING (tok)
        |  GROUP BY 1, 2),
        |scored AS (
        |  SELECT CAST(doc_id AS VARCHAR) AS rk,
        |         round(sum(ln(1.0 + (n_docs - dfg + 0.5) / (dfg + 0.5)) * (2.2 * tfg) /
        |                   (tfg + 1.2 * (0.25 + 0.75 * dl / avgdl))), 4) AS score
        |  FROM tfg JOIN dfg USING (grp), n
        |  GROUP BY doc_id)
        |SELECT rk AS doc_id, score FROM scored
        |ORDER BY score DESC, rk LIMIT 20""".stripMargin,
    "q_synonym_bm25" ->
      """WITH n AS (
        |  SELECT count(*) AS n_docs, avg(len(string_split(text, ' '))) AS avgdl
        |  FROM documents),
        |reg(grp, tok) AS (
        |  SELECT * FROM (VALUES (0, 'quick'), (0, 'fast'),
        |    (1, 'combine'), (1, 'merge'), (1, 'join'))),
        |toks AS (
        |  SELECT doc_id, len(string_split(text, ' ')) AS dl,
        |         unnest(string_split(text, ' ')) AS tok FROM documents),
        |df1 AS (SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY tok),
        |dfg AS (SELECT grp, max(df) AS dfg FROM reg JOIN df1 USING (tok) GROUP BY grp),
        |tfg AS (
        |  SELECT t.doc_id, r.grp, count(*) AS tfg, max(t.dl) AS dl
        |  FROM toks t JOIN reg r USING (tok)
        |  GROUP BY 1, 2),
        |scored AS (
        |  SELECT doc_id,
        |         round(sum(ln(1.0 + (n_docs - dfg + 0.5) / (dfg + 0.5)) * (2.2 * tfg) /
        |                   (tfg + 1.2 * (0.25 + 0.75 * dl / avgdl))), 4) AS score
        |  FROM tfg JOIN dfg USING (grp), n
        |  GROUP BY doc_id)
        |SELECT doc_id, score FROM scored
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    "q_synonym_maintained" ->
      """SELECT CAST(doc_id AS VARCHAR) AS rowkey, doc_id AS event_id,
        |       'put' AS op, text
        |FROM documents
        |WHERE (list_contains(string_split(text, ' '), 'quick')
        |    OR list_contains(string_split(text, ' '), 'fast'))
        |  AND (list_contains(string_split(text, ' '), 'combine')
        |    OR list_contains(string_split(text, ' '), 'merge')
        |    OR list_contains(string_split(text, ' '), 'join'))
        |ORDER BY event_id""".stripMargin,
    "q_search_maintained" ->
      """SELECT CAST(doc_id AS VARCHAR) AS rowkey, doc_id AS event_id,
        |       'put' AS op, text
        |FROM documents
        |WHERE list_contains(string_split(text, ' '), 'scan')
        |  AND list_contains(string_split(text, ' '), 'merge')
        |ORDER BY event_id""".stripMargin,
    "q_suggest_maintained" ->
      """SELECT tok, count(*) AS n
        |FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        |WHERE tok LIKE 's%'
        |GROUP BY tok ORDER BY n DESC, tok LIMIT 10""".stripMargin,
    "q_bm25_maintained" ->
      """WITH n AS (
        |  SELECT count(*) AS n_docs, avg(len(string_split(text, ' '))) AS avgdl
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, tok, count(*) AS tf, max(dl) AS dl
        |  FROM (SELECT doc_id, len(string_split(text, ' ')) AS dl,
        |               unnest(string_split(text, ' ')) AS tok FROM documents)
        |  WHERE tok IN ('merge', 'sort')
        |  GROUP BY doc_id, tok),
        |df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM tf GROUP BY tok),
        |scored AS (
        |  SELECT CAST(doc_id AS VARCHAR) AS rk,
        |         round(sum(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * (2.2 * tf) /
        |                   (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 4) AS score
        |  FROM tf JOIN df USING (tok), n
        |  GROUP BY doc_id)
        |SELECT rk AS doc_id, score FROM scored
        |ORDER BY score DESC, rk LIMIT 20""".stripMargin,
    "q_tfidf_maintained" ->
      """WITH n AS (SELECT count(*) AS n_docs FROM documents),
        |tf AS (
        |  SELECT doc_id, tok, count(*) AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
        |  WHERE tok IN ('merge', 'sort')
        |  GROUP BY doc_id, tok),
        |df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM tf GROUP BY tok),
        |scored AS (
        |  SELECT CAST(doc_id AS VARCHAR) AS rk,
        |         round(sum(tf.tf * ln(n_docs * 1.0 / df.df)), 4) AS score
        |  FROM tf JOIN df USING (tok), n
        |  GROUP BY doc_id)
        |SELECT rk AS doc_id, score FROM scored
        |ORDER BY score DESC, rk LIMIT 20""".stripMargin,
    "q_spell_maintained" ->
      """SELECT tok, count(*) AS n
        |FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        |GROUP BY tok HAVING levenshtein(tok, 'mirge') <= 1
        |ORDER BY n DESC, tok LIMIT 5""".stripMargin,
    "q_phrase_maintained" ->
      """SELECT CAST(doc_id AS VARCHAR) AS rowkey, doc_id AS event_id,
        |       'put' AS op, text
        |FROM documents
        |WHERE contains(' ' || text || ' ', ' merge sort ')
        |ORDER BY event_id""".stripMargin,
    "q_fuzzy_maintained" ->
      """SELECT CAST(doc_id AS VARCHAR) AS rowkey, doc_id AS event_id,
        |       'put' AS op, text
        |FROM documents
        |WHERE doc_id IN (
        |  SELECT DISTINCT doc_id FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
        |  WHERE levenshtein(tok, 'merge') <= 1)
        |ORDER BY event_id""".stripMargin,
    "q_highlight_maintained" ->
      """SELECT doc_id, array_to_string(pos_arr, ',') AS positions,
        |       len(pos_arr) AS n_hits FROM (
        |  SELECT doc_id,
        |         list_filter(generate_series(1, len(string_split(text, ' '))),
        |                     i -> string_split(text, ' ')[i] = 'merge') AS pos_arr
        |  FROM documents)
        |WHERE len(pos_arr) > 0 ORDER BY doc_id""".stripMargin,
    "q_mlt_maintained" ->
      """WITH toks AS (
        |  SELECT DISTINCT doc_id, tok FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)),
        |seed AS (SELECT tok FROM toks WHERE doc_id = 0),
        |scored AS (
        |  SELECT CAST(doc_id AS VARCHAR) AS rk, count(*) AS overlap
        |  FROM toks JOIN seed USING (tok)
        |  WHERE doc_id <> 0
        |  GROUP BY doc_id)
        |SELECT rk AS doc_id, overlap FROM scored
        |ORDER BY overlap DESC, rk LIMIT 10""".stripMargin,
    "q_inverted_search" ->
      """WITH postings AS (
        |  SELECT tok, list_sort(list(DISTINCT doc_id)) AS ids
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
        |  GROUP BY tok),
        |hits AS (
        |  SELECT doc_id FROM (
        |    SELECT unnest(ids) AS doc_id FROM postings WHERE tok IN ('merge', 'sort'))
        |  GROUP BY doc_id HAVING count(*) = 2)
        |SELECT d.doc_id, d.lang, d.source, d.n_chars
        |FROM documents d JOIN hits USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "q_tfidf_topk" ->
      """WITH n AS (SELECT count(*) AS n_docs FROM documents),
        |tf AS (
        |  SELECT doc_id, tok, count(*) AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
        |  WHERE tok IN ('merge', 'sort')
        |  GROUP BY doc_id, tok),
        |df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM tf GROUP BY tok)
        |SELECT doc_id, round(sum(tf.tf * ln(n_docs * 1.0 / df.df)), 4) AS score
        |FROM tf JOIN df USING (tok), n
        |GROUP BY doc_id
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    "q_bm25_topk" ->
      """WITH n AS (
        |  SELECT count(*) AS n_docs, avg(len(string_split(text, ' '))) AS avgdl
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, tok, count(*) AS tf, max(dl) AS dl
        |  FROM (SELECT doc_id, len(string_split(text, ' ')) AS dl,
        |               unnest(string_split(text, ' ')) AS tok FROM documents)
        |  WHERE tok IN ('merge', 'sort')
        |  GROUP BY doc_id, tok),
        |df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM tf GROUP BY tok)
        |SELECT doc_id,
        |       round(sum(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * (2.2 * tf) /
        |                 (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 4) AS score
        |FROM tf JOIN df USING (tok), n
        |GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    "q_hash_sample" ->
      """SELECT doc_id, lang, source FROM documents
        |WHERE substr(md5('split0:' || doc_id), 1, 1) IN ('0', '1')
        |ORDER BY doc_id""".stripMargin,
    "q_domain_cap" ->
      """SELECT doc_id, source, rk, (rk <= 15) AS kept
        |FROM (SELECT doc_id, source,
        |             row_number() OVER (PARTITION BY source
        |                                ORDER BY n_chars DESC, doc_id) AS rk
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "q_lang_balance" ->
      """WITH m AS (
        |  SELECT min(cnt) AS min_cnt
        |  FROM (SELECT count(*) AS cnt FROM documents GROUP BY lang)),
        |r AS (
        |  SELECT doc_id, lang,
        |         row_number() OVER (PARTITION BY lang
        |                            ORDER BY md5('bal:' || doc_id), doc_id) AS rk
        |  FROM documents)
        |SELECT doc_id, lang, (rk <= min_cnt) AS kept
        |FROM r, m ORDER BY doc_id""".stripMargin,
    "q_shuffle_order" ->
      """SELECT doc_id, source, md5('seed42:' || doc_id) AS shuffle_key
        |FROM documents ORDER BY shuffle_key LIMIT 100""".stripMargin,
    "q_contamination" -> (TextAnalysis.shingleCte +
      """,
        |fp AS (
        |  SELECT doc_id, min(md5(s)) AS fp,
        |         substr(md5('split0:' || doc_id), 1, 1) IN ('0','1','2','3') AS is_test
        |  FROM sh GROUP BY doc_id),
        |train AS (
        |  SELECT fp, min(doc_id) AS train_doc_id FROM fp WHERE NOT is_test GROUP BY fp)
        |SELECT f.doc_id AS test_doc_id, train.train_doc_id
        |FROM fp f JOIN train USING (fp) WHERE f.is_test
        |ORDER BY test_doc_id""".stripMargin),
    "q_pack_batches" ->
      """WITH d AS (
        |  SELECT source, doc_id, len(string_split(text, ' ')) AS n_tokens
        |  FROM documents),
        |p AS (
        |  SELECT source, doc_id, n_tokens,
        |         coalesce(sum(n_tokens) OVER (
        |           PARTITION BY source ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
        |  FROM d)
        |SELECT source, CAST(floor(prev / 4096) AS BIGINT) AS pack_id,
        |       count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS pack_tokens
        |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_stratified_sample" ->
      """SELECT lang, count(*) AS n_total,
        |       count(*) FILTER (WHERE substr(md5('strat:' || doc_id), 1, 1)
        |                        IN ('0','1','2','3')) AS n_sampled
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)
}
