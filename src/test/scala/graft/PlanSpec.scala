package graft

import graft.operators.Index
import graft.streaming.IncrementalPostings

/** Physical-plan regression checks: the properties that make these queries
  * scale are asserted, not assumed — a plan that silently degrades to a
  * shuffle join or a full sort fails here before it fails on a cluster. */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan.toString

  test("q_rowkey_join: hit-list side is a broadcast hash join, never a shuffle join") {
    val p = plan("q_rowkey_join")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q_topk_relevance: top-k compiles to TakeOrderedAndProject, not a global sort") {
    val p = plan("q_topk_relevance")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q_sort_page: pagination's top-N is TakeOrderedAndProject") {
    assert(plan("q_sort_page").contains("TakeOrderedAndProject"))
  }

  test("q_function_boost: the function query adds arithmetic, never a join or a sort") {
    val p = plan("q_function_boost")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Join") && !p.contains("Exchange"), p)
  }

  test("q_filter_range: predicates reach the parquet scan as pushed filters") {
    val p = plan("q_filter_range")
    // (the PushedFilters list is truncated in toString — assert the list is
    // non-empty and names the range column)
    assert(p.contains("PushedFilters: [IsNotNull"), p)
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), p)
  }

  test("q_filter_range: scan reads only the referenced columns") {
    val p = plan("q_filter_range")
    // ReadSchema must not include unreferenced wide columns.
    assert(!p.contains("l_comment") && !p.contains("l_tax"), p)
  }

  test("q_star_join: dimension chain broadcasts; the date range pushes to the orders scan") {
    val p = plan("q_star_join")
    // customer→nation→region must ride broadcast joins, never shuffle
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 3, p)
    // the fact-fact join is the ONLY join allowed to exchange its inputs
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // the o_orderdate range predicate reaches the parquet scan
    assert(p.contains("GreaterThanOrEqual(o_orderdate"), p)
  }

  test("q_stats_agg: aggregation is partial (map-side) then final — two HashAggregates") {
    val p = plan("q_stats_agg")
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
  }

  test("q_facet_query: all named facet queries share ONE corpus scan") {
    // Solr evaluates each facet.query separately; here n predicates are n
    // conditional partial aggregates over one pass — a plan with one scan
    // per predicate (the UNION-of-counts shape the oracle uses) re-reads
    // the corpus n times.
    val p = plan("q_facet_query")
    assert("Scan parquet".r.findAllIn(p).length === 1, p)
    assert("HashAggregate".r.findAllIn(p).length >= 2, p) // partial + final
  }

  test("q_vector_topk: single-row query side is broadcast; ranking is TakeOrderedAndProject") {
    val p = plan("q_vector_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q_index_state: compaction shuffles once on the rowkey (plus the output sort)") {
    val p = plan("q_index_state")
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges <= 2, s"expected window exchange + output range sort only:\n$p")
    assert(p.contains("hashpartitioning"), p)
    // rn=1 must be rewritten to a pre-shuffle partial top-1 per key
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("q_pivot_doc: conditional-aggregation pivot shuffles once (plus the output sort)") {
    val p = plan("q_pivot_doc")
    assert("Exchange".r.findAllIn(p).length <= 2, p)
    assert(!p.contains("pivotfirst"), p)
  }

  test("q_cell_state: per-cell latest-wins + tombstone masking is ONE rowkey exchange") {
    // the tombstone compare, the per-qualifier max_by, and the dead-row
    // drop must all ride the single hash aggregate — a window or a
    // self-join per qualifier would shuffle the log once per column
    val p = plan("q_cell_state")
    assert("Exchange".r.findAllIn(p).length <= 2, p) // agg + output sort
    assert(!p.contains("Window") && !p.contains("Join"), p)
  }

  test("q_cell_versions: tombstone window and per-cell rank share ONE hash exchange") {
    // hash(rowkey) co-locates every (rowkey, qualifier) group, so the
    // per-cell rank window must reuse the tombstone window's exchange —
    // a second hash exchange would shuffle the log twice per read
    val p = plan("q_cell_versions")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
    // TTL scalar rides a broadcast; nothing may sort-merge or shuffle-join
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
  }

  test("q_counter_state: tombstone mask and per-cell fold share one rowkey exchange") {
    val p = plan("q_counter_state")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 2, s"expected <= 2 hash exchanges (window + " +
      s"group-key partial agg), got $exchanges:\n${p.take(900)}")
    assert(p.contains("HashAggregate"), p.take(800))
  }

  test("q_counter_maintained: the counter read is scan-project — no query-time aggregation") {
    val df = SparkEntry.queries("q_counter_maintained")(spark, dir)
    val p = { df.collect(); df.queryExecution.executedPlan.toString }
    assert(!p.contains("HashAggregate"),
      "maintained counters must be served from stored partials:\n" + p.take(900))
    assert(!p.contains("Window"), p.take(800))
  }

  test("q_versions_maintained: the cell-store read has NO query-time window") {
    // version rank is served from storage (enforced at merge, rewritten
    // wholly per touched bucket) — the read is scan-project + TTL filter
    val p = plan("q_versions_maintained")
    assert(!p.contains("Window"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
  }

  test("q_elevate: elevation map broadcasts; the page is TakeOrderedAndProject") {
    val p = plan("q_elevate")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q_bm25_topk: df and corpus stats broadcast; ranking is TakeOrderedAndProject") {
    val p = plan("q_bm25_topk")
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q_phrase_search: phrase match is a scan-side predicate — no generate, no join") {
    val p = plan("q_phrase_search")
    assert(!p.contains("Generate"), p)
    assert(!p.contains("Join"), p)
  }

  test("q_stratified_sample: one partial-aggregated groupBy, no join, no window") {
    val p = plan("q_stratified_sample")
    assert("HashAggregate".r.findAllIn(p).length >= 2, p) // partial + final
    assert(!p.contains("Join") && !p.contains("Window"), p)
  }

  test("q_contamination: the split check joins on the fingerprint key, never a cartesian") {
    val p = plan("q_contamination")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_del_batch_count: no unpartitioned window over the delete stream") {
    // the only global-order window allowed is over the tiny per-segment
    // count table; the delete rows themselves rank within seg partitions
    val p = plan("q_del_batch_count")
    assert(p.contains("Window"), p)
    assert(p.contains("PartitionBy") || p.contains("windowspecdefinition(seg"), p)
  }

  test("q_stats_percentile: the per-group window sorts the HISTOGRAM, not the table") {
    // The scale property: the rank-selection window's input must be the
    // (group, value) aggregate — a cardinality-3 partition sort over raw
    // lineitem would serialize the whole table through 3 tasks. In the
    // top-down plan print, an aggregate BELOW the window means the deepest
    // HashAggregate appears after the last Window.
    val p = plan("q_stats_percentile")
    assert(p.contains("Window"), p)
    assert(p.lastIndexOf("HashAggregate") > p.lastIndexOf("Window"),
      s"window input is not aggregated:\n$p")
  }

  test("q_fuzzy_search: levenshtein runs over the materialized vocabulary, not the corpus scan") {
    // The edit-distance filter must consume the persisted posting-list
    // artifact (one InMemoryTableScan per distinct term), never a
    // scan-side exists(levenshtein) over every token occurrence — and with
    // the artifact materialized there is no aggregate in the plan for
    // Catalyst to push the predicate beneath, so no barrier disjunct.
    val p = plan("q_fuzzy_search")
    // first occurrence: the Filter node (later ones are the scan's own
    // pushed-predicate display on the InMemoryTableScan line itself)
    val lev = p.indexOf("levenshtein")
    assert(lev >= 0, p)
    assert(p.indexOf("InMemoryTableScan", lev) > 0,
      s"levenshtein filter does not read the materialized postings:\n$p")
    assert(!p.contains("exists("), p)
    // the doc fetch is a semi-join — never a shuffle of the corpus
    assert(p.contains("LeftSemi"), p)
  }

  test("dedup family reads materialized artifacts — no in-plan index rebuild") {
    // The expensive derived artifacts (shingle inverted index; near-dup
    // pair set) must appear ZERO times as build subtrees inside the family's
    // query plans: q_dedup_near/q_dedup_cluster read the materialized pair
    // artifact, q_dedup_minhash reads the materialized shingle index. A
    // plan that re-derives an artifact from the parquet corpus re-runs the
    // dominant cost once per consumer.
    // (Node-based collect: InMemoryRelation PRINTS its cached build subtree
    // — including the original FileScan — but holds it as metadata, not as
    // an executing child, so tree traversal sees only real scans.)
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case _ => p +: p.children.flatMap(nodes)
    }
    for (q <- Seq("q_dedup_near", "q_dedup_minhash", "q_dedup_cluster")) {
      val all = nodes(SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan)
      val fileScans = all.filter(_.isInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec])
      assert(fileScans.isEmpty,
        s"$q rebuilds its artifact from the corpus scan:\n${fileScans.mkString("\n")}")
      // cluster's plan reads the checkpointed pair list (the artifact was
      // consumed when the checkpoint materialized), so the cache-scan node
      // is only visible in the other two.
      if (q != "q_dedup_cluster")
        assert(all.exists(_.nodeName.contains("InMemoryTableScan")),
          s"$q does not read the materialized artifact:\n${all.head}")
    }
  }

  test("dedup family shares ONE shingle-index artifact per session") {
    val a = operators.Dedup.sharedShingleIndex(spark, dir)
    val b = operators.Dedup.sharedShingleIndex(spark, dir)
    assert(a eq b, "sharedShingleIndex must return the same materialized instance")
  }

  test("q_group_topn: per-group limit is a pre-shuffle WindowGroupLimit") {
    // rn <= n over a row_number window must keep the partial top-n
    // rewrite: the shuffle carries at most n rows per group per input
    // partition, never a group's full contents through one task.
    val p = plan("q_group_topn")
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("q_ann_batch: queries broadcast into the cell join; per-query top-k is WindowGroupLimit") {
    // the big side (the vector table) must never move: the query set
    // broadcasts, and the per-query rank keeps the partial top-k rewrite
    val p = plan("q_ann_batch")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("q_frame_sample: payload bytes never cross the exchange") {
    // the binary media column must be projected away before the output
    // sort — at scale a sort carrying MB payloads per frame row would
    // shuffle the video corpus once per sampled frame
    val plan = SparkEntry.queries("q_frame_sample")(spark, dir)
      .queryExecution.sparkPlan
    val sortCols = plan.collect {
      case s: org.apache.spark.sql.execution.SortExec => s.output.map(_.name)
    }
    assert(sortCols.nonEmpty)
    sortCols.foreach(cols => assert(!cols.contains("media"), cols.mkString(",")))
  }

  test("q_audio_chunks: payload bytes never cross the exchange") {
    // same contract as q_frame_sample for the audio modality: the binary
    // column feeds the per-window digest and is projected away before the
    // output sort
    val plan = SparkEntry.queries("q_audio_chunks")(spark, dir)
      .queryExecution.sparkPlan
    val sortCols = plan.collect {
      case s: org.apache.spark.sql.execution.SortExec => s.output.map(_.name)
    }
    assert(sortCols.nonEmpty)
    sortCols.foreach(cols => assert(!cols.contains("media"), cols.mkString(",")))
  }

  test("vocabulary + ranked retrieval serve from the standing index — zero corpus file scans") {
    // Solr answers suggest/spell/MLT and ranked retrieval from the index it
    // maintains, never the stored documents; the engine-native equivalents
    // must do the same — every one of these plans reads ONLY materialized
    // artifacts (postings + doc-length sidecar), opening zero parquet files.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case _ => p +: p.children.flatMap(nodes)
    }
    for (q <- Seq("q_suggest_prefix", "q_spell_correct", "q_more_like_this",
                  "q_tfidf_topk", "q_bm25_topk", "q_text_tokens")) {
      val all = nodes(SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan)
      val fileScans = all.filter(_.isInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec])
      assert(fileScans.isEmpty,
        s"$q reads corpus files instead of the standing index:\n${fileScans.mkString("\n")}")
      assert(all.exists(_.nodeName.contains("InMemoryTableScan")),
        s"$q does not read the materialized postings:\n${all.head}")
    }
  }

  test("maintained-index reads never shuffle the fetch") {
    // the reference's search-then-fetch topology: q_search_maintained's
    // hit list is collected and resolved to its own doc buckets on the
    // driver, so the fetch is a broadcast-key filter over those buckets —
    // no join at all, and only docs files; q_neardup_probe's
    // (cap-bounded) candidates take the keyed fetch with a pushed isin.
    // Neither may shuffle the docs.
    val ps = { val df = SparkEntry.queries("q_search_maintained")(spark, dir)
      df.collect(); df.queryExecution.executedPlan.toString }
    assert(!ps.contains("Join"), ps.take(800))
    val searchFiles = SparkEntry.queries("q_search_maintained")(spark, dir).inputFiles
    assert(searchFiles.nonEmpty && searchFiles.forall(_.contains("/docs/")),
      searchFiles.mkString(", "))
    val pp = { val df = SparkEntry.queries("q_neardup_probe")(spark, dir)
      df.collect(); df.queryExecution.executedPlan.toString }
    assert(!pp.contains("SortMergeJoin"), pp.take(800))
    // the probe scores its collected candidates on the driver (the lazy
    // score tail was a per-call planning pathology — SCALE.md §df-cap),
    // so the scan-level pins live with the fetch: candidate bucket
    // pruning + the pushed isin on probeFetch (IncrementalShinglesSpec);
    // here pin that the answer is a local relation, with no plan to run
    assert(pp.contains("LocalTableScan") && !pp.contains("Exchange"),
      s"q_neardup_probe must answer from its collected candidates: ${pp.take(800)}")
    // maintained ranked retrieval opens NO corpus file — entries, docs
    // state, and the dstats sidecar only. q_mlt_maintained's answer is
    // a lazy plan over the entries; q_bm25_maintained and
    // q_tfidf_maintained rank on the driver and answer with a local
    // relation, so the pin sits on the frames they collect: the query
    // terms' posting rows (entries files only, both reads) and BM25's
    // length fetch of the hit docs (docs files only)
    val mlt = SparkEntry.queries("q_mlt_maintained")(spark, dir).inputFiles
    assert(mlt.nonEmpty && !mlt.exists(_.contains("documents.parquet")),
      s"q_mlt_maintained reads the corpus instead of the maintained state: ${mlt.mkString(", ")}")
    val root = Index.maintainedFixture(spark, dir)
    val terms = Seq("merge", "sort")
    val postingFiles = IncrementalPostings.postingRows(spark, root, terms).inputFiles
    assert(postingFiles.nonEmpty && postingFiles.forall(_.contains("/entries/")),
      s"q_bm25_maintained/q_tfidf_maintained posting rows: ${postingFiles.mkString(", ")}")
    val hitIds = IncrementalPostings.postingRows(spark, root, terms).collect()
      .map(_.getString(1)).toSet
    val lengthFiles = IncrementalPostings.lengthFetch(spark, root, hitIds).inputFiles
    assert(lengthFiles.nonEmpty && lengthFiles.forall(_.contains("/docs/")),
      s"q_bm25_maintained length fetch: ${lengthFiles.mkString(", ")}")
    for (q <- Seq("q_bm25_maintained", "q_tfidf_maintained"))
      assert(SparkEntry.queries(q)(spark, dir).inputFiles.isEmpty,
        s"$q must rank its collected rows, not plan a read of its own")
    val pb = { val df = SparkEntry.queries("q_bm25_maintained")(spark, dir)
      df.collect(); df.queryExecution.executedPlan.toString }
    assert(pb.contains("LocalTableScan"), pb.take(800))
    assert(!pb.contains("Exchange") && !pb.contains("Join"), pb.take(800))
  }

  test("q_percolate: registry side broadcasts; doc side never sort-merge joins") {
    val p = { val df = SparkEntry.queries("q_percolate")(spark, dir)
      df.collect(); df.queryExecution.executedPlan.toString }
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin"), p.take(800))
  }

  test("q_collocations: pair generation is generators in one scan — no self-join of tokens") {
    val p = { val df = SparkEntry.queries("q_collocations")(spark, dir)
      df.collect(); df.queryExecution.executedPlan.toString }
    // the doc-pair side must be Generate ops over the scan, not a join of
    // two exploded token tables; the only joins are broadcast (df tables)
    assert(p.contains("Generate"), p.take(800))
    assert(!p.contains("SortMergeJoin"), p.take(800))
    assert(!p.contains("CartesianProduct"), p.take(800))
    assert(p.contains("TakeOrderedAndProject"), p.take(800)) // top-k, no global sort
  }

  test("q_bigram_pmi: bigrams generate in one scan; frequency tables broadcast") {
    val p = { val df = SparkEntry.queries("q_bigram_pmi")(spark, dir)
      df.collect(); df.queryExecution.executedPlan.toString }
    assert(p.contains("Generate"), p.take(800))
    assert(!p.contains("SortMergeJoin"), p.take(800))
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
  }

  test("q_facet_incremental: the read opens rollup partials only — never the row state") {
    val files = SparkEntry.queries("q_facet_incremental")(spark, dir).inputFiles
    assert(files.nonEmpty)
    assert(files.forall(_.contains("/rollup/")),
      s"facet read must touch only the rollup sidecar: ${files.mkString(", ")}")
  }

  test("q_facet_stats_maintained: every rollup level reads stats partials only") {
    val files = SparkEntry.queries("q_facet_stats_maintained")(spark, dir).inputFiles
    assert(files.nonEmpty)
    assert(files.forall(_.contains("/rollup/")),
      s"nested facet must touch only the rollup sidecar: ${files.mkString(", ")}")
  }

  test("q_synonym_search: expansion joins broadcast; no corpus scan on the search side") {
    val df = SparkEntry.queries("q_synonym_search")(spark, dir)
    val p = { df.collect(); df.queryExecution.executedPlan.toString }
    // the hit list broadcasts into the corpus fetch; the search side is
    // served from the materialized postings (one corpus file read total —
    // the final keyed fetch — never a scan per OR group)
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin"), p.take(800))
    assert(df.inputFiles.count(_.contains("documents.parquet")) <= 1,
      "per-group matching must come from the postings artifact, not corpus scans")
  }

  test("q_synonym_maintained: grouped retrieval opens no corpus file") {
    val df = SparkEntry.queries("q_synonym_maintained")(spark, dir)
    assert(!df.inputFiles.exists(_.contains("documents.parquet")),
      "maintained synonym search must be served from the postings state")
    // the group match runs on the collected entries; the fetch is keyed
    // to the hit docs' buckets — no join, docs files only
    assert(df.inputFiles.nonEmpty && df.inputFiles.forall(_.contains("/docs/")),
      df.inputFiles.mkString(", "))
    val p = { df.collect(); df.queryExecution.executedPlan.toString }
    assert(!p.contains("Join"), p.take(800))
  }

  test("q_synonym_bm25: group scoring is index-only — broadcasts, TakeOrdered, no corpus scan") {
    val df = SparkEntry.queries("q_synonym_bm25")(spark, dir)
    assert(!df.inputFiles.exists(_.contains("documents.parquet")),
      "synonym BM25 must be served from the postings + length sidecar")
    val p = { df.collect(); df.queryExecution.executedPlan.toString }
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin"), p.take(800))
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
  }

  test("q_synonym_bm25_maintained: grouped ranking opens no corpus file; fetch never shuffles") {
    val df = SparkEntry.queries("q_synonym_bm25_maintained")(spark, dir)
    assert(!df.inputFiles.exists(_.contains("documents.parquet")),
      "maintained grouped BM25 must be served from entries + sidecar + docs state")
    val p = { df.collect(); df.queryExecution.executedPlan.toString }
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin"), p.take(800))
  }

  test("q_pii_redact: redaction is pure per-row expressions — no join, no exchange") {
    val p = plan("q_pii_redact")
    assert(!p.contains("Join"), p.take(800))
    // the only exchange permitted is the output sort's range partitioning
    assert(!p.contains("hashpartitioning"), p.take(800))
  }

  test("whole-stage codegen covers the hot paths (no interpreted hot operators)") {
    for (q <- Seq("q_facet_field", "q_filter_range", "q_fulltext_search")) {
      val df = SparkEntry.queries(q)(spark, dir)
      df.collect() // AQE compiles stages lazily — materialize the final plan
      val p = df.queryExecution.executedPlan.toString
      // codegen'd operators print as "*(N) Op" in the final adaptive plan
      assert(p.contains("*("), s"$q:\n${p.take(600)}")
    }
  }

  test("q_cursor_page: cursor predicate pushes to the scan; page is a shuffle-free top-k") {
    val p = plan("q_cursor_page")
    // the page is TakeOrderedAndProject — per-partition top-k, never an
    // offset-sized sort or row_number window
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Window"), p)
    // the compound (sort_key, tiebreak) cursor reaches the parquet scan
    assert(p.contains("Or(LessThan(o_totalprice"), p)
    // scan -> filter -> top-k: zero exchanges at any depth
    assert(!p.contains("Exchange"), p)
  }

  test("cursorPage chain: page k equals rows [k*n, (k+1)*n) of the offset form") {
    import graft.operators.Search
    val base = Tables.orders(spark, dir).select("o_orderkey", "o_totalprice")
    // offset reference: the full sort's first 60 rows
    val ref = base.orderBy(org.apache.spark.sql.functions.col("o_totalprice").desc,
        org.apache.spark.sql.functions.col("o_orderkey"))
      .limit(60).collect().map(r => (r.getLong(0), r.getDouble(1)))
    var cursor: Option[(Double, Long)] = None
    val pages = (0 until 3).map { k =>
      val page = Search.cursorPage(base, "o_totalprice", "o_orderkey", 20, cursor)
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      cursor = Some((page.last._2, page.last._1))
      page
    }
    assert(pages.flatten.toSeq === ref.toSeq,
      "three cursor pages must reproduce the offset form's first 60 rows")
  }
}
