package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Hybrid retrieval — BM25 ⊕ vector fusion, the standard first-stage
  * retrieval for RAG / training-data curation (SURVEY.md §2.B S4 deepened;
  * the reference's search-then-fetch topology at
  * `/root/reference/README.md:12-13` is exactly the first-stage shape this
  * completes: Solr hit list → HBase fetch, here lexical hit list ⊕ ANN hit
  * list → fused ranking).
  *
  * Three first-stage shapes, each with corpus and maintained forms:
  *  - RRF (reciprocal rank fusion, Cormack et al.): score(d) =
  *    Σ_legs 1/(K + rank_leg(d)), K = 60 — the parameter-free standard;
  *    an absent leg contributes 0.
  *  - weighted sum: min-max-normalize each leg's (rounded) scores over
  *    its own top-N, fuse 0.7·z_bm25 + 0.3·z_vec; an absent leg
  *    contributes 0.
  *  - retrieve-then-RERANK: BM25 top-N candidates re-scored by
  *    embedding cosine (the maintained form key-fetches candidate
  *    vectors from the IVF index's own cells — [[IvfIndex
  *    .vectorsForIds]]); a candidate without a vector drops.
  *
  * Plus the FILTERED composition (Solr's fq over the whole first stage):
  * a metadata predicate applied to BOTH legs before their top-Ns —
  * [[hybridSearchFilteredMaintained]] / `q_hybrid_filtered(_maintained)`.
  *
  * Ranks are assigned over ROUNDED leg scores (4 dp, the repo-wide oracle
  * discipline) with an id tie-break, so Spark and DuckDB rank identical
  * orderings.
  *
  * 100 TB: each leg is already the scale path — BM25 from the standing
  * postings (bucket-pruned in the maintained form), the vector leg a
  * TakeOrderedAndProject scan (corpus form) or a probed IVF read
  * (maintained form). Fusion itself touches only 2×N ≤ 100 rank rows —
  * a full-outer join of two driver-bounded lists; the corpus never moves
  * through the fusion. The maintained twin's plan reads ONLY the postings
  * state and the IVF index (spec-pinned: zero corpus files).
  */
object Hybrid {
  type Q = (SparkSession, String) => DataFrame

  private val Terms = Seq("merge", "sort")
  private[graft] val LegDepth = 50
  private[graft] val RrfK = 60
  private val TopK = 20
  private val WBm25 = 0.7
  private val WVec = 0.3

  /** Collect a RESULT-SIZED frame into a local relation — the
    * materialization both the one-epoch tokens and the keyed fetches
    * need (a lazy bounded frame re-plans/re-reads per downstream driver
    * lookup — the round-15 probe pathology). Callers own the bound:
    * every use here is a ≤ legDepth/candDepth rank list. */
  private def localRelation(spark: SparkSession, df: DataFrame): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(df.collect(): _*), df.schema)

  /** Top-[[LegDepth]] of a scored leg as (id, score, rank): distributed
    * top-N first (TakeOrderedAndProject — no global sort), then ranks
    * assigned on the ≤ N surviving rows (the unpartitioned window is over
    * a driver-bounded list, never the corpus). */
  private def rankLeg(leg: DataFrame, id: Column, score: Column,
                      n: Int = LegDepth): DataFrame = {
    val top = leg.select(id.as("id"), score.as("score"))
      .orderBy(col("score").desc, col("id")).limit(n)
    top.withColumn("rank",
      row_number().over(Window.orderBy(col("score").desc, col("id"))))
  }

  /** RRF fusion of two ranked legs: 1/(K+rank) summed, absent leg = 0.
    * The fused score is computed from the NULLABLE ranks (so absence
    * contributes exactly 0), then ranks are exported 0-filled. */
  private[graft] def rrfFuse(bm: DataFrame, v: DataFrame,
                             k: Int = RrfK, top: Int = TopK): DataFrame =
    bm.select(col("id"), col("rank").as("brank"))
      .join(v.select(col("id"), col("rank").as("vrank")), Seq("id"), "full_outer")
      .select(col("id").as("doc_id"),
        coalesce(col("brank"), lit(0L)).cast("long").as("bm25_rank"),
        coalesce(col("vrank"), lit(0L)).cast("long").as("vec_rank"),
        round(coalesce(lit(1.0) / (lit(k) + col("brank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(k) + col("vrank")), lit(0.0)), 6).as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(top)

  /** Weighted-sum fusion: each leg min-max-normalized over its own top-N
    * (a constant leg normalizes to 1.0), absent leg contributes 0. */
  private def weightedFuse(bm: DataFrame, v: DataFrame): DataFrame = {
    def normed(leg: DataFrame, z: String): DataFrame = {
      val ext = leg.agg(min(col("score")).as("mn"), max(col("score")).as("mx"))
      leg.crossJoin(broadcast(ext))
        .select(col("id"), col("rank"),
          when(col("mx") === col("mn"), lit(1.0))
            .otherwise((col("score") - col("mn")) / (col("mx") - col("mn")))
            .as(z))
    }
    normed(bm, "zb").withColumnRenamed("rank", "brank")
      .join(normed(v, "zv").withColumnRenamed("rank", "vrank"),
        Seq("id"), "full_outer")
      .select(col("id").as("doc_id"),
        coalesce(col("brank"), lit(0L)).cast("long").as("bm25_rank"),
        coalesce(col("vrank"), lit(0L)).cast("long").as("vec_rank"),
        round(coalesce(col("zb") * lit(WBm25), lit(0.0)) +
          coalesce(col("zv") * lit(WVec), lit(0.0)), 4).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(TopK)
  }

  /** Corpus BM25 scores PRE top-N — q_bm25_topk's index-served arithmetic
    * (same constant-folded literals, one round at the end). Exposed
    * unranked so the filtered form can apply its predicate BEFORE the
    * rank truncation (k-fill) while the stats stay the full corpus's
    * (fq never changes idf/avgdl — Lucene's filter discipline). */
  private def bm25ScoredCorpus(spark: SparkSession, dir: String): DataFrame = {
    val lens = Index.docLens(spark, dir)
    val stats = lens.agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
    val tf = Index.sharedPostings(spark, dir)
      .filter(col("tok").isin(Terms: _*))
      .select(col("df"), explode(col("hits")).as("h"))
      .select(col("h.doc_id").as("doc_id"), col("h.tf").as("tf"), col("df"))
    lens.join(broadcast(tf), "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("contrib",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
          (lit(2.2) * col("tf")) /
          (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
      .groupBy("doc_id")
      .agg(round(sum(col("contrib")), 4).as("score"))
  }

  /** The corpus legs' SCORED (pre-rank) sets, MATERIALIZED once per
    * session (round 17) — the corpus-scoped analogue of the maintained
    * twins' shared leg artifacts (`hybrid_bm_leg`/`hybrid_vec_leg`,
    * established round 14): four keys consume these two legs
    * (search/weighted rank them, filtered predicates-then-ranks for
    * k-fill, rerank re-orders the lexical one), and before this seam
    * each key re-ran both scoring pipelines in its own plan. Scored (not
    * ranked) is the sharing point BECAUSE of the filtered form: fq
    * applies before the rank truncation, so the ranked-50 artifact
    * cannot serve it. Bounds: the BM25 set is Σ df(term) rows (posting-
    * bounded); the vector set is one narrow (vec_id, sim) row per vector
    * — the same per-doc-column bound as `doc_fingerprints`/`simhash_fp`.
    * Invalidated with the corpus scope like every derived artifact. */
  private def sharedBmScoredCorpus(spark: SparkSession, dir: String): DataFrame =
    Materialize.artifact(spark, "hybrid_bm_scored", dir)(
      bm25ScoredCorpus(spark, dir))

  private def sharedVecScoredCorpus(spark: SparkSession, dir: String): DataFrame =
    Materialize.artifact(spark, "hybrid_vec_scored", dir)(
      vecScoredCorpus(spark, dir))

  /** Corpus BM25 leg — the scored artifact, ranked (a TakeOrdered over
    * cached blocks). */
  private def bm25LegCorpus(spark: SparkSession, dir: String): DataFrame =
    rankLeg(sharedBmScoredCorpus(spark, dir), col("doc_id"), col("score"))

  /** Corpus vector leg — q_vector_topk's brute-force cosine (query =
    * vec 0's embedding, vec 0 excluded), ranked on the rounded sim. */
  private def vecScoredCorpus(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(Vectors.dot("embedding", "qv"), 4).as("sim"))
  }

  private def vecLegCorpus(spark: SparkSession, dir: String): DataFrame =
    rankLeg(sharedVecScoredCorpus(spark, dir), col("vec_id"), col("sim"))

  private def qHybridSearch(spark: SparkSession, dir: String): DataFrame =
    rrfFuse(bm25LegCorpus(spark, dir), vecLegCorpus(spark, dir))

  private def qHybridWeighted(spark: SparkSession, dir: String): DataFrame =
    weightedFuse(bm25LegCorpus(spark, dir), vecLegCorpus(spark, dir))

  private def qHybridFiltered(spark: SparkSession, dir: String): DataFrame = {
    // S4 × S3: hybrid fusion COMPOSED with a metadata predicate (Solr's
    // fq over a hybrid ranking — "retrieve among docs with lang='en'",
    // the tenant/language-scoped RAG shape). The predicate applies to
    // EACH leg before its top-N (k-fill: both legs fill their depth from
    // matching docs; post-filtering the fused list would under-fill and,
    // worse, rank matchers by their position among non-matchers), and
    // scoring stats stay the full corpus's (fq never changes idf).
    val allowed = Tables.documents(spark, dir)
      .filter(col("lang") === "en").select("doc_id")
    val bm = rankLeg(
      sharedBmScoredCorpus(spark, dir).join(allowed, "doc_id"),
      col("doc_id"), col("score"))
    val v = rankLeg(
      sharedVecScoredCorpus(spark, dir)
        .join(allowed.withColumnRenamed("doc_id", "vec_id"), "vec_id"),
      col("vec_id"), col("sim"))
    rrfFuse(bm, v)
  }

  /** Retrieve-then-RERANK — the OTHER standard first-stage shape (fusion
    * merges two rankings; rerank re-orders one ranking by the other's
    * score): BM25 top-N as the candidate set, each candidate re-scored
    * by embedding cosine to the query vector, top-k by the new score. A
    * candidate without a vector is DROPPED (nothing to rerank with),
    * which is the documented semantics in both forms. */
  private def qHybridRerank(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    bm25LegCorpus(spark, dir)
      .select(col("id").as("doc_id"), col("rank").cast("long").as("bm25_rank"))
      .join(e.select(col("vec_id").as("doc_id"), col("embedding")), "doc_id")
      .crossJoin(broadcast(q))
      .select(col("doc_id"), col("bm25_rank"),
        round(Vectors.dot("embedding", "qv"), 4).as("sim"))
      .orderBy(col("sim").desc, col("doc_id"))
      .limit(TopK)
  }

  private def qHybridRerankMaintained(spark: SparkSession, dir: String): DataFrame = {
    // maintained twin: BM25 candidates from the SHARED persisted lexical
    // leg, their vectors key-fetched from the maintained IVF index's own
    // cells ([[IvfIndex.vectorsForIds]] — the HBase-Get shape, no
    // embeddings scan); candidates deleted from the index drop out
    val qv = fixtureQueryVec(spark, dir)
    val cand = sharedBmLeg(spark, dir)
      .select(col("id").as("vec_id"),
        col("rank").cast("long").as("bm25_rank"))
    IvfIndex.vectorsForIds(spark, Vectors.annFixture(spark, dir),
        cand.select("vec_id"))
      .join(broadcast(cand), "vec_id")
      .select(col("vec_id").as("doc_id"), col("bm25_rank"),
        round(graft.functions.VecDotFloat.vec_dot(col("embedding"),
          typedlit(qv)), 4).as("sim"))
      .orderBy(col("sim").desc, col("doc_id"))
      .limit(TopK)
  }

  /** The two maintained legs, ranked — shared by the RRF and weighted
    * maintained twins. bm25Search orders ties by the STRING rowkey; rank
    * with the same tie-break (the oracle casts to VARCHAR), then join
    * ids numerically.
    *
    * TWO-ROOT READ COHERENCE: this is the engine's first read spanning
    * two state roots in one result. Each leg is internally consistent —
    * a root's buckets commit atomically per batch, so a leg never sees a
    * torn WITHIN-root state — but the two roots swap at different
    * instants, so a read racing a live batch that writes both roots can
    * fuse a post-batch lexical leg with a pre-batch vector leg (or vice
    * versa). The contract is the single-root registry-swap one
    * (round-8): MIXED-EPOCH, NEVER TORN — a doc mutated between the two
    * leg reads contributes each leg's own snapshot (e.g. a doc deleted
    * from the IVF root after the lexical read fuses with vec_rank 0,
    * exactly as if the vector leg had not matched it), and no read
    * errors or partial-bucket states are possible. Spec-pinned
    * (HybridSpec "mixed-epoch"). Callers needing one-epoch fusion have
    * two options: run hybrid reads inside the same maintenance slot that
    * serializes writers ([[graft.streaming.WriterFence]] discipline — the
    * guidance SCALE.md records for single-root maintained reads), or pass
    * `consistent = true` to [[hybridSearchMaintained]] /
    * [[hybridSearchFilteredMaintained]] — the opt-in optimistic mode
    * ([[oneEpoch]]) that validates both roots' state tokens around the
    * leg reads and retries (then fails loudly) on an interleaved commit. */
  private[graft] def maintainedLegs(spark: SparkSession, postingsRoot: String,
                             ivfRoot: String, terms: Seq[String],
                             qv: Seq[Float], probes: Int,
                             legDepth: Int): (DataFrame, DataFrame) = {
    val bmRanked = rankLeg(
      graft.streaming.IncrementalPostings
        .bm25Search(spark, postingsRoot, terms, k = legDepth),
      col("doc_id"), col("score"), legDepth)
      .select(col("id").cast("long").as("id"), col("score"), col("rank"))
    val vRanked = rankLeg(
      graft.operators.IvfIndex
        .search(spark, ivfRoot, qv, k = legDepth, probes = probes)
        .select(col("vec_id"), round(col("sim"), 4).as("sim")),
      col("vec_id"), col("sim"), legDepth)
    (bmRanked, vRanked)
  }

  /** Hybrid retrieval over MAINTAINED state — the reusable API: lexical
    * leg from the standing postings ([[graft.streaming.IncrementalPostings
    * .bm25Search]], bucket-pruned entries + keyed dl fetch), vector leg
    * from the maintained IVF index ([[IvfIndex.search]]), RRF-fused. The
    * plan reads ONLY the two state roots — no corpus file (spec-pinned).
    * `probes` = nlist makes the vector leg exact (every cell read), which
    * is what lets DuckDB check the fused ranking; production uses fewer
    * probes for the documented recall trade. Reads racing a live batch
    * fuse mixed-epoch, never torn — [[maintainedLegs]]' two-root
    * coherence contract. */
  def hybridSearchMaintained(spark: SparkSession, postingsRoot: String,
                             ivfRoot: String, terms: Seq[String],
                             qv: Seq[Float], probes: Int,
                             legDepth: Int = LegDepth, rrfK: Int = RrfK,
                             top: Int = TopK, consistent: Boolean = false,
                             consistencyRetries: Int = 3): DataFrame = {
    def legs() = maintainedLegs(spark, postingsRoot, ivfRoot, terms, qv,
      probes, legDepth)
    val (bm, v) =
      if (!consistent) legs()
      else oneEpoch(spark, Seq(postingsRoot, ivfRoot), consistencyRetries)(legs())
    rrfFuse(bm, v, rrfK, top)
  }

  /** The OPT-IN one-epoch mode the mixed-epoch contract names
    * ([[maintainedLegs]]): an optimistic stability loop over the two
    * roots' [[graft.streaming.StateStore.stateToken]]s — token both
    * roots, MATERIALIZE the legs (the check is meaningless while the
    * plan could still read files later), token again; equal tokens mean
    * no commit landed between the leg reads, so the fused result is one
    * epoch of both roots. A missing token (a commit in flight, or a root
    * that never committed through the store) counts as unstable. A
    * mismatch retries the whole read up to `maxRetries` times, then FAILS
    * LOUDLY — under sustained write pressure one-epoch fusion is a
    * scheduling decision (run the read in the writer's maintenance
    * slot), not something a retry loop should fake by spinning. A token
    * is one status call and two small `_seq` reads per root per attempt
    * (driver metadata); default reads skip all of it.
    *
    * Materialization is collect-to-local-relation, NOT localCheckpoint:
    * the legs are result-sized by contract (≤ legDepth rank rows — the
    * same bounded class as every keyed-fetch collect in this engine), a
    * discarded attempt leaves nothing persisted to reclaim (a dropped
    * localCheckpoint's RDD lingers until the ContextCleaner GCs it —
    * round-15 ADVICE), and downstream fusion of a 50-row local relation
    * needs no exchange at all. Token stability: every commit moves the
    * monotonic `_seq` counter of the root it writes and of that root's
    * parent, so two commits landing in one filesystem mtime tick with
    * unchanged sizes are still told apart (IncrementalMergeSpec
    * constructs that alias). The fence-slot discipline remains the
    * strict path for readers that cannot tolerate optimistic retries. */
  private[graft] def oneEpoch(spark: SparkSession, roots: Seq[String],
      maxRetries: Int)(read: => (DataFrame, DataFrame)): (DataFrame, DataFrame) = {
    var attempt = 0
    while (true) {
      val before = roots.map(r => graft.streaming.StateStore.stateToken(spark, r))
      val (bm, v) = read
      val out = (localRelation(spark, bm), localRelation(spark, v))
      val after = roots.map(r => graft.streaming.StateStore.stateToken(spark, r))
      if (before.forall(_.isDefined) && before == after) return out
      attempt += 1
      if (attempt > maxRetries) throw new IllegalStateException(
        s"one-epoch hybrid read over ${roots.mkString(", ")} could not " +
          s"observe a stable epoch in ${maxRetries + 1} attempts — a " +
          "writer is committing continuously; run the consistent read " +
          "inside the writer's maintenance slot (WriterFence discipline) " +
          "or accept the default mixed-epoch contract")
    }
    sys.error("unreachable")
  }

  /** [[hybridSearchMaintained]] COMPOSED with a metadata predicate —
    * Solr's fq applied to BOTH legs of a hybrid ranking ("retrieve among
    * docs with label = X"), this round's filtered-ANN semantics extended
    * to the full first stage. One attribute store answers the predicate
    * for both legs: the vector leg pushes it into the probed cell files
    * ([[IvfIndex.searchFiltered]] — scan-pushed, pre-top-k), and the
    * lexical leg's candidates fetch THEIR metadata from the same store
    * by key ([[IvfIndex.attrsForIds]], the HBase-Get shape — candidate-
    * bounded, never a corpus or metadata-table scan), filter, then rank.
    * k-fill holds leg-wise: each leg fills its depth from MATCHING docs
    * (the predicate applies before both top-Ns), while scoring stats
    * stay the full state's (a filter never changes idf — Lucene's fq
    * discipline). A doc absent from the attribute store DROPS from the
    * lexical leg (unknown metadata never matches — the rerank twin's
    * drop semantics, and exactly right for docs deleted from the index).
    * Two-root coherence is [[maintainedLegs]]' contract: mixed-epoch,
    * never torn. `predicate` references the index's attribute columns;
    * `probes` governs vector-leg recall as in [[IvfIndex
    * .searchFiltered]] — selective predicates warrant more probes. */
  def hybridSearchFilteredMaintained(spark: SparkSession,
      postingsRoot: String, ivfRoot: String, terms: Seq[String],
      qv: Seq[Float], predicate: Column, probes: Int,
      legDepth: Int = LegDepth, rrfK: Int = RrfK,
      top: Int = TopK, consistent: Boolean = false,
      consistencyRetries: Int = 3): DataFrame = {
    def legs() = filteredLegs(spark, postingsRoot, ivfRoot, terms, qv,
      predicate, probes, legDepth)
    val (bmF, vF) =
      if (!consistent) legs()
      else oneEpoch(spark, Seq(postingsRoot, ivfRoot), consistencyRetries)(legs())
    rrfFuse(bmF, vF, rrfK, top)
  }

  /** The two PREDICATE-FILTERED maintained legs, ranked — built by the
    * independent per-leg builders ([[filteredBmLeg]], [[filteredVecLeg]])
    * so a caller consuming one leg never pays the other's reads.
    * Two-root coherence: [[maintainedLegs]]' contract. */
  private[graft] def filteredLegs(spark: SparkSession, postingsRoot: String,
      ivfRoot: String, terms: Seq[String], qv: Seq[Float],
      predicate: Column, probes: Int,
      legDepth: Int): (DataFrame, DataFrame) =
    (filteredBmLeg(spark, postingsRoot, ivfRoot, terms, predicate, legDepth),
     filteredVecLeg(spark, ivfRoot, qv, predicate, probes, legDepth))

  /** The filtered LEXICAL leg: one entry-bucket read yields the candidate
    * ids (checkpointed hit frame); their metadata comes back by key, the
    * predicate prunes them, and only the SURVIVORS' doc buckets are
    * opened for the dl fetch — a selective predicate cuts the expensive
    * half of lexical scoring, not just the final rank (restricting
    * candidates never changes a survivor's score — bm25ScoredFrom's
    * contract).
    *
    * CANONICAL-NUMERIC-ROWKEY CONTRACT (enforced, not assumed): the IVF
    * store keys by LONG vec_id, so a postings rowkey must round-trip
    * string→long→string unchanged. A non-numeric rowkey casts to null
    * (no attribute row could ever answer its predicate); a non-canonical
    * one ("01") would silently read doc "1"'s metadata. Either is a
    * loud error here — a silent drop or alias would mis-rank without a
    * trace. The survivors' ORIGINAL doc_id strings are recovered by
    * joining the long key back to the candidate pair frame, so the
    * semi-join into scoring always matches what the postings store. */
  private[graft] def filteredBmLeg(spark: SparkSession, postingsRoot: String,
      ivfRoot: String, terms: Seq[String], predicate: Column,
      legDepth: Int): DataFrame = {
    val hits = graft.streaming.IncrementalPostings
      .bm25Hits(spark, postingsRoot, terms)
    // try_cast, not cast: under ANSI a malformed rowkey would abort the
    // job with a raw CAST error — the guard below owns the diagnosis
    val cand = hits.select(col("doc_id"),
        col("doc_id").try_cast("long").as("vec_id")).distinct()
    // candidate-bounded (the hit frame is checkpointed) — one small job
    val bad = cand.filter(col("vec_id").isNull ||
        col("vec_id").cast("string") =!= col("doc_id"))
      .select("doc_id").limit(1).collect()
    require(bad.isEmpty,
      "filtered hybrid requires canonical numeric rowkeys (the vector " +
        "store keys by LONG vec_id) — found doc_id " +
        s"'${bad.headOption.map(_.getString(0)).getOrElse("")}'")
    val allowedVec = IvfIndex
      .attrsForIds(spark, ivfRoot, cand.select("vec_id"))
      .filter(predicate).select("vec_id")
    val allowed = cand.join(allowedVec, "vec_id").select("doc_id")
    rankLeg(
      graft.streaming.IncrementalPostings
        .bm25ScoredFrom(spark, postingsRoot, hits, Some(allowed)),
      col("doc_id"), col("score"), legDepth)
      .select(col("id").cast("long").as("id"), col("score"), col("rank"))
  }

  /** The filtered VECTOR leg: the scan-pushed filtered probe, ranked. */
  private[graft] def filteredVecLeg(spark: SparkSession, ivfRoot: String,
      qv: Seq[Float], predicate: Column, probes: Int,
      legDepth: Int): DataFrame =
    rankLeg(
      IvfIndex.searchFiltered(spark, ivfRoot, qv, predicate,
          k = legDepth, probes = probes)
        .select(col("vec_id"), round(col("sim"), 4).as("sim")),
      col("vec_id"), col("sim"), legDepth)

  /** Retrieve-then-RERANK over MAINTAINED state — the reusable API for
    * the other standard first-stage shape (fusion merges two rankings;
    * rerank re-orders one ranking by the other's score): BM25
    * top-`candDepth` candidates from the standing postings, each
    * candidate's vector key-fetched from the maintained IVF index's own
    * cells ([[IvfIndex.vectorsForIds]] — the HBase-Get shape, never an
    * embeddings scan), re-scored by embedding dot to `qv`, top-`top` by
    * the new score. A candidate without a vector DROPS (nothing to
    * rerank with — exactly right for docs deleted from the index).
    * Candidate ids obey the canonical-numeric-rowkey contract
    * ([[filteredBmLeg]]'s — the vector store keys by LONG vec_id); a
    * non-numeric or non-canonical id fails LOUDLY, never drops or
    * aliases. The bounded candidate list is materialized before the
    * keyed fetch (the fetch plans driver-side bucket lookups against it;
    * a lazy candidate plan would re-run the bm25 read per lookup).
    *
    * Like every two-root read, the default contract is MIXED-EPOCH,
    * NEVER TORN ([[maintainedLegs]]); `consistent = true` opts into the
    * optimistic one-epoch mode ([[oneEpoch]]) over BOTH roots — tokens
    * validated around the candidate read and the vector fetch together,
    * one retry per interleaved commit, loud failure on exhaustion.
    * Returns (doc_id STRING, bm25_rank, sim), ordered by sim desc. */
  def rerankMaintained(spark: SparkSession, postingsRoot: String,
                       ivfRoot: String, terms: Seq[String], qv: Seq[Float],
                       candDepth: Int = LegDepth, top: Int = TopK,
                       consistent: Boolean = false,
                       consistencyRetries: Int = 3): DataFrame = {
    val (cand, vecs) =
      if (!consistent) rerankRead(spark, postingsRoot, ivfRoot, terms, candDepth)
      else oneEpoch(spark, Seq(postingsRoot, ivfRoot), consistencyRetries)(
        rerankRead(spark, postingsRoot, ivfRoot, terms, candDepth))
    vecs.join(broadcast(cand), "vec_id")
      .select(col("doc_id"), col("bm25_rank"),
        round(graft.functions.VecDotFloat.vec_dot(col("embedding"),
          typedlit(qv)), 4).as("sim"))
      // tie-break NUMERICALLY (doc_id is canonical-numeric by the
      // contract above): the oracle-pinned fixture twins order rounded-
      // sim ties by the long id, and a string sort ('10' < '2') could
      // select different rows at the `top` cutoff (round-16 ADVICE)
      .orderBy(col("sim").desc, col("doc_id").cast("long"))
      .limit(top)
  }

  /** [[rerankMaintained]]'s two-root read pair: the materialized BM25
    * candidate list (doc_id, vec_id, bm25_rank) and the candidates'
    * keyed vector fetch. Exposed so the one-epoch interleaving spec can
    * drive [[oneEpoch]] with the rerank read shape. */
  private[graft] def rerankRead(spark: SparkSession, postingsRoot: String,
      ivfRoot: String, terms: Seq[String],
      candDepth: Int): (DataFrame, DataFrame) = {
    val cand = localRelation(spark, rankLeg(
      graft.streaming.IncrementalPostings
        .bm25Search(spark, postingsRoot, terms, k = candDepth),
      col("doc_id"), col("score"), candDepth)
      .select(col("id").as("doc_id"),
        col("id").try_cast("long").as("vec_id"),
        col("rank").cast("long").as("bm25_rank")))
    val bad = cand.filter(col("vec_id").isNull ||
        col("vec_id").cast("string") =!= col("doc_id"))
      .select("doc_id").limit(1).collect()
    require(bad.isEmpty,
      "maintained rerank requires canonical numeric rowkeys (the vector " +
        "store keys by LONG vec_id) — found doc_id " +
        s"'${bad.headOption.map(_.getString(0)).getOrElse("")}'")
    (cand, IvfIndex.vectorsForIds(spark, ivfRoot, cand.select("vec_id")))
  }

  /** [[rerankMaintained]] COMPOSED with a metadata predicate — fq over
    * retrieve-then-rerank, the last first-stage shape without a filtered
    * form (the fusion twins got theirs in round 14). The candidate list
    * is the FILTERED lexical leg ([[filteredBmLeg]] — k-fill: the
    * top-`candDepth` MATCHING docs, predicate answered by the IVF
    * store's colocated attributes with the attr-store drop semantics and
    * the canonical-rowkey contract, scoring stats the full state's);
    * the survivors' vectors come back by key and re-score against `qv`.
    * Same two-root coherence story as [[rerankMaintained]]:
    * mixed-epoch-never-torn by default, `consistent = true` for the
    * optimistic one-epoch mode. Returns (doc_id STRING, bm25_rank, sim),
    * ordered by sim desc. */
  def rerankFilteredMaintained(spark: SparkSession, postingsRoot: String,
      ivfRoot: String, terms: Seq[String], qv: Seq[Float],
      predicate: Column, candDepth: Int = LegDepth, top: Int = TopK,
      consistent: Boolean = false,
      consistencyRetries: Int = 3): DataFrame = {
    def read(): (DataFrame, DataFrame) = {
      // filteredBmLeg enforces the canonical contract and returns the
      // LONG key; materialized for the same reason as rerankRead's cand
      val cand = localRelation(spark,
        filteredBmLeg(spark, postingsRoot, ivfRoot, terms, predicate,
          candDepth)
          .select(col("id").as("vec_id"),
            col("rank").cast("long").as("bm25_rank")))
      (cand, IvfIndex.vectorsForIds(spark, ivfRoot, cand.select("vec_id")))
    }
    val (cand, vecs) =
      if (!consistent) read()
      else oneEpoch(spark, Seq(postingsRoot, ivfRoot), consistencyRetries)(read())
    vecs.join(broadcast(cand), "vec_id")
      .select(col("vec_id").cast("string").as("doc_id"), col("bm25_rank"),
        round(graft.functions.VecDotFloat.vec_dot(col("embedding"),
          typedlit(qv)), 4).as("sim"))
      // numeric tie-break, matching the oracle-pinned twins (see
      // rerankMaintained — round-16 ADVICE)
      .orderBy(col("sim").desc, col("doc_id").cast("long"))
      .limit(top)
  }

  /** The fixture twins' ranked legs, built ONCE per (session, dir) and
    * served persisted to all three maintained fusion keys (the
    * [[Index.sharedPostings]] seam): RRF and weighted fuse both legs;
    * rerank consumes the lexical leg as its candidate list. The legs are
    * ≤ [[LegDepth]] rows each — the artifact stores rank lists, never
    * state or corpus rows. */
  private def sharedMaintainedLegs(spark: SparkSession,
                                   dir: String): (DataFrame, DataFrame) =
    (sharedBmLeg(spark, dir), sharedVecLeg(spark, dir))

  /** The legs build INDEPENDENTLY (two artifacts, not one pair-build):
    * the rerank twin consumes only the lexical leg, and eagerly building
    * the vector leg it never reads would charge every cold rerank
    * measurement (ScaleProbe invalidates per run) for an unrelated
    * full-probe IVF read — round-14 review finding. */
  private def sharedBmLeg(spark: SparkSession, dir: String): DataFrame =
    Materialize.artifact(spark, "hybrid_bm_leg", dir) {
      rankLeg(
        graft.streaming.IncrementalPostings
          .bm25Search(spark, Index.maintainedFixture(spark, dir), Terms,
            k = LegDepth),
        col("doc_id"), col("score"), LegDepth)
        .select(col("id").cast("long").as("id"), col("score"), col("rank"))
    }

  private def sharedVecLeg(spark: SparkSession, dir: String): DataFrame =
    Materialize.artifact(spark, "hybrid_vec_leg", dir) {
      rankLeg(
        IvfIndex.search(spark, Vectors.annFixture(spark, dir),
            fixtureQueryVec(spark, dir),
            k = LegDepth, probes = Vectors.AnnFixtureNlist)
          .select(col("vec_id"), round(col("sim"), 4).as("sim")),
        col("vec_id"), col("sim"), LegDepth)
    }

  /** The fixture query vector (the pre-delete embedding of id 100 —
    * q_ann_maintained's query), served from [[Vectors.fixtureQuery]]'s
    * per-(session, dir) cache: the collect is a corpus action the fused
    * PLANS must never contain, and a per-call head() would re-scan
    * embeddings on every bench/probe trial. */
  private def fixtureQueryVec(spark: SparkSession, dir: String): Seq[Float] =
    Vectors.fixtureQuery(spark, dir)._1

  private def qHybridMaintained(spark: SparkSession, dir: String): DataFrame = {
    // Fixture reuse, no new artifact: lexical over Index's maintained
    // postings (converged ≡ documents), vector over Vectors' maintained
    // IVF fixture (upserts + deletes, every mutation SQL-expressible —
    // q_ann_maintained's own oracle discipline). Query = q_ann_maintained's
    // (the pre-delete embedding of id 100). Legs come persisted from the
    // shared seam — one leg-pair build serves all three fusion twins.
    val (bm, v) = sharedMaintainedLegs(spark, dir)
    rrfFuse(bm, v)
  }

  /** The fixture query LABEL (vec 100's — the filtered keys' predicate
    * value), from the same [[Vectors.fixtureQuery]] cache. */
  private def fixtureQueryLabel(spark: SparkSession, dir: String): Int =
    Vectors.fixtureQuery(spark, dir)._2

  private def qHybridFilteredMaintained(spark: SparkSession, dir: String): DataFrame = {
    // the filtered-hybrid maintained twin over the same two fixture
    // roots: predicate = q_ann_filtered_maintained's (label of vec 100,
    // stored as a colocated attribute), query = the fixture query
    // vector. Legs come persisted from the Materialize seam like every
    // other fusion twin's (Bench's warm-read protocol; a scale probe of
    // the COLD two-root read invalidates them per run — ScaleProbe's
    // ColdArtifacts); the cold leaf reads stay measured by
    // q_ann_filtered_maintained and the bm25 family. Each leg builds
    // INDEPENDENTLY (per-leg builders, not one pair-build): rebuilding
    // one artifact must pay only its own leg's reads — the same
    // cold-measurement isolation the rerank twin's legs follow.
    val pred = col("label") === lit(fixtureQueryLabel(spark, dir))
    val postingsRoot = Index.maintainedFixture(spark, dir)
    val ivfRoot = Vectors.annFixture(spark, dir)
    val bm = Materialize.artifact(spark, "hybrid_bmf_leg", dir)(
      filteredBmLeg(spark, postingsRoot, ivfRoot, Terms, pred, LegDepth))
    val v = Materialize.artifact(spark, "hybrid_vecf_leg", dir)(
      filteredVecLeg(spark, ivfRoot, fixtureQueryVec(spark, dir), pred,
        probes = Vectors.AnnFixtureNlist, legDepth = LegDepth))
    rrfFuse(bm, v)
  }

  private def qHybridRerankFiltered(spark: SparkSession, dir: String): DataFrame = {
    // the filtered rerank twin over the same two fixture roots:
    // candidates = the FILTERED lexical leg (label of vec 100, the
    // stored attribute — shared artifact with q_hybrid_filtered_
    // maintained, whose plan it is), vectors key-fetched, re-scored by
    // the fixture query vector. Deleted-candidate drop and k-fill ride
    // the leg's own proofs; output keys LONG like the rerank twin (the
    // oracle's doc_id is numeric).
    val pred = col("label") === lit(fixtureQueryLabel(spark, dir))
    val postingsRoot = Index.maintainedFixture(spark, dir)
    val ivfRoot = Vectors.annFixture(spark, dir)
    val cand = Materialize.artifact(spark, "hybrid_bmf_leg", dir)(
      filteredBmLeg(spark, postingsRoot, ivfRoot, Terms, pred, LegDepth))
      .select(col("id").as("vec_id"), col("rank").cast("long").as("bm25_rank"))
    IvfIndex.vectorsForIds(spark, ivfRoot, cand.select("vec_id"))
      .join(broadcast(cand), "vec_id")
      .select(col("vec_id").as("doc_id"), col("bm25_rank"),
        round(graft.functions.VecDotFloat.vec_dot(col("embedding"),
          typedlit(fixtureQueryVec(spark, dir))), 4).as("sim"))
      .orderBy(col("sim").desc, col("doc_id"))
      .limit(TopK)
  }

  private def qHybridWeightedMaintained(spark: SparkSession, dir: String): DataFrame = {
    // the weighted fusion's maintained twin — same legs as
    // q_hybrid_maintained, min-max fusion instead of RRF: the fusion
    // rule is orthogonal to where the legs are served from
    val (bm, v) = sharedMaintainedLegs(spark, dir)
    weightedFuse(bm, v)
  }

  val queries: Map[String, Q] = Map(
    "q_hybrid_search" -> qHybridSearch,
    "q_hybrid_weighted" -> qHybridWeighted,
    "q_hybrid_maintained" -> qHybridMaintained,
    "q_hybrid_weighted_maintained" -> qHybridWeightedMaintained,
    "q_hybrid_rerank" -> qHybridRerank,
    "q_hybrid_rerank_maintained" -> qHybridRerankMaintained,
    "q_hybrid_filtered" -> qHybridFiltered,
    "q_hybrid_filtered_maintained" -> qHybridFilteredMaintained,
    "q_hybrid_rerank_filtered" -> qHybridRerankFiltered)

  /** The shared leg CTEs (DuckDB): BM25 over documents (q_bm25_topk's
    * formula), brute-force cosine over embeddings. */
  private val corpusLegsCte =
    """n AS (
      |  SELECT count(*) AS n_docs, avg(len(string_split(text, ' '))) AS avgdl
      |  FROM documents),
      |tf AS (
      |  SELECT doc_id, tok, count(*) AS tf, max(dl) AS dl
      |  FROM (SELECT doc_id, len(string_split(text, ' ')) AS dl,
      |               unnest(string_split(text, ' ')) AS tok FROM documents)
      |  WHERE tok IN ('merge', 'sort')
      |  GROUP BY doc_id, tok),
      |df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM tf GROUP BY tok),
      |b AS (
      |  SELECT doc_id,
      |         round(sum(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * (2.2 * tf) /
      |                   (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 4) AS score
      |  FROM tf JOIN df USING (tok), n GROUP BY doc_id),
      |bl AS (
      |  SELECT doc_id, score,
      |         row_number() OVER (ORDER BY score DESC, doc_id) AS brank
      |  FROM b QUALIFY brank <= 50),
      |q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
      |v AS (
      |  SELECT vec_id AS doc_id,
      |         round(list_dot_product(embedding::DOUBLE[], qv), 4) AS sim
      |  FROM embeddings, q WHERE vec_id <> 0),
      |vl AS (
      |  SELECT doc_id, sim,
      |         row_number() OVER (ORDER BY sim DESC, doc_id) AS vrank
      |  FROM v QUALIFY vrank <= 50)""".stripMargin

  private val rrfSelect =
    """SELECT COALESCE(bl.doc_id, vl.doc_id) AS doc_id,
      |       COALESCE(brank, 0) AS bm25_rank, COALESCE(vrank, 0) AS vec_rank,
      |       round(COALESCE(1.0 / (60 + brank), 0) +
      |             COALESCE(1.0 / (60 + vrank), 0), 6) AS rrf
      |FROM bl FULL JOIN vl ON bl.doc_id = vl.doc_id
      |ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin

  /** The min-max weighted-fusion tail over `bl`/`vl` legs (appended to a
    * legs CTE) — shared by the corpus and maintained weighted keys. */
  private val weightedTail = """,
    |bx AS (SELECT min(score) AS bmn, max(score) AS bmx FROM bl),
    |vx AS (SELECT min(sim) AS vmn, max(sim) AS vmx FROM vl),
    |bn AS (
    |  SELECT doc_id, brank,
    |         CASE WHEN bmx = bmn THEN 1.0
    |              ELSE (score - bmn) / (bmx - bmn) END AS zb
    |  FROM bl, bx),
    |vn AS (
    |  SELECT doc_id, vrank,
    |         CASE WHEN vmx = vmn THEN 1.0
    |              ELSE (sim - vmn) / (vmx - vmn) END AS zv
    |  FROM vl, vx)
    |SELECT COALESCE(bn.doc_id, vn.doc_id) AS doc_id,
    |       COALESCE(brank, 0) AS bm25_rank, COALESCE(vrank, 0) AS vec_rank,
    |       round(COALESCE(zb * 0.7, 0) + COALESCE(zv * 0.3, 0), 4) AS score
    |FROM bn FULL JOIN vn ON bn.doc_id = vn.doc_id
    |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin

  /** The maintained legs CTE (DuckDB): BM25 over documents (the
    * converged maintained postings ≡ documents; ties rank by the
    * maintained index's STRING rowkey), brute-force cosine over the
    * POST-MAINTENANCE vector set (ids 0-9 re-embedded to id+100's
    * embedding, vec_id % 37 = 11 and id 100 deleted —
    * q_ann_maintained's fixture). */
  private val maintainedLegsCte =
    """n AS (
      |  SELECT count(*) AS n_docs, avg(len(string_split(text, ' '))) AS avgdl
      |  FROM documents),
      |tf AS (
      |  SELECT doc_id, tok, count(*) AS tf, max(dl) AS dl
      |  FROM (SELECT doc_id, len(string_split(text, ' ')) AS dl,
      |               unnest(string_split(text, ' ')) AS tok FROM documents)
      |  WHERE tok IN ('merge', 'sort')
      |  GROUP BY doc_id, tok),
      |df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM tf GROUP BY tok),
      |b AS (
      |  SELECT doc_id,
      |         round(sum(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * (2.2 * tf) /
      |                   (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 4) AS score
      |  FROM tf JOIN df USING (tok), n GROUP BY doc_id),
      |bl AS (
      |  SELECT doc_id, score,
      |         row_number() OVER (ORDER BY score DESC,
      |                            CAST(doc_id AS VARCHAR)) AS brank
      |  FROM b QUALIFY brank <= 50),
      |m AS (
      |  SELECT a.vec_id,
      |         CASE WHEN a.vec_id < 10 THEN u.embedding
      |              ELSE a.embedding END AS emb
      |  FROM embeddings a
      |  LEFT JOIN embeddings u ON u.vec_id = a.vec_id + 100
      |  WHERE a.vec_id % 37 <> 11 AND a.vec_id <> 100),
      |q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 100),
      |v AS (
      |  SELECT vec_id AS doc_id,
      |         round(list_dot_product(emb::DOUBLE[], qv), 4) AS sim
      |  FROM m, q),
      |vl AS (
      |  SELECT doc_id, sim,
      |         row_number() OVER (ORDER BY sim DESC, doc_id) AS vrank
      |  FROM v QUALIFY vrank <= 50)""".stripMargin

  /** The corpus legs CTE with the lang='en' predicate applied INSIDE each
    * leg, before its rank truncation — the k-fill semantics the Spark
    * side pins (filter-then-rank, never rank-then-filter). Stats (n, df,
    * avgdl) stay the FULL corpus's: fq never changes idf. */
  private val filteredCorpusLegsCte =
    """n AS (
      |  SELECT count(*) AS n_docs, avg(len(string_split(text, ' '))) AS avgdl
      |  FROM documents),
      |tf AS (
      |  SELECT doc_id, tok, count(*) AS tf, max(dl) AS dl
      |  FROM (SELECT doc_id, len(string_split(text, ' ')) AS dl,
      |               unnest(string_split(text, ' ')) AS tok FROM documents)
      |  WHERE tok IN ('merge', 'sort')
      |  GROUP BY doc_id, tok),
      |df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM tf GROUP BY tok),
      |allowed AS (SELECT doc_id FROM documents WHERE lang = 'en'),
      |b AS (
      |  SELECT doc_id,
      |         round(sum(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * (2.2 * tf) /
      |                   (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 4) AS score
      |  FROM tf JOIN df USING (tok), n GROUP BY doc_id),
      |bl AS (
      |  SELECT doc_id, score,
      |         row_number() OVER (ORDER BY score DESC, doc_id) AS brank
      |  FROM b JOIN allowed USING (doc_id) QUALIFY brank <= 50),
      |q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
      |v AS (
      |  SELECT vec_id AS doc_id,
      |         round(list_dot_product(embedding::DOUBLE[], qv), 4) AS sim
      |  FROM embeddings JOIN allowed ON vec_id = allowed.doc_id, q
      |  WHERE vec_id <> 0),
      |vl AS (
      |  SELECT doc_id, sim,
      |         row_number() OVER (ORDER BY sim DESC, doc_id) AS vrank
      |  FROM v QUALIFY vrank <= 50)""".stripMargin

  /** The maintained legs CTE with the label predicate (label of vec 100,
    * the stored attribute) applied inside each leg: the lexical leg keeps
    * only candidates PRESENT in the maintained vector set with a matching
    * label (the attr-store drop semantics — deleted docs have no
    * metadata), the vector leg is the filtered probe. */
  private val filteredMaintainedLegsCte =
    """n AS (
      |  SELECT count(*) AS n_docs, avg(len(string_split(text, ' '))) AS avgdl
      |  FROM documents),
      |tf AS (
      |  SELECT doc_id, tok, count(*) AS tf, max(dl) AS dl
      |  FROM (SELECT doc_id, len(string_split(text, ' ')) AS dl,
      |               unnest(string_split(text, ' ')) AS tok FROM documents)
      |  WHERE tok IN ('merge', 'sort')
      |  GROUP BY doc_id, tok),
      |df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM tf GROUP BY tok),
      |b AS (
      |  SELECT doc_id,
      |         round(sum(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * (2.2 * tf) /
      |                   (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 4) AS score
      |  FROM tf JOIN df USING (tok), n GROUP BY doc_id),
      |m AS (
      |  SELECT a.vec_id,
      |         CASE WHEN a.vec_id < 10 THEN u.embedding
      |              ELSE a.embedding END AS emb,
      |         a.label
      |  FROM embeddings a
      |  LEFT JOIN embeddings u ON u.vec_id = a.vec_id + 100
      |  WHERE a.vec_id % 37 <> 11 AND a.vec_id <> 100),
      |q AS (SELECT embedding::DOUBLE[] AS qv, label AS qlabel
      |      FROM embeddings WHERE vec_id = 100),
      |bl AS (
      |  SELECT b.doc_id, score,
      |         row_number() OVER (ORDER BY score DESC,
      |                            CAST(b.doc_id AS VARCHAR)) AS brank
      |  FROM b JOIN m ON m.vec_id = b.doc_id, q
      |  WHERE m.label = qlabel QUALIFY brank <= 50),
      |v AS (
      |  SELECT vec_id AS doc_id,
      |         round(list_dot_product(emb::DOUBLE[], qv), 4) AS sim
      |  FROM m, q WHERE label = qlabel),
      |vl AS (
      |  SELECT doc_id, sim,
      |         row_number() OVER (ORDER BY sim DESC, doc_id) AS vrank
      |  FROM v QUALIFY vrank <= 50)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_hybrid_filtered" -> ("WITH " + filteredCorpusLegsCte + "\n" + rrfSelect),
    "q_hybrid_filtered_maintained" ->
      ("WITH " + filteredMaintainedLegsCte + "\n" + rrfSelect),
    "q_hybrid_rerank_filtered" ->
      // the filtered CTE's bl IS the filtered ranked candidate list
      // (label-matching, attr-store drop, VARCHAR tie-break); the rerank
      // tail re-scores it by the post-maintenance embeddings
      ("WITH " + filteredMaintainedLegsCte + """
        |SELECT bl.doc_id, brank AS bm25_rank,
        |       round(list_dot_product(emb::DOUBLE[], qv), 4) AS sim
        |FROM bl JOIN m ON bl.doc_id = m.vec_id, q
        |ORDER BY sim DESC, bl.doc_id LIMIT 20""".stripMargin),
    "q_hybrid_rerank" -> ("WITH " + corpusLegsCte + """
      |SELECT bl.doc_id, brank AS bm25_rank,
      |       round(list_dot_product(embedding::DOUBLE[], qv), 4) AS sim
      |FROM bl JOIN embeddings ON bl.doc_id = vec_id, q
      |ORDER BY sim DESC, bl.doc_id LIMIT 20""".stripMargin),
    "q_hybrid_rerank_maintained" ->
      // candidates ranked with the maintained index's STRING-rowkey
      // tie-break; vectors are the POST-MAINTENANCE set (ids 0-9
      // re-embedded, %37=11 and 100 deleted — deleted candidates drop)
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
        |b AS (
        |  SELECT doc_id,
        |         round(sum(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * (2.2 * tf) /
        |                   (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 4) AS score
        |  FROM tf JOIN df USING (tok), n GROUP BY doc_id),
        |bl AS (
        |  SELECT doc_id,
        |         row_number() OVER (ORDER BY score DESC,
        |                            CAST(doc_id AS VARCHAR)) AS brank
        |  FROM b QUALIFY brank <= 50),
        |m AS (
        |  SELECT a.vec_id,
        |         CASE WHEN a.vec_id < 10 THEN u.embedding
        |              ELSE a.embedding END AS emb
        |  FROM embeddings a
        |  LEFT JOIN embeddings u ON u.vec_id = a.vec_id + 100
        |  WHERE a.vec_id % 37 <> 11 AND a.vec_id <> 100),
        |q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 100)
        |SELECT bl.doc_id, brank AS bm25_rank,
        |       round(list_dot_product(emb::DOUBLE[], qv), 4) AS sim
        |FROM bl JOIN m ON bl.doc_id = m.vec_id, q
        |ORDER BY sim DESC, bl.doc_id LIMIT 20""".stripMargin,
    "q_hybrid_search" -> ("WITH " + corpusLegsCte + "\n" + rrfSelect),
    "q_hybrid_weighted" -> ("WITH " + corpusLegsCte + weightedTail),
    "q_hybrid_weighted_maintained" ->
      ("WITH " + maintainedLegsCte + weightedTail),
    "q_hybrid_maintained" ->
      ("WITH " + maintainedLegsCte + "\n" + rrfSelect))
}
