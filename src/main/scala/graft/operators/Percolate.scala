package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Percolation — reverse search: a registry of STORED queries matched
  * against each incoming document (the Solr/Elasticsearch percolator, the
  * alerting face of the reference's search surface: instead of "which docs
  * match this query", "which standing queries match this doc"). A stored
  * query here is a conjunction of terms (the reference's default AND
  * semantics for multi-term Solr queries, SURVEY.md §2.B S2).
  *
  * Two physical strategies, chosen by registry size:
  *
  *  - [[matchesCompiled]] COMPILES the registry into the plan: one
  *    codegen'd boolean column per query (`array_contains` conjunctions
  *    over the doc's token array), no shuffle, no join, STATELESS — safe
  *    under Structured Streaming append mode with zero state store, which
  *    makes it the per-batch alerting path in an ingest pipeline. Right
  *    while the registry fits a projection (hundreds of queries).
  *  - [[matches]] JOINS doc tokens against the exploded registry: distinct
  *    doc terms ⋈ broadcast(query terms), count matched terms per
  *    (doc, query), keep full-coverage pairs. The registry never touches
  *    the driver plan size, so it scales to millions of stored queries;
  *    the doc side shuffles once on the implicit group-by. This is the
  *    100 TB path — both sides are plain exchanges AQE can re-plan.
  *
  * PercolateSpec pins the two strategies equal on fixture data; the oracle
  * checks the join form against DuckDB every round.
  */
object Percolate {
  type Q = (SparkSession, String) => DataFrame

  /** An inclusive numeric range predicate on a document field — Solr's
    * `fq=field:[lo TO hi]` turned standing. The field must exist on the
    * percolated doc frame (match fails loudly otherwise — a silently
    * ignored range would alert on docs the query excludes). */
  final case class RangePred(field: String, lo: Double, hi: Double) {
    require(!field.contains(":"),
      s"range field '$field' may not contain ':' (registry serialization)")
    require(lo <= hi, s"range [$lo, $hi] is empty")
  }

  /** A stored boolean query — the reference's S2 semantics turned
    * standing: every `all` term required, at least one `any` term (when
    * any are given), no `none` term present, every `phrases` entry
    * present as ADJACENT tokens (the positional form S12's phrase search
    * answers, matched with the registry's analyzer), the doc's `range`
    * field inside the bound when one is given, and at least one member
    * of EVERY `groups` entry present — the AND-of-ORs a query-time
    * synonym expansion produces (each expanded term becomes one OR
    * group), which a single `any` clause cannot express. */
  final case class StoredQuery(id: String, all: Seq[String],
                               any: Seq[String] = Nil,
                               none: Seq[String] = Nil,
                               phrases: Seq[String] = Nil,
                               range: Option[RangePred] = None,
                               groups: Seq[Seq[String]] = Nil) {
    require(all.nonEmpty || any.nonEmpty || phrases.nonEmpty ||
        range.nonEmpty || groups.nonEmpty,
      s"stored query '$id' needs at least one positive predicate")
    require(groups.forall(_.nonEmpty),
      s"stored query '$id' has an empty OR group")
  }

  /** The fixed demo registry for the oracle key — term conjunctions over
    * the documents fixture's vocabulary. */
  val demoQueries: Seq[(String, Seq[String])] = Seq(
    "alert_spark_join" -> Seq("spark", "join"),
    "alert_slow_query" -> Seq("slow", "query"),
    "alert_vector_merge" -> Seq("vector", "merge", "fast"))

  private def conjunctions(qs: Seq[(String, Seq[String])]): Seq[StoredQuery] =
    qs.map { case (id, terms) => StoredQuery(id, terms) }

  private def tokenized(docs: DataFrame,
                        tokenize: Column => Column): DataFrame =
    docs.select(col("doc_id"),
      array_distinct(tokenize(col("text"))).as("toks"))

  /** Distinct (doc_id, term) pairs over the documents table at `dir` —
    * the terms stage's input, MATERIALIZED once per session and shared
    * across the family's four oracle keys. SCALE.md's round-13 growth
    * decomposition names the plain token explode + broadcast join as the
    * family's corpus-linear slope owner, and before this seam every key
    * re-tokenized and re-exploded the corpus inside its own plan
    * (round-16 verdict #2). At 100 TB the equivalent standing artifact
    * is the maintained postings state's (term, doc) face
    * ([[graft.streaming.IncrementalPostings]]); the session cache is the
    * batch-query complement, invalidated with the corpus scope like
    * every other derived artifact. */
  private def sharedDocTerms(spark: SparkSession, dir: String): DataFrame =
    Materialize.artifact(spark, "percolate_doc_terms", dir)(
      tokenized(Tables.documents(spark, dir), split(_, " "))
        .select(col("doc_id"), explode(col("toks")).as("term")))

  /** Ordered token arrays (doc_id, ot) over the documents table — the
    * phrase stage's input (the GramCount containment scan reads the
    * ordered stream), shared like [[sharedDocTerms]]. The same per-doc
    * artifact Lucene stores as term vectors; the CJK family already
    * keeps its analyzer's copy (`cjk_term_vectors`). */
  private def sharedDocOrdered(spark: SparkSession, dir: String): DataFrame =
    Materialize.artifact(spark, "doc_tokens_ordered", dir)(
      Tables.documents(spark, dir)
        .select(col("doc_id"), split(col("text"), " ").as("ot")))

  /** True when the doc's ORDERED token array `otoks` contains `phrase`'s
    * tokens adjacently — the compiled form of the positional phrase
    * query. The phrase tokenizes with the SAME analyzer as the doc, so
    * the predicate is scheme-generic (CJK included). The `greatest(1, …)`
    * floor keeps `sequence` well-formed on docs shorter than the phrase
    * (the slice then compares shorter-than-phrase and is false). */
  private def hasPhrase(p: String, tokenize: Column => Column): Column = {
    val pt = tokenize(lit(p))
    exists(
      sequence(lit(1),
        greatest(lit(1), size(col("otoks")) - size(pt) + lit(1))),
      i => slice(col("otoks"), i, size(pt)) === pt)
  }

  /** Registry compiled into the plan: (doc_id, query_id) match pairs via
    * per-query boolean conditions — stateless, shuffle-free,
    * streaming-safe. `tokenize` must be the SAME analyzer the matched
    * corpus is indexed with (a CJK corpus percolated with the whitespace
    * default would silently never match). */
  def matchesCompiled(docs: DataFrame, queries: Seq[(String, Seq[String])],
                      tokenize: Column => Column = split(_, " ")): DataFrame =
    matchesCompiledBool(docs, conjunctions(queries), tokenize)

  def matchesCompiledBool(docs: DataFrame, queries: Seq[StoredQuery],
                          tokenize: Column => Column = split(_, " ")): DataFrame = {
    require(queries.nonEmpty, "percolate needs at least one stored query")
    def has(t: String): Column = array_contains(col("toks"), t)
    val hits: Column = array(queries.map { q =>
      val allOk = q.all.map(has).foldLeft(lit(true))(_ && _)
      val anyOk =
        if (q.any.isEmpty) lit(true) else q.any.map(has).reduce(_ || _)
      val noneOk = q.none.map(t => !has(t)).foldLeft(lit(true))(_ && _)
      val groupsOk = q.groups.map(_.map(has).reduce(_ || _))
        .foldLeft(lit(true))(_ && _)
      val phraseOk = q.phrases.map(hasPhrase(_, tokenize))
        .foldLeft(lit(true))(_ && _)
      val rangeOk = q.range.fold(lit(true))(r =>
        col(r.field).isNotNull &&
          col(r.field) >= r.lo && col(r.field) <= r.hi)
      when(allOk && anyOk && noneOk && groupsOk && phraseOk && rangeOk, lit(q.id))
    }: _*)
    // project only what the compiled predicates consume: the distinct
    // token set always, the ordered array only when a phrase needs
    // adjacency, the range fields only when a range reads them. A NULL
    // text coalesces to the EMPTY token set — the join strategy's null
    // text explodes to zero term rows (= empty), and the strategies must
    // agree on every row or the CompiledRegistryMax dispatch would
    // silently change which docs alert (a none+range query matches an
    // empty doc in range; NULL-propagating array_contains would not).
    val emptyToks = expr("CAST(array() AS ARRAY<STRING>)")
    val needOrdered = queries.exists(_.phrases.nonEmpty)
    val rangeFields = queries.flatMap(_.range).map(_.field).distinct
    val cols = col("doc_id") +:
      coalesce(array_distinct(tokenize(col("text"))), emptyToks).as("toks") +:
      ((if (needOrdered)
          Seq(coalesce(tokenize(col("text")), emptyToks).as("otoks"))
        else Nil) ++
        rangeFields.map(col))
    docs.select(cols: _*).select(col("doc_id"),
      explode(filter(hits, _.isNotNull)).as("query_id"))
  }

  /** Registry joined as data: scales to registries too large to compile
    * into a projection. One broadcast of the (small) exploded role-tagged
    * registry, one conditional aggregate keyed (doc_id, query_id):
    * all-coverage == |all|, ≥1 any hit (when any exist), zero none hits. */
  def matches(docs: DataFrame, queries: Seq[(String, Seq[String])],
              tokenize: Column => Column = split(_, " "),
              sharedTerms: Option[DataFrame] = None,
              sharedOrdered: Option[DataFrame] = None): DataFrame =
    matchesBool(docs, conjunctions(queries), tokenize, sharedTerms,
      sharedOrdered)

  /** A registry exploded to (query_id, term, role) rows — the one
    * serialization both the join strategy and the pipeline's persisted
    * registry use, so match semantics and storage can never desync.
    * Phrases ride as role=`phrase` with the raw phrase text (tokenized
    * with the match-time analyzer, like doc text); a range rides as
    * role=`range` with `field:lo:hi` (the field may not contain ':';
    * doubles never do). */
  def explodeRoles(queries: Seq[StoredQuery]): Seq[(String, String, String)] =
    queries.flatMap { q =>
      q.all.distinct.map(t => (q.id, t, "all")) ++
        q.any.distinct.map(t => (q.id, t, "any")) ++
        q.none.distinct.map(t => (q.id, t, "none")) ++
        q.phrases.distinct.map(p => (q.id, p, "phrase")) ++
        q.range.map(r => (q.id, s"${r.field}:${r.lo}:${r.hi}", "range")) ++
        q.groups.zipWithIndex.flatMap { case (g, i) =>
          g.distinct.map(t => (q.id, t, s"grp$i")) }
    }

  /** Parse (query_id, term, role) rows back to [[StoredQuery]]s — the
    * inverse of [[explodeRoles]], shared with the pipeline's persisted
    * registry so the compiled path always reconstructs exactly what the
    * join path matches. */
  def fromRoleRows(rows: Seq[(String, String, String)]): Seq[StoredQuery] =
    rows.groupBy(_._1).map { case (id, rs) =>
      val range = rs.filter(_._3 == "range").map(_._2).headOption.map { t =>
        val Array(f, lo, hi) = t.split(":", 3)
        RangePred(f, lo.toDouble, hi.toDouble)
      }
      val groups = rs.filter(_._3.startsWith("grp"))
        .groupBy(_._3.drop(3).toInt).toSeq.sortBy(_._1)
        .map(_._2.map(_._2))
      StoredQuery(id,
        all = rs.filter(_._3 == "all").map(_._2),
        any = rs.filter(_._3 == "any").map(_._2),
        none = rs.filter(_._3 == "none").map(_._2),
        phrases = rs.filter(_._3 == "phrase").map(_._2),
        range = range,
        groups = groups)
    }.toSeq.sortBy(_.id)

  def matchesBool(docs: DataFrame, queries: Seq[StoredQuery],
                  tokenize: Column => Column = split(_, " "),
                  sharedTerms: Option[DataFrame] = None,
                  sharedOrdered: Option[DataFrame] = None): DataFrame = {
    require(queries.nonEmpty, "percolate needs at least one stored query")
    val spark = docs.sparkSession
    import spark.implicits._
    matchesBoolFrame(docs,
      explodeRoles(queries).toDF("query_id", "term", "role"), tokenize,
      sharedTerms = sharedTerms, sharedOrdered = sharedOrdered)
  }

  /** The join strategy over a registry that is already a DataFrame of
    * `(query_id, term, role)` rows — the pipeline's persisted registry
    * read as data, so a large registry never touches the driver (neither
    * as a collected Seq nor as a compiled projection). Per-query term
    * counts derive from the same frame, so storage and match semantics
    * cannot desync. */
  /** Distinct-gram count at or under which the phrase stage uses the
    * compiled containment scan (docs × grams nested-loop, one
    * [[graft.functions.GramCount]] per pair) instead of the k-gram array
    * expansion + array-keyed join. The scan costs ~|grams| first-token
    * compares per doc token (early-exit, zero-allocation); the expansion
    * costs one slice allocation + array hash per doc token per registry
    * length — flat-expensive, amortizing only for very large registries.
    * The constant is MEASURED, not chosen (round 15, GramCrossoverProbe,
    * `records/GRAM_CROSSOVER_r15.json`, hit-heavy registries — scan-pessimistic):
    * the scan won or tied at every size {8, 32, 128, 512} at both 1× and
    * 30× corpus (g512 @30×: scan 5.1 s vs expansion 6.0 s; g32: 1.1 vs
    * 5.7), scan cost growing sublinearly in grams (64× grams → ~8×
    * time), so the crossover extrapolates to ~1–2k grams. 512 is the
    * largest directly-measured always-wins size. */
  private[graft] val GramScanMax = 512L

  /** `gramScanMax` overrides the [[GramScanMax]] dispatch constant —
    * measurement seam (GramCrossoverProbe forces each strategy at every
    * registry size); production callers take the default.
    *
    * `sharedTerms` / `sharedOrdered` inject pre-materialized token
    * frames — distinct (doc_id, term) pairs and ordered (doc_id, ot)
    * arrays over the SAME docs with the SAME analyzer (the caller's
    * contract; the oracle keys pass [[sharedDocTerms]] /
    * [[sharedDocOrdered]]). Absent, both derive in-plan — the pipeline's
    * per-batch alerting path, where the batch is small and a standing
    * artifact would be stale by construction. */
  /** Registries at or under this many role rows COMPILE: the rows are
    * collected once (a LocalRelation registry — the [[matchesBool]] path
    * — collects driver-side without a job) and every piece of registry
    * METADATA the frame path derives with its own Spark job or aggregate
    * (the k set, the gram count, the range fields, the per-query
    * requirement sizes) is computed in plain Scala instead, with the
    * registry re-entering the plan as broadcast local relations. At 5000
    * docs the frame path's metadata jobs and the sizes aggregation were
    * the q_percolate_rich constant's largest share (profiled round 17:
    * the data stages sum to <0.5 s of a 1.5 s leg); at any size the hits
    * pipeline itself is UNCHANGED — one collect replaces three metadata
    * jobs plus a two-aggregate join. Registries past the bound (or whose
    * gram set exceeds the scan dispatch) take the frame path wholesale —
    * millions of stored queries never touch the driver. */
  private[graft] val RegistryCompileMax = 4096

  def matchesBoolFrame(docs: DataFrame, reg: DataFrame,
                       tokenize: Column => Column = split(_, " "),
                       gramScanMax: Long = GramScanMax,
                       sharedTerms: Option[DataFrame] = None,
                       sharedOrdered: Option[DataFrame] = None,
                       registryCompileMax: Int = RegistryCompileMax): DataFrame = {
    val head = reg.select("query_id", "term", "role")
      .limit(registryCompileMax + 1).collect()
    if (head.length <= registryCompileMax)
      matchesLocalRegistry(docs,
        head.toSeq.map(r => (r.getString(0), r.getString(1), r.getString(2))),
        reg, tokenize, gramScanMax, sharedTerms, sharedOrdered)
    else matchesFrameRegistry(docs, reg, tokenize, gramScanMax, sharedTerms,
      sharedOrdered)
  }

  /** The COMPILED small-registry strategy (see [[RegistryCompileMax]]):
    * metadata in plain Scala, registry re-broadcast as local relations,
    * the hits pipeline identical to [[matchesFrameRegistry]]'s —
    * PercolateSpec pins the two equal on every role. Falls back to the
    * frame path when the gram set outgrows the scan dispatch (the
    * expansion strategy's anchor prefilter wants the registry as
    * data). */
  private def matchesLocalRegistry(docs: DataFrame,
                                   rows: Seq[(String, String, String)],
                                   reg: DataFrame,
                                   tokenize: Column => Column,
                                   gramScanMax: Long,
                                   sharedTerms: Option[DataFrame],
                                   sharedOrdered: Option[DataFrame]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    lazy val docTerms = sharedTerms.getOrElse(tokenized(docs, tokenize)
      .select(col("doc_id"), explode(col("toks")).as("term")))
    lazy val docOrdered = sharedOrdered.getOrElse(
      docs.select(col("doc_id"), tokenize(col("text")).as("ot")))
    // phrase grams STILL normalize through the Column analyzer (one tiny
    // job over a |phrases|-row local relation — never replicate an
    // analyzer driver-side; a divergent reimplementation would silently
    // split the two strategies)
    val phraseRows = rows.collect { case (q, t, "phrase") => (q, t) }
    val phraseGrams: Seq[(String, Seq[String])] =
      if (phraseRows.isEmpty) Nil
      else phraseRows.toDF("query_id", "term")
        .select(col("query_id"), tokenize(col("term")).as("gram"))
        .collect().map(r => (r.getString(0), r.getSeq[String](1).toSeq)).toSeq
    val ks = phraseGrams.map(_._2.length).distinct.sorted
    val gramList = phraseGrams.map(_._2).distinct
    if (gramList.size > gramScanMax)
      return matchesFrameRegistry(docs, reg, tokenize, gramScanMax,
        sharedTerms, sharedOrdered)

    val termRole = rows.filter { case (_, _, r) =>
      r == "all" || r == "any" || r == "none" || r.startsWith("grp") }
    val termHits = docTerms
      .join(broadcast(termRole.toDF("query_id", "term", "role")), "term")
      .select("doc_id", "query_id", "role")

    val phraseHits =
      if (ks.isEmpty) termHits.limit(0)
      else {
        // the compiled containment scan — same exprs as the frame path's
        // small-gram branch, gram set and keys as local relations
        val gramSet = gramList.map(Tuple1(_)).toDF("gram")
        val pk = phraseGrams.toDF("query_id", "gram")
        docOrdered.join(broadcast(gramSet),
            graft.functions.GramCount.gram_count(col("ot"), col("gram")) > 0)
          .join(broadcast(pk), Seq("gram"))
          .select("doc_id", "query_id", "gram").distinct()
          .select(col("doc_id"), col("query_id"), lit("phrase").as("role"))
      }

    val rangeRows = rows.collect { case (q, t, "range") =>
      val Array(f, lo, hi) = t.split(":", 3)
      (q, f, lo.toDouble, hi.toDouble)
    }
    val rangeFields = rangeRows.map(_._2).distinct.sorted
    val rangeHits =
      if (rangeFields.isEmpty) termHits.limit(0)
      else rangeFields.map { f =>
          docs.select(col("doc_id"), lit(f).as("field"),
            col(f).cast("double").as("v"))
        }.reduce(_ unionByName _)
        .join(broadcast(rangeRows.toDF("query_id", "field", "lo", "hi")),
          Seq("field"))
        .filter(col("v").isNotNull &&
          col("v") >= col("lo") && col("v") <= col("hi"))
        .select(col("doc_id"), col("query_id"), lit("range").as("role"))
        .distinct()

    // per-query requirement counts in plain Scala — duplicate registry
    // rows count exactly as the frame aggregation counts them (n_all/
    // n_any/n_range count rows; n_groups distinct grp roles; n_phrase
    // distinct normalized grams)
    val phraseCountByQ = phraseGrams.groupBy(_._1)
      .map { case (q, g) => q -> g.map(_._2).distinct.size.toLong }
    val sizes = rows.map(_._1).distinct.map { q =>
      val roles = rows.collect { case (`q`, _, r) => r }
      (q, roles.count(_ == "all").toLong, roles.count(_ == "any").toLong,
        roles.count(_ == "range").toLong,
        roles.filter(_.startsWith("grp")).distinct.size.toLong,
        phraseCountByQ.getOrElse(q, 0L))
    }.toDF("query_id", "n_all", "n_any", "n_range", "n_groups", "n_phrase")
    combineHits(termHits, phraseHits, rangeHits, sizes)
  }

  /** The frame-registry strategy — the registry stays data end to end
    * (metadata via Spark jobs, sizes via aggregation); the large-
    * registry path of the [[RegistryCompileMax]] dispatch. */
  private def matchesFrameRegistry(docs: DataFrame, reg: DataFrame,
                       tokenize: Column => Column,
                       gramScanMax: Long,
                       sharedTerms: Option[DataFrame],
                       sharedOrdered: Option[DataFrame]): DataFrame = {
    // lazy: the in-plan fallbacks resolve `text` on docs — a caller
    // passing both shared frames may project docs down to the range
    // fields, and an eager derivation would fail analysis for a column
    // no branch reads
    lazy val docTerms = sharedTerms.getOrElse(tokenized(docs, tokenize)
      .select(col("doc_id"), explode(col("toks")).as("term")))
    lazy val docOrdered = sharedOrdered.getOrElse(
      docs.select(col("doc_id"), tokenize(col("text")).as("ot")))
    val termHits = docTerms
      .join(broadcast(reg.filter(col("role").isin("all", "any", "none") ||
          col("role").startsWith("grp"))),
        "term")
      .select("doc_id", "query_id", "role")

    // phrase predicates as data: each phrase normalizes (through the
    // SAME analyzer as the docs) to its TOKEN-ARRAY gram of k tokens;
    // docs expand to their k-token gram arrays for each k the registry
    // uses — the k set is registry metadata, so the expansion is bounded
    // by |doc tokens| × |phrase lengths|, never |queries|. The join key
    // is the token array ITSELF (element-wise equality), matching the
    // compiled strategy's slice comparison exactly — a space-joined
    // string key would collide for analyzers that emit space-containing
    // tokens, making the two strategies disagree across the
    // CompiledRegistryMax dispatch.
    val phraseKeys = reg.filter(col("role") === "phrase")
      .select(col("query_id"), tokenize(col("term")).as("gram"))
      .withColumn("k", size(col("gram")))
    val ks = phraseKeys.select("k").distinct().collect()
      .map(_.getInt(0)).sorted.toSeq
    // distinct grams are registry METADATA (≤ |phrase rows|); their count
    // picks the physical strategy below
    val gramSet = phraseKeys.select("gram").distinct()
    val nGrams = if (ks.isEmpty) 0L else gramSet.count()
    val phraseHits =
      if (ks.isEmpty) termHits.limit(0)
      else if (nGrams <= gramScanMax) {
        // SMALL GRAM SET — compiled containment scan: docs × grams pairs
        // (broadcast nested-loop, the gram side is ≤ GramScanMax rows),
        // each pair decided by ONE codegen'd early-exit token scan
        // ([[graft.functions.GramCount]] — [[graft.functions.PhraseCount]]
        // with the phrase as a column, because here phrases are DATA).
        // This replaces the per-doc k-gram ARRAY EXPANSION (|doc tokens|
        // slice allocations per doc per registry length, through an
        // interpreted higher-order transform, then an array-keyed join +
        // distinct) with a zero-allocation pass — the dominant constant
        // of the family's corpus-linear slope (SCALE.md §growth,
        // round-13 decomposition; same HOF→codegen move that retired
        // q_multifield_pf in round 13).
        val ot = docOrdered
        ot.join(broadcast(gramSet),
            graft.functions.GramCount.gram_count(col("ot"), col("gram")) > 0)
          .join(broadcast(phraseKeys.select("query_id", "gram")), Seq("gram"))
          // distinct on (doc, query, gram): two DIFFERENT matched phrases
          // of one query count twice, a duplicate registry row once
          .select("doc_id", "query_id", "gram").distinct()
          .select(col("doc_id"), col("query_id"), lit("phrase").as("role"))
      } else {
        // LARGE GRAM SET — gram expansion: one pass builds every k-gram
        // and joins all grams at once (amortizes when the registry holds
        // many phrases), RAREST-TERM-PREFILTERED when the corpus says it
        // prunes (the Lucene cost-ordering move the online probe's
        // candidate cap already uses): a doc can match a phrase only if
        // it contains the phrase's rarest corpus token, so gram arrays
        // are generated only for docs holding some k-length phrase's
        // anchor. The anchor df pass is one token explode + broadcast
        // semi-join + partial count — small next to the expansion it
        // gates at this registry size. The gate only APPLIES when the
        // anchors' summed df stays under half the corpus (the sum upper-
        // bounds their union): on a corpus where every phrase token is
        // common — tiny vocabularies, stopword-y phrases — the filter
        // passes ~everything and would be pure overhead (measured, round
        // 14: +1.7 s at 30× on the uniform-vocabulary fixture).
        val ot = docOrdered
        val phraseTokSet = phraseKeys
          .select(explode(col("gram")).as("term")).distinct()
        val tokDf = docTerms
          .join(broadcast(phraseTokSet), "term")
          .groupBy("term").agg(countDistinct(col("doc_id")).as("df"))
        val anchorRows = phraseKeys
          .select(col("gram"), col("k")).distinct()
          .select(col("gram"), col("k"), explode(col("gram")).as("term"))
          .join(broadcast(tokDf), Seq("term"), "left")
          // a token absent from the corpus has df 0 — the PERFECT anchor
          // (no doc can match its phrase, the filter drops everything)
          .na.fill(0L, Seq("df"))
          .groupBy("gram", "k")
          .agg(min_by(struct(col("term"), col("df")),
            struct(col("df"), col("term"))).as("a"))
          .select(col("k"), col("a.term").as("anchor"), col("a.df").as("df"))
          .collect()
        val nDocs = docs.select(col("doc_id")).count()
        val selective =
          anchorRows.iterator.map(_.getLong(2)).sum < 0.5 * nDocs
        val anchorsByK: Map[Int, Seq[String]] =
          if (!selective) Map.empty
          else anchorRows.groupBy(_.getInt(0)).map { case (k, rows) =>
            k -> rows.map(_.getString(1)).toSeq.distinct.sorted }
        val grams = ks.map { k =>
          val anchors = anchorsByK.getOrElse(k, Nil)
          val src = // k=0 (a phrase that analyzes to nothing) has no anchor
            if (anchors.isEmpty) ot
            else ot.filter(arrays_overlap(col("ot"), typedlit(anchors)))
          src.select(col("doc_id"), explode(expr(
              s"transform(sequence(1, greatest(1, size(ot) - ${k - 1})), " +
                s"i -> slice(ot, i, $k))")).as("gram"))
            .withColumn("k", lit(k))
        }.reduce(_ unionByName _)
        // distinct on (doc, query, gram): two DIFFERENT matched phrases
        // of one query must count twice, one phrase at many positions
        // once
        grams.join(broadcast(phraseKeys), Seq("gram", "k"))
          .select("doc_id", "query_id", "gram").distinct()
          .select(col("doc_id"), col("query_id"), lit("phrase").as("role"))
      }

    // range predicates as data: the registry's referenced numeric fields
    // (metadata) melt the doc side to (doc_id, field, v) rows; one
    // broadcast join + filter decides containment
    val ranges = reg.filter(col("role") === "range")
      .select(col("query_id"),
        split(col("term"), ":", 3).getItem(0).as("field"),
        split(col("term"), ":", 3).getItem(1).cast("double").as("lo"),
        split(col("term"), ":", 3).getItem(2).cast("double").as("hi"))
    val rangeFields = ranges.select("field").distinct().collect()
      .map(_.getString(0)).sorted.toSeq
    val rangeHits =
      if (rangeFields.isEmpty) termHits.limit(0)
      else rangeFields.map { f =>
          docs.select(col("doc_id"), lit(f).as("field"),
            col(f).cast("double").as("v"))
        }.reduce(_ unionByName _)
        .join(broadcast(ranges), Seq("field"))
        .filter(col("v").isNotNull &&
          col("v") >= col("lo") && col("v") <= col("hi"))
        .select(col("doc_id"), col("query_id"), lit("range").as("role"))
        .distinct()

    // per-query requirement counts; n_phrase counts DISTINCT normalized
    // grams so a duplicate-after-analysis phrase cannot demand two hits
    val sizes = reg.groupBy("query_id").agg(
        count(when(col("role") === "all", 1)).as("n_all"),
        count(when(col("role") === "any", 1)).as("n_any"),
        count(when(col("role") === "range", 1)).as("n_range"),
        countDistinct(when(col("role").startsWith("grp"), col("role")))
          .as("n_groups"))
      .join(phraseKeys.groupBy("query_id")
        .agg(countDistinct(col("gram")).as("n_phrase")),
        Seq("query_id"), "left")
      .na.fill(0L, Seq("n_phrase"))
    combineHits(termHits, phraseHits, rangeHits, sizes)
  }

  /** The shared decision tail of both registry strategies: fold the
    * role-tagged hit rows per (doc, query) and keep full-coverage
    * matches against the per-query requirement sizes. */
  private def combineHits(termHits: DataFrame, phraseHits: DataFrame,
                          rangeHits: DataFrame, sizes: DataFrame): DataFrame =
    termHits.unionByName(phraseHits).unionByName(rangeHits)
      .groupBy("doc_id", "query_id")
      .agg(
        count(when(col("role") === "all", 1)).as("hit_all"),
        count(when(col("role") === "any", 1)).as("hit_any"),
        count(when(col("role") === "none", 1)).as("hit_none"),
        count(when(col("role") === "phrase", 1)).as("hit_phrase"),
        count(when(col("role") === "range", 1)).as("hit_range"),
        countDistinct(when(col("role").startsWith("grp"), col("role")))
          .as("hit_groups"))
      .join(broadcast(sizes), "query_id")
      .filter(col("hit_all") === col("n_all") &&
        (col("n_any") === 0 || col("hit_any") > 0) &&
        col("hit_none") === 0 &&
        col("hit_phrase") === col("n_phrase") &&
        col("hit_range") === col("n_range") &&
        col("hit_groups") === col("n_groups"))
      .select("doc_id", "query_id")

  private def qPercolate(spark: SparkSession, dir: String): DataFrame =
    matches(Tables.documents(spark, dir), demoQueries,
        sharedTerms = Some(sharedDocTerms(spark, dir)),
        sharedOrdered = Some(sharedDocOrdered(spark, dir)))
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("query_id")

  /** The boolean registry for the second oracle key — every role
    * populated. */
  val demoBoolQueries: Seq[StoredQuery] = Seq(
    StoredQuery("need_spark_not_slow", all = Seq("spark"),
      none = Seq("slow")),
    StoredQuery("joins_or_merges_no_error", all = Seq("table"),
      any = Seq("join", "merge"), none = Seq("error")),
    StoredQuery("any_vector_family", all = Nil,
      any = Seq("vector", "centroid")))

  private def qPercolateBool(spark: SparkSession, dir: String): DataFrame =
    matchesBool(Tables.documents(spark, dir), demoBoolQueries,
        sharedTerms = Some(sharedDocTerms(spark, dir)),
        sharedOrdered = Some(sharedDocOrdered(spark, dir)))
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("query_id")

  /** The rich-predicate registry for the third oracle key: positional
    * phrases (served by the ordered token stream) and a numeric range
    * (Solr `fq=field:[lo TO hi]`) beside the boolean roles. */
  val demoRichQueries: Seq[StoredQuery] = Seq(
    StoredQuery("phrase_fast_merge", all = Nil,
      phrases = Seq("fast merge")),
    StoredQuery("short_spark", all = Seq("spark"),
      range = Some(RangePred("n_chars", 0, 120))),
    StoredQuery("mid_slow_query_clean", all = Nil,
      phrases = Seq("slow query"), none = Seq("error"),
      range = Some(RangePred("n_chars", 50, 400))))

  private def qPercolateRich(spark: SparkSession, dir: String): DataFrame =
    // the JOIN strategy end to end; a three-query registry is far under
    // RegistryCompileMax, so this key runs matchesLocalRegistry — the
    // large-registry frame path is covered by PercolateSpec
    // (registryCompileMax = 0), which also pins the compiled strategy
    // equal on the same registry
    matchesBool(Tables.documents(spark, dir)
        .select(col("doc_id"), col("text"), col("n_chars")),
      demoRichQueries,
      sharedTerms = Some(sharedDocTerms(spark, dir)),
      sharedOrdered = Some(sharedDocOrdered(spark, dir)))
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("query_id")

  /** The AND-of-OR-groups registry for the fourth oracle key — the shape
    * query-time synonym expansion registers (each expanded term = one OR
    * group), beside a plain `all` and a `none`. */
  val demoGroupQueries: Seq[StoredQuery] = Seq(
    StoredQuery("fastish_tables", all = Nil,
      groups = Seq(Seq("quick", "fast"), Seq("table", "row")),
      none = Seq("error")),
    StoredQuery("scan_vector_family", all = Seq("scan"),
      groups = Seq(Seq("vector", "merge"))))

  private def qPercolateGroups(spark: SparkSession, dir: String): DataFrame =
    // the JOIN strategy end to end (large-registry path); PercolateSpec
    // pins the compiled strategy equal on the same registry
    matchesBool(Tables.documents(spark, dir), demoGroupQueries,
        sharedTerms = Some(sharedDocTerms(spark, dir)),
        sharedOrdered = Some(sharedDocOrdered(spark, dir)))
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("query_id")

  val queries: Map[String, Q] = Map(
    "q_percolate" -> qPercolate,
    "q_percolate_bool" -> qPercolateBool,
    "q_percolate_rich" -> qPercolateRich,
    "q_percolate_groups" -> qPercolateGroups)

  val oracle: Map[String, String] = Map(
    "q_percolate" ->
      """WITH reg(query_id, term) AS (
        |  SELECT * FROM (VALUES
        |    ('alert_spark_join', 'spark'), ('alert_spark_join', 'join'),
        |    ('alert_slow_query', 'slow'), ('alert_slow_query', 'query'),
        |    ('alert_vector_merge', 'vector'), ('alert_vector_merge', 'merge'),
        |    ('alert_vector_merge', 'fast'))),
        |sizes AS (SELECT query_id, count(*) AS n_terms FROM reg GROUP BY 1),
        |toks AS (
        |  SELECT DISTINCT doc_id, tok FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)),
        |hits AS (
        |  SELECT t.doc_id, r.query_id
        |  FROM toks t JOIN reg r ON t.tok = r.term
        |  JOIN sizes s ON s.query_id = r.query_id
        |  GROUP BY t.doc_id, r.query_id, s.n_terms
        |  HAVING count(*) = s.n_terms)
        |SELECT query_id, count(*) AS n_docs FROM hits
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_percolate_bool" ->
      """WITH reg(query_id, term, role) AS (
        |  SELECT * FROM (VALUES
        |    ('need_spark_not_slow', 'spark', 'all'),
        |    ('need_spark_not_slow', 'slow', 'none'),
        |    ('joins_or_merges_no_error', 'table', 'all'),
        |    ('joins_or_merges_no_error', 'join', 'any'),
        |    ('joins_or_merges_no_error', 'merge', 'any'),
        |    ('joins_or_merges_no_error', 'error', 'none'),
        |    ('any_vector_family', 'vector', 'any'),
        |    ('any_vector_family', 'centroid', 'any'))),
        |sizes AS (
        |  SELECT query_id,
        |         count(*) FILTER (WHERE role = 'all') AS n_all,
        |         count(*) FILTER (WHERE role = 'any') AS n_any
        |  FROM reg GROUP BY 1),
        |toks AS (
        |  SELECT DISTINCT doc_id, tok FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)),
        |hits AS (
        |  SELECT t.doc_id, r.query_id,
        |         count(*) FILTER (WHERE r.role = 'all') AS hit_all,
        |         count(*) FILTER (WHERE r.role = 'any') AS hit_any,
        |         count(*) FILTER (WHERE r.role = 'none') AS hit_none
        |  FROM toks t JOIN reg r ON t.tok = r.term
        |  GROUP BY 1, 2),
        |m AS (
        |  SELECT h.doc_id, h.query_id
        |  FROM hits h JOIN sizes s USING (query_id)
        |  WHERE h.hit_all = s.n_all AND (s.n_any = 0 OR h.hit_any > 0)
        |    AND h.hit_none = 0)
        |SELECT query_id, count(*) AS n_docs FROM m
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_percolate_groups" ->
      """SELECT query_id, count(*) AS n_docs FROM (
        |  SELECT doc_id, 'fastish_tables' AS query_id FROM documents
        |  WHERE (list_contains(string_split(text, ' '), 'quick')
        |      OR list_contains(string_split(text, ' '), 'fast'))
        |    AND (list_contains(string_split(text, ' '), 'table')
        |      OR list_contains(string_split(text, ' '), 'row'))
        |    AND NOT list_contains(string_split(text, ' '), 'error')
        |  UNION ALL
        |  SELECT doc_id, 'scan_vector_family' FROM documents
        |  WHERE list_contains(string_split(text, ' '), 'scan')
        |    AND (list_contains(string_split(text, ' '), 'vector')
        |      OR list_contains(string_split(text, ' '), 'merge'))
        |) GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_percolate_rich" ->
      """SELECT query_id, count(*) AS n_docs FROM (
        |  SELECT doc_id, 'phrase_fast_merge' AS query_id FROM documents
        |  WHERE contains(' ' || text || ' ', ' fast merge ')
        |  UNION ALL
        |  SELECT doc_id, 'short_spark' FROM documents
        |  WHERE list_contains(string_split(text, ' '), 'spark')
        |    AND n_chars BETWEEN 0 AND 120
        |  UNION ALL
        |  SELECT doc_id, 'mid_slow_query_clean' FROM documents
        |  WHERE contains(' ' || text || ' ', ' slow query ')
        |    AND NOT list_contains(string_split(text, ' '), 'error')
        |    AND n_chars BETWEEN 50 AND 400
        |) GROUP BY 1 ORDER BY 1""".stripMargin)
}
