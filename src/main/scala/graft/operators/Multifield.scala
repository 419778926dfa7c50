package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Multi-field boosted retrieval — Solr edismax's `qf` (S4's deployed
  * query form): the reference maps EVERY HBase qualifier to its own Solr
  * field (/root/reference/src/main/java/com/hbase/easy/index/
  * HbaseSolrIndexCoprocesser.java:45-49, `doc.addField(qualifier,
  * value)`), and the default deployed Solr query searches across those
  * fields with per-field weights (`qf=title^2 body`). Until round 11
  * every retrieval surface here scored exactly ONE text column; this
  * family scores several, each with its own statistics.
  *
  * Corpus: a deterministic two-field decoration of `documents` — `title`
  * = the first [[TitleLen]] whitespace tokens, `body` = the rest (every
  * doc has ≥ 10 tokens at every SF, so both fields are always non-empty).
  * The derivation is pure SQL, identical in Spark and DuckDB, so one
  * oracle checks both the corpus-scoped plans and the maintained twins.
  *
  * Scoring is edismax with `tie=1.0` (DisMax degenerates to a SUM over
  * the per-field scores):
  *   - [[qMultifieldSearch]]: score = Σ_f boost_f · tf_f(term) — the
  *     term-frequency form of `qf`, over a corpus scan that derives both
  *     fields in one pass (no joins, TakeOrderedAndProject top-k shape).
  *   - [[qMultifieldBm25]]: Lucene's per-field similarity — every field
  *     is its OWN index with its own df/docCount/avgdl/dl statistics;
  *     score = Σ_f boost_f · Σ_t BM25_f(t). k1=1.2, b=0.75, the same
  *     constant-folded literals as every BM25 here.
  *
  * Maintained twins ride `IncrementalPostings.mergeBatchFields` (entries
  * carry a `field` column — Lucene terms ARE (field, term) pairs — and
  * the dstats sidecar keeps per-field length stats): `termSearchFields` /
  * `bm25SearchFields` serve the same arithmetic from bucket-pruned
  * entries + the metadata-sized sidecar + the hit docs' keyed fetch, with
  * no corpus scan (plan-pinned in MultifieldSpec).
  *
  * Scale: the corpus-scoped forms are one-pass scans (100 TB cost = one
  * read of the docs, like every corpus-scoped ranking); the maintained
  * forms read the query terms' entry buckets (a term's postings for ALL
  * fields share its bucket — field is payload, not hash key) plus the hit
  * docs' buckets, so per-query I/O is Σ|postings(term)| + |hits|,
  * independent of corpus size.
  */
object Multifield {
  type Q = (SparkSession, String) => DataFrame

  /** Tokens 1..TitleLen become `title`; the rest is `body`. */
  val TitleLen = 8

  private val Boosts: Seq[(String, Double)] = Seq("title" -> 2.0, "body" -> 1.0)
  private val Fields: Seq[String] = Boosts.map(_._1)
  private val SearchTerm = "merge"
  private val Bm25Terms = Seq("merge", "sort")
  /** Multi-term `qf` query + its `pf` phrase — the deployed edismax form
    * pairs them (`qf=title^2 body` + `pf=title^3 body^1.5`: docs where
    * the whole phrase appears contiguously in a pf field get a
    * proximity boost on top of the per-term qf score). */
  private val QfTerms = Seq("merge", "sort")
  private val Phrase = Seq("merge", "sort")
  private val PfBoosts: Seq[(String, Double)] = Seq("title" -> 3.0, "body" -> 1.5)

  /** The decorated two-field corpus: (doc_id, title, body, title_toks,
    * body_toks). The PRE-SPLIT token arrays ride along so downstream tf /
    * phrase counts never re-tokenize the strings — the round-12 bench
    * convicted `q_multifield_pf`'s repeated `split(body)` (six independent
    * splits per row once the interpreted HOF disabled CSE); the artifact
    * exists precisely to stop re-derivation, so the arrays belong IN it. */
  private[graft] def fielded(spark: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        slice(toks, 1, TitleLen).as("title_toks"),
        slice(toks, TitleLen + 1, 1000000).as("body_toks"))
      .select(col("doc_id"),
        array_join(col("title_toks"), " ").as("title"),
        array_join(col("body_toks"), " ").as("body"),
        col("title_toks"), col("body_toks"))
  }

  /** [[fielded]] MATERIALIZED once per session — the BM25 form derives
    * tf, dl, and stats from it (three consumers; re-deriving the melt per
    * consumer re-scanned the documents parquet ~6× per execution). */
  private def sharedFielded(spark: SparkSession, dir: String): DataFrame =
    Materialize.artifact(spark, "multifield_fields", dir)(fielded(spark, dir))

  /** Term frequency over the artifact's PRE-SPLIT token array, via the
    * codegen'd [[graft.functions.PhraseCount]] (a 1-token phrase IS tf) —
    * the declarative `size(filter(...))` is a higher-order function, which
    * Spark evaluates interpreted (CodegenFallback), and its presence also
    * disabled CSE across the projection (the round-12 `q_multifield_pf`
    * conviction). */
  private def tfIn(field: String, term: String): Column =
    graft.functions.PhraseCount.phrase_count(col(s"${field}_toks"), Seq(term))

  private def qMultifieldSearch(spark: SparkSession, dir: String): DataFrame =
    // edismax qf=title^2 body, tie=1.0 over a raw term: per-field tf,
    // boost-weighted sum over the materialized fielded corpus;
    // the filter keeps any doc matching a qf field.
    sharedFielded(spark, dir)
      .select(col("doc_id"),
        tfIn("title", SearchTerm).as("tf_title"),
        tfIn("body", SearchTerm).as("tf_body"))
      .filter(col("tf_title") > 0 || col("tf_body") > 0)
      .withColumn("score",
        col("tf_title") * lit(2.0) + col("tf_body") * lit(1.0))
      .orderBy(col("score").desc, col("doc_id"))

  /** Per-field tf SUMMED over the multi-term query — edismax `qf` with
    * more than one term (tie=1.0 sums fields; terms sum within a field
    * because each term contributes its own tf). */
  private def qfTfIn(field: String): Column =
    QfTerms.map(t => tfIn(field, t)).reduce(_ + _)

  /** Contiguous-phrase occurrence count in a field's pre-split token
    * array — one compiled O(len) scan per row via the codegen'd
    * [[graft.functions.PhraseCount]], no shuffle: the corpus-scoped
    * mirror of the maintained positions-payload intersection. (The
    * round-12 form — `sequence` + `filter` + per-slot `element_at`, an
    * interpreted HOF over a re-split string — was the suite's one 2 s-bar
    * breach; see PhraseCount's Scaladoc.) */
  private def phraseTfIn(field: String): Column =
    graft.functions.PhraseCount.phrase_count(col(s"${field}_toks"), Phrase)

  private def qMultifieldQf(spark: SparkSession, dir: String): DataFrame =
    // multi-term qf (qf=title^2 body on ["merge","sort"]): per-field tf
    // summed over the terms, boost-weighted — one pass over the
    // materialized fielded corpus, TakeOrderedAndProject shape.
    sharedFielded(spark, dir)
      .select(col("doc_id"),
        qfTfIn("title").as("tf_title"),
        qfTfIn("body").as("tf_body"))
      .filter(col("tf_title") > 0 || col("tf_body") > 0)
      .withColumn("score",
        col("tf_title") * lit(2.0) + col("tf_body") * lit(1.0))
      .orderBy(col("score").desc, col("doc_id"))

  private def qMultifieldPf(spark: SparkSession, dir: String): DataFrame =
    // qf + pf: the multi-term qf score PLUS pf_boost × contiguous-phrase
    // count per pf field, for docs already matching qf (pf boosts, it
    // never admits new docs — Solr edismax semantics). Still one corpus
    // pass: both tf and phrase counts are per-row expressions.
    sharedFielded(spark, dir)
      .select(col("doc_id"),
        qfTfIn("title").as("tf_title"),
        qfTfIn("body").as("tf_body"),
        phraseTfIn("title").as("pf_title"),
        phraseTfIn("body").as("pf_body"))
      .filter(col("tf_title") > 0 || col("tf_body") > 0)
      .withColumn("score",
        col("tf_title") * lit(2.0) + col("tf_body") * lit(1.0) +
          col("pf_title") * lit(3.0) + col("pf_body") * lit(1.5))
      .orderBy(col("score").desc, col("doc_id"))

  private def qMultifieldBm25(spark: SparkSession, dir: String): DataFrame = {
    // Lucene per-field similarity under qf boosts: melt the two fields
    // into (doc_id, field, toks) rows, derive each field's OWN df/
    // docCount/avgdl/dl, score each (term, field) with standard BM25 and
    // sum boost-weighted. The stats and df frames are field×term-sized —
    // broadcast; the only corpus-sized pass is the melt itself.
    import spark.implicits._
    val perField = Fields.map { f =>
      sharedFielded(spark, dir).select(col("doc_id"), lit(f).as("field"),
        col(s"${f}_toks").as("toks"))
    }.reduce(_ unionByName _)
    val dl = perField.select(col("doc_id"), col("field"),
      size(col("toks")).cast("long").as("dl"))
    val stats = dl.groupBy("field")
      .agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
    val tf = perField
      .select(col("doc_id"), col("field"), explode(col("toks")).as("tok"))
      .filter(col("tok").isin(Bm25Terms: _*))
      .groupBy("doc_id", "field", "tok").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("field", "tok").agg(count(lit(1)).as("df"))
    val boostDf = Boosts.toDF("field", "boost")
    tf.join(broadcast(df), Seq("field", "tok"))
      .join(dl, Seq("doc_id", "field"))
      .join(broadcast(stats), "field")
      .join(broadcast(boostDf), "field")
      .withColumn("contrib",
        col("boost") *
          log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
          (lit(2.2) * col("tf")) /
          (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
      .groupBy("doc_id")
      .agg(round(sum(col("contrib")), 4).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(20)
  }

  /** Session-scoped MAINTAINED multi-field fixture: the decorated corpus
    * folded once per (session, dir) through `mergeBatchFields`, so the
    * twins exercise genuinely maintained per-field state (entries with a
    * field column, per-field dstats) — the same discipline as
    * `Index.maintainedFixture`. */
  private def fixture(spark: SparkSession, dir: String): String =
    Materialize.fixture(spark, "multifield_fixture", dir) { tmp =>
      val root = tmp + "/postings"
      graft.streaming.IncrementalPostings.mergeBatchFields(spark,
        sharedFielded(spark, dir).select(
          col("doc_id").cast("string").as("rowkey"),
          col("doc_id").as("event_id"), lit("put").as("op"),
          col("title"), col("body")),
        root, Fields)
      root
    }

  private def qMultifieldMaintained(spark: SparkSession, dir: String): DataFrame =
    // qf term search over MAINTAINED multi-field state: one bucket-pruned
    // entries read covers both fields, hit rows key-fetched. Same
    // arithmetic as the corpus-scoped q_multifield_search — one oracle
    // checks both.
    graft.streaming.IncrementalPostings
      .termSearchFields(spark, fixture(spark, dir), Seq(SearchTerm), Boosts)
      .select(col("rowkey"), col("event_id"),
        col("tf_title"), col("tf_body"), col("score"))
      .orderBy(col("score").desc, col("event_id"))

  private def qMultifieldQfMaintained(spark: SparkSession, dir: String): DataFrame =
    // MULTI-term qf over maintained state: one bucket-pruned entries read
    // covers every (term, field), per-field tf summed over the terms.
    // Same arithmetic as q_multifield_qf — one oracle checks both.
    graft.streaming.IncrementalPostings
      .termSearchFields(spark, fixture(spark, dir), QfTerms, Boosts)
      .select(col("rowkey"), col("event_id"),
        col("tf_title"), col("tf_body"), col("score"))
      .orderBy(col("score").desc, col("event_id"))

  private def qMultifieldPfMaintained(spark: SparkSession, dir: String): DataFrame =
    // qf + pf over maintained state: qf tf from the pruned entries,
    // phrase counts from the POSITIONS payload (per-field start-witness
    // intersection) — no corpus scan, no re-tokenization at read time.
    // Same arithmetic as q_multifield_pf.
    graft.streaming.IncrementalPostings
      .phraseBoostSearchFields(spark, fixture(spark, dir),
        QfTerms, Boosts, Phrase, PfBoosts)
      .select(col("rowkey"), col("event_id"),
        col("tf_title"), col("tf_body"),
        col("pf_title"), col("pf_body"), col("score"))
      .orderBy(col("score").desc, col("event_id"))

  private def qMultifieldBm25Maintained(spark: SparkSession, dir: String): DataFrame =
    // per-field BM25 over MAINTAINED state: tf/df from the pruned
    // entries, per-field N/avgdl from the dstats sidecar, per-field dl
    // from the fetched rows' own columns. Same arithmetic as the
    // corpus-scoped q_multifield_bm25.
    graft.streaming.IncrementalPostings
      .bm25SearchFields(spark, fixture(spark, dir), Bm25Terms, Boosts)

  val queries: Map[String, Q] = Map(
    "q_multifield_search" -> qMultifieldSearch,
    "q_multifield_bm25" -> qMultifieldBm25,
    "q_multifield_maintained" -> qMultifieldMaintained,
    "q_multifield_bm25_maintained" -> qMultifieldBm25Maintained,
    "q_multifield_qf" -> qMultifieldQf,
    "q_multifield_qf_maintained" -> qMultifieldQfMaintained,
    "q_multifield_pf" -> qMultifieldPf,
    "q_multifield_pf_maintained" -> qMultifieldPfMaintained)

  /** The shared field-derivation CTE (DuckDB). */
  private val fieldedCte =
    """fd AS (
      |  SELECT doc_id,
      |         list_slice(string_split(text, ' '), 1, 8) AS tt,
      |         list_slice(string_split(text, ' '), 9, 1000000) AS bt
      |  FROM documents)""".stripMargin

  private val searchCte = fieldedCte +
    """,
      |m AS (
      |  SELECT doc_id,
      |         len(list_filter(tt, t -> t = 'merge')) AS tf_title,
      |         len(list_filter(bt, t -> t = 'merge')) AS tf_body
      |  FROM fd),
      |s AS (
      |  SELECT doc_id, tf_title, tf_body,
      |         tf_title * 2.0 + tf_body * 1.0 AS score
      |  FROM m WHERE tf_title > 0 OR tf_body > 0)""".stripMargin

  private val bm25Cte = fieldedCte +
    """,
      |pf AS (
      |  SELECT doc_id, 'title' AS field, tt AS toks FROM fd
      |  UNION ALL
      |  SELECT doc_id, 'body' AS field, bt AS toks FROM fd),
      |dl AS (SELECT doc_id, field, len(toks) AS dl FROM pf),
      |stats AS (
      |  SELECT field, count(*) AS n_docs, avg(dl) AS avgdl
      |  FROM dl GROUP BY field),
      |tf AS (
      |  SELECT doc_id, field, tok, count(*) AS tf
      |  FROM (SELECT doc_id, field, unnest(toks) AS tok FROM pf)
      |  WHERE tok IN ('merge', 'sort')
      |  GROUP BY 1, 2, 3),
      |df AS (SELECT field, tok, count(*) AS df FROM tf GROUP BY 1, 2),
      |boosts(field, boost) AS (VALUES ('title', 2.0), ('body', 1.0)),
      |scored AS (
      |  SELECT tf.doc_id,
      |         round(sum(b.boost *
      |                   ln(1.0 + (s.n_docs - df.df + 0.5) / (df.df + 0.5)) *
      |                   (2.2 * tf.tf) /
      |                   (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl))), 4) AS score
      |  FROM tf
      |  JOIN df USING (field, tok)
      |  JOIN dl USING (doc_id, field)
      |  JOIN stats s USING (field)
      |  JOIN boosts b USING (field)
      |  GROUP BY tf.doc_id)""".stripMargin

  /** Multi-term qf + pf CTE: per-field tf summed over the two terms,
    * contiguous-phrase counts via index filters over the token lists
    * (range(1, len) is end-exclusive, so i+1 stays in bounds). */
  private val qfPfCte = fieldedCte +
    """,
      |m AS (
      |  SELECT doc_id,
      |         len(list_filter(tt, t -> t = 'merge'))
      |           + len(list_filter(tt, t -> t = 'sort')) AS tf_title,
      |         len(list_filter(bt, t -> t = 'merge'))
      |           + len(list_filter(bt, t -> t = 'sort')) AS tf_body,
      |         len(list_filter(range(1, len(tt)),
      |               i -> tt[i] = 'merge' AND tt[i+1] = 'sort')) AS pf_title,
      |         len(list_filter(range(1, len(bt)),
      |               i -> bt[i] = 'merge' AND bt[i+1] = 'sort')) AS pf_body
      |  FROM fd),
      |s AS (
      |  SELECT doc_id, tf_title, tf_body, pf_title, pf_body,
      |         tf_title * 2.0 + tf_body * 1.0 AS qf_score,
      |         tf_title * 2.0 + tf_body * 1.0
      |           + pf_title * 3.0 + pf_body * 1.5 AS score
      |  FROM m WHERE tf_title > 0 OR tf_body > 0)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_multifield_qf" -> ("WITH " + qfPfCte +
      "\nSELECT doc_id, tf_title, tf_body, qf_score AS score FROM s" +
      "\nORDER BY qf_score DESC, doc_id"),
    "q_multifield_qf_maintained" -> ("WITH " + qfPfCte +
      """
        |SELECT CAST(doc_id AS VARCHAR) AS rowkey, doc_id AS event_id,
        |       tf_title, tf_body, qf_score AS score
        |FROM s ORDER BY qf_score DESC, event_id""".stripMargin),
    "q_multifield_pf" -> ("WITH " + qfPfCte +
      "\nSELECT doc_id, tf_title, tf_body, pf_title, pf_body, score FROM s" +
      "\nORDER BY score DESC, doc_id"),
    "q_multifield_pf_maintained" -> ("WITH " + qfPfCte +
      """
        |SELECT CAST(doc_id AS VARCHAR) AS rowkey, doc_id AS event_id,
        |       tf_title, tf_body, pf_title, pf_body, score
        |FROM s ORDER BY score DESC, event_id""".stripMargin),
    "q_multifield_search" -> ("WITH " + searchCte +
      "\nSELECT doc_id, tf_title, tf_body, score FROM s" +
      "\nORDER BY score DESC, doc_id"),
    "q_multifield_maintained" -> ("WITH " + searchCte +
      """
        |SELECT CAST(doc_id AS VARCHAR) AS rowkey, doc_id AS event_id,
        |       tf_title, tf_body, score
        |FROM s ORDER BY score DESC, event_id""".stripMargin),
    "q_multifield_bm25" -> ("WITH " + bm25Cte +
      "\nSELECT doc_id, score FROM scored" +
      "\nORDER BY score DESC, doc_id LIMIT 20"),
    "q_multifield_bm25_maintained" -> ("WITH " + bm25Cte +
      """
        |SELECT CAST(doc_id AS VARCHAR) AS doc_id, score FROM scored
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin))
}
