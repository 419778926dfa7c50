package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.streaming.IncrementalPostings

/** Multi-field (edismax `qf`) retrieval: per-field postings with per-field
  * statistics, boost-weighted scoring, and the maintained state's
  * bucket-pruned read shape. The reference maps every HBase qualifier to
  * its own Solr field (HbaseSolrIndexCoprocesser.java:45-49), so
  * multi-field documents are its NATIVE shape. */
case class FieldDoc(rowkey: String, event_id: Long, op: String,
                    title: String, body: String)

class MultifieldSpec extends SparkSpec {
  import spark.implicits._

  private val fields = Seq("title", "body")

  private def newRoot(tag: String): String =
    Files.createTempDirectory(s"graft_mf$tag").toString + "/postings"

  private def merge(root: String, changes: FieldDoc*): Unit =
    IncrementalPostings.mergeBatchFields(spark, changes.toSeq.toDF(), root, fields)

  private def ranking(df: DataFrame): Seq[String] =
    df.orderBy(col("score").desc, col("rowkey")).select("rowkey")
      .collect().map(_.getString(0)).toSeq

  test("boost order changes the ranking (qf=title^2 body vs body^2 title)") {
    val root = newRoot("boost")
    // docA: term once in TITLE; docB: term once in BODY. Under title^2
    // A outranks B (2.0 vs 1.0); under body^2 the order flips.
    merge(root,
      FieldDoc("A", 0, "put", "merge alpha", "beta gamma"),
      FieldDoc("B", 1, "put", "alpha delta", "merge gamma"))
    val titleHeavy = ranking(IncrementalPostings.termSearchFields(
      spark, root, Seq("merge"), Seq("title" -> 2.0, "body" -> 1.0)))
    val bodyHeavy = ranking(IncrementalPostings.termSearchFields(
      spark, root, Seq("merge"), Seq("body" -> 2.0, "title" -> 1.0)))
    assert(titleHeavy === Seq("A", "B"))
    assert(bodyHeavy === Seq("B", "A"), "swapping qf boosts must flip the order")

    // the ranked (BM25) form flips too: same docs, per-field stats
    def bm25Top(boosts: Seq[(String, Double)]): String =
      IncrementalPostings.bm25SearchFields(spark, root, Seq("merge"), boosts)
        .collect().head.getString(0)
    assert(bm25Top(Seq("title" -> 5.0, "body" -> 1.0)) === "A")
    assert(bm25Top(Seq("body" -> 5.0, "title" -> 1.0)) === "B")
  }

  test("per-field statistics are each field's OWN (df, docCount, avgdl)") {
    val root = newRoot("stats")
    merge(root,
      FieldDoc("1", 0, "put", "merge sort", "long body text here merge"),
      FieldDoc("2", 1, "put", "scan filter", "short one"),
      FieldDoc("3", 2, "put", "merge scan", "another body row"))
    val stats = IncrementalPostings.fieldStats(spark, root)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // titles: 2+2+2 tokens over 3 docs; bodies: 5+2+3 over 3 docs
    assert(stats("title") === ((3L, 2.0)))
    assert(stats("body") === ((3L, 10.0 / 3.0)))
    // df is per (term, field): 'merge' appears in 2 titles but 1 body
    val ent = IncrementalPostings.termSearchFields(spark, root, Seq("merge"),
      Seq("title" -> 1.0, "body" -> 1.0))
    val tfs = ent.select("rowkey", "tf_title", "tf_body").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(tfs === Map("1" -> ((1L, 1L)), "3" -> ((1L, 0L))))
  }

  test("multi-field merges converge under updates, deletes, and replay") {
    val root = newRoot("conv")
    merge(root,
      FieldDoc("1", 0, "put", "merge sort", "spark rows"),
      FieldDoc("2", 1, "put", "hash join", "merge pass"))
    // update doc 1: its OLD tokens in BOTH fields must be removed
    merge(root, FieldDoc("1", 2, "put", "scan only", "fresh body"))
    // delete doc 2 entirely
    merge(root, FieldDoc("2", 3, "delete", "", ""))
    // stale replay below the tombstone: must stay dead
    merge(root, FieldDoc("2", 1, "put", "hash join", "merge pass"))
    val hits = IncrementalPostings.termSearchFields(spark, root, Seq("merge"),
      Seq("title" -> 2.0, "body" -> 1.0))
    assert(hits.count() === 0L,
      "old postings of an updated doc and all postings of a deleted doc must be gone")
    val scan = IncrementalPostings.termSearchFields(spark, root, Seq("scan"),
      Seq("title" -> 2.0, "body" -> 1.0)).collect()
    assert(scan.map(_.getAs[String]("rowkey")).toSeq === Seq("1"))
    // the sidecar tracked the post-update lengths (title 2, body 2 of doc 1)
    val stats = IncrementalPostings.fieldStats(spark, root)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(stats === Map("title" -> ((1L, 2.0)), "body" -> ((1L, 2.0))))
  }

  test("reads are bucket-pruned: one entries bucket per term, hit docs' buckets only") {
    val root = newRoot("pins")
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val batch = graft.operators.Multifield.fielded(spark, "/root/testdata/sf0.001")
      .select(col("doc_id").cast("string").as("rowkey"),
        col("doc_id").as("event_id"), lit("put").as("op"),
        col("title"), col("body"))
    IncrementalPostings.mergeBatchFields(spark, batch, root, fields)
    def bucketOf(key: String): String = {
      val crc = new java.util.zip.CRC32()
      crc.update(key.getBytes("UTF-8"))
      s"b=${java.lang.Math.floorMod(crc.getValue, graft.streaming.IncrementalIndex.DefaultBuckets.toLong)}"
    }
    // qf term search: every entries file read hashes to the TERM's bucket
    // (all fields of a term share its bucket — field is payload). The hit
    // list is checkpointed (round 13), so pin pruning on the frame the
    // checkpoint is built from (the pf pin's pattern) and prove the final
    // plan re-reads NO entry file
    val frame = IncrementalPostings.termSearchFields(spark, root, Seq("merge"),
      Seq("title" -> 2.0, "body" -> 1.0))
    val entryFiles = IncrementalPostings.prunedEntries(spark, root,
      Seq("merge")).inputFiles.filter(_.contains("/entries/"))
    assert(entryFiles.nonEmpty)
    for (f <- entryFiles)
      assert(f.contains(s"/${bucketOf("merge")}/"),
        s"qf search read an entry bucket outside the term's: $f")
    assert(frame.inputFiles.count(_.contains("/entries/")) === 0,
      "qf's final frame re-read the entries instead of the checkpointed hits")
    // ... and no corpus file: every input is under the state root
    assert(frame.inputFiles.forall(_.contains("/postings/")),
      "qf search must be served from maintained state only")
    // per-field BM25: final frame reads NO entries (checkpointed hits),
    // and fetches only the hit docs' own buckets
    val bm = IncrementalPostings.bm25SearchFields(spark, root,
      Seq("merge", "sort"), Seq("title" -> 2.0, "body" -> 1.0))
    assert(bm.inputFiles.count(_.contains("/entries/")) === 0,
      "bm25's final frame re-read the entries instead of the checkpointed hits")
    val hitDocs = docs
      .filter(array_contains(split(col("text"), " "), "merge") ||
        array_contains(split(col("text"), " "), "sort"))
      .select(col("doc_id").cast("string")).collect().map(_.getString(0))
    val wantedDocB = hitDocs.map(bucketOf).toSet
    val docFiles = bm.inputFiles.filter(_.contains("/docs/"))
    assert(docFiles.nonEmpty)
    for (f <- docFiles)
      assert(wantedDocB.exists(b => f.contains(s"/$b/")),
        s"per-field bm25 fetched a doc bucket outside the hits': $f")
  }

  test("multi-term qf sums per-field tf across the query terms") {
    val root = newRoot("qfmulti")
    merge(root,
      FieldDoc("A", 0, "put", "merge alpha", "sort beta"),
      FieldDoc("B", 1, "put", "gamma delta", "sort sort"),
      FieldDoc("C", 2, "put", "epsilon zeta", "eta theta"))
    val got = IncrementalPostings.termSearchFields(spark, root,
      Seq("merge", "sort"), Seq("title" -> 2.0, "body" -> 1.0))
      .select("rowkey", "tf_title", "tf_body", "score").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    // A: merge in title (1), sort in body (1) → 2·1 + 1·1 = 3
    // B: sort twice in body → 2; C: no qf term → absent
    assert(got === Map("A" -> ((1L, 1L, 3.0)), "B" -> ((0L, 2L, 2.0))))
  }

  test("the pf phrase boost flips a ranking that qf alone would decide the other way") {
    val root = newRoot("pf")
    // SCATTER outscores PHRASE on qf alone (more term occurrences:
    // tf_title=2 ⇒ 4.0 vs 2.0+1.0=... ):
    //   scatter: merge×2 in title            → qf = 2·2 = 4.0, no adjacency
    //   phrase:  "merge sort" adjacent title → qf = 2·(1+1) = 4.0... need strict
    // make scatter strictly higher on qf: merge×2 + sort×1 scattered
    merge(root,
      FieldDoc("scatter", 0, "put", "merge alpha merge beta sort", "x y"),
      FieldDoc("phrase", 1, "put", "merge sort gamma", "x y"))
    val qf = Seq("title" -> 2.0, "body" -> 1.0)
    val terms = Seq("merge", "sort")
    val noPf = ranking(IncrementalPostings.termSearchFields(spark, root, terms, qf))
    assert(noPf === Seq("scatter", "phrase"),
      "without pf the scattered doc must win on raw tf (6.0 vs 4.0)")
    val withPf = ranking(IncrementalPostings.phraseBoostSearchFields(
      spark, root, terms, qf, Seq("merge", "sort"), Seq("title" -> 3.0)))
    assert(withPf === Seq("phrase", "scatter"),
      "the pf proximity boost (4.0 + 3.0 = 7.0 vs 6.0) must flip the order")
  }

  test("pf boosts qf hits only — a phrase-only doc is never admitted, and counts are per-field") {
    val root = newRoot("pfedge")
    merge(root,
      // matches qf terms AND has the phrase twice in body, once in title
      FieldDoc("both", 0, "put", "merge sort alpha", "merge sort x merge sort"),
      // has the phrase but NO qf term (qf searches 'alpha' only here)
      FieldDoc("phraseonly", 1, "put", "merge sort", "merge sort"))
    val got = IncrementalPostings.phraseBoostSearchFields(spark, root,
      terms = Seq("alpha"), boosts = Seq("title" -> 2.0, "body" -> 1.0),
      phrase = Seq("merge", "sort"),
      pf = Seq("title" -> 3.0, "body" -> 1.5))
      .select("rowkey", "pf_title", "pf_body", "score").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    // both: qf = 2·1 = 2.0; pf = 3·1 + 1.5·2 = 6.0 → 8.0
    assert(got === Map("both" -> ((1L, 2L, 8.0))),
      "pf must boost existing hits only and count the phrase per field")
    // repeated-term phrase needs two distinct adjacent positions ("a a"):
    merge(root, FieldDoc("rep", 2, "put", "alpha echo echo", "echo zulu"))
    val rep = IncrementalPostings.phraseBoostSearchFields(spark, root,
      terms = Seq("alpha"), boosts = Seq("title" -> 1.0),
      phrase = Seq("echo", "echo"), pf = Seq("title" -> 1.0, "body" -> 1.0))
      .select("rowkey", "pf_title", "pf_body").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(rep("rep") === ((1L, 0L)),
      "'echo echo' occurs once in the title (positions 1,2) and never in the body")
  }

  test("a positions-free row of a NON-hit doc never aborts pf; a hit doc's still fails loudly") {
    val root = newRoot("pfblast")
    // hit doc: matches qf ('alpha') and has the phrase, WITH positions
    merge(root, FieldDoc("hit", 0, "put", "alpha merge sort", "x y"))
    // positions-free doc that contains the phrase terms but NO qf term —
    // it can never affect results (pf is boost-only) and must be dropped
    // BEFORE the null-positions check (round-12 ADVICE), not abort the query
    IncrementalPostings.mergeBatchFields(spark,
      Seq(FieldDoc("stray", 1, "put", "merge sort only", "z")).toDF(),
      root, fields, keepPositions = false)
    val got = IncrementalPostings.phraseBoostSearchFields(spark, root,
      terms = Seq("alpha"), boosts = Seq("title" -> 2.0, "body" -> 1.0),
      phrase = Seq("merge", "sort"), pf = Seq("title" -> 3.0, "body" -> 1.5))
      .select("rowkey", "pf_title").collect()
    assert(got.map(r => r.getString(0) -> r.getLong(1)).toMap === Map("hit" -> 1L))
    // but a positions-free row of a doc that IS a qf hit still fails
    // loudly — its phrase count is genuinely unknowable
    IncrementalPostings.mergeBatchFields(spark,
      Seq(FieldDoc("badhit", 2, "put", "alpha merge sort", "w")).toDF(),
      root, fields, keepPositions = false)
    val ex = intercept[Exception] {
      IncrementalPostings.phraseBoostSearchFields(spark, root,
        terms = Seq("alpha"), boosts = Seq("title" -> 2.0, "body" -> 1.0),
        phrase = Seq("merge", "sort"), pf = Seq("title" -> 3.0, "body" -> 1.5))
        .collect()
    }
    assert(ex.getMessage != null)
  }

  test("pf reads stay bucket-pruned to the query/phrase terms' buckets — no corpus scan") {
    val root = newRoot("pfpins")
    val batch = graft.operators.Multifield.fielded(spark, "/root/testdata/sf0.001")
      .select(col("doc_id").cast("string").as("rowkey"),
        col("doc_id").as("event_id"), lit("put").as("op"),
        col("title"), col("body"))
    IncrementalPostings.mergeBatchFields(spark, batch, root, fields)
    def bucketOf(key: String): String = {
      val crc = new java.util.zip.CRC32()
      crc.update(key.getBytes("UTF-8"))
      s"b=${java.lang.Math.floorMod(crc.getValue, graft.streaming.IncrementalIndex.DefaultBuckets.toLong)}"
    }
    val frame = IncrementalPostings.phraseBoostSearchFields(spark, root,
      Seq("merge", "sort"), Seq("title" -> 2.0, "body" -> 1.0),
      Seq("merge", "sort"), Seq("title" -> 3.0, "body" -> 1.5))
    // the qf∪pf entries read rides ONE checkpointed pruned-entries frame
    // (round 13) — pin pruning on the frame the checkpoint is built from
    // (the bm25Search pin pattern), and prove the final plan reads NO
    // entry file at all (both tf and positions fed the checkpoint)
    val okBuckets = Set(bucketOf("merge"), bucketOf("sort"))
    val entryFiles = IncrementalPostings.prunedEntries(spark, root,
      Seq("merge", "sort")).inputFiles.filter(_.contains("/entries/"))
    assert(entryFiles.nonEmpty)
    for (f <- entryFiles)
      assert(okBuckets.exists(b => f.contains(s"/$b/")),
        s"pf search read an entry bucket outside the query terms': $f")
    assert(frame.inputFiles.count(_.contains("/entries/")) === 0,
      "pf's final frame re-read the entries instead of the checkpointed read")
    assert(frame.inputFiles.forall(_.contains("/postings/")),
      "pf search must be served from maintained state only")
  }

  test("a query term absent from the index returns empty, and single-field ranked reads fail loudly") {
    val root = newRoot("edge")
    merge(root, FieldDoc("1", 0, "put", "merge sort", "spark rows"))
    // empty hit list: the per-field dl melt must resolve against the docs
    // state's OWN schema (a naive single-field fallback frame lacks the
    // field columns and crashed this with UNRESOLVED_COLUMN)
    assert(IncrementalPostings.bm25SearchFields(spark, root,
      Seq("zzz_absent_term"), Seq("title" -> 2.0, "body" -> 1.0))
      .count() === 0L)
    // ...and so must the boosted term search
    assert(IncrementalPostings.termSearchFields(spark, root,
      Seq("zzz_absent_term"), Seq("title" -> 2.0, "body" -> 1.0)).count() === 0L)
    // guard symmetry with the _fields WRITE marker: a single-field ranked
    // read has no statistics on a multi-field root — loud, not null scores
    val ex = intercept[IllegalStateException] {
      IncrementalPostings.bm25Search(spark, root, Seq("merge")).collect()
    }
    assert(ex.getMessage.contains("multi-field"))
  }

  test("phraseSearch on a fields root witnesses starts WITHIN one field, never across") {
    val root = newRoot("phrase")
    // T: genuine title phrase — but 'beta'@1 ALSO appears in body, so a
    //    field-blind (doc, start) group would count 3 rows ≠ 2 and REJECT
    //    the real match (round-13 ADVICE).
    // F: 'alpha'@1 in title AND body, no 'beta' anywhere — field-blind
    //    counting sees 2 rows at start=1 (== phrase length) and FALSELY
    //    matches; per-field each group has 1 slot and F is excluded.
    // B: phrase genuinely in body only — still a match (any ONE field).
    merge(root,
      FieldDoc("T", 0, "put", "alpha beta", "zeta beta"),
      FieldDoc("F", 1, "put", "pad alpha", "pad alpha"),
      FieldDoc("B", 2, "put", "zeta eta", "alpha beta"))
    val got = IncrementalPostings.phraseSearch(spark, root, Seq("alpha", "beta"))
      .select("rowkey").collect().map(_.getString(0)).toSet
    assert(got === Set("T", "B"),
      "phrase must match per-field: T (title), B (body), never F (cross-field)")
  }

  test("the _fields marker keeps single- and multi-field writers off each other's roots") {
    val root = newRoot("guard")
    merge(root, FieldDoc("1", 0, "put", "merge sort", "spark rows"))
    // a single-field merge would strand title/body postings — refused
    val exS = intercept[java.io.IOException] {
      IncrementalPostings.mergeBatch(spark,
        Seq(("1", 1L, "put", "plain text")).toDF("rowkey", "event_id", "op", "text"),
        root)
    }
    assert(exS.getMessage.contains("_fields"))
    // ... and a multi-field merge with a DIFFERENT field list too
    val exF = intercept[java.io.IOException] {
      IncrementalPostings.mergeBatchFields(spark,
        Seq(("1", 1L, "put", "x", "y", "z"))
          .toDF("rowkey", "event_id", "op", "title", "body", "footer"),
        root, Seq("title", "body", "footer"))
    }
    assert(exF.getMessage.contains("_fields"))
  }
}
