package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.operators.Index
import graft.streaming.IncrementalPostings

/** The incrementally-maintained inverted index must converge to exactly the
  * batch-built `Index.postings` of the final corpus, under puts, updates,
  * deletes, stale replays, and arbitrary chunking — the reference's whole
  * product (HBase mutations kept in sync with the Solr index) as a testable
  * invariant. */
case class DocChange(rowkey: String, event_id: Long, op: String, text: String)

class IncrementalPostingsSpec extends SparkSpec {
  import spark.implicits._

  /** tok -> (doc-id set, df) for comparison independent of array order. */
  private def postingsMap(df: DataFrame): Map[String, (Set[String], Long)] =
    df.collect().map(r => r.getAs[String]("tok") ->
      (r.getSeq[String](1).toSet, r.getAs[Long]("df"))).toMap

  private def expected(finalDocs: Seq[(String, String)]): Map[String, (Set[String], Long)] =
    postingsMap(Index.postings(
      finalDocs.toDF("doc_id", "text").select(col("doc_id"), col("text"))))

  test("puts, updates, deletes, and a stale replay converge to the batch-built postings") {
    val root = Files.createTempDirectory("graft_post").toString + "/postings"
    def merge(changes: DocChange*): Unit =
      IncrementalPostings.mergeBatch(spark, changes.toSeq.toDF(), root)

    merge(
      DocChange("1", 0, "put", "spark merge sort"),
      DocChange("2", 1, "put", "hash join merge"),
      DocChange("3", 2, "put", "scan filter"),
      DocChange("4", 3, "put", "sort spill"))
    merge(
      DocChange("2", 4, "put", "broadcast join"), // update: loses hash/merge
      DocChange("3", 5, "delete", ""),            // delete: all postings go
      DocChange("5", 6, "put", "spark scan"))
    merge(
      DocChange("3", 1, "put", "scan filter")) // stale put below the tombstone

    val got = postingsMap(IncrementalPostings.postings(spark, root))
    val want = expected(Seq(
      "1" -> "spark merge sort", "2" -> "broadcast join",
      "4" -> "sort spill", "5" -> "spark scan"))
    assert(got === want)
    assert(!got.contains("filter")) // doc 3 stayed dead
    assert(got("merge") === (Set("1"), 1L)) // doc 2's old tokens were removed
  }

  test("chunked merges over the fixture corpus equal the batch-built postings") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id").cast("string").as("rowkey"),
        col("doc_id").as("event_id"), lit("put").as("op"), col("text"))
    val root = Files.createTempDirectory("graft_postF").toString + "/postings"
    IncrementalPostings.mergeBatch(spark, docs.filter(col("event_id") < 25), root)
    IncrementalPostings.mergeBatch(spark, docs.filter(col("event_id") >= 25), root)
    val got = postingsMap(IncrementalPostings.postings(spark, root))
    val want = postingsMap(Index.postings(
      Tables.documents(spark, "/root/testdata/sf0.001")
        .select(col("doc_id").cast("string").as("doc_id"), col("text"))))
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("an empty micro-batch leaves the postings state unchanged") {
    val root = Files.createTempDirectory("graft_postE").toString + "/postings"
    IncrementalPostings.mergeBatch(spark,
      Seq(DocChange("1", 0, "put", "alpha beta")).toDF(), root)
    val before = postingsMap(IncrementalPostings.postings(spark, root))
    IncrementalPostings.mergeBatch(spark,
      Seq.empty[DocChange].toDF(), root)
    assert(postingsMap(IncrementalPostings.postings(spark, root)) === before)
  }

  test("replaying the same micro-batch is a no-op (double anti-join idempotency)") {
    // Per-bucket commits are prefix-atomic, so a checkpoint replay can hit
    // ANY partially-promoted state; the strongest observable form is a full
    // replay against the fully-promoted state — content must not change
    // (in particular, additions must not duplicate).
    val root = Files.createTempDirectory("graft_postR").toString + "/postings"
    IncrementalPostings.mergeBatch(spark, Seq(
      DocChange("1", 0, "put", "alpha beta"),
      DocChange("2", 1, "put", "beta gamma")).toDF(), root)
    val batch2 = Seq(
      DocChange("1", 2, "put", "alpha zeta"), // update: loses beta
      DocChange("3", 3, "put", "gamma beta"))
    IncrementalPostings.mergeBatch(spark, batch2.toDF(), root)
    val once = postingsMap(IncrementalPostings.postings(spark, root))
    IncrementalPostings.mergeBatch(spark, batch2.toDF(), root) // replay
    assert(postingsMap(IncrementalPostings.postings(spark, root)) === once)
    assert(once("beta") === (Set("2", "3"), 2L))
  }

  private def tokBucket(s: String): String = {
    val crc = new java.util.zip.CRC32()
    crc.update(s.getBytes("UTF-8"))
    "b=" + java.lang.Math.floorMod(crc.getValue,
      graft.streaming.IncrementalIndex.DefaultBuckets.toLong)
  }

  private def snapshotDirs(base: String): Map[String, Map[String, Long]] = {
    val root = new java.io.File(base)
    if (!root.exists()) Map.empty
    else root.listFiles().filter(d => d.getName.startsWith("b=") && d.isDirectory)
      .map(d => d.getName ->
        d.listFiles().filter(_.isFile).map(f => f.getName -> f.length()).toMap)
      .toMap
  }

  test("a merge rewrites only the entry buckets its delta tokens hash to") {
    val root = Files.createTempDirectory("graft_postD").toString + "/postings"
    IncrementalPostings.mergeBatch(spark, Seq(
      DocChange("1", 0, "put", "alpha beta"),
      DocChange("2", 1, "put", "gamma delta")).toDF(), root)
    val before = snapshotDirs(root + "/entries")
    // update doc 2: delta tokens = {gamma, delta (removals), zeta (addition)}
    IncrementalPostings.mergeBatch(spark, Seq(
      DocChange("2", 2, "put", "gamma zeta")).toDF(), root)
    val after = snapshotDirs(root + "/entries")
    val touched = Set("gamma", "delta", "zeta").map(tokBucket)
    for (d <- before.keySet if !touched.contains(d))
      assert(before(d) === after(d), s"entry bucket $d outside the delta was rewritten")
    // sanity: the delta really did land
    val got = postingsMap(IncrementalPostings.postings(spark, root))
    assert(got("zeta") === (Set("2"), 1L) && !got.contains("delta"))
  }

  test("replay converges from the exact crash state between the two commits") {
    // The protocol's central claim: entries commit BEFORE docs, so a crash
    // between them leaves new entries over old docs — and replaying the
    // checkpointed batch from that state must land exactly where the
    // uninterrupted merge landed. Constructed literally: graft the
    // post-batch2 entries onto the pre-batch2 docs, then replay batch2.
    val base = Files.createTempDirectory("graft_postX").toString
    val batch1 = Seq(
      DocChange("1", 0, "put", "alpha beta"),
      DocChange("2", 1, "put", "beta gamma"))
    val batch2 = Seq(
      DocChange("1", 2, "put", "alpha zeta"), // update: beta leaves doc 1
      DocChange("2", 3, "delete", ""),
      DocChange("3", 4, "put", "gamma beta"))
    val full = s"$base/full"
    IncrementalPostings.mergeBatch(spark, batch1.toDF(), full)
    val crash = s"$base/crash"
    copyDir(full, crash) // snapshot the pre-batch2 state
    IncrementalPostings.mergeBatch(spark, batch2.toDF(), full)
    // crash state: batch2's entries promoted, docs still pre-batch2
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$crash/entries"))
    copyDir(s"$full/entries", s"$crash/entries")
    IncrementalPostings.mergeBatch(spark, batch2.toDF(), crash) // the replay
    assert(postingsMap(IncrementalPostings.postings(spark, crash)) ===
      postingsMap(IncrementalPostings.postings(spark, full)))
    def docs(root: String): Map[String, String] =
      IncrementalPostings.docsState(spark, root).collect()
        .map(r => r.getAs[String]("rowkey") -> r.getAs[String]("text")).toMap
    assert(docs(crash) === docs(full))
    assert(docs(crash) === Map("1" -> "alpha zeta", "3" -> "gamma beta"))
  }

  test("replay heals a crash between the docs commit and the stats sidecar commit") {
    // dstats commits LAST: a crash after docs promoted but before stats
    // leaves the sidecar one batch behind. The checkpointed replay
    // recomputes the touched buckets' stats from the (already-new) docs —
    // pure function of bucket content, so the sidecar lands exactly where
    // the uninterrupted merge landed.
    val base = Files.createTempDirectory("graft_postSt").toString
    val batch1 = Seq(
      DocChange("1", 0, "put", "alpha beta gamma"),
      DocChange("2", 1, "put", "delta epsilon"))
    val batch2 = Seq(
      DocChange("1", 2, "put", "alpha zeta eta theta iota"), // longer: dl changes
      DocChange("3", 3, "delete", ""),
      DocChange("4", 4, "put", "kappa lambda"))
    val full = s"$base/full"
    IncrementalPostings.mergeBatch(spark, batch1.toDF(), full)
    val crash = s"$base/crash"
    copyDir(full, crash)
    IncrementalPostings.mergeBatch(spark, batch2.toDF(), full)
    // crash state: batch2's entries AND docs promoted, dstats still old
    for (sub <- Seq("entries", "docs")) {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$crash/$sub"))
      copyDir(s"$full/$sub", s"$crash/$sub")
    }
    def stats(root: String): (Long, Double) = {
      val r = IncrementalPostings.docStats(spark, root).head()
      (r.getLong(0), r.getDouble(1))
    }
    assert(stats(crash) !== stats(full), "fixture degenerate: stats unchanged by batch2")
    IncrementalPostings.mergeBatch(spark, batch2.toDF(), crash) // the replay
    assert(stats(crash) === stats(full))
    assert(stats(full)._1 === 3L) // docs 1, 2, 4 live
  }

  test("replay converges from a partially-promoted entries commit") {
    // Within the entries commit itself, per-bucket swaps are sequential:
    // a crash mid-sequence leaves SOME entry buckets new and the rest old
    // (docs all old). The double anti-join must make the replay land
    // identically regardless of which prefix was promoted.
    val base = Files.createTempDirectory("graft_postY").toString
    val batch1 = Seq(
      DocChange("1", 0, "put", "alpha beta gamma delta"),
      DocChange("2", 1, "put", "beta gamma epsilon"))
    val batch2 = Seq(
      DocChange("1", 2, "put", "alpha zeta eta"),
      DocChange("3", 3, "put", "gamma theta"))
    val full = s"$base/full"
    IncrementalPostings.mergeBatch(spark, batch1.toDF(), full)
    val crash = s"$base/crash"
    copyDir(full, crash)
    IncrementalPostings.mergeBatch(spark, batch2.toDF(), full)
    // promote exactly one of the entry buckets batch2 actually CHANGED —
    // a bucket with identical bytes pre/post would degenerate this test
    // to a plain replay over fully-old state
    def fileSet(d: String): Set[(String, Long)] = {
      val f = new java.io.File(d)
      if (!f.exists()) Set.empty
      else f.listFiles().filter(_.isFile).map(x => (x.getName, x.length())).toSet
    }
    val promoted = new java.io.File(s"$full/entries").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("b="))
      .map(_.getName)
      .find(d => fileSet(s"$full/entries/$d") != fileSet(s"$crash/entries/$d"))
      .getOrElse(fail("batch2 changed no entry bucket — fixture is degenerate"))
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$crash/entries/$promoted"))
    copyDir(s"$full/entries/$promoted", s"$crash/entries/$promoted")
    IncrementalPostings.mergeBatch(spark, batch2.toDF(), crash) // the replay
    assert(postingsMap(IncrementalPostings.postings(spark, crash)) ===
      postingsMap(IncrementalPostings.postings(spark, full)))
  }

  test("termSearch answers from the maintained state: intersection + live fetch") {
    val root = Files.createTempDirectory("graft_postQ").toString + "/postings"
    IncrementalPostings.mergeBatch(spark, Seq(
      DocChange("1", 0, "put", "spark merge sort"),
      DocChange("2", 1, "put", "spark hash join"),
      DocChange("3", 2, "put", "merge only here")).toDF(), root)
    def hits(terms: String*): Set[String] =
      IncrementalPostings.termSearch(spark, root, terms.toSeq)
        .select("rowkey").collect().map(_.getString(0)).toSet
    assert(hits("spark") === Set("1", "2"))
    assert(hits("spark", "merge") === Set("1")) // AND intersection
    assert(hits("spark", "spark") === Set("1", "2")) // duplicate terms collapse
    assert(hits("absent") === Set.empty)
    // querying a root that was never merged is empty, not an error
    val fresh = Files.createTempDirectory("graft_postQ0").toString + "/p"
    assert(IncrementalPostings.termSearch(spark, fresh, Seq("x")).count() === 0L)
    // a delete drops the doc from BOTH the hit list and the fetch
    IncrementalPostings.mergeBatch(spark,
      Seq(DocChange("1", 3, "delete", "")).toDF(), root)
    assert(hits("spark") === Set("2"))
    assert(hits("spark", "merge") === Set.empty)
  }

  test("a CJK analyzer threads through the incremental merge (bigram postings)") {
    import graft.operators.Analyzer
    val root = Files.createTempDirectory("graft_postZ").toString + "/postings"
    def merge(changes: DocChange*): Unit =
      IncrementalPostings.mergeBatch(spark, changes.toSeq.toDF(), root,
        tokenize = Analyzer.Cjk.tokens)
    merge(
      DocChange("1", 0, "put", "我爱北京"),
      DocChange("2", 1, "put", "北京欢迎"))
    merge(DocChange("1", 2, "put", "我爱上海")) // update: loses 爱北/北京
    val got = postingsMap(IncrementalPostings.postings(spark, root))
    val want = postingsMap(Index.postings(
      Seq(("1", "我爱上海"), ("2", "北京欢迎")).toDF("doc_id", "text"),
      Analyzer.Cjk))
    assert(got === want)
    assert(got("北京") === (Set("2"), 1L)) // doc 1's old bigrams were removed
    assert(got.contains("上海"))
    // the maintained-state CJK term search: the query bigram hits the
    // maintained posting list, then fetches the live row — no corpus scan
    def hits(term: String): Set[String] =
      IncrementalPostings.termSearch(spark, root, Seq(term))
        .select("rowkey").collect().map(_.getString(0)).toSet
    assert(hits("北京") === Set("2"))
    assert(hits("上海") === Set("1"))
    assert(hits("爱北") === Set.empty) // doc 1's pre-update bigram stays dead
  }

  test("suggest and spellCorrect rank by OCCURRENCE count — parity with the corpus-scoped suggester") {
    val corpus = Seq(
      ("1", "spark merge sort"), ("2", "spark spill merge"),
      ("3", "scan filter"), ("4", "spill spill spill"))
    val root = Files.createTempDirectory("graft_postV").toString + "/postings"
    IncrementalPostings.mergeBatch(spark, corpus.zipWithIndex.map {
      case ((id, t), i) => DocChange(id, i.toLong, "put", t) }.toDF(), root)
    def sugg(prefix: String): Seq[(String, Long)] =
      IncrementalPostings.suggest(spark, root, prefix)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    // occurrence-ranked: 'spill' (4 occurrences over 2 docs) outranks
    // 'spark' (2 over 2) — document-frequency ranking would tie them
    assert(sugg("sp") === Seq("spill" -> 4L, "spark" -> 2L))
    assert(sugg("zz").isEmpty)
    // parity: the corpus-scoped suggester (materialized postings' n) over
    // the SAME corpus returns the identical ranking
    val viaCorpusPostings = Index.postings(corpus.toDF("doc_id", "text"))
      .filter(col("tok").startsWith("sp"))
      .select(col("tok"), col("n"))
      .orderBy(col("n").desc, col("tok"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(sugg("sp") === viaCorpusPostings)
    val spell = IncrementalPostings.spellCorrect(spark, root, "spork")
      .collect().map(_.getString(0)).toSeq
    assert(spell === Seq("spark")) // edit distance 1; 'sort'/'spill' are further
    // vocabulary follows deletes: doc 4's occurrences vanish, doc 2 keeps
    // spill at 1 — and the ranking reorders accordingly
    IncrementalPostings.mergeBatch(spark,
      Seq(DocChange("4", 9, "delete", "")).toDF(), root)
    assert(sugg("sp") === Seq("spark" -> 2L, "spill" -> 1L))
  }

  test("maintained BM25 equals the corpus-scoped ranking on converged state; stats are a sidecar read") {
    val fixtureDir = "/root/testdata/sf0.001"
    val root = Files.createTempDirectory("graft_postB").toString + "/postings"
    val changes = Tables.documents(spark, fixtureDir)
      .select(col("doc_id").cast("string").as("rowkey"),
        col("doc_id").as("event_id"), lit("put").as("op"), col("text"))
    // chunked puts, then an update and a delete: the stats sidecar and the
    // tf-carrying entries must track all three mutation kinds
    IncrementalPostings.mergeBatch(spark, changes.filter(col("event_id") < 25), root)
    IncrementalPostings.mergeBatch(spark, changes.filter(col("event_id") >= 25), root)
    val updText = "merge sort merge shuffle"
    IncrementalPostings.mergeBatch(spark, Seq(
      DocChange("3", 1000, "put", updText),
      DocChange("7", 1001, "delete", "")).toDF(), root)
    // the converged corpus, as a plain DataFrame
    val fin = Tables.documents(spark, fixtureDir)
      .filter(col("doc_id") =!= 7L)
      .select(col("doc_id").cast("string").as("doc_id"),
        when(col("doc_id") === 3L, lit(updText)).otherwise(col("text")).as("text"))
    // corpus-level stats come from the per-bucket sidecar and match the
    // direct aggregate over the converged corpus
    val gotStats = IncrementalPostings.docStats(spark, root).head()
    val wantStats = fin.agg(count(lit(1)),
      avg(size(split(col("text"), " ")))).head()
    assert(gotStats.getLong(0) === wantStats.getLong(0))
    assert(math.abs(gotStats.getDouble(1) - wantStats.getDouble(1)) < 1e-12)
    // maintained BM25 == the corpus-scoped pipeline (same formula over the
    // batch-built postings of the converged corpus), rank for rank
    val maintained = IncrementalPostings.bm25Search(spark, root, Seq("merge", "sort"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toSeq
    val p = Index.postings(fin).filter(col("tok").isin("merge", "sort"))
      .select(col("df"), explode(col("hits")).as("h"))
      .select(col("h.doc_id").as("doc_id"), col("h.tf").as("tf"), col("df"))
    val lens = fin.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("dl"))
    val stats = lens.agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
    val expected = lens.join(p, "doc_id").crossJoin(stats)
      .withColumn("contrib",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
          (lit(2.2) * col("tf")) /
          (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
      .groupBy("doc_id")
      .agg(round(sum(col("contrib")), 4).as("score"))
      .orderBy(col("score").desc, col("doc_id")).limit(20)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toSeq
    assert(maintained === expected)
    assert(maintained.nonEmpty)
    // the updated doc's doubled 'merge' tf is visible; the deleted doc is not
    assert(maintained.map(_._1).contains("3"))
    assert(!maintained.map(_._1).contains("7"))
    // tf-idf from the same maintained surfaces equals the corpus-scoped
    // formula over the converged corpus
    val mTfidf = IncrementalPostings.tfidfSearch(spark, root, Seq("merge", "sort"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toSeq
    val eTfidf = p.crossJoin(stats.select("n_docs"))
      .groupBy("doc_id")
      .agg(round(sum(col("tf") * log(col("n_docs") / col("df"))), 4).as("score"))
      .orderBy(col("score").desc, col("doc_id")).limit(20)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toSeq
    assert(mTfidf === eTfidf && mTfidf.nonEmpty)
    // more-like-this: seed terms key-fetched, overlap from pruned entries
    val mMlt = IncrementalPostings.moreLikeThis(spark, root, "0")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    val toks = fin.select(col("doc_id"),
      explode(array_distinct(split(col("text"), " "))).as("tok"))
    val seed = toks.filter(col("doc_id") === "0").select("tok")
    val eMlt = toks.join(seed, "tok").filter(col("doc_id") =!= "0")
      .groupBy("doc_id").agg(count(lit(1)).as("overlap"))
      .orderBy(col("overlap").desc, col("doc_id")).limit(10)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(mMlt === eMlt && mMlt.nonEmpty)
    // MLT of a deleted seed is empty, not an error
    assert(IncrementalPostings.moreLikeThis(spark, root, "7").count() === 0L)
    // the entries read behind the ranking opened only the query terms'
    // buckets — checked on the posting-rows frame the ranking collects;
    // the ranked answer itself is assembled on the driver, so its frame
    // reads no file at all
    val entryFiles = IncrementalPostings.postingRows(spark, root,
        Seq("merge", "sort"))
      .inputFiles.filter(_.contains("/entries/"))
    def bucketOf(key: String): String = {
      val crc = new java.util.zip.CRC32()
      crc.update(key.getBytes("UTF-8"))
      s"b=${java.lang.Math.floorMod(crc.getValue, graft.streaming.IncrementalIndex.DefaultBuckets.toLong)}"
    }
    val wanted = Set("merge", "sort").map(bucketOf)
    assert(entryFiles.nonEmpty)
    for (f <- entryFiles)
      assert(wanted.exists(b => f.contains(s"/$b/")),
        s"bm25 read an entry bucket outside the query terms': $f")
    assert(IncrementalPostings.bm25Search(spark, root, Seq("merge", "sort"))
      .inputFiles.isEmpty,
      "bm25's answer re-reads state instead of ranking its collected rows")
    // ... and the length fetch opened only the HIT docs' buckets
    val hitDocs = fin
      .filter(array_contains(split(col("text"), " "), "merge") ||
        array_contains(split(col("text"), " "), "sort"))
      .select("doc_id").collect().map(_.getString(0))
    assert(hitDocs.nonEmpty)
    val wantedDocB = hitDocs.map(bucketOf).toSet
    val docFiles = IncrementalPostings.lengthFetch(spark, root, hitDocs.toSet)
      .inputFiles.filter(_.contains("/docs/"))
    assert(docFiles.nonEmpty)
    for (f <- docFiles)
      assert(wantedDocB.exists(b => f.contains(s"/$b/")),
        s"bm25 fetched a doc bucket outside the hits': $f")
  }

  test("bucket files are clustered by their read key (entries by tok, docs by rowkey)") {
    // The sorted-term-dictionary property: within every written file, rows
    // are ordered by the key term/rowkey predicates push down on, so
    // parquet page statistics can skip the pages outside a query key's
    // range instead of decoding the whole bucket.
    val root = Files.createTempDirectory("graft_postO").toString + "/postings"
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id").cast("string").as("rowkey"),
        col("doc_id").as("event_id"), lit("put").as("op"), col("text"))
    IncrementalPostings.mergeBatch(spark, docs, root)
    def assertClustered(sub: String, key: String): Unit = {
      val dirs = graft.streaming.StateStore.liveBuckets(spark, s"$root/$sub")
      assert(dirs.nonEmpty)
      val rows = spark.read.parquet(dirs.map(d => s"$root/$sub/$d"): _*)
        .select(col(key), input_file_name().as("f"))
        .collect().map(r => (r.getString(0), r.getString(1)))
      assert(rows.length > 10)
      for ((f, rs) <- rows.groupBy(_._2)) {
        val ks = rs.map(_._1).toSeq
        assert(ks === ks.sorted, s"$sub file $f is not clustered by $key")
      }
    }
    assertClustered("entries", "tok")
    assertClustered("docs", "rowkey")
  }

  test("tombstone GC rewrites only expired doc buckets; entries and termSearch unchanged") {
    val root = Files.createTempDirectory("graft_postG").toString + "/postings"
    IncrementalPostings.mergeBatch(spark, Seq(
      DocChange("1", 0, "put", "spark merge sort"),
      DocChange("2", 1, "put", "spark hash join"),
      DocChange("3", 2, "put", "merge only here")).toDF(), root)
    IncrementalPostings.mergeBatch(spark,
      Seq(DocChange("2", 3, "delete", "")).toDF(), root)
    val docsBefore = snapshotDirs(root + "/docs")
    val entriesBefore = snapshotDirs(root + "/entries")
    def rawOps(): Map[String, String] = // the persisted docs state, tombstones included
      spark.read.parquet(graft.streaming.StateStore
          .liveBuckets(spark, root + "/docs").map(d => s"$root/docs/$d"): _*)
        .collect().map(r => r.getAs[String]("rowkey") -> r.getAs[String]("op")).toMap
    assert(rawOps()("2") === "delete")

    // horizon AT the tombstone's event_id: not yet expired (strict <) — no-op
    IncrementalPostings.gcTombstones(spark, root, horizonEventId = 3)
    assert(snapshotDirs(root + "/docs") === docsBefore)

    // horizon past the tombstone: it is dropped from the docs state...
    IncrementalPostings.gcTombstones(spark, root, horizonEventId = 4)
    assert(!rawOps().contains("2"))
    // ...rewriting ONLY the bucket the tombstone's rowkey hashes to...
    val tombBucket = tokBucket("2") // same crc32-of-UTF-8 bucketing as rowkeys
    val docsAfter = snapshotDirs(root + "/docs")
    for (d <- docsBefore.keySet if d != tombBucket)
      assert(docsBefore(d) === docsAfter(d), s"doc bucket $d without tombstones was rewritten")
    // ...and never opening an entry bucket (deletes left the entries at merge time)
    assert(snapshotDirs(root + "/entries") === entriesBefore)
    def hits(terms: String*): Set[String] =
      IncrementalPostings.termSearch(spark, root, terms.toSeq)
        .select("rowkey").collect().map(_.getString(0)).toSet
    assert(hits("spark") === Set("1"))
    assert(hits("merge") === Set("1", "3"))
  }

  test("streaming foreachBatch maintains the postings across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[DocChange]
    val root = Files.createTempDirectory("graft_postS").toString + "/postings"
    val checkpoint = Files.createTempDirectory("graft_postC").toString
    val query = IncrementalPostings.start(
      source.toDF(), root, checkpoint, intervalSeconds = 1)
    try {
      source.addData(DocChange("a", 0, "put", "alpha beta"), DocChange("b", 1, "put", "beta gamma"))
      query.processAllAvailable()
      assert(postingsMap(IncrementalPostings.postings(spark, root)) ===
        expected(Seq("a" -> "alpha beta", "b" -> "beta gamma")))

      source.addData(DocChange("a", 2, "delete", ""), DocChange("c", 3, "put", "alpha delta"))
      query.processAllAvailable()
      assert(postingsMap(IncrementalPostings.postings(spark, root)) ===
        expected(Seq("b" -> "beta gamma", "c" -> "alpha delta")))
    } finally query.stop()
  }

  test("phraseSearch: position adjacency over maintained state, through puts, updates, deletes") {
    val root = Files.createTempDirectory("graft_postPh").toString + "/postings"
    IncrementalPostings.mergeBatch(spark, Seq(
      DocChange("1", 0, "put", "quick merge sort pass"),
      DocChange("2", 1, "put", "merge then sort"), // both terms, not adjacent
      DocChange("3", 2, "put", "sort merge sort merge sort"),
      DocChange("4", 3, "put", "merge sort merge sort")).toDF(), root)
    def hits(phrase: String*): Set[String] =
      IncrementalPostings.phraseSearch(spark, root, phrase.toSeq)
        .select("rowkey").collect().map(_.getString(0)).toSet
    assert(hits("merge", "sort") === Set("1", "3", "4"))
    // a three-term phrase, with the first term repeated
    assert(hits("merge", "sort", "merge") === Set("3", "4"))
    // repeated-term phrase requires two DISTINCT adjacent positions — a
    // slot-count that double-counted one occurrence would match doc 1
    assert(hits("sort", "sort") === Set.empty)
    assert(hits("merge") === Set("1", "2", "3", "4")) // 1-term phrase = term query
    assert(hits("absent", "merge") === Set.empty)
    // an update retires the doc's old adjacencies and adds its new ones; a
    // delete drops the doc from phrase hits entirely
    IncrementalPostings.mergeBatch(spark, Seq(
      DocChange("1", 10, "put", "quick sort merge pass"),
      DocChange("4", 11, "delete", "")).toDF(), root)
    assert(hits("merge", "sort") === Set("3"))
    assert(hits("sort", "merge") === Set("1", "3"))
  }

  test("highlight: 1-based positions from maintained entries, through puts, updates, deletes") {
    val root = Files.createTempDirectory("graft_postHl").toString + "/postings"
    IncrementalPostings.mergeBatch(spark, Seq(
      DocChange("1", 0, "put", "merge the merge pass"),
      DocChange("2", 1, "put", "no hits here"),
      DocChange("3", 2, "put", "merge first")).toDF(), root)
    def hl(): Map[String, (String, Long)] =
      IncrementalPostings.highlight(spark, root, "merge")
        .collect().map(r => r.getString(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(hl() === Map("1" -> ("1,3", 2L), "3" -> ("1", 1L)))
    // an update replaces the doc's positions; a delete drops the doc
    IncrementalPostings.mergeBatch(spark, Seq(
      DocChange("1", 10, "put", "now merge last"),
      DocChange("3", 11, "delete", "")).toDF(), root)
    assert(hl() === Map("1" -> ("2", 1L)))
    // the read opened only the term's entry bucket
    val files = IncrementalPostings.highlight(spark, root, "merge").inputFiles
    val crc = new java.util.zip.CRC32()
    crc.update("merge".getBytes("UTF-8"))
    val b = s"b=${java.lang.Math.floorMod(crc.getValue, graft.streaming.IncrementalIndex.DefaultBuckets.toLong)}"
    assert(files.nonEmpty && files.forall(f => f.contains(s"/entries/") && f.contains(s"/$b/")), files.mkString("\n"))
  }

  test("fuzzySearch: vocabulary expansion over maintained state, through deletes") {
    val root = Files.createTempDirectory("graft_postFz").toString + "/postings"
    IncrementalPostings.mergeBatch(spark, Seq(
      DocChange("1", 0, "put", "merge conflict resolved"),
      DocChange("2", 1, "put", "marge likes donuts"),
      DocChange("3", 2, "put", "nothing related at all")).toDF(), root)
    def hits(): Set[String] =
      IncrementalPostings.fuzzySearch(spark, root, "merge", maxEdits = 1)
        .select("rowkey").collect().map(_.getString(0)).toSet
    assert(hits() === Set("1", "2")) // 'merge' exact + 'marge' at distance 1
    IncrementalPostings.mergeBatch(spark, Seq(
      DocChange("2", 10, "delete", "")).toDF(), root)
    assert(hits() === Set("1"))
  }

  test("phraseSearch equals the corpus-scoped padded-contains form; reads stay bucket-pruned") {
    val fixtureDir = "/root/testdata/sf0.001"
    val root = Files.createTempDirectory("graft_postPc").toString + "/postings"
    IncrementalPostings.mergeBatch(spark,
      Tables.documents(spark, fixtureDir)
        .select(col("doc_id").cast("string").as("rowkey"),
          col("doc_id").as("event_id"), lit("put").as("op"), col("text")), root)
    val got = IncrementalPostings.phraseSearch(spark, root, Seq("merge", "sort"))
      .select("rowkey").collect().map(_.getString(0)).toSet
    // whitespace analyzer: position adjacency ≡ substring containment of
    // the space-joined phrase in the space-padded text (q_phrase_search)
    val want = Tables.documents(spark, fixtureDir)
      .filter(concat(lit(" "), col("text"), lit(" ")).contains(" merge sort "))
      .select(col("doc_id").cast("string"))
      .collect().map(_.getString(0)).toSet
    assert(got === want)
    assert(got.nonEmpty)
    // the entries read opened only the phrase terms' buckets; the fetch
    // opened only the hit docs' buckets — no corpus scan anywhere
    def bucketOf(key: String): String = {
      val crc = new java.util.zip.CRC32()
      crc.update(key.getBytes("UTF-8"))
      s"b=${java.lang.Math.floorMod(crc.getValue, graft.streaming.IncrementalIndex.DefaultBuckets.toLong)}"
    }
    // the entries are collected by the read (positionRows); the returned
    // frame is the lazy keyed fetch and reads docs only
    val frame = IncrementalPostings.phraseSearch(spark, root, Seq("merge", "sort"))
    assert(!frame.inputFiles.exists(_.contains("/entries/")),
      "phraseSearch's returned frame re-reads the entries it collected")
    val entryFiles = IncrementalPostings.positionRows(spark, root, Seq("merge", "sort"))
      .inputFiles.filter(_.contains("/entries/"))
    val wantedTokB = Set("merge", "sort").map(bucketOf)
    assert(entryFiles.nonEmpty)
    for (f <- entryFiles)
      assert(wantedTokB.exists(b => f.contains(s"/$b/")),
        s"phraseSearch read an entry bucket outside the phrase terms': $f")
    val docFiles = frame.inputFiles.filter(_.contains("/docs/"))
    val wantedDocB = want.map(bucketOf)
    assert(docFiles.nonEmpty)
    for (f <- docFiles)
      assert(wantedDocB.exists(b => f.contains(s"/$b/")),
        s"phraseSearch fetched a doc bucket outside the hits': $f")
  }

  test("phraseSearch fails loudly on positions-free rows instead of silently missing docs") {
    val root = Files.createTempDirectory("graft_postPn").toString + "/postings"
    // a keepPositions=false root (the shingle family's setting) stores NULL
    IncrementalPostings.mergeBatch(spark,
      Seq(DocChange("1", 0, "put", "merge sort")).toDF(), root,
      keepPositions = false)
    val ex = intercept[Exception] {
      IncrementalPostings.phraseSearch(spark, root, Seq("merge", "sort")).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("no position payload")))
  }

  test("a named tokenizer pins the root; a different name fails loudly, anonymous merges don't validate") {
    val root = Files.createTempDirectory("graft_postT").toString + "/postings"
    def merge(name: Option[String], changes: DocChange*): Unit =
      IncrementalPostings.mergeBatch(spark, changes.toSeq.toDF(), root,
        tokenizerName = name)
    merge(Some("whitespace"), DocChange("1", 0, "put", "alpha beta"))
    // same name: fine; different name: the silent-corruption guard —
    // removals re-tokenize old text, so mixed tokenizers strand entries
    merge(Some("whitespace"), DocChange("2", 1, "put", "gamma delta"))
    intercept[java.io.IOException] {
      merge(Some("cjk"), DocChange("3", 2, "put", "epsilon"))
    }
    // an anonymous merge can't be checked — documented as unvalidated
    merge(None, DocChange("4", 3, "put", "zeta eta"))
    assert(postingsMap(IncrementalPostings.postings(spark, root)) ===
      expected(Seq("1" -> "alpha beta", "2" -> "gamma delta", "4" -> "zeta eta")))
  }

  test("positions payload never inflates position-free hot reads: ReadSchema + bytes-read pins") {
    // Round-8 added the positions payload to every entries row; the hot
    // reads that do NOT need it (term/BM25 search — the online-probe
    // family's shape) must provably not pay for it. Two pins: (a) the
    // entries scans behind a term search prune the positions column out
    // of their required schema, and (b) the BYTES actually read from a
    // positions-carrying root are within noise of the same search over a
    // positions-free root — so payload growth can never silently inflate
    // the maintained hot reads again.
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id").cast("string").as("rowkey"),
        col("doc_id").as("event_id"), lit("put").as("op"), col("text"))
    val withPos = Files.createTempDirectory("graft_postBy").toString + "/postings"
    val noPos = Files.createTempDirectory("graft_postBy0").toString + "/postings"
    IncrementalPostings.mergeBatch(spark, docs, withPos)
    IncrementalPostings.mergeBatch(spark, docs, noPos, keepPositions = false)

    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case _ => p +: p.children.flatMap(nodes)
    }
    def entrySchemas(df: org.apache.spark.sql.DataFrame): Seq[Seq[String]] = {
      df.collect() // AQE finalizes the plan on execution
      nodes(df.queryExecution.executedPlan).collect {
        case sc: FileSourceScanExec
            if sc.relation.location.rootPaths.exists(_.toString.contains("/entries")) =>
          sc.requiredSchema.fieldNames.toSeq
      }
    }
    // pinned on the entry frames the reads collect: postingRows behind
    // term/bm25/tfidf, positionRows behind phrase
    val termSchemas = entrySchemas(
      IncrementalPostings.postingRows(spark, withPos, Seq("merge", "sort")))
    assert(termSchemas.nonEmpty)
    for (sch <- termSchemas)
      assert(!sch.contains("positions"),
        s"term search reads the positions payload it does not use: $sch")
    // the phrase read is the one consumer that must keep the column
    val phraseSchemas = entrySchemas(
      IncrementalPostings.positionRows(spark, withPos, Seq("merge", "sort")))
    assert(phraseSchemas.exists(_.contains("positions")), phraseSchemas.toString)

    // runtime proof: read()-syscall deltas via SpecMetrics — the task-end
    // inputMetrics counter sees only footer reads for local parquet (data
    // pages bypass it), which made the original listener-based form of
    // this pin pass vacuously
    def run(root: String): Long = SpecMetrics.fsBytesRead {
      IncrementalPostings.termSearch(spark, root, Seq("merge", "sort")).collect(): Unit
    }
    run(withPos) // warm both code paths once so JIT/footer caching is equal
    run(noPos)
    val bPos = run(withPos)
    val bNo = run(noPos)
    assert(bPos <= bNo * 3 / 2 + (256 << 10),
      s"positions root term search read $bPos bytes vs $bNo on the " +
        "positions-free root — the payload is inflating position-free reads")
    // non-vacuousness guard for the pin: the measurement must see the
    // term search read SOMETHING — a blind counter would make the ratio
    // pin pass with 0 ≤ 0
    assert(bNo > 0,
      "the bytes measurement saw zero reads for a real term search — " +
        "the pin above is blind")
    // positive control — prove the payload the pin is about is physically
    // there to be read: the parquet footers of the positions root's entry
    // files must carry a nonzero positions column chunk, and the
    // positions-free root none. DETERMINISTIC (file metadata, no
    // process-wide counters): the previous form compared process-wide
    // read-syscall deltas of a wide vs narrow collect, and under the
    // full-suite parallel run concurrent suites' I/O polluted the deltas
    // and inverted it (round-15 verdict #1 — flaked in CI, green in
    // isolation). The footer numbers are what that delta was trying to
    // observe.
    import scala.jdk.CollectionConverters._
    def positionsChunkBytes(root: String): Long = {
      val conf = spark.sessionState.newHadoopConf()
      val files = java.nio.file.Files.walk(java.nio.file.Paths.get(root, "entries"))
        .iterator().asScala
        .filter(_.toString.endsWith(".parquet")).toSeq
      assert(files.nonEmpty, s"no entry files under $root/entries")
      files.map { p =>
        val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(p.toString), conf))
        try rdr.getFooter.getBlocks.asScala
          .flatMap(_.getColumns.asScala)
          .filter(_.getPath.toDotString.startsWith("positions"))
          .map(_.getTotalSize).sum
        finally rdr.close()
      }.sum
    }
    val posWith = positionsChunkBytes(withPos)
    // keepPositions = false stores NULL positions, so the column chunk
    // still exists on the positions-free root — but it is definition
    // levels only. The real payload must dominate it by a wide margin,
    // or the pin above is guarding a column too small to matter.
    val posNull = positionsChunkBytes(noPos)
    assert(posWith > 4 * posNull && posWith > posNull + 1024,
      s"control failed: the positions root's footer mass ($posWith bytes) " +
        s"does not dominate the all-NULL root's ($posNull bytes) — the " +
        "payload the pin above guards against is not physically present, " +
        "so the pin is vacuous")
  }

  test("bm25SearchGroups: singleton groups ≡ bm25Search; a synonym group sums tf, maxes df") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_postGrp").toString + "/postings"
    IncrementalPostings.mergeBatch(spark, Seq(
      DocChange("1", 0, "put", "quick quick brown fox"),
      DocChange("2", 1, "put", "fast merge path"),
      DocChange("3", 2, "put", "quick fast fast sort"),
      DocChange("4", 3, "put", "plain words no match")).toDF(), root)
    // degenerate form: singleton groups are exactly the plain multi-term
    // ranked retrieval (AND of pseudo-terms with their own df)
    val singleton = IncrementalPostings
      .bm25SearchGroups(spark, root, Seq(Seq("quick"), Seq("merge")))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    val plain = IncrementalPostings.bm25Search(spark, root, Seq("quick", "merge"))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(singleton === plain)
    // synonym group {quick, fast}: one pseudo-term. Doc 3 carries group
    // tf 1+2=3 and must outrank doc 1 (tf 2, same length), which outranks
    // doc 2 (tf 1); doc 4 matches nothing. A naive per-term OR would
    // score quick and fast separately (two idf terms) — the ranking
    // below only holds under the summed-tf single-pseudo-term form.
    val grouped = IncrementalPostings
      .bm25SearchGroups(spark, root, Seq(Seq("quick", "fast")))
      .collect().map(_.getString(0)).toSeq
    assert(grouped === Seq("3", "1", "2"))
  }

  /** Every file and directory under `root` (relative path → bytes; a
    * directory maps to no bytes). */
  private def tree(root: String): Map[String, Seq[Byte]] = {
    val base = new java.io.File(root).toPath
    val out = Map.newBuilder[String, Seq[Byte]]
    def walk(f: java.io.File): Unit = {
      val rel = base.relativize(f.toPath).toString
      if (f.isDirectory) { out += rel -> Nil; f.listFiles().foreach(walk) }
      else out += rel -> Files.readAllBytes(f.toPath).toSeq
    }
    walk(base.toFile)
    out.result()
  }

  test("a root whose _format stamp is gone is refused by a merge and a read; the merge writes nothing") {
    val root = Files.createTempDirectory("graft_postFmt").toString + "/postings"
    IncrementalPostings.mergeBatch(spark, Seq(
      DocChange("1", 0, "put", "alpha beta"),
      DocChange("2", 1, "put", "beta gamma")).toDF(), root)
    val entries = s"$root/entries"
    assert(new String(Files.readAllBytes(java.nio.file.Paths.get(s"$entries/_format"))) ===
      graft.streaming.StateStore.Format)
    Files.delete(java.nio.file.Paths.get(s"$entries/_format"))
    val before = tree(root)
    val merge = intercept[java.io.IOException] {
      IncrementalPostings.mergeBatch(spark, Seq(
        DocChange("1", 2, "put", "delta"),
        DocChange("3", 3, "put", "beta epsilon")).toDF(), root)
    }
    assert(merge.getMessage.contains(entries) && merge.getMessage.contains("_format"))
    assert(tree(root) === before, "the refused merge changed the root")
    val read = intercept[java.io.IOException] {
      IncrementalPostings.termSearch(spark, root, Seq("beta")).collect()
    }
    assert(read.getMessage.contains(entries))
  }

  test("a postings merge plans its docs read from the root's schema, with no footer job") {
    val root = Files.createTempDirectory("graft_postJobs").toString + "/postings"
    IncrementalPostings.mergeBatch(spark, Seq(
      DocChange("1", 0, "put", "alpha beta"),
      DocChange("2", 1, "put", "beta gamma")).toDF(), root)
    val batch = Seq(DocChange("1", 2, "put", "gamma delta")).toDF()
    // one job fewer than a docs read that merges every footer's schema
    val jobs = SpecMetrics.jobsRun(spark)(
      IncrementalPostings.mergeBatch(spark, batch, root))
    assert(jobs <= 22, s"$jobs jobs")
    assert(IncrementalPostings.termSearch(spark, root, Seq("delta"))
      .select("rowkey").collect().map(_.getString(0)).toSeq === Seq("1"))
  }
}
