package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Dedup
import graft.streaming.{IncrementalIndex, IncrementalShingles}

/** The incrementally-maintained shingle index must converge to exactly the
  * batch-built `Dedup.shingleIndex` of the final corpus — puts, updates,
  * deletes, stale replays — with delta-sized writes (untouched buckets
  * byte-identical), and `Materialize` must serve the maintained table once
  * a scope is registered. */
class IncrementalShinglesSpec extends SparkSpec {
  import spark.implicits._

  private val fixtureDir = "/root/testdata/sf0.001"

  /** s -> sorted id list, independent of row order. */
  private def indexMap(df: DataFrame): Map[String, Seq[Long]] =
    df.collect().map(r => r.getAs[String]("s") -> r.getSeq[Long](1)).toMap

  private def batchIndex(docs: DataFrame): Map[String, Seq[Long]] =
    indexMap(Dedup.shingleIndex(docs))

  private def merge(root: String, changes: DocChange*): Unit =
    IncrementalShingles.mergeBatch(spark, changes.toSeq.toDF(), root)

  test("puts, updates, deletes, and a stale replay converge to the batch-built index") {
    val root = Files.createTempDirectory("graft_shing").toString + "/shingles"
    merge(root,
      DocChange("1", 0, "put", "merge sort spill disk"),
      DocChange("2", 1, "put", "hash join probe build"),
      DocChange("3", 2, "put", "scan filter project"),
      DocChange("4", 3, "put", "ab")) // under 3 tokens: no shingles
    merge(root,
      DocChange("2", 4, "put", "broadcast join exchange"), // loses old shingles
      DocChange("3", 5, "delete", ""))                     // all shingles go
    merge(root,
      DocChange("3", 1, "put", "scan filter project")) // stale put below tombstone

    val got = indexMap(IncrementalShingles.shingleIndex(spark, root, Dedup.DfCap))
    val want = batchIndex(Seq(
      (1L, "merge sort spill disk"), (2L, "broadcast join exchange"),
      (4L, "ab")).toDF("doc_id", "text"))
    assert(got === want)
    assert(got.contains("merge sort spill"))
    assert(!got.keys.exists(_.contains("hash join")), "doc 2's old shingles must be removed")
    assert(!got.keys.exists(_.contains("scan filter")), "doc 3 stayed dead")
  }

  test("dfSaturation reports the capped vocabulary and posting-mass fractions") {
    val root = Files.createTempDirectory("graft_shsat").toString + "/shingles"
    assert(IncrementalShingles.dfSaturation(spark, root, 2).isEmpty,
      "an unmerged root has no saturation reading")
    // one crowd shingle ('merge sort spill', df 3) + each doc's own tail
    // shingle (df 1) — cap 2 saturates exactly the crowd
    merge(root,
      DocChange("1", 0, "put", "merge sort spill aa"),
      DocChange("2", 1, "put", "merge sort spill bb"),
      DocChange("3", 2, "put", "merge sort spill cc"))
    val Some((sat, vFrac, massFrac)) =
      IncrementalShingles.dfSaturation(spark, root, 2)
    // vocabulary: 'merge sort spill' (df 3, saturated) + 'sort spill aa'
    // /bb/cc (df 1 each) = 4 shingles; mass 3 + 3×1 = 6
    assert(sat === 1L)
    assert(vFrac === 0.25)
    assert(massFrac === 0.5)
    // at the production cap nothing here saturates
    assert(IncrementalShingles.dfSaturation(spark, root, Dedup.DfCap)
      === Some((0L, 0.0, 0.0)))
  }

  test("chunked merges over the fixture corpus equal the batch index; Materialize serves the maintained table") {
    val root = Files.createTempDirectory("graft_shingF").toString + "/shingles"
    val changes = Tables.documents(spark, fixtureDir)
      .select(col("doc_id").cast("string").as("rowkey"),
        col("doc_id").as("event_id"), lit("put").as("op"), col("text"))
    IncrementalShingles.mergeBatch(spark, changes.filter(col("event_id") < 25), root)
    IncrementalShingles.mergeBatch(spark, changes.filter(col("event_id") >= 25), root)

    val want = batchIndex(Tables.documents(spark, fixtureDir))
    val got = indexMap(IncrementalShingles.shingleIndex(spark, root, Dedup.DfCap))
    assert(got === want)
    assert(got.nonEmpty)

    // registration routes the session's materialized artifact to the
    // maintained table — same content, no corpus rebuild
    IncrementalShingles.register(spark, fixtureDir, root)
    try {
      val viaArtifact = Dedup.sharedShingleIndex(spark, fixtureDir)
      assert(indexMap(viaArtifact) === want)
      // the artifact's plan reads the maintained state files, not the corpus
      val scanned = viaArtifact.queryExecution.analyzed.collectLeaves().toString
      assert(!scanned.contains("documents.parquet"),
        s"registered scope must not rebuild from the corpus:\n$scanned")
    } finally IncrementalShingles.unregister(spark, fixtureDir)
    // unregister invalidated the cache: the batch path is back
    assert(indexMap(Dedup.sharedShingleIndex(spark, fixtureDir)) === want)
  }

  test("a merge rewrites ONLY the buckets the batch touches (untouched dirs byte-identical)") {
    val root = Files.createTempDirectory("graft_shingD").toString + "/shingles"
    merge(root,
      DocChange("1", 0, "put", "aa bb cc dd"),
      DocChange("2", 1, "put", "ee ff gg hh"),
      DocChange("3", 2, "put", "ii jj kk ll"))
    val beforeDocs = snapshot(s"$root/docs")
    val beforeEntries = snapshot(s"$root/entries")

    // update doc 1 only: removals are its old shingles, additions the new
    merge(root, DocChange("1", 9, "put", "mm nn oo pp"))

    val afterDocs = snapshot(s"$root/docs")
    val afterEntries = snapshot(s"$root/entries")
    def bucketOf(key: String): String = {
      val crc = new java.util.zip.CRC32()
      crc.update(key.getBytes("UTF-8"))
      s"b=${java.lang.Math.floorMod(crc.getValue, IncrementalIndex.DefaultBuckets.toLong)}"
    }
    val touchedDocs = Set(bucketOf("1"))
    val oldSh = Seq("aa bb cc", "bb cc dd")
    val newSh = Seq("mm nn oo", "nn oo pp")
    val touchedEntries = (oldSh ++ newSh).map(bucketOf).toSet

    for (d <- beforeDocs.keySet if !touchedDocs.contains(d))
      assert(beforeDocs(d) === afterDocs(d), s"untouched docs bucket $d was rewritten")
    for (d <- beforeEntries.keySet if !touchedEntries.contains(d))
      assert(beforeEntries(d) === afterEntries(d), s"untouched entries bucket $d was rewritten")
    // and the update actually landed
    val got = indexMap(IncrementalShingles.shingleIndex(spark, root, Dedup.DfCap))
    assert(got("mm nn oo") === Seq(1L))
    assert(!got.contains("aa bb cc"))
  }

  test("merging into a registered root drops the scope's cached dedup artifacts") {
    val root = Files.createTempDirectory("graft_shingI").toString + "/shingles"
    val dir = "spec-scope-dir" // synthetic scope: only cache behavior is under test
    merge(root, DocChange("1", 0, "put", "aa bb cc dd"))
    IncrementalShingles.register(spark, dir, root)
    try {
      val before = operators.Materialize.artifact(spark, "shingle_index", dir)(
        IncrementalShingles.shingleIndex(spark, root, Dedup.DfCap))
      assert(indexMap(before).contains("aa bb cc"))
      // a maintained-state merge must invalidate the session artifact …
      merge(root, DocChange("2", 1, "put", "qq rr ss tt"))
      assert(before.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
        "stale artifact must be unpersisted by the merge")
      // … so the next request rebuilds over the advanced state
      val after = operators.Materialize.artifact(spark, "shingle_index", dir)(
        IncrementalShingles.shingleIndex(spark, root, Dedup.DfCap))
      assert(indexMap(after).contains("qq rr ss"))
    } finally IncrementalShingles.unregister(spark, dir)
  }

  test("registered scopes feed per-doc fingerprint artifacts from the maintained docs state") {
    import graft.operators.{Dedup, TextAnalysis}
    val root = Files.createTempDirectory("graft_shingFp").toString + "/shingles"
    merge(root,
      DocChange("1", 0, "put", "merge sort spill disk io"),
      DocChange("2", 1, "put", "hash join probe build side"),
      DocChange("3", 2, "put", "scan filter project columns"))
    merge(root,
      DocChange("2", 3, "put", "broadcast join exchange shuffle"), // update
      DocChange("3", 4, "delete", ""))
    val finalDocs = Seq(
      (1L, "merge sort spill disk io"),
      (2L, "broadcast join exchange shuffle")).toDF("doc_id", "text")
    val scope = "spec-fp-scope"
    IncrementalShingles.register(spark, scope, root)
    try {
      // liveDocs serves the maintained state — converged content, and the
      // plan reads state files, not a corpus table
      val lv = IncrementalShingles.liveDocs(spark, scope)
      assert(lv.collect().map(r => r.getLong(0) -> r.getString(1)).toMap ===
        Map(1L -> "merge sort spill disk io", 2L -> "broadcast join exchange shuffle"))
      assert(!lv.queryExecution.analyzed.collectLeaves().toString
        .contains("documents.parquet"))
      // the min-shingle fingerprint ARTIFACT (q_fingerprint /
      // q_contamination's match key) equals the batch build over the
      // converged corpus
      def fpSet(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      val want = fpSet(TextAnalysis.shingles(finalDocs).groupBy("doc_id")
        .agg(min(md5(col("s"))).as("fp"), countDistinct(col("s")).as("n_shingles")))
      assert(fpSet(TextAnalysis.sharedFingerprints(spark, scope)) === want)
      assert(want.nonEmpty)
      // the SimHash fingerprint table likewise (puts, the update's new
      // tokens, and the delete all reflected)
      def shSet(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(shSet(Dedup.simhashFingerprints(IncrementalShingles.liveDocs(spark, scope)))
        === shSet(Dedup.simhashFingerprints(finalDocs)))
      // a further maintained-state merge invalidates the cached artifact,
      // so the next read reflects the new doc
      val cached = TextAnalysis.sharedFingerprints(spark, scope)
      merge(root, DocChange("4", 9, "put", "fresh novel document arrives now"))
      assert(cached.storageLevel === org.apache.spark.storage.StorageLevel.NONE,
        "stale fingerprint artifact must be dropped by the merge")
      assert(TextAnalysis.sharedFingerprints(spark, scope).count() === 3L)
    } finally IncrementalShingles.unregister(spark, scope)
  }

  test("query-time near-dup probe: capped candidates, exact Jaccard, live fetch, pruned I/O") {
    val root = Files.createTempDirectory("graft_shingQ").toString + "/shingles"
    merge(root,
      DocChange("1", 0, "put", "alpha beta gamma delta epsilon zeta"),
      DocChange("2", 1, "put", "completely different words entirely here now"),
      DocChange("3", 2, "put", "alpha beta gamma delta epsilon eta"))
    val q = "alpha beta gamma delta epsilon zeta" // doc 1 verbatim; 3/5 overlap with doc 3
    def probe(threshold: Double = 0.8, dfCap: Int = Dedup.DfCap): Map[String, Double] =
      IncrementalShingles.nearDuplicates(spark, root, q, threshold, dfCap)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // exact duplicate found at 1.0; doc 3's true Jaccard (3 shared of 5
    // distinct shingles = 0.6) is below the default threshold
    assert(probe() === Map("1" -> 1.0))
    assert(probe(threshold = 0.5) === Map("1" -> 1.0, "3" -> 0.6))
    // the DF cap bounds CANDIDATE GENERATION: at dfCap=1 the shingles doc 1
    // and doc 3 share (df=2) generate nothing — doc 1 stays reachable via
    // its unique shingle and still scores its exact, uncapped 1.0
    assert(probe(threshold = 0.5, dfCap = 1) === Map("1" -> 1.0))
    // the entries read opens ONLY the buckets the query's shingles hash to
    def bucketOf(key: String): String = {
      val crc = new java.util.zip.CRC32()
      crc.update(key.getBytes("UTF-8"))
      s"b=${java.lang.Math.floorMod(crc.getValue, IncrementalIndex.DefaultBuckets.toLong)}"
    }
    val qShingles = Seq("alpha beta gamma", "beta gamma delta",
      "gamma delta epsilon", "delta epsilon zeta")
    val wanted = qShingles.map(bucketOf).toSet
    // candidate generation runs eagerly inside the probe (the hit list is
    // collected, bounded by dfCap × |query shingles|), so entry pruning is
    // asserted on the read path it uses...
    val entryFiles = graft.streaming.IncrementalPostings
      .prunedEntries(spark, root, qShingles).inputFiles
    assert(entryFiles.nonEmpty)
    for (f <- entryFiles)
      assert(wanted.exists(b => f.contains(s"/$b/")),
        s"probe read entry file outside the query's buckets: $f")
    // ...and the live-row fetch opens only the CANDIDATES' doc buckets
    // (the HBase-Get shape) — pinned on the exact lazy frame the probe
    // checkpoints (probeFetch; the returned frame is materialized, so its
    // own lineage is a checkpoint, not files). WHICH candidates the probe
    // derives is pinned behaviorally by the score assertions above
    // ({1, 3} at threshold 0.5).
    val fetchFrame = IncrementalShingles.probeFetch(spark, root,
      Seq("1", "3"), IncrementalShingles.WordShingles)
    val docFiles = fetchFrame.inputFiles.filter(_.contains("/docs/"))
    val wantedDocs = Set("1", "3").map(bucketOf)
    assert(docFiles.nonEmpty)
    for (f <- docFiles)
      assert(wantedDocs.exists(b => f.contains(s"/$b/")),
        s"probe fetched a doc bucket outside the candidates': $f")
    // ...and the candidate keys reach the scan as a pushed filter (the
    // pin PlanSpec held on the returned frame before round 15's
    // materialization moved the scan into probeFetch)
    assert(fetchFrame.queryExecution.executedPlan.toString
      .contains("PushedFilters"), "candidate isin must reach the doc scan")
    // unrelated text shares no shingle: no candidates, empty result
    assert(IncrementalShingles.nearDuplicates(spark, root,
      "unrelated probe sentence with nothing shared").count() === 0L)
    // under 3 tokens: no shingles — empty, not an error
    assert(IncrementalShingles.nearDuplicates(spark, root, "ab cd").count() === 0L)
    // deletion drops the duplicate from the live fetch immediately
    merge(root, DocChange("1", 9, "delete", ""))
    assert(probe(threshold = 0.5) === Map("3" -> 0.6))
  }

  test("per-probe shingle budget bounds candidate generation; scores stay exact") {
    val root = Files.createTempDirectory("graft_shingB").toString + "/shingles"
    merge(root,
      DocChange("1", 0, "put", "alpha beta gamma delta epsilon zeta"),
      DocChange("2", 1, "put", "completely different words entirely here now"),
      DocChange("3", 2, "put", "alpha beta gamma delta epsilon eta"))
    val q = "alpha beta gamma delta epsilon zeta"
    def probe(budget: Int): Map[String, Double] =
      IncrementalShingles.nearDuplicates(spark, root, q, threshold = 0.5,
        maxQueryShingles = budget).collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val exact = probe(0)
    assert(exact === Map("1" -> 1.0, "3" -> 0.6))
    // budget 2 of the 4 query shingles: doc 3 shares 3 of them, so at
    // most one budgeted shingle can be unshared — both dups are found
    // DETERMINISTICALLY, and the scores are the exact full-sketch
    // Jaccards, not budget-truncated ones (the budget bounds candidate
    // generation only, like the df cap)
    assert(probe(2) === exact)
    // a budget >= |query shingles| is the exact probe verbatim
    assert(probe(100) === exact)
    // the budgeted entries read opens ONLY the bottom-K (crc32) shingles'
    // buckets — the per-probe I/O bound
    def crc(s: String): Long = {
      val c = new java.util.zip.CRC32()
      c.update(s.getBytes("UTF-8")); c.getValue
    }
    def bucketOf(key: String): String =
      s"b=${java.lang.Math.floorMod(crc(key), IncrementalIndex.DefaultBuckets.toLong)}"
    val qShingles = Seq("alpha beta gamma", "beta gamma delta",
      "gamma delta epsilon", "delta epsilon zeta")
    val bottom2 = qShingles.sortBy(s => (crc(s), s)).take(2)
    val wanted = bottom2.map(bucketOf).toSet
    val entryFiles = graft.streaming.IncrementalPostings
      .prunedEntries(spark, root, bottom2).inputFiles
    assert(entryFiles.nonEmpty)
    for (f <- entryFiles)
      assert(wanted.exists(b => f.contains(s"/$b/")),
        s"budgeted probe read an entry file outside the bottom-K buckets: $f")
  }

  test("per-probe candidate budget bounds the doc fetch rarest-shingle-first; scores stay exact") {
    val root = Files.createTempDirectory("graft_shingC").toString + "/shingles"
    // one true near-dup sharing two RARE shingles; five boilerplate docs
    // sharing one COMMON shingle with the query — the candidate-explosion
    // shape the budget exists for (state grows, every probe shingle drags
    // in a crowd of sub-threshold candidates that only exist to be
    // fetched, scored, and discarded)
    merge(root,
      (DocChange("t1", 0, "put", "alpha beta gamma delta zeta") +:
        (1 to 5).map(i => DocChange(s"b$i", i.toLong, "put",
          s"gamma delta epsilon uniq$i word$i"))): _*)
    val q = "alpha beta gamma delta epsilon"
    def probe(maxCand: Int, threshold: Double = 0.4): Map[String, Double] =
      IncrementalShingles.nearDuplicates(spark, root, q, threshold,
        dfCap = 100, maxCandidates = maxCand).collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val exact = probe(0)
    assert(exact === Map("t1" -> 0.5))
    // budget 1: the rarest (df=1) shingles are t1's, so the fetch stops
    // after t1 alone — same answer, 1/6 of the docs fetched; a generous
    // budget degenerates to the exact probe verbatim
    assert(probe(1) === exact)
    assert(probe(100) === exact)
    // the budgeted fetch opens ONLY the budget-surviving candidate's doc
    // bucket; the unbudgeted probe provably fetched more (the crowd).
    // Pinned on the lazy fetch frame the probe checkpoints (probeFetch),
    // with the budget's candidate SELECTION pinned behaviorally by the
    // low-threshold score assertions below ({t1} at budget 1, all six
    // unbudgeted).
    def bucketOf(key: String): String = {
      val crc = new java.util.zip.CRC32()
      crc.update(key.getBytes("UTF-8"))
      s"b=${java.lang.Math.floorMod(crc.getValue, IncrementalIndex.DefaultBuckets.toLong)}"
    }
    def docBuckets(cands: Seq[String]): Set[String] =
      IncrementalShingles.probeFetch(spark, root, cands,
          IncrementalShingles.WordShingles)
        .inputFiles.filter(_.contains("/docs/"))
        .flatMap(f => "b=\\d+".r.findFirstIn(f)).toSet
    val crowd = Seq("t1", "b1", "b2", "b3", "b4", "b5")
    assert(docBuckets(Seq("t1")) === Set(bucketOf("t1")),
      "budget-1 probe must fetch only the rarest-shingle candidate's bucket")
    assert(docBuckets(Seq("t1")).subsetOf(docBuckets(crowd)) &&
      docBuckets(crowd).size > 1,
      "the unbudgeted probe should demonstrate the crowd fetch the budget cuts")
    // the documented trade: BELOW the rare-shingle threshold the budget
    // can drop sub-threshold candidates the exact probe would have scored
    // (b docs at jaccard 0.2) — which is why the default stays exact
    assert(probe(0, threshold = 0.15).keySet === Set("t1", "b1", "b2", "b3", "b4", "b5"))
    assert(probe(1, threshold = 0.15) === Map("t1" -> 0.5))
  }

  test("batch probe and gate honor the candidate budget rarest-first") {
    val root = Files.createTempDirectory("graft_shingD").toString + "/shingles"
    merge(root,
      (DocChange("t1", 0, "put", "alpha beta gamma delta zeta") +:
        (1 to 5).map(i => DocChange(s"b$i", i.toLong, "put",
          s"gamma delta epsilon uniq$i word$i"))): _*)
    // two arrivals in one batch: qA has a rare-shingle true dup plus the
    // common-shingle crowd; qB shares ONLY the crowd shingle (its sole
    // list is taken first regardless of budget — per-qid selection)
    val arrivals = Seq(
      ("qA", "alpha beta gamma delta epsilon"),
      ("qB", "gamma delta epsilon somethingelse entirely")).toDF("qid", "text")
    def batch(maxCand: Int, threshold: Double): Map[(String, String), Double] =
      IncrementalShingles.nearDuplicatesBatch(spark, root, arrivals, threshold,
        dfCap = 100, maxCandidates = maxCand).collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    val exact = batch(0, 0.4)
    // exact: qA matches t1 (0.5); qB's best crowd match is 1/(3+3-1)=0.2 —
    // nothing at 0.4
    assert(exact === Map(("qA", "t1") -> 0.5))
    // budget 1: qA's rarest lists are t1's — same verdict set; a generous
    // budget degenerates to exact
    assert(batch(1, 0.4) === exact)
    assert(batch(1000, 0.4) === exact)
    // the trade at a low threshold: exact sees qA's crowd AND qB's crowd;
    // budget 1 keeps qA's t1 (rarest-first) and for qB the crowd list IS
    // the rarest (only) evidence, so it still scores — per-qid budgets
    // must not starve a doc whose only candidates are common
    val exactLow = batch(0, 0.15)
    assert(exactLow.keys.map(_._1).toSet === Set("qA", "qB"))
    assert(exactLow.count(_._1._1 == "qB") === 5)
    val budgetLow = batch(1, 0.15)
    assert(budgetLow(("qA", "t1")) === 0.5)
    assert(budgetLow.exists(_._1._1 == "qB"),
      "qB's only (common) posting list must be consumed under any budget")
    // the gate composes the budget: a state dup is still caught when its
    // evidence is rare, and decisions stay deterministic across calls
    val gBatch = Seq(
      ("t1x", 100L, "put", "alpha beta gamma delta zeta"), // exact dup of t1
      ("n1", 101L, "put", "completely novel content words here today")
    ).toDF("rowkey", "event_id", "op", "text")
    def verdicts(maxCand: Int): Map[String, String] =
      IncrementalShingles.gateDecisions(spark, root, gBatch, threshold = 0.5,
        maxCandidates = maxCand).collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
    val v1 = verdicts(1)
    assert(v1 === Map("t1x" -> "state_dup", "n1" -> "admitted"))
    assert(v1 === verdicts(1), "budgeted gate decisions must be deterministic")
    assert(verdicts(0) === v1)
  }

  test("batch probe equals per-doc probes; dedupGate admits only novel puts") {
    val root = Files.createTempDirectory("graft_shingB").toString + "/shingles"
    merge(root,
      DocChange("1", 0, "put", "alpha beta gamma delta"),
      DocChange("2", 1, "put", "totally different words here"))
    // one batch: an exact dup, a near dup, a novel doc — one probe job
    val arrivals = Seq(
      ("n1", "alpha beta gamma delta"),
      ("n2", "alpha beta gamma delta zeta"),
      ("n3", "nothing shared with anything"))
    val got = IncrementalShingles.nearDuplicatesBatch(spark, root,
        arrivals.toDF("qid", "text"), threshold = 0.5)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
    assert(got === Set(("n1", "1", 1.0), ("n2", "1", 0.6667)))
    // equivalence to the per-doc probe, arrival by arrival
    val single = arrivals.flatMap { case (qid, t) =>
      IncrementalShingles.nearDuplicates(spark, root, t, 0.5).collect()
        .map(r => (qid, r.getString(0), r.getDouble(1)))
    }.toSet
    assert(got === single)
    // the batch probe's entries read opens ONLY the buckets the batch's
    // own shingles hash to (the shingle VALUES are data; their bucket ids
    // are collected driver metadata) ...
    def bucketOf(key: String): String = {
      val crc = new java.util.zip.CRC32()
      crc.update(key.getBytes("UTF-8"))
      s"b=${java.lang.Math.floorMod(crc.getValue, IncrementalIndex.DefaultBuckets.toLong)}"
    }
    val batchShingles = arrivals.flatMap(a =>
      IncrementalShingles.shingleizeLocal(a._2)).distinct
    val wantedEntry = batchShingles.map(bucketOf).toSet
    val toks = batchShingles.toDF("tok")
    val entryFiles = graft.streaming.IncrementalPostings
      .prunedEntriesForTokensIn(spark, root, graft.streaming.IncrementalPostings
        .entryBucketDirsForFrame(spark, root, toks), toks)
      .inputFiles.filter(_.contains("/entries/"))
    assert(entryFiles.nonEmpty)
    for (f <- entryFiles)
      assert(wantedEntry.exists(b => f.contains(s"/$b/")),
        s"batch probe read an entry file outside the batch's shingle buckets: $f")
    // ... and the distributed probe frame's own lineage opens only TWO
    // pruned file sets: the candidates' doc buckets (doc 1 is the only
    // candidate — the |B| size fetch) and the batch shingles' entry
    // buckets (the overlap count re-reads them; candidate GENERATION
    // consumed its own read into the checkpointed pair set). Nothing
    // unpruned anywhere. (maxLocalRows = 0 forces the distributed plan;
    // this batch would run on the driver.)
    val sketched = arrivals.toDF("qid", "text")
      .select(col("qid"), array_sort(array_distinct(
        IncrementalShingles.WordShingles.sketch(col("text")))).as("qs"))
      .localCheckpoint()
    val distributed = IncrementalShingles.nearDuplicatesBatchSketched(spark, root,
      sketched, 0.5, Dedup.DfCap, IncrementalShingles.WordShingles, maxLocalRows = 0L)
    assert(distributed.collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
      .toSet === got)
    val probeFiles = distributed.inputFiles
    val wantedDoc = Set(bucketOf("1"))
    assert(probeFiles.count(_.contains("/docs/")) > 0)
    for (f <- probeFiles.filter(_.contains("/docs/")))
      assert(wantedDoc.exists(b => f.contains(s"/$b/")),
        s"batch probe fetched outside the candidates' doc buckets: $f")
    for (f <- probeFiles.filter(_.contains("/entries/")))
      assert(wantedEntry.exists(b => f.contains(s"/$b/")),
        s"batch probe's overlap count read an entry file outside the " +
          s"batch's shingle buckets: $f")
    // ...and those two pruned sets are the ONLY reads — a file that is
    // neither a doc bucket nor an entry bucket is an unpruned scan of
    // some other root sneaking into the probe's lineage
    for (f <- probeFiles)
      assert(f.contains("/docs/") || f.contains("/entries/"),
        s"batch probe read a file outside the two pruned state sets: $f")
    // the driver path (this batch's) answers with a local frame, and the
    // two frames it collects keep the same pruning: the batch tokens'
    // entry rows from only their own buckets, the |B| fetch from only
    // the candidates' doc buckets
    assert(IncrementalShingles.nearDuplicatesBatch(spark, root,
      arrivals.toDF("qid", "text"), threshold = 0.5).inputFiles.isEmpty)
    val driverEntryFiles = graft.streaming.IncrementalPostings
      .batchEntries(spark, root, batchShingles.toSet).inputFiles
    assert(driverEntryFiles.nonEmpty)
    for (f <- driverEntryFiles)
      assert(f.contains("/entries/") && wantedEntry.exists(b => f.contains(s"/$b/")),
        s"the driver probe's entries collect read outside the batch's shingle buckets: $f")
    val sizeFiles = IncrementalShingles.candidateSizes(spark, root, Set("1"),
      IncrementalShingles.WordShingles).inputFiles
    assert(sizeFiles.nonEmpty)
    for (f <- sizeFiles)
      assert(f.contains("/docs/") && wantedDoc.exists(b => f.contains(s"/$b/")),
        s"the driver probe's |B| fetch read outside the candidates' doc buckets: $f")
    // the admission gate: the dup'd put is dropped, the novel put and the
    // delete pass through unchanged
    val batch = Seq(
      DocChange("n1", 10, "put", "alpha beta gamma delta"),
      DocChange("n3", 11, "put", "nothing shared with anything"),
      DocChange("1", 12, "delete", ""))
    val admitted = IncrementalShingles.dedupGate(spark, root, batch.toDF(), 0.8)
      .collect().map(r => r.getAs[String]("rowkey")).toSet
    assert(admitted === Set("n3", "1"))
    // an UPDATE of an existing document matches only its own stored
    // version — that self-match must NOT gate the edit out
    val update = Seq(DocChange("1", 20, "put", "alpha beta gamma delta epsilon"))
    assert(IncrementalShingles.dedupGate(spark, root, update.toDF(), 0.5)
      .count() === 1L, "a self-near-dup update was swallowed by the gate")
  }

  test("space-free (CJK) online path: probe and gate over a maintained char-sketch state") {
    import IncrementalShingles.CharSketch
    val root = Files.createTempDirectory("graft_shingC").toString + "/sketch"
    def mergeC(changes: DocChange*): Unit =
      IncrementalShingles.mergeBatch(spark, changes.toSeq.toDF(), root,
        scheme = CharSketch)
    mergeC(
      DocChange("1", 0, "put", "我爱北京天安门广场上的人们每天清晨都会聚集"),
      DocChange("2", 1, "put", "完全不同的文本内容这里没有任何重复的部分存在"))
    // a near-identical arrival (one char appended) probes back to doc 1
    // with the exact sketch Jaccard; the unrelated doc never surfaces
    val probe = IncrementalShingles.nearDuplicatesChar(spark, root,
        "我爱北京天安门广场上的人们每天清晨都会聚集啊", 0.5)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(probe.keySet === Set("1"))
    assert(probe("1") > 0.9) // 16 shared grams of 17
    // too short to sketch: empty, not an error
    assert(IncrementalShingles.nearDuplicatesChar(spark, root, "我爱北京").count() === 0L)
    // the gate, scheme-generic: a state dup drops, a novel doc passes,
    // and the larger-keyed twin of an intra-batch pair drops
    val batch = Seq(
      DocChange("n1", 10, "put", "我爱北京天安门广场上的人们每天清晨都会聚集了"),
      DocChange("n2", 11, "put", "春江潮水连海平海上明月共潮生滟滟随波千万里"),
      DocChange("n3", 12, "put", "春江潮水连海平海上明月共潮生滟滟随波千万里何"))
    val admitted = IncrementalShingles.dedupGate(spark, root, batch.toDF(),
        0.5, CharSketch)
      .collect().map(_.getAs[String]("rowkey")).toSet
    assert(admitted === Set("n2"))
    // the root is pinned to its scheme: a word-shingle merge or probe
    // against the char-sketch state fails loudly, never silently mixes
    intercept[Exception] {
      IncrementalShingles.mergeBatch(spark,
        Seq(DocChange("x", 99, "put", "alpha beta gamma delta")).toDF(), root)
    }
    intercept[Exception] {
      IncrementalShingles.nearDuplicates(spark, root, "alpha beta gamma delta")
        .collect()
    }
  }

  test("dedupGate dedups WITHIN the batch: state dups, intra-batch pairs, and a self-match update in one scenario") {
    val root = Files.createTempDirectory("graft_shingW").toString + "/shingles"
    merge(root, DocChange("1", 0, "put", "alpha beta gamma delta"))
    // one batch, every gate rule at once:
    //  n4/n5 — novel near-identical pair (0.5 Jaccard), invisible to the
    //          state pass: the smaller rowkey n4 survives, n5 drops;
    //  n6    — near-dup of stored doc 1 (0.6667): state pass drops it;
    //  1     — an UPDATE whose only state match is its own stored version:
    //          self-match exempt, admitted;
    //  9     — a delete: always passes through.
    val batch = Seq(
      DocChange("n5", 10, "put", "quick brown fox jumps high"),
      DocChange("n4", 11, "put", "quick brown fox jumps low"),
      DocChange("n6", 12, "put", "alpha beta gamma delta zeta"),
      DocChange("1", 13, "put", "alpha beta gamma delta epsilon"),
      DocChange("9", 14, "delete", ""))
    val admitted = IncrementalShingles.dedupGate(spark, root, batch.toDF(), 0.5)
      .collect().map(r => (r.getAs[String]("rowkey"), r.getAs[String]("op"))).toSet
    assert(admitted === Set(("n4", "put"), ("1", "put"), ("9", "delete")))
    // and the full loop stays consistent: merging the admitted rows keeps
    // the maintained corpus pairwise near-dup-free
    IncrementalShingles.mergeBatch(spark,
      batch.toDF().join(admitted.map(_._1).toSeq.toDF("rowkey"), "rowkey"), root)
    val live = graft.streaming.IncrementalPostings.docsState(spark, root)
      .select("rowkey", "text").collect().map(r => r.getString(0) -> r.getString(1))
    for (Seq((ka, ta), (kb, tb)) <- live.toSeq.combinations(2)) {
      val sa = IncrementalShingles.shingleizeLocal(ta).toSet
      val sb = IncrementalShingles.shingleizeLocal(tb).toSet
      val inter = (sa & sb).size.toDouble
      val j = if (sa.isEmpty && sb.isEmpty) 0.0 else inter / (sa.size + sb.size - inter)
      assert(j < 0.5, s"admitted corpus holds a near-dup pair ($ka, $kb) at $j")
    }
  }

  test("intra-batch pass never sacrifices an update for a novel arrival") {
    val root = Files.createTempDirectory("graft_shingU").toString + "/shingles"
    merge(root, DocChange("5", 0, "put", "original content here totally stored"))
    // one batch: a full REWRITE of stored doc 5 (no overlap with its old
    // text, so the state pass sees nothing) plus a novel doc near-dupping
    // the rewrite — with a SMALLER rowkey than the update's. The novel
    // doc must be the one dropped: dropping the update would discard the
    // changelog's newer content and leave the stale text live.
    val batch = Seq(
      DocChange("5", 10, "put", "rewritten fresh text now appears"),
      DocChange("0", 11, "put", "rewritten fresh text now shows"))
    val admitted = IncrementalShingles.dedupGate(spark, root, batch.toDF(), 0.5)
      .collect().map(r => r.getAs[String]("rowkey")).toSet
    assert(admitted === Set("5"), "the update must win over the novel near-dup")
  }

  test("gate decides per rowkey on the LATEST event — a superseded version cannot veto its rewrite") {
    val root = Files.createTempDirectory("graft_shingL").toString + "/shingles"
    merge(root, DocChange("1", 0, "put", "alpha beta gamma delta"))
    // rowkey n1 arrives twice in one batch: an early version that
    // near-dups the state, then a full novel rewrite. The merge would
    // keep the rewrite, so the rewrite alone decides admission — and the
    // rowkey's events all pass through once admitted.
    val batch = Seq(
      DocChange("n1", 10, "put", "alpha beta gamma delta"),
      DocChange("n1", 11, "put", "completely unrelated novel text arrives"))
    val out = IncrementalShingles.dedupGate(spark, root, batch.toDF(), 0.5).collect()
    assert(out.map(_.getAs[String]("rowkey")).toSet === Set("n1"))
    assert(out.length === 2, "all events of an admitted rowkey pass to the merge")
    // and conversely: when the LATEST version near-dups the state, the
    // rowkey is dropped even though an earlier novel version exists
    val batch2 = Seq(
      DocChange("n2", 20, "put", "totally novel early version text"),
      DocChange("n2", 21, "put", "alpha beta gamma delta"))
    assert(IncrementalShingles.dedupGate(spark, root, batch2.toDF(), 0.5)
      .count() === 0L)
  }

  test("gated ingest end-to-end: the stream dedups itself against its own state") {
    // The full ingestion loop: each micro-batch passes the dedup gate
    // against the CURRENT maintained state, survivors merge into that
    // state — so the maintained corpus stays near-dup-free across batches
    // without any batch knowing about the others.
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[DocChange]
    val base = Files.createTempDirectory("graft_shingG").toString
    val root = s"$base/shingles"
    val query = source.toDF().writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$base/ckpt")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val admitted = IncrementalShingles.dedupGate(
          batch.sparkSession, root, batch, threshold = 0.5)
        IncrementalShingles.mergeBatch(batch.sparkSession, admitted, root)
      }
      .start()
    def corpus(): Map[String, String] =
      graft.streaming.IncrementalPostings.docsState(spark, root).collect()
        .map(r => r.getAs[String]("rowkey") -> r.getAs[String]("text")).toMap
    try {
      source.addData(
        DocChange("1", 0, "put", "alpha beta gamma delta"),
        DocChange("2", 1, "put", "totally different words here"))
      query.processAllAvailable()
      assert(corpus().keySet === Set("1", "2")) // both novel: admitted
      // batch 2: a near-dup of doc 1 plus a novel doc
      source.addData(
        DocChange("3", 2, "put", "alpha beta gamma delta zeta"),
        DocChange("4", 3, "put", "unrelated fresh content entirely"))
      query.processAllAvailable()
      assert(corpus().keySet === Set("1", "2", "4"), "the near-dup must be gated out")
      // batch 3: after deleting doc 1, the same text is novel again
      source.addData(DocChange("1", 4, "delete", ""))
      query.processAllAvailable()
      source.addData(DocChange("5", 5, "put", "alpha beta gamma delta"))
      query.processAllAvailable()
      assert(corpus().keySet === Set("2", "4", "5"))
      // batch 4: two novel near-identical docs in ONE batch — the
      // intra-batch pass admits only the smaller rowkey, and the state
      // stays near-dup-free without any per-doc sequencing
      source.addData(
        DocChange("6", 6, "put", "quick brown fox jumps high"),
        DocChange("7", 7, "put", "quick brown fox jumps low"))
      query.processAllAvailable()
      assert(corpus().keySet === Set("2", "4", "5", "6"),
        "intra-batch near-dup must keep only the smaller rowkey")
    } finally query.stop()
  }

  // ——— per-token df sidecar ———————————————————————————————————————————

  /** tok -> df from a (tok, df)-shaped frame, for convergence compares. */
  private def dfMap(df: DataFrame): Map[String, Long] =
    df.select("tok", "df").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  private def sidecarMap(root: String): Map[String, Long] =
    dfMap(graft.streaming.IncrementalPostings.dfsAll(spark, root)
      .getOrElse(fail(s"sidecar not enabled at $root")))

  private def vocabMap(root: String): Map[String, Long] =
    dfMap(graft.streaming.IncrementalPostings.vocabulary(spark, root))

  test("df sidecar converges with the merge path: puts, updates, deletes, stale replay, and a backfill mid-life") {
    val root = Files.createTempDirectory("graft_shdfs").toString + "/shingles"
    // batch 1 lands BEFORE the sidecar exists — enable backfills it
    merge(root,
      DocChange("1", 0, "put", "merge sort spill disk"),
      DocChange("2", 1, "put", "merge sort spill heap"))
    IncrementalShingles.enableDfSidecar(spark, root)
    assert(sidecarMap(root) === vocabMap(root), "backfill must equal the vocabulary")
    assert(sidecarMap(root)("merge sort spill") === 2L)
    // every later merge keeps the touched buckets current
    merge(root,
      DocChange("3", 2, "put", "merge sort spill tape"),
      DocChange("2", 3, "put", "hash join probe build"), // update: old shingles go
      DocChange("1", 4, "delete", ""))                    // delete: df decrements
    assert(sidecarMap(root) === vocabMap(root))
    assert(sidecarMap(root)("merge sort spill") === 1L,
      "update + delete must decrement the crowd shingle's df")
    // stale replay (event below the tombstone) rewrites identical rows
    val before = sidecarMap(root)
    merge(root, DocChange("1", 1, "put", "merge sort spill disk"))
    assert(sidecarMap(root) === before, "replay must not move the sidecar")
    assert(sidecarMap(root) === vocabMap(root))
    // dfSaturation served from the sidecar equals the entries-derived
    // form (cap 0: every live shingle saturates, so the reading is
    // non-trivial on this small end state)
    val viaSidecar = IncrementalShingles.dfSaturation(spark, root, 0)
    assert(viaSidecar.exists(_._1 > 0L))
    // the rescale crash window: marker present, dfs dir gone — the
    // monitoring read must fall back to the entries, never report
    // "nothing saturated" off an unbackfilled sidecar
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(root + "/dfs"), true)
    assert(IncrementalShingles.dfSaturation(spark, root, 0) === viaSidecar,
      "an enabled-but-empty sidecar must fall back to the entries")
    fs.delete(new org.apache.hadoop.fs.Path(root + "/_dfs"), false)
    assert(IncrementalShingles.dfSaturation(spark, root, 0) === viaSidecar,
      "sidecar-served saturation must equal the entries-derived reading")
  }

  test("df sidecar survives a rescale: recomputed at the new bucket count, still converged") {
    val root = Files.createTempDirectory("graft_shdfr").toString + "/shingles"
    merge(root,
      DocChange("1", 0, "put", "alpha beta gamma delta"),
      DocChange("2", 1, "put", "alpha beta gamma omega"))
    IncrementalShingles.enableDfSidecar(spark, root)
    IncrementalShingles.rescale(spark, root, 32)
    assert(graft.streaming.StateStore.bucketCount(spark, root + "/dfs")
      === Some(32), "sidecar must re-pin the new bucket count")
    assert(sidecarMap(root) === vocabMap(root))
    // and merges against the rescaled root keep maintaining it (a merge
    // follows the root's own _nbuckets marker — the pipeline discipline)
    IncrementalShingles.mergeBatch(spark,
      Seq(DocChange("3", 2, "put", "alpha beta gamma kappa")).toDF(), root,
      numBuckets = 32)
    assert(sidecarMap(root) === vocabMap(root))
    assert(sidecarMap(root)("alpha beta gamma") === 3L)
  }

  test("sidecar probes skip saturated posting lists; candidates and scores are unchanged") {
    import graft.streaming.IncrementalPostings
    // two roots, identical state; cap 2, crowd shingle at df 3 (saturated)
    val mk = () => {
      val r = Files.createTempDirectory("graft_shdsk").toString + "/shingles"
      merge(r,
        DocChange("1", 0, "put", "merge sort spill aa bb cc dd"),
        DocChange("2", 1, "put", "merge sort spill aa bb xx yy"),
        DocChange("3", 2, "put", "merge sort spill qq ww ee rr"))
      r
    }
    val plain = mk()
    val withSc = mk()
    IncrementalShingles.enableDfSidecar(spark, withSc)
    val probe = "merge sort spill aa bb cc zz"
    def run(root: String): Seq[(String, Double)] =
      IncrementalShingles.nearDuplicates(spark, root, probe,
        threshold = 0.1, dfCap = 2)
        .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(run(withSc) === run(plain),
      "the sidecar must not change a probe's candidates or scores")
    assert(run(withSc).map(_._1) === Seq("1", "2"),
      "docs sharing only the saturated crowd shingle (3) never surface")
    // gate parity on the same state
    val batch = Seq(
      DocChange("9", 9, "put", "merge sort spill aa bb cc zz"),
      DocChange("10", 10, "put", "totally novel content here now")).toDF()
    def verdicts(root: String): Map[String, String] =
      IncrementalShingles.gateDecisions(spark, root, batch, threshold = 0.5)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(verdicts(withSc) === verdicts(plain),
      "the sidecar must not change a single gate verdict")
    // the skip is REAL — the sidecar is consulted BEFORE the posting
    // read, not alongside it: plant a sidecar row claiming 'aa bb cc'
    // (truly df 1 in this root, well under cap) is saturated, by copying
    // its dfs bucket from a root where it IS df 3. A probe whose only
    // sub-cap shared shingle is 'aa bb cc' must then return NO candidates:
    // if the read path consulted the entries' own df instead of the
    // sidecar, doc 1 would surface.
    val crowd = Files.createTempDirectory("graft_shdcr").toString + "/shingles"
    merge(crowd,
      DocChange("1", 0, "put", "aa bb cc k1 k2"),
      DocChange("2", 1, "put", "aa bb cc k3 k4"),
      DocChange("3", 2, "put", "aa bb cc k5 k6"))
    IncrementalShingles.enableDfSidecar(spark, crowd)
    val nb = graft.streaming.StateStore.bucketCount(spark, withSc + "/dfs").get
    assert(nb === graft.streaming.StateStore.bucketCount(spark, crowd + "/dfs").get)
    val b = {
      val c = new java.util.zip.CRC32()
      c.update("aa bb cc".getBytes("UTF-8"))
      java.lang.Math.floorMod(c.getValue, nb.toLong)
    }
    val fs = new org.apache.hadoop.fs.Path(withSc)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(s"$withSc/dfs/b=$b"), true)
    org.apache.hadoop.fs.FileUtil.copy(
      fs, new org.apache.hadoop.fs.Path(s"$crowd/dfs/b=$b"),
      fs, new org.apache.hadoop.fs.Path(s"$withSc/dfs/b=$b"),
      false, spark.sessionState.newHadoopConf())
    val planted = IncrementalPostings.dfsForTokens(spark, withSc,
      Seq("aa bb cc")).get.collect()
    assert(planted.length === 1 && planted.head.getLong(1) === 3L,
      "the planted sidecar row must claim df 3")
    val skipped = IncrementalShingles.nearDuplicates(spark, withSc,
      "aa bb cc zz ww", threshold = 0.0, dfCap = 2)
      .collect().map(_.getString(0)).toSeq
    assert(skipped.isEmpty,
      "a shingle the sidecar marks saturated must be skipped without " +
        s"reading its posting list, got candidates $skipped")
  }

  test("overlapping gate calls leave the session's AQE and shuffle-width conf as they were") {
    // Two gate calls on ONE session, forced to overlap deterministically:
    // gate A's sketch task waits until gate B's sketch task is running,
    // and B's waits until A has returned. A save/restore bracket on the
    // session conf would interleave (A sets, B saves A's value, A
    // restores, B restores A's value) and leave AQE off; every read of
    // the caller's conf — from inside both sketch tasks and afterwards —
    // must see the values from before the gates.
    val aqeKey = "spark.sql.adaptive.enabled"
    val spKey = "spark.sql.shuffle.partitions"
    def confNow(): (Option[String], Option[String]) =
      (spark.conf.getOption(aqeKey), spark.conf.getOption(spKey))
    val before = confNow()
    val root = Files.createTempDirectory("graft_shgate").toString + "/shingles"
    merge(root, DocChange("1", 0, "put", "merge sort spill aa bb cc dd"))
    GateOverlap.reset()
    val hook = udf((t: String) => GateOverlap.pass(t))
    def batch(tag: String): DataFrame =
      Seq(DocChange(tag, 10, "put", s"$tag novel words here now"))
        .toDF().withColumn("text", hook(col("text")))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    def gate(tag: String) = Future(
      IncrementalShingles.gateDecisions(spark, root, batch(tag), threshold = 0.5)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap)
    val a = gate("gatea")
    assert(GateOverlap.aStarted.await(5, java.util.concurrent.TimeUnit.MINUTES),
      "gate A's sketch task never ran")
    val b = gate("gateb")
    val va = Await.result(a, 10.minutes)
    GateOverlap.aDone.countDown()
    val vb = Await.result(b, 10.minutes)
    assert(GateOverlap.overlapped, "the two sketch phases did not overlap")
    assert(va === Map("gatea" -> "admitted") && vb === Map("gateb" -> "admitted"))
    assert(GateOverlap.seen.toArray.toSet === Set(before),
      "the caller's conf changed while a gate's sketch ran")
    assert(confNow() === before)
  }

  private def snapshot(base: String): Map[String, Map[String, String]] = {
    val dirs = new java.io.File(base).listFiles().filter(d =>
      d.isDirectory && d.getName.startsWith("b=")).map(_.getName)
    dirs.map { d =>
      d -> new java.io.File(s"$base/$d").listFiles().filter(_.isFile).map { f =>
        val bytes = java.nio.file.Files.readAllBytes(f.toPath)
        f.getName -> java.security.MessageDigest.getInstance("MD5").digest(bytes)
          .map("%02x".format(_)).mkString
      }.toMap
    }.toMap
  }

  // ---- the gate's score phase on the driver ----

  /** The distributed intra-batch pass's drops, as a set. */
  private def sparkDrops(docs: Seq[(String, Seq[String], Boolean)], threshold: Double,
                         dfCap: Int): Set[(String, String)] =
    IncrementalShingles.intraBatchDrops(docs.toDF("rowkey", "qs", "exists"), threshold, dfCap)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet

  test("driver-side intra-batch scoring equals the distributed pass: non-BMP keys and shingles, dfCap edges, rounding ties, updates") {
    // keys whose UTF-16 order differs from their UTF-8 byte order (a
    // supplementary character sorts BEFORE U+E000..U+FFFF in UTF-16, after
    // them in UTF-8), so the pair member called `da` and the winning
    // `min(dup_of)` both depend on using Spark's order
    val keyPool = Seq("a", "b", "ab", "Z", "\u00e9", "\uE000", "\uFF61", "\uFF61b",
      "\uD83D\uDE00", "\uD83D\uDE00a", "\uD835\uDD38", "k1", "k2", "k10")
    val shPool = Seq("x y z", "y z w", "z w v", "\uD83D\uDE03 a b", "\uFF70 c d",
      "\uD835\uDD39 e f", "p q r", "q r s", "\u00e9 t u")
    val dfCap = 3
    // independent sub-batches over disjoint key and shingle universes (a
    // per-batch prefix): one Spark pass scores all of them at once
    val docs = (1 to 40).flatMap { seed =>
      val rnd = new scala.util.Random(seed)
      val keys = rnd.shuffle(keyPool).take(3 + rnd.nextInt(6))
      keys.map { k =>
        val qs = rnd.shuffle(shPool).take(1 + rnd.nextInt(5)).map(sh => s"$seed:$sh").sorted
        (s"$seed:$k", qs, rnd.nextInt(3) == 0)
      }
    }
    // the data holds buckets of exactly dfCap docs and of dfCap + 1
    val bucketSizes = docs.flatMap { case (k, qs, _) => qs.map(_ -> k) }
      .groupBy(_._1).values.map(_.size).toSet
    assert(bucketSizes.contains(dfCap) && bucketSizes.contains(dfCap + 1), bucketSizes)
    // 0.3333 and 0.6667 are where 1/3 and 2/3 land after 4-place rounding
    for (t <- Seq(0.0, 0.25, 0.3333, 0.5, 0.6667, 0.75, 1.0)) {
      val local = IncrementalShingles.intraBatchDropsLocal(docs, t, dfCap).toSet
      assert(local === sparkDrops(docs, t, dfCap), s"threshold $t")
      if (t == 0.6667) assert(local.nonEmpty, "the 2/3 tie must drop something")
    }
  }

  test("driver-side scoring rounds like Spark: 7/160 = 0.04375 rounds HALF_UP on its decimal form") {
    // |A∩B| = 7, |A∪B| = 80 + 87 - 7 = 160: the double 0.04375 lies just
    // below its decimal; Spark's round takes the decimal form to 0.0438
    val a = (1 to 80).map(i => f"s$i%03d")
    val b = (1 to 7).map(i => f"s$i%03d") ++ (1 to 80).map(i => f"t$i%03d")
    val docs = Seq(("a", a, false), ("b", b, false))
    for (t <- Seq(0.0437, 0.0438, 0.0439)) {
      val local = IncrementalShingles.intraBatchDropsLocal(docs, t, 200).toSet
      assert(local === sparkDrops(docs, t, 200), s"threshold $t")
      assert(local === (if (t <= 0.0438) Set(("b", "a")) else Set.empty[(String, String)]),
        s"threshold $t")
    }
  }

  test("the gate's score phase: at most 2 jobs below the driver bound, the distributed plan above it, the same drops") {
    val root = Files.createTempDirectory("graft_shingS").toString + "/shingles"
    merge(root,
      DocChange("5", 0, "put", "original content here totally stored"),
      DocChange("7", 1, "put", "another stored document kept apart"))
    // survivors of one batch: an update of 5 near-dupped by two novel
    // docs, and an unrelated pair of novel near-dups
    val survivors = Seq(
        "5" -> "rewritten fresh text now appears",
        "0" -> "rewritten fresh text now shows",
        "9" -> "rewritten fresh text now appears again",
        "m" -> "quick brown fox jumps high",
        "n" -> "quick brown fox jumps low")
      .toDF("rowkey", "text")
      .select(col("rowkey"), array_sort(array_distinct(
        IncrementalShingles.WordShingles.sketch(col("text")))).as("qs"))
      .localCheckpoint()
    def drops(maxLocalRows: Long): (Set[(String, String)], Int) = {
      var out = Set.empty[(String, String)]
      val jobs = SpecMetrics.jobsRun(spark) {
        out = IncrementalShingles.scoreSurvivors(spark, root, survivors, 0.5,
          IncrementalShingles.WordShingles.dfCap, maxLocalRows)
          .collect().map(r => (r.getString(0), r.getString(1))).toSet
      }
      (out, jobs)
    }
    val (local, localJobs) = drops(IncrementalShingles.LocalScoreMaxRows)
    val (distributed, distributedJobs) = drops(0L)
    assert(local === distributed)
    assert(local === Set(("0", "5"), ("9", "5"), ("n", "m")), local)
    assert(localJobs <= 2, s"driver path ran $localJobs jobs")
    assert(distributedJobs > 2, s"distributed path ran only $distributedJobs jobs")
  }

  // ---- the gate's state probe on the driver ----

  test("driver and distributed gate probes decide alike: thresholds, budgets, updates, deletes, dfCap edges, non-BMP keys, a UTF-8 tie") {
    import SparkSpec.clue
    val root = Files.createTempDirectory("graft_shingP").toString + "/shingles"
    val rnd = new scala.util.Random(20261020)
    val vocab = (1 to 9).map(i => s"w$i")
    def words(n: Int): String = Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    // keys past the BMP and keys whose UTF-16 order differs from their
    // UTF-8 byte order (a supplementary character sorts BEFORE
    // U+E000..U+FFFF in UTF-16, after them in UTF-8)
    val odd = Seq("\uD83D\uDE00", "\uD83D\uDE00a", "\uD835\uDD38", "\uFF61", "\uE000", "\u00e9")
    val keys = odd ++ (0 until 230).map(i => s"k$i")
    val text = keys.map(k => k -> words(4 + rnd.nextInt(6))).toMap
    val dfCap = IncrementalShingles.WordShingles.dfCap
    // one-shingle docs: "ea eb ec" stored dfCap times, a candidate list
    // whose every doc scores 1.0 against a copy; "oa ob oc" stored
    // dfCap + 1 times, over the cap, so a copy finds no candidate
    val atCap = (0 until dfCap).map(i => DocChange(s"e$i", 500L + i, "put", "ea eb ec"))
    val overCap = (0 to dfCap).map(i => DocChange(s"o$i", 800L + i, "put", "oa ob oc"))
    // the tie: two stored docs with one text, keyed so that UTF-16 and
    // UTF-8 order disagree about which is smaller
    val tieText = "tie alpha beta gamma delta epsilon"
    merge(root, keys.zipWithIndex.map { case (k, i) =>
      DocChange(k, i.toLong, "put",
        if (k == "\uFF61" || k == "\uD83D\uDE00") tieText else text(k))
    } ++ atCap ++ overCap: _*)
    // a second flush: updates and deletes, so the state holds tombstones
    merge(root,
      DocChange("k0", 1100, "delete", ""),
      DocChange("k1", 1101, "delete", ""),
      DocChange("k2", 1102, "put", words(7)),
      DocChange("\uD835\uDD38", 1103, "put", text("k3")))
    val stored = keys.filterNot(Set("k0", "k1", "k2", "\uFF61", "\uD83D\uDE00"))
    // the batch: exact and near copies of stored texts under new keys,
    // updates of stored keys (near their own text), a put to a deleted
    // key, deletes, novel docs, and copies of the at-cap and over-cap
    // docs
    val batch = (0 until 120).flatMap { i =>
      val src = stored(rnd.nextInt(stored.size))
      rnd.nextInt(7) match {
        case 0 => Seq(DocChange("n" + i, 2000L + i, "put", text(src)))
        case 1 => Seq(DocChange("n" + i, 2000L + i, "put", text(src) + " " + words(2)))
        case 2 => Seq(DocChange(src, 2000L + i, "put", text(src) + " " + words(1)))
        case 3 => Seq(DocChange("\uD83D\uDE03" + i, 2000L + i, "put", "ea eb ec"))
        case 4 => Seq(DocChange("m" + i, 2000L + i, "put", "oa ob oc"))
        case 5 => Seq(DocChange("d" + i, 2000L + i, "delete", ""))
        case _ => Seq(DocChange("x" + i, 2000L + i, "put", words(3 + rnd.nextInt(8))))
      }
    } ++ Seq(
      DocChange("k1", 3000, "put", text("k1")),
      DocChange("tie", 3001, "put", tieText),
      DocChange("k5", 3002, "delete", ""))
    val batchDf = batch.toDF().localCheckpoint()
    def decisions(threshold: Double, budget: Int, maxLocalRows: Long): Map[String, (String, String)] =
      IncrementalShingles.gateDecisionsBody(spark, root, batchDf, threshold,
          IncrementalShingles.WordShingles, budget, new graft.streaming.PhaseClock, maxLocalRows)
        .collect().map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
    for (threshold <- Seq(0.3, 0.6, 0.9); budget <- Seq(0, 3)) {
      val onDriver = decisions(threshold, budget, IncrementalShingles.LocalScoreMaxRows)
      val distributed = decisions(threshold, budget, 0L)
      assert(onDriver === distributed,
        clue(s"threshold $threshold, budget $budget: driver ${onDriver.toSeq.sorted} " +
          s"distributed ${distributed.toSeq.sorted}"))
      assert(onDriver("tie") === ("state_dup", "\uFF61"),
        clue(s"the tie goes to the UTF-8-smaller key: ${onDriver("tie")}"))
      if (threshold == 0.3)
        assert(onDriver.values.map(_._1).toSet === Set("admitted", "state_dup", "batch_dup"),
          clue(onDriver.values.map(_._1).toSet))
    }
  }

  test("the batch probe answers a flush-sized batch in at most 3 Spark jobs") {
    val root = Files.createTempDirectory("graft_shingJ").toString + "/shingles"
    val rnd = new scala.util.Random(7)
    val vocab = (1 to 31).map(i => s"v$i")
    def doc(): String = Seq.fill(10 + rnd.nextInt(60))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val stored = (0 until 300).map(_ => doc())
    merge(root, stored.zipWithIndex.map { case (t, i) => DocChange(s"s$i", i.toLong, "put", t) }: _*)
    // 1,000 arrivals, a tenth of them copies of stored docs
    val arrivals = (0 until 1000).map(i =>
      (s"q$i", if (i % 10 == 0) stored(i / 10) else doc())).toDF("qid", "text")
    val sk = arrivals.select(col("qid"), array_sort(array_distinct(
        IncrementalShingles.WordShingles.sketch(col("text")))).as("qs"))
      .localCheckpoint()
    def probe(maxLocalRows: Long): (Set[(String, String, Double)], Int) = {
      var out = Set.empty[(String, String, Double)]
      val jobs = SpecMetrics.jobsRun(spark) {
        out = IncrementalShingles.nearDuplicatesBatchSketched(spark, root, sk, 0.2,
            Dedup.DfCap, IncrementalShingles.WordShingles, maxLocalRows = maxLocalRows)
          .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
      }
      (out, jobs)
    }
    val (onDriver, driverJobs) = probe(IncrementalShingles.LocalScoreMaxRows)
    val (distributed, distributedJobs) = probe(0L)
    assert(onDriver.nonEmpty && onDriver === distributed)
    assert(driverJobs <= 3, s"the driver probe ran $driverJobs jobs")
    assert(distributedJobs > 3, s"the distributed probe ran only $distributedJobs jobs")
  }

  test("the driver probe's entries bound is the footers' row count, checked before any entries read") {
    import graft.streaming.StateStore
    val root = Files.createTempDirectory("graft_shingF").toString + "/shingles"
    val rnd = new scala.util.Random(5)
    val vocab = (1 to 12).map(i => s"f$i")
    def doc(): String = Seq.fill(6 + rnd.nextInt(10))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val stored = (0 until 120).map(_ => doc())
    merge(root, stored.zipWithIndex.map { case (t, i) => DocChange(s"s$i", i.toLong, "put", t) }: _*)
    merge(root, DocChange("s1", 500, "delete", ""), DocChange("s2", 501, "put", doc()))
    val entries = root + "/entries"
    val footerRows = StateStore.bucketRows(spark, entries, StateStore.liveBuckets(spark, entries))
    assert(footerRows === StateStore.readBuckets(spark, entries,
      StateStore.liveBuckets(spark, entries)).count(), "the footers count every entry row")
    // a small batch against that state: one entry row under the
    // footers' count, the call runs the distributed plan without
    // collecting any entry row first
    val sk = (0 until 6).map(i => (s"q$i", if (i < 2) stored(10 + i) else doc()))
      .toDF("qid", "text")
      .select(col("qid"), array_sort(array_distinct(
        IncrementalShingles.WordShingles.sketch(col("text")))).as("qs"))
      .localCheckpoint()
    def probe(maxLocalRows: Long, maxEntryRows: Long): (Set[(String, String, Double)], Int) = {
      var out = Set.empty[(String, String, Double)]
      val jobs = SpecMetrics.jobsRun(spark) {
        out = IncrementalShingles.nearDuplicatesBatchSketched(spark, root, sk, 0.5,
            Dedup.DfCap, IncrementalShingles.WordShingles,
            maxLocalRows = maxLocalRows, maxEntryRows = maxEntryRows)
          .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
      }
      (out, jobs)
    }
    val batchBound = IncrementalShingles.LocalScoreMaxRows
    val (overFooters, overJobs) = probe(batchBound, footerRows - 1)
    val (distributed, distributedJobs) = probe(0L, footerRows)
    val (onDriver, driverJobs) = probe(batchBound, footerRows)
    assert(onDriver.nonEmpty && overFooters === onDriver && distributed === onDriver)
    assert(driverJobs <= 3, s"at the footers' count the driver probe ran $driverJobs jobs")
    assert(overJobs <= distributedJobs,
      s"past the footers' count: $overJobs jobs, the distributed plan alone $distributedJobs")
  }

  test("the batch probe takes one row per qid: null qids dropped, a repeated qid rejected, on either path") {
    val root = Files.createTempDirectory("graft_shingQ").toString + "/shingles"
    val stored = "alpha beta gamma delta epsilon zeta"
    merge(root,
      DocChange("s1", 0, "put", stored),
      DocChange("s2", 1, "put", "one two three four five six"))
    def sketched(rows: (String, String)*): DataFrame =
      rows.toDF("qid", "text").select(col("qid"), array_sort(array_distinct(
          IncrementalShingles.WordShingles.sketch(col("text")))).as("qs"))
        .localCheckpoint()
    def probe(sk: DataFrame, maxLocalRows: Long): Set[(String, String, Double)] =
      IncrementalShingles.nearDuplicatesBatchSketched(spark, root, sk, 0.5,
          Dedup.DfCap, IncrementalShingles.WordShingles, maxLocalRows = maxLocalRows)
        .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
    val withNull = sketched("a" -> stored, (null, stored))
    val repeated = sketched("a" -> stored, "a" -> "one two three four five six")
    for (bound <- Seq(IncrementalShingles.LocalScoreMaxRows, 0L)) {
      assert(probe(withNull, bound) === Set(("a", "s1", 1.0)), s"bound $bound")
      val e = intercept[IllegalArgumentException](probe(repeated, bound))
      assert(e.getMessage.contains("qid 'a'"), s"bound $bound: ${e.getMessage}")
    }
    intercept[IllegalArgumentException](IncrementalShingles.nearDuplicatesBatch(spark, root,
      Seq("b" -> stored, "b" -> stored).toDF("qid", "text"), threshold = 0.5).collect())
  }

  test("the df sidecar equals the entries' row count for every token after flushes with updates and deletes") {
    import graft.streaming.IncrementalPostings
    val root = Files.createTempDirectory("graft_shdfc").toString + "/shingles"
    val rnd = new scala.util.Random(11)
    val vocab = (1 to 8).map(i => s"t$i")
    def doc(): String = Seq.fill(3 + rnd.nextInt(10))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    merge(root, (0 until 40).map(i => DocChange(s"r$i", i.toLong, "put", doc())): _*)
    IncrementalShingles.enableDfSidecar(spark, root)
    for (flush <- 1 to 3) {
      val base = 100L * flush
      merge(root, (0 until 30).map { i =>
        val k = s"r${rnd.nextInt(50)}"
        if (rnd.nextInt(3) == 0) DocChange(k, base + i, "delete", "")
        else DocChange(k, base + i, "put", doc())
      }: _*)
      // the driver probe's df: entry rows per token, over every token
      // either side knows
      val toks = sidecarMap(root).keySet ++ vocabMap(root).keySet
      val rowCounts = IncrementalPostings.batchEntries(spark, root, toks)
        .groupBy("tok").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(rowCounts.nonEmpty)
      assert(sidecarMap(root) === rowCounts, s"flush $flush")
    }
  }

}

/** Latches that force two gate calls' sketch tasks to overlap (see the
  * conf-isolation test). A UDF on the batch text calls [[pass]]; tasks
  * run in this JVM (local master), so the object is shared. Each call
  * records the caller session's AQE and shuffle-width conf as seen while
  * the sketch runs. */
object GateOverlap {
  import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
  @volatile var aStarted, bStarted, aDone: CountDownLatch = _
  @volatile var overlapped = false
  val seen = new ConcurrentLinkedQueue[(Option[String], Option[String])]()

  def reset(): Unit = {
    aStarted = new CountDownLatch(1); bStarted = new CountDownLatch(1)
    aDone = new CountDownLatch(1); overlapped = false; seen.clear()
  }

  def pass(text: String): String = {
    val conf = SparkSpec.spark.conf
    seen.add((conf.getOption("spark.sql.adaptive.enabled"),
      conf.getOption("spark.sql.shuffle.partitions")))
    if (text.startsWith("gatea")) {
      aStarted.countDown()
      overlapped = bStarted.await(5, TimeUnit.MINUTES)
    } else if (text.startsWith("gateb")) {
      bStarted.countDown()
      aDone.await(5, TimeUnit.MINUTES): Unit
    }
    text
  }

}
