package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StringType}
import graft.operators.IvfIndex
import graft.streaming.{IncrementalIndex, IncrementalPostings, IncrementalShingles, IngestPipeline}

/** The maintained reads answer in two steps — one collect of the query
  * terms' pruned entry rows, one keyed docs fetch — with the match, the
  * score and the top k on the driver. Pinned two ways: a jobs budget on
  * a flushed pipeline root, and randomized equality against brute force
  * or the corpus-scoped Spark twin of each read. */
class MaintainedReadsSpec extends SparkSpec {
  import spark.implicits._

  private def fields(df: DataFrame): Seq[(String, DataType)] =
    df.schema.fields.toSeq.map(f => (f.name, f.dataType))

  private val docFields = Seq("rowkey" -> StringType, "event_id" -> LongType,
    "op" -> StringType, "text" -> StringType)

  test("maintained reads run at most two Spark jobs each on a flushed pipeline root") {
    val root = Files.createTempDirectory("graft_readJobs").toString + "/pipe"
    val words = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta")
    val rng = new scala.util.Random(11)
    def text(i: Int): String =
      (Seq.fill(10)(words(rng.nextInt(words.size))) :+ s"w$i").mkString(" ")
    def vec(i: Int): Seq[Float] =
      Seq(math.cos(i.toDouble).toFloat, math.sin(i.toDouble).toFloat, (i % 3).toFloat, 1f)
    val docs = (0 until 60).map(i => i -> text(i)).toMap
    IngestPipeline.bootstrap(spark, (0 until 40)
        .map(i => VecDocChange(i.toString, i.toLong, "put", docs(i), vec(i))).toDF(),
      root, annNlist = 2, annIters = 1)
    IngestPipeline.applyBatch(spark, ((40 until 60)
        .map(i => VecDocChange(i.toString, i.toLong, "put", docs(i), vec(i))) :+
        VecDocChange("3", 100L, "delete", "", Nil)).toDF(),
      root, 1L, annNlist = 2, annIters = 1)
    val postings = IngestPipeline.postingsRoot(root)
    val probe = docs(45).split(" ")
    // (read, jobs allowed on the first call after the flush, warm)
    val reads: Seq[(String, Option[Int], Int, () => Array[Row])] = Seq(
      ("term", Some(2), 2, () =>
        IncrementalPostings.termSearch(spark, postings, Seq("alpha", "beta")).collect()),
      // the first ranked read after a flush refills the ranking statistics
      ("bm25", Some(3), 2, () =>
        IncrementalPostings.bm25Search(spark, postings, Seq("alpha", "w7", "w45"), 20).collect()),
      ("phrase", Some(2), 2, () =>
        IncrementalPostings.phraseSearch(spark, postings, probe.slice(2, 4).toSeq).collect()),
      ("fuzzy", Some(2), 2, () =>
        IncrementalPostings.fuzzySearch(spark, postings, "alpho", 1).collect()),
      ("neardup", Some(2), 2, () =>
        IncrementalShingles.nearDuplicates(spark, IngestPipeline.shingleRoot(root),
          docs(45), 0.8).collect()),
      ("get", None, 2, () =>
        IncrementalIndex.get(spark, IngestPipeline.stateRoot(root), Seq("1", "45")).collect()),
      ("ann", None, 2, () =>
        IvfIndex.search(spark, IngestPipeline.vectorsRoot(root), vec(5), 3, probes = 2)
          .collect()))
    for ((name, cold, warm, read) <- reads) {
      var rows = Array.empty[Row]
      val first = SpecMetrics.jobsRun(spark) { rows = read() }
      cold.foreach(b => assert(first <= b, s"$name after the flush ran $first jobs"))
      assert(rows.nonEmpty, s"$name answered nothing")
      val jobs = SpecMetrics.jobsRun(spark) { rows = read() }
      assert(jobs <= warm, s"warm $name ran $jobs jobs")
      assert(rows.nonEmpty, s"$name answered nothing")
    }
  }

  /** BMP and non-BMP tokens; "Ａ" and a surrogate pair order
    * differently in UTF-16 and in UTF-8. */
  private val vocab = Seq("a", "b", "c", "merge", "sort", "𝄞",
    "Ａx", "😀", "été")

  /** A tiny maintained fixture: postings and shingle roots over random
    * docs, merged in two batches (puts, then updates, deletes and new
    * puts), and its final live docs. Two keys ordered differently in
    * UTF-16 and UTF-8 hold the same text, so ranked reads tie on them. */
  private def fixture(seed: Int): (String, String, Map[String, String]) = {
    val rng = new scala.util.Random(seed)
    def text(): String =
      Seq.fill(3 + rng.nextInt(7))(vocab(rng.nextInt(vocab.size))).mkString(" ")
    val keys = (0 until 24).map(i => s"k$i") ++ Seq("kＡ", "k😀")
    val first = keys.map(k => k -> text()).toMap
      .updated("k😀", "merge sort a a merge")
      .updated("kＡ", "merge sort a a merge")
    val dels = keys.take(24).filter(_ => rng.nextInt(5) == 0).toSet
    val updates = keys.take(24).filterNot(dels).filter(_ => rng.nextInt(4) == 0)
      .map(k => k -> text()).toMap
    val fresh = (24 until 30).map(i => s"k$i" -> text()).toMap
    val b1 = keys.zipWithIndex.map { case (k, i) => DocChange(k, i.toLong, "put", first(k)) }
    val b2 = dels.toSeq.map(k => DocChange(k, 100L, "delete", "")) ++
      (updates ++ fresh).toSeq.map { case (k, t) => DocChange(k, 101L, "put", t) }
    val tmp = Files.createTempDirectory("graft_readEq").toString
    val (postings, shingles) = (tmp + "/postings", tmp + "/shingles")
    for (b <- Seq(b1, b2)) {
      IncrementalPostings.mergeBatch(spark, b.toDF(), postings)
      IncrementalShingles.mergeBatch(spark, b.toDF(), shingles)
    }
    (postings, shingles, (first -- dels) ++ updates ++ fresh)
  }

  private def keysOf(df: DataFrame): Set[String] =
    df.select("rowkey").collect().map(_.getString(0)).toSet

  /** Corpus-scoped BM25 (or TF-IDF) over the live docs in Spark — the
    * distributed plan the maintained reads used to run. */
  private def rankedTwin(live: Map[String, String], terms: Seq[String], k: Int,
                         bm25: Boolean): Seq[(String, Double)] = {
    val docs = live.toSeq.toDF("doc_id", "text")
    val dl = docs.select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("dl"))
    val tf = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .join(terms.distinct.toDF("tok"), "tok")
      .groupBy("tok", "doc_id").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val contrib =
      if (bm25)
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
          (lit(2.2) * col("tf")) /
          (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))
      else col("tf") * log(col("n_docs") / col("df"))
    tf.join(df, "tok").join(dl, "doc_id").crossJoin(stats)
      .groupBy("doc_id").agg(round(sum(contrib), 4).as("score"))
      .orderBy(col("score").desc, col("doc_id")).limit(k)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toSeq
  }

  test("randomized: maintained reads equal brute force and the corpus-scoped twins") {
    for (seed <- Seq(3, 17)) {
      val (postings, shingles, live) = fixture(seed)
      val rng = new scala.util.Random(seed * 31)
      def pick(n: Int): Seq[String] = Seq.fill(n)(vocab(rng.nextInt(vocab.size)))
      val toks = live.map { case (k, t) => k -> t.split(" ").toSeq }
      def holding(p: Seq[String] => Boolean): Set[String] =
        toks.collect { case (k, ts) if p(ts) => k }.toSet
      val ctx = s"seed $seed"

      for (terms <- Seq(pick(1), pick(2), pick(2), pick(3))) {
        val got = IncrementalPostings.termSearch(spark, postings, terms)
        assert(fields(got) === docFields)
        assert(keysOf(got) === holding(ts => terms.forall(ts.contains)), s"$ctx term $terms")
      }
      for (phrase <- Seq(Seq("a", "a"), Seq("merge", "sort"), pick(2), pick(3))) {
        val got = keysOf(IncrementalPostings.phraseSearch(spark, postings, phrase))
        assert(got === holding(_.sliding(phrase.size).contains(phrase)), s"$ctx phrase $phrase")
      }
      for (term <- Seq("merg", "𝄞x", "Ａ", "zzz")) {
        // Spark's code-point edit distance over the live vocabulary
        val near = toks.values.flatten.toSeq.distinct.toDF("tok")
          .filter(levenshtein(col("tok"), lit(term)) <= 1)
          .collect().map(_.getString(0)).toSet
        val got = keysOf(IncrementalPostings.fuzzySearch(spark, postings, term, 1))
        assert(got === holding(_.exists(near)), s"$ctx fuzzy $term")
      }
      for (prefix <- Seq("m", "😀", "é")) {
        val got = keysOf(IncrementalPostings.wildcardSearch(spark, postings, prefix))
        assert(got === holding(_.exists(_.startsWith(prefix))), s"$ctx wildcard $prefix")
      }
      val mmTerms = Seq("a", "merge", "𝄞")
      val mm = IncrementalPostings.termSearchMinMatch(spark, postings, mmTerms, 2)
      assert(fields(mm) === docFields :+ ("n_matched" -> LongType))
      assert(mm.select("rowkey", "n_matched").collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap ===
        toks.map { case (k, ts) => k -> mmTerms.count(ts.contains).toLong }
          .filter(_._2 >= 2), s"$ctx minMatch")
      val groups = Seq(Seq("merge", "😀"), Seq("a", "Ａx"))
      assert(keysOf(IncrementalPostings.termSearchGroups(spark, postings, groups)) ===
        holding(ts => groups.forall(_.exists(ts.contains))), s"$ctx groups")

      for (terms <- Seq(Seq("merge", "sort"), Seq("a"), pick(3))) {
        val got = IncrementalPostings.bm25Search(spark, postings, terms, 8)
        assert(fields(got) === Seq("doc_id" -> StringType, "score" -> DoubleType))
        assert(got.collect().map(r => r.getString(0) -> r.getDouble(1)).toSeq ===
          rankedTwin(live, terms, 8, bm25 = true), s"$ctx bm25 $terms")
        assert(IncrementalPostings.tfidfSearch(spark, postings, terms, 8).collect()
            .map(r => r.getString(0) -> r.getDouble(1)).toSeq ===
          rankedTwin(live, terms, 8, bm25 = false), s"$ctx tfidf $terms")
      }
      // the tied pair ranks in UTF-8 byte order: U+FF21 before U+1F600
      val tied = IncrementalPostings.bm25Search(spark, postings, Seq("merge", "sort"), 50)
        .collect().map(_.getString(0)).toSeq
      assert(tied.indexOf("kＡ") + 1 === tied.indexOf("k😀"), s"$ctx $tied")

      for (probe <- Seq(live("kＡ"), live.values.toSeq.sorted.head, "a b c merge sort")) {
        val q = IncrementalShingles.WordShingles.sketchLocal(probe).distinct
        val want = live.toSeq.flatMap { case (k, t) =>
          val b = IncrementalShingles.WordShingles.sketchLocal(t).distinct
          val c = b.count(q.toSet).toLong
          if (c == 0) None else Some((k, c, b.size.toLong))
        }.toDF("rowkey", "c", "nb")
          .select(col("rowkey"),
            round(col("c") / (col("nb") + lit(q.size.toLong) - col("c")), 4).as("jaccard"))
          .filter(col("jaccard") >= 0.3)
          .orderBy(col("jaccard").desc, col("rowkey"))
          .collect().map(r => r.getString(0) -> r.getDouble(1)).toSeq
        val got = IncrementalShingles.nearDuplicates(spark, shingles, probe, 0.3)
        assert(fields(got) === Seq("rowkey" -> StringType, "jaccard" -> DoubleType))
        assert(got.collect().map(r => r.getString(0) -> r.getDouble(1)).toSeq === want,
          s"$ctx neardup '$probe'")
      }

      // unknown terms answer empty, in the read's own schema
      val none = Seq("no-such-term")
      for ((df, schema) <- Seq(
          IncrementalPostings.termSearch(spark, postings, none) -> docFields,
          IncrementalPostings.phraseSearch(spark, postings, none :+ "a") -> docFields,
          IncrementalPostings.fuzzySearch(spark, postings, "qqqqqqqq", 1) -> docFields,
          IncrementalPostings.bm25Search(spark, postings, none) ->
            Seq("doc_id" -> StringType, "score" -> DoubleType),
          IncrementalShingles.nearDuplicates(spark, shingles, "no such words here") ->
            Seq("rowkey" -> StringType, "jaccard" -> DoubleType))) {
        assert(fields(df) === schema)
        assert(df.collect().isEmpty, s"$ctx ${df.schema}")
      }
    }
  }

  test("single-field ranked reads refuse a multi-field root; phrase refuses a positions-free root") {
    val tmp = Files.createTempDirectory("graft_readRefuse").toString
    IncrementalPostings.mergeBatchFields(spark,
      Seq(("1", 0L, "put", "merge sort", "a b")).toDF("rowkey", "event_id", "op", "title", "body"),
      tmp + "/fields", Seq("title", "body"))
    for (read <- Seq(
        () => IncrementalPostings.bm25Search(spark, tmp + "/fields", Seq("merge")),
        () => IncrementalPostings.tfidfSearch(spark, tmp + "/fields", Seq("merge")))) {
      val ex = intercept[IllegalStateException](read().collect())
      assert(ex.getMessage.contains("multi-field root"), ex.getMessage)
    }
    IncrementalPostings.mergeBatch(spark,
      Seq(DocChange("1", 0, "put", "a a b"), DocChange("2", 1, "put", "b a")).toDF(),
      tmp + "/nopos", keepPositions = false)
    for (phrase <- Seq(Seq("a", "a"), Seq("b", "a"))) {
      val ex = intercept[IllegalStateException](
        IncrementalPostings.phraseSearch(spark, tmp + "/nopos", phrase).collect())
      assert(ex.getMessage.contains("no position payload"), ex.getMessage)
    }
  }
}
