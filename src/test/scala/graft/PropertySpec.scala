package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.operators.{Analyzer, Changelog}

/** Property tests (SURVEY.md §5 item 5): compaction idempotence and
  * permutation-invariance over random changelogs (scalacheck generators
  * driven from fixed seeds — deterministic, no scalatestplus bridge
  * needed). */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private val eventGen = for {
    user <- Gen.choose(0L, 5L)
    etype <- Gen.oneOf("click", "view", "error", "signup")
    value <- Gen.choose(0.0, 100.0)
  } yield (user, etype, value)

  private val logGen: Gen[List[(Long, String, Double)]] =
    Gen.listOfN(30, eventGen)

  private def sampleLogs(n: Int): Seq[List[(Long, String, Double)]] =
    (1 to n).map(i => logGen.pureApply(Gen.Parameters.default, Seed(i.toLong)))

  private def df(rows: Seq[(Long, Long, String, Double)]) =
    rows.map { case (id, u, t, v) => (id, id * 1000L, u, t, v, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")

  test("compaction output has exactly one row per surviving rowkey") {
    for (log <- sampleLogs(5)) {
      val rows = log.zipWithIndex.map { case ((u, t, v), i) => (i.toLong, u, t, v) }
      val state = Changelog.indexState(df(rows)).collect()
      assert(state.map(_.getAs[String]("rowkey")).distinct.length === state.length)
      // survivors = users whose max-event_id row isn't delete-class
      val expect = rows.groupBy(_._2).collect {
        case (u, es) if es.maxBy(_._1)._3 != "error" => u.toString
      }.toSet
      assert(state.map(_.getAs[String]("rowkey")).toSet === expect)
    }
  }

  test("compaction is invariant to input row order") {
    val rnd = new scala.util.Random(7)
    for (log <- sampleLogs(5)) {
      val rows = log.zipWithIndex.map { case ((u, t, v), i) => (i.toLong, u, t, v) }
      val a = Changelog.indexState(df(rows)).collect().toSet
      val b = Changelog.indexState(df(rnd.shuffle(rows))).collect().toSet
      assert(a === b)
    }
  }

  test("bucketed incremental merges converge for random changelogs, chunkings, and orders") {
    // Any partition of any changelog into micro-batches, delivered in any
    // order, must land the bucketed state exactly where one full
    // compaction lands — with a bucket count small enough that batches
    // collide in buckets and some buckets stay untouched.
    import graft.streaming.IncrementalIndex
    val rnd = new scala.util.Random(11)
    for ((log, i) <- sampleLogs(3).zipWithIndex) {
      val rows = log.zipWithIndex.map { case ((u, t, v), j) => (j.toLong, u, t, v) }
      val ev = df(rows).select(
        col("user_id").cast("string").as("rowkey"), col("event_id"),
        when(col("event_type") === "error", "delete").otherwise("put").as("op"),
        col("value").as("payload"))
      val base = java.nio.file.Files.createTempDirectory(s"graft_prop$i")
        .toString + "/state"
      val groups = rows.map(_._1).groupBy(_ => rnd.nextInt(4)).values.toSeq
      rnd.shuffle(groups).foreach { ids =>
        IncrementalIndex.mergeBatch(spark,
          ev.filter(col("event_id").isin(ids: _*)), base, numBuckets = 4)
      }
      def m(d: org.apache.spark.sql.DataFrame): Map[String, (Long, Double)] =
        d.collect().map(r => r.getAs[String]("rowkey") ->
          (r.getAs[Long]("event_id"), r.getAs[Double]("payload"))).toMap
      assert(m(IncrementalIndex.readState(spark, base)) ===
        m(IncrementalIndex.compact(ev)))
    }
  }

  test("bucket placement: the column and its driver twin agree on random keys") {
    // merges place rows by the column and Gets resolve buckets by the
    // driver twin: a key on which the two disagree is silently missed
    import graft.streaming.StateStore
    val char = Gen.frequency(4 -> Gen.alphaNumChar, 1 -> Gen.const(' '),
      2 -> Gen.choose('\u00e0', '\u00ff'), 2 -> Gen.choose('\u4e00', '\u9fa5'))
    val keyGen = Gen.choose(0, 12).flatMap(Gen.listOfN(_, char)).map(_.mkString)
    val keys = (Seq("", " ", "\uD83D\uDE00", "clé", "键值") ++
      (1 to 300).map(i => keyGen.pureApply(Gen.Parameters.default, Seed(i.toLong)))).distinct
    val ids = (1 to 100).map(i => Gen.choose(Long.MinValue, Long.MaxValue)
      .pureApply(Gen.Parameters.default, Seed(i.toLong)))
    for (n <- Seq(1, 7, 16, 1024)) {
      val placed = keys.toDF("k").select(col("k"), StateStore.bucketOf(col("k"), n))
        .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
      keys.foreach(k =>
        assert(placed(k) === StateStore.bucketOf(k, n), s"key '$k' under $n buckets"))
      // numeric keys (the IVF id map's vec_id) place by their decimal form
      val placedIds = ids.toDF("k").select(col("k"), StateStore.bucketOf(col("k"), n))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      ids.foreach(k =>
        assert(placedIds(k) === StateStore.bucketOf(k.toString, n), s"id $k under $n buckets"))
    }
  }

  test("near-dup probe: self-match at 1.0 and true-Jaccard scores over random corpora") {
    import graft.streaming.IncrementalShingles
    def shingleSet(text: String): Set[String] = {
      val t = text.split(" ").filter(_.nonEmpty)
      if (t.length < 3) Set.empty[String]
      else t.sliding(3).map(_.mkString(" ")).toSet
    }
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta")
    val docGen = for {
      n <- Gen.choose(1, 8)
      ws <- Gen.listOfN(n, Gen.oneOf(vocab))
    } yield ws.mkString(" ")
    for (seed <- 1 to 3) {
      val texts = Gen.listOfN(12, docGen)
        .pureApply(Gen.Parameters.default, Seed(seed.toLong))
      val root = java.nio.file.Files
        .createTempDirectory(s"graft_probeP$seed").toString + "/sh"
      IncrementalShingles.mergeBatch(spark,
        texts.zipWithIndex.map { case (t, i) => DocChange(i.toString, i.toLong, "put", t) }
          .toDF(), root)
      val byId = texts.zipWithIndex.map { case (t, i) => i.toString -> t }.toMap
      val probed = byId.toSeq.sortBy(_._1).filter(p => shingleSet(p._2).nonEmpty).take(3)
      assert(probed.nonEmpty, s"seed $seed generated no shingleable docs")
      for ((qid, qt) <- probed) {
        val got = IncrementalShingles.nearDuplicates(spark, root, qt, threshold = 0.3)
          .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
        // a document is always its own near-duplicate
        assert(got.get(qid).contains(1.0),
          s"self-match missing for doc $qid ('$qt') in seed $seed: $got")
        // every reported score is the true Jaccard of the two shingle sets
        for ((rid, j) <- got) {
          val a = shingleSet(qt); val b = shingleSet(byId(rid))
          val inter = (a & b).size
          val truth = inter.toDouble / (a.size + b.size - inter)
          assert(math.abs(j - truth) < 5e-5,
            s"score mismatch for ($qid,$rid) in seed $seed: got $j, true $truth")
          assert(truth >= 0.3 - 5e-5, s"($qid,$rid) below threshold in seed $seed")
        }
      }
    }
  }

  test("candidate budget yields a subset of the exact probe with identical scores, per-doc and batch") {
    // The budget bounds candidate GENERATION only: every (candidate,
    // score) a budgeted probe returns must appear, with the SAME score,
    // in the exact probe's result — and a budget larger than the corpus
    // degenerates to the exact probe verbatim. Holds for any corpus, any
    // budget, both probe forms (their selection rules differ — driver
    // fold vs windowed pre-dedup total — but both only ever shrink the
    // candidate set).
    import graft.streaming.IncrementalShingles
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta")
    val docGen = for {
      n <- Gen.choose(3, 9)
      ws <- Gen.listOfN(n, Gen.oneOf(vocab))
    } yield ws.mkString(" ")
    for (seed <- 1 to 3) {
      val texts = Gen.listOfN(14, docGen)
        .pureApply(Gen.Parameters.default, Seed(100L + seed))
      val root = java.nio.file.Files
        .createTempDirectory(s"graft_budP$seed").toString + "/sh"
      IncrementalShingles.mergeBatch(spark,
        texts.zipWithIndex.map { case (t, i) => DocChange(i.toString, i.toLong, "put", t) }
          .toDF(), root)
      val queries = texts.take(3)
      for (qt <- queries; budget <- Seq(1, 3, 10000)) {
        val exact = IncrementalShingles
          .nearDuplicates(spark, root, qt, threshold = 0.3)
          .collect().map(r => (r.getString(0), r.getDouble(1))).toSet
        val bud = IncrementalShingles
          .nearDuplicates(spark, root, qt, threshold = 0.3,
            maxCandidates = budget)
          .collect().map(r => (r.getString(0), r.getDouble(1))).toSet
        assert(bud.subsetOf(exact),
          s"seed $seed budget $budget: budgeted pairs ${bud -- exact} not in exact")
        if (budget == 10000)
          assert(bud === exact, s"seed $seed: generous budget must equal exact")
      }
      val batchDf = queries.zipWithIndex.map { case (t, i) => (s"q$i", t) }
        .toDF("qid", "text")
      val exactB = IncrementalShingles
        .nearDuplicatesBatch(spark, root, batchDf, threshold = 0.3)
        .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
      for (budget <- Seq(1, 3, 10000)) {
        val budB = IncrementalShingles
          .nearDuplicatesBatch(spark, root, batchDf, threshold = 0.3,
            maxCandidates = budget)
          .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
        assert(budB.subsetOf(exactB),
          s"seed $seed batch budget $budget: ${budB -- exactB} not in exact")
        if (budget == 10000)
          assert(budB === exactB, s"seed $seed: generous batch budget must equal exact")
      }
    }
  }

  test("cjk bigram invariants hold for random space-free BMP text") {
    // For any space-free text of n >= 2 code points: exactly n-1 tokens,
    // every token is 2 chars, adjacent tokens overlap by one char, and
    // concatenating first chars + last token reconstructs the text.
    val hanGen = Gen.listOfN(12, Gen.choose(0x4e00, 0x9fff)).map(
      cps => cps.map(_.toChar).mkString)
    val samples = (1 to 25).map(i =>
      hanGen.pureApply(Gen.Parameters.default, Seed(i.toLong)))
    val rows = samples.toDF("text")
      .select(col("text"), Analyzer.Cjk.tokens(col("text")).as("t"))
      .collect()
    rows.foreach { r =>
      val text = r.getString(0)
      val toks = r.getSeq[String](1)
      assert(toks.length === text.length - 1)
      assert(toks.forall(_.length == 2))
      toks.sliding(2).foreach {
        case Seq(x, y) => assert(x(1) === y(0)); case _ =>
      }
      assert(toks.map(_.head).mkString + toks.last(1) === text)
    }
  }

  /** The gate's full rule, recomputed independently with plain Scala
    * sets: per-rowkey latest-event decisions, exact-Jaccard state dedup
    * with the self-exemption, intra-batch pairs dropping the novel
    * member (larger-keyed when both novel, neither when both updates),
    * deletes passing through — parameterized by the sketch scheme, so
    * the SAME independent model checks the word and the space-free
    * families (the model compares sets from `scheme.sketchLocal`, whose
    * parity with the column expression is pinned separately). */
  private def gateAgreesWithModel(scheme: graft.streaming.IncrementalShingles.SketchScheme,
                                  docGen: Gen[String], seedBase: Long): Unit = {
    import graft.streaming.IncrementalShingles
    def shingles(t: String): Set[String] = scheme.sketchLocal(t).toSet
    def jac(a: String, b: String): Double = {
      val (sa, sb) = (shingles(a), shingles(b))
      val inter = (sa & sb).size
      if (inter == 0) 0.0
      else BigDecimal(inter.toDouble / (sa.size + sb.size - inter))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val thr = 0.5
    for (seed <- 1 to 3) {
      val texts = Gen.listOfN(14, docGen)
        .pureApply(Gen.Parameters.default, Seed(seedBase + seed))
      val stateTexts = texts.take(8).zipWithIndex.map { case (t, i) => i.toString -> t }
      val root = java.nio.file.Files
        .createTempDirectory(s"graft_gateP${scheme.name}$seed").toString + "/sh"
      IncrementalShingles.mergeBatch(spark,
        stateTexts.map { case (id, t) => DocChange(id, id.toLong, "put", t) }.toDF(),
        root, scheme = scheme)
      // batch: novel ids, updates of existing ids (one with two events),
      // and a delete
      val bt = texts.drop(8)
      val batch = Seq(
        DocChange("n0", 20, "put", bt(0)),
        DocChange("n1", 21, "put", bt(1)),
        DocChange("n2", 22, "put", bt(2)),
        DocChange("2", 23, "put", bt(3)),   // update
        DocChange("5", 24, "put", bt(4)),   // update, superseded below
        DocChange("5", 25, "put", bt(5)),   // update rewrite (latest wins)
        DocChange("7", 26, "delete", ""))
      val got = IncrementalShingles.dedupGate(spark, root, batch.toDF(), thr, scheme)
        .collect().map(r => (r.getAs[String]("rowkey"), r.getAs[String]("op"))).toSet

      // ---- independent model ----
      val state = stateTexts.toMap
      val latest = batch.filter(_.op == "put").groupBy(_.rowkey)
        .map { case (k, es) => k -> es.maxBy(_.event_id).text }
      val stateDup = latest.filter { case (k, t) =>
        state.exists { case (sk, st) => sk != k && jac(t, st) >= thr }
      }.keySet
      val survivors = latest.keySet -- stateDup
      val existing = survivors.filter(state.contains)
      val pairs = survivors.toSeq.sorted.combinations(2).filter {
        case Seq(a, b) => jac(latest(a), latest(b)) >= thr
        case _ => false
      }.toSeq
      val drops = pairs.flatMap { case Seq(da, db) =>
        if (!existing.contains(db)) Seq(db)
        else if (!existing.contains(da)) Seq(da)
        else Seq.empty
      }.toSet
      val admitted = survivors -- drops
      val want = admitted.flatMap(k =>
        batch.filter(e => e.rowkey == k && e.op == "put").map(e => (k, "put"))) ++
        batch.filter(_.op == "delete").map(e => (e.rowkey, "delete"))
      assert(got === want, s"seed $seed: gate disagrees with the model\n" +
        s"state=$state\nlatest=$latest\nstateDup=$stateDup drops=$drops")
      // invariant: no admitted pair involving a novel doc is a near-dup
      for (Seq(a, b) <- admitted.toSeq.sorted.combinations(2)
           if !(existing.contains(a) && existing.contains(b)))
        assert(jac(latest(a), latest(b)) < thr,
          s"seed $seed: admitted near-dup pair ($a,$b)")
    }
  }

  test("dedupGate semantics hold over random corpora and batches (independent driver-side model)") {
    // Small vocab → frequent collisions.
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")
    val docGen = for {
      n <- Gen.choose(2, 7)
      ws <- Gen.listOfN(n, Gen.oneOf(vocab))
    } yield ws.mkString(" ")
    gateAgreesWithModel(graft.streaming.IncrementalShingles.WordShingles, docGen, 100L)
  }

  test("dedupGate semantics hold for the space-free scheme (same model in sketch space)") {
    // Random han strings over a SIX-character alphabet, 8–25 chars:
    // shared 5-grams are frequent, so state dups and intra-batch pairs
    // both occur — the same independent model, in char-sketch space.
    val alphabet = "天地玄黄宇宙".toVector
    val docGen = for {
      n <- Gen.choose(8, 25)
      cs <- Gen.listOfN(n, Gen.oneOf(alphabet))
    } yield cs.mkString
    gateAgreesWithModel(graft.streaming.IncrementalShingles.CharSketch, docGen, 400L)
  }

  test("driver-local shingler equals the column expression on random (and degenerate) text") {
    // The per-doc probe shingleizes its one query string on the driver
    // (no Spark job); its output must be byte-identical to the column
    // expression the index's WRITE side uses, or probe and state would
    // disagree about what a shingle is. Generator includes empty tokens,
    // runs of spaces, short texts, and the empty string — exactly the
    // split(" ", -1) edge cases.
    import graft.streaming.IncrementalShingles
    val tokenGen = Gen.oneOf("alpha", "beta", "gamma", "", "x9", "δ", "a b".substring(0, 1))
    val textGen = for {
      n <- Gen.choose(0, 10)
      ws <- Gen.listOfN(n, tokenGen)
    } yield ws.mkString(" ")
    val texts = (Gen.listOfN(80, textGen)
      .pureApply(Gen.Parameters.default, Seed(42L)) :+ "" :+ " " :+ "  " :+ "a b c")
    val viaColumn = texts.zipWithIndex.map { case (t, i) => (i, t) }
      .toDF("i", "text")
      .select(col("i"), IncrementalShingles.shingleize(col("text")).as("sh"))
      .collect().map(r => r.getInt(0) -> r.getSeq[String](1)).toMap
    for ((t, i) <- texts.zipWithIndex)
      assert(viaColumn(i) === IncrementalShingles.shingleizeLocal(t),
        s"shingler drift on text '$t'")
  }

  test("semantic gate semantics hold over random vector batches (independent driver-side model)") {
    // The embedding-cosine admission gate, driven end-to-end through the
    // pipeline (batch 0 trains the index AND intra-batch-dedups itself;
    // batch 1 probes the maintained state) and checked against a
    // plain-Scala model of the full rule: state dups by max non-self
    // cosine ≥ τ, sign-LSH-blocked intra-batch pairs among survivors,
    // novel member dropped (updates never), dup_of = best match /
    // smallest partner. nlist == probes, so the probed search is exact
    // and the model needs no recall caveat; the model replicates the
    // LSH blocking (a cross-bucket pair is invisible to BOTH sides).
    import graft.streaming.IngestPipeline
    val dim = 8
    def unit(parts: (Int, Float)*): Seq[Float] = {
      val a = Array.fill(dim)(0f); parts.foreach { case (i, v) => a(i) = v }; a.toSeq
    }
    // library of unit vectors with cosines in {0, 0.6, 0.8, 0.96, 1.0}:
    // rich enough for state dups, intra-batch pairs, and non-dups
    val lib = Vector(
      unit(0 -> 1f), unit(1 -> 1f), unit(2 -> 1f), unit(3 -> 1f),
      unit(0 -> 0.6f, 1 -> 0.8f), unit(0 -> 0.8f, 1 -> 0.6f),
      unit(2 -> 0.6f, 3 -> 0.8f), unit(2 -> 0.8f, 3 -> 0.6f))
    val thr = 0.9
    def cos(a: Seq[Float], b: Seq[Float]): Double =
      a.zip(b).foldLeft(0.0)((acc, p) => acc + p._1.toDouble * p._2.toDouble)
    def bucket(v: Seq[Float]): Int =
      (0 until 8).map(d => if (v(d) > 0f) 1 << d else 0).sum
    for (seed <- 1 to 3) {
      val picks = Gen.listOfN(14, Gen.choose(0, lib.size - 1))
        .pureApply(Gen.Parameters.default, Seed(9000L + seed))
        .map(lib)
      // texts pairwise shingle-disjoint: the TEXT gate admits everything,
      // isolating the semantic verdicts
      def txt(k: Long) = s"tok${k}a tok${k}b tok${k}c"
      val root = java.nio.file.Files
        .createTempDirectory(s"graft_semP$seed").toString + "/pipe"
      def applyS(id: Long, changes: Seq[VecDocChange]): Unit =
        IngestPipeline.applyBatch(spark, changes.toDF(), root, id,
          threshold = 0.5, annNlist = 2, annIters = 1,
          semanticThreshold = Some(thr), semanticProbes = 2)
      // ---- batch 0: ids 0..7, all novel ----
      val b0ids = (0L to 7L).toSeq
      applyS(0, b0ids.map(k => VecDocChange(k.toString, k, "put", txt(k), picks(k.toInt))))
      val v0 = b0ids.map(k => k -> picks(k.toInt)).toMap
      val drops0 = (for {
        Seq(da, db) <- b0ids.combinations(2)
        if bucket(v0(da)) == bucket(v0(db)) && cos(v0(da), v0(db)) >= thr
      } yield db -> da).toSeq.groupBy(_._1).map { case (k, ps) => k -> ps.map(_._2).min }
      val a0 = b0ids.filterNot(drops0.contains).toSet
      val log0 = IngestPipeline.admissionLog(spark, root)
        .filter(col("batch_id") === 0).collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
      assert(log0 === b0ids.map(k =>
        if (drops0.contains(k)) (k.toString, "semantic_dup", drops0(k).toString)
        else (k.toString, "admitted", null)).toSet,
        s"seed $seed batch 0: gate disagrees with the model (picks=$picks)")
      // ---- batch 1: novel 20..22, updates of 2 and 5, delete of 7 ----
      val batch1 = Seq(
        VecDocChange("20", 20, "put", txt(20), picks(8)),
        VecDocChange("21", 21, "put", txt(21), picks(9)),
        VecDocChange("22", 22, "put", txt(22), picks(10)),
        VecDocChange("2", 23, "put", txt(2), picks(11)),
        VecDocChange("5", 24, "put", txt(5), picks(12)),  // superseded
        VecDocChange("5", 25, "put", txt(5), picks(13)),  // latest wins
        VecDocChange("7", 26, "delete", "", Nil))
      applyS(1, batch1)
      val latest1 = Map(20L -> picks(8), 21L -> picks(9), 22L -> picks(10),
        2L -> picks(11), 5L -> picks(13))
      val stored = a0.map(k => k -> v0(k)).toMap // pre-merge index incl. 7
      val stateDup1 = latest1.flatMap { case (k, v) =>
        val best = stored.toSeq.filter(_._1 != k)
          .map { case (sk, sv) => (sk, cos(v, sv)) }
          .filter(_._2 >= thr)
          .sortBy { case (sk, c) => (-c, sk) }.headOption
        best.map(b => k -> b._1)
      }
      val surv1 = latest1.keySet -- stateDup1.keySet
      val drops1 = (for {
        Seq(da, db) <- surv1.toSeq.sorted.combinations(2)
        if bucket(latest1(da)) == bucket(latest1(db)) &&
          cos(latest1(da), latest1(db)) >= thr
        dropped <- (stored.contains(da), stored.contains(db)) match {
          case (_, false)    => Seq(db -> da) // db novel: drop it
          case (false, true) => Seq(da -> db) // only da novel: drop da
          case _             => Seq.empty     // both updates: keep both
        }
      } yield dropped).toSeq.groupBy(_._1).map { case (k, ps) => k -> ps.map(_._2).min }
      val log1 = IngestPipeline.admissionLog(spark, root)
        .filter(col("batch_id") === 1).collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
      assert(log1 === latest1.keySet.map(k =>
        if (stateDup1.contains(k)) (k.toString, "semantic_dup", stateDup1(k).toString)
        else if (drops1.contains(k)) (k.toString, "semantic_dup", drops1(k).toString)
        else (k.toString, "admitted", null)).toSet,
        s"seed $seed batch 1: gate disagrees with the model (picks=$picks)")
      // ---- the maintained index holds exactly the admitted live set ----
      val admitted1 = latest1.keySet -- stateDup1.keySet -- drops1.keySet
      val wantIds = (a0 - 7L) ++ admitted1
      assert(spark.read.parquet(IngestPipeline.vectorsRoot(root) + "/vectors")
        .select("vec_id").collect().map(_.getLong(0)).toSet === wantIds,
        s"seed $seed: index content diverged")
    }
  }

  test("driver-local char sketch equals the column expression on random space-free text") {
    // The CJK probe's driver-side twin of Dedup.charSketch: byte-identical
    // output (same gram set, same md5 hex, same sort, same bottom-k), or
    // probe and maintained sketch state would disagree. Lengths straddle
    // the bottom-k cap (50 grams = 54 chars) and the 5-char minimum, and
    // the alphabet mixes BMP han with SUPPLEMENTARY (Extension-B)
    // ideographs — two UTF-16 units each — to pin the code-point
    // semantics both sides must share.
    import graft.operators.Dedup
    val hanGen = for {
      n <- Gen.choose(0, 80)
      cps <- Gen.listOfN(n, Gen.frequency(
        4 -> Gen.choose(0x4e00, 0x9fff),
        1 -> Gen.choose(0x20000, 0x2a6df)))
    } yield cps.flatMap(Character.toChars(_)).mkString
    val texts = ((1 to 60).map(i =>
      hanGen.pureApply(Gen.Parameters.default, Seed(7000L + i)))
      :+ "" :+ "abcd" :+ "abcde" :+ "我爱北京天安门广场"
      :+ new String(Array(0x20B9F, 0x20BB7, 0x4E00, 0x20BBF, 0x9FFF, 0x20C00)
        .flatMap(Character.toChars(_))))
    val viaColumn = texts.zipWithIndex.map { case (t, i) => (i, t) }
      .toDF("i", "text")
      .select(col("i"), Dedup.charSketch(col("text")).as("sk"))
      .collect().map(r => r.getInt(0) -> r.getSeq[String](1)).toMap
    for ((t, i) <- texts.zipWithIndex)
      assert(viaColumn(i) === Dedup.charSketchLocal(t),
        s"char-sketch drift on text '$t'")
  }

  test("bootstrap equals one gated batch on random corpora (every state, every verdict)") {
    // Pins the initial-load path to the stream's semantics: bootstrap
    // with the gate armed must produce the SAME admission verdicts and
    // the SAME three-state content as the identical corpus pushed
    // through one gated applyBatch on an empty root — so 'bulk then
    // stream' can never diverge from 'stream from the start'. Random
    // corpora over a colliding vocab with repeated rowkeys (updates)
    // and sprinkled deletes.
    import graft.streaming.{IncrementalIndex, IncrementalPostings, IngestPipeline}
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta")
    val docGen = for {
      n <- Gen.choose(2, 6)
      ws <- Gen.listOfN(n, Gen.oneOf(vocab))
    } yield ws.mkString(" ")
    for (seed <- 1 to 3) {
      val texts = Gen.listOfN(18, docGen)
        .pureApply(Gen.Parameters.default, Seed(7000L + seed))
      val keys = Gen.listOfN(18, Gen.choose(1, 9))
        .pureApply(Gen.Parameters.default, Seed(7100L + seed))
      val ops = Gen.listOfN(18, Gen.frequency(8 -> "put", 2 -> "delete"))
        .pureApply(Gen.Parameters.default, Seed(7200L + seed))
      val corpus = texts.lazyZip(keys).lazyZip(ops).toList.zipWithIndex.map {
        case ((t, k, op), i) =>
          DocChange(k.toString, i.toLong, op, if (op == "delete") "" else t)
      }
      val rootA = java.nio.file.Files
        .createTempDirectory(s"graft_bootP$seed").toString + "/pipe"
      val rootB = java.nio.file.Files
        .createTempDirectory(s"graft_bootQ$seed").toString + "/pipe"
      IngestPipeline.bootstrap(spark, corpus.toDF(), rootA, dedupWithin = Some(0.5))
      IngestPipeline.applyBatch(spark, corpus.toDF(), rootB, 0, threshold = 0.5)
      def state(r: String): Set[(String, String)] =
        IncrementalIndex.readState(spark, IngestPipeline.stateRoot(r))
          .select("rowkey", "text").collect()
          .map(x => (x.getString(0), x.getString(1))).toSet
      def postings(r: String, root: String => String): Set[(String, Seq[String])] =
        IncrementalPostings.postings(spark, root(r))
          .collect().map(x => (x.getString(0), x.getSeq[String](1))).toSet
      def verdicts(r: String): Set[(String, String, String)] =
        IngestPipeline.admissionLog(spark, r).collect()
          .map(x => (x.getString(0), x.getString(1), x.getString(2))).toSet
      assert(verdicts(rootA) === verdicts(rootB),
        s"seed $seed: bootstrap and gated batch decided differently")
      assert(state(rootA) === state(rootB), s"seed $seed: row state diverged")
      assert(postings(rootA, IngestPipeline.postingsRoot) ===
        postings(rootB, IngestPipeline.postingsRoot),
        s"seed $seed: postings diverged")
      assert(postings(rootA, IngestPipeline.shingleRoot) ===
        postings(rootB, IngestPipeline.shingleRoot),
        s"seed $seed: shingle index diverged")
    }
  }

  test("rollup convergence: any chunking of any random changelog equals recompute") {
    // The rollup's core claim — per-touched-bucket partials collapse to
    // exactly the full-recompute aggregate — for random put/delete
    // changelogs with colliding keys, random chunk boundaries, sums and
    // HLL sketches included (cardinalities small enough that the HLL
    // estimate is exact, so equality is strict).
    import graft.streaming.{IncrementalIndex, IncrementalRollup}
    val rnd = new scala.util.Random(23)
    val opGen = for {
      user <- Gen.choose(0L, 7L)
      del <- Gen.prob(0.25)
      g <- Gen.oneOf("a", "b", "c")
      v <- Gen.choose(1, 9)
      u <- Gen.oneOf("u1", "u2", "u3", "u4")
    } yield (user, del, g, v.toDouble, u)
    for (seed <- 1 to 4) {
      val ops = Gen.listOfN(40, opGen)
        .pureApply(Gen.Parameters.default, Seed(seed.toLong))
        .zipWithIndex.map { case ((user, del, g, v, u), i) =>
          (user.toString, i.toLong, if (del) "delete" else "put", g, v, u)
        }
      val rows = ops.toDF("rowkey", "event_id", "op", "g", "v", "u")
      val base = java.nio.file.Files.createTempDirectory(s"graft_prop_ru$seed")
      val st = base.toString + "/state"
      val sp = IncrementalRollup.Spec(base.toString + "/rollup", Seq("g"),
        Some("v"), Some("u"))
      // random chunk boundaries over the event range
      val cuts = (Seq(0, 40) ++ Seq.fill(2)(rnd.nextInt(40))).distinct.sorted
      cuts.zip(cuts.tail).foreach { case (lo, hi) =>
        IncrementalIndex.mergeBatch(spark,
          rows.filter(col("event_id") >= lo && col("event_id") < hi), st,
          numBuckets = 4, rollup = Some(sp))
      }
      val maintained = IncrementalRollup.read(spark, sp).collect()
        .map(r => r.getAs[String]("g") -> (r.getAs[Long]("n"),
          r.getAs[Double]("sum_v"), r.getAs[Long]("n_distinct_u"))).toMap
      val expect = IncrementalIndex.readState(spark, st)
        .groupBy("g").agg(count(lit(1)).as("n"), sum("v").as("s"),
          countDistinct("u").as("d")).collect()
        .map(r => r.getAs[String]("g") -> (r.getAs[Long]("n"),
          r.getAs[Double]("s"), r.getAs[Long]("d"))).toMap
      assert(maintained === expect, s"seed $seed")
    }
  }

  test("percolation: compiled and join strategies agree on random docs and registries") {
    import graft.operators.Percolate
    val vocab = Seq("spark", "join", "merge", "scan", "sort", "table", "row")
    val docGen = for {
      n <- Gen.choose(1, 6)
      ws <- Gen.listOfN(n, Gen.oneOf(vocab))
    } yield ws.mkString(" ")
    val qGen = for {
      nAll <- Gen.choose(0, 2)
      nAny <- Gen.choose(if (nAll == 0) 1 else 0, 2)
      nNone <- Gen.choose(0, 1)
      all <- Gen.listOfN(nAll, Gen.oneOf(vocab))
      any <- Gen.listOfN(nAny, Gen.oneOf(vocab))
      none <- Gen.listOfN(nNone, Gen.oneOf(vocab))
    } yield (all, any, none)
    for (seed <- 1 to 4) {
      val texts = Gen.listOfN(15, docGen)
        .pureApply(Gen.Parameters.default, Seed(seed.toLong))
      val qs = Gen.listOfN(4, qGen)
        .pureApply(Gen.Parameters.default, Seed(100L + seed))
        .zipWithIndex.map { case ((a, y, n), i) =>
          Percolate.StoredQuery(s"q$i", a, y, n) }
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      val joined = pairs(Percolate.matchesBool(docs, qs))
      val compiled = pairs(Percolate.matchesCompiledBool(docs, qs))
      assert(joined === compiled, s"seed $seed: strategies diverged")
      // and both agree with a driver-side model
      val model = (for {
        (t, i) <- texts.zipWithIndex
        toks = t.split(" ").toSet
        q <- qs
        if q.all.forall(toks) && (q.any.isEmpty || q.any.exists(toks)) &&
          !q.none.exists(toks)
      } yield (i.toLong, q.id)).toSet
      assert(joined === model, s"seed $seed: strategies diverged from model")
    }
  }
}
