package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.operators.{Hybrid, IvfIndex}
import graft.streaming.IncrementalPostings

/** Hybrid BM25 ⊕ vector retrieval (RRF fusion) over maintained state. */
class HybridSpec extends SparkSpec {
  import spark.implicits._

  test("RRF fusion ranks a doc first that NEITHER leg ranks first") {
    val tmp = Files.createTempDirectory("graft_hyb").toString
    val postings = tmp + "/postings"
    val ivf = tmp + "/ivf"
    // Lexical: A wins (tf 3+1), C second (tf 1+1), B absent (no term).
    // Vector (qv = [1,0]): B wins (sim 1.0), C second (0.8); legDepth=2
    // drops A from the vector leg. Fusion: C = 1/62 + 1/62 ≈ 0.0323
    // beats A = B = 1/61 ≈ 0.0164 — consensus outranks either champion,
    // the property that makes RRF fusion an operator and not a concat.
    IncrementalPostings.mergeBatch(spark, Seq(
      ("1", 1L, "put", "merge merge merge sort pad"),
      ("2", 2L, "put", "zzz yyy xxx"),
      ("3", 3L, "put", "merge sort pad")
    ).toDF("rowkey", "event_id", "op", "text"), postings)
    IvfIndex.build(Seq(
      (1L, Array(0f, 1f)),
      (2L, Array(1f, 0f)),
      (3L, Array(0.8f, 0.6f))
    ).toDF("vec_id", "embedding"), ivf, nlist = 2, iters = 2)
    val fused = Hybrid.hybridSearchMaintained(spark, postings, ivf,
      terms = Seq("merge", "sort"), qv = Seq(1f, 0f), probes = 2,
      legDepth = 2)
      .select("doc_id", "bm25_rank", "vec_rank", "rrf").collect()
    val order = fused.map(_.getLong(0)).toSeq
    assert(order === Seq(3L, 1L, 2L),
      s"RRF must rank the consensus doc (3) over each leg's own #1, got $order")
    val byId = fused.map(r =>
      r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(byId(3L) === ((2L, 2L)), "doc 3 is rank 2 in BOTH legs")
    assert(byId(1L) === ((1L, 0L)), "doc 1: lexical #1, absent from vector leg")
    assert(byId(2L) === ((0L, 1L)), "doc 2: vector #1, absent from lexical leg")
    // each leg alone would have led with its own champion — 1 and 2 —
    // and the fused head is neither
    assert(order.head != 1L && order.head != 2L)
  }

  test("an absent leg contributes exactly 0, never a rank-0 reciprocal") {
    val tmp = Files.createTempDirectory("graft_hyb0").toString
    val postings = tmp + "/postings"
    val ivf = tmp + "/ivf"
    IncrementalPostings.mergeBatch(spark, Seq(
      ("7", 1L, "put", "merge sort")
    ).toDF("rowkey", "event_id", "op", "text"), postings)
    IvfIndex.build(Seq((8L, Array(1f, 0f)))
      .toDF("vec_id", "embedding"), ivf, nlist = 1, iters = 1)
    val got = Hybrid.hybridSearchMaintained(spark, postings, ivf,
      terms = Seq("merge"), qv = Seq(1f, 0f), probes = 1)
      .select("doc_id", "rrf").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // 1/(60+1) rounded to 6 dp — a doc absent from one leg scores the
    // OTHER leg's reciprocal only (0-filled rank never enters the sum,
    // which would wrongly add 1/60)
    val one = BigDecimal(1.0 / 61).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      .toDouble
    assert(got === Map(7L -> one, 8L -> one))
  }

  test("vectorsForIds: keyed fetch opens only the ids' own cells; absent ids yield no row") {
    val tmp = Files.createTempDirectory("graft_hybv").toString
    val ivf = tmp + "/ivf"
    // two well-separated clusters so the trained cells split them
    val vecs = (0L until 8L).map(i =>
      (i, if (i < 4) Array(1f, 0.01f * i) else Array(-1f, 0.01f * i)))
    IvfIndex.build(vecs.toDF("vec_id", "embedding"), ivf, nlist = 2, iters = 3)
    val got = IvfIndex.vectorsForIds(spark, ivf,
      Seq(1L, 2L, 99L).toDF("vec_id"))
    val rows = got.collect()
    assert(rows.map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L),
      "exactly the present ids, absent id 99 yields no row")
    // both requested ids live in the SAME cluster → one cell dir opened
    val cellFiles = got.inputFiles.filter(_.contains("/vectors/"))
    assert(cellFiles.nonEmpty)
    assert(cellFiles.map(f => f.split("/vectors/")(1).split("/")(0)).toSet.size === 1,
      s"fetch of two same-cluster ids must open ONE cell dir, got $cellFiles")
    // the result schema is the STORED one on every code path — the empty
    // path must not inherit the caller's vec_id type (round-13 ADVICE:
    // an INT-typed id frame made empty and non-empty results disagree)
    val stored = got.schema
    val emptyViaInts = IvfIndex.vectorsForIds(spark, ivf,
      Seq(999).toDF("vec_id"))   // INT ids, no hit → empty branch
    assert(emptyViaInts.schema === stored,
      s"empty-path schema ${emptyViaInts.schema} must equal stored $stored")
    val freshRoot = Files.createTempDirectory("graft_hybv2").toString + "/ivf"
    IvfIndex.build(vecs.toDF("vec_id", "embedding"), freshRoot,
      nlist = 2, iters = 1)
    val emptyNoLive = IvfIndex.vectorsForIds(spark, freshRoot,
      spark.emptyDataFrame.withColumn("vec_id", lit(1)).limit(0)
        .select(col("vec_id").cast("int").as("vec_id")))
    assert(emptyNoLive.schema === stored,
      "the no-matching-bucket empty path must also carry the stored schema")
    // INT-typed ids still FETCH (the keyed join casts, not the caller)
    assert(IvfIndex.vectorsForIds(spark, ivf, Seq(1, 2).toDF("vec_id"))
      .collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L))
  }

  test("rerank reorders the lexical candidates by vector score; a deleted candidate drops") {
    val tmp = Files.createTempDirectory("graft_hybr").toString
    val postings = tmp + "/postings"
    val ivf = tmp + "/ivf"
    // lexical order: A (tf 3) > C (tf 2) > B (tf 1); vector scores flip
    // it: B ~1.0 > C ~0.8 > A ~0.0. D matches lexically but is DELETED
    // from the index → dropped from the rerank entirely.
    IncrementalPostings.mergeBatch(spark, Seq(
      ("1", 1L, "put", "merge merge merge x"),
      ("2", 2L, "put", "merge y"),
      ("3", 3L, "put", "merge merge z"),
      ("4", 4L, "put", "merge merge merge merge w")
    ).toDF("rowkey", "event_id", "op", "text"), postings)
    IvfIndex.build(Seq(
      (1L, Array(0f, 1f)), (2L, Array(1f, 0f)),
      (3L, Array(0.8f, 0.6f)), (4L, Array(1f, 0.1f))
    ).toDF("vec_id", "embedding"), ivf, nlist = 1, iters = 2)
    IvfIndex.delete(spark, ivf, Seq(4L).toDF("vec_id"))
    val cand = IncrementalPostings.bm25Search(spark, postings, Seq("merge"), k = 4)
      .select(col("doc_id").cast("long").as("vec_id"))
    val got = IvfIndex.vectorsForIds(spark, ivf, cand)
      .select(col("vec_id"),
        graft.functions.VecDotFloat.vec_dot(col("embedding"),
          typedlit(Seq(1f, 0f))).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .collect().map(_.getLong(0)).toSeq
    assert(got === Seq(2L, 3L, 1L),
      s"rerank must order by vector sim (B > C > A) and drop deleted D, got $got")
  }

  test("rerankMaintained: public face reranks + drops deleted; consistent=true matches default and an interleaved commit retries once") {
    val tmp = Files.createTempDirectory("graft_hybrm").toString
    val postings = tmp + "/postings"
    val ivf = tmp + "/ivf"
    IncrementalPostings.mergeBatch(spark, Seq(
      ("1", 1L, "put", "merge merge merge x"),
      ("2", 2L, "put", "merge y"),
      ("3", 3L, "put", "merge merge z"),
      ("4", 4L, "put", "merge merge merge merge w")
    ).toDF("rowkey", "event_id", "op", "text"), postings)
    IvfIndex.build(Seq(
      (1L, Array(0f, 1f)), (2L, Array(1f, 0f)),
      (3L, Array(0.8f, 0.6f)), (4L, Array(1f, 0.1f))
    ).toDF("vec_id", "embedding"), ivf, nlist = 1, iters = 2)
    IvfIndex.delete(spark, ivf, Seq(4L).toDF("vec_id"))
    // default read: vector order (2 > 3 > 1), deleted 4 dropped, and the
    // lexical rank rides along for the consumer
    val got = Hybrid.rerankMaintained(spark, postings, ivf,
      Seq("merge"), Seq(1f, 0f), candDepth = 4)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got.map(_._1) === Seq("2", "3", "1"),
      s"rerank must order by vector sim and drop deleted 4, got $got")
    assert(got.map(_._2).forall(_ > 0L), s"bm25_rank must ride along: $got")
    // consistent = true on quiet roots: identical rows (the mode only
    // adds stamp validation around the same read)
    val cons = Hybrid.rerankMaintained(spark, postings, ivf,
      Seq("merge"), Seq(1f, 0f), candDepth = 4, consistent = true)
      .collect().map(_.toString).toSeq
    assert(cons === Hybrid.rerankMaintained(spark, postings, ivf,
      Seq("merge"), Seq(1f, 0f), candDepth = 4)
      .collect().map(_.toString).toSeq)
    // the one-epoch interleaving case on the RERANK read shape: a commit
    // interleaved with the first attempt costs exactly one retry, and the
    // successful attempt's candidates are the post-commit epoch's
    var calls = 0
    val (cand, _) = Hybrid.oneEpoch(spark, Seq(postings, ivf), maxRetries = 3) {
      calls += 1
      val out = Hybrid.rerankRead(spark, postings, ivf, Seq("merge"), 10)
      if (calls == 1)
        IncrementalPostings.mergeBatch(spark, Seq(
          ("9", 9L, "put", "merge nine")
        ).toDF("rowkey", "event_id", "op", "text"), postings)
      out
    }
    assert(calls === 2, s"one interleaved commit must cost exactly one retry, got $calls")
    assert(cand.select("doc_id").collect().map(_.getString(0)).toSet
      .contains("9"), "the successful attempt must see the post-commit epoch")
    // canonical-numeric-rowkey contract: a non-numeric candidate id fails
    // LOUDLY (never a silent drop — the vector store keys by LONG)
    IncrementalPostings.mergeBatch(spark, Seq(
      ("x1", 20L, "put", "merge noncanonical")
    ).toDF("rowkey", "event_id", "op", "text"), postings)
    val ex = intercept[IllegalArgumentException] {
      Hybrid.rerankMaintained(spark, postings, ivf, Seq("merge"), Seq(1f, 0f))
    }
    assert(ex.getMessage.contains("canonical numeric rowkeys"), ex.getMessage)
  }

  test("two-root reads racing a mutation fuse MIXED-EPOCH, never torn (coherence contract)") {
    // The documented contract (Hybrid.maintainedLegs): the two state
    // roots swap at different instants, so a hybrid read interleaved
    // with a batch that writes both roots fuses each leg from its OWN
    // snapshot — no error, no partial-bucket read, each leg internally
    // consistent. Simulated here literally: read the lexical leg, commit
    // a merge to BOTH roots between the leg reads, then read the vector
    // leg and fuse.
    val tmp = Files.createTempDirectory("graft_hybe").toString
    val postings = tmp + "/postings"
    val ivf = tmp + "/ivf"
    IncrementalPostings.mergeBatch(spark, Seq(
      ("1", 1L, "put", "merge sort pad"),
      ("2", 2L, "put", "merge merge sort")
    ).toDF("rowkey", "event_id", "op", "text"), postings)
    IvfIndex.build(Seq(
      (1L, Array(1f, 0f)), (2L, Array(0.8f, 0.6f))
    ).toDF("vec_id", "embedding"), ivf, nlist = 1, iters = 1)
    // leg 1 READ: materialize the lexical ranking at epoch 0
    val (bm0, _) = Hybrid.maintainedLegs(spark, postings, ivf,
      Seq("merge", "sort"), Seq(1f, 0f), probes = 1, legDepth = 10)
    val bmRows = bm0.collect()   // the pre-batch snapshot, pinned
    val bmSnap = spark.createDataFrame(
      spark.sparkContext.parallelize(bmRows.toIndexedSeq), bm0.schema)
    // the racing batch commits to BOTH roots between the leg reads:
    // doc 1 is deleted everywhere, doc 3 arrives everywhere
    IncrementalPostings.mergeBatch(spark, Seq(
      ("1", 3L, "delete", null.asInstanceOf[String]),
      ("3", 4L, "put", "merge sort sort")
    ).toDF("rowkey", "event_id", "op", "text"), postings)
    IvfIndex.delete(spark, ivf, Seq(1L).toDF("vec_id"))
    IvfIndex.upsert(spark, ivf, Seq((3L, Array(0.9f, 0.43589f)))
      .toDF("vec_id", "embedding"))
    // leg 2 READ at epoch 1, then fuse across the epochs
    val (_, v1) = Hybrid.maintainedLegs(spark, postings, ivf,
      Seq("merge", "sort"), Seq(1f, 0f), probes = 1, legDepth = 10)
    val fused = Hybrid.rrfFuse(bmSnap, v1)
      .select("doc_id", "bm25_rank", "vec_rank").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // doc 1: lexical epoch still ranks it; deleted from the vector root
    // → vec_rank 0, exactly as if the vector leg had not matched — the
    // documented absent-leg semantics, never an error or a ghost row
    assert(fused(1L)._1 > 0L && fused(1L)._2 === 0L,
      s"deleted-between-legs doc must fuse as vector-absent, got $fused")
    // doc 3: arrived between the legs — vector leg only
    assert(fused(3L)._1 === 0L && fused(3L)._2 > 0L,
      s"arrived-between-legs doc must fuse as lexical-absent, got $fused")
    // doc 2 lives in both epochs: both legs contribute
    assert(fused(2L)._1 > 0L && fused(2L)._2 > 0L)
  }

  test("one-epoch mode: an interleaved commit triggers a retry, sustained commits fail loudly, default unchanged") {
    val tmp = Files.createTempDirectory("graft_hyb1e").toString
    val postings = tmp + "/postings"
    val ivf = tmp + "/ivf"
    IncrementalPostings.mergeBatch(spark, Seq(
      ("1", 1L, "put", "merge sort pad"),
      ("2", 2L, "put", "merge merge sort")
    ).toDF("rowkey", "event_id", "op", "text"), postings)
    IvfIndex.build(Seq(
      (1L, Array(1f, 0f)), (2L, Array(0.8f, 0.6f))
    ).toDF("vec_id", "embedding"), ivf, nlist = 1, iters = 1)
    def legs() = {
      val (bm, v) = Hybrid.maintainedLegs(spark, postings, ivf,
        Seq("merge", "sort"), Seq(1f, 0f), probes = 1, legDepth = 10)
      (bm, v)
    }
    def mutate(eid: Long): Unit =
      IncrementalPostings.mergeBatch(spark, Seq(
        ("9", eid, "put", s"merge filler$eid")
      ).toDF("rowkey", "event_id", "op", "text"), postings)
    // a commit interleaved with the FIRST read attempt forces exactly one
    // retry: the second attempt sees stable stamps and returns its own
    // single-epoch legs (the doc committed mid-read is visible in them —
    // it landed before the successful attempt's first stamp)
    var calls = 0
    val (bm, _) = Hybrid.oneEpoch(spark, Seq(postings, ivf), maxRetries = 3) {
      calls += 1
      val out = legs()
      val pinned = (out._1.localCheckpoint(), out._2.localCheckpoint())
      if (calls == 1) mutate(10L)
      pinned
    }
    assert(calls === 2, s"one interleaved commit must cost exactly one retry, got $calls")
    assert(bm.collect().map(_.getLong(0)).toSet === Set(1L, 2L, 9L),
      "the successful attempt's legs must be the post-commit epoch")
    // a writer committing on EVERY attempt exhausts the retries and fails
    // loudly — one-epoch under sustained writes is a scheduling decision,
    // not something the engine should fake by spinning
    var eid = 20L
    val ex = intercept[IllegalStateException] {
      Hybrid.oneEpoch(spark, Seq(postings, ivf), maxRetries = 2) {
        eid += 1; mutate(eid); legs()
      }
    }
    assert(ex.getMessage.contains("stable epoch"), ex.getMessage)
    // the public surface: consistent = true fuses identically to the
    // default on a quiet root (same legs, same fusion — the mode only
    // adds validation), and the default path never stats a version stamp
    val quiet = Hybrid.hybridSearchMaintained(spark, postings, ivf,
      Seq("merge", "sort"), Seq(1f, 0f), probes = 1, consistent = true)
      .collect().map(_.toString).toSeq
    val default = Hybrid.hybridSearchMaintained(spark, postings, ivf,
      Seq("merge", "sort"), Seq(1f, 0f), probes = 1)
      .collect().map(_.toString).toSeq
    assert(quiet === default)
  }

  /** A maintained read's frame opens files, all of them under the
    * postings or IVF state roots and none a corpus parquet. */
  private def assertStateRootsOnly(frame: org.apache.spark.sql.DataFrame,
                                   name: String): Unit = {
    val inputs = frame.inputFiles
    assert(inputs.nonEmpty, name)
    for (f <- inputs)
      assert(f.contains("/postings/") || f.contains("/ivf/"),
        s"$name read outside the postings/IVF state roots: $f")
    assert(!inputs.exists(_.contains("/testdata/")),
      s"$name must never scan a corpus parquet")
  }

  test("the maintained twins read ONLY the two state roots — no corpus file") {
    val dir = "/root/testdata/sf0.001"
    // The twins consume the SHARED persisted leg pair, so their fused
    // plans read cached blocks, not files; the only file-reading stage is
    // the leg build itself — pin THAT to the two state roots. Same legs,
    // same roots, same parameters as the shared seam.
    val qv = Tables.embeddings(spark, dir).filter(col("vec_id") === 100)
      .head().getSeq[Float](1)
    val postings = graft.operators.Index.maintainedFixture(spark, dir)
    val terms = Seq("merge", "sort")
    val (bm, v) = Hybrid.maintainedLegs(spark, postings,
      graft.operators.Vectors.annFixture(spark, dir),
      terms, qv, graft.operators.Vectors.AnnFixtureNlist, 50)
    // the bm25 leg ranks its collected rows on the driver: its answer is
    // a local relation that reads no file, so the rule is pinned on each
    // frame the leg collects — the query terms' posting rows and the hit
    // docs' length fetch — and on the vector leg's own plan
    assert(bm.inputFiles.isEmpty, bm.inputFiles.mkString(", "))
    val hitIds = IncrementalPostings.postingRows(spark, postings, terms)
      .collect().map(_.getString(1)).toSet
    assert(hitIds.nonEmpty)
    for ((leg, name) <- Seq(
        (IncrementalPostings.postingRows(spark, postings, terms), "bm25 leg's posting rows"),
        (IncrementalPostings.lengthFetch(spark, postings, hitIds), "bm25 leg's length fetch"),
        (v, "vector leg")))
      assertStateRootsOnly(leg, name)
    // and the fused twins add NO file read of their own (legs persisted)
    for (key <- Seq("q_hybrid_maintained", "q_hybrid_weighted_maintained",
        "q_hybrid_rerank_maintained")) {
      val inputs = Hybrid.queries(key)(spark, dir).inputFiles
      assert(!inputs.exists(_.contains("/testdata/")),
        s"$key must never scan a corpus parquet")
      for (f <- inputs)
        assert(f.contains("/postings/") || f.contains("/ivf/"),
          s"$key read outside the postings/IVF state roots: $f")
    }
    // the PUBLIC rerank face obeys the same pin: candidates come
    // materialized (no file read in the returned plan's lexical side)
    // and the only files are the IVF store's — never a corpus parquet
    val rr = Hybrid.rerankMaintained(spark,
      graft.operators.Index.maintainedFixture(spark, dir),
      graft.operators.Vectors.annFixture(spark, dir),
      Seq("merge", "sort"), qv)
    val rrInputs = rr.inputFiles
    assert(!rrInputs.exists(_.contains("/testdata/")),
      "rerankMaintained must never scan a corpus parquet")
    for (f <- rrInputs)
      assert(f.contains("/postings/") || f.contains("/ivf/"),
        s"rerankMaintained read outside the state roots: $f")
    assert(rr.count() > 0)
  }

  test("attrsForIds: keyed metadata fetch — stored attrs for exactly the ids, one cell opened, stored schema on every path") {
    val tmp = Files.createTempDirectory("graft_hyba").toString
    val ivf = tmp + "/ivf"
    val vecs = (0L until 8L).map(i =>
      (i, if (i < 4) Array(1f, 0.01f * i) else Array(-1f, 0.01f * i),
        if (i % 2 == 0) "even" else "odd"))
    IvfIndex.build(vecs.toDF("vec_id", "embedding", "grp"), ivf,
      nlist = 2, iters = 3, attrs = Seq("grp"))
    val got = IvfIndex.attrsForIds(spark, ivf, Seq(1L, 2L, 99L).toDF("vec_id"))
    assert(got.collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      === Seq((1L, "odd"), (2L, "even")),
      "exactly the present ids with their stored attrs; absent id 99 drops")
    // both requested ids live in the SAME cluster → one cell dir opened
    val cellFiles = got.inputFiles.filter(_.contains("/vectors/"))
    assert(cellFiles.map(f => f.split("/vectors/")(1).split("/")(0)).toSet.size === 1,
      s"fetch of two same-cluster ids must open ONE cell dir, got $cellFiles")
    // stored schema on the empty paths too (the _attrs_schema marker)
    val stored = got.schema
    assert(IvfIndex.attrsForIds(spark, ivf, Seq(999).toDF("vec_id")).schema
      === stored, "no-hit empty path must carry the stored schema")
    assert(IvfIndex.attrsForIds(spark, ivf,
        Seq.empty[Long].toDF("vec_id")).schema === stored,
      "empty-input path must carry the stored schema")
    // an attribute-less root fails loudly, never a zero-column frame
    val plain = tmp + "/plain"
    IvfIndex.build(vecs.map(v => (v._1, v._2)).toDF("vec_id", "embedding"),
      plain, nlist = 1, iters = 1)
    assertThrows[IllegalArgumentException] {
      IvfIndex.attrsForIds(spark, plain, Seq(1L).toDF("vec_id"))
    }
  }

  test("filtered hybrid: each leg fills its depth from MATCHING docs; docs absent from the attr store drop") {
    val tmp = Files.createTempDirectory("graft_hybf").toString
    val postings = tmp + "/postings"
    val ivf = tmp + "/ivf"
    // Unfiltered, both legs' top-2 would be docs 1 and 2 (grp 'a').
    // With the grp='b' predicate each leg must FILL depth 2 from the
    // matching docs 3 and 4 — post-filtering the unfiltered top-2 would
    // return nothing. Doc 5 is the strongest lexical match but absent
    // from the vector index entirely → no metadata → drops.
    IncrementalPostings.mergeBatch(spark, Seq(
      ("1", 1L, "put", "merge merge merge"),
      ("2", 2L, "put", "merge merge z"),
      ("3", 3L, "put", "merge y y"),
      ("4", 4L, "put", "merge w w"),
      ("5", 5L, "put", "merge merge merge merge")
    ).toDF("rowkey", "event_id", "op", "text"), postings)
    IvfIndex.build(Seq(
      (1L, Array(1f, 0f), "a"),
      (2L, Array(0.95f, 0.31225f), "a"),
      (3L, Array(0.8f, 0.6f), "b"),
      (4L, Array(0f, 1f), "b")
    ).toDF("vec_id", "embedding", "grp"), ivf,
      nlist = 1, iters = 2, attrs = Seq("grp"))
    val fused = Hybrid.hybridSearchFilteredMaintained(spark, postings, ivf,
      terms = Seq("merge"), qv = Seq(1f, 0f),
      predicate = col("grp") === "b", probes = 1, legDepth = 2)
      .select("doc_id", "bm25_rank", "vec_rank").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(fused.keySet === Set(3L, 4L),
      s"only grp='b' docs may surface (k-fill from matchers), got $fused")
    // lexical: 3 and 4 tie on score, string tie-break ranks 3 first;
    // vector: 3 (sim .8) over 4 (sim 0)
    assert(fused(3L) === ((1L, 1L)) && fused(4L) === ((2L, 2L)), s"$fused")
    // the FILTERED RERANK on the same fixture: candidates k-fill from
    // the matching docs (3, 4 — candDepth 2 of grp='b'; unfiltered the
    // candidates would be 1, 2 and post-filtering would return nothing),
    // then the vector re-score orders 3 (sim .8) over 4 (sim 0). Doc 5
    // (strongest lexical match, absent from the index) drops.
    val rr = Hybrid.rerankFilteredMaintained(spark, postings, ivf,
      terms = Seq("merge"), qv = Seq(1f, 0f),
      predicate = col("grp") === "b", candDepth = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(rr.map(_._1).toSeq === Seq("3", "4"),
      s"filtered rerank must k-fill from matchers and re-order by sim: $rr")
    assert(rr.map(_._2).toSeq === Seq(1L, 2L), s"bm25_rank must ride: $rr")
    // consistent = true on quiet roots: identical rows
    assert(Hybrid.rerankFilteredMaintained(spark, postings, ivf,
        Seq("merge"), Seq(1f, 0f), col("grp") === "b", candDepth = 2,
        consistent = true)
      .collect().map(_.toString).toSeq
      === rr.map(r => s"[${r._1},${r._2},${r._3}]").toSeq)
  }

  test("the filtered maintained twin reads ONLY the two state roots") {
    val dir = "/root/testdata/sf0.001"
    // pin the LEG plans (the file-reading stage — the fused twin serves
    // them persisted, so its own plan reads cached blocks, not files)
    val q = Tables.embeddings(spark, dir).filter(col("vec_id") === 100)
      .select("embedding", "label").head()
    val postings = graft.operators.Index.maintainedFixture(spark, dir)
    val ivf = graft.operators.Vectors.annFixture(spark, dir)
    val terms = Seq("merge", "sort")
    val predicate = col("label") === q.getInt(1)
    val (bm, v) = Hybrid.filteredLegs(spark, postings, ivf, terms,
      q.getSeq[Float](0), predicate,
      graft.operators.Vectors.AnnFixtureNlist, 50)
    // the filtered bm25 leg ranks its collected rows on the driver: its
    // answer is a local relation that reads no file, so the rule is
    // pinned on each frame the leg collects — the query terms' posting
    // rows, the candidates' attribute fetch, and the predicate
    // survivors' length fetch — and on the vector leg's own plan
    assert(bm.inputFiles.isEmpty, bm.inputFiles.mkString(", "))
    val candIds = IncrementalPostings.postingRows(spark, postings, terms)
      .collect().map(_.getString(1)).toSet
    val attrs = IvfIndex.attrsForIds(spark, ivf,
      candIds.toSeq.map(_.toLong).toDF("vec_id"))
    val survivors = attrs.filter(predicate).select("vec_id")
      .collect().map(_.getLong(0).toString).toSet
    assert(survivors.nonEmpty && survivors.size < candIds.size,
      s"the predicate must keep some candidates and drop others: ${survivors.size} of ${candIds.size}")
    for ((leg, name) <- Seq(
        (IncrementalPostings.postingRows(spark, postings, terms), "filtered bm25 leg's posting rows"),
        (attrs, "filtered bm25 leg's candidate attributes"),
        (IncrementalPostings.lengthFetch(spark, postings, survivors),
          "filtered bm25 leg's length fetch"),
        (v, "filtered vector leg")))
      assertStateRootsOnly(leg, name)
    // and the fused twin adds no corpus read of its own (legs persisted)
    val fusedInputs = Hybrid.queries("q_hybrid_filtered_maintained")(spark, dir)
      .inputFiles
    assert(!fusedInputs.exists(_.contains("/testdata/")),
      "q_hybrid_filtered_maintained must never scan a corpus parquet")
  }

  test("filtered lexical leg: non-canonical or non-numeric rowkeys fail LOUDLY, never drop or alias") {
    val tmp = Files.createTempDirectory("graft_hybk").toString
    val ivf = tmp + "/ivf"
    IvfIndex.build(Seq((1L, Array(1f, 0f), "a")).toDF("vec_id", "embedding", "grp"),
      ivf, nlist = 1, iters = 1, attrs = Seq("grp"))
    // "01" casts to long 1 and would silently read doc "1"'s metadata —
    // then re-stringified it would never match the postings' semi-join
    // and the doc would VANISH from the leg. The contract is a loud error.
    val nonCanonical = tmp + "/p1"
    IncrementalPostings.mergeBatch(spark, Seq(
      ("01", 1L, "put", "merge merge"),
      ("2", 2L, "put", "merge")
    ).toDF("rowkey", "event_id", "op", "text"), nonCanonical)
    val e1 = intercept[IllegalArgumentException] {
      Hybrid.filteredBmLeg(spark, nonCanonical, ivf, Seq("merge"),
        col("grp") === "a", legDepth = 2).collect()
    }
    assert(e1.getMessage.contains("canonical numeric rowkeys")
      && e1.getMessage.contains("01"), e1.getMessage)
    // a fully non-numeric rowkey casts to NULL — same loud error, never a
    // driver-side crash inside the attribute fetch
    val nonNumeric = tmp + "/p2"
    IncrementalPostings.mergeBatch(spark, Seq(
      ("doc-a", 1L, "put", "merge merge")
    ).toDF("rowkey", "event_id", "op", "text"), nonNumeric)
    val e2 = intercept[IllegalArgumentException] {
      Hybrid.filteredBmLeg(spark, nonNumeric, ivf, Seq("merge"),
        col("grp") === "a", legDepth = 2).collect()
    }
    assert(e2.getMessage.contains("canonical numeric rowkeys"), e2.getMessage)
    // and a CANONICAL root is untouched by the guard: the survivor's
    // original doc_id reaches the semi-join (long joined on both sides)
    val canonical = tmp + "/p3"
    IncrementalPostings.mergeBatch(spark, Seq(
      ("1", 1L, "put", "merge merge")
    ).toDF("rowkey", "event_id", "op", "text"), canonical)
    val ok = Hybrid.filteredBmLeg(spark, canonical, ivf, Seq("merge"),
      col("grp") === "a", legDepth = 2).collect()
    assert(ok.map(_.getLong(0)).toSeq === Seq(1L))
  }

  test("attrsForIds drops null input ids (no row can match a LONG key) instead of crashing") {
    val tmp = Files.createTempDirectory("graft_hybn").toString
    val ivf = tmp + "/ivf"
    IvfIndex.build(Seq((1L, Array(1f, 0f), "a"), (2L, Array(0f, 1f), "b"))
      .toDF("vec_id", "embedding", "grp"), ivf,
      nlist = 1, iters = 1, attrs = Seq("grp"))
    val ids = Seq(Some(1L), None, Some(2L)).toDF("vec_id")
    val got = IvfIndex.attrsForIds(spark, ivf, ids)
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(got === Seq((1L, "a"), (2L, "b")))
  }
}
