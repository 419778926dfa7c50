package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.streaming.{IncrementalIndex, IncrementalPostings, IncrementalShingles, IngestPipeline, StateStore}

/** A changelog row that also carries the document's vector — the
  * multimodal ingest shape ([[IngestPipeline.applyBatch]]'s optional
  * embedding column). `Nil` for deletes (the op decides; the payload is
  * ignored). */
case class VecDocChange(rowkey: String, event_id: Long, op: String,
                        text: String, embedding: Seq[Float])

/** A changelog row carrying an opaque MULTIMODAL payload (image/audio
  * bytes) beside the text — the full-record ingest shape: the row state
  * keeps the payload, the token states never see it. */
case class BinDocChange(rowkey: String, event_id: Long, op: String,
                        text: String, payload: Array[Byte])

/** The gated three-state pipeline must (a) advance the row-state index,
  * the inverted index, and the shingle index consistently under one gate,
  * (b) record every admission verdict durably, and (c) replay to the SAME
  * final states from any crash point — the logged decisions, not a fresh
  * gate run, drive the replay. */
class IngestPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def applyB(root: String, id: Long, changes: Seq[DocChange]): Unit =
    IngestPipeline.applyBatch(spark, changes.toDF(), root, id, threshold = 0.5)

  private def liveKeys(root: String): Set[String] =
    IncrementalIndex.readState(spark, IngestPipeline.stateRoot(root))
      .collect().map(_.getAs[String]("rowkey")).toSet

  private def logRows(root: String): Set[(String, String, String, Long)] =
    IngestPipeline.admissionLog(spark, root)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSet

  test("one gated batch advances all three states consistently; the log records every verdict") {
    val root = Files.createTempDirectory("graft_pipe1").toString + "/pipe"
    applyB(root, 0, Seq(
      DocChange("1", 0, "put", "alpha beta gamma delta"),
      DocChange("2", 1, "put", "totally different words entirely here")))
    // batch 1 exercises every verdict at once: a state dup, a novel doc,
    // an intra-batch near-dup pair (smaller key survives), and a delete
    applyB(root, 1, Seq(
      DocChange("3", 10, "put", "alpha beta gamma delta zeta"),
      DocChange("4", 11, "put", "unrelated fresh content nothing shared"),
      DocChange("5", 12, "put", "red green blue yellow purple"),
      DocChange("6", 13, "put", "red green blue yellow purple orange"),
      DocChange("2", 14, "delete", "")))
    // row state: admitted puts live, the delete applied, drops absent
    assert(liveKeys(root) === Set("1", "4", "5"))
    assert(IncrementalIndex.get(spark, IngestPipeline.stateRoot(root), Seq("4"))
      .count() === 1L)
    // inverted index: search-then-fetch sees only admitted docs
    val hits = IncrementalPostings.termSearch(spark,
        IngestPipeline.postingsRoot(root), Seq("unrelated", "fresh"))
      .select("rowkey").collect().map(_.getString(0)).toSet
    assert(hits === Set("4"))
    assert(IncrementalPostings.docsState(spark, IngestPipeline.postingsRoot(root))
      .filter(col("rowkey") === "3").count() === 0L)
    // shingle state: the dropped twin's text probes back to its survivor
    val probe = IncrementalShingles.nearDuplicates(spark,
        IngestPipeline.shingleRoot(root),
        "red green blue yellow purple orange", 0.5)
      .collect().map(_.getString(0)).toSet
    assert(probe === Set("5"))
    // the audit surface: one verdict per put rowkey per batch
    assert(logRows(root) === Set(
      ("1", "admitted", null, 0L), ("2", "admitted", null, 0L),
      ("3", "state_dup", "1", 1L), ("4", "admitted", null, 1L),
      ("5", "admitted", null, 1L), ("6", "batch_dup", "5", 1L)))
  }

  test("replay follows the LOGGED decisions even when a fresh gate would decide differently") {
    val root = Files.createTempDirectory("graft_pipe2").toString + "/pipe"
    applyB(root, 0, Seq(DocChange("a", 0, "put", "alpha beta gamma delta")))
    // batch 1 deletes the stored doc AND puts its near-duplicate: decided
    // against the pre-batch state, the put is a state_dup; decided against
    // the post-merge state (a gone), it would be admitted
    val batch1 = Seq(
      DocChange("a", 10, "delete", ""),
      DocChange("b", 11, "put", "alpha beta gamma delta zeta"))
    applyB(root, 1, batch1)
    assert(liveKeys(root) === Set.empty)
    // the counterfactual is real: re-deciding over the moved state admits b
    val fresh = IncrementalShingles.gateDecisions(spark,
        IngestPipeline.shingleRoot(root), batch1.toDF(), 0.5)
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(fresh("b") === "admitted")
    // ...but the checkpoint replay of batch 1 reuses the log: b stays out,
    // no second decision row appears, and every state is unchanged
    applyB(root, 1, batch1)
    assert(liveKeys(root) === Set.empty)
    assert(logRows(root) === Set(
      ("a", "admitted", null, 0L), ("b", "state_dup", "a", 1L)))
    assert(IncrementalPostings.docsState(spark, IngestPipeline.postingsRoot(root))
      .count() === 0L)
  }

  test("a crash between merges replays to the same final states as an uninterrupted run") {
    val base = Files.createTempDirectory("graft_pipe3").toString
    val crash = s"$base/crash"
    val clean = s"$base/clean"
    val b0 = Seq(
      DocChange("1", 0, "put", "alpha beta gamma delta"),
      DocChange("2", 1, "put", "totally different words entirely here"))
    val b1 = Seq(
      DocChange("3", 10, "put", "alpha beta gamma delta zeta"),
      DocChange("4", 11, "put", "novel unseen sentence with fresh tokens"))
    applyB(clean, 0, b0); applyB(clean, 1, b1)
    // crash run: batch 0 lands; batch 1 dies after the log + row-state
    // merge, before the postings and shingle merges
    applyB(crash, 0, b0)
    val decisions = IngestPipeline.decideAndLog(spark, b1.toDF(), crash, 1, 0.5,
      IncrementalShingles.WordShingles, admitIf = None)
    val gated = IncrementalShingles.gatedBatch(b1.toDF(), decisions).localCheckpoint()
    IncrementalIndex.mergeBatch(spark, gated, IngestPipeline.stateRoot(crash))
    // the replay re-runs the whole batch; every merge is idempotent under
    // the logged admitted set
    applyB(crash, 1, b1)
    def stateRows(root: String): Set[String] =
      IncrementalIndex.readState(spark, IngestPipeline.stateRoot(root))
        .select("rowkey", "event_id", "op", "text")
        .collect().map(_.toString).toSet
    def postingRows(root: String): Set[String] =
      IncrementalPostings.postings(spark, IngestPipeline.postingsRoot(root))
        .select(col("tok"), col("ids").cast("string"), col("df"), col("n"))
        .collect().map(_.toString).toSet
    def shingleRows(root: String): Set[String] =
      IncrementalShingles.shingleIndex(spark, IngestPipeline.shingleRoot(root),
          graft.operators.Dedup.DfCap)
        .select(col("s"), col("ids").cast("string"))
        .collect().map(_.toString).toSet
    assert(stateRows(crash) === stateRows(clean))
    assert(postingRows(crash) === postingRows(clean))
    assert(shingleRows(crash) === shingleRows(clean))
    assert(logRows(crash) === logRows(clean))
  }

  test("a flush cancelled in its merges throws, heals, and replays to an uncancelled run's states") {
    val base = Files.createTempDirectory("graft_pipeCancel").toString
    val cancelled = s"$base/cancelled"
    val clean = s"$base/clean"
    val b0 = Seq(
      DocChange("1", 0, "put", "alpha beta gamma delta"),
      DocChange("2", 1, "put", "totally different words entirely here"))
    val b1 = Seq(
      DocChange("3", 10, "put", "novel unseen sentence with fresh tokens"),
      DocChange("4", 11, "put", "another distinct line of plain words"),
      DocChange("1", 12, "delete", ""))
    applyB(clean, 0, b0); applyB(clean, 1, b1)
    applyB(cancelled, 0, b0)
    // once batch 1's verdicts are logged every job is a merge job: the
    // first one to start cancels the flush's group, and every later one
    val sc = spark.sparkContext
    val group = s"flush-cancel-${System.nanoTime()}"
    val logged = new java.io.File(s"$cancelled/admissions/batch=1")
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    val canceller = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (logged.isDirectory && fired.compareAndSet(false, true))
          sc.cancelJobGroupAndFutureJobs(group)
    }
    sc.addSparkListener(canceller)
    sc.setJobGroup(group, "a flush cancelled in its merges", interruptOnCancel = true)
    try intercept[Exception](applyB(cancelled, 1, b1))
    finally { sc.clearJobGroup(); sc.removeSparkListener(canceller) }
    assert(fired.get)
    val roots = Seq("state") ++
      Seq("postings", "shingles").flatMap(r => Seq("docs", "entries", "dstats").map(s"$r/" + _))
    for (r <- roots)
      assert(StateStore.liveBuckets(spark, s"$cancelled/$r").forall(_.matches("b=\\d+")), r)
    // the replay of the same batch id follows the logged verdicts
    applyB(cancelled, 1, b1)
    def leftovers(f: java.io.File): Seq[String] =
      if (Seq(".tmp", ".tmpbatch", ".old").exists(f.getName.endsWith)) Seq(f.getPath)
      else Option(f.listFiles()).toSeq.flatten.flatMap(leftovers)
    assert(leftovers(new java.io.File(cancelled)).isEmpty)
    // the rows of every bucket dir, by dir
    def rows(root: String, r: String): Map[String, Seq[String]] = {
      val dirs = StateStore.liveBuckets(spark, s"$root/$r")
      spark.read.parquet(dirs.map(d => s"$root/$r/$d"): _*)
        .withColumn("dir", regexp_extract(input_file_name(), "/(b=\\d+)/", 1))
        .collect().toSeq.groupBy(_.getAs[String]("dir"))
        .map { case (d, rs) => d -> rs.map(_.toString).sorted }
    }
    for (r <- roots) assert(rows(cancelled, r) === rows(clean, r), r)
    assert(logRows(cancelled) === logRows(clean))
  }

  test("admission-log GC drops only batches behind the replay horizon") {
    val root = Files.createTempDirectory("graft_pipe4").toString + "/pipe"
    applyB(root, 0, Seq(DocChange("1", 0, "put", "alpha beta gamma delta")))
    applyB(root, 1, Seq(DocChange("2", 1, "put", "totally different words entirely here")))
    IngestPipeline.gcAdmissions(spark, root, horizonBatchId = 1)
    assert(logRows(root) === Set(("2", "admitted", null, 1L)))
    // empty + missing roots are no-ops with schema-stable reads
    IngestPipeline.gcAdmissions(spark, root, horizonBatchId = 99)
    assert(IngestPipeline.admissionLog(spark, root).count() === 0L)
    assert(IngestPipeline.admissionLog(spark, s"$root/never_written").count() === 0L)
  }

  test("the quality gate rejects before the dedup probe and lands in the same audit log") {
    val root = Files.createTempDirectory("graft_pipeQ").toString + "/pipe"
    val floor = Some(size(split(col("text"), " ")) >= lit(4))
    def applyQ(id: Long, changes: Seq[DocChange]): Unit =
      IngestPipeline.applyBatch(spark, changes.toDF(), root, id, threshold = 0.5,
        admitIf = floor)
    applyQ(0, Seq(
      DocChange("1", 0, "put", "alpha beta gamma delta"),
      DocChange("2", 1, "put", "too short"), // under the 4-token floor
      DocChange("3", 2, "put", "totally different words entirely here")))
    // quality reject is out of every state AND never probed for dedup
    assert(liveKeys(root) === Set("1", "3"))
    assert(logRows(root) === Set(
      ("1", "admitted", null, 0L), ("2", "quality_reject", null, 0L),
      ("3", "admitted", null, 0L)))
    // a later batch: quality decided on the LATEST event (a superseded
    // short version must not veto its own rewrite); deletes untouched
    applyQ(1, Seq(
      DocChange("4", 10, "put", "short now"),
      DocChange("4", 11, "put", "long enough version of this document"),
      DocChange("1", 12, "delete", "")))
    assert(liveKeys(root) === Set("3", "4"))
    assert(IngestPipeline.admissionLog(spark, root)
      .filter(col("batch_id") === 1).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet ===
      Set(("4", "admitted")))
  }

  test("the pipeline is scheme-generic: a space-free (CJK) corpus gates and merges end-to-end") {
    val root = Files.createTempDirectory("graft_pipeC").toString + "/pipe"
    def applyC(id: Long, changes: Seq[DocChange]): Unit =
      IngestPipeline.applyBatch(spark, changes.toDF(), root, id, threshold = 0.5,
        tokenize = graft.operators.Analyzer.Cjk.tokens,
        scheme = IncrementalShingles.CharSketch,
        tokenizerName = Some(graft.operators.Analyzer.Cjk.name))
    // standing queries follow the pipeline's tokenizer marker: a bigram
    // term can only match if percolation analyzes the CJK way
    IngestPipeline.registerQueries(spark, root, Seq("alert_bj" -> Seq("北京")))
    applyC(0, Seq(
      DocChange("1", 0, "put", "我爱北京天安门广场上的人们每天清晨都会聚集"),
      DocChange("2", 1, "put", "完全不同的文本内容这里没有任何重复的部分存在")))
    applyC(1, Seq(
      DocChange("3", 10, "put", "我爱北京天安门广场上的人们每天清晨都会聚集啊")))
    assert(liveKeys(root) === Set("1", "2"))
    assert(logRows(root) === Set(
      ("1", "admitted", null, 0L), ("2", "admitted", null, 0L),
      ("3", "state_dup", "1", 1L)))
    // the postings state analyzed through the CJK tokenizer: bigram search
    // finds the admitted doc, and the dropped near-dup was never indexed
    val hits = IncrementalPostings.termSearch(spark,
        IngestPipeline.postingsRoot(root), Seq("我爱", "北京"))
      .select("rowkey").collect().map(_.getString(0)).toSet
    assert(hits === Set("1"))
    // the shingle state probes in sketch space
    assert(IncrementalShingles.nearDuplicatesChar(spark,
        IngestPipeline.shingleRoot(root),
        "我爱北京天安门广场上的人们每天清晨都会聚集啊", 0.5)
      .collect().map(_.getString(0)).toSet === Set("1"))
    // the CJK-analyzed alert fired for the admitted doc containing 北京
    // (and never for the dropped near-dup)
    val alerted = IngestPipeline.alerts(spark, root).collect()
      .map(r => (r.getAs[String]("rowkey"), r.getAs[String]("query_id"))).toSet
    assert(alerted === Set(("1", "alert_bj")))
  }

  test("facade: streamed ingest pipeline gates, merges, and serves every read surface") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[DocChange]
    val base = Files.createTempDirectory("graft_pipeApi").toString
    val pipe = s"$base/pipe"
    val fast = api.Graft(spark, "/root/testdata/sf0.001",
      GraftConfig.default.copy(commitIntervalSec = 1, firstDelaySec = 0))
    val query = fast.startIngestPipeline(source.toDF(), pipe, s"$base/ckpt",
      threshold = 0.5)
    try {
      source.addData(
        DocChange("1", 0, "put", "alpha beta gamma delta"),
        DocChange("2", 1, "put", "totally different words entirely here"))
      query.processAllAvailable()
      source.addData(
        DocChange("3", 10, "put", "alpha beta gamma delta zeta"),
        DocChange("2", 11, "delete", ""))
      query.processAllAvailable()
      assert(fast.getMaintained(IngestPipeline.stateRoot(pipe), Seq("1", "2", "3"))
        .collect().map(_.getAs[String]("rowkey")).toSet === Set("1"))
      assert(fast.searchMaintained(IngestPipeline.postingsRoot(pipe),
          Seq("alpha", "beta"))
        .select("rowkey").collect().map(_.getString(0)).toSet === Set("1"))
      val verdicts = fast.admissionLog(pipe)
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
      assert(verdicts === Set(("1", "admitted"), ("2", "admitted"),
        ("3", "state_dup")))
    } finally query.stop()
  }

  test("a multimodal payload column rides the gate into the row state and ONLY the row state") {
    val root = Files.createTempDirectory("graft_pipeBin").toString + "/pipe"
    val blob1 = Array.tabulate[Byte](64)(i => (i * 7).toByte)
    val blob2 = Array.tabulate[Byte](96)(i => (255 - i * 3).toByte)
    val batch = Seq(
      BinDocChange("1", 0, "put", "alpha beta gamma delta", blob1),
      // textually near-identical to doc 1 — the gate must drop it, so
      // its payload must never be stored anywhere
      BinDocChange("2", 1, "put", "alpha beta gamma delta eps", blob2),
      BinDocChange("3", 2, "put", "totally different words entirely here", blob2))
    IngestPipeline.applyBatch(spark, batch.toDF(), root, 0, threshold = 0.5)
    // the row state keeps the admitted payloads byte-identical
    val stored = IncrementalIndex.readState(spark, IngestPipeline.stateRoot(root))
      .select("rowkey", "payload").collect()
      .map(r => r.getString(0) -> r.getAs[Array[Byte]]("payload")).toMap
    assert(stored.keySet === Set("1", "3"))
    assert(stored("1").toSeq === blob1.toSeq && stored("3").toSeq === blob2.toSeq)
    // the token states carry no payload column at all — the TextCols
    // projection keeps blobs out of every inverted/shingle bucket
    Seq(IngestPipeline.postingsRoot(root) + "/docs",
        IngestPipeline.shingleRoot(root) + "/docs").foreach { p =>
      val dirs = graft.streaming.StateStore.liveBuckets(spark, p).map(d => s"$p/$d")
      val cols = spark.read.parquet(dirs: _*).columns.toSet
      assert(!cols.contains("payload"), s"payload leaked into $p")
    }
    // (doc 2's absence from the keySet above IS the dropped-blob proof)
  }

  test("maintainEvery runs the maintenance pass inside the stream's own loop") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[DocChange]
    val base = Files.createTempDirectory("graft_pipeMS").toString
    val pipe = s"$base/pipe"
    val fast = api.Graft(spark, "/root/testdata/sf0.001",
      GraftConfig.default.copy(commitIntervalSec = 1, firstDelaySec = 0))
    // maintenance after every 2nd batch; the source vouches that
    // everything is beyond replay (events) and batches < 1 are gone
    val query = fast.startIngestPipeline(source.toDF(), pipe, s"$base/ckpt",
      threshold = 0.5, maintainEvery = 2,
      maintainHorizons = _ => (Long.MaxValue, 1L))
    try {
      def tombstones(): Seq[String] = {
        val root = IngestPipeline.stateRoot(pipe)
        graft.streaming.StateStore.liveBuckets(spark, root)
          .map(d => s"$root/$d") match {
          case Nil => Nil
          case dirs => spark.read.parquet(dirs: _*)
            .filter(col("op") === "delete")
            .select("rowkey").collect().map(_.getString(0)).toSeq
        }
      }
      source.addData(
        DocChange("1", 0, "put", "alpha beta gamma delta"),
        DocChange("2", 1, "put", "totally different words entirely here"))
      query.processAllAvailable() // batch 0: no maintenance (id 0)
      source.addData(DocChange("2", 10, "delete", ""))
      query.processAllAvailable() // batch 1: tombstone lands, id odd
      assert(tombstones() === Seq("2"))
      source.addData(DocChange("3", 20, "put", "a third unrelated document body"))
      query.processAllAvailable() // batch 2: merges, THEN maintenance
      // the in-loop pass GC'd the tombstone and COMPACTED the batch-0 log
      // entries (the default preserves provenance; only the listing shrank)
      assert(tombstones().isEmpty)
      assert(liveKeys(pipe) === Set("1", "3"))
      assert(logRows(pipe).map(_._4) === Set(0L, 2L))
      val admDirs = new java.io.File(pipe + "/admissions").listFiles()
        .map(_.getName).filter(_.startsWith("batch")).toSet
      // batch=1 (delete-only, zero rows) is still replayable at horizon 1
      assert(admDirs === Set("batches=0-0", "batch=1", "batch=2"))
      // and the stream keeps going against the maintained state
      source.addData(DocChange("9", 30, "put", "alpha beta gamma delta"))
      query.processAllAvailable() // near-dup of doc 1 → gated out
      assert(liveKeys(pipe) === Set("1", "3"))
    } finally query.stop()
  }

  test("an embedding column keeps the IVF vector index current through the gate") {
    val root = Files.createTempDirectory("graft_pipeV").toString + "/pipe"
    val vroot = IngestPipeline.vectorsRoot(root)
    def applyV(id: Long, changes: Seq[VecDocChange]): Unit =
      IngestPipeline.applyBatch(spark, changes.toDF(), root, id, threshold = 0.5,
        annNlist = 2, annIters = 1)
    def vecState(): Set[(Long, Seq[Float])] =
      spark.read.parquet(vroot + "/vectors").collect()
        .map(r => (r.getAs[Long]("vec_id"), r.getAs[Seq[Float]]("embedding")))
        .toSet
    // batch 0 trains the quantizer on the first admitted puts
    applyV(0, Seq(
      VecDocChange("1", 0, "put", "alpha beta gamma delta", Seq(1f, 0f, 0f, 0f)),
      VecDocChange("2", 1, "put", "totally different words entirely here", Seq(0f, 1f, 0f, 0f)),
      VecDocChange("3", 2, "put", "a third unrelated document body text", Seq(0f, 0f, 1f, 0f))))
    assert(vecState().map(_._1) === Set(1L, 2L, 3L))
    // batch 1: re-embed doc 1 (an update — the gate's self-exemption
    // admits it), delete doc 2, admit a brand-new doc 4
    val b1 = Seq(
      VecDocChange("1", 10, "put", "alpha beta gamma delta", Seq(0f, 0f, 0f, 1f)),
      VecDocChange("2", 11, "delete", "", Nil),
      VecDocChange("4", 12, "put", "yet another fully distinct sentence", Seq(0.6f, 0.8f, 0f, 0f)))
    applyV(1, b1)
    val expected = Set(
      (1L, Seq(0f, 0f, 0f, 1f)),
      (3L, Seq(0f, 0f, 1f, 0f)),
      (4L, Seq(0.6f, 0.8f, 0f, 0f)))
    assert(vecState() === expected)
    // the text states saw the same admission decisions
    assert(liveKeys(root) === Set("1", "3", "4"))
    // similarity search is coherent with the update: the new embedding's
    // nearest neighbor is doc 1 itself
    assert(graft.operators.IvfIndex.search(spark, vroot, Seq(0f, 0f, 0f, 1f),
      k = 1, probes = 2).head().getLong(0) === 1L)
    // a replay of the same batch converges to the identical vector state
    applyV(1, b1)
    assert(vecState() === expected)
  }

  test("enableAnnPq retrofits the maintained index; later merges keep the codes current") {
    val root = Files.createTempDirectory("graft_pipePq").toString + "/pipe"
    val vroot = IngestPipeline.vectorsRoot(root)
    def applyV(id: Long, changes: Seq[VecDocChange]): Unit =
      IngestPipeline.applyBatch(spark, changes.toDF(), root, id, threshold = 0.5,
        annNlist = 2, annIters = 1)
    applyV(0, Seq(
      VecDocChange("1", 0, "put", "alpha beta gamma delta", Seq(1f, 0f, 0f, 0f)),
      VecDocChange("2", 1, "put", "totally different words entirely here", Seq(0f, 1f, 0f, 0f)),
      VecDocChange("3", 2, "put", "a third unrelated document body text", Seq(0f, 0f, 1f, 0f))))
    // one fenced maintenance action; the 4-d fixture takes a 2×2 spec
    IngestPipeline.enableAnnPq(spark, root,
      graft.operators.IvfIndex.PqSpec(m = 2, k = 2, iters = 1))
    assert(graft.operators.IvfIndex.pqEnabled(spark, vroot))
    // the NEXT merge maintains codes without being told anything
    applyV(1, Seq(
      VecDocChange("4", 10, "put", "yet another fully distinct sentence", Seq(0f, 0f, 0f, 1f)),
      VecDocChange("2", 11, "delete", "", Nil)))
    val stored = spark.read.parquet(vroot + "/vectors")
    assert(stored.filter(col("codes").isNull || size(col("codes")) =!= 2)
      .isEmpty, "a post-retrofit merge landed rows without codes")
    assert(stored.select("vec_id").collect().map(_.getLong(0)).toSet ===
      Set(1L, 3L, 4L))
    // the PQ read path serves the maintained state (full shortlist: exact)
    val hit = graft.operators.IvfIndex.searchPq(spark, vroot,
      Seq(0f, 0f, 0f, 1f), k = 1, probes = 2, shortlist = 1 << 10)
      .head().getLong(0)
    assert(hit === 4L)
    // the drift-path rebuild retrains rather than drops the codebooks
    graft.operators.IvfIndex.rebuild(spark, vroot, nlist = 2, iters = 1)
    assert(graft.operators.IvfIndex.pqEnabled(spark, vroot))
    assert(graft.operators.IvfIndex.searchPq(spark, vroot,
      Seq(0f, 0f, 0f, 1f), k = 1, probes = 2, shortlist = 1 << 10)
      .head().getLong(0) === 4L)
  }

  test("the semantic gate drops embedding near-dups the text gate cannot see") {
    val root = Files.createTempDirectory("graft_pipeS").toString + "/pipe"
    def applyS(id: Long, changes: Seq[VecDocChange]): Unit =
      IngestPipeline.applyBatch(spark, changes.toDF(), root, id, threshold = 0.5,
        annNlist = 2, annIters = 1, semanticThreshold = Some(0.9))
    val e1 = Seq(1f, 0f, 0f, 0f, 0f, 0f, 0f, 0f)
    val e3 = Seq(0f, 0f, 1f, 0f, 0f, 0f, 0f, 0f)
    // batch 0: docs 1 and 2 are textually unrelated but embedding-identical
    // (a paraphrase) — the intra-batch semantic pass admits only the
    // lower-keyed one even before any vector index exists
    applyS(0, Seq(
      VecDocChange("1", 0, "put", "alpha beta gamma delta", e1),
      VecDocChange("2", 1, "put", "totally different words entirely here", e1),
      VecDocChange("3", 2, "put", "a third unrelated document body text", e3)))
    assert(logRows(root) === Set(
      ("1", "admitted", null, 0L), ("2", "semantic_dup", "1", 0L),
      ("3", "admitted", null, 0L)))
    assert(liveKeys(root) === Set("1", "3"))
    // batch 1: doc 4 is textually novel but embedding-matches STORED doc 3
    // → semantic_dup against the maintained index; doc 1's re-put with its
    // own embedding is an update — self-exempt, admitted
    val b1 = Seq(
      VecDocChange("4", 10, "put", "yet another fully distinct sentence", e3),
      VecDocChange("1", 11, "put", "alpha beta gamma delta", e1))
    applyS(1, b1)
    def batch1Log(): Set[(String, String, String)] =
      IngestPipeline.admissionLog(spark, root).filter(col("batch_id") === 1)
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(batch1Log() === Set(("4", "semantic_dup", "3"), ("1", "admitted", null)))
    assert(liveKeys(root) === Set("1", "3"))
    assert(spark.read.parquet(IngestPipeline.vectorsRoot(root) + "/vectors")
      .select("vec_id").collect().map(_.getLong(0)).toSet === Set(1L, 3L))
    // a replay of the same batch follows the logged decisions verbatim
    applyS(1, b1)
    assert(batch1Log() === Set(("4", "semantic_dup", "3"), ("1", "admitted", null)))
    assert(liveKeys(root) === Set("1", "3"))
  }

  test("bootstrap equals the same corpus through the gated batch path, then hands off to the stream") {
    val rootA = Files.createTempDirectory("graft_pipeBa").toString + "/pipe"
    val rootB = Files.createTempDirectory("graft_pipeBb").toString + "/pipe"
    // a corpus with one exact intra-corpus dup (doc 3 of doc 1) and one
    // superseded put (doc 2's event 1 loses to event 4)
    val corpus = Seq(
      DocChange("1", 0, "put", "alpha beta gamma delta epsilon"),
      DocChange("2", 1, "put", "totally different words entirely here"),
      DocChange("3", 2, "put", "alpha beta gamma delta epsilon"),
      DocChange("4", 3, "put", "a third unrelated document body text"),
      DocChange("2", 4, "put", "the second document rewritten completely anew"))
    val report = IngestPipeline.bootstrap(spark, corpus.toDF(), rootA,
      dedupWithin = Some(0.5))
    assert(report === IngestPipeline.BootstrapReport(4, 3, 1))
    applyB(rootB, 0, corpus) // the same corpus as one gated stream batch
    // every maintained state is identical (same decisions, same merges)
    def state(r: String): Set[(String, String)] =
      IncrementalIndex.readState(spark, IngestPipeline.stateRoot(r))
        .select("rowkey", "text").collect()
        .map(x => (x.getString(0), x.getString(1))).toSet
    def postings(r: String, root: String => String): Set[(String, Seq[String])] =
      IncrementalPostings.postings(spark, root(r))
        .collect().map(x => (x.getString(0), x.getSeq[String](1))).toSet
    assert(state(rootA) === state(rootB))
    assert(postings(rootA, IngestPipeline.postingsRoot) ===
      postings(rootB, IngestPipeline.postingsRoot))
    assert(postings(rootA, IngestPipeline.shingleRoot) ===
      postings(rootB, IngestPipeline.shingleRoot))
    // same verdicts, logged under the reserved bootstrap batch id
    assert(logRows(rootA).map(r => (r._1, r._2, r._3)) ===
      logRows(rootB).map(r => (r._1, r._2, r._3)))
    assert(logRows(rootA).map(_._4) === Set(IngestPipeline.BootstrapBatchId))
    // the stream takes over: a near-dup of a bootstrapped doc gates out
    applyB(rootA, 0, Seq(
      DocChange("9", 10, "put", "alpha beta gamma delta epsilon")))
    assert(IngestPipeline.admissionLog(spark, rootA)
      .filter(col("batch_id") === 0).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet ===
      Set(("9", "state_dup", "1")))
    // admission GC never drops the bootstrap entry (resume record +
    // initial-load provenance), only stream batches behind the horizon
    IngestPipeline.gcAdmissions(spark, rootA, horizonBatchId = 100)
    assert(logRows(rootA).map(_._4) === Set(IngestPipeline.BootstrapBatchId))
    // a crashed bootstrap re-runs as a RESUME (logged decisions reused)...
    val report2 = IngestPipeline.bootstrap(spark, corpus.toDF(), rootA,
      dedupWithin = Some(0.5))
    assert(report2 === report && state(rootA) === state(rootB))
    // ...but bootstrapping a POPULATED root without that log fails loudly
    val dir = new org.apache.hadoop.fs.Path(
      rootA + "/admissions/batch=" + IngestPipeline.BootstrapBatchId)
    dir.getFileSystem(spark.sessionState.newHadoopConf()).delete(dir, true)
    intercept[IllegalStateException] {
      IngestPipeline.bootstrap(spark, corpus.toDF(), rootA)
    }
  }

  test("bootstrap trains the quantizer on the full corpus and the stream continues it") {
    val root = Files.createTempDirectory("graft_pipeBv").toString + "/pipe"
    val vroot = IngestPipeline.vectorsRoot(root)
    def txt(k: Long) = s"tok${k}a tok${k}b tok${k}c"
    val corpus = (0 until 12).map(i =>
      VecDocChange(i.toString, i.toLong, "put", txt(i),
        Seq(math.cos(math.toRadians(i * 30.0)).toFloat,
          math.sin(math.toRadians(i * 30.0)).toFloat)))
    val report = IngestPipeline.bootstrap(spark, corpus.toDF(), root,
      annNlist = 4, annIters = 3)
    assert(report === IngestPipeline.BootstrapReport(12, 12, 0))
    assert(graft.operators.IvfIndex.exists(spark, vroot))
    assert(spark.read.parquet(vroot + "/vectors")
      .select("vec_id").collect().map(_.getLong(0)).toSet ===
      (0L until 12L).toSet)
    // exhaustive probe over the bootstrapped index is exact
    val q = Seq(math.cos(math.toRadians(59.0)).toFloat,
      math.sin(math.toRadians(59.0)).toFloat)
    assert(graft.operators.IvfIndex.search(spark, vroot, q, k = 1, probes = 4)
      .head().getLong(0) === 2L)
    // the stream's next batch upserts into the bootstrapped index
    IngestPipeline.applyBatch(spark, Seq(
      VecDocChange("20", 100, "put", txt(20),
        Seq(0.6f, -0.8f))).toDF(), root, 0, threshold = 0.5,
      annNlist = 4, annIters = 3)
    assert(graft.operators.IvfIndex.search(spark, vroot, Seq(0.6f, -0.8f),
      k = 1, probes = 4).head().getLong(0) === 20L)
  }

  test("maintain runs the whole retention-and-repair pass in one call") {
    import graft.streaming.StateStore
    val root = Files.createTempDirectory("graft_pipeM").toString + "/pipe"
    def applyM(id: Long, changes: Seq[VecDocChange]): Unit =
      IngestPipeline.applyBatch(spark, changes.toDF(), root, id, threshold = 0.5,
        annNlist = 2, annIters = 2)
    def txt(k: Long) = s"tok${k}a tok${k}b tok${k}c"
    def arc(theta: Double): Seq[Float] =
      Seq(0f, 0f, math.cos(math.toRadians(theta)).toFloat,
        math.sin(math.toRadians(theta)).toFloat)
    // batch 0 trains the quantizer; batch 1 deletes doc 2 (a tombstone in
    // every keyed state); batch 2 is a drift stream into one trained cell
    applyM(0, Seq(
      VecDocChange("1", 0, "put", txt(1), Seq(1f, 0f, 0f, 0f)),
      VecDocChange("2", 1, "put", txt(2), Seq(0f, 1f, 0f, 0f)),
      VecDocChange("3", 2, "put", txt(3), Seq(0f, 0f, 1f, 0f))))
    applyM(1, Seq(VecDocChange("2", 10, "delete", "", Nil)))
    applyM(2, (0 until 20).map(j =>
      VecDocChange((10 + j).toString, 20L + j, "put", txt(10 + j), arc(2 + j * 4.0))))
    val docsRoots = Seq(
      IngestPipeline.stateRoot(root),
      IngestPipeline.postingsRoot(root) + "/docs",
      IngestPipeline.shingleRoot(root) + "/docs")
    def tombstones(p: String): Seq[String] =
      StateStore.liveBuckets(spark, p).map(d => s"$p/$d") match {
        case Nil => Nil
        case dirs => spark.read.parquet(dirs: _*).filter(col("op") === "delete")
          .select("rowkey").collect().map(_.getString(0)).toSeq
      }
    docsRoots.foreach(p =>
      assert(tombstones(p) === Seq("2"), s"missing fixture tombstone in $p"))
    // batch 1 is delete-only: deletes are not gated, so it logs no verdicts
    assert(logRows(root).map(_._4) === Set(0L, 2L))
    val wantLive = Set("1", "3") ++ (10 until 30).map(_.toString)
    assert(liveKeys(root) === wantLive)
    // the operational snapshot reads the same facts the assertions above
    // checked from raw state — tombstones waiting, live ANN rows, verdicts
    def metrics(): Map[(String, String), Double] =
      IngestPipeline.describe(spark, root).collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    val m0 = metrics()
    assert(m0(("row_state", "tombstones")) === 1.0)
    assert(m0(("postings_docs", "tombstones")) === 1.0)
    assert(m0(("shingle_docs", "tombstones")) === 1.0)
    assert(m0(("row_state", "rows")) === wantLive.size + 1.0) // live + tombstone
    assert(m0(("vectors", "rows")) === wantLive.size.toDouble)
    assert(m0(("vectors", "cells")) === 2.0)
    assert(m0(("vectors", "cell_skew")) >= 1.5)
    assert(m0(("admissions", "verdict_admitted")) === 23.0)
    assert(m0(("admissions", "batches")) === 2.0)
    // df-cap saturation rows (round 13): the cap is reported, the
    // fractions are well-formed, and on this tiny fixture no shingle can
    // exceed the word-scheme cap — the metric reads 0, never NaN/absent
    assert(m0(("shingle_entries", "df_cap")) ===
      graft.operators.Dedup.DfCap.toDouble)
    assert(m0(("shingle_entries", "df_saturated")) === 0.0)
    assert(m0(("shingle_entries", "df_saturated_frac")) === 0.0)
    assert(m0(("shingle_entries", "df_saturated_mass_frac")) === 0.0)
    // one maintenance call: tombstone GC on all three keyed states,
    // admission-log compaction (the default — provenance survives, the
    // listing shrinks), and the drift-gated online quantizer retrain
    val preMaintain = logRows(root)
    val report = IngestPipeline.maintain(spark, root,
      horizonEventId = 100, horizonBatchId = 2,
      annNlist = 2, annIters = 2, annSkewThreshold = 1.5)
    docsRoots.foreach(p => assert(tombstones(p).isEmpty, s"tombstone survived in $p"))
    assert(logRows(root) === preMaintain) // compaction preserves every verdict
    val admDirs = new java.io.File(root + "/admissions").listFiles()
      .map(_.getName).filter(n => n.startsWith("batch")).toSet
    assert(admDirs === Set("batches=0-1", "batch=2")) // below-horizon dirs folded
    assert(report.annRebuilt && report.annSkewBefore.exists(_ >= 1.5))
    // maintain reports the post-GC df-cap saturation (Some(0.0) here:
    // shingle entries exist, none saturated) and does NOT advise the
    // per-token-df sidecar below the threshold
    assert(report.dfSaturatedMassFrac === Some(0.0))
    assert(!report.dfSidecarAdvised,
      "an unsaturated state must not trip the sidecar advice")
    // the decision rule ARMS past the threshold (round-13 verdict task):
    // with the threshold forced below the measured fraction, the same
    // pass flags the report (and WARNs) — the deferral is loud, not a
    // silently-absorbed default
    val armed = IngestPipeline.maintain(spark, root,
      horizonEventId = 100, horizonBatchId = 2,
      annNlist = 2, annIters = 2, dfSatAdviseThreshold = -0.1)
    assert(armed.dfSidecarAdvised,
      "a saturated-past-threshold state must advise the df sidecar")
    assert(!armed.dfSidecarEnabled)
    assert(!armed.dfSidecarAutoEnabled,
      "without the policy flag maintain must only advise, never act")
    // autoDfSidecar policy (round-15 verdict task): the SAME pass acts on
    // its own trigger — advice fires, the sidecar is enabled in this
    // maintenance slot, and the advice clears, all in one pass
    val auto = IngestPipeline.maintain(spark, root,
      horizonEventId = 100, horizonBatchId = 2,
      annNlist = 2, annIters = 2, dfSatAdviseThreshold = -0.1,
      autoDfSidecar = true)
    assert(auto.dfSidecarAutoEnabled,
      "autoDfSidecar must act on the fired trigger in the same pass")
    assert(auto.dfSidecarEnabled, "the auto-enabled sidecar must be reported in place")
    assert(!auto.dfSidecarAdvised,
      "auto-enable must clear the advice in the same pass — nothing is left to do")
    assert(graft.streaming.IncrementalShingles.dfSidecarEnabled(
      spark, IngestPipeline.shingleRoot(root)),
      "the sidecar must actually be on the shingle root, not just reported")
    // the NEXT pass with the policy still on: already enabled, so the
    // trigger cannot re-fire and nothing is re-enabled
    val auto2 = IngestPipeline.maintain(spark, root,
      horizonEventId = 100, horizonBatchId = 2,
      annNlist = 2, annIters = 2, dfSatAdviseThreshold = -0.1,
      autoDfSidecar = true)
    assert(auto2.dfSidecarEnabled && !auto2.dfSidecarAutoEnabled &&
      !auto2.dfSidecarAdvised)
    // the advice CLEARS once the recommended remedy is in place: with the
    // sidecar enabled on the shingle root, the same forced-threshold pass
    // reports it and stops advising (the saturation fraction itself stays
    // observable — now served from the sidecar)
    graft.streaming.IncrementalShingles.enableDfSidecar(
      spark, IngestPipeline.shingleRoot(root))
    val remedied = IngestPipeline.maintain(spark, root,
      horizonEventId = 100, horizonBatchId = 2,
      annNlist = 2, annIters = 2, dfSatAdviseThreshold = -0.1)
    assert(remedied.dfSidecarEnabled, "maintain must report the sidecar")
    assert(!remedied.dfSidecarAdvised,
      "an enabled sidecar must clear the advice")
    assert(remedied.dfSaturatedMassFrac === armed.dfSaturatedMassFrac,
      "the sidecar-served saturation must equal the entries-derived one")
    // the snapshot reflects the pass: tombstones gone, skew re-read
    val m1 = metrics()
    assert(m1(("row_state", "tombstones")) === 0.0)
    assert(m1(("row_state", "rows")) === wantLive.size.toDouble)
    assert(m1(("vectors", "cell_skew")) === report.annSkewAfter.get)
    // live views are untouched by the whole pass
    assert(liveKeys(root) === wantLive)
    val vroot = IngestPipeline.vectorsRoot(root)
    assert(spark.read.parquet(vroot + "/vectors")
      .select("vec_id").collect().map(_.getLong(0)).toSet ===
      wantLive.map(_.toLong))
    // the retrained index still answers exactly (probes = nlist)
    assert(graft.operators.IvfIndex.search(spark, vroot, arc(2), k = 1, probes = 2)
      .head().getLong(0) === 10L)
    // at the DEFAULT drift threshold a second pass finds nothing to do
    val second = IngestPipeline.maintain(spark, root,
      horizonEventId = 100, horizonBatchId = 2, annNlist = 2, annIters = 2)
    assert(!second.annRebuilt && second.annSkewAfter === second.annSkewBefore)
    // and the pipeline keeps ingesting against the maintained states
    applyM(3, Seq(VecDocChange("40", 50, "put", txt(40), arc(77))))
    assert(liveKeys(root) === wantLive + "40")
    assert(graft.operators.IvfIndex.search(spark, vroot, arc(77), k = 1, probes = 2)
      .head().getLong(0) === 40L)
  }

  test("admission-log compaction bounds the listing, keeps every verdict, converges after a crash") {
    val root = Files.createTempDirectory("graft_pipeCompact").toString + "/pipe"
    // bootstrap first — its reserved entry must survive every compaction
    IngestPipeline.bootstrap(spark,
      Seq(("100", 0L, "put", "bootstrap corpus document one"),
        ("101", 1L, "put", "bootstrap corpus document two"))
        .toDF("rowkey", "event_id", "op", "text"), root)
    (0L until 6L).foreach { b =>
      IngestPipeline.applyBatch(spark,
        Seq(((200 + b).toString, 10L + b, "put", s"stream doc body $b"))
          .toDF("rowkey", "event_id", "op", "text"), root, b)
    }
    def admDirs(): Set[String] = new java.io.File(root + "/admissions")
      .listFiles().map(_.getName).filter(_.startsWith("batch")).toSet
    assert(admDirs() === (0L until 6L).map(b => s"batch=$b").toSet + "batch=-1")
    val allRows = logRows(root)
    assert(allRows.map(_._4) === (-1L until 6L).toSet)

    // first compaction: batches 0-2 behind the horizon fold into one dir
    IngestPipeline.compactAdmissions(spark, root, horizonBatchId = 3)
    assert(admDirs() === Set("batch=-1", "batches=0-2", "batch=3", "batch=4", "batch=5"))
    assert(logRows(root) === allRows)
    // a second compaction folds the existing range AND the newly-eligible
    // batches into a single wider range — the listing stays O(live + 1)
    IngestPipeline.compactAdmissions(spark, root, horizonBatchId = 5)
    assert(admDirs() === Set("batch=-1", "batches=0-4", "batch=5"))
    assert(logRows(root) === allRows)
    // a still-replayable batch kept its own directory, so the
    // decide-once-durably replay read still finds its logged verdicts
    IngestPipeline.applyBatch(spark,
      Seq(("205", 15L, "put", "stream doc body 5"))
        .toDF("rowkey", "event_id", "op", "text"), root, 5L)
    assert(logRows(root) === allRows) // replay reused the logged decision

    // crash window: the swap committed but a source delete didn't happen —
    // plant the duplicate by re-creating a folded batch dir's content
    val dup = IngestPipeline.admissionLog(spark, root)
      .filter(col("batch_id") === 2L)
    dup.write.parquet(root + "/admissions/batch=2")
    assert(logRows(root) === allRows) // distinct() suppresses the exact dups
    IngestPipeline.compactAdmissions(spark, root, horizonBatchId = 5)
    assert(admDirs() === Set("batch=-1", "batches=0-4", "batch=5")) // re-run converged
    assert(logRows(root) === allRows)

    // explicit provenance deletion stays available and takes the range dir
    IngestPipeline.gcAdmissions(spark, root, horizonBatchId = 5)
    assert(admDirs() === Set("batch=-1", "batch=5"))
    assert(logRows(root).map(_._4) === Set(-1L, 5L))
  }

  test("a non-canonical decimal rowkey fails the vector merge loudly") {
    val root = Files.createTempDirectory("graft_pipeCanon").toString + "/pipe"
    // '01' casts to the same long as '1': accepting it would collapse two
    // distinct rowkeys onto one vec_id (one doc's upsert clobbering the
    // other's vector) and break the semantic gate's string-join on the
    // verdict path — so the vector family rejects anything that is not
    // the canonical decimal form of a long
    val bad = intercept[Exception] {
      IngestPipeline.applyBatch(spark, Seq(
        VecDocChange("01", 0, "put", "alpha beta gamma delta", Seq(1f, 0f))).toDF(),
        root, 0, threshold = 0.5, annNlist = 2, annIters = 1)
    }
    val chain = Iterator.iterate[Throwable](bad)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse("")).mkString("|")
    assert(chain.contains("non-canonical rowkey"), s"unexpected failure: $chain")
    // the canonical form of the same number is accepted
    val root2 = Files.createTempDirectory("graft_pipeCanon2").toString + "/pipe"
    IngestPipeline.applyBatch(spark, Seq(
      VecDocChange("1", 0, "put", "alpha beta gamma delta", Seq(1f, 0f))).toDF(),
      root2, 0, threshold = 0.5, annNlist = 2, annIters = 1)
    assert(spark.read.parquet(IngestPipeline.vectorsRoot(root2) + "/vectors")
      .select("vec_id").collect().map(_.getLong(0)).toSet === Set(1L))
  }

  test("replay repairs a build crash that left vectors without the id map") {
    val root = Files.createTempDirectory("graft_pipeTorn").toString + "/pipe"
    val vroot = IngestPipeline.vectorsRoot(root)
    def txt(k: Long) = s"tok${k}a tok${k}b tok${k}c"
    val b0 = Seq(
      VecDocChange("1", 0, "put", txt(1), Seq(1f, 0f)),
      VecDocChange("2", 1, "put", txt(2), Seq(0f, 1f)))
    def applyT(id: Long, changes: Seq[VecDocChange]): Unit =
      IngestPipeline.applyBatch(spark, changes.toDF(), root, id, threshold = 0.5,
        annNlist = 2, annIters = 1)
    applyT(0, b0)
    // simulate a crash inside IvfIndex.build between the vectors write and
    // the ids write: centroids + vectors committed, id map missing
    val ids = new org.apache.hadoop.fs.Path(vroot + "/ids")
    ids.getFileSystem(spark.sessionState.newHadoopConf()).delete(ids, true)
    // the checkpoint replay must converge, not wedge: exists() is true but
    // the index is torn, so the merge re-runs build from the logged
    // admitted set (every vector in the torn index came from this batch)
    applyT(0, b0)
    assert(graft.operators.IvfIndex
      .existingIds(spark, vroot, Seq(1L, 2L).toDF("vec_id"))
      .collect().map(_.getLong(0)).toSet === Set(1L, 2L))
    assert(spark.read.parquet(vroot + "/vectors")
      .select("vec_id").collect().map(_.getLong(0)).toSet === Set(1L, 2L))
    // the repaired index serves the normal incremental path again
    applyT(1, Seq(VecDocChange("3", 10, "put", txt(3), Seq(0.6f, 0.8f))))
    assert(spark.read.parquet(vroot + "/vectors")
      .select("vec_id").collect().map(_.getLong(0)).toSet === Set(1L, 2L, 3L))
    assert(graft.operators.IvfIndex.search(spark, vroot, Seq(0.6f, 0.8f),
      k = 1, probes = 2).head().getLong(0) === 3L)
  }

  test("bootstrap's semantic gate admits the same set as the streamed semantic gate") {
    val rootA = Files.createTempDirectory("graft_pipeSBa").toString + "/pipe"
    val rootB = Files.createTempDirectory("graft_pipeSBb").toString + "/pipe"
    val e1 = Seq(1f, 0f, 0f, 0f)
    val e3 = Seq(0f, 0f, 1f, 0f)
    // texts pairwise disjoint (the text gate sees nothing); docs 1 and 2
    // are embedding-identical, so only the semantic gate can catch 2
    val corpus = Seq(
      VecDocChange("1", 0, "put", "alpha beta gamma delta", e1),
      VecDocChange("2", 1, "put", "totally different words entirely here", e1),
      VecDocChange("3", 2, "put", "a third unrelated document body text", e3))
    // semantic-only configuration: no text threshold requested at all
    val report = IngestPipeline.bootstrap(spark, corpus.toDF(), rootA,
      annNlist = 2, annIters = 1, semanticThreshold = Some(0.9))
    assert(report === IngestPipeline.BootstrapReport(3, 2, 1))
    IngestPipeline.applyBatch(spark, corpus.toDF(), rootB, 0, threshold = 2.0,
      annNlist = 2, annIters = 1, semanticThreshold = Some(0.9))
    // same verdicts (bulk-then-stream == stream-from-the-start), same
    // maintained states
    assert(logRows(rootA).map(r => (r._1, r._2, r._3)) ===
      logRows(rootB).map(r => (r._1, r._2, r._3)))
    assert(logRows(rootA).map(r => (r._1, r._2, r._3)) === Set(
      ("1", "admitted", null), ("2", "semantic_dup", "1"),
      ("3", "admitted", null)))
    assert(liveKeys(rootA) === liveKeys(rootB))
    def vecs(r: String): Set[Long] =
      spark.read.parquet(IngestPipeline.vectorsRoot(r) + "/vectors")
        .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(vecs(rootA) === Set(1L, 3L) && vecs(rootB) === Set(1L, 3L))
  }

  test("describe reports live vector cells even with stranded swap leftovers") {
    import graft.streaming.StateStore
    val root = Files.createTempDirectory("graft_pipeDesc").toString + "/pipe"
    val vroot = IngestPipeline.vectorsRoot(root)
    def txt(k: Long) = s"tok${k}a tok${k}b tok${k}c"
    IngestPipeline.applyBatch(spark, Seq(
      VecDocChange("1", 0, "put", txt(1), Seq(1f, 0f)),
      VecDocChange("2", 1, "put", txt(2), Seq(0f, 1f)),
      VecDocChange("3", 2, "put", txt(3), Seq(0.6f, 0.8f))).toDF(),
      root, 0, threshold = 0.5, annNlist = 2, annIters = 2)
    val liveRows = spark.read.parquet(
      StateStore.liveBuckets(spark, vroot + "/vectors", "cell=")
        .map(c => s"$vroot/vectors/$c"): _*).count()
    // plant the crash-window leftovers a raw partition-discovery read
    // would trip over: a stranded backup dir (double-counts) and a torn
    // tmp dir (pollutes the inferred partition column)
    Seq(2L -> "cell=0.old", 9L -> "cell=9.tmp").foreach { case (id, d) =>
      Seq((id, Seq(0.1f, 0.2f))).toDF("vec_id", "embedding")
        .write.parquet(s"$vroot/vectors/$d")
    }
    val m = IngestPipeline.describe(spark, root).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(m(("vectors", "rows")) === liveRows.toDouble)
    assert(m(("vectors", "cells")) === 2.0)
  }

  test("forget retires matching docs from every state and logs the takedown") {
    val root = Files.createTempDirectory("graft_pipeFg").toString + "/pipe"
    val vroot = IngestPipeline.vectorsRoot(root)
    IngestPipeline.applyBatch(spark, Seq(
      VecDocChange("1", 0, "put", "alpha beta gamma delta", Seq(0f, 1f)),
      VecDocChange("2", 1, "put", "totally different words entirely here", Seq(1f, 0f)),
      VecDocChange("3", 2, "put", "unrelated fresh content nothing shared", Seq(0.6f, 0.8f))).toDF(),
      root, 0, threshold = 0.5, annNlist = 2, annIters = 2)
    val n = IngestPipeline.forget(spark, root,
      col("text").contains("different"), forgetId = -2L)
    assert(n === 1L)
    assert(liveKeys(root) === Set("1", "3"))
    // the inverted index no longer returns the doc
    assert(IncrementalPostings.termSearch(spark,
      IngestPipeline.postingsRoot(root), Seq("different")).count() === 0L)
    // the vector index no longer serves its embedding
    val nn = graft.operators.IvfIndex.search(spark, vroot, Seq(1f, 0f),
      k = 3, probes = 4).collect().map(_.getLong(0)).toSet
    assert(!nn.contains(2L))
    // the shingle state dropped its sketch too: a re-put of the SAME text
    // gates as novel instead of drawing a state-dup verdict
    IngestPipeline.applyBatch(spark, Seq(
      VecDocChange("9", 10, "put", "totally different words entirely here", Seq(1f, 0f))).toDF(),
      root, 1, threshold = 0.5, annNlist = 2, annIters = 2)
    assert(liveKeys(root) === Set("1", "3", "9"))
    // and the takedown is part of the provenance record
    assert(logRows(root).contains(("2", "forgotten", null, -2L)))
  }

  test("forget follows the root markers — it works after a rescale, and rejects stream-range ids") {
    val root = Files.createTempDirectory("graft_pipeFg3").toString + "/pipe"
    applyB(root, 0, Seq(
      DocChange("1", 0, "put", "alpha beta gamma delta"),
      DocChange("2", 1, "put", "red green blue yellow")))
    IngestPipeline.rescale(spark, root, newBuckets = 32)
    // the merge config comes from the markers, not caller defaults — a
    // forget against the rescaled root must not trip the _nbuckets check
    assert(IngestPipeline.forget(spark, root,
      col("text").contains("red"), forgetId = -2L) === 1L)
    assert(liveKeys(root) === Set("1"))
    // a forget id in the stream batch-id range could collide with a real
    // batch's provenance — rejected before anything is written
    intercept[IllegalArgumentException] {
      IngestPipeline.forget(spark, root, col("text").contains("x"), forgetId = 0L)
    }
  }

  test("forget re-run with the same id replays the log — it never re-decides") {
    val root = Files.createTempDirectory("graft_pipeFg2").toString + "/pipe"
    applyB(root, 0, Seq(
      DocChange("1", 0, "put", "alpha beta gamma delta"),
      DocChange("2", 1, "put", "red green blue yellow")))
    assert(IngestPipeline.forget(spark, root,
      col("text").contains("red"), forgetId = -2L) === 1L)
    assert(liveKeys(root) === Set("1"))
    // a NEW doc matching the predicate, ingested after the takedown
    applyB(root, 1, Seq(DocChange("5", 10, "put", "red orange crimson maroon")))
    // same id = crash-resume semantics: the LOGGED set replays; the new
    // doc survives because the predicate is never re-evaluated
    assert(IngestPipeline.forget(spark, root,
      col("text").contains("red"), forgetId = -2L) === 1L)
    assert(liveKeys(root) === Set("1", "5"))
    // a fresh id decides anew and takes the new doc down
    assert(IngestPipeline.forget(spark, root,
      col("text").contains("red"), forgetId = -3L) === 1L)
    assert(liveKeys(root) === Set("1"))
  }

  private def rollupMap(root: String): Map[String, Long] =
    IngestPipeline.readRollup(spark, root).collect()
      .map(r => r.getAs[String]("lang") -> r.getAs[Long]("n")).toMap

  test("pipeline rollup rides batches, forget, and rescale via the root marker") {
    val root = Files.createTempDirectory("graft_pipeRu").toString + "/pipe"
    IngestPipeline.enableRollup(spark, root, Seq("lang"))
    applyL(root, 0, Seq(
      LangDocChange("1", 0, "put", "alpha beta gamma delta", "en"),
      LangDocChange("2", 1, "put", "rot gruen blau gelb", "de")))
    assert(rollupMap(root) === Map("en" -> 1L, "de" -> 1L))
    // an update, a delete, a novel doc — all through the gated path
    applyL(root, 1, Seq(
      LangDocChange("3", 10, "put", "totally different english words", "en"),
      LangDocChange("2", 11, "delete", "", "de")))
    assert(rollupMap(root) === Map("en" -> 2L))
    // forget synthesizes tombstones matching the EXTENDED schema
    assert(IngestPipeline.forget(spark, root,
      col("rowkey") === "1", forgetId = -2L) === 1L)
    assert(rollupMap(root) === Map("en" -> 1L))
    // rescale re-buckets the sidecar; the next merge keeps maintaining
    IngestPipeline.rescale(spark, root, 32)
    assert(graft.streaming.StateStore.bucketCount(spark,
      IngestPipeline.rollupRoot(root)) === Some(32))
    assert(rollupMap(root) === Map("en" -> 1L))
    applyL(root, 2, Seq(
      LangDocChange("7", 20, "put", "encore des mots differents ici", "fr")))
    assert(rollupMap(root) === Map("en" -> 1L, "fr" -> 1L))
    // the rollup equals a recompute from the row state (the invariant)
    val recomputed = IncrementalIndex
      .readState(spark, IngestPipeline.stateRoot(root))
      .groupBy("lang").count().collect()
      .map(r => r.getAs[String]("lang") -> r.getAs[Long]("count")).toMap
    assert(rollupMap(root) === recomputed)
    // monitoring sees it
    val d = IngestPipeline.describe(spark, root)
      .filter(col("state") === "rollup").collect()
      .map(r => r.getString(1) -> r.getDouble(2)).toMap
    assert(d("groups") === 2.0)
  }

  private def applyL(root: String, id: Long, changes: Seq[LangDocChange]): Unit =
    IngestPipeline.applyBatch(spark, changes.toDF(), root, id, threshold = 0.5)

  test("standing queries alert on admitted puts only; replay and GC behave") {
    val root = Files.createTempDirectory("graft_pipePc").toString + "/pipe"
    IngestPipeline.registerQueries(spark, root, Seq(
      "alert_ab" -> Seq("alpha", "beta"),
      "alert_red" -> Seq("red")))
    applyB(root, 0, Seq(
      DocChange("1", 0, "put", "alpha beta gamma delta"),
      DocChange("2", 1, "put", "red green blue yellow")))
    // batch 1: a state dup (dropped — must NOT alert despite matching),
    // a novel match, and a delete
    applyB(root, 1, Seq(
      DocChange("3", 10, "put", "alpha beta gamma delta zeta"),
      DocChange("4", 11, "put", "red crimson maroon scarlet"),
      DocChange("2", 12, "delete", "")))
    def hits: Set[(String, String, Long)] =
      IngestPipeline.alerts(spark, root).collect()
        .map(r => (r.getAs[String]("rowkey"), r.getAs[String]("query_id"),
          r.getAs[Long]("batch_id"))).toSet
    assert(hits === Set(
      ("1", "alert_ab", 0L), ("2", "alert_red", 0L), ("4", "alert_red", 1L)))
    // re-applying the same batch (checkpoint replay) converges
    applyB(root, 1, Seq(
      DocChange("3", 10, "put", "alpha beta gamma delta zeta"),
      DocChange("4", 11, "put", "red crimson maroon scarlet"),
      DocChange("2", 12, "delete", "")))
    assert(hits === Set(
      ("1", "alert_ab", 0L), ("2", "alert_red", 0L), ("4", "alert_red", 1L)))
    // registry upsert by id: alert_red narrowed, next batch follows it
    IngestPipeline.registerQueries(spark, root,
      Seq("alert_red" -> Seq("red", "orange")))
    applyB(root, 2, Seq(DocChange("7", 20, "put", "red orange crimson here")))
    assert(hits.contains(("7", "alert_red", 2L)))
    assert(!hits.contains(("4", "alert_red", 2L)))
    // outbox drain: a consumer at high-water mark 2 drops batches 0,1
    IngestPipeline.gcAlerts(spark, root, horizonBatchId = 2L)
    assert(hits === Set(("7", "alert_red", 2L)))
    // removal silences from the next batch on
    IngestPipeline.removeQueries(spark, root, Seq("alert_red"))
    applyB(root, 3, Seq(DocChange("9", 30, "put", "red orange again fresh")))
    assert(hits === Set(("7", "alert_red", 2L)))
    // boolean registration: an exclusion term silences a would-be match
    IngestPipeline.registerStoredQueries(spark, root, Seq(
      graft.operators.Percolate.StoredQuery("alert_ex",
        all = Seq("fresh"), none = Seq("orange"))))
    applyB(root, 4, Seq(DocChange("10", 40, "put", "fresh mint basil leaves")))
    assert(hits.contains(("10", "alert_ex", 4L)))
    applyB(root, 5, Seq(DocChange("11", 50, "put", "fresh orange zest peel")))
    assert(!hits.exists(_._1 == "11"))
  }

  test("enableRollup on an already-populated pipeline backfills by rebuild") {
    val root = Files.createTempDirectory("graft_pipeRu2").toString + "/pipe"
    applyL(root, 0, Seq(
      LangDocChange("1", 0, "put", "alpha beta gamma delta", "en"),
      LangDocChange("2", 1, "put", "rot gruen blau gelb", "de")))
    // a typo'd spec must fail BEFORE the marker is pinned — a durable
    // bad spec would crash-loop every later merge
    val typo = intercept[IllegalArgumentException] {
      IngestPipeline.enableRollup(spark, root, Seq("langg"))
    }
    assert(typo.getMessage.contains("langg"))
    IngestPipeline.enableRollup(spark, root, Seq("lang")) // typo left no marker
    assert(rollupMap(root) === Map("en" -> 1L, "de" -> 1L))
    // a conflicting re-enable fails loudly instead of mixing partials
    val e = intercept[Exception] {
      IngestPipeline.enableRollup(spark, root, Seq("op"))
    }
    assert(e.getMessage.contains("_rollup_spec"))
    // disableRollup is the correction path: marker + sidecar gone, a
    // fresh enable with the new spec starts clean and backfills
    IngestPipeline.disableRollup(spark, root)
    IngestPipeline.enableRollup(spark, root, Seq("op"))
    val byOp = IngestPipeline.readRollup(spark, root).collect()
      .map(r => r.getAs[String]("op") -> r.getAs[Long]("n")).toMap
    assert(byOp === Map("put" -> 2L))
  }

  test("a batch replayed after total query removal clears its stale alerts") {
    val root = Files.createTempDirectory("graft_pipePc2").toString + "/pipe"
    IngestPipeline.registerQueries(spark, root, Seq("a1" -> Seq("alpha")))
    val batch = Seq(DocChange("1", 0, "put", "alpha beta gamma delta"))
    applyB(root, 0, batch)
    assert(IngestPipeline.alerts(spark, root).count() === 1L)
    IngestPipeline.removeQueries(spark, root, Seq("a1"))
    // checkpoint replay of batch 0 with an emptied registry: the outbox
    // must not keep advertising hits for queries that no longer exist
    applyB(root, 0, batch)
    assert(IngestPipeline.alerts(spark, root).count() === 0L)
  }

  test("a registry past CompiledRegistryMax alerts through the join strategy, same hits") {
    val root = Files.createTempDirectory("graft_pipePc5").toString + "/pipe"
    // 600 standing queries (> CompiledRegistryMax = 512): the batch plan
    // must NOT compile 600 boolean columns — emitAlerts dispatches to the
    // broadcast-join strategy, whose hits must equal the compiled form's
    val filler = (0 until 598).map(i => s"filler_$i" -> Seq(s"nomatch$i"))
    val real = Seq("alert_ab" -> Seq("alpha", "beta"), "alert_red" -> Seq("red"))
    IngestPipeline.registerQueries(spark, root, filler ++ real)
    assert(IngestPipeline.registry(spark, root).size === 600)
    val batch = Seq(
      DocChange("1", 0, "put", "alpha beta gamma delta"),
      DocChange("2", 1, "put", "red green blue yellow"),
      DocChange("3", 2, "put", "nothing to see here"))
    applyB(root, 0, batch)
    val hits = IngestPipeline.alerts(spark, root).collect()
      .map(r => (r.getAs[String]("rowkey"), r.getAs[String]("query_id"))).toSet
    val docs = batch.toDF().filter(col("op") === "put")
      .select(col("rowkey").as("doc_id"), col("text"))
    val compiled = graft.operators.Percolate
      .matchesCompiledBool(docs, IngestPipeline.registry(spark, root))
      .collect()
      .map(r => (r.getAs[String]("doc_id"), r.getAs[String]("query_id"))).toSet
    assert(hits === compiled)
    assert(hits === Set(("1", "alert_ab"), ("2", "alert_red")))
    // upsert against the large registry stays frame-level and correct
    IngestPipeline.removeQueries(spark, root, Seq("alert_red"))
    applyB(root, 1, Seq(DocChange("7", 10, "put", "red orange crimson tide")))
    assert(!IngestPipeline.alerts(spark, root).collect()
      .exists(_.getAs[String]("rowkey") == "7"))
  }

  test("phrase and range standing queries alert through the pipeline outbox") {
    val root = Files.createTempDirectory("graft_pipePc6").toString + "/pipe"
    IngestPipeline.registerStoredQueries(spark, root, Seq(
      graft.operators.Percolate.StoredQuery("phr", all = Nil,
        phrases = Seq("fast merge"),
        range = Some(graft.operators.Percolate.RangePred("len", 0, 100)))))
    // the range field is a CHANGELOG column beside the text; the phrase
    // must be ADJACENT, not just both words present
    val changes = Seq(
      ("1", 0L, "put", "the fast merge path wins", 10L),
      ("2", 1L, "put", "fast path then merge route", 10L),
      ("3", 2L, "put", "another fast merge but far too long", 500L))
      .toDF("rowkey", "event_id", "op", "text", "len")
    IngestPipeline.applyBatch(spark, changes, root, 0, threshold = 0.5)
    val hits = IngestPipeline.alerts(spark, root).collect()
      .map(r => (r.getAs[String]("rowkey"), r.getAs[String]("query_id"))).toSet
    assert(hits === Set(("1", "phr")))
    // replay converges (phrase/range predicates are deterministic)
    IngestPipeline.applyBatch(spark, changes, root, 0, threshold = 0.5)
    assert(IngestPipeline.alerts(spark, root).count() === 1L)
  }

  test("stream restart from checkpoint: convergence, no re-read, fence handoff") {
    // The crash contract proven at MERGE level (idempotent replay) driven
    // end-to-end: a real file-source pipeline stream is stopped and a
    // SECOND query started on the same checkpoint + state root. The
    // restart must (a) not re-read batch 0's files, (b) converge the
    // states over the post-restart drop, and (c) claim a newer fence
    // epoch so the first stream's ghost is fenced out.
    val base = Files.createTempDirectory("graft_pipeRestart").toString
    val in = s"$base/in"; new java.io.File(in).mkdirs()
    val pipe = s"$base/pipe"; val ckpt = s"$base/ckpt"
    def drop(name: String, rows: Seq[String]): Unit =
      Files.writeString(java.nio.file.Paths.get(in, name), rows.mkString("\n")): Unit
    def src = graft.sources.ChangelogSource.stream(spark, in)
      .withColumnRenamed("payload", "text")
    drop("f1.json", Seq(
      """{"rowkey": "1", "event_id": 0, "op": "put", "payload": "alpha beta gamma delta"}""",
      """{"rowkey": "2", "event_id": 1, "op": "put", "payload": "totally different words entirely"}"""))
    val q1 = IngestPipeline.start(src, pipe, ckpt,
      threshold = 0.5, intervalSeconds = 1)
    try {
      q1.processAllAvailable()
      assert(liveKeys(pipe) === Set("1", "2"))
    } finally q1.stop()
    val epochAfterQ1 = graft.streaming.WriterFence.maxEpoch(spark, pipe).get
    // a file-stream checkpoint tracks files BY NAME: overwriting f1 with
    // a sentinel doc proves the restart honors the committed offsets —
    // if batch 0 were re-read, "z" would be gated and land live
    drop("f1.json", Seq(
      """{"rowkey": "z", "event_id": 9, "op": "put", "payload": "sentinel must not appear"}"""))
    val q2 = IngestPipeline.start(src, pipe, ckpt,
      threshold = 0.5, intervalSeconds = 1)
    try {
      // the restart's claim fences the first stream: a zombie q1 batch
      // would now fail its fence check (mechanism spec'd in
      // WriterFenceSpec; here we pin the epoch actually advanced)
      assert(graft.streaming.WriterFence.maxEpoch(spark, pipe).get > epochAfterQ1,
        "restart did not claim a newer writer epoch")
      drop("f2.json", Seq(
        """{"rowkey": "3", "event_id": 2, "op": "put", "payload": "fresh post restart content"}""",
        """{"rowkey": "2", "event_id": 3, "op": "delete", "payload": ""}"""))
      q2.processAllAvailable()
      assert(liveKeys(pipe) === Set("1", "3"),
        "restarted stream must converge the row state over the new drop")
      // search surface converged too (the postings merge rode the restart)
      assert(IncrementalPostings.termSearch(spark,
          IngestPipeline.postingsRoot(pipe), Seq("fresh"))
        .select("rowkey").collect().map(_.getString(0)).toSet === Set("3"))
      // offsets honored: the sentinel was never ingested
      assert(!IngestPipeline.admissionLog(spark, pipe).collect()
        .exists(_.getString(0) == "z"),
        "restart re-read an already-committed file")
    } finally q2.stop()
  }

  test("PII redaction transform scrubs before any state sees the text") {
    val root = Files.createTempDirectory("graft_pipePii").toString + "/pipe"
    IngestPipeline.registerQueries(spark, root,
      Seq("mask_watch" -> Seq("<EMAIL>")))
    val redact = Some((t: org.apache.spark.sql.Column) =>
      graft.operators.Pii.redact(t))
    IngestPipeline.applyBatch(spark, Seq(
        DocChange("1", 0, "put",
          "mail me at alice@example.com or call 415-555-0001 now"),
        DocChange("2", 1, "put", "clean text nothing sensitive here"))
        .toDF(), root, 0, threshold = 0.5, textTransform = redact)
    // row state: the stored text is the REDACTED form — the raw address
    // never landed anywhere durable
    val stored = IncrementalIndex.readState(spark, IngestPipeline.stateRoot(root))
      .filter(col("rowkey") === "1").head().getAs[String]("text")
    assert(stored === "mail me at <EMAIL> or call <PHONE> now", stored)
    // postings: the mask token is indexed, the raw address is not
    assert(IncrementalPostings.termSearch(spark,
        IngestPipeline.postingsRoot(root), Seq("<EMAIL>"))
      .select("rowkey").collect().map(_.getString(0)).toSet === Set("1"))
    assert(IncrementalPostings.postings(spark, IngestPipeline.postingsRoot(root))
      .filter(col("tok").contains("alice@example.com")).count() === 0L)
    // alerts: percolation saw the redacted text too — a standing query on
    // the mask token fires for the PII-bearing doc only
    val hits = IngestPipeline.alerts(spark, root).collect()
      .map(r => (r.getAs[String]("rowkey"), r.getAs[String]("query_id"))).toSet
    assert(hits === Set(("1", "mask_watch")))
    // admission log payload-side: the decision keys were computed on
    // redacted text, so replaying the same batch converges identically
    IngestPipeline.applyBatch(spark, Seq(
        DocChange("1", 0, "put",
          "mail me at alice@example.com or call 415-555-0001 now"),
        DocChange("2", 1, "put", "clean text nothing sensitive here"))
        .toDF(), root, 0, threshold = 0.5, textTransform = redact)
    assert(IncrementalIndex.readState(spark, IngestPipeline.stateRoot(root))
      .filter(col("rowkey") === "1").head().getAs[String]("text") === stored)
  }

  test("range registration against a typo'd field fails at the call, not per-batch") {
    val root = Files.createTempDirectory("graft_pipePc7").toString + "/pipe"
    applyB(root, 0, Seq(DocChange("1", 0, "put", "seed text")))
    // the state schema is (rowkey, event_id, op, text): a range on a
    // column the changelog never carries must fail HERE — before the
    // registry swap — not throw in every subsequent batch's emitAlerts
    val ex = intercept[IllegalArgumentException] {
      IngestPipeline.registerStoredQueries(spark, root, Seq(
        graft.operators.Percolate.StoredQuery("bad", all = Seq("seed"),
          range = Some(graft.operators.Percolate.RangePred("n_charz", 0, 10)))))
    }
    assert(ex.getMessage.contains("n_charz"))
    // nothing was registered; ingest keeps flowing
    assert(IngestPipeline.registry(spark, root).isEmpty)
    applyB(root, 1, Seq(DocChange("2", 1, "put", "more text")))
    // a valid field still registers against populated state
    IngestPipeline.registerStoredQueries(spark, root, Seq(
      graft.operators.Percolate.StoredQuery("ok", all = Seq("seed"),
        range = Some(graft.operators.Percolate.RangePred("event_id", 0, 10)))))
    assert(IngestPipeline.registry(spark, root).map(_.id) === Seq("ok"))
  }

  test("AND-of-OR group standing queries alert through the pipeline outbox") {
    val root = Files.createTempDirectory("graft_pipePg").toString + "/pipe"
    IngestPipeline.registerStoredQueries(spark, root, Seq(
      graft.operators.Percolate.StoredQuery("syn_alert", all = Nil,
        groups = Seq(Seq("quick", "fast"), Seq("table", "row")))))
    applyB(root, 0, Seq(
      DocChange("1", 0, "put", "fast table scan wins"),
      DocChange("2", 1, "put", "quick lookup but no second group"),
      DocChange("3", 2, "put", "row only and nothing speedy")))
    val hits = IngestPipeline.alerts(spark, root).collect()
      .map(r => (r.getAs[String]("rowkey"), r.getAs[String]("query_id"))).toSet
    assert(hits === Set(("1", "syn_alert")),
      "group coverage must be conjunctive through the persisted registry")
  }

  test("duplicate ids within one registration call: last wins (upsert semantics)") {
    val root = Files.createTempDirectory("graft_pipePc3").toString + "/pipe"
    IngestPipeline.registerQueries(spark, root,
      Seq("q" -> Seq("alpha"), "q" -> Seq("beta")))
    // were both copies persisted, registry() would fuse them into the
    // stricter conjunction {alpha, beta} and this doc would not alert
    applyB(root, 0, Seq(DocChange("1", 0, "put", "beta only text here")))
    val hit = IngestPipeline.alerts(spark, root).collect()
      .map(r => (r.getAs[String]("rowkey"), r.getAs[String]("query_id"))).toSet
    assert(hit === Set(("1", "q")))
  }

  test("every job of a flush, its concurrent state merges included, carries the caller's job group") {
    val root = Files.createTempDirectory("graft_pipeGroup").toString + "/pipe"
    // a first flush starts the merge threads outside any job group
    applyB(root, 0, Seq(DocChange("1", 0, "put", "alpha beta gamma delta")))
    val sc = spark.sparkContext
    sc.setJobGroup("flush-group", "a flush under a caller's job group")
    val props =
      try SpecMetrics.jobProperties(spark)(applyB(root, 1, Seq(
        DocChange("2", 1, "put", "totally different words entirely here"),
        DocChange("1", 2, "delete", ""))))
      finally sc.clearJobGroup()
    assert(props.nonEmpty)
    val strays = props.map(_.getProperty("spark.jobGroup.id")).filter(_ != "flush-group")
    assert(strays.size === 0, s"of ${props.size} jobs")
    assert(liveKeys(root) === Set("2"))
  }
}

/** A changelog row carrying a facet field beside the text — the shape a
  * rollup-enabled pipeline ingests (the group column rides the row
  * state; token states never see it). */
case class LangDocChange(rowkey: String, event_id: Long, op: String,
                         text: String, lang: String)
