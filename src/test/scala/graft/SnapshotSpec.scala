package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.streaming.{IncrementalIndex, IncrementalPostings, IngestPipeline, WriterFence}

/** [[IngestPipeline.snapshot]] — the replication/backup surface: the copy
  * must serve every read identically, heal interrupted swaps instead of
  * copying them, exclude swap garbage and the fence history, and refuse
  * to overwrite. */
class SnapshotSpec extends SparkSpec {
  import spark.implicits._

  private def build(): String = {
    val root = Files.createTempDirectory("graft_snap").toString + "/pipe"
    IngestPipeline.applyBatch(spark, Seq(
      DocChange("1", 0, "put", "alpha beta gamma delta"),
      DocChange("2", 1, "put", "totally different words entirely here")).toDF(),
      root, 0, threshold = 0.5)
    IngestPipeline.applyBatch(spark, Seq(
      DocChange("4", 11, "put", "unrelated fresh content nothing shared"),
      DocChange("2", 14, "delete", "")).toDF(),
      root, 1, threshold = 0.5)
    root
  }

  private def ls(dir: java.io.File): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    def walk(f: java.io.File): Unit = {
      out += f.getName
      if (f.isDirectory) f.listFiles().foreach(walk)
    }
    walk(dir)
    out.toSeq
  }

  test("snapshot serves every read identically and drops garbage + fence history") {
    val root = build()
    // plant swap garbage at several depths + claim a fence epoch
    WriterFence.claim(spark, root)
    val state = IngestPipeline.stateRoot(root)
    Files.createDirectories(java.nio.file.Paths.get(s"$state/b=0.tmp"))
    Files.writeString(java.nio.file.Paths.get(s"$state/b=0.tmp/junk.parquet"), "junk")
    Files.createDirectories(java.nio.file.Paths.get(s"$root/postings.tmpbatch"))
    val dest = Files.createTempDirectory("graft_snapdst").toString + "/copy"
    IngestPipeline.snapshot(spark, root, dest)
    // reads over the copy equal reads over the source
    val srcState = IncrementalIndex.readState(spark, state)
      .collect().map(_.toString).sorted
    val dstState = IncrementalIndex.readState(spark, IngestPipeline.stateRoot(dest))
      .collect().map(_.toString).sorted
    assert(srcState.sameElements(dstState))
    val srcHits = IncrementalPostings.termSearch(spark,
      IngestPipeline.postingsRoot(root), Seq("alpha"))
      .select("rowkey").collect().map(_.getString(0)).toSet
    val dstHits = IncrementalPostings.termSearch(spark,
      IngestPipeline.postingsRoot(dest), Seq("alpha"))
      .select("rowkey").collect().map(_.getString(0)).toSet
    assert(srcHits === dstHits && srcHits === Set("1"))
    val srcLog = IngestPipeline.admissionLog(spark, root)
      .collect().map(_.toString).sorted
    val dstLog = IngestPipeline.admissionLog(spark, dest)
      .collect().map(_.toString).sorted
    assert(srcLog.sameElements(dstLog))
    // no garbage, no fence history in the copy
    val names = ls(new java.io.File(dest))
    assert(!names.exists(n => n.endsWith(".tmp") || n.endsWith(".old") ||
      n.endsWith(".tmpbatch") || n == WriterFence.FenceDir), names)
    // the copy is a fresh root identity: first claim is epoch 1
    assert(WriterFence.claim(spark, dest).epoch === 1L)
    // source garbage untouched (snapshot is a reader of the source)
    assert(new java.io.File(s"$state/b=0.tmp/junk.parquet").exists())
  }

  test("snapshot heals an interrupted swap instead of copying the .old") {
    val root = build()
    val state = IngestPipeline.stateRoot(root)
    // simulate a crash between protocol steps 3 and 4: bucket moved aside,
    // replacement never promoted
    val live = graft.streaming.StateStore.liveBuckets(spark, state)
    val victim = s"$state/${live.head}"
    assert(new java.io.File(victim).renameTo(new java.io.File(victim + ".old")))
    val dest = Files.createTempDirectory("graft_snapdst2").toString + "/copy"
    IngestPipeline.snapshot(spark, root, dest)
    // the surviving copy was promoted and captured
    assert(graft.streaming.StateStore.liveBuckets(spark,
      IngestPipeline.stateRoot(dest)) === live)
    assert(IncrementalIndex.readState(spark, IngestPipeline.stateRoot(dest))
      .count() === 2L)
  }

  test("a crashed snapshot attempt (stale dest .tmp) is cleared by the retry") {
    val root = build()
    val destBase = Files.createTempDirectory("graft_snapdst6").toString
    val dest = destBase + "/copy"
    // simulate a snapshot that died mid-copy: a partial .tmp beside the
    // (never-created) destination
    Files.createDirectories(java.nio.file.Paths.get(s"$dest.tmp/state/b=0"))
    Files.writeString(java.nio.file.Paths.get(s"$dest.tmp/state/b=0/partial"), "junk")
    IngestPipeline.snapshot(spark, root, dest)
    // the retry produced a complete snapshot; the stale partial is gone
    assert(IncrementalIndex.readState(spark, IngestPipeline.stateRoot(dest))
      .count() === 2L)
    assert(!new java.io.File(s"$dest.tmp").exists())
    assert(!new java.io.File(s"$dest/state/b=0/partial").exists())
  }

  test("snapshot refuses a non-empty destination") {
    val root = build()
    val dest = Files.createTempDirectory("graft_snapdst3").toString
    Files.writeString(java.nio.file.Paths.get(s"$dest/existing"), "data")
    val e = intercept[IllegalStateException](
      IngestPipeline.snapshot(spark, root, dest))
    assert(e.getMessage.contains("already holds data"))
  }

  test("restore rolls a damaged root back to the snapshot and fences the old writer") {
    val root = build()
    val dest = Files.createTempDirectory("graft_snapdst5").toString + "/copy"
    IngestPipeline.snapshot(spark, root, dest)
    val before = IncrementalIndex.readState(spark, IngestPipeline.stateRoot(root))
      .collect().map(_.toString).sorted
    // a zombie writer holds the root; then damage the state: an extra
    // batch merges and a bucket dir is destroyed outright
    val zombie = WriterFence.claim(spark, root)
    IngestPipeline.applyBatch(spark, Seq(
      DocChange("8", 30, "put", "post snapshot damage batch content")).toDF(),
      root, 2, threshold = 0.5)
    val state = IngestPipeline.stateRoot(root)
    val victim = graft.streaming.StateStore.liveBuckets(spark, state).head
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      java.nio.file.Files.delete(f.toPath)
    }
    rm(new java.io.File(s"$state/$victim"))
    IngestPipeline.restore(spark, dest, root)
    // the restored root serves exactly the snapshot's state
    val after = IncrementalIndex.readState(spark, state)
      .collect().map(_.toString).sorted
    assert(before.sameElements(after))
    assert(IngestPipeline.admissionLog(spark, root)
      .filter(col("batch_id") === 2).count() === 0L)
    // the zombie's next epoch check fails — it cannot write the restored root
    intercept[WriterFence.FencedException](zombie.check(spark))
    // every bucketed root of the restored pipeline carries the format stamp
    def bucketed(f: java.io.File): Seq[java.io.File] = {
      val kids = f.listFiles().toSeq
      (if (kids.exists(k => k.isDirectory && k.getName.startsWith("b="))) Seq(f) else Nil) ++
        kids.filter(_.isDirectory).flatMap(bucketed)
    }
    val roots = bucketed(new java.io.File(root))
    assert(roots.size >= 4, roots)
    for (r <- roots)
      assert(new String(Files.readAllBytes(new java.io.File(r, "_format").toPath)) ===
        graft.streaming.StateStore.Format, r)
    // and the restored root keeps taking new batches
    IngestPipeline.applyBatch(spark, Seq(
      DocChange("9", 40, "put", "fresh ingest after the restore completes")).toDF(),
      root, 3, threshold = 0.5)
    assert(IncrementalIndex.readState(spark, state)
      .filter(col("rowkey") === "9").count() === 1L)
  }

  test("a pipeline started on the snapshot continues independently of the source") {
    val root = build()
    val dest = Files.createTempDirectory("graft_snapdst4").toString + "/copy"
    IngestPipeline.snapshot(spark, root, dest)
    // new batch into the COPY only
    IngestPipeline.applyBatch(spark, Seq(
      DocChange("9", 20, "put", "entirely novel snapshot continuation text")).toDF(),
      dest, 2, threshold = 0.5)
    assert(IncrementalIndex.readState(spark, IngestPipeline.stateRoot(dest))
      .filter(col("rowkey") === "9").count() === 1L)
    assert(IncrementalIndex.readState(spark, IngestPipeline.stateRoot(root))
      .filter(col("rowkey") === "9").count() === 0L)
  }

  test("snapshot carries the rollup, registry, and alert outbox; the copy keeps maintaining") {
    val root = Files.createTempDirectory("graft_snapR").toString + "/pipe"
    IngestPipeline.enableRollup(spark, root, Seq("op"))
    IngestPipeline.registerQueries(spark, root, Seq("a_fresh" -> Seq("fresh")))
    IngestPipeline.applyBatch(spark, Seq(
      DocChange("1", 0, "put", "alpha beta gamma delta"),
      DocChange("2", 1, "put", "unrelated fresh content nothing shared")).toDF(),
      root, 0, threshold = 0.5)
    val dest = Files.createTempDirectory("graft_snapRd").toString + "/copy"
    IngestPipeline.snapshot(spark, root, dest)
    // every new sidecar rode the copy: the maintained aggregate, the
    // standing-query registry (marker-driven spec included), the outbox
    assert(IngestPipeline.readRollup(spark, dest).collect()
      .map(r => r.getAs[String]("op") -> r.getAs[Long]("n")).toMap ===
      Map("put" -> 2L))
    assert(IngestPipeline.registry(spark, dest).map(_.id) === Seq("a_fresh"))
    assert(IngestPipeline.alerts(spark, dest).collect()
      .map(r => (r.getAs[String]("rowkey"), r.getAs[String]("query_id"))).toSet ===
      Set(("2", "a_fresh")))
    // and a pipeline continued ON THE COPY maintains them independently
    IngestPipeline.applyBatch(spark, Seq(
      DocChange("9", 20, "put", "more fresh snapshot continuation text")).toDF(),
      dest, 1, threshold = 0.5)
    assert(IngestPipeline.readRollup(spark, dest).head().getAs[Long]("n") === 3L)
    assert(IngestPipeline.alerts(spark, dest)
      .filter(col("rowkey") === "9").count() === 1L)
    assert(IngestPipeline.alerts(spark, root).count() === 1L) // source untouched
  }
}
