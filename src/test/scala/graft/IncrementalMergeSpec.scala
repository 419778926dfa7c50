package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.streaming.{CellStore, CounterStore, IncrementalIndex, IncrementalPostings, StateStore}

/** The core invariant of the incremental design, on real fixture data:
  * folding the changelog through per-chunk merges (the streaming
  * `foreachBatch` path) must land in exactly the state a full recompaction
  * produces — for any chunking. */
class IncrementalMergeSpec extends SparkSpec {

  private def changelog: DataFrame =
    Tables.events(spark, "/root/testdata/sf0.001").select(
      col("user_id").cast("string").as("rowkey"),
      col("event_id"),
      when(col("event_type") === "error", "delete").otherwise("put").as("op"),
      round(col("value"), 2).as("payload"))

  private def stateMap(df: DataFrame): Map[String, (Long, Double)] =
    df.collect().map(r => r.getAs[String]("rowkey") ->
      (r.getAs[Long]("event_id"), r.getAs[Double]("payload"))).toMap

  test("chunked incremental merges equal full recompaction (1000 events, 4 chunks)") {
    val ev = changelog
    val statePath = Files.createTempDirectory("graft_inc").toString + "/state"
    val bounds = Seq((0L, 250L), (250L, 500L), (500L, 750L), (750L, 1000000L))
    bounds.foreach { case (lo, hi) =>
      val chunk = ev.filter(col("event_id") >= lo && col("event_id") < hi)
      IncrementalIndex.mergeBatch(spark, chunk, statePath)
    }
    val incremental = stateMap(IncrementalIndex.readState(spark, statePath))
    val full = stateMap(IncrementalIndex.compact(ev))
    assert(incremental === full)
    assert(incremental.nonEmpty)
  }

  test("out-of-order chunks converge too (tombstones block stale resurrection)") {
    val ev = changelog
    val statePath = Files.createTempDirectory("graft_incO").toString + "/state"
    // deliver the NEWEST quarter first, oldest last — worst-case reordering
    val bounds = Seq((750L, 1000000L), (500L, 750L), (250L, 500L), (0L, 250L))
    bounds.foreach { case (lo, hi) =>
      IncrementalIndex.mergeBatch(spark,
        ev.filter(col("event_id") >= lo && col("event_id") < hi), statePath)
    }
    assert(stateMap(IncrementalIndex.readState(spark, statePath)) ===
      stateMap(IncrementalIndex.compact(ev)))
  }

  private def bucketDirs(base: String): Seq[String] =
    new java.io.File(base).listFiles().map(_.getName)
      .filter(n => n.startsWith("b=") && !n.endsWith(".old")).toSeq.sorted

  test("leftover .tmpbatch/.old dirs from an interrupted merge don't break the next one") {
    val ev = changelog
    val base = Files.createTempDirectory("graft_incL").toString + "/state"
    IncrementalIndex.mergeBatch(spark, ev.filter(col("event_id") < 500), base)
    // simulate an interrupted previous bucketed commit: a stale tmp root,
    // plus a completed commit's leftover backup next to a live bucket
    new java.io.File(base + ".tmpbatch/b=0").mkdirs()
    val live = bucketDirs(base).head
    new java.io.File(s"$base/$live.old").mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$base/$live.old", "junk"), "stale")
    IncrementalIndex.mergeBatch(spark, ev.filter(col("event_id") >= 500), base)
    assert(stateMap(IncrementalIndex.readState(spark, base)) ===
      stateMap(IncrementalIndex.compact(ev)))
    assert(!new java.io.File(s"$base/$live.old").exists())
  }

  test("a crash between a bucket swap's renames doesn't lose state (.old is restored)") {
    // Dying between `rename(target, backup)` and `rename(tmp, target)`
    // leaves the ONLY copy of that bucket at `b=<i>.old`. The next
    // merge/read must restore it before reading — otherwise the bucket's
    // rows would silently vanish from the state.
    val ev = changelog
    val base = Files.createTempDirectory("graft_incR").toString + "/state"
    IncrementalIndex.mergeBatch(spark, ev.filter(col("event_id") < 500), base)
    val victim = bucketDirs(base).head
    val p = new org.apache.hadoop.fs.Path(s"$base/$victim")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.rename(p, new org.apache.hadoop.fs.Path(s"$base/$victim.old")))
    // the next chunk's merge heals the bucket whether or not it touches it
    IncrementalIndex.mergeBatch(spark, ev.filter(col("event_id") >= 500), base)
    assert(stateMap(IncrementalIndex.readState(spark, base)) ===
      stateMap(IncrementalIndex.compact(ev)))
  }

  private def snapshot(base: String): Map[String, Map[String, String]] =
    bucketDirs(base).map { d =>
      d -> new java.io.File(s"$base/$d").listFiles().filter(_.isFile).map { f =>
        val bytes = java.nio.file.Files.readAllBytes(f.toPath)
        f.getName -> java.security.MessageDigest.getInstance("MD5").digest(bytes)
          .map("%02x".format(_)).mkString
      }.toMap
    }.toMap

  test("a merge rewrites ONLY the buckets the batch touches (untouched dirs byte-identical)") {
    // The delta-sized-write property — the reference's whole point
    // (SolrIndexTools.java:93-144 flushes the delta, never the index) —
    // for every bucketed store, each rewritten bucket dir holding ONE file.
    import spark.implicits._
    def bucketOf(key: String): String = {
      val crc = new java.util.zip.CRC32()
      crc.update(key.getBytes("UTF-8"))
      s"b=${java.lang.Math.floorMod(crc.getValue, IncrementalIndex.DefaultBuckets.toLong)}"
    }
    val ev = changelog
    val oneKey = ev.select("rowkey").orderBy("rowkey").limit(1)
      .collect().head.getString(0)
    def later(df: DataFrame): DataFrame =
      df.filter(col("rowkey") === oneKey).withColumn("event_id", col("event_id") + 1000000L)
    val del = col("op") === "delete"
    val cells = ev.select(col("rowkey"), when(!del, lit("q")).as("qualifier"),
      col("event_id"), col("op"), col("payload").as("value"))
    val counters = ev.select(col("rowkey"), when(!del, lit("n")).as("qualifier"),
      col("event_id"), when(del, "delete").otherwise("incr").as("op"),
      col("payload").as("delta"))
    val docs = ev.select(col("rowkey"), col("event_id"), col("op"),
      concat_ws(" ", concat(lit("t"), col("event_id") % 50),
        concat(lit("u"), col("event_id") % 7)).as("text"))
    val fresh = Seq((oneKey, 2000000L, "put", "zzfresh1 zzfresh2"))
      .toDF("rowkey", "event_id", "op", "text")
    // the entry buckets a doc update rewrites: its old tokens' and its new
    // tokens' (read before the update)
    def tokenBuckets(root: String): Set[String] =
      (IncrementalPostings.docsState(spark, root).filter(col("rowkey") === oneKey)
        .collect().flatMap(_.getAs[String]("text").split(" ")).toSet ++
        Set("zzfresh1", "zzfresh2")).map(bucketOf)
    val keyBucket = (_: String) => Set(bucketOf(oneKey))
    // (store, initial merge, update of oneKey only, bucketed root, dirs to rewrite)
    val stores = Seq[(String, String => Unit, String => Unit, String => String, String => Set[String])](
      ("IncrementalIndex", IncrementalIndex.mergeBatch(spark, ev, _),
        IncrementalIndex.mergeBatch(spark, later(ev), _), identity, keyBucket),
      ("CellStore", CellStore.mergeCells(spark, cells, _),
        CellStore.mergeCells(spark, later(cells), _), identity, keyBucket),
      ("CounterStore", r => CounterStore.mergeCounters(spark, counters, r): Unit,
        r => CounterStore.mergeCounters(spark, later(counters), r): Unit, identity, keyBucket),
      ("postings docs", IncrementalPostings.mergeBatch(spark, docs, _),
        IncrementalPostings.mergeBatch(spark, fresh, _), _ + "/docs", keyBucket),
      ("postings entries", IncrementalPostings.mergeBatch(spark, docs, _),
        IncrementalPostings.mergeBatch(spark, fresh, _), _ + "/entries", tokenBuckets))
    for ((store, load, update, bucketed, rewrites) <- stores) withClue(s"$store: ") {
      val root = Files.createTempDirectory("graft_incD").toString + "/state"
      load(root)
      val dir = bucketed(root)
      val before = snapshot(dir)
      val touched = rewrites(root)
      update(root)
      val after = snapshot(dir)
      // a touched bucket may be new (a fresh token's)
      assert(after.keySet === before.keySet ++ touched)
      for (d <- before.keySet -- touched)
        assert(before(d) === after(d), s"untouched bucket $d was rewritten")
      for (d <- touched) {
        assert(before.get(d) !== after.get(d), s"touched bucket $d should be rewritten")
        assert(after(d).keys.count(f => f.startsWith("part-") && f.endsWith(".parquet")) === 1,
          s"rewritten bucket $d holds ${after(d).keys.toSeq.sorted}")
      }
    }
  }

  test("get opens only the key's bucket dir and respects tombstones (the HBase Get)") {
    val root = Files.createTempDirectory("graft_get").toString + "/state"
    IncrementalIndex.mergeBatch(spark, changelog, root)
    def bucketOf(key: String): String = {
      val crc = new java.util.zip.CRC32()
      crc.update(key.getBytes("UTF-8"))
      s"b=${java.lang.Math.floorMod(crc.getValue, IncrementalIndex.DefaultBuckets.toLong)}"
    }
    val full = stateMap(IncrementalIndex.readState(spark, root))
    val someLive = full.keySet.take(2).toSeq
    val got = IncrementalIndex.get(spark, root, someLive)
    assert(stateMap(got) === full.view.filterKeys(someLive.contains).toMap)
    // the Get's lineage opens ONLY the requested keys' bucket dirs
    val wanted = someLive.map(bucketOf).toSet
    val files = got.inputFiles
    assert(files.nonEmpty)
    for (f <- files)
      assert(wanted.exists(b => f.contains(s"/$b/")),
        s"get read a bucket outside the keys': $f")
    // a tombstoned rowkey returns no row
    val dead = stateMap(IncrementalIndex.compactAll(changelog)
      .filter(col("op") === "delete").select("rowkey", "event_id", "payload"))
      .keySet.headOption
    for (d <- dead)
      assert(IncrementalIndex.get(spark, root, Seq(d)).count() === 0L)
    // absent keys: empty, schema intact
    val none = IncrementalIndex.get(spark, root, Seq("no-such-key"))
    assert(none.count() === 0L)
    assert(none.columns.contains("rowkey"))
  }

  test("a mismatched numBuckets is rejected instead of silently duplicating state") {
    val ev = changelog
    val base = Files.createTempDirectory("graft_incN").toString + "/state"
    IncrementalIndex.mergeBatch(spark, ev.filter(col("event_id") < 500), base, numBuckets = 4)
    val e = intercept[java.io.IOException] {
      IncrementalIndex.mergeBatch(spark, ev.filter(col("event_id") >= 500), base) // default 16
    }
    assert(e.getMessage.contains("numBuckets=4"))
    // the matching count still works
    IncrementalIndex.mergeBatch(spark, ev.filter(col("event_id") >= 500), base, numBuckets = 4)
    assert(stateMap(IncrementalIndex.readState(spark, base)) ===
      stateMap(IncrementalIndex.compact(ev)))
    // a root from before the markers (bucket dirs, no `_nbuckets`, no
    // `_format`) is refused whatever count is presented, the true one
    // included, and no marker is written into it
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sessionState.newHadoopConf())
    for (m <- Seq("_nbuckets", "_format"))
      assert(fs.delete(new org.apache.hadoop.fs.Path(s"$base/$m"), false))
    for (n <- Seq(2, 4)) {
      val e2 = intercept[java.io.IOException] {
        IncrementalIndex.mergeBatch(spark, ev.filter(col("event_id") >= 500), base, numBuckets = n)
      }
      assert(e2.getMessage.contains(base) && e2.getMessage.contains("_format"))
      assert(StateStore.bucketCount(spark, base).isEmpty)
    }
  }

  test("tombstone GC drops only expired deletes; live rows and newer tombstones survive") {
    val ev = changelog
    val base = Files.createTempDirectory("graft_incG").toString + "/state"
    IncrementalIndex.mergeBatch(spark, ev, base)
    val liveBefore = stateMap(IncrementalIndex.readState(spark, base))
    def tombstones(): Seq[(String, Long)] = {
      val dirs = bucketDirs(base).map(d => s"$base/$d")
      spark.read.parquet(dirs: _*).filter(col("op") === "delete")
        .select("rowkey", "event_id").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
    }
    val ts = tombstones()
    assert(ts.nonEmpty, "fixture changelog must produce tombstones")
    val horizon = ts.map(_._2).min + 1 // expire exactly the oldest tombstone
    IncrementalIndex.gcTombstones(spark, base, horizon)
    assert(tombstones().toSet === ts.filter(_._2 >= horizon).toSet)
    assert(stateMap(IncrementalIndex.readState(spark, base)) === liveBefore)
    // gc past everything removes all tombstones, live view still unchanged
    IncrementalIndex.gcTombstones(spark, base, Long.MaxValue)
    assert(tombstones().isEmpty)
    assert(stateMap(IncrementalIndex.readState(spark, base)) === liveBefore)
    // documented contract: a put BELOW a GC'd tombstone CAN now resurrect —
    // which is why the horizon must trail the source's replay horizon
    val dead = ts.map(_._1).head
    IncrementalIndex.mergeBatch(spark,
      ev.filter(col("rowkey") === dead && col("op") =!= "delete").limit(1), base)
    assert(stateMap(IncrementalIndex.readState(spark, base)).contains(dead))
  }

  test("a row-state merge runs a pinned number of Spark jobs") {
    // the touched-bucket collect, the state read's schema inference, the
    // decoupling count, the bucket write — and the map stages AQE submits
    // as jobs of their own
    val ev = changelog
    val base = Files.createTempDirectory("graft_incJ").toString + "/state"
    IncrementalIndex.mergeBatch(spark, ev.filter(col("event_id") < 500), base)
    val jobs = SpecMetrics.jobsRun(spark)(
      IncrementalIndex.mergeBatch(spark, ev.filter(col("event_id") >= 500), base))
    assert(jobs === 9, s"$jobs jobs")
  }

  test("replaying the same micro-batch is a no-op (prefix-atomic commit safety)") {
    val ev = changelog
    val base = Files.createTempDirectory("graft_incP").toString + "/state"
    IncrementalIndex.mergeBatch(spark, ev.filter(col("event_id") < 500), base)
    val chunk2 = ev.filter(col("event_id") >= 500)
    IncrementalIndex.mergeBatch(spark, chunk2, base)
    val once = stateMap(IncrementalIndex.readState(spark, base))
    IncrementalIndex.mergeBatch(spark, chunk2, base) // checkpoint replay
    assert(stateMap(IncrementalIndex.readState(spark, base)) === once)
  }

  test("an empty micro-batch leaves the state unchanged") {
    val ev = changelog
    val base = Files.createTempDirectory("graft_incE").toString + "/state"
    IncrementalIndex.mergeBatch(spark, ev.filter(col("event_id") < 500), base)
    val before = stateMap(IncrementalIndex.readState(spark, base))
    IncrementalIndex.mergeBatch(spark, ev.filter(lit(false)), base)
    assert(stateMap(IncrementalIndex.readState(spark, base)) === before)
    assert(before.nonEmpty)
  }

  test("merge order of a chunk's internal rows doesn't matter") {
    val ev = changelog
    val statePathA = Files.createTempDirectory("graft_incA").toString + "/state"
    // single merge of everything, pre-shuffled
    IncrementalIndex.mergeBatch(spark, ev.orderBy(md5(col("rowkey"))), statePathA)
    assert(stateMap(IncrementalIndex.readState(spark, statePathA)) ===
      stateMap(IncrementalIndex.compact(ev)))
  }

  test("stateToken distinguishes two same-mtime, same-size commits via the _seq counter") {
    // The change token's residual risk is mtime GRANULARITY: two
    // same-name re-swaps landing in one filesystem tick with unchanged
    // entry sizes alias under (mtime, length) alone, and the one-epoch
    // read would wrongly certify a torn read. This CONSTRUCTS that alias
    // — two commits with byte-identical, identically-named content, all
    // entry mtimes then pinned to one instant — and proves the `_seq`
    // commit counter in the token still tells them apart (round-16
    // verdict #5).
    val root = Files.createTempDirectory("graft_seq").toString + "/state"
    val conf = spark.sessionState.newHadoopConf()
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(conf)
    def commitOnce(): Unit =
      StateStore.commitBuckets(spark, root, Seq("b=0")) { tmp =>
        val f = new org.apache.hadoop.fs.Path(s"$tmp/b=0/part-00000")
        val out = fs.create(f, true)
        try out.write("fixed content".getBytes("UTF-8")) finally out.close()
      }
    def pinMtimes(): Unit = {
      val t = 1700000000000L
      def touch(p: org.apache.hadoop.fs.Path): Unit = {
        if (fs.getFileStatus(p).isDirectory)
          fs.listStatus(p).foreach(c => touch(c.getPath))
        fs.setTimes(p, t, t)
      }
      touch(new org.apache.hadoop.fs.Path(root))
    }
    commitOnce(); pinMtimes()
    val s1 = StateStore.stateToken(spark, root).get
    commitOnce(); pinMtimes()
    val s2 = StateStore.stateToken(spark, root).get
    // the construction is a TRUE alias for the metadata-only part of the
    // token: the root's (mtime, length) identical across the two commits
    assert((s1.mtime, s1.len) === ((s2.mtime, s2.len)),
      s"expected a metadata alias, got $s1 vs $s2")
    // ...and the counter still distinguishes them
    assert(s1 !== s2, "the _seq value must break the alias")
    assert(s1.seq + 1L === s2.seq,
      s"counter must advance by one: ${s1.seq} -> ${s2.seq}")
  }
}
