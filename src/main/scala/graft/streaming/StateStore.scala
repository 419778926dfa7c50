package graft.streaming

import java.io.IOException

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Atomic-swap persistence for materialized state directories, through the
  * Hadoop `FileSystem` API — the same code path runs on local disk (tests),
  * HDFS, and any filesystem with a Hadoop connector. `java.io.File` is
  * deliberately absent: it cannot resolve `hdfs://` paths at all, and a
  * state table that matters lives on a distributed filesystem.
  *
  * Commit protocol (all steps through one `FileSystem`):
  *   1. caller writes the new state under `<path>.tmp`
  *   2. leftover `<path>.old` is deleted — only a COMPLETED previous commit
  *      leaves one behind, because [[recover]] has already promoted it if
  *      the previous commit died mid-swap
  *   3. rename `<path>` → `<path>.old`
  *   4. rename `<path>.tmp` → `<path>`
  *   5. delete `<path>.old`
  *
  * A crash at any point never deletes the only copy of the state:
  *   - before step 4 completes: the previous state survives at `<path>`
  *     (steps 1–2) or `<path>.old` (step 3); [[recover]] — which every
  *     commit and every state read runs first — moves `.old` back to
  *     `<path>` when the target is missing, and the replayed micro-batch
  *     then re-merges idempotently;
  *   - after step 4: `<path>` already holds the new state, so the leftover
  *     `.old`/`.tmp` are garbage, cleared by recover()/the next commit.
  *
  * Scope: HDFS-like filesystems with atomic directory rename. Object stores
  * (S3 and friends) rename by copy; there the production state table is a
  * MERGE-capable table format (Iceberg/Delta — SCALE.md §streaming), not a
  * directory swap.
  *
  * Concurrency: ONE writer per state root — exactly what a Structured
  * Streaming query provides (foreachBatch invocations are serialized per
  * query; this replaces the reference's single-flusher semaphore at the
  * granularity where it belongs: per state table, not per write thread).
  * Readers racing an in-flight swap can at worst abort that swap's commit
  * (recover promotes the `.old` the writer just set aside, so the
  * writer's promote fails loudly); the replayed micro-batch then
  * re-merges idempotently. A reader never observes a half-written bucket:
  * promotion is a directory rename.
  */
object StateStore {

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  /** True if the state directory exists and holds at least one file. */
  def nonEmpty(spark: SparkSession, statePath: String): Boolean = {
    val p = new Path(statePath)
    val fs = fsOf(spark, p)
    fs.exists(p) && fs.listStatus(p).nonEmpty
  }

  /** Repair an interrupted swap. If the previous commit died between moving
    * the state aside and promoting the new one, `<path>` is missing and
    * `<path>.old` holds the only surviving copy — restore it. If the target
    * exists, any `.old` is a completed commit's leftover and is dropped. */
  def recover(spark: SparkSession, statePath: String): Unit = {
    val target = new Path(statePath)
    val backup = new Path(statePath + ".old")
    val fs = fsOf(spark, target)
    if (fs.exists(backup)) {
      if (!fs.exists(target)) {
        if (!fs.rename(backup, target))
          throw new IOException(s"cannot restore interrupted state $backup to $target")
      } else {
        fs.delete(backup, true): Unit
      }
    }
  }

  /** Promote a fully-materialized directory over `targetPath` — protocol
    * steps 3–5, healing first. A MISSING `tmpPath` means the new version of
    * this target is empty: the target is deleted instead (a bucketed
    * rewrite whose bucket ended with zero rows writes no directory). */
  def swapIn(spark: SparkSession, tmpPath: String, targetPath: String): Unit = {
    val target = new Path(targetPath)
    val tmp = new Path(tmpPath)
    val backup = new Path(targetPath + ".old")
    val fs = fsOf(spark, target)
    recover(spark, targetPath)
    if (!fs.exists(tmp)) {
      if (fs.exists(target)) fs.delete(target, true): Unit
      return
    }
    if (fs.exists(target) && !fs.rename(target, backup))
      throw new IOException(s"cannot move $target aside to $backup")
    if (!fs.rename(tmp, target)) {
      // restore the previous state before failing
      if (fs.exists(backup)) fs.rename(backup, target)
      throw new IOException(s"cannot promote $tmp to $target")
    }
    if (fs.exists(backup)) fs.delete(backup, true): Unit
  }

  /** The `_seq` commit counter under `dir`, 0 when the marker is absent.
    * An unparseable marker throws NumberFormatException; callers decide
    * what that means (a token read treats it as uncacheable, a bump
    * restarts the counter). */
  private def readSeq(fs: FileSystem, dir: Path): Long =
    try {
      val in = fs.open(new Path(dir, "_seq"))
      (try new String(in.readAllBytes(), "UTF-8") finally in.close()).trim.toLong
    } catch { case _: java.io.FileNotFoundException => 0L }

  /** Write `value` as the `_seq` marker under `dir`, tmp-then-rename so
    * the marker itself is never torn. */
  private def writeSeq(fs: FileSystem, dir: Path, value: Long): Unit = {
    val marker = new Path(dir, "_seq")
    val tmp = new Path(dir, "_seq.tmp")
    fs.mkdirs(dir)
    val out = fs.create(tmp, true)
    try out.write(value.toString.getBytes("UTF-8")) finally out.close()
    if (!fs.rename(tmp, marker)) {
      // local fs refuses rename-onto-existing: replace under the lock
      fs.delete(marker, true)
      if (!fs.rename(tmp, marker)) {
        fs.delete(tmp, true)
        throw new IOException(s"cannot advance commit counter $marker")
      }
    }
  }

  private val seqLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Advance the monotonic commit counter `_seq` under `dir`. Bumped
    * BEFORE the swap (pre-increment): a completed commit has always moved
    * the counter, and a crash between bump and swap at worst costs a
    * cached reader one refill. Bumps of one directory are serialized
    * in-process: sibling roots committed from parallel merge threads
    * share their parent's counter. An unparseable marker restarts at 1 —
    * still a change, which is all the token needs; an IO failure fails
    * the commit. */
  private def bumpSeq(fs: FileSystem, dir: Path): Unit =
    seqLocks.computeIfAbsent(dir.toString, _ => new Object).synchronized {
      writeSeq(fs, dir, seqForBump(fs, dir) + 1)
    }

  private def seqForBump(fs: FileSystem, dir: Path): Long =
    try readSeq(fs, dir) catch { case _: NumberFormatException => 0L }

  /** Swap in a new state version: `write` receives the `.tmp` path and must
    * fully materialize the new state there; the swap then promotes it. The
    * caller's DataFrame must already be decoupled from `<path>`'s files
    * (cache + count) — the old state is renamed during the swap.
    * The commit moves both counters [[stateToken]] reads: the parent's is
    * bumped before the write, and the new version carries its own `_seq`
    * one past the replaced version's (and past any counter the write
    * itself left in the tmp dir). */
  def commit(spark: SparkSession, statePath: String)(write: String => Unit): Unit = {
    val target = new Path(statePath)
    val tmp = new Path(statePath + ".tmp")
    val fs = fsOf(spark, tmp)
    val fenced = fenceOf(target)
    beginCommit(fenced)
    try {
      recover(spark, statePath)
      Option(target.getParent).foreach(bumpSeq(fs, _))
      if (fs.exists(tmp)) fs.delete(tmp, true)
      write(tmp.toString)
      if (fs.exists(tmp) && fs.getFileStatus(tmp).isDirectory)
        writeSeq(fs, tmp, math.max(seqForBump(fs, target), seqForBump(fs, tmp)) + 1)
      swapIn(spark, tmp.toString, statePath)
    } finally endCommit(fenced)
  }

  /** Bucketed commit — the delta-sized write path. `write` materializes
    * ONLY the touched buckets under one tmp root (one job, e.g.
    * `df.write.partitionBy("b")`); each directory named in `bucketDirs`
    * (e.g. `b=3`) is then swapped in independently. Untouched bucket
    * directories are never opened, renamed, or rewritten — at 100 TB a
    * micro-batch rewrites the buckets it hashes into, not the state.
    *
    * Each per-bucket swap is atomic, the SEQUENCE is not: a crash midway
    * leaves a prefix of the buckets promoted. That is safe exactly when
    * the caller's merge is idempotent — replaying the checkpointed
    * micro-batch rewrites an already-promoted bucket with identical
    * content (event_id latest-wins for row state; the postings merge's
    * double anti-join) — which is the documented contract of both
    * incremental merges. The root's and its parent's `_seq` counters are
    * bumped before any swap. */
  def commitBuckets(spark: SparkSession, rootPath: String, bucketDirs: Seq[String])
                   (write: String => Unit): Unit = {
    val root = new Path(rootPath)
    val tmpRoot = new Path(rootPath + ".tmpbatch")
    val fs = fsOf(spark, root)
    val fenced = fenceOf(root)
    beginCommit(fenced)
    try {
      if (fs.exists(tmpRoot)) fs.delete(tmpRoot, true)
      fs.mkdirs(root)
      // inside the root (bucket swaps never touch root-level files), before
      // any swap — see bumpSeq for the pre-increment argument
      bumpSeq(fs, root)
      Option(root.getParent).foreach(bumpSeq(fs, _))
      write(tmpRoot.toString)
      bucketDirs.foreach(d => swapIn(spark, s"$tmpRoot/$d", s"$rootPath/$d"))
      if (fs.exists(tmpRoot)) fs.delete(tmpRoot, true): Unit
    } finally endCommit(fenced)
  }

  /** Pin the bucket count of a bucketed state root. The first writer
    * records `numBuckets` in a `_nbuckets` marker; every later writer must
    * present the same value — a mismatched count would hash rowkeys into
    * the wrong directories and silently duplicate state (the existing copy
    * in the old bucket is never read). Fails loudly instead. The marker is
    * written tmp-then-rename (same torn-write discipline as the swaps),
    * and adopting a marker onto a pre-marker root cross-checks the
    * existing bucket indices against the presented count. */
  def ensureBucketCount(spark: SparkSession, rootPath: String, numBuckets: Int): Unit = {
    require(numBuckets > 0, "numBuckets must be positive")
    val marker = new Path(rootPath + "/_nbuckets")
    val fs = fsOf(spark, marker)
    bucketCount(spark, rootPath) match {
      case Some(recorded) =>
        if (recorded != numBuckets)
          throw new IOException(
            s"state at $rootPath was bucketed with numBuckets=$recorded; " +
              s"refusing to merge with numBuckets=$numBuckets")
      case None =>
        // legacy/new root: any existing bucket index must fit the count
        val tooBig = liveBuckets(spark, rootPath)
          .map(_.stripPrefix("b=").toInt).filter(_ >= numBuckets)
        if (tooBig.nonEmpty)
          throw new IOException(
            s"state at $rootPath has bucket dirs ${tooBig.map("b=" + _).mkString(",")} " +
              s"outside numBuckets=$numBuckets; it was bucketed with a larger count")
        fs.mkdirs(new Path(rootPath))
        val tmp = new Path(rootPath + "/_nbuckets.tmp")
        val out = fs.create(tmp, true)
        try out.write(numBuckets.toString.getBytes("UTF-8")) finally out.close()
        if (!fs.rename(tmp, marker)) {
          fs.delete(tmp, true)
          // a concurrent/previous writer won the rename — re-validate
          if (!bucketCount(spark, rootPath).contains(numBuckets))
            throw new IOException(s"cannot record bucket count at $marker")
        }
    }
  }

  /** Pin an immutable string property of a state root in a marker file —
    * the same discipline as the `_nbuckets` marker ([[ensureBucketCount]])
    * for properties with no numeric cross-check: the first writer records
    * `value`; every later writer must present the same value or fail
    * loudly; a missing marker on an existing root is adopted (recorded on
    * the next write). Written tmp-then-rename. */
  def ensureTag(spark: SparkSession, rootPath: String, tag: String,
                value: String): Unit = {
    val marker = new Path(s"$rootPath/$tag")
    val fs = fsOf(spark, marker)
    readTag(spark, rootPath, tag) match {
      case Some(recorded) =>
        if (recorded != value)
          throw new IOException(
            s"state at $rootPath was written with $tag=$recorded; " +
              s"refusing to proceed with $tag=$value")
      case None =>
        fs.mkdirs(new Path(rootPath))
        val tmp = new Path(s"$rootPath/$tag.tmp")
        val out = fs.create(tmp, true)
        try out.write(value.getBytes("UTF-8")) finally out.close()
        if (!fs.rename(tmp, marker)) {
          fs.delete(tmp, true)
          // a concurrent/previous writer won the rename — re-validate
          if (!readTag(spark, rootPath, tag).contains(value))
            throw new IOException(s"cannot record $tag at $marker")
        }
    }
  }

  /** The recorded value of a [[ensureTag]] marker, if present. */
  def readTag(spark: SparkSession, rootPath: String, tag: String): Option[String] = {
    val marker = new Path(s"$rootPath/$tag")
    val fs = fsOf(spark, marker)
    if (!fs.exists(marker)) None
    else {
      val in = fs.open(marker)
      Some(try new String(in.readAllBytes(), "UTF-8").trim finally in.close())
    }
  }

  /** The pinned bucket count of a state root, if one has been recorded. */
  def bucketCount(spark: SparkSession, rootPath: String): Option[Int] = {
    val marker = new Path(rootPath + "/_nbuckets")
    val fs = fsOf(spark, marker)
    if (!fs.exists(marker)) None
    else {
      val in = fs.open(marker)
      val text = try new String(in.readAllBytes(), "UTF-8").trim finally in.close()
      try Some(text.toInt)
      catch {
        case _: NumberFormatException =>
          throw new IOException(
            s"unreadable bucket-count marker $marker (content: '$text'); " +
              "delete it to re-adopt the root with an explicit numBuckets")
      }
    }
  }

  /** Re-bucket a hash-bucketed state root to `newBuckets` — the planned
    * resize a growing deployment runs when buckets outgrow their rewrite
    * unit (the LSM-compaction-granularity knob named in
    * [[IncrementalIndex]]'s state-layout doc). The bucket id is
    * `pmod(crc32(keyCol), n)`, a pure function of the key and the count,
    * so changing the count moves rows between directories and is
    * fundamentally an O(state) rewrite — `rescale` does it in ONE pass:
    * read every live bucket, recompute the bucket column under
    * `newBuckets`, write the whole new layout beside the root, and cut
    * over with the standard whole-root swap ([[commit]] — the same
    * protocol every merge uses, so a crash at any point leaves either the
    * old layout or the new one, never a mix; a half-written attempt is a
    * `.tmp` the next commit clears).
    *
    * GROWING BY AN INTEGER MULTIPLE IS SHUFFLE-FREE: when `newBuckets =
    * k × oldBuckets`, `b_new mod oldBuckets == b_old` — every new bucket
    * is fed by exactly one old bucket, so each scan task (which holds rows
    * of a single old bucket; bucket files never mix) fans out to its own
    * k new directories and the partitioned write needs no exchange. That
    * makes ×2/×4 doubling the preferred growth step at 100 TB: a pure
    * map-side rewrite, parallel per old bucket, one file per new bucket.
    * Any other count (shrink, non-multiple) repartitions by the new
    * bucket — one batch-state-sized exchange.
    *
    * The root's `_nbuckets` marker is replaced under the same swap, and
    * every other top-level marker/sidecar FILE in the root (`_tokenizer`,
    * `_scheme`, …) is carried over byte-for-byte — after the cutover the
    * root is the same state pinned at the new count, and a writer still
    * presenting the old count fails [[ensureBucketCount]] loudly instead
    * of hashing into the wrong directories.
    *
    * Single-writer contract: rescale IS a writer — stop the stream (or
    * run it from the stream's own maintenance slot) before calling.
    * Rows are re-clustered by `keyCol` inside each new bucket, preserving
    * the page-pruning sort order the merges write. */
  def rescale(spark: SparkSession, rootPath: String, keyCol: String,
              newBuckets: Int): Unit = {
    require(newBuckets > 0, "newBuckets must be positive")
    import org.apache.spark.sql.functions.{col, crc32, lit, pmod}
    val dirs = liveBuckets(spark, rootPath) // heals interrupted swaps first
    val oldCount = bucketCount(spark, rootPath)
    if (oldCount.contains(newBuckets)) return // already at the target count
    val root = new Path(rootPath)
    val fs = fsOf(spark, root)
    if (!fs.exists(root)) {
      // fresh root: pin the count for the first writer and stop
      ensureBucketCount(spark, rootPath, newBuckets)
      return
    }
    // carry every non-bucket entry — marker files (_tokenizer, _scheme, …)
    // AND directories like the writer-fence epochs (_writers): dropping
    // those in the swap would erase the fence history and let a fenced-out
    // zombie writer pass its next epoch check
    val carry = fs.listStatus(root).map(_.getPath.getName)
      .filterNot(n => n.startsWith("b=") || n == "_nbuckets" ||
        n.endsWith(".tmp") || n.endsWith(".old")).toSeq
    commit(spark, rootPath) { tmp =>
      fs.mkdirs(new Path(tmp))
      if (dirs.nonEmpty) {
        // mergeSchema: buckets written before a payload column existed
        // (e.g. postings entries pre-tf or pre-positions) coexist with
        // upgraded ones; a single-footer schema inference could sample
        // an OLD file and the whole-root rewrite would silently drop the
        // new column for every row — permanent loss on the one operation
        // that touches all buckets at once. Merged, old rows carry nulls
        // and the upgraded payload survives.
        val all = spark.read.option("mergeSchema", "true")
          .parquet(dirs.map(d => s"$rootPath/$d"): _*)
          .withColumn("b", pmod(crc32(col(keyCol)), lit(newBuckets)).cast("int"))
        val placed = oldCount match {
          case Some(n) if newBuckets % n == 0 => all // map-side fan-out, no exchange
          case _ => all.repartition(col("b"))
        }
        placed.sortWithinPartitions("b", keyCol)
          .write.partitionBy("b").mode("overwrite").parquet(tmp)
      }
      carry.foreach { name =>
        org.apache.hadoop.fs.FileUtil.copy(fs, new Path(s"$rootPath/$name"),
          fs, new Path(s"$tmp/$name"), false, spark.sessionState.newHadoopConf())
      }
      val out = fs.create(new Path(s"$tmp/_nbuckets"), true)
      try out.write(newBuckets.toString.getBytes("UTF-8")) finally out.close()
    }
  }

  /** The live bucket dirs under `root` that `keys` hash into — the same
    * CRC32-of-UTF-8 as the write-side bucket columns, so a key-addressed
    * read (the HBase-Get shape) opens |touched buckets| dirs, never the
    * state. A missing `_nbuckets` marker (pre-marker root) falls back to
    * all live dirs. */
  def bucketDirsFor(spark: SparkSession, root: String,
                    keys: Seq[String]): Seq[String] = {
    val live = liveBuckets(spark, root)
    bucketCount(spark, root) match {
      case Some(n) =>
        val wanted = keys.map { k =>
          val crc = new java.util.zip.CRC32()
          crc.update(k.getBytes("UTF-8"))
          s"b=${java.lang.Math.floorMod(crc.getValue, n.toLong)}"
        }.toSet
        live.filter(wanted.contains)
      case None => live
    }
  }

  /** Total bytes of the LIVE buckets under a state root — the bucket-
    * pressure reading behind growth-gated rescale. Driver-side metadata
    * only (one listing per bucket directory, no data read): bytes, not
    * row counts, because the rewrite cost every merge pays per touched
    * bucket IS the bucket's byte size. Returns 0 for an absent root. */
  def bucketBytes(spark: SparkSession, rootPath: String,
                  prefix: String = "b="): Long = {
    val fs = fsOf(spark, new Path(rootPath))
    liveBuckets(spark, rootPath, prefix)
      .map(d => fs.getContentSummary(new Path(s"$rootPath/$d")).getLength)
      .sum
  }

  /** The live bucket dirs under a state root, healed first (see
    * [[liveBucketsUncached]]) and served from the token-checked cache
    * ([[cached]]). A hit may skip the heal pass safely: a torn swap
    * implies a commit whose pre-incremented `_seq` already moved the
    * token. */
  def liveBuckets(spark: SparkSession, rootPath: String,
                  prefix: String = "b="): Seq[String] =
    cached(spark, rootPath, s"liveBuckets:$prefix")(
      liveBucketsUncached(spark, rootPath, prefix))

  /** The change token of a state root: its (mtime, len), its own `_seq`
    * and its parent's `_seq`. Every [[commit]] and [[commitBuckets]]
    * bumps the counter in the root it writes AND in that root's parent,
    * so the token changes on any commit to the root, to its buckets, or
    * to a direct subroot; the mtime covers renames under the root. Equal
    * tokens therefore bracket an unchanged root. None — never equal to
    * anything — when the root is missing, has no counter in reach (it
    * never committed through this store), a marker is mid-rename, or a
    * same-process commit on the root or one of its children is in
    * flight (the bump-before-swap window). Cross-process writers during
    * a read are outside the store's single-writer contract. */
  private[graft] def stateToken(spark: SparkSession, rootPath: String): Option[Token] = {
    val root = new Path(rootPath)
    if (inFlight.containsKey(root.toString)) None
    else try {
      val fs = fsOf(spark, root)
      val st = fs.getFileStatus(root)
      val own = readSeq(fs, root)
      val parent = Option(root.getParent).fold(0L)(readSeq(fs, _))
      if (own == 0L && parent == 0L) None
      else Some(Token(st.getModificationTime, st.getLen, own, parent))
    } catch {
      // the root vanished mid-read, or a `_seq` marker is being replaced
      case _: IOException | _: NumberFormatException => None
    }
  }

  private[graft] final case class Token(mtime: Long, len: Long, seq: Long,
                                        parentSeq: Long)

  /** The one cache over state roots: `compute`'s value for `(rootPath,
    * key)`, reused while the root's [[stateToken]] is unchanged. `key`
    * must name every parameter the value depends on besides the root's
    * committed content. Seqlock fill: the token is read before the
    * compute and the value is stored only if the token is still the
    * same afterwards, so a commit landing mid-compute can never pin its
    * half-swapped view. Tokenless roots and roots with a same-process
    * commit in flight bypass the cache. Values are driver-side metadata
    * (listings, collected statistics rows), shared across sessions:
    * they describe files, not a session's plans. */
  private[streaming] def cached[T](spark: SparkSession, rootPath: String, key: String)
                                  (compute: => T): T =
    stateToken(spark, rootPath) match {
      case None => compute
      case Some(token) =>
        val k = (new Path(rootPath).toString, key)
        val hit = cache.get(k)
        if (hit != null && hit._1 == token) hit._2.asInstanceOf[T]
        else {
          val value = compute
          if (stateToken(spark, rootPath).contains(token)) cache.put(k, (token, value)): Unit
          value
        }
    }

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), (Token, Any)]()

  /** In-flight commit count per path: a commit fences the root it writes
    * and that root's parent (both tokens move under it), and sibling
    * roots committed in parallel share the parent. */
  private val inFlight =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Integer]()

  /** The paths a commit to `p` fences: `p` and its parent. */
  private def fenceOf(p: Path): Seq[String] =
    p.toString +: Option(p.getParent).map(_.toString).toSeq

  private def purge(path: String): Unit =
    cache.keySet.removeIf(_._1 == path): Unit

  private def beginCommit(paths: Seq[String]): Unit = paths.foreach { p =>
    inFlight.merge(p, 1, (a, b) => Integer.valueOf(a + b))
    purge(p)
  }

  private def endCommit(paths: Seq[String]): Unit = paths.foreach { p =>
    purge(p)
    inFlight.computeIfPresent(p, (_, n) => if (n == 1) null else Integer.valueOf(n - 1))
  }

  /** Heal every bucket under a bucketed state root (promote interrupted
    * per-bucket swaps) and return the live bucket directory names.
    * `prefix` selects the partition naming scheme — `b=` for the
    * hash-bucketed merges, `cell=` for the IVF index's cell layout. */
  private def liveBucketsUncached(spark: SparkSession, rootPath: String,
                                  prefix: String): Seq[String] = {
    val root = new Path(rootPath)
    val fs = fsOf(spark, root)
    if (!fs.exists(root)) return Seq.empty
    fs.listStatus(root).map(_.getPath.getName)
      .filter(n => n.startsWith(prefix) && n.endsWith(".old"))
      .foreach(n => recover(spark, s"$rootPath/${n.stripSuffix(".old")}"))
    fs.listStatus(root).map(_.getPath.getName)
      .filter(n => n.startsWith(prefix) && !n.endsWith(".old") && !n.endsWith(".tmp"))
      .toSeq.sorted
  }
}
