package graft.streaming

import java.io.IOException

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, crc32, lit, pmod}
import org.apache.spark.sql.types.StructType

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
  *
  * Bucket layout — every maintained structure is a root of bucket dirs
  * (`b=<i>`, or `cell=<i>` for the IVF cells), and this object alone
  * decides it:
  *   - placement: a key lives in bucket `pmod(crc32(key), n)` over its
  *     UTF-8 string form ([[bucketOf]], whose driver twin resolves a
  *     key-addressed read), `n` pinned per root ([[ensureBucketCount]]);
  *   - one file per bucket dir, clustered by the dir's read key, so a
  *     reader opens |buckets| files and a pushed key predicate prunes
  *     parquet pages ([[writeBuckets]]);
  *   - a merge rewrites only the buckets its batch hashes into, through
  *     [[commitBuckets]] — untouched dirs are never opened. Each bucket
  *     swap is atomic and the sequence is prefix-atomic, which is safe
  *     because every merge is idempotent under replay ([[mergeKeyed]]
  *     for the row-keyed stores).
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

  /** The trimmed content of the marker file `name` under `dir`, None when
    * it is absent: one open, no existence probe. */
  private def readMarker(fs: FileSystem, dir: Path, name: String): Option[String] =
    try {
      val in = fs.open(new Path(dir, name))
      Some((try new String(in.readAllBytes(), "UTF-8") finally in.close()).trim)
    } catch { case _: java.io.FileNotFoundException => None }

  /** The `_seq` commit counter under `dir`, 0 when the marker is absent.
    * An unparseable marker throws NumberFormatException; callers decide
    * what that means (a token read treats it as uncacheable, a bump
    * restarts the counter). */
  private def readSeq(fs: FileSystem, dir: Path): Long =
    readMarker(fs, dir, "_seq").fold(0L)(_.toLong)

  /** The on-disk format of every state root, stamped in a `_format`
    * marker by the commit path alone: [[commit]] writes it into its tmp
    * dir beside `_seq`, [[commitBuckets]] into the root it writes. A root
    * holding bucket dirs (`b=…`, `cell=…`) is read and written only
    * under this exact stamp: [[commit]], [[commitBuckets]], a marker
    * write ([[ensureTag]]) and a [[liveBuckets]] refill refuse one
    * without it, or with another, before anything is written or bumped.
    * Format 2 stores the IVF cells' `vec_id` as LONG; format 1 stored the
    * type of whichever frame a build or upsert was given. */
  val Format = "2"

  private val FormatMarker = "_format"

  private def isBucketDir(name: String): Boolean =
    name.startsWith("b=") || name.startsWith("cell=")

  /** Refuse `root` unless its stamp is [[Format]] or, unstamped, its
    * listing `names` holds no bucket dir (a fresh or flat root). */
  private def checkFormat(root: Path, stamp: Option[String], names: => Seq[String]): Unit =
    stamp match {
      case Some(Format) =>
      case Some(other) => throw new IOException(
        s"state at $root is in on-disk format $other; this build reads and " +
          s"writes only format $Format")
      case None if names.exists(isBucketDir) => throw new IOException(
        s"state at $root holds bucket dirs but no $FormatMarker stamp; it " +
          s"is not in on-disk format $Format, the only one this build reads " +
          "and writes")
      case None =>
    }

  /** [[checkFormat]] for a write: reads the stamp first and lists the
    * root only when it is absent. True when the root carries the stamp. */
  private def requireFormat(fs: FileSystem, root: Path): Boolean = {
    val stamp = readMarker(fs, root, FormatMarker)
    checkFormat(root, stamp,
      try fs.listStatus(root).map(_.getPath.getName).toSeq
      catch { case _: java.io.FileNotFoundException => Nil })
    stamp.isDefined
  }

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
    * itself left in the tmp dir), and the [[Format]] stamp. A target in
    * another format is refused before the bump. */
  def commit(spark: SparkSession, statePath: String)(write: String => Unit): Unit = {
    val target = new Path(statePath)
    val tmp = new Path(statePath + ".tmp")
    val fs = fsOf(spark, tmp)
    val fenced = fenceOf(target)
    beginCommit(fenced)
    try {
      recover(spark, statePath)
      requireFormat(fs, target)
      Option(target.getParent).foreach(bumpSeq(fs, _))
      if (fs.exists(tmp)) fs.delete(tmp, true)
      write(tmp.toString)
      if (fs.exists(tmp) && fs.getFileStatus(tmp).isDirectory) {
        val out = fs.create(new Path(tmp, FormatMarker), true)
        try out.write(Format.getBytes("UTF-8")) finally out.close()
        writeSeq(fs, tmp, math.max(seqForBump(fs, target), seqForBump(fs, tmp)) + 1)
      }
      swapIn(spark, tmp.toString, statePath)
    } finally endCommit(fenced)
  }

  /** Bucketed commit — the delta-sized write path. `write` materializes
    * ONLY the touched buckets under one tmp root (state is written by
    * [[writeBuckets]]; the raw form serves writers of raw files); each
    * directory named in `bucketDirs` (e.g. `b=3`) is then swapped in
    * independently. Untouched bucket directories are never opened,
    * renamed, or rewritten — at 100 TB a micro-batch rewrites the buckets
    * it hashes into, not the state.
    *
    * Each per-bucket swap is atomic, the SEQUENCE is not: a crash midway
    * leaves a prefix of the buckets promoted. That is safe exactly when
    * the caller's merge is idempotent — replaying the checkpointed
    * micro-batch rewrites an already-promoted bucket with identical
    * content (event_id latest-wins for row state; the postings merge's
    * double anti-join). The root's and its parent's `_seq` counters are
    * bumped before any swap; a root in another format is refused before
    * that, and a fresh one is stamped with [[Format]]. */
  def commitBuckets(spark: SparkSession, rootPath: String, bucketDirs: Seq[String])
                   (write: String => Unit): Unit = {
    val root = new Path(rootPath)
    val tmpRoot = new Path(rootPath + ".tmpbatch")
    val fs = fsOf(spark, root)
    val fenced = fenceOf(root)
    beginCommit(fenced)
    try {
      val stamped = requireFormat(fs, root)
      if (fs.exists(tmpRoot)) fs.delete(tmpRoot, true)
      fs.mkdirs(root)
      if (!stamped) ensureTag(spark, rootPath, FormatMarker, Format)
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
    * in the old bucket is never read). Fails loudly instead. */
  def ensureBucketCount(spark: SparkSession, rootPath: String, numBuckets: Int): Unit = {
    require(numBuckets > 0, "numBuckets must be positive")
    bucketCount(spark, rootPath) match {
      case Some(recorded) =>
        if (recorded != numBuckets)
          throw new IOException(
            s"state at $rootPath was bucketed with numBuckets=$recorded; " +
              s"refusing to merge with numBuckets=$numBuckets")
      case None => ensureTag(spark, rootPath, "_nbuckets", numBuckets.toString)
    }
  }

  /** Pin an immutable string property of a state root in a marker file —
    * the same discipline as the `_nbuckets` marker ([[ensureBucketCount]])
    * for properties with no numeric cross-check: the first writer records
    * `value`; every later writer must present the same value or fail
    * loudly. Written tmp-then-rename, and only into a root of this
    * [[Format]]. */
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
        requireFormat(fs, new Path(rootPath))
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
    val root = new Path(rootPath)
    readMarker(fsOf(spark, root), root, tag)
  }

  /** The pinned bucket count of a state root, if one has been recorded. */
  def bucketCount(spark: SparkSession, rootPath: String): Option[Int] =
    readTag(spark, rootPath, "_nbuckets").map { text =>
      try text.toInt
      catch {
        case _: NumberFormatException =>
          throw new IOException(
            s"unreadable bucket-count marker $rootPath/_nbuckets (content: '$text'); " +
              "delete it to re-pin the root with an explicit numBuckets")
      }
    }

  /** [[bucketCount]] for a root known to hold buckets: every writer pins
    * the count before its first bucket commit, so a missing marker is a
    * damaged root and fails loudly. */
  private[streaming] def pinnedBucketCount(spark: SparkSession, rootPath: String): Int =
    bucketCount(spark, rootPath).getOrElse(throw new IOException(
      s"state at $rootPath holds bucket dirs but no _nbuckets marker"))

  /** Re-bucket a hash-bucketed state root to `newBuckets` — the planned
    * resize a growing deployment runs when buckets outgrow their rewrite
    * unit (the LSM-compaction-granularity knob named in
    * [[IncrementalIndex]]'s state-layout doc). The bucket id
    * ([[bucketOf]]) is a pure function of the key and the count,
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
        val all = readBuckets(spark, rootPath, dirs)
          .withColumn("b", bucketOf(col(keyCol), newBuckets))
        oldCount match {
          case Some(n) if newBuckets % n == 0 => // map-side fan-out, no exchange
            writeClustered(all, tmp, "b", Seq(keyCol))
          case _ => writeBucketFiles(all, tmp, "b", Seq(keyCol))
        }
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
    * state. */
  def bucketDirsFor(spark: SparkSession, root: String,
                    keys: Seq[String]): Seq[String] = {
    val live = liveBuckets(spark, root)
    if (live.isEmpty) return Nil
    val n = pinnedBucketCount(spark, root)
    val wanted = keys.map(k => s"b=${bucketOf(k, n)}").toSet
    live.filter(wanted.contains)
  }

  /** [[bucketDirsFor]] for a key FRAME whose values are data (too many to
    * collect): only the distinct bucket ids — bounded by the bucket count
    * — come to the driver, in one job, skipped when the root holds no
    * bucket. */
  def bucketDirsFor(spark: SparkSession, root: String, keys: DataFrame,
                    key: String): Seq[String] = {
    val live = liveBuckets(spark, root)
    if (live.isEmpty) return Nil
    val wanted = touchedBuckets(keys, key, pinnedBucketCount(spark, root)).toSet
    live.filter(wanted.contains)
  }

  // ---- the bucket layout: placement, reader, writer, keyed merge ----

  /** The bucket of `key` under `n` buckets: CRC32 of the key's UTF-8
    * string form, mod `n` — the placement column every bucketed write
    * partitions by. */
  def bucketOf(key: Column, n: Int): Column =
    pmod(crc32(key.cast("string")), lit(n)).cast("int")

  /** [[bucketOf]]'s driver twin: the bucket a key-addressed read opens.
    * The two must agree on every key, or a read silently misses rows. */
  def bucketOf(key: String, n: Int): Int = {
    val crc = new java.util.zip.CRC32()
    crc.update(key.getBytes("UTF-8"))
    java.lang.Math.floorMod(crc.getValue, n.toLong).toInt
  }

  /** The bucket dirs (`b=<i>`, sorted) that `keys(key)` hashes into under
    * `n` — the touched-bucket list of a merge or a pruned read: one job,
    * at most `n` rows to the driver. */
  def touchedBuckets(keys: DataFrame, key: String, n: Int): Seq[String] =
    keys.select(bucketOf(col(key), n)).distinct().collect()
      .map(_.getInt(0)).sorted.toSeq.map(b => s"b=$b")

  /** The rows of bucket dirs `dirs` under `root` — the one bucket reader.
    * With `schema` the scan is planned from it (no footer-inference job),
    * no dirs give an empty frame of it, and a schema field named after the
    * dirs' partition column (`cell` of `cell=3`) is read from the paths.
    * Without one — payload-defined row state — the files' own schema is
    * inferred, and `dirs` must not be empty. */
  def readBuckets(spark: SparkSession, root: String, dirs: Seq[String],
                  schema: Option[StructType] = None): DataFrame = {
    val paths = dirs.map(d => s"$root/$d")
    schema match {
      case Some(s) if dirs.isEmpty =>
        spark.createDataFrame(java.util.Collections.emptyList[Row](), s)
      case Some(s) =>
        val partCol = dirs.head.takeWhile(_ != '=')
        val reader = spark.read.schema(s)
        (if (s.fieldNames.contains(partCol)) reader.option("basePath", root) else reader)
          .parquet(paths: _*)
      case None =>
        require(dirs.nonEmpty, s"no committed state at $root")
        spark.read.parquet(paths: _*)
    }
  }

  /** Write `rows` as bucket dirs under `dir`, one file per dir: placed by
    * `partCol` (a frame already hash-partitioned by it — cached right
    * after `repartition(col(partCol))`, as [[decouple]] leaves it — plans
    * no second exchange) and clustered by `partCol +: clusterBy`. The
    * file layout of a whole-root [[commit]]; [[writeBuckets]] is the
    * per-bucket one. */
  def writeBucketFiles(rows: DataFrame, dir: String, partCol: String = "b",
                       clusterBy: Seq[String] = Nil): Unit =
    writeClustered(rows.repartition(col(partCol)), dir, partCol, clusterBy)

  private def writeClustered(rows: DataFrame, dir: String, partCol: String,
                             clusterBy: Seq[String]): Unit =
    rows.sortWithinPartitions((partCol +: clusterBy).map(col): _*)
      .write.partitionBy(partCol).mode("overwrite").parquet(dir)

  /** The bucket writer: swap in the dirs `bucketDirs` of `root` from
    * `rows` ([[writeBucketFiles]]'s layout, [[commitBuckets]]' swap). A
    * dir named but left with no rows is removed. `rows` must not read the
    * files it replaces ([[decouple]]). */
  def writeBuckets(spark: SparkSession, root: String, bucketDirs: Seq[String],
                   rows: DataFrame, partCol: String = "b",
                   clusterBy: Seq[String] = Nil): Unit =
    commitBuckets(spark, root, bucketDirs)(writeBucketFiles(rows, _, partCol, clusterBy))

  /** `rows` placed by `partCol`, cached and materialized — decoupled from
    * the files it was read from, so a swap may replace them. The caller
    * unpersists it. */
  def decouple(rows: DataFrame, partCol: String = "b"): DataFrame = {
    val d = rows.repartition(col(partCol)).cache()
    d.count()
    d
  }

  /** The key of every row-keyed store: rows are the latest event per
    * `rowkey`, tombstones (`op = 'delete'`) included. */
  private val Key = "rowkey"

  /** The keyed merge of the row-keyed stores: pin the count, resolve the
    * buckets the batch's rowkeys hash into, read their live rows, fold
    * them with the batch, decouple, and rewrite exactly those buckets.
    * `fold(old, batch)` receives both sides with the bucket column `b`
    * and must be idempotent under replay — its per-store semantics (what
    * wins, what is dropped) are the caller's. `andThen` runs on the
    * decoupled rows after the swap, before they are released. An empty
    * batch commits nothing. */
  def mergeKeyed(spark: SparkSession, root: String, batch: DataFrame,
                 numBuckets: Int, clusterBy: Seq[String],
                 andThen: (DataFrame, Seq[String]) => Unit = (_, _) => ())
                (fold: (DataFrame, DataFrame) => DataFrame): Unit = {
    val dirs = touchedBuckets(batch, Key, numBuckets)
    if (dirs.isEmpty) return
    val placed = batch.withColumn("b", bucketOf(col(Key), numBuckets))
    rewriteKeyed(spark, root, dirs, numBuckets, clusterBy, placed.limit(0), andThen)(
      fold(_, placed))
  }

  /** Rewrite the bucket dirs `dirs` of a row-keyed root as `f` of their
    * live rows (`empty`, when none of them is live) — the body of
    * [[mergeKeyed]], and of a maintenance pass that picks its buckets
    * from the state itself (tombstone GC). */
  def rewriteKeyed(spark: SparkSession, root: String, dirs: Seq[String],
                   numBuckets: Int, clusterBy: Seq[String], empty: => DataFrame,
                   andThen: (DataFrame, Seq[String]) => Unit = (_, _) => ())
                  (f: DataFrame => DataFrame): Unit = {
    ensureBucketCount(spark, root, numBuckets)
    val live = liveBuckets(spark, root).toSet
    val oldDirs = dirs.filter(live.contains)
    val old =
      if (oldDirs.nonEmpty)
        readBuckets(spark, root, oldDirs).withColumn("b", bucketOf(col(Key), numBuckets))
      else empty
    val rows = decouple(f(old).withColumn("b", bucketOf(col(Key), numBuckets)))
    try {
      writeBuckets(spark, root, dirs, rows, "b", clusterBy)
      andThen(rows, dirs)
    } finally rows.unpersist(): Unit
  }

  /** The live rows (tombstones filtered) of a row-keyed root; fails on a
    * root with no committed state. */
  def scanLive(spark: SparkSession, root: String): DataFrame =
    readBuckets(spark, root, liveBuckets(spark, root)).filter(col("op") =!= "delete")

  /** The keyed `Get` (HBase `Get`/multi-Get — the fetch half of the
    * reference's search-then-fetch topology) over a row-keyed root: opens
    * ONLY the buckets the keys hash to ([[bucketDirsFor]]), and inside
    * each the pushed rowkey predicate prunes parquet pages via the
    * clustered write order. Tombstoned and absent keys return no row; a
    * root with no committed state fails (its schema is payload-defined,
    * so there is nothing to shape an empty result from). */
  def getKeyed(spark: SparkSession, root: String, keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, s"a Get on $root needs at least one rowkey")
    val live = liveBuckets(spark, root)
    require(live.nonEmpty, s"no committed state at $root")
    val wanted = bucketDirsFor(spark, root, keys.distinct)
    // keys hashing only to absent buckets: one live dir shapes the empty
    // result
    val rows = readBuckets(spark, root, if (wanted.nonEmpty) wanted else live.take(1))
      .filter(col("op") =!= "delete")
      .filter(col(Key).isin(keys.distinct: _*))
    if (wanted.nonEmpty) rows else rows.limit(0)
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

  /** Rows in the bucket dirs `dirs` of `root`, summed from their parquet
    * footers: driver-side metadata, no Spark job. The per-dir counts are
    * cached per state token ([[cached]]), so a root read between two
    * commits opens its footers once. An upper bound on any read of those
    * dirs, known before the read runs. */
  def bucketRows(spark: SparkSession, root: String, dirs: Seq[String]): Long = {
    val rows = cached(spark, root, "bucketRows") {
      val fs = fsOf(spark, new Path(root))
      val conf = spark.sessionState.newHadoopConf()
      liveBuckets(spark, root).map { d =>
        d -> fs.listStatus(new Path(s"$root/$d")).iterator
          .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
          .map { f =>
            val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
              org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf))
            try reader.getRecordCount finally reader.close()
          }.sum
      }.toMap
    }
    dirs.iterator.map(rows.getOrElse(_, 0L)).sum
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
    * hash-bucketed merges, `cell=` for the IVF index's cell layout. A root
    * in another format ([[checkFormat]]) is refused. */
  private def liveBucketsUncached(spark: SparkSession, rootPath: String,
                                  prefix: String): Seq[String] = {
    val root = new Path(rootPath)
    val fs = fsOf(spark, root)
    if (!fs.exists(root)) return Seq.empty
    fs.listStatus(root).map(_.getPath.getName)
      .filter(n => n.startsWith(prefix) && n.endsWith(".old"))
      .foreach(n => recover(spark, s"$rootPath/${n.stripSuffix(".old")}"))
    val names = fs.listStatus(root).map(_.getPath.getName).toSeq
    checkFormat(root,
      if (names.contains(FormatMarker)) readMarker(fs, root, FormatMarker) else None,
      names)
    names.filter(n => n.startsWith(prefix) && !n.endsWith(".old") && !n.endsWith(".tmp"))
      .sorted
  }
}
