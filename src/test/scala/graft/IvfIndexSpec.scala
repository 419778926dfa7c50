package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.operators.IvfIndex

/** The persisted IVF index: k-means training converges to a usable coarse
  * quantizer, the materialized layout partitions by cell, a probe reads
  * only the probed cells' files, and probing every cell recovers the exact
  * brute-force answer. */
class IvfIndexSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private val nlist = 8

  private lazy val path: String = {
    val p = Files.createTempDirectory("graft_ivf").toString + "/ivf"
    IvfIndex.build(Tables.embeddings(spark, dir), p, nlist = nlist, iters = 3)
    p
  }

  private lazy val query: Seq[Float] =
    Tables.embeddings(spark, dir).filter(col("vec_id") === 0)
      .head().getSeq[Float](1)

  /** The file scans of `df`'s executed plan (AQE stages included). */
  private def scans(df: org.apache.spark.sql.DataFrame)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = {
    object Plans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    Plans.collect(df.queryExecution.executedPlan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
  }

  /** The directories `df`'s file scans list. */
  private def scannedDirs(df: org.apache.spark.sql.DataFrame): Set[String] =
    scans(df).flatMap(_.relation.location.rootPaths.map(_.getName)).toSet

  /** The `cell=` directories a probe of `probes` cells must read: the
    * cells ranked by query·centroid, as the search ranks them. */
  private def probedCells(p: String, q: Seq[Float], probes: Int): Set[String] =
    IvfIndex.centroids(spark, p)
      .withColumn("csim", aggregate(
        zip_with(col("cent"), typedlit(q), (x, y) => x * y.cast("double")),
        lit(0.0), (acc, v) => acc + v))
      .orderBy(col("csim").desc, col("cell")).limit(probes)
      .collect().map(r => s"cell=${r.getInt(0)}").toSet

  test("every vector lands in exactly one cell; all cells within range") {
    val e = Tables.embeddings(spark, dir)
    val stored = spark.read.parquet(path + "/vectors")
    assert(stored.count() === e.count())
    assert(stored.select("vec_id").distinct().count() === e.count())
    val cells = stored.select("cell").distinct()
      .collect().map(_.getInt(0)).toSet
    assert(cells.subsetOf((0 until nlist).toSet) && cells.size > 1)
  }

  test("probing all cells equals the exact brute-force top-k") {
    val ivf = IvfIndex.search(spark, path, query, k = 10, probes = nlist)
      .collect().map(r => (r.getLong(0), math.round(r.getDouble(2) * 1e6)))
    val brute = Tables.embeddings(spark, dir)
      .withColumn("sim", aggregate(
        zip_with(col("embedding"), typedlit(query),
          (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, p) => acc + p))
      .select(col("vec_id"), col("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(10)
      .collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e6)))
    assert(ivf === brute)
  }

  test("a 2-cell probe reads only the probed partitions (file pruning)") {
    val totalFiles = spark.read.parquet(path + "/vectors").inputFiles.length
    val probedDf = IvfIndex.search(spark, path, query, k = 10, probes = 2)
    probedDf.collect() // materialize so scan metrics are populated
    // the probe prunes BEFORE file listing: the executed scan is an
    // explicit-directory read of exactly the probed cells' directories
    assert(scannedDirs(probedDf) === probedCells(path, query, 2),
      probedDf.queryExecution.executedPlan.toString)
    val filesRead = scans(probedDf).map(_.metrics("numFiles").value).sum
    assert(filesRead > 0 && filesRead < totalFiles,
      s"probe read $filesRead of $totalFiles files")
    // and every hit comes from a probed cell
    val hitCells = probedDf.collect().map(_.getInt(1)).toSet
    assert(hitCells.size <= 2)
  }

  test("upsert rewrites only the landed cells; search reflects the new vectors") {
    import spark.implicits._
    // private copy of the index so the shared lazy fixture stays pristine
    val p = Files.createTempDirectory("graft_ivfU").toString + "/ivf"
    IvfIndex.build(Tables.embeddings(spark, dir), p, nlist = nlist, iters = 3)
    val before = snapshot(p + "/vectors")
    val total = spark.read.parquet(p + "/vectors").count()
    // one brand-new vector: the query itself under a fresh id → sim 1.0 top hit
    val newId = 1000000L
    IvfIndex.upsert(spark, p, Seq((newId, query)).toDF("vec_id", "embedding"))
    val after = snapshot(p + "/vectors")
    assert(spark.read.parquet(p + "/vectors").count() === total + 1)
    // vec_id 0 (the query's own source) also scores 1.0 and wins the
    // id tiebreak — the upserted vector must tie it in the top 2
    val top2 = IvfIndex.search(spark, p, query, k = 2, probes = nlist).collect()
    assert(top2.map(_.getLong(0)).toSet === Set(0L, newId))
    top2.foreach(r => assert(math.abs(r.getDouble(2) - 1.0) < 1e-6)) // float-norm slack
    // untouched cells are byte-identical; the landed cell was rewritten
    val changed = after.keySet.filter(d => before.get(d) != after.get(d))
    assert(changed.nonEmpty && changed.size < before.size,
      s"changed=$changed of ${before.size}")
    // replacement by vec_id: upserting the same id again must not duplicate
    IvfIndex.upsert(spark, p, Seq((newId, query)).toDF("vec_id", "embedding"))
    assert(spark.read.parquet(p + "/vectors").count() === total + 1)
  }

  test("an updated embedding that moves cells leaves no stale copy behind") {
    import spark.implicits._
    val p = Files.createTempDirectory("graft_ivfM").toString + "/ivf"
    IvfIndex.build(Tables.embeddings(spark, dir), p, nlist = nlist, iters = 3)
    val stored = spark.read.parquet(p + "/vectors")
    val total = stored.count()
    // pick two vectors currently in DIFFERENT cells; give the first the
    // second's embedding, which re-assigns it to the second's cell
    val byCell = stored.select("vec_id", "cell", "embedding").collect()
      .groupBy(_.getInt(1))
    val (cellA, cellB) = { val ks = byCell.keys.toSeq.sorted; (ks.head, ks.last) }
    assert(cellA !== cellB)
    val mover = byCell(cellA).head.getLong(0)
    val targetEmb = byCell(cellB).head.getSeq[Float](2)
    IvfIndex.upsert(spark, p, Seq((mover, targetEmb)).toDF("vec_id", "embedding"))
    val now = spark.read.parquet(p + "/vectors")
    assert(now.count() === total, "a moved vector must be replaced, not duplicated")
    val rows = now.filter(col("vec_id") === mover).collect()
    assert(rows.length === 1)
    assert(rows.head.getAs[Int]("cell") === cellB, "the copy must live in the new cell")
  }

  test("upsert replay converges from the crash state between cells and ids commits") {
    // The id-map commit-order claim, constructed literally: vectors
    // promoted, id map still old. Replaying the same upsert must land
    // exactly where the uninterrupted one landed — the old map makes the
    // replay re-touch (and re-clear) the already-cleared old cell.
    import spark.implicits._
    val base = Files.createTempDirectory("graft_ivfC").toString
    val full = s"$base/full"
    IvfIndex.build(Tables.embeddings(spark, dir), full, nlist = nlist, iters = 3)
    val crash = s"$base/crash"
    copyDir(full, crash)
    // a cell-moving upsert (same construction as the move test)
    val stored = spark.read.parquet(full + "/vectors")
    val byCell = stored.select("vec_id", "cell", "embedding").collect().groupBy(_.getInt(1))
    val ks = byCell.keys.toSeq.sorted
    val mover = byCell(ks.head).head.getLong(0)
    val targetEmb = byCell(ks.last).head.getSeq[Float](2)
    val batch = Seq((mover, targetEmb)).toDF("vec_id", "embedding")
    IvfIndex.upsert(spark, full, batch)
    // crash state: new vectors over the OLD id map
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$crash/vectors"))
    copyDir(s"$full/vectors", s"$crash/vectors")
    IvfIndex.upsert(spark, crash, batch) // the replay
    def rows(p: String): Set[(Long, Int)] =
      spark.read.parquet(p + "/vectors").select("vec_id", "cell")
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    def ids(p: String): Set[(Long, Int)] =
      spark.read.parquet(p + "/ids").select("vec_id", "cell")
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(rows(crash) === rows(full))
    assert(ids(crash) === ids(full))
    assert(ids(full) === rows(full), "the id map must mirror the stored cells")
  }

  test("searchBatch equals per-query search and prunes to the probed cells' files") {
    import spark.implicits._
    val qids = Seq(0L, 1L, 2L)
    val queries = Tables.embeddings(spark, dir)
      .filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val batched = IvfIndex.searchBatch(spark, path, queries, k = 5, probes = 2)
    val rows = batched.collect() // ONE execution: scan metrics reflect it
    val byQid = rows.groupBy(_.getLong(0)).view.mapValues(_.toSeq.sortBy(_.getLong(4))).toMap
    assert(byQid.keySet === qids.toSet)
    for (qid <- qids) {
      val qv = Tables.embeddings(spark, dir)
        .filter(col("vec_id") === qid).head().getSeq[Float](1)
      val single = IvfIndex.search(spark, path, qv, k = 5, probes = 2).collect()
        .map(r => (r.getLong(0), math.round(r.getDouble(2) * 1e6)))
      val batch = byQid(qid)
        .map(r => (r.getLong(1), math.round(r.getDouble(3) * 1e6)))
      assert(batch === single.toSeq, s"batched result diverges for qid=$qid")
    }
    // the scan pruned to the union of probed cells, not the whole index
    // (AQE wraps this multi-exchange plan — traverse into the stages)
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case _ => p +: p.children.flatMap(nodes)
    }
    val totalFiles = spark.read.parquet(path + "/vectors").inputFiles.length
    val filesRead = nodes(batched.queryExecution.executedPlan).collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.relation.location.rootPaths.mkString(",").contains("/vectors") =>
        s.metrics("numFiles").value
    }.sum
    assert(filesRead > 0 && filesRead < totalFiles,
      s"batch read $filesRead of $totalFiles files")
  }

  test("a drifted upsert stream trips the cell-skew rebuild signal") {
    import spark.implicits._
    val p = Files.createTempDirectory("graft_ivfD").toString + "/ivf"
    IvfIndex.build(Tables.embeddings(spark, dir), p, nlist = nlist, iters = 3)
    // a healthy k-means partition of the training data is near-balanced
    val trained = IvfIndex.cellSkew(spark, p)
    assert(trained < 4.0, s"freshly trained index already skewed: $trained")
    assert(!IvfIndex.needsRebuild(spark, p))
    // drift: a corpus-sized stream of new vectors that all quantize to ONE
    // trained cell (every arrival is the same existing embedding) — the
    // fixed-quantizer failure mode the guard exists to catch
    val total = spark.read.parquet(p + "/vectors").count()
    val anchor = Tables.embeddings(spark, dir)
      .filter(col("vec_id") === 0).head().getSeq[Float](1)
    val drifted = (1 to total.toInt)
      .map(i => (10000000L + i, anchor)).toDF("vec_id", "embedding")
    IvfIndex.upsert(spark, p, drifted)
    // one cell now holds >= half the index against a 1/nlist fair share
    assert(IvfIndex.cellSkew(spark, p) >= 4.0)
    assert(IvfIndex.needsRebuild(spark, p))
    intercept[IllegalArgumentException] {
      IvfIndex.needsRebuild(spark, p, skewThreshold = 1.0)
    }
  }

  test("a batch with duplicate vec_ids is rejected") {
    import spark.implicits._
    val q = query
    intercept[IllegalArgumentException] {
      IvfIndex.upsert(spark, path, Seq((5L, q), (5L, q)).toDF("vec_id", "embedding"))
    }
  }

  private def snapshot(base: String): Map[String, Map[String, String]] =
    new java.io.File(base).listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("cell="))
      .map { d =>
        d.getName -> d.listFiles().filter(_.isFile).map { f =>
          val bytes = java.nio.file.Files.readAllBytes(f.toPath)
          f.getName -> java.security.MessageDigest.getInstance("MD5").digest(bytes)
            .map("%02x".format(_)).mkString
        }.toMap
      }.toMap

  test("delete removes ids from the cells, the id map, and search; replays and absent ids are no-ops") {
    import spark.implicits._
    val p = Files.createTempDirectory("graft_ivfdel").toString + "/ivf"
    val e = Tables.embeddings(spark, dir)
    IvfIndex.build(e, p, nlist = nlist, iters = 2)
    val n = e.count()
    val dels = e.filter(col("vec_id") < 5).select("vec_id")
    IvfIndex.delete(spark, p, dels)
    val stored = spark.read.parquet(p + "/vectors")
    assert(stored.count() === n - 5 && stored.filter(col("vec_id") < 5).isEmpty)
    val ids = spark.read.parquet(p + "/ids")
    assert(ids.count() === n - 5 && ids.filter(col("vec_id") < 5).isEmpty)
    assert(IvfIndex.search(spark, p, query, k = 10, probes = nlist)
      .filter(col("vec_id") < 5).isEmpty)
    // a replayed (completed) delete and a delete of never-indexed ids both
    // no-op before any commit: every state file is untouched
    val before = snapshot(p + "/vectors")
    IvfIndex.delete(spark, p, dels)
    IvfIndex.delete(spark, p, Seq(1000000L, 1000001L).toDF("vec_id"))
    assert(snapshot(p + "/vectors") === before)
  }

  test("deleting every vector of a cell removes the cell directory; the index stays queryable") {
    val p = Files.createTempDirectory("graft_ivfdel2").toString + "/ivf"
    val e = Tables.embeddings(spark, dir)
    IvfIndex.build(e, p, nlist = nlist, iters = 2)
    val victim = spark.read.parquet(p + "/ids")
      .groupBy("cell").count().orderBy("cell").head().getInt(0)
    val victimIds = spark.read.parquet(p + "/ids")
      .filter(col("cell") === victim).select("vec_id")
    IvfIndex.delete(spark, p, victimIds)
    assert(!new java.io.File(s"$p/vectors/cell=$victim").exists())
    // search across all remaining cells still answers
    assert(IvfIndex.search(spark, p, query, k = 5, probes = nlist).count() === 5)
  }

  test("a replay against a half-committed delete (cells swapped, id map not) converges") {
    import spark.implicits._
    val p = Files.createTempDirectory("graft_ivfdel3").toString + "/ivf"
    val e = Tables.embeddings(spark, dir)
    IvfIndex.build(e, p, nlist = nlist, iters = 2)
    // preserve the pre-delete id map, run the full delete, then restore the
    // OLD id map — exactly the on-disk state a crash between the cells
    // commit and the ids commit leaves behind
    val idsDir = java.nio.file.Paths.get(p + "/ids")
    val saved = Files.createTempDirectory("graft_ids_save")
    copyTree(idsDir, saved.resolve("ids"))
    IvfIndex.delete(spark, p, Seq(7L).toDF("vec_id"))
    deleteTree(idsDir)
    copyTree(saved.resolve("ids"), idsDir)
    assert(spark.read.parquet(p + "/ids").filter(col("vec_id") === 7).count() === 1)
    // the replayed delete finds id 7 still mapped, re-reads its cell (the
    // anti-join no-ops — the row is already gone), and catches the map up
    IvfIndex.delete(spark, p, Seq(7L).toDF("vec_id"))
    assert(spark.read.parquet(p + "/ids").filter(col("vec_id") === 7).isEmpty)
    assert(spark.read.parquet(p + "/vectors").filter(col("vec_id") === 7).isEmpty)
  }

  private def copyTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
    java.nio.file.Files.walk(from).forEach { src =>
      val dst = to.resolve(from.relativize(src))
      if (java.nio.file.Files.isDirectory(src)) java.nio.file.Files.createDirectories(dst)
      else java.nio.file.Files.copy(src, dst): Unit
    }
  }

  private def deleteTree(root: java.nio.file.Path): Unit =
    java.nio.file.Files.walk(root).sorted(java.util.Comparator.reverseOrder())
      .forEach(f => java.nio.file.Files.delete(f))

  test("rebuild retrains the drifted quantizer online and preserves the live set") {
    import spark.implicits._
    val p = Files.createTempDirectory("graft_ivfR").toString + "/ivf"
    // training corpus: 20 distinct unit vectors on the 0–19° arc of the
    // (x, y) plane; drift: 80 distinct arrivals on the 80–99.75° arc —
    // every arrival uniquely quantizes to the trained centroid nearest
    // 90° (no ties), piling the whole drift into one cell
    def arc(theta: Double): Seq[Float] =
      Seq(math.cos(math.toRadians(theta)).toFloat,
        math.sin(math.toRadians(theta)).toFloat)
    val trained = (0 until 20).map(i => (1000L + i, arc(i)))
    val arrivals = (0 until 80).map(j => (1L + j, arc(80.0 + j * 0.25)))
    IvfIndex.build(trained.toDF("vec_id", "embedding"), p, nlist = 4, iters = 5)
    IvfIndex.upsert(spark, p, arrivals.toDF("vec_id", "embedding"))
    val skewBefore = IvfIndex.cellSkew(spark, p)
    assert(IvfIndex.needsRebuild(spark, p, skewThreshold = 3.0),
      s"drift fixture did not trip the guard (skew $skewBefore)")
    IvfIndex.rebuild(spark, p, nlist = 4, iters = 5)
    // the retrain re-partitions the data: the guard resets
    val skewAfter = IvfIndex.cellSkew(spark, p)
    assert(skewAfter < skewBefore, s"rebuild did not reduce skew: $skewBefore -> $skewAfter")
    assert(!IvfIndex.needsRebuild(spark, p, skewThreshold = 3.0))
    // the live set survives the cutover bit-for-bit
    val live = spark.read.parquet(p + "/vectors")
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Seq[Float]]("embedding"))).toMap
    assert(live.keySet === (trained ++ arrivals).map(_._1).toSet)
    (trained ++ arrivals).foreach { case (id, v) => assert(live(id) === v) }
    // exhaustive probe over the new layout is still the exact top-k
    val q = arc(85.0)
    val got = IvfIndex.search(spark, p, q, k = 5, probes = 4)
      .collect().map(_.getLong(0))
    val want = (trained ++ arrivals)
      .map { case (id, v) => (id, v.zip(q).map { case (a, b) => a.toDouble * b }.sum) }
      .sortBy { case (id, s) => (-s, id) }.take(5).map(_._1)
    assert(got.toSeq === want.toSeq)
    // incremental maintenance keeps working against the new id sidecar
    IvfIndex.upsert(spark, p, Seq((1L, arc(5.0))).toDF("vec_id", "embedding"))
    IvfIndex.delete(spark, p, Seq(2L).toDF("vec_id"))
    val after = spark.read.parquet(p + "/vectors")
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Seq[Float]]("embedding"))).toMap
    assert(!after.contains(2L) && after(1L) === arc(5.0))
    assert(after.size === live.size - 1)
  }

  test("a crash between rebuild's renames heals on the next read") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_ivfC")
    val p = base.toString + "/ivf"
    def arc(theta: Double): Seq[Float] =
      Seq(math.cos(math.toRadians(theta)).toFloat,
        math.sin(math.toRadians(theta)).toFloat)
    val vecs = (0 until 20).map(i => (i.toLong, arc(i * 4)))
    IvfIndex.build(vecs.toDF("vec_id", "embedding"), p, nlist = 4, iters = 3)
    val wantTop = IvfIndex.search(spark, p, arc(10), k = 3, probes = 4)
      .collect().map(_.getLong(0)).toSeq
    // crash point: the root was moved aside but the replacement was never
    // promoted — `<p>` missing, `<p>.old` the only surviving copy (plus a
    // half-written `.tmp` the next writer must ignore)
    val root = java.nio.file.Paths.get(p)
    java.nio.file.Files.move(root, java.nio.file.Paths.get(p + ".old"))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(p + ".tmp", "garbage"))
    // every entrypoint heals before reading: the index is simply back
    assert(IvfIndex.exists(spark, p))
    assert(IvfIndex.search(spark, p, arc(10), k = 3, probes = 4)
      .collect().map(_.getLong(0)).toSeq === wantTop)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(p + ".old")))
    // and a subsequent rebuild clears the stale tmp and completes
    IvfIndex.rebuild(spark, p, nlist = 4, iters = 3)
    assert(IvfIndex.search(spark, p, arc(10), k = 3, probes = 4)
      .collect().map(_.getLong(0)).toSeq === wantTop)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(p + ".tmp")))
  }

  test("the probed result is a superset-ranked prefix: hits are true similarities") {
    // probe < nlist may lose recall but must never fabricate: every
    // returned (vec_id, sim) must match the brute-force similarity.
    val bruteMap = Tables.embeddings(spark, dir)
      .withColumn("sim", aggregate(
        zip_with(col("embedding"), typedlit(query),
          (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, p) => acc + p))
      .select(col("vec_id"), col("sim"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val probed = IvfIndex.search(spark, path, query, k = 10, probes = 2).collect()
    assert(probed.nonEmpty)
    probed.foreach { r =>
      assert(math.abs(bruteMap(r.getLong(0)) - r.getDouble(2)) < 1e-12)
    }
  }

  // ---- filtered search: metadata predicate composed with the probe ----

  /** Two well-separated clusters (cells split them at nlist=2): cluster A
    * around (1,0) with ids 0–11 at increasing angle (descending sim to
    * query (1,0)) — ids 0–5 grp='hot', 6–11 grp='cold' — and cluster B
    * around (-1,0) with ids 20–27, all 'cold'. */
  private def filteredFixture(): String = {
    import spark.implicits._
    val p = Files.createTempDirectory("graft_ivfF").toString + "/ivf"
    val a = (0 until 12).map { i =>
      val th = 0.02 * (i + 1)
      (i.toLong, Array(math.cos(th).toFloat, math.sin(th).toFloat),
        if (i < 6) "hot" else "cold")
    }
    val b = (20 until 28).map { i =>
      val th = math.Pi - 0.02 * (i - 19)
      (i.toLong, Array(math.cos(th).toFloat, math.sin(th).toFloat), "cold")
    }
    IvfIndex.build((a ++ b).toDF("vec_id", "embedding", "grp"), p,
      nlist = 2, iters = 3, attrs = Seq("grp"))
    p
  }

  test("searchFiltered fills k from the probed cell where post-filtering the top-k would under-fill") {
    val p = filteredFixture()
    val q = Seq(1f, 0f)
    // the probed cell's unfiltered top-6 is entirely 'hot' (ids 0–5):
    // post-filtering THAT list by grp='cold' would return zero rows —
    // the under-fill searchFiltered's pre-top-k predicate exists to avoid
    val unfiltered = IvfIndex.search(spark, p, q, k = 6, probes = 1)
      .collect().map(_.getLong(0)).toSeq
    assert(unfiltered === (0L to 5L),
      s"fixture precondition: unfiltered top-6 must be the hot ids, got $unfiltered")
    val filtered = IvfIndex.searchFiltered(spark, p, q,
      col("grp") === "cold", k = 4, probes = 1)
    val rows = filtered.collect()
    assert(rows.map(_.getLong(0)).toSeq === (6L to 9L),
      "k must FILL with the best matching vectors of the probed cell")
    // the predicate composed with the probe still opens ONLY the probed
    // cell's directory (the explicit-directory read survives the metadata
    // filter), and the predicate itself reaches the scan as a pushed data
    // filter
    val plan = filtered.queryExecution.executedPlan
    assert(scannedDirs(filtered) === probedCells(p, q, 1), plan.toString)
    assert(plan.toString.contains("PushedFilters: [IsNotNull(grp), EqualTo(grp,cold)"),
      plan.toString)
    val totalFiles = spark.read.parquet(p + "/vectors").inputFiles.length
    val filesRead = scans(filtered).map(_.metrics("numFiles").value).sum
    assert(filesRead > 0 && filesRead < totalFiles,
      s"filtered probe read $filesRead of $totalFiles files")
    // probing every cell + predicate == exact brute-force filtered top-k
    val exact = IvfIndex.searchFiltered(spark, p, q,
      col("grp") === "cold", k = 4, probes = 2)
      .collect().map(_.getLong(0)).toSeq
    assert(exact === (6L to 9L))
  }

  test("attribute columns ride upsert/delete/rebuild; a batch missing them fails loudly") {
    import spark.implicits._
    val p = filteredFixture()
    val q = Seq(1f, 0f)
    // upsert without the root's attrs: rejected before any write
    val ex = intercept[IllegalStateException] {
      IvfIndex.upsert(spark, p, Seq((50L, Array(1f, 0f))).toDF("vec_id", "embedding"))
    }
    assert(ex.getMessage.contains("grp"), ex.getMessage)
    // upsert WITH attrs: id 0 flips hot→cold and becomes the best 'cold'
    IvfIndex.upsert(spark, p,
      Seq((0L, Array(1f, 0f), "cold")).toDF("vec_id", "embedding", "grp"))
    assert(IvfIndex.searchFiltered(spark, p, q, col("grp") === "cold",
        k = 1, probes = 2).head().getLong(0) === 0L)
    // delete drops the row from the filtered view like any other read
    IvfIndex.delete(spark, p, Seq(0L).toDF("vec_id"))
    assert(IvfIndex.searchFiltered(spark, p, q, col("grp") === "cold",
        k = 1, probes = 2).head().getLong(0) === 6L)
    // rebuild retrains the quantizer and carries the attrs through
    IvfIndex.rebuild(spark, p, nlist = 2, iters = 2)
    assert(IvfIndex.searchFiltered(spark, p, q, col("grp") === "cold",
        k = 4, probes = 2).collect().map(_.getLong(0)).toSeq === (6L to 9L))
    // a reserved or shadowing attribute name is rejected at build
    val bad = intercept[IllegalArgumentException] {
      IvfIndex.build(Seq((1L, Array(1f, 0f), 3)).toDF("vec_id", "embedding", "cell"),
        Files.createTempDirectory("graft_ivfR").toString + "/ivf",
        nlist = 1, iters = 1, attrs = Seq("cell"))
    }
    assert(bad.getMessage.contains("reserved"))
    // an attr batch with the right NAME but a diverging TYPE is rejected
    // too: presence alone would let a batch whose touched cells have no
    // live files commit a type-divergent cell file that unionByName never
    // sees — the cross-file schema disagreement the guard exists for
    val typed = intercept[IllegalStateException] {
      IvfIndex.upsert(spark, p,
        Seq((51L, Array(1f, 0f), 7)).toDF("vec_id", "embedding", "grp"))
    }
    assert(typed.getMessage.contains("type"), typed.getMessage)
    // enablePq is a whole-root retrofit — it must carry the attrs
    // through like rebuild does, or a PQ retrofit would silently strip
    // the metadata and break every later filtered read
    IvfIndex.enablePq(spark, p, IvfIndex.PqSpec(m = 2, k = 2))
    assert(IvfIndex.searchFiltered(spark, p, q, col("grp") === "cold",
        k = 4, probes = 2).collect().map(_.getLong(0)).toSeq === (6L to 9L),
      "filtered reads must survive the PQ retrofit")
  }

  test("the attrs type guard compares through NESTED nullability — containsNull is a batch artifact, not a divergence") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import spark.implicits._
    val p = Files.createTempDirectory("graft_ivfN").toString + "/ivf"
    // build with an Array[Float] attr: the encoder infers containsNull =
    // false (primitive elements)
    IvfIndex.build(Seq((0L, Array(1f, 0f), Array(1f, 2f)),
        (1L, Array(0f, 1f), Array(3f, 4f)))
      .toDF("vec_id", "embedding", "tags"), p,
      nlist = 1, iters = 1, attrs = Seq("tags"))
    // an upsert batch differing ONLY in the array's containsNull (the
    // shape every parquet read-back and Row-built frame produces) must be
    // ACCEPTED: the cell files are storage-compatible
    val looseSchema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = true)),
      StructField("tags", ArrayType(FloatType, containsNull = true))))
    val loose = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(2L, Seq(0.5f, 0.5f), Seq(5f, 6f)))),
      looseSchema)
    IvfIndex.upsert(spark, p, loose) // must not throw
    assert(IvfIndex.attrsForIds(spark, p, Seq(2L).toDF("vec_id"))
      .head().getSeq[Float](1) === Seq(5f, 6f))
    // a genuinely divergent ELEMENT type is still rejected
    val diverged = intercept[IllegalStateException] {
      IvfIndex.upsert(spark, p,
        Seq((3L, Array(1f, 0f), Array(1.0, 2.0)))
          .toDF("vec_id", "embedding", "tags"))
    }
    assert(diverged.getMessage.contains("type"), diverged.getMessage)
  }

  // ---- the fused change pass: applyChanges == delete, then upsert ----

  /** Every stored vector row (all columns, arrays as lists), every id-map
    * row, and the live `cell=` directories of the index at `p`. */
  private def indexState(p: String): (Set[List[Any]], Set[(Long, Int)], Set[String]) = {
    val v = spark.read.parquet(p + "/vectors")
    val rows = v.select(v.columns.sorted.toSeq.map(col): _*).collect()
      .map(_.toSeq.toList.map {
        case a: scala.collection.Seq[_] => a.toList
        case x => x
      }).toSet
    val ids = spark.read.parquet(p + "/ids").select("vec_id", "cell").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    val dirs = new java.io.File(p + "/vectors").listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("cell=")).map(_.getName).toSet
    (rows, ids, dirs)
  }

  /** The `_seq` commit counter of the `vectors/` root under `p`. */
  private def vectorsSeq(p: String): Long = {
    val f = java.nio.file.Paths.get(p, "vectors", "_seq")
    if (Files.exists(f)) new String(Files.readAllBytes(f), "UTF-8").trim.toLong else 0L
  }

  /** Apply (puts, dels) to two copies of the index at `base` — delete
    * then upsert on one, one [[IvfIndex.applyChanges]] pass on the other
    * — and require the same stored rows, id map and cell directories, and
    * the (vec_id, cell) pairs `expected` (worked out without the index
    * code); returns the fused copy's path. */
  private def fusedMatchesSequential(base: String, puts: org.apache.spark.sql.DataFrame,
      dels: org.apache.spark.sql.DataFrame, expected: Set[(Long, Int)]): String = {
    val work = Files.createTempDirectory("graft_ivfFused").toString
    val (seq, fused) = (s"$work/seq", s"$work/fused")
    copyDir(base, seq)
    copyDir(base, fused)
    IvfIndex.delete(spark, seq, dels)
    IvfIndex.upsert(spark, seq, puts)
    val before = vectorsSeq(fused)
    IvfIndex.applyChanges(spark, fused, puts, dels)
    assert(vectorsSeq(fused) === before + 1, "one pass commits the cells once")
    val (want, got) = (indexState(seq), indexState(fused))
    assert(got._1 === want._1, "stored vector rows diverge")
    assert(got._2 === want._2, "id maps diverge")
    assert(got._3 === want._3, "cell directories diverge")
    val stored = spark.read.parquet(fused + "/vectors").select("vec_id", "cell").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(got._2 === stored, "the id map must mirror the stored cells")
    assert(stored === expected)
    fused
  }

  /** A randomized change set against the stored index at `p`: `moves`
    * stored ids re-embedded with other stored vectors' embeddings (most
    * change cell), `fresh` new ids, `drops` deleted stored ids and
    * `absent` deletes of never-indexed ids — puts and deletes disjoint.
    * Put embeddings come only from cells outside `avoid`, and the stored
    * ids of `avoid` are deleted too, so those cells end empty. */
  private def randomChanges(p: String, seed: Long, moves: Int, fresh: Int,
      drops: Int, absent: Int, avoid: Set[Int] = Set.empty, attrs: Seq[String] = Nil)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame, Set[(Long, Int)]) = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val rows = spark.read.parquet(p + "/vectors")
      .select((Seq("vec_id", "cell", "embedding") ++ attrs).map(col): _*)
      .collect().sortBy(_.getLong(0))
    val (emptied, rest) = rows.partition(r => avoid.contains(r.getInt(1)))
    val shuffled = rnd.shuffle(rest.toSeq)
    val movers = shuffled.take(moves)
    val deleted = shuffled.slice(moves, moves + drops).map(_.getLong(0)) ++ emptied.map(_.getLong(0))
    def donor() = rest(rnd.nextInt(rest.length))
    val putRows = movers.map(r => (r.getLong(0), donor())) ++
      (0 until fresh).map(i => (5000000L + seed * 1000 + i, donor()))
    val schema = spark.read.parquet(p + "/vectors")
      .select((Seq("vec_id", "embedding") ++ attrs).map(col): _*).schema
    val puts = spark.createDataFrame(spark.sparkContext.parallelize(putRows.map {
      case (id, d) => org.apache.spark.sql.Row.fromSeq(
        Seq(id, d.getSeq[Float](2)) ++ attrs.indices.map(i => d.get(3 + i)))
    }), schema)
    val dels = (deleted ++ (0 until absent).map(i => 9000000L + seed * 1000 + i)).toDF("vec_id")
    // a put lands in its donor's cell: the donor was assigned against the
    // same trained centroids
    val expected = rows.map(r => r.getLong(0) -> r.getInt(1)).toMap --
      deleted ++ putRows.map { case (id, d) => id -> d.getInt(1) }
    (puts, dels, expected.toSet)
  }

  test("applyChanges equals delete-then-upsert: moved, new, deleted and absent ids; an emptied cell loses its directory") {
    val base = Files.createTempDirectory("graft_ivfEq").toString + "/ivf"
    IvfIndex.build(Tables.embeddings(spark, dir), base, nlist = nlist, iters = 2)
    for (seed <- 1L to 3L) {
      val (puts, dels, want) = randomChanges(base, seed, moves = 25, fresh = 10, drops = 30, absent = 5)
      fusedMatchesSequential(base, puts, dels, want)
    }
    // every stored id of the smallest cell deleted, no put landing there:
    // the cell's directory goes (a put's cell is its stored vector's)
    val victim = spark.read.parquet(base + "/ids").groupBy("cell").count()
      .orderBy(col("count"), col("cell")).head().getInt(0)
    val (puts, dels, want) = randomChanges(base, 7L, moves = 20, fresh = 5, drops = 10,
      absent = 3, avoid = Set(victim))
    val fused = fusedMatchesSequential(base, puts, dels, want)
    assert(!new java.io.File(s"$fused/vectors/cell=$victim").exists())
    assert(new java.io.File(s"$base/vectors/cell=$victim").exists())
  }

  test("applyChanges equals delete-then-upsert on PQ and attribute roots (codes and attrs columns included)") {
    val e = Tables.embeddings(spark, dir)
    val pq = Files.createTempDirectory("graft_ivfEqPq").toString + "/ivf"
    IvfIndex.build(e.select("vec_id", "embedding"), pq, nlist = nlist, iters = 2,
      pq = Some(IvfIndex.PqSpec(m = 8, k = 4, iters = 1)))
    val (pPuts, pDels, pWant) = randomChanges(pq, 11L, moves = 20, fresh = 8, drops = 20, absent = 4)
    val fusedPq = fusedMatchesSequential(pq, pPuts, pDels, pWant)
    assert(spark.read.parquet(fusedPq + "/vectors")
      .filter(col("codes").isNull || size(col("codes")) =!= 8).isEmpty)
    val at = Files.createTempDirectory("graft_ivfEqAt").toString + "/ivf"
    IvfIndex.build(e.select("vec_id", "embedding", "label"), at, nlist = nlist,
      iters = 2, attrs = Seq("label"))
    val (aPuts, aDels, aWant) = randomChanges(at, 12L, moves = 20, fresh = 8, drops = 20,
      absent = 4, attrs = Seq("label"))
    fusedMatchesSequential(at, aPuts, aDels, aWant)
  }

  test("applyChanges with deletes hashing only to absent id buckets: no-op alone, equal to delete-then-upsert beside puts") {
    import spark.implicits._
    // six vectors fill at most six of the sixteen id buckets
    val base = Files.createTempDirectory("graft_ivfAbs").toString + "/ivf"
    val six = Tables.embeddings(spark, dir).filter(col("vec_id") < 6).select("vec_id", "embedding")
    IvfIndex.build(six, base, nlist = 2, iters = 2)
    val live = new java.io.File(base + "/ids").listFiles().map(_.getName).filter(_.startsWith("b=")).toSet
    def bucket(id: Long): String = {
      val crc = new java.util.zip.CRC32()
      crc.update(id.toString.getBytes("UTF-8"))
      s"b=${java.lang.Math.floorMod(crc.getValue, IvfIndex.IdBuckets.toLong)}"
    }
    val absentIds = (7000000L until 7000100L).filter(id => !live.contains(bucket(id))).take(4)
    assert(absentIds.size === 4)
    val dels = absentIds.toDF("vec_id")
    // alone: nothing indexed, nothing committed
    val seq0 = vectorsSeq(base)
    val before = indexState(base)
    IvfIndex.applyChanges(spark, base, six.limit(0), dels)
    assert(vectorsSeq(base) === seq0 && indexState(base) === before)
    // beside puts (a move and a new id): the same state as the two calls
    val moved = six.filter(col("vec_id") === 5).select(lit(0L).as("vec_id"), col("embedding"))
    val fresh = six.filter(col("vec_id") === 4).select(lit(6000000L).as("vec_id"), col("embedding"))
    val cells = before._2.toMap
    fusedMatchesSequential(base, moved.unionByName(fresh), dels,
      before._2 - (0L -> cells(0L)) ++ Set(0L -> cells(5L), 6000000L -> cells(4L)))
  }

  test("applyChanges fails loudly on a vec_id that is both put and deleted, before any write") {
    import spark.implicits._
    val p = Files.createTempDirectory("graft_ivfOv").toString + "/ivf"
    IvfIndex.build(Tables.embeddings(spark, dir), p, nlist = nlist, iters = 2)
    val before = indexState(p)
    val seq0 = vectorsSeq(p)
    val ex = intercept[IllegalArgumentException] {
      IvfIndex.applyChanges(spark, p, Seq((5L, query), (1000001L, query)).toDF("vec_id", "embedding"),
        Seq(5L, 7L).toDF("vec_id"))
    }
    assert(ex.getMessage.contains("both upserted and deleted"), ex.getMessage)
    assert(indexState(p) === before && vectorsSeq(p) === seq0)
  }

  test("applyChanges replay converges from the crash state between its cells and ids commits") {
    val base = Files.createTempDirectory("graft_ivfFC").toString
    val full = s"$base/full"
    IvfIndex.build(Tables.embeddings(spark, dir), full, nlist = nlist, iters = 2)
    val crash = s"$base/crash"
    copyDir(full, crash)
    val (puts, dels, _) = randomChanges(full, 21L, moves = 15, fresh = 5, drops = 15, absent = 2)
    IvfIndex.applyChanges(spark, full, puts, dels)
    // crash state: the new cells committed over the OLD id map
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$crash/vectors"))
    copyDir(s"$full/vectors", s"$crash/vectors")
    IvfIndex.applyChanges(spark, crash, puts, dels) // the replay
    assert(indexState(crash) === indexState(full))
  }

  test("a pipeline flush with puts and deletes advances the vectors root's _seq by exactly one") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_ivfPipeSeq").toString + "/pipe"
    val vroot = graft.streaming.IngestPipeline.vectorsRoot(root)
    def applyV(id: Long, changes: Seq[VecDocChange]): Unit =
      graft.streaming.IngestPipeline.applyBatch(spark, changes.toDF(), root, id,
        threshold = 0.5, annNlist = 2, annIters = 1)
    applyV(0, Seq(
      VecDocChange("1", 0, "put", "alpha beta gamma delta", Seq(1f, 0f, 0f, 0f)),
      VecDocChange("2", 1, "put", "totally different words entirely here", Seq(0f, 1f, 0f, 0f)),
      VecDocChange("3", 2, "put", "a third unrelated document body text", Seq(0f, 0f, 1f, 0f))))
    val seq0 = vectorsSeq(vroot)
    applyV(1, Seq(
      VecDocChange("1", 10, "put", "alpha beta gamma delta", Seq(0f, 0f, 0f, 1f)),
      VecDocChange("2", 11, "delete", "", Nil),
      VecDocChange("4", 12, "put", "yet another fully distinct sentence", Seq(0.6f, 0.8f, 0f, 0f))))
    assert(vectorsSeq(vroot) === seq0 + 1)
    assert(spark.read.parquet(vroot + "/vectors").select("vec_id").collect()
      .map(_.getLong(0)).toSet === Set(1L, 3L, 4L))
  }

  test("applyChanges reads the centroids and the id map with their stored schemas") {
    import spark.implicits._
    val p = Files.createTempDirectory("graft_ivfJobs").toString + "/ivf"
    val vecs = (0 until 8).map { i =>
      val th = 2 * math.Pi * i / 8
      (i.toLong, Seq(math.cos(th).toFloat, math.sin(th).toFloat))
    }.toDF("vec_id", "embedding")
    IvfIndex.build(vecs, p, nlist = 2, iters = 1)
    val puts = Seq((1L, Seq(0.0f, 1.0f)), (9L, Seq(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val dels = Seq(3L).toDF("vec_id")
    // three jobs fewer than reads that infer their schema from a footer:
    // the centroids, the id map and the touched cells
    val jobs = SpecMetrics.jobsRun(spark)(IvfIndex.applyChanges(spark, p, puts, dels))
    assert(jobs <= 18, s"$jobs jobs")
    assert(spark.read.parquet(p + "/ids").select("vec_id").collect().map(_.getLong(0)).sorted
      .toSeq === Seq(0L, 1L, 2L, 4L, 5L, 6L, 7L, 9L))
  }
}
