package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType, MapType, StructField, StructType}
import graft.streaming.StateStore

/** Persisted IVF (inverted-file) vector index — the materialized form of
  * the ANN scale path that `q_ann_ivf` / `q_ann_multiprobe` demonstrate
  * inline (SCALE.md §vectors: "at 100 TB the cell assignment comes from
  * offline k-means and the table is partitioned by cell"). This object IS
  * that offline path:
  *
  *   - [[build]] trains a coarse quantizer with Lloyd's k-means
  *     (deterministically seeded), assigns every vector to its nearest
  *     cell, and writes `<path>/centroids` plus `<path>/vectors`
  *     PARTITIONED BY cell;
  *   - [[search]] ranks cells by query·centroid (nlist rows — metadata),
  *     and reads ONLY the probed cells' directories: the filter on the
  *     partition column prunes at the file listing, so a probe touches
  *     probes/nlist of the data before any arithmetic (asserted on
  *     `inputFiles` in IvfIndexSpec).
  *
  * All arithmetic is the same double-cast fold the query family uses; the
  * fixture embeddings are unit vectors, so argmax dot == argmin L2 and
  * cell assignment by max similarity is exact k-means assignment.
  *
  * At 100 TB: train on a hash-sample (`Index`-style deterministic split),
  * then one assignment pass + one partitioned write materialize the
  * index; incremental upserts ride the changelog pipeline into per-cell
  * bucket rewrites exactly like `IncrementalIndex`.
  */
object IvfIndex {

  /** query·centroid / vector·centroid in double precision: both sides cast
    * elementwise, left-to-right fold — bit-stable across plans. */
  private def dotDD(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, p) => acc + p)

  /** Nearest-cell assignment of every vector against the (broadcast)
    * centroid table: one narrow pass, top-1 per vector via
    * WindowGroupLimit (no global sort). `withCount` adds `n`, the number
    * of `vectors` rows carrying the row's vec_id (the cross join gives
    * every input row one row per cell, so the count per (vec_id, cell) is
    * that multiplicity): a duplicate-id check that rides the assignment's
    * own vec_id exchange. */
  private def assign(vectors: DataFrame, centroids: DataFrame,
                     withCount: Boolean = false): DataFrame = {
    val w = Window.partitionBy(col("vec_id")).orderBy(col("sim").desc, col("cell"))
    val scored = vectors.crossJoin(broadcast(centroids))
      .withColumn("sim", dotDD(col("cent"), col("embedding")))
    (if (withCount)
      scored.withColumn("n", count(lit(1)).over(Window.partitionBy(col("vec_id"), col("cell"))))
    else scored)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn", "sim", "cent")
  }

  /** Per-cell mean of the assigned vectors (the k-means update step —
    * the same two-level aggregation as `q_vector_centroid`). */
  private def recompute(assigned: DataFrame): DataFrame =
    assigned
      .select(col("cell"), posexplode(col("embedding")).as(Seq("i", "v")))
      .groupBy("cell", "i")
      .agg(avg(col("v").cast("double")).as("c"))
      .groupBy("cell")
      .agg(transform(array_sort(collect_list(struct(col("i"), col("c")))),
        s => s.getField("c")).as("cent"))

  /** Bucket count of the id→cell sidecar map (see [[upsert]]). */
  val IdBuckets = 16

  /** The stored schemas of the centroid table, the PQ codebooks and the
    * id→cell map — what [[build]] and [[applyChanges]] write, so every
    * read of them is planned without a footer read. */
  private val centroidSchema = StructType(Seq(
    StructField("cell", IntegerType), StructField("cent", ArrayType(DoubleType))))
  private val codebookSchema = StructType(Seq(
    StructField("s", IntegerType), StructField("code", IntegerType),
    StructField("cw", ArrayType(DoubleType))))
  private val idsSchema = StructType(Seq(
    StructField("vec_id", LongType), StructField("cell", IntegerType)))

  /** The stored vector columns of a cell file; the root's codes and
    * attribute columns follow them ([[cellSchema]]). */
  private val vecSchema = StructType(Seq(
    StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType))))

  /** The cell files' schema as the root's markers give it: [[vecSchema]],
    * then `codes ARRAY<INT>` when `codes` (the root carries codebooks),
    * then `attrs` ([[storedAttrs]]), then the `cell` partition column. */
  private def cellSchema(codes: Boolean, attrs: Seq[StructField] = Nil): StructType =
    StructType(vecSchema.fields.toSeq ++
      (if (codes) Seq(StructField("codes", ArrayType(IntegerType))) else Nil) ++
      attrs :+ StructField("cell", IntegerType))

  private def readIds(spark: SparkSession, idsRoot: String, dirs: Seq[String]): DataFrame =
    StateStore.readBuckets(spark, idsRoot, dirs, Some(idsSchema))

  /** (vec_id, cell, b) rows in [[idsSchema]]'s types, placed in their id
    * bucket. */
  private def idRows(df: DataFrame): DataFrame =
    df.select(col("vec_id").cast("long").as("vec_id"), col("cell"))
      .withColumn("b", StateStore.bucketOf(col("vec_id"), IdBuckets))

  /** `vectors`' (vec_id, embedding) in [[vecSchema]]'s types, then `attrs`. */
  private def asStored(vectors: DataFrame, attrs: Seq[String]): DataFrame =
    vectors.select((col("vec_id").cast("long").as("vec_id") +:
      col("embedding").cast("array<float>").as("embedding") +: attrs.map(col)): _*)

  /** Heal an interrupted ROOT swap before touching the index. [[rebuild]]
    * promotes a whole replacement index over `path` with the StateStore
    * rename pair; a crash between the renames leaves `path` missing and
    * `path.old` holding the only live copy. Every entrypoint heals first
    * so that window is invisible — without this, [[upsert]] would see an
    * "empty" root and initialize fresh state NEXT TO the surviving copy. */
  private def heal(spark: SparkSession, path: String): Unit =
    StateStore.recover(spark, path)

  // ---- product quantization: the memory-bounded shortlist path ----
  //
  // At 100 TB the probe's working set is the bottleneck: a probed cell's
  // FULL float vectors are probes/nlist of the corpus. PQ stores each
  // vector additionally as `m` small codeword ids (default 16 × 4-bit ids
  // per 64-d float vector — 16× smaller than the floats) and scores
  // shortlist candidates from the codes alone via an asymmetric-distance
  // table (ADC). The codes live as an EXTRA COLUMN in the same
  // cell-partitioned vector files: parquet's columnar layout makes the
  // ADC scan read only (vec_id, codes) pages — the compression benefit —
  // while the codes stay transactionally glued to their vectors (every
  // cell swap [[applyChanges]] commits carries both, so the sidecar
  // can never describe a different generation than the data, the failure
  // mode a codes-directory-next-to-the-vectors design would have to fence).
  // The codebooks are trained once at [[build]]/[[enablePq]] and FROZEN
  // across upserts, exactly the coarse quantizer's contract; [[rebuild]]
  // retrains them together with the centroids.

  /** Product-quantization shape: `m` subspaces × `k` codewords each
    * (log2(k)-bit codes). The default 16×16 stores a 64-d float vector's
    * shortlist form in 16 4-bit ids — 16× smaller than the floats. */
  final case class PqSpec(m: Int = 16, k: Int = 16, iters: Int = 3) {
    require(m > 0 && k > 1 && iters > 0, "PqSpec fields must be positive (k > 1)")
  }

  /** (vec_id, s, sub): each embedding split into `m` double subvectors. */
  private def pqSub(vectors: DataFrame, m: Int, subDim: Int): DataFrame =
    vectors.select(col("vec_id"), posexplode(expr(
      s"transform(sequence(0, ${m - 1}), s -> " +
        s"transform(slice(embedding, s * $subDim + 1, $subDim), " +
        "x -> cast(x AS double)))")).as(Seq("s", "sub")))

  /** Nearest codeword (L2) per (vec_id, subspace) — the k-means assign
    * step and the encoder: |rows| × k broadcast-joined candidates, top-1
    * via WindowGroupLimit. */
  private def pqNearest(sub: DataFrame, cb: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("vec_id"), col("s"))
      .orderBy(col("d2"), col("code"))
    sub.join(broadcast(cb.select("s", "code", "cw")), "s")
      .withColumn("d2", aggregate(
        zip_with(col("sub"), col("cw"), (x, y) => (x - y) * (x - y)),
        lit(0.0), (a, p) => a + p))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("vec_id", "s", "code", "sub")
  }

  /** Per-subspace codebooks (s, code, cw) via Lloyd iterations, seeded
    * from each subspace's `k` smallest vec_ids — deterministic like the
    * coarse quantizer's seeding, so rebuilds are stable. Codewords that
    * lose all members drop out (standard k-means attrition); codes only
    * ever reference survivors. */
  private[graft] def trainCodebooks(vectors: DataFrame, pq: PqSpec, subDim: Int): DataFrame = {
    val sub = pqSub(vectors, pq.m, subDim)
    val seedW = Window.partitionBy(col("s")).orderBy(col("vec_id"))
    var cb = sub.withColumn("rn", row_number().over(seedW))
      .filter(col("rn") <= pq.k)
      .select(col("s"), (col("rn") - 1).cast("int").as("code"),
        col("sub").as("cw"))
      .localCheckpoint()
    for (_ <- 1 to pq.iters)
      cb = pqNearest(sub, cb)
        .select(col("s"), col("code"), posexplode(col("sub")).as(Seq("i", "v")))
        .groupBy("s", "code", "i").agg(avg(col("v")).as("c"))
        .groupBy("s", "code")
        .agg(transform(array_sort(collect_list(struct(col("i"), col("c")))),
          x => x.getField("c")).as("cw"))
        .localCheckpoint()
    cb
  }

  /** `vectors` plus a `codes` column (ARRAY<INT>, one codeword id per
    * subspace) encoded against the FROZEN codebooks — the upsert-path
    * encoder. Shape (m, subDim) derives from the codebook rows. */
  private[graft] def encode(vectors: DataFrame, cb: DataFrame): DataFrame = {
    val shape = cb.agg(max(col("s")).as("ms"), max(size(col("cw"))).as("sd")).head()
    val (m, subDim) = (shape.getInt(0) + 1, shape.getInt(1))
    val codes = pqNearest(
      pqSub(vectors.select("vec_id", "embedding"), m, subDim), cb)
      .groupBy("vec_id")
      .agg(transform(array_sort(collect_list(struct(col("s"), col("code")))),
        x => x.getField("code")).as("codes"))
    vectors.join(codes, "vec_id")
  }

  /** The trained PQ codebooks, when this index carries them. Commit order
    * in [[build]] is centroids → codebooks → vectors, so any root with
    * vectors has its codebooks: a crash before the codebooks commit
    * presents (at worst) a plain IVF index, never a mixed one. */
  private def codebooksOpt(spark: SparkSession, path: String): Option[DataFrame] = {
    StateStore.recover(spark, path + "/codebooks")
    if (StateStore.nonEmpty(spark, path + "/codebooks"))
      Some(spark.read.schema(codebookSchema).parquet(path + "/codebooks"))
    else None
  }

  /** True if the index at `path` was built (or retrofitted) with PQ. */
  def pqEnabled(spark: SparkSession, path: String): Boolean = {
    heal(spark, path)
    codebooksOpt(spark, path).isDefined
  }

  /** Column names the index derives or uses transiently — an attribute
    * column may not shadow them ([[build]]'s `attrs` validation). */
  private val ReservedCols = Set("vec_id", "embedding", "cell", "codes",
    "sim", "cent", "rn", "csim", "b", "adc", "upserted", "qid", "qv")

  /** The attribute columns a root was built with (the `_attrs` marker
    * written by [[build]]); empty for an index built without attributes. */
  private[graft] def attrsOf(spark: SparkSession, path: String): Seq[String] =
    StateStore.readTag(spark, path, "_attrs")
      .map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil)

  /** The attribute columns with their stored types (the `_attrs_schema`
    * marker [[build]] pins beside `_attrs`); empty for an index built
    * without attributes. */
  private def storedAttrs(spark: SparkSession, path: String): Seq[StructField] = {
    val attrs = attrsOf(spark, path)
    if (attrs.isEmpty) Nil
    else {
      val schema = StateStore.readTag(spark, path, "_attrs_schema")
        .map(j => DataType.fromJson(j).asInstanceOf[StructType])
        .getOrElse(throw new IllegalStateException(
          s"index at $path stores attributes but no _attrs_schema marker"))
      attrs.map(schema(_))
    }
  }

  /** `dataType` with nullability forced true RECURSIVELY — container
    * `containsNull`/`valueContainsNull` and nested struct fields included,
    * not just the top level. Nullability is a per-batch inference artifact
    * (a parquet read-back is always nullable; a literal-built frame often
    * isn't), never a storage-compatibility fact, so the `_attrs_schema`
    * type guard compares through this normalization on both sides. */
  private[graft] def deepNullable(dt: DataType): DataType = dt match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = deepNullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(deepNullable(a.elementType), containsNull = true)
    case m: MapType =>
      MapType(deepNullable(m.keyType), deepNullable(m.valueType), valueContainsNull = true)
    case other => other
  }

  /** Train the coarse quantizer and materialize the index. Seeding is the
    * `nlist` smallest vec_ids — deterministic, so rebuilds are stable.
    * Each iteration checkpoints the (tiny) centroid table to truncate the
    * iterative lineage. Alongside the cell-partitioned vectors, an
    * id→cell sidecar (`<path>/ids`, bucketed by vec_id hash) records each
    * vector's current cell so [[upsert]] can find and clear a moved
    * vector's old copy without scanning the index.
    *
    * `attrs` names metadata columns of `vectors` to store ALONGSIDE the
    * embeddings in the cell files (the colocated-attribute layout every
    * filtered-ANN engine uses): [[searchFiltered]] then evaluates a
    * predicate over them INSIDE the probed cells — pushed to the parquet
    * scan of only those files — with no join against a metadata table at
    * query time. The attribute set is pinned in an `_attrs` root marker;
    * [[upsert]] requires every later batch to carry the same columns and
    * [[rebuild]] carries them through retrains. Quantizer training reads
    * only (vec_id, embedding) regardless — attributes never widen the
    * Lloyd iterations' shuffles. */
  def build(vectors: DataFrame, path: String, nlist: Int = 16, iters: Int = 5,
            pq: Option[PqSpec] = None, attrs: Seq[String] = Nil): Unit = {
    require(attrs.forall(a => !ReservedCols.contains(a)),
      s"attribute columns may not use reserved names: " +
        attrs.filter(ReservedCols.contains).mkString(","))
    require(attrs.distinct == attrs, "duplicate attribute column names")
    // Rebuild = REPLACE: clear any previous index first, as one unit. The
    // three writes below are not mutually atomic; replacing from scratch
    // means a crash mid-build leaves an obviously-incomplete index whose
    // readers fail loudly (missing dirs), never a complete-looking index
    // whose id map describes the PREVIOUS layout — that combination would
    // make later upserts clear the wrong cells silently.
    val spark0 = vectors.sparkSession
    heal(spark0, path) // resolve any interrupted root swap before replacing
    val full = asStored(vectors, attrs)
    val e = full.select(col("vec_id"), col("embedding"))
    // input-only validation BEFORE the destructive delete below: a call
    // rejected on its parameters must not have wiped a healthy index first
    val pqDim = pq.map { spec =>
      val d = e.select(size(col("embedding"))).limit(1).collect()
      require(d.nonEmpty, "PQ build needs a non-empty vector set to train on")
      require(d.head.getInt(0) % spec.m == 0,
        s"embedding dim ${d.head.getInt(0)} not divisible by PqSpec.m=${spec.m}")
      d.head.getInt(0) / spec.m
    }
    // the clear is itself a commit of an empty root: the root keeps its
    // `_seq` counter (moved past the previous build's), so no listing or
    // statistic cached against the previous build can validate again
    StateStore.commit(spark0, path) { tmp =>
      val t = new org.apache.hadoop.fs.Path(tmp)
      t.getFileSystem(spark0.sessionState.newHadoopConf()).mkdirs(t): Unit
    }
    var centroids = e.orderBy("vec_id").limit(nlist)
      .select(
        (row_number().over(Window.orderBy("vec_id")) - 1).cast("int").as("cell"),
        transform(col("embedding"), _.cast("double")).as("cent"))
      .localCheckpoint()
    for (_ <- 1 to iters)
      centroids = recompute(assign(e, centroids)).localCheckpoint()
    // atomic: the centroid table is the "index exists" signal the
    // incremental maintainers key on ([[IngestPipeline]] builds when it is
    // absent, completes via [[upsert]]/[[delete]] when present), so it must
    // never exist half-written — a torn table would read as a complete
    // quantizer with garbage cells
    val cent = centroids
    StateStore.commit(spark0, path + "/centroids")(tmp =>
      cent.write.mode("overwrite").parquet(tmp))
    // codebooks commit BEFORE the vectors write (see [[codebooksOpt]]'s
    // torn-build argument): a crash here leaves an index with no vectors,
    // which every maintainer already treats as "re-run build"
    val cbOpt = pq.map { spec =>
      val cb = trainCodebooks(e, spec, pqDim.get)
      StateStore.commit(spark0, path + "/codebooks")(tmp =>
        cb.write.mode("overwrite").parquet(tmp))
      spark0.read.schema(codebookSchema).parquet(path + "/codebooks")
    }
    // the final assign runs on `full`, so attribute columns ride into the
    // cell files — training above never touched them
    val assignedRaw = assign(full, centroids)
    val assigned = cbOpt.map(encode(assignedRaw, _)).getOrElse(assignedRaw).cache()
    try {
      StateStore.commit(spark0, path + "/vectors")(
        StateStore.writeBucketFiles(assigned, _, "cell", Seq("vec_id")))
      StateStore.commit(spark0, path + "/ids")(
        StateStore.writeBucketFiles(idRows(assigned), _, "b", Seq("vec_id")))
      // after the swap (which replaces the whole ids dir, marker included)
      StateStore.ensureBucketCount(assigned.sparkSession, path + "/ids", IdBuckets)
      if (attrs.nonEmpty) {
        StateStore.ensureTag(spark0, path, "_attrs", attrs.mkString(","))
        // the stored (vec_id, attrs) schema, pinned so [[attrsForIds]]'
        // empty paths return the stored types without a footer read;
        // nullability normalized DEEP (containers and nested fields too —
        // [[deepNullable]]) because a parquet read-back always is, and
        // [[upsert]]'s type guard must not reject a batch differing only
        // in ArrayType.containsNull / nested-field nullability
        StateStore.ensureTag(spark0, path, "_attrs_schema",
          StructType(assigned.schema.fields.filter(f =>
            f.name == "vec_id" || attrs.contains(f.name))
            .map(f => f.copy(dataType = deepNullable(f.dataType),
              nullable = true))).json)
      }
    } finally assigned.unpersist(): Unit
  }

  /** The trained centroid table (cell, centroid). Heals an interrupted
    * centroid swap first (promotes a stranded `.old` — see
    * [[StateStore.recover]]), so a crash between [[build]]'s rename steps
    * never presents the index as missing while the only copy sits aside. */
  def centroids(spark: SparkSession, path: String): DataFrame = {
    heal(spark, path)
    StateStore.recover(spark, path + "/centroids")
    spark.read.schema(centroidSchema).parquet(path + "/centroids")
  }

  /** True if the index at `path` has a committed centroid table — the
    * maintainers' build-vs-upsert dispatch signal. */
  def exists(spark: SparkSession, path: String): Boolean = {
    heal(spark, path)
    StateStore.recover(spark, path + "/centroids")
    StateStore.nonEmpty(spark, path + "/centroids")
  }

  /** Incrementally upsert vectors into a built index: assign against the
    * TRAINED centroids (the quantizer is not retrained — the standard IVF
    * maintenance contract; drifted distributions call for a rebuild), then
    * read + rewrite ONLY the touched cells, replacing rows by vec_id.
    * One [[applyChanges]] pass with no deletes. */
  def upsert(spark: SparkSession, path: String, vectors: DataFrame): Unit =
    changePass(spark, path, Some(vectors), None)

  /** Remove vectors by id — the changelog-delete half of incremental
    * maintenance ([[upsert]] being the put half). Ids absent from the
    * index are ignored (deletes of never-indexed or already-deleted keys
    * are no-ops, the changelog contract); a call that removes nothing
    * commits nothing. `vecIds` is a one-column (vec_id) frame. One
    * [[applyChanges]] pass with no puts. */
  def delete(spark: SparkSession, path: String, vecIds: DataFrame): Unit =
    changePass(spark, path, None, Some(vecIds))

  /** Upsert `puts` (vec_id, embedding[, attrs]) and delete `deletes`
    * (vec_id) in ONE pass over the touched state — the form a changelog
    * batch takes, and what [[upsert]] and [[delete]] call:
    *
    *   1. one collect of the touched (cell, id-bucket) pairs: the puts'
    *      cells from the trained centroids, the deletes' id buckets; the
    *      duplicate-put check and the put/delete overlap check ride the
    *      same aggregate;
    *   2. one id-map read — ONLY the id buckets the changed ids hash to —
    *      finds the cells holding the changed ids' OLD copies (an updated
    *      embedding can re-assign its vec_id to a different cell: the
    *      cell, unlike the changelog merges' rowkey bucket, is a function
    *      of the embedding, not the key);
    *   3. one read of the touched cells, anti-joined on every changed id
    *      and unioned with the (PQ-encoded, when the root carries
    *      codebooks) puts;
    *   4. one commit of the cells, then one commit of the id buckets.
    *
    * Per-call I/O is O(touched id buckets + touched cells), never the
    * index. Commit order is cells first, ids second: a replay with the OLD
    * id map still sees the old cells as touched and re-clears them
    * (idempotent); the reverse order would lose track of a stale copy. A
    * cell or id bucket left empty is removed
    * ([[graft.streaming.StateStore.swapIn]]'s missing-tmp path).
    *
    * A vec_id appearing twice among the puts, or among both the puts and
    * the deletes, fails loudly before any write: the pass has no order
    * between its puts and its deletes, so such a batch has no meaning
    * (resolve the changelog to its latest event per id first). */
  def applyChanges(spark: SparkSession, path: String, puts: DataFrame,
                   deletes: DataFrame): Unit =
    changePass(spark, path, Some(puts), Some(deletes))

  /** Reject a put batch that lacks the root's attribute columns
    * ([[storedAttrs]]) or contradicts their stored types. */
  private def checkAttrs(path: String, vectors: DataFrame,
                         attrs: Seq[StructField]): Unit = {
    // an attribute-carrying root requires every batch to carry its attrs
    // (`_attrs` marker, [[build]]): silently writing rows WITHOUT them
    // would leave cell files whose schemas disagree, and a later filtered
    // probe would resolve the predicate column as missing
    val absent = attrs.map(_.name).filterNot(vectors.columns.contains)
    if (absent.nonEmpty) throw new IllegalStateException(
      s"index at $path stores attribute columns [${attrs.map(_.name).mkString(",")}] " +
        s"but the upsert batch is missing [${absent.mkString(",")}] — " +
        "every upsert into an attribute-carrying index must supply them")
    // ... with the STORED types: presence alone lets a batch whose
    // touched cells happen to have no live files (all-deleted) commit a
    // type-divergent cell file that unionByName never sees — a later
    // whole-dir read then fails far from the offending upsert
    val diverged = attrs.flatMap { a =>
      // nested nullability is a parquet read-back artifact, not a
      // type divergence: compare with containers/fields normalized
      val got = deepNullable(vectors.schema(a.name).dataType)
      val want = deepNullable(a.dataType)
      if (got != want) Some(s"${a.name}: batch $got vs stored $want") else None
    }
    if (diverged.nonEmpty) throw new IllegalStateException(
      s"index at $path stores attribute types the upsert batch " +
        s"contradicts [${diverged.mkString("; ")}] — cell files must " +
        "never disagree on a column's type")
  }

  private def changePass(spark: SparkSession, path: String,
                         puts: Option[DataFrame],
                         deletes: Option[DataFrame]): Unit = {
    heal(spark, path)
    val vecRoot = path + "/vectors"
    val idsRoot = path + "/ids"
    // Fail loudly on an index whose id map is absent while vectors exist
    // (a build that crashed between its writes):
    // maintaining it against an empty map would stop clearing moved or
    // deleted vectors' copies — the silent duplication the map prevents.
    val liveIds = StateStore.liveBuckets(spark, idsRoot).toSet
    if (liveIds.isEmpty && StateStore.liveBuckets(spark, vecRoot, "cell=").nonEmpty)
      throw new IllegalStateException(
        s"index at $path has vectors but no id map — rebuild it with IvfIndex.build")
    if (puts.isEmpty && liveIds.isEmpty) return // nothing indexed to delete
    if (puts.isDefined) StateStore.ensureBucketCount(spark, idsRoot, IdBuckets)
    val attrFields = storedAttrs(spark, path)
    puts.foreach(checkAttrs(path, _, attrFields))
    // cached: the collect below, the id anti-joins and the rewrites all
    // consume them, and the caller's frames may be expensive
    val counted = puts.map(p => assign(asStored(p, attrFields.map(_.name)),
      centroids(spark, path), withCount = true).cache())
    val assigned = counted.map(_.drop("n"))
    val dels = deletes.map(_.select(col("vec_id")).cache())
    val changedIds = (assigned.toSeq ++ dels).map(_.select("vec_id"))
      .reduce(_ unionByName _).select(col("vec_id").as("changed"))
    def notChanged(df: DataFrame): DataFrame =
      df.join(broadcast(changedIds), col("vec_id") === col("changed"), "left_anti")
    try {
      // ONE collect: per changed id its put count, delete flag and new
      // cell, folded to the distinct (cell, id-bucket) pairs and the two
      // batch checks — at most (nlist + 1) × IdBuckets × 4 rows
      val touched = (counted.map(_.select(col("vec_id"), col("cell"),
            col("n").as("np"), lit(0L).as("nd"))).toSeq ++
          dels.map(_.select(col("vec_id"), lit(null).cast("int").as("cell"),
            lit(0L).as("np"), lit(1L).as("nd"))))
        .reduce(_ unionByName _)
        .groupBy("vec_id")
        .agg(max(col("np")).as("np"), max(col("nd")).as("nd"), max(col("cell")).as("cell"))
        .select(col("cell"), StateStore.bucketOf(col("vec_id"), IdBuckets).as("ib"),
          (col("np") > 1).as("dup"), (col("np") > 0 && col("nd") > 0).as("both"))
        .distinct().collect()
      require(!touched.exists(_.getBoolean(2)),
        "upsert batch contains duplicate vec_ids — resolve to one embedding per id first")
      require(!touched.exists(_.getBoolean(3)),
        "a vec_id is both upserted and deleted in one change set — " +
          "resolve the changelog to the latest event per id first")
      val putRows = touched.filterNot(_.isNullAt(0))
      val newCells = putRows.map(_.getInt(0)).distinct
      // the id buckets to rewrite: every live one a changed id hashes to,
      // and every one a put lands in
      val putIdDirs = putRows.map(r => s"b=${r.getInt(1)}").toSet
      val idDirs = touched.map(_.getInt(1)).distinct.sorted.toSeq.map(b => s"b=$b")
        .filter(d => liveIds.contains(d) || putIdDirs.contains(d))
      val oldIdDirs = idDirs.filter(liveIds.contains)
      // no put, and every deleted id hashes to an absent bucket: not indexed
      if (newCells.isEmpty && oldIdDirs.isEmpty) return
      val oldIds = readIds(spark, idsRoot, oldIdDirs)
      val oldCells = oldIds.join(broadcast(changedIds), col("vec_id") === col("changed"))
        .select("cell").distinct().collect().map(_.getInt(0))
      if (newCells.isEmpty && oldCells.isEmpty) return // no deleted id is indexed
      // a cell listed by the id map but already gone on disk is a replay
      // of a pass that crashed between its two commits: skip its read and
      // its rewrite, still rewrite the id buckets so the map catches up
      val live = StateStore.liveBuckets(spark, vecRoot, "cell=").toSet
      val liveDirs = (newCells ++ oldCells).distinct.sorted.toSeq
        .map(c => s"cell=$c").filter(live.contains)
      val dirs = (newCells.toSeq.map(c => s"cell=$c") ++ liveDirs).distinct.sorted
      // PQ maintenance rides the same cell rewrite: encode the puts
      // against the FROZEN codebooks so the rewritten cells' codes column
      // stays a pure function of their vectors (kept rows carry their
      // codes through the rewrite)
      val cb = codebooksOpt(spark, path)
      val upserted = assigned.map(a => cb.map(encode(a, _)).getOrElse(a))
      val kept =
        if (liveDirs.nonEmpty)
          Some(notChanged(StateStore.readBuckets(spark, vecRoot, liveDirs,
            Some(cellSchema(cb.isDefined, attrFields)))))
        else None
      // checkpointed: decoupled from the files before the swaps replace
      // them
      val merged = (kept.toSeq ++ upserted).reduceOption(_ unionByName _)
        .map(_.localCheckpoint())
      val newIds = (Seq(notChanged(oldIds)) ++ assigned)
        .map(idRows).reduce(_ unionByName _)
        .localCheckpoint()
      merged.foreach(StateStore.writeBuckets(spark, vecRoot, dirs, _, "cell", Seq("vec_id")))
      StateStore.writeBuckets(spark, idsRoot, idDirs, newIds, "b", Seq("vec_id"))
    } finally {
      (counted.toSeq ++ dels).foreach(_.unpersist()): Unit
    }
  }

  /** The subset of `vecIds` currently present in the index — answered
    * from the id→cell sidecar alone, reading only the id buckets the ids
    * hash to (≤ [[IdBuckets]] dirs of two-column metadata, never a vector
    * read). Empty when the index has no id map. The existence probe the
    * semantic admission gate runs per batch. */
  def existingIds(spark: SparkSession, path: String, vecIds: DataFrame): DataFrame = {
    heal(spark, path)
    val idsRoot = path + "/ids"
    val dirs = StateStore.bucketDirsFor(spark, idsRoot, vecIds, "vec_id")
    if (dirs.isEmpty) return vecIds.select(col("vec_id")).limit(0)
    readIds(spark, idsRoot, dirs)
      .join(vecIds.select("vec_id").distinct(), "vec_id")
      .select("vec_id")
  }

  /** The stored vectors for exactly `vecIds` — the HBase-Get shape for
    * embeddings (the fetch a retrieve-then-RERANK pipeline runs on its
    * first-stage hit list): the id→cell sidecar locates the ids' cells
    * (≤ [[IdBuckets]] metadata dirs read), only THOSE cell dirs are
    * opened, and the ids join against their own cells' rows. Per-call
    * I/O is O(id buckets + hit cells), never the index. Ids absent from
    * the index yield no row (a deleted doc has no vector to rerank
    * with). Returns (vec_id, embedding). */
  def vectorsForIds(spark: SparkSession, path: String,
                    vecIds: DataFrame): DataFrame = {
    heal(spark, path)
    val vecRoot = path + "/vectors"
    val idsRoot = path + "/ids"
    val ids = vecIds.select(col("vec_id").cast("long").as("vec_id")).distinct()
    // every path returns the STORED types (vec_id LONG, embedding
    // ARRAY<FLOAT>), never the caller's vec_id type (round-13 ADVICE)
    StateStore.readBuckets(spark, vecRoot, cellDirsOf(spark, idsRoot, vecRoot, ids),
      Some(vecSchema)).join(broadcast(ids), "vec_id")
  }

  /** The live cell dirs holding `ids` (vec_id LONG, distinct): the id map
    * read from only the id buckets the ids hash to, and one collect of
    * their cells (≤ nlist rows). */
  private def cellDirsOf(spark: SparkSession, idsRoot: String, vecRoot: String,
                         ids: DataFrame): Seq[String] = {
    val idDirs = StateStore.bucketDirsFor(spark, idsRoot, ids, "vec_id")
    if (idDirs.isEmpty) return Nil
    val cells = readIds(spark, idsRoot, idDirs)
      .join(broadcast(ids), "vec_id")
      .select("cell").distinct().collect().map(r => s"cell=${r.getInt(0)}").toSet
    StateStore.liveBuckets(spark, vecRoot, "cell=").filter(cells.contains)
  }

  /** The stored attribute rows for exactly `vecIds` — [[vectorsForIds]]'s
    * keyed-fetch shape over the COLOCATED METADATA ([[build]]'s `attrs`)
    * instead of the embeddings: the id→cell sidecar locates the ids'
    * cells (≤ [[IdBuckets]] metadata dirs read), only THOSE cell dirs are
    * opened, and the scan reads just the (vec_id, attrs) columns — the
    * embedding pages are never decoded (parquet column pruning). Ids
    * absent from the index yield no row: the index is the metadata
    * authority, so an absent doc has nothing to satisfy a predicate with
    * (the drop semantics [[Hybrid]]'s filtered lexical leg documents —
    * symmetric with the rerank twin's "no vector, nothing to rerank
    * with"). Returns (vec_id, <attrs…>) with the STORED schema on every
    * code path — empty paths read it from the `_attrs_schema` marker
    * ([[build]]). Fails loudly on an attribute-less root:
    * silently returning zero columns would make every predicate
    * vacuously unresolvable downstream. */
  def attrsForIds(spark: SparkSession, path: String, vecIds: DataFrame): DataFrame = {
    heal(spark, path)
    val attrs = storedAttrs(spark, path)
    require(attrs.nonEmpty,
      s"index at $path stores no attribute columns — build it with attrs = …")
    // a null id (a caller's failed long cast) can never match a stored
    // LONG key — dropping it here is the same "absent id, no row"
    // semantics, and keeps the driver-side bucket collect total
    val ids = vecIds.select(col("vec_id").cast("long").as("vec_id"))
      .filter(col("vec_id").isNotNull).distinct()
    val schema = StructType(vecSchema("vec_id") +: attrs)
    StateStore.readBuckets(spark, path + "/vectors",
      cellDirsOf(spark, path + "/ids", path + "/vectors", ids), Some(schema))
      .join(broadcast(ids), "vec_id")
      .select(schema.fieldNames.toSeq.map(col): _*)
  }

  /** Cell-occupancy skew of a built index: the largest cell's size over
    * the mean size across ALL trained cells (empty cells count — drift
    * typically empties cells while overfilling one, and both halves
    * degrade a probe). Computed from the id→cell sidecar — two columns of
    * metadata, never a vector read. 1.0 = perfectly balanced. */
  def cellSkew(spark: SparkSession, path: String): Double = {
    heal(spark, path)
    val idsRoot = path + "/ids"
    val live = StateStore.liveBuckets(spark, idsRoot)
    val nlist = centroids(spark, path).count()
    if (live.isEmpty || nlist == 0) return 1.0
    val agg = readIds(spark, idsRoot, live)
      .groupBy("cell").agg(count(lit(1)).as("n"))
      .agg(max(col("n")).as("mx"), sum(col("n")).as("total")).head()
    if (agg.isNullAt(0)) 1.0
    else agg.getLong(0).toDouble * nlist / agg.getLong(1).toDouble
  }

  /** Maintenance guard for [[upsert]]'s fixed-quantizer contract: upserts
    * assign against the TRAINED centroids, so after heavy distribution
    * drift one cell absorbs most arrivals — probing it re-approaches a
    * full scan and recall at fixed probes decays. True = the quantizer no
    * longer partitions the data; retrain with [[build]]. Run it on the
    * maintenance cadence (e.g. every N upsert batches), not per batch:
    * the check reads the whole id map, which is metadata-sized but not
    * delta-sized. The default threshold flags a cell holding ≥ 4× its
    * fair share. */
  def needsRebuild(spark: SparkSession, path: String,
                   skewThreshold: Double = 4.0): Boolean = {
    require(skewThreshold > 1.0, "skewThreshold must exceed 1.0 (perfect balance)")
    cellSkew(spark, path) >= skewThreshold
  }

  /** Retrain the quantizer ONLINE — the maintenance action [[needsRebuild]]
    * calls for. [[build]] is REPLACE: it clears the root first, so a
    * serving index is down for the whole retrain and a crash strands an
    * obviously-broken one. `rebuild` instead trains a complete replacement
    * on the CURRENT live vectors under the root's `.tmp` sibling and
    * promotes it with the [[graft.streaming.StateStore]] swap protocol —
    * the index stays fully readable for the whole retrain (the long
    * part), disappears only for the instant between two renames, and a
    * crash at ANY point is healed by the root-level recover every
    * entrypoint runs ([[heal]]): on-disk state is old or new, never a
    * torn mix. The live set is localCheckpointed before the swap so no
    * training job reads through the rename.
    *
    * CONCURRENCY CONTRACT — crash-safe is not concurrency-safe: cell ids
    * are renumbered by the retrain, so an in-flight [[search]] that
    * collected OLD cell ids and scans after the swap probes the wrong
    * cells, and an in-flight [[upsert]]/[[delete]] that planned against
    * the old layout would commit old-layout bucket dirs INTO the new
    * index (two writers on one root — outside the StateStore contract).
    * Serialize `rebuild` with the index's readers and writers: in the
    * pipeline that means running it from the SAME thread that runs
    * `foreachBatch`, between batches —
    * [[graft.streaming.IngestPipeline.maintain]]'s documented cadence.
    * Cost is one full index rewrite — [[needsRebuild]]'s cadence, never
    * the batch cadence. */
  def rebuild(spark: SparkSession, path: String, nlist: Int = 16,
              iters: Int = 5): Unit = {
    heal(spark, path)
    // the liveBuckets listing also heals torn per-cell swaps first;
    // a build that crashed between its centroid commit and its vectors
    // write presents exists()=true with nothing to train on — send the
    // caller to build(), as upsert/delete do for the same torn state
    if (StateStore.liveBuckets(spark, path + "/vectors", "cell=").isEmpty)
      throw new IllegalStateException(
        s"index at $path has no vectors to retrain on — rebuild it with IvfIndex.build")
    // a PQ index retrains its codebooks WITH the quantizer — the drift
    // that warrants retraining the cells degrades the codewords equally.
    // k derives from max(code)+1: codeword attrition can shrink it a
    // little across rebuilds, which only tightens the codebook — but never
    // below PqSpec's own k > 1 floor (total attrition, e.g. a constant-
    // vector outage collapsing every subspace to code 0, must not wedge
    // the drift-gated retrain on PqSpec's require)
    val pqSpec = codebooksOpt(spark, path).map { cb =>
      val r = cb.agg(max(col("s")), max(col("code"))).head()
      PqSpec(m = r.getInt(0) + 1, k = math.max(2, r.getInt(1) + 1))
    }
    // attribute columns survive the retrain: re-read them with the
    // vectors and hand the set back to build, which re-pins the marker
    val (attrs, live) = liveVectors(spark, path)
    StateStore.commit(spark, path)(tmp =>
      build(live, tmp, nlist, iters, pqSpec, attrs))
  }

  /** Retrofit PQ onto a built plain-IVF index: trains codebooks on the
    * CURRENT live vectors and rewrites every cell with its codes column,
    * as a whole-root replacement under the [[rebuild]] swap protocol (and
    * the same concurrency contract — serialize with the index's readers
    * and writers; cell ids are renumbered). The cell count is preserved. */
  def enablePq(spark: SparkSession, path: String, pq: PqSpec = PqSpec(),
               iters: Int = 5): Unit = {
    heal(spark, path)
    if (StateStore.liveBuckets(spark, path + "/vectors", "cell=").isEmpty)
      throw new IllegalStateException(
        s"index at $path has no vectors to encode — build it with IvfIndex.build")
    val nlist = centroids(spark, path).count().toInt
    // attribute columns survive the retrofit exactly as they survive
    // rebuild: an attr-carrying index passed through enablePq must not
    // come back metadata-less with its filtered reads broken
    val (attrs, live) = liveVectors(spark, path)
    StateStore.commit(spark, path)(tmp =>
      build(live, tmp, nlist, iters, Some(pq), attrs))
  }

  /** Every live vector with its attribute columns, checkpointed — the
    * training set of a whole-root retrain — and the attribute names. */
  private def liveVectors(spark: SparkSession, path: String): (Seq[String], DataFrame) = {
    val vecRoot = path + "/vectors"
    val attrs = storedAttrs(spark, path)
    (attrs.map(_.name), StateStore.readBuckets(spark, vecRoot,
      StateStore.liveBuckets(spark, vecRoot, "cell="),
      Some(StructType(vecSchema.fields.toSeq ++ attrs))).localCheckpoint())
  }

  /** PQ-shortlisted probed search — the memory-bounded form of [[search]]:
    * rank cells by query·centroid exactly as [[search]] does, but scan the
    * probed cells' (vec_id, codes) COLUMNS only (parquet prunes the float
    * vectors at the page level — the 16× working-set reduction, pinned by
    * bytes-read in IvfIndexSpec), score candidates against a per-query
    * ADC table, and re-read full vectors ONLY for the top-`shortlist`
    * ids (a pushed `vec_id IN (...)` — row-group stats prune the rest)
    * for the EXACT rerank. The result equals [[search]] whenever the true
    * top-k survives the shortlist (the recall contract IvfIndexSpec pins);
    * `shortlist` is the recall/IO knob — and it is CLUSTER-SIZE-RELATIVE,
    * not absolute: on tightly-clustered data the true top-k sit inside a
    * near-tie set the size of the query's whole cluster, ADC noise cannot
    * order near-ties, so a shortlist below the tie-set size starves the
    * exact rerank regardless of centroid quality (measured: recall 0.28
    * at shortlist=100 under ~417-member clusters, 1.00 at 500 —
    * RecallProbe, SCALE.md). Size it ≥ the expected near-tie set
    * (≈ N/nlist on clustered data), keeping the ≥ 10× k floor for the
    * unclustered case. The two driver-side materializations
    * are bounded by construction: the ADC table is m×k codebook rows and
    * the id list is `shortlist` longs — metadata, never data. */
  def searchPq(spark: SparkSession, path: String, query: Seq[Float],
               k: Int = 10, probes: Int = 2, shortlist: Int = 100): DataFrame = {
    heal(spark, path) // a torn root swap must not read as "PQ missing"
    val cb = codebooksOpt(spark, path).getOrElse(throw new IllegalStateException(
      s"index at $path has no PQ codebooks — build with pq=Some(PqSpec()) " +
        "or retrofit with IvfIndex.enablePq"))
    val qv = typedlit(query)
    val probed = centroids(spark, path)
      .withColumn("csim", dotDD(col("cent"), qv))
      .orderBy(col("csim").desc, col("cell"))
      .limit(probes)
      .select("cell").collect().map(_.getInt(0)).toSeq
    // ADC table adc[s][code] = dot(query subvector, codeword): m×k rows
    // collected from the codebooks (driver-bounded by the PqSpec), shipped
    // back as ONE nested literal so the scan-side score is a pure
    // scan-project — no join, no explode of the candidate rows
    val rows = cb.select("s", "code", "cw").collect()
    val m = rows.iterator.map(_.getInt(0)).max + 1
    val kCw = rows.iterator.map(_.getInt(1)).max + 1
    val subDim = rows.head.getSeq[Double](2).size
    require(query.size == m * subDim,
      s"query dim ${query.size} does not match PQ shape m=$m subDim=$subDim")
    val adc = Array.fill(m, kCw)(0.0) // dropped codewords are never referenced
    rows.foreach { r =>
      val (s, c, cw) = (r.getInt(0), r.getInt(1), r.getSeq[Double](2))
      var d = 0.0
      var i = 0
      while (i < subDim) { d += cw(i) * query(s * subDim + i).toDouble; i += 1 }
      adc(s)(c) = d
    }
    val adcLit = typedlit(adc.map(_.toSeq).toSeq)
    // ONE explicit probed-directory relation serves the ADC scan, the
    // empty fallback, and the rerank (heals + cached listing inside)
    val vecs = probedVectorsRead(spark, path, probed, cellSchema(codes = true))
    val short = vecs
      .select(col("vec_id"), col("codes")) // column-pruned: no float read
      .withColumn("adc", aggregate(
        zip_with(col("codes"), adcLit, (c, row) => element_at(row, c + 1)),
        lit(0.0), (a, p) => a + p))
      .orderBy(col("adc").desc, col("vec_id"))
      .limit(shortlist)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    if (short.isEmpty) // probed cells hold no vectors: nothing to rerank
      return vecs
        .select(col("vec_id"), col("cell"), lit(0.0).as("sim")).limit(0)
    vecs
      .filter(col("vec_id").isin(short: _*))
      .withColumn("sim", dotDD(col("embedding"), qv))
      .select(col("vec_id"), col("cell"), col("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(k)
  }

  /** Batched probed search against a persisted index — the pipeline form
    * ("embed a batch, retrieve neighbors for all of it"): `queries` is
    * (qid LONG, qv ARRAY<FLOAT>); every query ranks the (broadcast)
    * centroids, the scan prunes at the file listing to the UNION of
    * probed cells (collected — bounded by nlist, metadata not data), the
    * (small) query set broadcasts into one join keyed on the probed cell,
    * and per-query top-k compiles to WindowGroupLimit. The vector table
    * never moves and the driver never loops over queries. Returns
    * (qid, vec_id, cell, sim, rank), rank 1..k per qid. */
  def searchBatch(spark: SparkSession, path: String, queries: DataFrame,
                  k: Int = 10, probes: Int = 2): DataFrame = {
    val cellRank = Window.partitionBy(col("qid")).orderBy(col("csim").desc, col("cell"))
    // localCheckpoint: the probed set feeds both the cell-list collect and
    // the broadcast join below — without it the centroid ranking would
    // execute twice
    val probed = queries.select(col("qid"), col("qv"))
      .crossJoin(broadcast(centroids(spark, path)))
      .withColumn("csim", dotDD(col("cent"), col("qv")))
      .withColumn("rn", row_number().over(cellRank))
      .filter(col("rn") <= probes)
      .select("qid", "cell", "qv")
      .localCheckpoint()
    val cellList = probed.select("cell").distinct().collect().map(_.getInt(0)).toSeq
    val simRank = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("vec_id"))
    // explicit probed-directory read (heals + cached listing inside)
    probedVectorsRead(spark, path, cellList, cellSchema(codes = false))
      .join(broadcast(probed), "cell")
      .withColumn("sim", dotDD(col("embedding"), col("qv")))
      .withColumn("rn", row_number().over(simRank))
      .filter(col("rn") <= k)
      .select(col("qid"), col("vec_id"), col("cell"), col("sim"),
        col("rn").cast("long").as("rank"))
      .orderBy("qid", "rank")
  }

  /** Batched PQ search — [[searchBatch]]'s memory-bounded twin and
    * [[searchPq]]'s batch form ("embed a batch, retrieve neighbors for
    * all of it" without touching the float vectors until the rerank).
    *
    * The DRIVER-SIZED pieces are computed driver-side and enter the plan
    * as local relations: the codebooks (m × k rows), the centroid probe
    * ranking, and the per-(query, subspace, codeword) ADC table
    * (|queries| × m × k rows — batch-sized by contract; a broadcast
    * would move exactly these rows through the driver anyway, so this
    * changes WHERE the arithmetic runs, not what moves). What stays
    * distributed is everything data-sized: the probed cells' codes scan
    * (exploded once, dp sums partial-aggregated map-side) and the
    * full-precision rerank of the shortlist survivors. The restructure
    * exists for the job chain: the checkpoint/collect/broadcast-build
    * actions of the previous shape made this the suite's most
    * job-heavy read (~23 jobs with AQE), and per-job driver overhead —
    * which grows with session state — multiplied through it
    * (records/PQ_BATCH_AB_r15.json; IvfPqSpec pins the construction job count).
    * Dimension validation rides the batch collect, loud and per-qid.
    * Returns (qid LONG, vec_id, cell, sim, rank), rank 1..k. */
  def searchBatchPq(spark: SparkSession, path: String, queries: DataFrame,
                    k: Int = 10, probes: Int = 2,
                    shortlist: Int = 100): DataFrame = {
    import spark.implicits._
    heal(spark, path) // a torn root swap must not read as "PQ missing"
    val cb = codebooksOpt(spark, path).getOrElse(throw new IllegalStateException(
      s"index at $path has no PQ codebooks — build with pq=Some(PqSpec()) " +
        "or retrofit with IvfIndex.enablePq"))
    val cbRows = cb.select(col("s"), col("code"),
        col("cw").cast("array<double>")).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
    val m = cbRows.iterator.map(_._1).max + 1
    val subDim = cbRows.iterator.map(_._3.length).max
    // cast qv in the select (not getSeq on the raw column): the previous
    // in-plan form accepted any numeric array via cast-to-double, so an
    // array<double> batch must keep working here rather than die in an
    // opaque ClassCastException; null qids fail with the offending row
    // named, matching the dim check's loud-failure style (round-15 ADVICE)
    val qRows = queries
      .select(col("qid").cast("long"), col("qv").cast("array<float>"))
      .collect()
      .map { r =>
        val qv = if (r.isNullAt(1)) null else r.getSeq[Float](1)
        if (r.isNullAt(0))
          throw new IllegalArgumentException(
            "batch PQ search requires a non-null qid on every row — found " +
              s"a null-qid row (qv ${Option(qv).map(v =>
                v.take(4).mkString("[", ",",
                  if (v.length > 4) ",…]" else "]")).getOrElse("null")})")
        if (qv == null || qv.length != m * subDim)
          throw new IllegalArgumentException(
            "query vector dim does not match PQ shape " +
              s"m=$m subDim=$subDim (qid ${r.getLong(0)})")
        (r.getLong(0), qv)
      }
    // centroids store DOUBLE means; read them as such and fold in the
    // same order as dotDD (ascending index, double accumulate), so probe
    // ranking and ADC partials are bit-identical to the in-plan form
    val centRows = centroids(spark, path)
      .select(col("cell"), col("cent").cast("array<double>"))
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1)))
    val probedPairs: Seq[(Long, Int)] = qRows.toSeq.flatMap { case (qid, qv) =>
      centRows.toSeq
        .map { case (cell, cent) =>
          var acc = 0.0; var i = 0
          while (i < cent.length) { acc += cent(i) * qv(i).toDouble; i += 1 }
          (cell, acc)
        }
        .sortBy { case (cell, csim) => (-csim, cell) }
        .take(probes).map { case (cell, _) => (qid, cell) }
    }
    val adcRows: Seq[(Long, Int, Int, Double)] =
      qRows.toSeq.flatMap { case (qid, qv) =>
        cbRows.map { case (s, code, cw) =>
          var dp = 0.0; var i = 0
          while (i < cw.length) { dp += cw(i) * qv(s * subDim + i).toDouble; i += 1 }
          (qid, s, code, dp)
        }
      }
    val cellList = probedPairs.map(_._2).distinct.sorted
    val probedDf = probedPairs.toDF("qid", "cell")
    val tbl = adcRows.toDF("qid", "s", "code", "dp")
    // ONE read relation serves both the ADC scan and the rerank — the
    // second spark.read would re-run parquet schema inference (a small
    // Spark job) per call on the hot path; explicit probed-directory
    // read (heals + cached listing inside)
    val vecs = probedVectorsRead(spark, path, cellList, cellSchema(codes = true))
    val shortW = Window.partitionBy(col("qid")).orderBy(col("adc").desc, col("vec_id"))
    val short = vecs
      .select(col("vec_id"), col("cell"), col("codes")) // column-pruned
      .join(broadcast(probedDf), "cell")
      .select(col("qid"), col("vec_id"), posexplode(col("codes")).as(Seq("s", "code")))
      .join(broadcast(tbl), Seq("qid", "s", "code"))
      .groupBy("qid", "vec_id").agg(sum(col("dp")).as("adc"))
      .withColumn("rn", row_number().over(shortW))
      .filter(col("rn") <= shortlist)
      .select("qid", "vec_id")
    val qDf = qRows.toSeq.toDF("qid", "qv")
    val simRank = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("vec_id"))
    vecs
      .join(broadcast(short), "vec_id") // one row per shortlisted (qid, id)
      .join(broadcast(qDf), "qid")
      .withColumn("sim", dotDD(col("embedding"), col("qv")))
      .withColumn("rn", row_number().over(simRank))
      .filter(col("rn") <= k)
      .select(col("qid"), col("vec_id"), col("cell"), col("sim"),
        col("rn").cast("long").as("rank"))
      .orderBy("qid", "rank")
  }

  /** The probed cells' rows as ONE explicit-directory read under
    * `schema` (round-17 verdict #6, guide §6 file listing): only the
    * probed cells' own directories are listed — never whole-root
    * partition discovery — the live listing comes from the `_seq`-token
    * cache (healing torn swaps), and the fixed schema plans the scan
    * without a footer-inference job. Probed cells that are all empty (no
    * dir — an empty cell writes none) give zero rows of `schema`. An
    * index with no live cells at all fails loudly. */
  private def probedVectorsRead(spark: SparkSession, path: String,
      cells: Seq[Int], schema: StructType): DataFrame = {
    val vecRoot = path + "/vectors"
    val live = StateStore.liveBuckets(spark, vecRoot, "cell=")
    require(live.nonEmpty,
      s"index at $path has no live vector cells — build it with IvfIndex.build")
    val wanted = cells.map(c => s"cell=$c").toSet
    StateStore.readBuckets(spark, vecRoot, live.filter(wanted.contains), Some(schema))
  }

  /** Probed ANN search: rank cells by query·centroid, then scan only the
    * top `probes` cells' partitions for the exact top-k. The cell list is
    * collected — it is nlist rows of metadata, never data. */
  def search(spark: SparkSession, path: String, query: Seq[Float],
             k: Int = 10, probes: Int = 2): DataFrame =
    searchFiltered(spark, path, query, lit(true), k, probes)

  /** Probed ANN search COMPOSED with a metadata predicate — Solr's `fq`
    * applied to vector retrieval ("nearest neighbors among docs with
    * lang='en'", the most common production vector-search shape). Same
    * probe as [[search]]; `predicate` references the attribute columns the
    * index was built with ([[build]]'s `attrs`, colocated in the cell
    * files), so it evaluates INSIDE the probed cells, pushed down to the
    * parquet scan of only those files — no metadata join, no extra I/O.
    *
    * k-fill semantics: the predicate applies BEFORE the top-k, so the
    * result holds k rows whenever the probed cells contain ≥ k matching
    * vectors — never the under-filled list that post-filtering a top-k
    * produces (filter-after-rank returns only the matchers that happened
    * to rank in the unfiltered top k). Like every probed read, recall
    * beyond the probed cells is governed by `probes`, and selectivity
    * sets how many: the MEASURED rule (FilteredRecallProbe, SCALE.md
    * §filtered — clustered corpus, cluster-independent predicate) is
    * that the unfiltered probe setting loses nothing while expected
    * matches per probed cell (selectivity × N/nlist) stay well above k
    * (recall@10 = 1.0 at selectivity ≥ 0.1 even at probes = 1 on the
    * probe corpus), and once selectivity × cellSize falls toward k the
    * filtered top-k spans cells — scale probes ≈ k / (selectivity ×
    * cellSize) beyond the unfiltered choice (at selectivity 0.01:
    * 0.51 recall at probes = 1, 0.82 at 4; probes = nlist is exact).
    * A predicate over a column the index does not store fails loudly at
    * resolution. */
  def searchFiltered(spark: SparkSession, path: String, query: Seq[Float],
                     predicate: Column, k: Int = 10,
                     probes: Int = 2): DataFrame = {
    val qv = typedlit(query)
    val probed = centroids(spark, path)
      .withColumn("csim", dotDD(col("cent"), qv))
      .orderBy(col("csim").desc, col("cell"))
      .limit(probes)
      .select("cell").collect().map(_.getInt(0)).toSeq
    // explicit probed-directory read: heals + lists via the cached
    // liveBuckets, and file discovery opens only the probed cells' dirs
    probedVectorsRead(spark, path, probed,
        cellSchema(codes = false, storedAttrs(spark, path)))
      .filter(predicate) // pre-top-k: never under-fills k (scan-pushed)
      .withColumn("sim", dotDD(col("embedding"), qv))
      .select(col("vec_id"), col("cell"), col("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(k)
  }
}
