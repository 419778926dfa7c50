package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained aggregate state (materialized-view
  * maintenance) over a bucketed row state — the Solr facet the reference
  * delegates (SolrQueryTools.java's facet surface) served in
  * O(buckets × groups) instead of O(state).
  *
  * Design: a PER-BUCKET PARTIAL-AGGREGATE SIDECAR. The rollup root mirrors
  * the row state's `b=<i>` layout; each bucket dir holds that bucket's
  * partial aggregate rows `(group…, n, sum_<col>)`. When a merge rewrites
  * row bucket `b`, the same pass recomputes bucket `b`'s partials from the
  * post-merge bucket contents — rows the merge already materialized in
  * memory — and swaps them in with the same prefix-atomic
  * [[StateStore.commitBuckets]] discipline. Reads collapse the partials:
  * `|buckets| × |groups|` rows, never the row state.
  *
  * Why recompute-per-touched-bucket instead of delta add/subtract: a
  * subtraction-based view maintenance must read each key's OLD
  * contribution before the merge overwrites it, and a crash between the
  * row swap and the aggregate swap strands the subtraction forever (on
  * replay the "old" value is already the new one). Recomputing a touched
  * bucket's partials from its post-merge contents is idempotent by
  * construction — a checkpoint replay recomputes identical partials from
  * identical bucket contents — and costs only the rows the merge already
  * holds cached. Untouched buckets' partials are never opened.
  *
  * At 100 TB: per-batch rollup cost is O(touched-bucket rows) — already
  * paid by the merge itself — and facet latency is a metadata-sized read
  * that never re-scans state. Tombstone GC ([[IncrementalIndex
  * .gcTombstones]]) never changes live rows, so the rollup needs no update
  * there. Rescaling the ROW root changes bucket ids, so the rollup must be
  * [[rebuild]]t after a [[StateStore.rescale]] — the rebuild is one pass
  * over the row state, the same cost rescale itself just paid.
  */
object IncrementalRollup {

  /** What to maintain: grouping columns, an optional sum column, and an
    * optional approx-distinct column. Count `n` is always kept; `sumCol`
    * adds `sum_<col>`; `distinctCol` adds an HLL SKETCH per (bucket,
    * group) — sketches are MERGEABLE, so the per-bucket recompute
    * discipline carries over unchanged and the read unions them
    * (`hll_union_agg` → `hll_sketch_estimate`) into `n_distinct_<col>`:
    * the S10 cardinality facet served incrementally, the one aggregate a
    * plain (count, sum) partial cannot express because distinct state is
    * unbounded. Recompute-per-touched-bucket is also what makes this
    * sketch DELETABLE — an HLL cannot retract an element, but a deleted
    * row's bucket is re-sketched from its post-merge contents, so the
    * estimate tracks the live set exactly as well as a fresh sketch
    * would. The spec is pinned in a `_rollup` marker on the rollup
    * root — a writer presenting a different spec fails loudly instead of
    * mixing incompatible partials. */
  final case class Spec(path: String, groupCols: Seq[String],
                        sumCol: Option[String] = None,
                        distinctCol: Option[String] = None,
                        statsCol: Option[String] = None) {
    require(groupCols.nonEmpty, "rollup needs at least one group column")
    // the tag round-trips through ','/'|' delimiters (tagValue ↔
    // pipelineRollup's split): a column name containing either would
    // silently parse back as a DIFFERENT spec that ensureTag's equality
    // check cannot catch (both sides carry the corrupted encoding)
    (groupCols ++ sumCol ++ distinctCol ++ statsCol).foreach { c =>
      require(!c.contains(",") && !c.contains("|"),
        s"rollup column name '$c' may not contain ',' or '|' " +
          "(reserved as spec-marker delimiters)")
    }
    // the stats field appends only when present, so a stats-free spec
    // keeps the 3-field encoding existing roots were pinned with
    def tagValue: String = groupCols.mkString(",") + "|" +
      sumCol.getOrElse("") + "|" + distinctCol.getOrElse("") +
      statsCol.map("|" + _).getOrElse("")
  }

  private def sumName(s: Spec): Option[String] = s.sumCol.map("sum_" + _)

  /** The partial-side aggregate expressions of a spec: count, optional
    * sum, optional HLL sketch, optional min/max/avg stats partials
    * (min, max, non-null count + sum — avg derives at read time; the
    * recompute-per-touched-bucket discipline is what makes min/max
    * maintainable at all: delta maintenance famously cannot retract a
    * deleted extremum, but a re-sketched bucket never has to). */
  private def partialAggs(spec: Spec) =
    count(lit(1)).as("n") +:
      (spec.sumCol.map(c => sum(col(c)).as("sum_" + c)).toSeq ++
        spec.distinctCol.map(c => hll_sketch_agg(col(c)).as("hll_" + c)).toSeq ++
        spec.statsCol.toSeq.flatMap(c => Seq(
          min(col(c)).as("smin_" + c), max(col(c)).as("smax_" + c),
          sum(col(c)).as("ssum_" + c), count(col(c)).as("scnt_" + c))))

  /** Recompute and swap the partials of `touchedDirs` from the post-merge
    * bucket contents `merged` (must carry the bucket column `b` and the
    * row state's `op` column; tombstones are excluded from partials).
    * Called by [[IncrementalIndex.mergeBatch]] after the row swap; safe to
    * replay — see the object doc. A touched bucket left with no live rows
    * writes no partition dir, and the prefix-atomic swap then REMOVES its
    * rollup dir (zero contribution by absence). */
  def updateBuckets(spark: SparkSession, merged: DataFrame, spec: Spec,
                    touchedDirs: Seq[String], numBuckets: Int): Unit = {
    StateStore.ensureBucketCount(spark, spec.path, numBuckets)
    StateStore.ensureTag(spark, spec.path, "_rollup", spec.tagValue)
    val live = merged.filter(col("op") =!= "delete")
    val aggs = partialAggs(spec)
    StateStore.writeBuckets(spark, spec.path, touchedDirs,
      live.groupBy((col("b") +: spec.groupCols.map(col)): _*).agg(aggs.head, aggs.tail: _*))
  }

  /** The maintained aggregate: collapse the per-bucket partials. Returns
    * one row per group with `n` (and `sum_<col>` when the spec has one).
    * I/O is the partial rows only — `|buckets| × |groups|`. An empty or
    * absent rollup root returns an empty frame with the right schema. */
  def read(spark: SparkSession, spec: Spec): DataFrame =
    readBy(spark, spec, spec.groupCols)

  /** Collapse the partials to a SUBSET of the spec's group columns — one
    * maintained cuboid serves every coarser facet: counts and sums
    * re-aggregate by addition, and the HLL sketches re-aggregate by
    * union, so a rollup kept at (lang, source) answers lang-only and
    * source-only facets (distinct estimates included) from the same
    * |buckets| × |groups| partial rows, with no extra maintained state.
    * `by` must be a subset of the spec's groupCols; the EMPTY subset is
    * the grand-total cuboid (one row) — together the cuboids serve the
    * Solr JSON-facet nested-bucket shape (ROLLUP levels) without ever
    * opening the row state.
    *
    * Empty-root caveat: with no partials on disk there is no schema to
    * carry, so group columns come back string-typed (and `sum_<col>`
    * double) until the first merge lands — a consumer that binds a
    * schema before any data exists should cast, not infer. */
  def readBy(spark: SparkSession, spec: Spec, by: Seq[String]): DataFrame = {
    require(by.forall(spec.groupCols.contains),
      s"readBy columns ${by.mkString(",")} must be a subset of the " +
        s"rollup's group columns ${spec.groupCols.mkString(",")}")
    val recorded = StateStore.readTag(spark, spec.path, "_rollup")
    recorded.foreach { r =>
      require(r == spec.tagValue,
        s"rollup at ${spec.path} maintains '$r', not '${spec.tagValue}'")
    }
    val dirs = StateStore.liveBuckets(spark, spec.path)
    val empty = {
      var df = spark.range(0).select(
        by.map(c => lit(null).cast("string").as(c)): _*)
      df = df.withColumn("n", lit(0L))
      sumName(spec).foreach(s => df = df.withColumn(s, lit(null).cast("double")))
      spec.distinctCol.foreach(c =>
        df = df.withColumn("n_distinct_" + c, lit(0L)))
      spec.statsCol.foreach { c =>
        Seq("min_", "max_", "avg_").foreach(p =>
          df = df.withColumn(p + c, lit(null).cast("double")))
      }
      df
    }
    if (dirs.isEmpty) return empty
    val partials = StateStore.readBuckets(spark, spec.path, dirs)
    val aggs = sum(col("n")).as("n") +:
      (sumName(spec).map(s => sum(col(s)).as(s)).toSeq ++
        spec.distinctCol.map(c =>
          hll_sketch_estimate(hll_union_agg(col("hll_" + c)))
            .as("n_distinct_" + c)).toSeq ++
        spec.statsCol.toSeq.flatMap(c => Seq(
          min(col("smin_" + c)).as("min_" + c),
          max(col("smax_" + c)).as("max_" + c),
          (sum(col("ssum_" + c)) / sum(col("scnt_" + c))).as("avg_" + c))))
    partials.groupBy(by.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Full recompute of the rollup from the row state — bootstrap for a
    * pre-existing root, or repair after a [[StateStore.rescale]] of the
    * ROW root (which moves rows between buckets and stales every per-
    * bucket partial). One pass over the row state; partials land bucketed
    * under the row state's CURRENT bucket count and the whole root cuts
    * over atomically ([[StateStore.commit]]). */
  def rebuild(spark: SparkSession, statePath: String, spec: Spec): Unit = {
    val dirs = StateStore.liveBuckets(spark, statePath)
    val n = StateStore.bucketCount(spark, statePath).getOrElse(
      throw new IllegalStateException(
        s"row state at $statePath has no _nbuckets marker; merge once first"))
    // verify the SPEC marker before the swap (a mismatched rebuild must
    // fail loudly without touching the old partials) — but NOT the bucket
    // count: rebuild is exactly how the sidecar adopts the row root's
    // count after a StateStore.rescale moved rows between buckets, and
    // the whole-root swap below replaces the marker atomically with the
    // data it describes.
    StateStore.ensureTag(spark, spec.path, "_rollup", spec.tagValue)
    StateStore.commit(spark, spec.path) { tmp =>
      val fs = new org.apache.hadoop.fs.Path(tmp)
        .getFileSystem(spark.sessionState.newHadoopConf())
      fs.mkdirs(new org.apache.hadoop.fs.Path(tmp))
      if (dirs.nonEmpty) {
        val rows = StateStore.scanLive(spark, statePath)
          .withColumn("b", StateStore.bucketOf(col("rowkey"), n))
        val aggs = partialAggs(spec)
        StateStore.writeBucketFiles(
          rows.groupBy((col("b") +: spec.groupCols.map(col)): _*).agg(aggs.head, aggs.tail: _*),
          tmp)
      }
      // the commit swap replaces the whole root: re-materialize markers
      val out = fs.create(new org.apache.hadoop.fs.Path(s"$tmp/_nbuckets"), true)
      try out.write(n.toString.getBytes("UTF-8")) finally out.close()
      val tagOut = fs.create(new org.apache.hadoop.fs.Path(s"$tmp/_rollup"), true)
      try tagOut.write(spec.tagValue.getBytes("UTF-8")) finally tagOut.close()
    }
  }
}
