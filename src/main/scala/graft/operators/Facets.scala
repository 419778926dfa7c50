package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Facet / stats family — Solr's facet & stats components, which the
  * reference relies on for "常规的聚合统计" (regular aggregation statistics,
  * /root/reference/README.md:6); SURVEY.md §2.B S6–S11.
  *
  * All are partial-aggregation shapes: Spark plans them as map-side
  * HashAggregate → single exchange on the group keys → final HashAggregate,
  * so the shuffle carries one row per (partition, group), not per input row.
  * At 100 TB that is the difference between shuffling gigabytes and
  * shuffling the table. `q_distinct` (exact) shuffles per distinct key;
  * `q_distinct_approx` is the scale path — Spark's built-in HLL sketch
  * (approx_count_distinct) aggregates a fixed-size buffer instead
  * (Solr-side analog: stats.calcdistinct / hll).
  */
object Facets {
  type Q = (SparkSession, String) => DataFrame

  private def qFacetField(spark: SparkSession, dir: String): DataFrame =
    // S6: facet.field — value counts, descending, like Solr's default
    // count ordering; tiebreak on the value for determinism.
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("l_returnflag"))

  private def qFacetRange(spark: SparkSession, dir: String): DataFrame =
    // S7: facet.range with gap=50000 over order totals.
    Tables.orders(spark, dir)
      .groupBy((floor(col("o_totalprice") / 50000) * 50000).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"))
      .orderBy("bucket")

  private def qFacetPivot(spark: SparkSession, dir: String): DataFrame =
    // S8: facet.pivot=returnflag,linestatus — nested two-level counts.
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"))
      .orderBy("l_returnflag", "l_linestatus")

  private def qFacetQuery(spark: SparkSession, dir: String): DataFrame =
    // S6 (facet.query flavor): counts for a set of NAMED arbitrary
    // predicates — Solr evaluates each facet.query against the index;
    // here all of them ride ONE scan as conditional partial aggregates
    // (sum(when)) and unpivot via stack(), so n queries cost one pass
    // and a 1-row exchange regardless of n. The distinct physical shape
    // vs the groupBy facets: no grouping key at all.
    Tables.documents(spark, dir)
      .agg(
        sum(when(col("lang") === "en" && col("n_chars") >= 200, 1L)
          .otherwise(0L)).as("long_english"),
        sum(when(col("n_chars") < 100, 1L).otherwise(0L)).as("short_docs"),
        sum(when(col("source").isin("src0", "src1") && col("lang") =!= "zh", 1L)
          .otherwise(0L)).as("early_sources"))
      .selectExpr("stack(3, 'long_english', long_english, " +
        "'short_docs', short_docs, 'early_sources', early_sources) " +
        "AS (facet, n)")
      .orderBy("facet")

  private def qStatsAgg(spark: SparkSession, dir: String): DataFrame =
    // S9: stats.field — min/max/sum/mean/count/missing per facet bucket.
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        (count(lit(1)) - count(col("l_extendedprice"))).as("n_missing"),
        round(min(col("l_extendedprice")), 2).as("min_price"),
        round(max(col("l_extendedprice")), 2).as("max_price"),
        round(sum(col("l_extendedprice")), 2).as("sum_price"),
        round(avg(col("l_extendedprice")), 2).as("avg_price"))
      .orderBy("l_returnflag")

  private def qDistinct(spark: SparkSession, dir: String): DataFrame =
    // S10 exact flavor (oracle-checkable).
    Tables.lineitem(spark, dir)
      .groupBy("l_linestatus")
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n_rows"))
      .orderBy("l_linestatus")

  private def qDistinctApprox(spark: SparkSession, dir: String): DataFrame =
    // S10 HLL flavor — the 100 TB path (fixed-size sketch per group, no
    // per-key shuffle). Not DuckDB-comparable (different sketch), so it has
    // no oracleSql entry; the driver records a rows-only check.
    Tables.lineitem(spark, dir)
      .groupBy("l_linestatus")
      .agg(
        approx_count_distinct(col("l_partkey")).as("approx_parts"),
        approx_count_distinct(col("l_suppkey")).as("approx_supps"))
      .orderBy("l_linestatus")

  private def qFacetDateMonth(spark: SparkSession, dir: String): DataFrame =
    // S7 date flavor: facet.range over a date field with gap=+1MONTH —
    // the order-volume-by-month histogram. date_trunc is identical in both
    // engines; the month boundary is emitted as epoch micros to keep the
    // comparison timezone-free.
    Tables.orders(spark, dir)
      .groupBy(expr("unix_micros(date_trunc('month', o_orderdate))").as("month_us"))
      .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("revenue"))
      .orderBy("month_us")

  private def qFacetRollup(spark: SparkSession, dir: String): DataFrame =
    // S8 full-hierarchy form: two-level pivot facet plus subtotals and the
    // grand total in one pass (ROLLUP — partial-aggregated like any
    // groupBy; Catalyst expands the grouping sets map-side). Subtotal rows
    // are labeled 'ALL' rather than NULL so the oracle compare never
    // touches engine-specific null ordering.
    Tables.lineitem(spark, dir)
      .rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"),
        (grouping(col("l_returnflag")) * 2 + grouping(col("l_linestatus")))
          .cast("long").as("gid"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("l_returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("l_linestatus"),
        col("n"), col("gid"))
      .orderBy("gid", "l_returnflag", "l_linestatus")

  private def qStatsPercentile(spark: SparkSession, dir: String): DataFrame = {
    // S9 extension: Solr's stats/percentiles — DISCRETE flavor (the value
    // at rank ceil(n·p), i.e. the smallest value whose CDF ≥ p). Discrete,
    // not interpolated, deliberately: interpolating 2-decimal prices with
    // frac=0.5 manufactures exact decimal halves where Spark's and
    // DuckDB's last-ulp arithmetic can round a cent apart — rank selection
    // returns actual data values and compares bit-for-bit with no rounding
    // at all.
    //
    // Two-phase exact selection (no full-table per-group sort — a
    // row_number window partitioned by the cardinality-3 flag would
    // serialize the entire table through 3 tasks at any scale):
    //   1. quantize values into fixed-width buckets and build a per-group
    //      BUCKET HISTOGRAM — a partial-aggregated groupBy whose shuffle
    //      carries one row per (group, bucket), bounded by the value
    //      range / width, not the row count. A cumulative window over the
    //      (tiny) histogram locates, for each percentile, the bucket
    //      containing the target rank r = ceil(n·p) and the remaining
    //      in-bucket offset k = r − cum(preceding buckets).
    //   2. join the table against the broadcast (group, bucket, k) target
    //      list and rank ONLY the rows inside located buckets — the
    //      phase-2 window sorts ~bucket-sized row sets, never the table.
    // The k-th smallest value inside the located bucket IS the rank-r
    // value groupwide (bucket boundaries respect value order), so the
    // result is bit-identical to the oracle's row_number() rank selection.
    // PlanSpec pins the histogram-below-window shape; the sketch path at
    // 100 TB is percentile_approx.
    val flag = col("l_returnflag")
    val base = Tables.lineitem(spark, dir)
      .select(flag, col("l_extendedprice").as("v"))
      .withColumn("bkt", floor(col("v") / 100).cast("long"))
    val hist = base.groupBy(flag, col("bkt")).agg(count(lit(1)).as("cnt"))
    val cum = hist
      .withColumn("cum", sum(col("cnt")).over(Window.partitionBy(flag).orderBy(col("bkt"))))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy(flag)))
    val targets = Seq(0.5 -> "p50", 0.9 -> "p90", 0.99 -> "p99").map { case (p, name) =>
      cum
        .withColumn("r", greatest(lit(1L), ceil(col("n") * p).cast("long")))
        .filter(col("cum") >= col("r") && col("cum") - col("cnt") < col("r"))
        .select(flag, col("bkt"), (col("r") - (col("cum") - col("cnt"))).as("k"),
          lit(name).as("pq"))
    }.reduce(_ unionByName _)
    val picked = base.join(broadcast(targets), Seq("l_returnflag", "bkt"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(flag, col("pq")).orderBy(col("v"))).cast("long"))
      .filter(col("rn") === col("k"))
    picked.groupBy(flag)
      .agg(
        max(when(col("pq") === "p50", col("v"))).as("p50"),
        max(when(col("pq") === "p90", col("v"))).as("p90"),
        max(when(col("pq") === "p99", col("v"))).as("p99"))
      .orderBy(flag)
  }

  private def qGroupTop1(spark: SparkSession, dir: String): DataFrame = {
    // S11: result grouping — best row per group (group.field, top-1 doc).
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("o_custkey"), col("o_orderkey"), round(col("o_totalprice"), 2).as("price"))
      .orderBy("o_custkey")
  }

  private def qGroupTopN(spark: SparkSession, dir: String): DataFrame = {
    // S11 generalized to Solr's group.limit > 1: the n best rows per group
    // (n=3 here). The rn <= n filter over a row_number window still
    // compiles to WindowGroupLimit — a pre-shuffle partial top-n per key,
    // so the shuffle carries at most n rows per group per partition, never
    // the group's full contents (PlanSpec pins this).
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("o_orderkey"),
        round(col("o_totalprice"), 2).as("price"), col("rn").cast("long").as("rn"))
      .orderBy("o_custkey", "rn")
  }

  private def qFacetStats(spark: SparkSession, dir: String): DataFrame =
    // Solr JSON facet API — the modern nested form of S8+S9: buckets at
    // every ROLLUP level (grand total, per lang, per (lang, source))
    // each carrying sub-stats (count, min/max/avg of n_chars, unique
    // length count). ONE pass: Spark expands the rollup inside the same
    // partial aggregation (map-side partials per grouping set, one
    // exchange), so the nested facet costs one aggregate, not one per
    // level.
    Tables.documents(spark, dir)
      .rollup("lang", "source")
      .agg(count(lit(1)).as("n"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"),
        round(avg(col("n_chars")), 4).as("avg_chars"),
        countDistinct(col("n_chars")).as("n_lengths"))
      .orderBy(col("lang").asc_nulls_first, col("source").asc_nulls_first)

  /** A documents row-state root whose merges maintained (lang, source)
    * stats partials — the nested facet's maintained source. Built in TWO
    * merges; the second DELETES every first-half doc with doc_id%10==3,
    * so the partials genuinely retract min/max contributions (the case
    * delta maintenance cannot express; recompute-per-touched-bucket
    * handles it). The split point is max(doc_id)/2 — deterministic, so
    * the DuckDB oracle reproduces the live set arithmetically. */
  private def statsFixture(spark: SparkSession,
                           dir: String): graft.streaming.IncrementalRollup.Spec =
    Materialize.fixture(spark, "facet_stats_fixture", dir) { base =>
      val root = base + "/state"
      val spec = graft.streaming.IncrementalRollup.Spec(
        base + "/rollup", Seq("lang", "source"), statsCol = Some("n_chars"))
      val docs = Tables.documents(spark, dir)
      val mid = docs.agg(max(col("doc_id"))).head().getLong(0) / 2
      val changes = docs.select(
        col("doc_id").cast("string").as("rowkey"),
        col("doc_id").as("event_id"), lit("put").as("op"),
        col("lang"), col("source"), col("n_chars"))
      val dels = docs.filter(col("doc_id") <= mid && col("doc_id") % 10 === 3)
        .select(col("doc_id").cast("string").as("rowkey"),
          (col("doc_id") + 1000000000L).as("event_id"),
          lit("delete").as("op"),
          lit(null).cast("string").as("lang"),
          lit(null).cast("string").as("source"),
          lit(null).cast("long").as("n_chars"))
      graft.streaming.IncrementalIndex.mergeBatch(
        spark, changes.filter(col("event_id") <= mid), root, rollup = Some(spec))
      graft.streaming.IncrementalIndex.mergeBatch(
        spark, changes.filter(col("event_id") > mid).unionByName(dels), root,
        rollup = Some(spec))
      spec
    }

  private def qFacetStatsMaintained(spark: SparkSession, dir: String): DataFrame = {
    // The nested facet served from MAINTAINED stats partials only: every
    // ROLLUP level is a cuboid collapse of the SAME |buckets| × |groups|
    // partial rows ([[graft.streaming.IncrementalRollup.readBy]]) — the
    // row state is never opened (plan-pinned in PlanSpec), and min/max
    // survive the fixture's deletes via bucket recompute. The unique-
    // count sub-stat is intentionally absent here: the maintained
    // distinct is an HLL estimate (q_facet_incremental's surface) and
    // this key stays hash-exact against the oracle.
    val spec = statsFixture(spark, dir)
    def lvl(by: Seq[String]) =
      graft.streaming.IncrementalRollup.readBy(spark, spec, by)
    val nullStr = lit(null).cast("string")
    val grid = lvl(Seq("lang", "source"))
    val byLang = lvl(Seq("lang")).withColumn("source", nullStr)
    val total = lvl(Nil).withColumn("lang", nullStr).withColumn("source", nullStr)
    grid.unionByName(byLang).unionByName(total)
      .select(col("lang"), col("source"), col("n"),
        col("min_n_chars").as("min_chars"),
        col("max_n_chars").as("max_chars"),
        round(col("avg_n_chars"), 4).as("avg_chars"))
      .orderBy(col("lang").asc_nulls_first, col("source").asc_nulls_first)
  }

  private def qFacetInterval(spark: SparkSession, dir: String): DataFrame = {
    // Solr interval faceting (facet.interval): arbitrary, possibly
    // OVERLAPPING intervals over one numeric field — a floor-bucket
    // groupBy (q_facet_range) cannot express overlap, so each interval
    // is a conditional partial aggregate over ONE scan (the facet.query
    // machinery with numeric bounds; rows may count toward several
    // intervals).
    def in(lo: Double, hi: Double) =
      sum(when(col("o_totalprice") >= lo && col("o_totalprice") < hi, 1L)
        .otherwise(0L))
    Tables.orders(spark, dir).agg(
        in(0, 50000).as("lo"),
        in(25000, 150000).as("mid"),
        sum(when(col("o_totalprice") >= 100000, 1L).otherwise(0L)).as("hi"))
      .selectExpr("stack(3, '[0,50000)', lo, '[25000,150000)', mid, " +
        "'[100000,inf)', hi) AS (interval, n)")
      .orderBy("interval")
  }

  val queries: Map[String, Q] = Map(
    "q_facet_interval" -> qFacetInterval,
    "q_facet_stats" -> qFacetStats,
    "q_facet_stats_maintained" -> qFacetStatsMaintained,
    "q_facet_field" -> qFacetField,
    "q_facet_query" -> qFacetQuery,
    "q_group_topn" -> qGroupTopN,
    "q_facet_range" -> qFacetRange,
    "q_facet_pivot" -> qFacetPivot,
    "q_stats_agg" -> qStatsAgg,
    "q_distinct" -> qDistinct,
    "q_distinct_approx" -> qDistinctApprox,
    "q_facet_date_month" -> qFacetDateMonth,
    "q_facet_rollup" -> qFacetRollup,
    "q_stats_percentile" -> qStatsPercentile,
    "q_group_top1" -> qGroupTop1)

  val oracle: Map[String, String] = Map(
    "q_facet_interval" ->
      """SELECT * FROM (
        |  SELECT '[0,50000)' AS interval,
        |         count(*) FILTER (o_totalprice >= 0 AND o_totalprice < 50000) AS n
        |  FROM orders
        |  UNION ALL
        |  SELECT '[25000,150000)',
        |         count(*) FILTER (o_totalprice >= 25000 AND o_totalprice < 150000)
        |  FROM orders
        |  UNION ALL
        |  SELECT '[100000,inf)', count(*) FILTER (o_totalprice >= 100000)
        |  FROM orders)
        |ORDER BY interval""".stripMargin,
    "q_facet_stats" ->
      """SELECT lang, source, count(*) AS n,
        |       min(n_chars) AS min_chars, max(n_chars) AS max_chars,
        |       round(avg(n_chars), 4) AS avg_chars,
        |       count(DISTINCT n_chars) AS n_lengths
        |FROM documents
        |GROUP BY ROLLUP (lang, source)
        |ORDER BY lang NULLS FIRST, source NULLS FIRST""".stripMargin,
    "q_facet_stats_maintained" ->
      """WITH live AS (
        |  SELECT * FROM documents
        |  WHERE NOT (doc_id <= (SELECT max(doc_id) FROM documents) // 2
        |             AND doc_id % 10 = 3))
        |SELECT lang, source, count(*) AS n,
        |       min(n_chars) AS min_chars, max(n_chars) AS max_chars,
        |       round(avg(n_chars), 4) AS avg_chars
        |FROM live
        |GROUP BY ROLLUP (lang, source)
        |ORDER BY lang NULLS FIRST, source NULLS FIRST""".stripMargin,
    "q_facet_field" ->
      """SELECT l_returnflag, count(*) AS n FROM lineitem
        |GROUP BY 1 ORDER BY n DESC, l_returnflag""".stripMargin,
    "q_facet_query" ->
      """SELECT 'early_sources' AS facet,
        |       count(*) FILTER (source IN ('src0','src1') AND lang <> 'zh') AS n
        |FROM documents
        |UNION ALL
        |SELECT 'long_english', count(*) FILTER (lang = 'en' AND n_chars >= 200)
        |FROM documents
        |UNION ALL
        |SELECT 'short_docs', count(*) FILTER (n_chars < 100) FROM documents
        |ORDER BY facet""".stripMargin,
    "q_facet_range" ->
      """SELECT CAST(floor(o_totalprice / 50000) * 50000 AS BIGINT) AS bucket, count(*) AS n
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_facet_pivot" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n FROM lineitem
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_stats_agg" ->
      """SELECT l_returnflag, count(*) AS n,
        |       count(*) - count(l_extendedprice) AS n_missing,
        |       round(min(l_extendedprice), 2) AS min_price,
        |       round(max(l_extendedprice), 2) AS max_price,
        |       round(sum(l_extendedprice), 2) AS sum_price,
        |       round(avg(l_extendedprice), 2) AS avg_price
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_distinct" ->
      """SELECT l_linestatus, count(DISTINCT l_partkey) AS n_parts,
        |       count(DISTINCT l_suppkey) AS n_supps, count(*) AS n_rows
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_facet_date_month" ->
      """SELECT epoch_us(date_trunc('month', CAST(o_orderdate AS TIMESTAMP))) AS month_us,
        |       count(*) AS n, round(sum(o_totalprice), 2) AS revenue
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_facet_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
        |       coalesce(l_linestatus, 'ALL') AS l_linestatus,
        |       count(*) AS n,
        |       CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin,
    "q_stats_percentile" ->
      """WITH r AS (
        |  SELECT l_returnflag, l_extendedprice AS v,
        |         row_number() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS rn,
        |         count(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM lineitem)
        |SELECT l_returnflag,
        |       max(CASE WHEN rn = greatest(1, CAST(ceil(n * 0.5) AS BIGINT)) THEN v END) AS p50,
        |       max(CASE WHEN rn = greatest(1, CAST(ceil(n * 0.9) AS BIGINT)) THEN v END) AS p90,
        |       max(CASE WHEN rn = greatest(1, CAST(ceil(n * 0.99) AS BIGINT)) THEN v END) AS p99
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_group_topn" ->
      """WITH r AS (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_custkey
        |                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders)
        |SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS price, rn
        |FROM r WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,
    "q_group_top1" ->
      """WITH r AS (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_custkey
        |                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders)
        |SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS price
        |FROM r WHERE rn = 1 ORDER BY o_custkey""".stripMargin)
}
