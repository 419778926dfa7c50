package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Interleaved A/B of the q_span_dedup shapes (round 17): the r16 shape
  * (three docs subtrees, each replicating an unconditional
  * repartition(doc_id) of the token arrays, LeftOuter summary join) vs
  * the r17 shape (one Fanout.scan, dup-mark left join, summary derived
  * in the per-doc aggregation). Interleaving cancels box-mode drift to
  * first order — the protocol records/INGEST_AB_r16.json established. Run:
  *   sbt -batch "Test/runMain graft.SpanProfile [sfDir] [trials]"
  */
object SpanProfile {
  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val trials = if (args.length > 1) args(1).toInt else 5
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def oldShape(): DataFrame = {
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), split(col("text"), " ").as("t"))
        .filter(size(col("t")) >= 3)
        .repartition(col("doc_id"))
      val spans = docs
        .select(col("doc_id"),
          posexplode(expr(
            "transform(sequence(1, size(t) - 2), i -> concat_ws(' ', slice(t, i, 3)))")))
        .select(col("doc_id"), (col("pos") + 1).as("i"), col("col").as("g"))
      val dupGrams = spans.groupBy("g").agg(count(lit(1)).as("n"))
        .filter(col("n") >= 2)
      val dup = spans.join(dupGrams.select("g"), "g")
      val perDoc = dup.groupBy("doc_id")
        .agg(count(lit(1)).as("nd"),
          sort_array(collect_list(col("i"))).as("starts"))
        .select(col("doc_id"), col("nd"),
          expr("""aggregate(starts,
              named_struct('cov', 0L, 'last', 0L),
              (acc, s) -> named_struct(
                'cov', acc.cov + greatest(0L,
                  cast(s AS bigint) + 2L - greatest(acc.last, cast(s AS bigint) - 1L)),
                'last', greatest(acc.last, cast(s AS bigint) + 2L)),
              acc -> acc.cov)""").as("cv"))
      docs.select(col("doc_id"), size(col("t")).cast("long").as("n_tokens"),
          (size(col("t")) - 2).cast("long").as("n_spans"))
        .join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"), col("n_spans"),
          coalesce(col("nd"), lit(0L)).as("n_dup_spans"),
          coalesce(col("cv"), lit(0L)).as("covered_tokens"),
          round(coalesce(col("cv"), lit(0L)) * 1.0 / col("n_tokens"), 4)
            .as("covered_frac"))
        .orderBy("doc_id")
    }
    def newShape(): DataFrame = SparkEntry.queries("q_span_dedup")(spark, dir)

    def time(f: () => DataFrame): Double = {
      val t0 = System.nanoTime()
      f().write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    // warm both
    time(oldShape); time(newShape): Unit
    val olds = collection.mutable.ArrayBuffer[Double]()
    val news = collection.mutable.ArrayBuffer[Double]()
    (1 to trials).foreach { _ =>
      olds += time(oldShape)
      news += time(newShape)
    }
    println(f"SPAN_AB old min=${olds.min}%.3f trials=${olds.map(t => f"$t%.3f").mkString(",")}")
    println(f"SPAN_AB new min=${news.min}%.3f trials=${news.map(t => f"$t%.3f").mkString(",")}")
    spark.stop()
  }
}
