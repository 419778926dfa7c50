package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev harness (not shipped): step-level wall-clock profile of the
  * admission gate over one bulk batch — where the `gate_sec` number in
  * the ingest bench actually goes. Mirrors `gateDecisions`' current
  * shape (single sketch pass threaded through both dedup passes).
  * `Test/runMain graft.GateProfile`. */
object GateProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.streaming.{IncrementalPostings, IncrementalShingles, IngestPipeline}
    val root = java.nio.file.Files.createTempDirectory("graft_gateprof")
      .toString + "/pipe"
    val sroot = IngestPipeline.shingleRoot(root)
    val scheme = IncrementalShingles.WordShingles
    val threshold = 0.8
    val all = Tables.documents(spark, sfDir)
      .select(col("doc_id").cast("string").as("rowkey"),
        col("doc_id").as("event_id"), lit("put").as("op"), col("text"))
      .limit(5000).localCheckpoint()
    // populate the maintained state with 4000 docs first, so the probe
    // runs against REAL state (the steady-state per-batch shape), then
    // gate the remaining 1000 — mirrors the ingest bench's last batch
    val seed = all.filter(col("event_id") < 4000)
    val docs = all.filter(col("event_id") >= 4000).localCheckpoint()
    t("seed_state_4000") {
      IncrementalShingles.mergeBatch(spark, seed, sroot, 16, scheme)
    }
    println(s"PROFILE docs=${docs.count()}")
    def t[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"PROFILE $label ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }
    graft.streaming.StateStore.ensureTag(spark, sroot, "_scheme", scheme.name)
    val latest = t("latest+sketch_checkpoint") {
      docs.filter(col("op") =!= "delete").groupBy("rowkey")
        .agg(max_by(col("text"), col("event_id")).as("text"))
        .select(col("rowkey"),
          array_distinct(scheme.sketch(col("text"))).as("qs"))
        .localCheckpoint()
    }
    // sub-step breakdown of the probe (mirrors nearDuplicatesBatchSketched)
    locally {
      val sk = latest.select(col("rowkey").as("qid"), col("qs"))
      val qsh = sk.select(col("qid"), explode(col("qs")).as("tok"))
      val toks = qsh.select("tok").distinct()
      val entries = t("  probe.pruned_entries_read") {
        val e = IncrementalPostings.prunedEntriesForTokensIn(spark, sroot,
          IncrementalPostings.entryBucketDirsForFrame(spark, sroot, toks), toks)
        println(s"  entries_rows=${e.count()}")
        e
      }
      val hit = t("  probe.hit_agg") {
        val h = entries.groupBy("tok")
          .agg(count(lit(1)).as("df"), collect_set(col("doc_id")).as("ids"))
          .filter(col("df") <= scheme.dfCap)
        println(s"  hit_toks=${h.count()}")
        h
      }
      val cands = t("  probe.cands_checkpoint") {
        hit.select(col("tok"), explode(col("ids")).as("rowkey"))
          .join(qsh, "tok")
          .select(col("qid"), col("rowkey")).distinct().localCheckpoint()
      }
      println(s"  cands_rows=${cands.count()}")
      val fetched = t("  probe.fetch_only") {
        val f = IncrementalPostings.prunedDocsForKeys(spark, sroot,
          cands.select("rowkey"))
        println(s"  fetched_rows=${f.count()}")
        f
      }
      val bArr = t("  probe.sketch_cands") {
        val b = fetched
          .select(col("rowkey"), array_distinct(scheme.sketch(col("text"))).as("bs"))
          .localCheckpoint()
        println(s"  bArr_rows=${b.count()}")
        b
      }
      t("  probe.join_no_intersect") {
        val n = bArr.join(cands, "rowkey")
          .join(sk, "qid")
          .withColumn("c", (size(col("bs")) + size(col("qs"))).cast("long"))
          .filter(col("c") >= 0).count()
        println(s"  joined_pairs=$n")
      }
      t("  probe.score_sorted_intersect") {
        val sbArr = bArr.select(col("rowkey"), array_sort(col("bs")).as("bs"))
        val ssk = sk.select(col("qid"), array_sort(col("qs")).as("qs"))
        val n = sbArr.join(cands, "rowkey")
          .join(ssk, "qid")
          .withColumn("c", size(array_intersect(col("bs"), col("qs"))).cast("long"))
          .withColumn("jaccard",
            round(col("c") / (size(col("bs")) + size(col("qs")) - col("c")), 4))
          .filter(col("jaccard") >= threshold).count()
        println(s"  sorted_scored=$n")
      }
      t("  probe.score_join") {
        val n = bArr.join(cands, "rowkey")
          .join(sk, "qid")
          .withColumn("c", size(array_intersect(col("bs"), col("qs"))).cast("long"))
          .withColumn("jaccard",
            round(col("c") / (size(col("bs")) + size(col("qs")) - col("c")), 4))
          .filter(col("jaccard") >= threshold).count()
        println(s"  scored_hits=$n")
      }
    }
    val dupBest = t("state_probe(sketched)+dupBest") {
      IncrementalShingles.nearDuplicatesBatchSketched(spark, sroot,
          latest.select(col("rowkey").as("qid"), col("qs")), threshold,
          scheme.dfCap, scheme)
        .filter(col("qid") =!= col("rowkey"))
        .groupBy("qid")
        .agg(min_by(col("rowkey"), struct(-col("jaccard"), col("rowkey"))).as("dup_of"))
        .select(col("qid").as("rowkey"), col("dup_of"))
        .localCheckpoint()
    }
    val survivors = t("survivors_checkpoint") {
      latest.join(dupBest, Seq("rowkey"), "left_anti").localCheckpoint()
    }
    val flagged = t("existing_fetch") {
      val existing = IncrementalPostings
        .prunedDocsForKeys(spark, sroot, survivors.select("rowkey"))
        .select(col("rowkey"), lit(true).as("exists"))
      survivors.join(existing, Seq("rowkey"), "left_outer")
        .select(col("rowkey"), col("qs"),
          coalesce(col("exists"), lit(false)).as("exists"))
    }
    val drops = t("intra_batch_drops+decisions+log_write") {
      val d = IncrementalShingles.intraBatchDrops(flagged, threshold,
        scheme.dfCap)
      val decisions = latest.select("rowkey")
        .join(dupBest.withColumnRenamed("dup_of", "s_dup_of")
          .withColumn("state_dup", lit(true)), Seq("rowkey"), "left_outer")
        .join(d.withColumnRenamed("dup_of", "b_dup_of")
          .withColumn("batch_dup", lit(true)), Seq("rowkey"), "left_outer")
        .select(col("rowkey"),
          when(col("state_dup"), lit("state_dup"))
            .when(col("batch_dup"), lit("batch_dup"))
            .otherwise(lit("admitted")).as("verdict"),
          when(col("state_dup"), col("s_dup_of"))
            .when(col("batch_dup"), col("b_dup_of"))
            .otherwise(lit(null).cast("string")).as("dup_of"))
      graft.streaming.StateStore.commit(spark, root + "/admissions/batch=0")(tmp =>
        decisions.withColumn("batch_id", lit(0L)).write.parquet(tmp))
      d
    }
    println(s"PROFILE total_drops=${drops.count()}")
    graft.operators.Materialize.deleteLocalDir(root.stripSuffix("/pipe"))
    spark.stop()
  }
}
