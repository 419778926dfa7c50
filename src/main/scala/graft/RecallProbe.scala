package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ANN recall probe on CLUSTERED embeddings — converts the round-10
  * diagnosis ("recall is probe-bound on the weakly-clustered synthetic
  * corpus; retrained centroids restore it once clustered data arrives")
  * from argued to measured (round-11 verdict task 3).
  *
  * Corpus: a deterministic mixture of Gaussians — `Clusters` centers with
  * coordinates derived from Spark's murmur3 `hash` (fixed seed, so the
  * corpus is reproducible anywhere with no RNG state), per-vector noise
  * an order of magnitude below the center separation, so a query's true
  * cosine top-k are its own cluster's members by construction.
  *
  * Scenario (the drift story on the index's real maintenance surface):
  *   1. build IVF-PQ on the ORIGINAL weak embeddings table — the index as
  *      deployed before clustered data exists;
  *   2. delete the originals and upsert the clustered corpus — the
  *      content turns over while the COARSE QUANTIZER stays stale (what
  *      any online index looks like after a data-distribution shift);
  *   3. measure recall@10 for IVF probes 1/2/4 and PQ (probes 4) against
  *      brute force over the index (probes = nlist ⇒ exact);
  *   4. `IvfIndex.rebuild` — retrains centroids AND codebooks on the
  *      current live vectors (the drift-gated maintenance action);
  *   5. measure the same settings again → the recall delta the rebuild
  *      buys, plus cell balance before/after as the mechanism witness.
  *
  * Output: one JSON line (also written to .tmp/recall_probe.json);
  * SCALE.md carries the table. */
object RecallProbe {

  private val Clusters = 48
  private val Dim = 64
  private val NVec = 20000

  /** Mixture-of-Gaussians corpus: (vec_id, embedding ARRAY<FLOAT>).
    * center(c, j) ~ U(-5, 5), noise(id, j) ~ U(-0.25, 0.25), both
    * murmur3-derived (deterministic, engine-seeded — no RNG state). */
  private def clustered(spark: SparkSession): DataFrame =
    spark.range(NVec.toLong).select(
      (col("id") + 10000000L).as("vec_id"),
      expr(
        s"""transform(sequence(0, ${Dim - 1}, 1), j -> cast(
           |  (pmod(hash(id % $Clusters, j, 'center'), 10000) / 10000.0) * 10.0 - 5.0 +
           |  (pmod(hash(id, j, 'noise'), 1000) / 1000.0) * 0.5 - 0.25
           | as float))""".stripMargin).as("embedding"))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val nlist = 16
    val aRoot = java.nio.file.Files.createTempDirectory("graft_recall")
    val root = aRoot.toString + "/ivf"
    val orig = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
    graft.operators.IvfIndex.build(orig, root, nlist = nlist, iters = 5,
      pq = Some(graft.operators.IvfIndex.PqSpec()))

    // distribution shift: the index's content turns over, its quantizer
    // doesn't — delete the originals, upsert the clustered corpus
    val corpus = clustered(spark).localCheckpoint()
    graft.operators.IvfIndex.applyChanges(spark, root, corpus, orig.select("vec_id"))

    val qs = corpus.filter(col("vec_id") % 625 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      .localCheckpoint()

    def cellBalance(): Double = {
      val counts = spark.read.parquet(root + "/vectors")
        .groupBy("cell").count().select("count")
        .collect().map(_.getLong(0))
      counts.max.toDouble / counts.sum
    }

    def measure(label: String): String = {
      val truth = AnnEval.top(graft.operators.IvfIndex.searchBatch(spark, root, qs,
        k = 10, probes = nlist)) // probes = nlist ⇒ exact over the index
      val settings = Seq[(String, () => DataFrame)](
        "ivf_p1" -> (() => graft.operators.IvfIndex.searchBatch(spark, root, qs, 10, probes = 1)),
        "ivf_p2" -> (() => graft.operators.IvfIndex.searchBatch(spark, root, qs, 10, probes = 2)),
        "ivf_p4" -> (() => graft.operators.IvfIndex.searchBatch(spark, root, qs, 10, probes = 4)),
        "pq_p4_sl100" -> (() => graft.operators.IvfIndex.searchBatchPq(spark, root, qs, 10, probes = 4)),
        // tightly-clustered data makes the true top-k a NEAR-TIE set the
        // size of the whole cluster (~NVec/Clusters ≈ 417 here): ADC
        // noise cannot order near-ties, so the shortlist must COVER the
        // tie set or the exact rerank never sees the true neighbors —
        // sl100 < cluster size collapses recall, sl500 > cluster size
        // restores it. The shortlist knob is cluster-size-relative, not
        // absolute.
        "pq_p4_sl500" -> (() => graft.operators.IvfIndex.searchBatchPq(spark, root, qs, 10, probes = 4, shortlist = 500)))
      val entries = settings.map { case (name, f) =>
        AnnEval.entryJson(name, truth, f)
      }.mkString(",")
      f""""$label":{"n_queries":${qs.count()},"max_cell_frac":${cellBalance()}%.3f,$entries}"""
    }

    val stale = measure("stale_centroids")
    graft.operators.IvfIndex.rebuild(spark, root, nlist = nlist)
    val retrained = measure("after_rebuild")

    val json =
      s"""{"metric":"recall_probe","clusters":$Clusters,"dim":$Dim,"n_vec":$NVec,""" +
      s""""nlist":$nlist,"k":10,$stale,$retrained}"""
    println(json)
    try {
      val out = java.nio.file.Paths.get(".tmp")
      java.nio.file.Files.createDirectories(out)
      java.nio.file.Files.write(out.resolve("recall_probe.json"),
        (json + "\n").getBytes("UTF-8")): Unit
    } catch { case e: Throwable => System.err.println(s"write failed: $e") }
    try graft.operators.Materialize.deleteLocalDir(aRoot.toString)
    catch { case _: Throwable => }
    spark.stop()
  }
}
