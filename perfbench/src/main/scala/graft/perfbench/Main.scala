package graft.perfbench

import org.apache.spark.sql.SparkSession

/** One benchmark run: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir> --data <dir> [--scale full|tiny]
  * [--spans <file>]`.
  *
  * Untraced, it prints the end-to-end metrics; traced, the per-layer
  * metrics, with the spans written to `--spans`. The last line of standard
  * output is the result object; the lines before it that start with
  * `perfbench:` are details (the admission digest, the traced run's own
  * end-to-end figures for the tracing overhead). */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, work: String, data: String,
                        scale: String, spans: Option[String])

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"), need("data"), m.getOrElse("scale", "full"),
      m.get("spans"))
  }

  /** `serve_rw` run sizes; `tiny` is the smoke test's. */
  def sizes(scale: String): Sizes = scale match {
    case "full" => Sizes(bootDocs = 500, flushDocs = 1000, flushes = 1, readsPerFlush = 14)
    case "tiny" => Sizes(bootDocs = 120, flushDocs = 100, flushes = 2, readsPerFlush = 7)
    case _ => throw new IllegalArgumentException(s"unknown scale $scale")
  }

  /** `keys_warm` keys; `tiny` is the smoke test's. */
  def keys(scale: String): Seq[String] = scale match {
    case "full" => KeySet
    case "tiny" => Seq("q_bm25_topk", "q_span_dedup", "q_ann_multiprobe")
    case _ => throw new IllegalArgumentException(s"unknown scale $scale")
  }

  /** One key of each of the 14 modules: the Materialize families of
    * `graft.Bench`'s cold-start list whose builds fit a run (postings,
    * shingles, percolation, hybrid legs, bigrams), `q_span_dedup`, and
    * plain scan, join and aggregate keys. */
  val KeySet: Seq[String] = Seq(
    "q_index_state",                    // Changelog
    "q_span_dedup",                     // Dedup
    "q_facet_pivot",                    // Facets
    "q_star_join",                      // Fetch
    "q_hybrid_search",                  // Hybrid
    "q_bm25_topk",                      // Index
    "q_multifield_bm25",                // Multifield
    "q_frame_sample",                   // Multimodal
    "q_percolate_rich",                 // Percolate
    "q_pii_redact",                     // Pii
    "q_fuzzy_search",                   // Search
    "q_funnel",                         // Temporal
    "q_bigram_pmi",                     // TextAnalysis
    "q_ann_multiprobe")                 // Vectors

  def session(o: Opts): SparkSession = {
    val b = SparkSession.builder()
      .master("local[4]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
    if (o.trace) b.config("spark.hadoop.fs.file.impl", classOf[CountingFileSystem].getName)
    b.getOrCreate()
  }

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val o = parse(args)
    val t0 = System.nanoTime()
    val spark = session(o)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionSeconds = (System.nanoTime() - t0) / 1e9
    try {
      val tracer = new Tracer(spark, o.trace)
      val t1 = System.nanoTime()
      val (serve, keys) = o.workload match {
        case "serve_rw" => (Some(Workloads.serve(o, spark, tracer)), None)
        case "keys_warm" => (None, Some(Workloads.keys(o, spark, tracer)))
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      println(f"perfbench: wall session=$sessionSeconds%.1fs workload=${(System.nanoTime() - t1) / 1e9}%.1fs")
      serve.foreach { c =>
        println("perfbench: reads " + c.reads.map(r => f"${r.op}=${r.seconds}%.3f").mkString(" "))
        println(s"perfbench: admission_digest ${c.admissionDigest()}")
      }
      keys.foreach { k =>
        println("perfbench: passes " + k.passes.map(p => f"${p.map(_.seconds).sum}%.2f").mkString(" "))
        println("perfbench: keys " + k.passes.last.map(r => f"${r.key}=${r.seconds}%.3f").mkString(" "))
      }
      tracer.attribute()
      o.spans.foreach(p => tracer.writeJsonl(java.nio.file.Paths.get(p)))
      val e2e = Report.endToEnd(sessionSeconds, serve, keys)
      println("perfbench: e2e " + Report.metricsJson(e2e))
      val metrics = if (o.trace) Report.perLayer(serve, keys) else e2e
      val failures = serve.map(_.failures).orElse(keys.map(_.failures)).get
      val attempted = serve.map(_.attempted).orElse(keys.map(_.attempted)).get
      println(s"""{"correct":${failures.isEmpty},"attempted":$attempted,""" +
        s""""failed":${failures.size},"metrics":${Report.metricsJson(metrics)}}""")
    } finally spark.stop()
  }
}

object Workloads {
  /** serve_rw: bootstrap, one untimed read of each class (the first call
    * of a read path in a JVM pays its compile), then the fixed flushes,
    * each followed by rounds of the seven read classes in a seeded order;
    * then more rounds until `seconds` have passed since the first flush. */
  def serve(o: Main.Opts, spark: SparkSession, tracer: Tracer): Client = {
    val sz = Main.sizes(o.scale)
    val c = new Client(spark, tracer, o.work, o.seed, sz, Corpus.load(spark, o.data))
    c.setup()
    val rng = new scala.util.Random(o.seed * 7919L + 3)
    def round(n: Int): Seq[String] = rng.shuffle(Client.AllOps).take(n)
    round(Client.AllOps.size).foreach(c.warmUp)
    val t0 = System.nanoTime()
    (0 until sz.flushes).foreach { _ =>
      c.flush()
      (0 until sz.readsPerFlush by Client.AllOps.size).foreach { i =>
        round(math.min(Client.AllOps.size, sz.readsPerFlush - i)).foreach(c.read)
      }
    }
    while ((System.nanoTime() - t0) / 1e9 < o.seconds) round(Client.AllOps.size).foreach(c.read)
    c
  }

  /** keys_warm, with the keys in a seeded order: the cold pass, then timed
    * passes until `seconds` have passed, at least `MinPasses`; then the
    * untimed non-empty check of every key. */
  def keys(o: Main.Opts, spark: SparkSession, tracer: Tracer): Keys = {
    val order = new scala.util.Random(o.seed).shuffle(Main.keys(o.scale))
    val k = new Keys(spark, tracer, o.data, order)
    k.setup()
    val t0 = System.nanoTime()
    while (k.passes.size < MinPasses || (System.nanoTime() - t0) / 1e9 < o.seconds) k.timedPass()
    k.check()
    k
  }

  /** Two passes at least. The JIT keeps compiling through the first warm
    * passes (one run's read 9.0, 8.6, 7.1 s), so no warm-up pass would end
    * that within a run; the mean of two passes varied less across runs
    * (0.11 of its median) than the median of three (0.15–0.18). */
  val MinPasses = 2
}
