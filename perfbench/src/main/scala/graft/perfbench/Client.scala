package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.operators.IvfIndex
import graft.streaming.{IncrementalIndex, IncrementalPostings, IncrementalShingles, IngestPipeline}

/** How much one `serve_rw` run does: a bootstrap, then a fixed number of
  * flushes, each followed by a fixed number of reads. */
final case class Sizes(bootDocs: Int, flushDocs: Int, flushes: Int,
                       readsPerFlush: Int)

final case class FlushRec(seconds: Double, rows: Int, gate: Double,
                          merge: Double, phases: Seq[(String, Double)],
                          span: Option[Span])

final case class ReadRec(op: String, seconds: Double, afterFlush: Boolean,
                         flush: Int, span: Option[Span])

/** The benchmark's single client thread: it drives one pipeline root
  * through the program's public calls in a closed loop — each flush or
  * read is issued only after the previous one returned — and checks every
  * answer, untimed, against [[Model]]. */
final class Client(spark: SparkSession, tracer: Tracer, work: String,
                   seed: Long, val sizes: Sizes, corpus: Corpus) {
  import Client._

  val model = new Model
  val flushes = mutable.ArrayBuffer[FlushRec]()
  val reads = mutable.ArrayBuffer[ReadRec]()
  var bootSeconds = 0.0
  var warmSeconds = 0.0
  val failures = mutable.ArrayBuffer[String]()
  var attempted = 0
  var inputBytes = 0L

  require(sizes.bootDocs + sizes.flushes * sizes.flushDocs <= corpus.docs.size,
    s"$sizes needs more than the ${corpus.docs.size} documents")
  private val order: IndexedSeq[Doc] = new scala.util.Random(seed).shuffle(corpus.docs)
  private val deleteRng = new java.util.Random(seed * 1000003L + 1)
  private val readRng = new java.util.Random(seed * 1000003L + 2)
  private var next = 0
  private var eventId = 0L
  private var batchId = 0L
  private var recent: IndexedSeq[Long] = IndexedSeq.empty
  private var afterFlush = Set[String]()
  val pipe: String = s"$work/pipe"

  private def schema: StructType = StructType(Seq(
    StructField("rowkey", StringType), StructField("event_id", LongType),
    StructField("op", StringType), StructField("text", StringType),
    StructField("lang", StringType), StructField("embedding", ArrayType(FloatType))))

  private def row(d: Doc, op: String): Row = {
    eventId += 1
    val put = op == "put"
    Row(d.rowkey, eventId, op, if (put) d.text else "", if (put) d.lang else "",
      if (put) corpus.embedding(d.id).toSeq else null)
  }

  private def frame(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  private def fail(what: String): Unit = {
    failures += what
    System.err.println(s"perfbench: check failed: $what")
  }

  /** Bootstraps the first `bootDocs` documents of the seeded order. */
  def setup(): Unit = {
    val docs = order.take(sizes.bootDocs)
    next = docs.size
    val batch = frame(docs.map(row(_, "put")))
    val t0 = System.nanoTime()
    tracer.request("bootstrap")(IngestPipeline.bootstrap(spark, batch, pipe))
    bootSeconds = (System.nanoTime() - t0) / 1e9
    docs.foreach(model.put)
    inputBytes += docs.map(_.text.getBytes("UTF-8").length.toLong).sum
    recent = docs.takeRight(sizes.flushDocs).map(_.id)
  }

  /** One flush: the next `flushDocs` documents plus deletes of about
    * `DeleteFrac` of that many live rowkeys, through the gated pipeline. */
  def flush(): Unit = {
    val puts = order.slice(next, next + sizes.flushDocs)
    next += puts.size
    val live = model.ids
    val nDel = math.min(live.size, math.round(sizes.flushDocs * DeleteFrac).toInt)
    val dels = Iterator.continually(live(deleteRng.nextInt(live.size)))
      .distinct.take(nDel).toIndexedSeq
    val rows = puts.map(row(_, "put")) ++ dels.map(id => row(model.doc(id), "delete"))
    val batch = frame(rows)
    batchId += 1
    attempted += 1
    try {
      val t0 = System.nanoTime()
      val ((g, m, phases), span) = tracer.request("flush")(
        IngestPipeline.applyBatchPhased(spark, batch, pipe, batchId))
      val sec = (System.nanoTime() - t0) / 1e9
      span.foreach { s =>
        tracer.synthetic(s, Seq("gate" -> g, "merge" -> m)).headOption
          .foreach(gs => tracer.synthetic(gs, phases))
      }
      flushes += FlushRec(sec, rows.size, g, m, phases, span)
      // untimed: the verdicts, and what they do to the live set
      val verdicts = IngestPipeline.admissionLog(spark, pipe)
        .filter(col("batch_id") === batchId).select("rowkey", "verdict")
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      val admitted = puts.filter(d => verdicts.get(d.rowkey).contains("admitted"))
      if (verdicts.size != puts.size || !puts.forall(d => verdicts.contains(d.rowkey)))
        fail(s"flush $batchId: ${verdicts.size} verdicts for ${puts.size} puts")
      dels.foreach(model.delete)
      admitted.foreach(model.put)
      inputBytes += puts.map(_.text.getBytes("UTF-8").length.toLong).sum
      recent = admitted.map(_.id)
      afterFlush = Set.empty
    } catch {
      case e: Exception => fail(s"flush $batchId threw ${e.getClass.getName}: ${e.getMessage}")
    }
  }

  private def pick(): Doc = {
    val ids = model.ids
    model.doc(ids(readRng.nextInt(ids.size)))
  }

  private def rarest(d: Doc, n: Int): Seq[String] = corpus.rarest(d, n)

  /** Issues one read of class `op` with seeded arguments, timed, and
    * checks its answer. */
  def read(op: String): Unit = {
    attempted += 1
    val first = !afterFlush.contains(op) && flushes.nonEmpty
    if (flushes.nonEmpty) afterFlush += op
    val d = pick()
    val (call, check): (() => Array[Row], Array[Row] => Option[String]) = op match {
      case "term" =>
        val ts = rarest(d, 2)
        (() => IncrementalPostings.termSearch(spark, postings, ts).collect(),
          rs => same("term", rs.map(_.getAs[String]("rowkey")).toSet, model.term(ts)))
      case "bm25" =>
        val ts = rarest(d, 3)
        (() => IncrementalPostings.bm25Search(spark, postings, ts, 20).collect(),
          rs => checkBm25(rs.map(r => r.getAs[String]("doc_id") -> r.getAs[Double]("score")).toSeq,
            model.bm25(ts, 20)))
      case "phrase" =>
        // the pair holding the doc's rarest word, so every phrase is selective
        val at = math.min(d.tokens.indexOf(rarest(d, 1).head), d.tokens.length - 2)
        val p = Seq(d.tokens(at), d.tokens(at + 1))
        (() => IncrementalPostings.phraseSearch(spark, postings, p).collect(),
          rs => same("phrase", rs.map(_.getAs[String]("rowkey")).toSet, model.phrase(p)))
      case "fuzzy" =>
        val w = rarest(d, 1).head
        val at = readRng.nextInt(w.length)
        val c = ('a' + (w(at) - 'a' + 1 + readRng.nextInt(25)) % 26).toChar
        val typo = w.updated(at, c)
        (() => IncrementalPostings.fuzzySearch(spark, postings, typo, 1).collect(),
          rs => same("fuzzy", rs.map(_.getAs[String]("rowkey")).toSet, model.fuzzy(typo)))
      case "get" =>
        val keys = (Seq.fill(3)(recent(readRng.nextInt(recent.size))) ++
          Seq.fill(2)(pick().id)).map(_.toString)
        (() => IncrementalIndex.get(spark, IngestPipeline.stateRoot(pipe), keys).collect(),
          rs => {
            val got = rs.map(r => r.getAs[String]("rowkey") -> r.getAs[String]("text")).toMap
            if (got == model.get(keys)) None else Some(s"get $keys")
          })
      case "neardup" =>
        (() => IncrementalShingles.nearDuplicates(spark,
          IngestPipeline.shingleRoot(pipe), d.text, 0.8).collect(),
          rs => {
            val got = rs.map(_.getAs[String]("rowkey")).toSet
            val (sure, edge) = model.nearDup(d.text, 0.8, graft.operators.Dedup.DfCap)
            if (!got.contains(d.rowkey)) Some(s"neardup misses the probe doc ${d.rowkey}")
            else if (got -- edge == sure) None
            else Some(s"neardup ${d.rowkey}: got ${(got -- edge).size}, want ${sure.size}")
          })
      case "ann" =>
        val q = corpus.embedding(d.id).toSeq
        val vroot = IngestPipeline.vectorsRoot(pipe)
        (() => IvfIndex.search(spark, vroot, q, 10, probes = 2).collect(),
          rs => if (rs.length != math.min(10, model.size)) Some(s"ann returned ${rs.length} rows")
          else if (!first && reads.count(_.op == "ann") > 1) None
          else {
            // exactness is checked with every cell probed, on the first
            // ann read after the set-up and after each flush
            val exact = IvfIndex.search(spark, vroot, q, 10, probes = AnnNlist).collect()
              .map(_.getAs[Double]("sim")).toSeq
            val want = model.ann(corpus, q.toArray, 10).map(_._2)
            if (exact.size == want.size && exact.zip(want).forall { case (a, b) => math.abs(a - b) < 1e-4 }) None
            else Some(s"ann sims $exact vs $want")
          })
    }
    try {
      val t0 = System.nanoTime()
      val (rows, span) = tracer.request(s"read.$op")(call())
      val sec = (System.nanoTime() - t0) / 1e9
      reads += ReadRec(op, sec, first, flushes.size, span)
      check(rows).foreach(m => fail(s"$op: $m"))
    } catch {
      case e: Exception => fail(s"$op threw ${e.getClass.getName}: ${e.getMessage}")
    }
  }

  /** One untimed read of class `op` before the run, so the first timed
    * read does not also pay the JVM's first compile of that read path. It
    * is checked like any read and its time counts as set-up. */
  def warmUp(op: String): Unit = {
    val t0 = System.nanoTime()
    val n = reads.size
    read(op)
    reads.remove(n, reads.size - n)
    warmSeconds += (System.nanoTime() - t0) / 1e9
  }

  private def postings: String = IngestPipeline.postingsRoot(pipe)

  private def same(op: String, got: Set[String], want: Set[String]): Option[String] =
    if (want.isEmpty) Some(s"$op: brute force is empty (bad arguments)")
    else if (got == want) None
    else Some(s"$op: ${got.size} rows, brute force ${want.size}, " +
      s"missing ${(want -- got).take(3)}, extra ${(got -- want).take(3)}")

  private def checkBm25(got: Seq[(String, Double)], want: Seq[(String, Double)]): Option[String] = {
    val scoresMatch = got.size == want.size &&
      got.zip(want).forall { case (a, b) => math.abs(a._2 - b._2) < 2e-4 }
    // ids are compared above the last score, where ties cannot reorder them
    val cut = want.lastOption.map(_._2 + 2e-4).getOrElse(0.0)
    def above(s: Seq[(String, Double)]) = s.filter(_._2 > cut).map(_._1).toSet
    if (want.isEmpty) Some("bm25: brute force is empty (bad arguments)")
    else if (scoresMatch && above(got) == above(want)) None
    else Some(s"bm25: ${got.take(3)} vs ${want.take(3)}")
  }

  /** On-disk bytes under the pipeline root. */
  def stateBytes(): Long = {
    val root = java.nio.file.Paths.get(pipe)
    val s = java.nio.file.Files.walk(root)
    try s.filter(p => java.nio.file.Files.isRegularFile(p))
      .mapToLong(p => java.nio.file.Files.size(p)).sum()
    finally s.close()
  }

  /** A digest of every admission decision, the same for every run at one
    * seed when the gate is deterministic. */
  def admissionDigest(): String = {
    val lines = IngestPipeline.admissionLog(spark, pipe)
      .select("batch_id", "rowkey", "verdict", "dup_of").collect()
      .map(r => s"${r.get(0)}|${r.get(1)}|${r.get(2)}|${r.get(3)}").sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().take(8).map(b => f"${b & 0xff}%02x").mkString
  }
}

object Client {
  val AllOps: Seq[String] = Seq("term", "bm25", "phrase", "fuzzy", "get", "neardup", "ann")
  /** Deletes per flush, as a share of its documents. */
  val DeleteFrac = 0.05
  /** The pipeline's default IVF cell count (`applyBatch`'s `annNlist`). */
  val AnnNlist = 16
}
