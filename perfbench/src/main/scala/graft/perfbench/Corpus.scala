package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

final case class Doc(id: Long, text: String, lang: String) {
  def rowkey: String = id.toString
  lazy val tokens: Array[String] = text.split(" ")
  lazy val tokenSet: Set[String] = tokens.toSet
  lazy val shingles: Set[String] =
    if (tokens.length < 3) Set.empty
    else (0 to tokens.length - 3).map(i => s"${tokens(i)} ${tokens(i + 1)} ${tokens(i + 2)}").toSet
}

/** The benchmark's documents: the repository's sf0.1 `documents` fixture
  * (5,000 documents over a 31-word vocabulary, 10 to 100 words each), with
  * document `d` carrying the sf0.1 `embeddings` vector `d mod 2000`
  * (64-d). Both tables are copied into the benchmark's `data` directory, so
  * a run reads nothing outside its checkout. The workload seed picks only
  * the arrival order, the deletes and the reads. */
final class Corpus(val docs: IndexedSeq[Doc], embeddings: Map[Long, Array[Float]]) {
  /** Documents holding each word. */
  val df: Map[String, Int] =
    docs.flatMap(_.tokenSet).groupBy(identity).map { case (w, ws) => w -> ws.size }

  /** The document's `n` rarest words, by document frequency. */
  def rarest(d: Doc, n: Int): Seq[String] =
    d.tokenSet.toSeq.sortBy(w => (df(w), w)).take(n)

  def embedding(docId: Long): Array[Float] = embeddings(docId % embeddings.size)
}

object Corpus {
  def load(spark: SparkSession, data: String): Corpus = {
    val docs = spark.read.parquet(s"$data/sf0.1/documents.parquet")
      .select("doc_id", "text", "lang").collect()
      .map(r => Doc(r.getLong(0), r.getString(1), r.getString(2))).sortBy(_.id).toIndexedSeq
    val vecs = spark.read.parquet(s"$data/sf0.1/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    require(vecs.keySet == (0L until vecs.size).toSet, "embedding ids are not 0 until n")
    new Corpus(docs, vecs)
  }
}

/** What the maintained state must contain: the live documents, kept by the
  * benchmark from what it sent and what the admission log says was
  * admitted. The brute-force answers the reads are checked against are
  * computed over it. */
final class Model {
  private val live = mutable.TreeMap[Long, Doc]()
  def put(d: Doc): Unit = live(d.id) = d
  def delete(id: Long): Unit = live.remove(id)
  def size: Int = live.size
  def ids: IndexedSeq[Long] = live.keysIterator.toIndexedSeq
  def doc(id: Long): Doc = live(id)
  def docs: Iterable[Doc] = live.values

  def term(terms: Seq[String]): Set[String] =
    docs.filter(d => terms.forall(d.tokenSet.contains)).map(_.rowkey).toSet

  def phrase(p: Seq[String]): Set[String] =
    docs.filter(d => d.tokens.sliding(p.length).exists(_.sameElements(p)))
      .map(_.rowkey).toSet

  def fuzzy(term: String, maxEdits: Int = 1): Set[String] =
    docs.filter(d => d.tokenSet.exists(t => Model.lev(t, term) <= maxEdits))
      .map(_.rowkey).toSet

  def get(keys: Seq[String]): Map[String, String] =
    keys.distinct.flatMap(k => live.get(k.toLong).map(d => k -> d.text)).toMap

  /** BM25 as the maintained postings score it (k1 = 1.2, b = 0.75, Lucene
    * idf), rounded to 4 places; top k by (score desc, rowkey). */
  def bm25(terms: Seq[String], k: Int): Seq[(String, Double)] = {
    val q = terms.distinct
    val all = docs.toSeq
    val n = all.size.toDouble
    val avgdl = all.map(_.tokens.length.toLong).sum / n
    val df = q.map(t => t -> all.count(_.tokenSet.contains(t)).toDouble).toMap
    all.flatMap { d =>
      val parts = q.flatMap { t =>
        val tf = d.tokens.count(_ == t).toDouble
        if (tf == 0) None
        else Some(math.log(1.0 + (n - df(t) + 0.5) / (df(t) + 0.5)) *
          (2.2 * tf) / (tf + 1.2 * (0.25 + 0.75 * d.tokens.length / avgdl)))
      }
      if (parts.isEmpty) None
      else Some(d.rowkey -> BigDecimal(parts.sum).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.sortBy { case (r, s) => (-s, r) }.take(k)
  }

  /** Live documents whose word-3-shingle Jaccard with `text` reaches
    * `threshold`, among candidates sharing a shingle held by at most
    * `dfCap` live documents (the probe's candidate rule). Candidates within
    * 1e-9 of the threshold are left out of `sure` and reported in `edge`. */
  def nearDup(text: String, threshold: Double, dfCap: Int): (Set[String], Set[String]) = {
    val q = Doc(-1, text, "").shingles
    if (q.isEmpty) return (Set.empty, Set.empty)
    val holders = q.iterator.map(s => s -> docs.filter(_.shingles.contains(s))).toMap
    val cands = holders.values.filter(_.size <= dfCap).flatten.toSet
    val scored = cands.toSeq.map { d =>
      val inter = (q & d.shingles).size.toDouble
      d.rowkey -> inter / (q.size + d.shingles.size - inter)
    }
    (scored.filter(_._2 >= threshold + 1e-9).map(_._1).toSet,
      scored.filter(s => math.abs(s._2 - threshold) < 1e-9).map(_._1).toSet)
  }

  /** Exact top k by dot product over the live documents' embeddings. */
  def ann(corpus: Corpus, query: Array[Float], k: Int): Seq[(Long, Double)] =
    docs.toSeq.map { d =>
      val e = corpus.embedding(d.id)
      var s = 0.0; var i = 0
      while (i < e.length) { s += e(i).toDouble * query(i).toDouble; i += 1 }
      d.id -> s
    }.sortBy { case (id, s) => (-s, id) }.take(k)
}

object Model {
  def lev(a: String, b: String): Int = {
    val prev = Array.tabulate(b.length + 1)(identity)
    val cur = new Array[Int](b.length + 1)
    for (i <- 1 to a.length) {
      cur(0) = i
      for (j <- 1 to b.length)
        cur(j) = math.min(math.min(cur(j - 1) + 1, prev(j) + 1),
          prev(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      System.arraycopy(cur, 0, prev, 0, cur.length)
    }
    prev(b.length)
  }
}
