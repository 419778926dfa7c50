package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Vector similarity family (driver contract; SURVEY.md §2.C X3/X5):
  * brute-force cosine top-k as the exact baseline, IVF-style probed search
  * and sign-LSH-blocked near-dup as the scale paths, plus the multimodal
  * text⋈vector join.
  *
  * Dot products are the higher-order `aggregate(zip_with(...))` — a
  * codegen'd left fold over the array columns, elementwise cast to double so
  * Spark and the DuckDB oracle perform bit-identical IEEE arithmetic. The
  * fixture embeddings are L2-normalized (FIXTURES.md; verified norm=1.0),
  * so dot product == cosine.
  *
  * Scale notes:
  *  - top-k: the scan is one pass, ranking is TakeOrderedAndProject (per-
  *    partition heap, k rows to the driver) — no global sort at any scale;
  *    the single-row query side is `broadcast()`.
  *  - IVF: `label` plays the coarse-quantizer cell id (at 100 TB the cell
  *    assignment comes from offline k-means and the table is partitioned by
  *    cell, so a probe touches 1/nlist of the data — here the filter prunes
  *    to one cell before any arithmetic).
  *  - sign-LSH near-dup: 8 hyperplane sign bits (dims 1–8 of unit vectors)
  *    block the pair join into 256 buckets, turning O(n²) into
  *    O(Σ bucket²).
  */
object Vectors {
  type Q = (SparkSession, String) => DataFrame

  /** Dot product of two Array[Float] columns in double precision:
    * left-to-right accumulation, deterministic, identical arithmetic to the
    * pure-SQL `aggregate(zip_with(...))` fold — but executed by the native
    * codegen'd [[graft.functions.VecDotFloat]] expression (tight primitive
    * loop, no per-row lambda interpretation or intermediate array). */
  def dot(a: String, b: String): Column =
    graft.functions.VecDotFloat.vec_dot(col(a), col(b))

  /** 8-bit sign-LSH bucket of an embedding column (dims 1..8). Vectors
    * shorter than 8 dims contribute 0-bits for their missing dims
    * (`try_element_at` — fewer hyperplanes, coarser blocking, still
    * correct: bucketing only GROUPS candidates, it never scores them). */
  def signBucket(embCol: String): Column =
    (0 until 8).map(d =>
      when(try_element_at(col(embCol), lit(d + 1)) > 0f, lit(1 << d))
        .otherwise(lit(0)))
      .reduce(_ + _).cast("int")

  private def qVectorTopk(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .withColumn("sim", round(dot("embedding", "qv"), 4))
      .select("vec_id", "label", "sim")
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(20)
  }

  private def qAnnIvf(spark: SparkSession, dir: String): DataFrame = {
    // IVF probe: restrict the search to the query vector's own cell
    // (`label` = coarse-quantizer assignment), then exact cosine within it.
    val e = Tables.embeddings(spark, dir)
    val q = e.filter(col("vec_id") === 0)
      .select(col("label").as("qlabel"), col("embedding").as("qv"))
    e.filter(col("vec_id") =!= 0)
      .join(broadcast(q), col("label") === col("qlabel"))
      .withColumn("sim", round(dot("embedding", "qv"), 4))
      .select("vec_id", "label", "sim")
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(10)
  }

  private def qAnnBatch(spark: SparkSession, dir: String): DataFrame = {
    // Batched IVF ANN — the pipeline form: a SET of query vectors joins
    // the cell-partitioned table on its probed cell in ONE broadcast join
    // (the big side never moves, no per-query driver loop), and per-query
    // top-k comes from a WindowGroupLimit-compiled rank. At 100 TB this is
    // the shape of "embed a batch, retrieve neighbors for all of it":
    // queries × cells fan-out instead of queries × corpus.
    val e = Tables.embeddings(spark, dir)
    val qs = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("label").as("qlabel"),
        col("embedding").as("qv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("sim").desc, col("vec_id"))
    e.join(broadcast(qs), col("label") === col("qlabel") && col("vec_id") =!= col("qid"))
      .withColumn("sim", round(dot("embedding", "qv"), 4))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("qid"), col("vec_id"), col("sim"), col("rn").cast("long").as("rank"))
      .orderBy("qid", "rank")
  }

  private def qVectorCentroid(spark: SparkSession, dir: String): DataFrame =
    // Per-cell centroids — the k-means update step that trains the IVF
    // coarse quantizer (SCALE.md names offline k-means as the 100 TB cell
    // assignment). One explode + two-level aggregation, partial map-side;
    // emitted as (label, dim, c) rows — no float→string encodings.
    Tables.embeddings(spark, dir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("i", "v")))
      .groupBy("label", "i")
      .agg(round(avg(col("v").cast("double")), 4).as("c"))
      .select(col("label"), (col("i") + 1).cast("long").as("dim"), col("c"))
      .orderBy("label", "dim")

  // ---- product quantization (IVF-PQ): the memory-bounded ANN path ----
  //
  // At 100 TB of embeddings the full float vectors do not fit the probe
  // path's working set — PQ stores each vector as PqM sub-space codeword
  // ids (here 16 × 4-bit ids for a 64-d float vector: 16× smaller) and
  // scores candidates with an asymmetric-distance table (ADC: per query,
  // dot(q_s, codeword) for every (subspace, code) — PqM × PqK entries,
  // driver-free, built in-plan and broadcast). The search is the standard
  // two-stage shape: ADC shortlist inside the probed coarse cell, then
  // EXACT rerank of the shortlist from the stored vectors — so the final
  // top-k is exact whenever the true top-k survive the shortlist, which
  // is what lets q_ann_pq share q_ann_ivf's brute-force oracle.
  // Codebooks/codes are pure functions of the embeddings table and
  // materialize once per session (the per-doc-artifact discipline of the
  // shingle/fingerprint families; a maintained deployment derives them in
  // the same merge that maintains the IVF cells).

  private val PqM = 16 // subspaces
  private val PqK = 16 // codewords per subspace (4-bit codes)

  private def pqSubDim(e: DataFrame): Int = {
    val d = e.select(size(col("embedding"))).head().getInt(0)
    require(d % PqM == 0, s"embedding dim $d not divisible by PqM=$PqM")
    d / PqM
  }

  /** Per-subspace codebooks (s, code, cw) — [[IvfIndex.trainCodebooks]],
    * the ONE Lloyd kernel the persisted index also uses (a second copy
    * here drifted once already: a `vec_id < k` seed that silently trained
    * an EMPTY codebook on any corpus whose ids don't start at 0). */
  private[graft] def sharedPqCodebooks(spark: SparkSession, dir: String): DataFrame =
    Materialize.artifact(spark, "pq_codebooks", dir) {
      val e = Tables.embeddings(spark, dir)
      IvfIndex.trainCodebooks(e.select("vec_id", "embedding"),
        IvfIndex.PqSpec(m = PqM, k = PqK), pqSubDim(e))
    }

  /** PQ-encoded table (vec_id, label, codes ARRAY<INT> of length PqM) —
    * the 16×-compressed form the shortlist scans instead of the vectors;
    * encoded by [[IvfIndex.encode]], the upsert-path encoder. */
  private[graft] def sharedPqCodes(spark: SparkSession, dir: String): DataFrame =
    Materialize.artifact(spark, "pq_codes", dir) {
      IvfIndex.encode(
          Tables.embeddings(spark, dir).select("vec_id", "label", "embedding"),
          sharedPqCodebooks(spark, dir))
        .select("vec_id", "codes", "label")
    }

  private def qAnnPq(spark: SparkSession, dir: String): DataFrame = {
    // ADC table: dot(query subvector, codeword) per (s, code) — PqM×PqK
    // rows, built in-plan from the codebooks and broadcast; the shortlist
    // never touches a float vector, only code arrays + the table.
    val e = Tables.embeddings(spark, dir)
    val subDim = pqSubDim(e)
    val q = e.filter(col("vec_id") === 0)
    val qsub = q.select(posexplode(expr(
      s"transform(sequence(0, ${PqM - 1}), s -> " +
        s"transform(slice(embedding, s * $subDim + 1, $subDim), " +
        "x -> cast(x AS double)))")).as(Seq("s", "qsub")))
    val tbl = sharedPqCodebooks(spark, dir).join(broadcast(qsub), "s")
      .withColumn("dp", aggregate(
        zip_with(col("cw"), col("qsub"), (x, y) => x * y),
        lit(0.0), (a, p) => a + p))
      .select("s", "code", "dp")
    val shortlist = sharedPqCodes(spark, dir)
      .join(broadcast(q.select(col("label").as("qlabel"))),
        col("label") === col("qlabel"))
      .filter(col("vec_id") =!= 0)
      .select(col("vec_id"), posexplode(col("codes")).as(Seq("s", "code")))
      .join(broadcast(tbl), Seq("s", "code"))
      .groupBy("vec_id").agg(sum(col("dp")).as("adc"))
      .orderBy(col("adc").desc, col("vec_id"))
      .limit(100)
    // exact rerank of the shortlist from the stored vectors: the output
    // is the true in-cell top-10 whenever the shortlist holds it — the
    // recall contract VectorsSpec pins against brute force
    e.join(broadcast(shortlist.select("vec_id")), "vec_id")
      .crossJoin(broadcast(q.select(col("embedding").as("qv"))))
      .withColumn("sim", round(dot("embedding", "qv"), 4))
      .select("vec_id", "label", "sim")
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(10)
  }

  private def qAnnMultiprobe(spark: SparkSession, dir: String): DataFrame = {
    // IVF multi-probe: rank cells by query·centroid and search the top 2
    // cells instead of one — the standard recall refinement. Centroids
    // are one aggregation (tiny: nlist × dim), the cell ranking is a
    // broadcast of nlist rows, and the probe scan touches only the chosen
    // cells' partitions. All double arithmetic is shared with the oracle;
    // cell and result orderings carry deterministic tiebreakers.
    val e = Tables.embeddings(spark, dir)
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val cent = e
      .select(col("label"), posexplode(col("embedding")).as(Seq("i", "v")))
      .groupBy("label", "i")
      .agg(avg(col("v").cast("double")).as("c"))
      .groupBy("label")
      .agg(transform(array_sort(collect_list(struct(col("i"), col("c")))),
        s => s.getField("c")).as("cent"))
    val top2 = cent.crossJoin(broadcast(q))
      .select(col("label"), expr(
        """aggregate(zip_with(cent, qv, (x, y) -> x * CAST(y AS DOUBLE)),
          |          CAST(0.0 AS DOUBLE), (acc, p) -> acc + p)""".stripMargin).as("csim"))
      .orderBy(col("csim").desc, col("label"))
      .limit(2)
      .select("label")
    e.filter(col("vec_id") =!= 0)
      .join(broadcast(top2), "label")
      .crossJoin(broadcast(q))
      .withColumn("sim", round(dot("embedding", "qv"), 4))
      .select("vec_id", "label", "sim")
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(10)
  }

  private def qEmbedLshDup(spark: SparkSession, dir: String): DataFrame = {
    // Embedding-cosine near-dup, sign-LSH blocked (X2's vector flavor).
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"), signBucket("embedding").as("bucket"))
    e.as("a").join(e.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"),
        col("a.embedding").as("va"), col("b.embedding").as("vb"))
      .withColumn("cos", round(dot("va", "vb"), 4))
      .filter(col("cos") >= 0.40)
      .select("a_id", "b_id", "cos")
      .orderBy("a_id", "b_id")
  }

  private[graft] val AnnFixtureNlist = 8

  /** One maintained-IVF fixture per (session, dir): the index BUILT from
    * the corpus, then moved forward through the incremental write surface
    * — one [[IvfIndex.applyChanges]] pass that re-embeds ids 0–9 with
    * the embedding of id+100 (updates that can move a vector between
    * cells) and deletes a modulus sweep (vec_id % 37 == 11) plus id 100
    * itself (the query text's twin — its absence from the result is the
    * delete proof; the upserted id 0 carrying its embedding at sim 1.0 is
    * the upsert proof). Every mutation is expressible in SQL over the embeddings
    * table, so the ORACLE brute-forces the post-maintenance vector set —
    * the oracle gate checks the maintenance arithmetic end to end, while
    * file pruning and crash replay are pinned in IvfIndexSpec. Root is
    * dropped when the session is freed.
    *
    * The fixture also carries the query parameters every maintained
    * ANN/hybrid key shares — vec 100's pre-delete (embedding, label) —
    * collected once: an uncached head() re-scans the embeddings parquet
    * on every bench/probe trial, which at N× derived corpora adds a
    * corpus-sized footer/scan term to reads whose growth is supposed to
    * be cell-sized (round-14 review finding). */
  private def annFixtureWithQuery(spark: SparkSession,
                                 dir: String): (String, (Seq[Float], Int)) =
    Materialize.fixture(spark, "ann_maintained_fixture", dir) { tmp =>
      val root = tmp + "/ivf"
      val e = Tables.embeddings(spark, dir)
      // built WITH PQ so the same fixture proves the codes column rides
      // the upsert+delete cell rewrite below (q_ann_pq_maintained), and
      // WITH the label attribute so the same fixture serves the filtered
      // probe (q_ann_filtered_maintained) — attrs colocate in cell files.
      // PQ iters = 1: this fixture's PQ keys read with a corpus-sized
      // shortlist (exact rerank regardless of codebook quality), so
      // extra codebook Lloyd rounds buy nothing here and each one is an
      // eager checkpointed job on the suite's most expensive artifact
      // build; codebook-QUALITY measurements use their own roots with
      // the default spec (RecallProbe, ann_recall)
      IvfIndex.build(e.select("vec_id", "embedding", "label"), root,
        nlist = AnnFixtureNlist, iters = 2,
        pq = Some(IvfIndex.PqSpec(iters = 1)),
        attrs = Seq("label"))
      // the re-embed keeps each doc's OWN label (metadata outlives an
      // embedding update), so the oracle's label column is just e.label
      val delta = e.as("a")
        .join(e.as("b"), col("b.vec_id") === col("a.vec_id") + 100)
        .filter(col("a.vec_id") < 10)
        .select(col("a.vec_id").as("vec_id"),
          col("b.embedding").as("embedding"), col("a.label").as("label"))
      IvfIndex.applyChanges(spark, root, delta,
        e.filter(col("vec_id") % 37 === 11 || col("vec_id") === 100)
          .select("vec_id"))
      val q = e.filter(col("vec_id") === 100).select("embedding", "label").head()
      (root, (q.getSeq[Float](0), q.getInt(1)))
    }

  private[graft] def annFixture(spark: SparkSession, dir: String): String =
    annFixtureWithQuery(spark, dir)._1

  private[graft] def fixtureQuery(spark: SparkSession, dir: String): (Seq[Float], Int) =
    annFixtureWithQuery(spark, dir)._2

  private def qAnnMaintained(spark: SparkSession, dir: String): DataFrame = {
    // X3 (maintained): exact top-k against the INCREMENTALLY MAINTAINED
    // index — probes = nlist makes the probe read every cell, so the
    // result is the brute-force answer over whatever the maintenance left
    // in the index (the quantizer's quality is irrelevant to correctness
    // here, which is what lets DuckDB check it). Query = the pre-delete
    // embedding of id 100, surviving only as id 0's upserted copy.
    val root = annFixture(spark, dir)
    val qv = fixtureQuery(spark, dir)._1
    IvfIndex.search(spark, root, qv, k = 10, probes = AnnFixtureNlist)
      .select(col("vec_id"), round(col("sim"), 4).as("sim"))
  }

  private def qAnnPqMaintained(spark: SparkSession, dir: String): DataFrame = {
    // X3 (maintained, memory-bounded): the PERSISTED IVF-PQ read path —
    // ADC shortlist over the maintained codes column, exact rerank of the
    // shortlist. probes = nlist and a corpus-sized shortlist make the
    // result the exact brute-force answer (rerank is exact whenever the
    // true top-k survives the shortlist — here it must, by size), so it
    // shares q_ann_maintained's oracle: one maintained state, three
    // physical strategies (full-precision probe / PQ shortlist / DuckDB),
    // one answer. What it proves beyond q_ann_maintained: upsert/delete
    // kept every cell's codes a pure function of its vectors.
    val root = annFixture(spark, dir)
    val qv = fixtureQuery(spark, dir)._1
    IvfIndex.searchPq(spark, root, qv, k = 10, probes = AnnFixtureNlist,
        shortlist = 1 << 20)
      .select(col("vec_id"), round(col("sim"), 4).as("sim"))
  }

  private def qAnnPqBatch(spark: SparkSession, dir: String): DataFrame = {
    // X3 (maintained, batch, memory-bounded): searchBatchPq against the
    // maintained fixture — the whole ADC table and shortlist live in-plan
    // (broadcast joins), no per-query driver loop, floats touched only at
    // the rerank. probes = nlist + corpus-sized shortlist ⇒ exact, so the
    // DuckDB oracle is the same maintained-state CTE with a 3-query batch.
    val root = annFixture(spark, dir)
    val e = Tables.embeddings(spark, dir)
    val qs = e.as("a")
      .join(e.as("b"), col("b.vec_id") === col("a.vec_id") + 100)
      .filter(col("a.vec_id") < 3)
      .select(col("a.vec_id").as("qid"), col("b.embedding").as("qv"))
    IvfIndex.searchBatchPq(spark, root, qs, k = 3, probes = AnnFixtureNlist,
        shortlist = 1 << 20)
      .select(col("qid"), col("vec_id"), round(col("sim"), 4).as("sim"),
        col("rank"))
      .orderBy("qid", "rank")
  }

  private def qAnnFiltered(spark: SparkSession, dir: String): DataFrame = {
    // X3 × S3: IVF probe COMPOSED with a metadata predicate — "nearest
    // neighbors among docs with lang='en'" (Solr's fq over ranking,
    // README.md:6's aggregation+retrieval over the same fields). The
    // predicate applies BEFORE the top-k, inside the probed cell, so k
    // fills whenever the cell holds ≥ k matches — post-filtering the
    // unfiltered top-k would under-fill it. At 100 TB the metadata lives
    // IN the cell files (IvfIndex.build attrs) and this join disappears
    // into a scan-pushed filter — q_ann_filtered_maintained is that form.
    val e = Tables.embeddings(spark, dir)
    val q = e.filter(col("vec_id") === 0)
      .select(col("label").as("qlabel"), col("embedding").as("qv"))
    val allowed = Tables.documents(spark, dir)
      .filter(col("lang") === "en")
      .select(col("doc_id").as("vec_id"), col("lang"))
    e.filter(col("vec_id") =!= 0)
      .join(broadcast(q), col("label") === col("qlabel"))
      .join(allowed, "vec_id") // predicate before the rank: k-fill holds
      .withColumn("sim", round(dot("embedding", "qv"), 4))
      .select("vec_id", "lang", "sim")
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(10)
  }

  private def qAnnFilteredMaintained(spark: SparkSession, dir: String): DataFrame = {
    // X3 × S3 (maintained): IvfIndex.searchFiltered against the
    // attribute-carrying maintained fixture — the predicate evaluates
    // inside the probed cell files (scan-pushed, no metadata join).
    // probes = nlist makes it the exact filtered answer, which is what
    // lets DuckDB brute-force the same maintained set + predicate.
    val root = annFixture(spark, dir)
    val (qv, qlabel) = fixtureQuery(spark, dir)
    IvfIndex.searchFiltered(spark, root, qv,
        col("label") === lit(qlabel), k = 10, probes = AnnFixtureNlist)
      .select(col("vec_id"), round(col("sim"), 4).as("sim"))
  }

  private def qMultimodalJoin(spark: SparkSession, dir: String): DataFrame =
    // X5: one row carrying text metadata + typed vector. doc_id==vec_id by
    // fixture construction; the dimension + norm checks prove the vector
    // column survives the join intact.
    Tables.documents(spark, dir)
      .join(Tables.embeddings(spark, dir), col("doc_id") === col("vec_id"))
      .filter(col("lang") === "en")
      .select(col("doc_id"), col("lang"), col("source"), col("label"),
        size(col("embedding")).cast("long").as("dim"),
        round(dot("embedding", "embedding"), 3).as("norm_sq"))
      .orderBy("doc_id")

  val queries: Map[String, Q] = Map(
    "q_vector_topk" -> qVectorTopk,
    "q_ann_ivf" -> qAnnIvf,
    "q_ann_pq" -> qAnnPq,
    "q_ann_batch" -> qAnnBatch,
    "q_vector_centroid" -> qVectorCentroid,
    "q_ann_multiprobe" -> qAnnMultiprobe,
    "q_ann_maintained" -> qAnnMaintained,
    "q_ann_filtered" -> qAnnFiltered,
    "q_ann_filtered_maintained" -> qAnnFilteredMaintained,
    "q_ann_pq_maintained" -> qAnnPqMaintained,
    "q_ann_pq_batch" -> qAnnPqBatch,
    "q_embed_lsh_dup" -> qEmbedLshDup,
    "q_multimodal_join" -> qMultimodalJoin)

  private val bucketSql: String =
    (0 until 8).map(d =>
      s"(CASE WHEN embedding[${d + 1}] > 0 THEN ${1 << d} ELSE 0 END)").mkString(" + ")

  val oracle: Map[String, String] = Map(
    "q_vector_topk" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
        |SELECT vec_id, label, round(list_dot_product(embedding::DOUBLE[], qv), 4) AS sim
        |FROM embeddings, q WHERE vec_id <> 0
        |ORDER BY sim DESC, vec_id LIMIT 20""".stripMargin,
    "q_ann_ivf" ->
      """WITH q AS (SELECT label AS qlabel, embedding::DOUBLE[] AS qv
        |           FROM embeddings WHERE vec_id = 0)
        |SELECT vec_id, label, round(list_dot_product(embedding::DOUBLE[], qv), 4) AS sim
        |FROM embeddings, q WHERE label = qlabel AND vec_id <> 0
        |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin,
    "q_ann_pq" ->
      // the PQ shortlist + exact rerank returns the true in-cell top-10
      // (recall contract spec-pinned), so the oracle is the same
      // brute-force in-cell ranking as q_ann_ivf's
      """WITH q AS (SELECT label AS qlabel, embedding::DOUBLE[] AS qv
        |           FROM embeddings WHERE vec_id = 0)
        |SELECT vec_id, label, round(list_dot_product(embedding::DOUBLE[], qv), 4) AS sim
        |FROM embeddings, q WHERE label = qlabel AND vec_id <> 0
        |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin,
    "q_ann_batch" ->
      """WITH q AS (SELECT vec_id AS qid, label AS qlabel, embedding::DOUBLE[] AS qv
        |           FROM embeddings WHERE vec_id < 5),
        |s AS (
        |  SELECT qid, e.vec_id,
        |         round(list_dot_product(e.embedding::DOUBLE[], qv), 4) AS sim
        |  FROM embeddings e JOIN q ON e.label = q.qlabel AND e.vec_id <> q.qid),
        |r AS (SELECT qid, vec_id, sim,
        |             row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank
        |      FROM s)
        |SELECT qid, vec_id, sim, rank FROM r WHERE rank <= 5
        |ORDER BY qid, rank""".stripMargin,
    "q_vector_centroid" ->
      """SELECT label, CAST(i AS BIGINT) AS dim,
        |       round(avg(CAST(embedding[i] AS DOUBLE)), 4) AS c
        |FROM embeddings, unnest(generate_series(1, len(embedding))) AS g(i)
        |GROUP BY label, i ORDER BY label, dim""".stripMargin,
    "q_ann_multiprobe" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
        |cent AS (
        |  SELECT label, i, avg(CAST(embedding[i] AS DOUBLE)) AS c
        |  FROM embeddings, unnest(generate_series(1, len(embedding))) AS g(i)
        |  GROUP BY label, i),
        |cellsim AS (
        |  SELECT label, sum(c * qv[i]) AS csim FROM cent, q GROUP BY label),
        |top2 AS (SELECT label FROM cellsim ORDER BY csim DESC, label LIMIT 2)
        |SELECT vec_id, label, round(list_dot_product(embedding::DOUBLE[], qv), 4) AS sim
        |FROM embeddings, q
        |WHERE vec_id <> 0 AND label IN (SELECT label FROM top2)
        |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin,
    "q_ann_maintained" ->
      """WITH delta AS (
        |  SELECT a.vec_id, b.embedding
        |  FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 100
        |  WHERE a.vec_id < 10),
        |final AS (
        |  SELECT e.vec_id, coalesce(d.embedding, e.embedding) AS embedding
        |  FROM embeddings e LEFT JOIN delta d ON e.vec_id = d.vec_id
        |  WHERE e.vec_id % 37 <> 11 AND e.vec_id <> 100),
        |q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 100)
        |SELECT vec_id, round(list_dot_product(embedding::DOUBLE[], qv), 4) AS sim
        |FROM final, q
        |ORDER BY list_dot_product(embedding::DOUBLE[], qv) DESC, vec_id
        |LIMIT 10""".stripMargin,
    "q_ann_filtered" ->
      """WITH q AS (SELECT label AS qlabel, embedding::DOUBLE[] AS qv
        |           FROM embeddings WHERE vec_id = 0)
        |SELECT e.vec_id, d.lang,
        |       round(list_dot_product(e.embedding::DOUBLE[], qv), 4) AS sim
        |FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id, q
        |WHERE e.label = qlabel AND d.lang = 'en' AND e.vec_id <> 0
        |ORDER BY sim DESC, e.vec_id LIMIT 10""".stripMargin,
    "q_ann_filtered_maintained" ->
      """WITH delta AS (
        |  SELECT a.vec_id, b.embedding
        |  FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 100
        |  WHERE a.vec_id < 10),
        |final AS (
        |  SELECT e.vec_id, coalesce(d.embedding, e.embedding) AS embedding,
        |         e.label
        |  FROM embeddings e LEFT JOIN delta d ON e.vec_id = d.vec_id
        |  WHERE e.vec_id % 37 <> 11 AND e.vec_id <> 100),
        |q AS (SELECT embedding::DOUBLE[] AS qv, label AS qlabel
        |      FROM embeddings WHERE vec_id = 100)
        |SELECT vec_id, round(list_dot_product(embedding::DOUBLE[], qv), 4) AS sim
        |FROM final, q WHERE final.label = qlabel
        |ORDER BY list_dot_product(embedding::DOUBLE[], qv) DESC, vec_id
        |LIMIT 10""".stripMargin,
    // the PQ read path reranks its (corpus-sized-by-parameter) shortlist
    // exactly, so it answers the SAME maintained-state question — one
    // oracle, third physical strategy (the q_facet_incremental pattern)
    "q_ann_pq_maintained" ->
      """WITH delta AS (
        |  SELECT a.vec_id, b.embedding
        |  FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 100
        |  WHERE a.vec_id < 10),
        |final AS (
        |  SELECT e.vec_id, coalesce(d.embedding, e.embedding) AS embedding
        |  FROM embeddings e LEFT JOIN delta d ON e.vec_id = d.vec_id
        |  WHERE e.vec_id % 37 <> 11 AND e.vec_id <> 100),
        |q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 100)
        |SELECT vec_id, round(list_dot_product(embedding::DOUBLE[], qv), 4) AS sim
        |FROM final, q
        |ORDER BY list_dot_product(embedding::DOUBLE[], qv) DESC, vec_id
        |LIMIT 10""".stripMargin,
    "q_ann_pq_batch" ->
      """WITH delta AS (
        |  SELECT a.vec_id, b.embedding
        |  FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 100
        |  WHERE a.vec_id < 10),
        |final AS (
        |  SELECT e.vec_id, coalesce(d.embedding, e.embedding) AS embedding
        |  FROM embeddings e LEFT JOIN delta d ON e.vec_id = d.vec_id
        |  WHERE e.vec_id % 37 <> 11 AND e.vec_id <> 100),
        |q AS (
        |  SELECT a.vec_id AS qid, b.embedding::DOUBLE[] AS qv
        |  FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 100
        |  WHERE a.vec_id < 3),
        |s AS (
        |  SELECT qid, f.vec_id,
        |         list_dot_product(f.embedding::DOUBLE[], qv) AS sim
        |  FROM final f, q),
        |r AS (SELECT qid, vec_id, round(sim, 4) AS sim,
        |             row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank
        |      FROM s)
        |SELECT qid, vec_id, sim, rank FROM r WHERE rank <= 3
        |ORDER BY qid, rank""".stripMargin,
    "q_embed_lsh_dup" ->
      (s"""WITH e AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS v,
         |         $bucketSql AS bucket
         |  FROM embeddings)
         |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |       round(list_dot_product(a.v, b.v), 4) AS cos
         |FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |WHERE round(list_dot_product(a.v, b.v), 4) >= 0.40
         |ORDER BY a_id, b_id""".stripMargin),
    "q_multimodal_join" ->
      """SELECT doc_id, lang, source, label,
        |       len(embedding) AS dim,
        |       round(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]), 3) AS norm_sq
        |FROM documents JOIN embeddings ON doc_id = vec_id
        |WHERE lang = 'en' ORDER BY doc_id""".stripMargin)
}
