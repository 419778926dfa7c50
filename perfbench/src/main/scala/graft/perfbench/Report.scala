package graft.perfbench

/** The run's metrics, named as in `BENCHMARK.json`. */
object Report {
  final case class Metric(value: Double, unit: String)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** The median; 0 for no samples (a layer the workload did not use). */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      (s((s.size - 1) / 2) + s(s.size / 2)) / 2
    }

  /** The reads that follow flush `i` (0-based) in its round. */
  private def roundReads(c: Client, i: Int): Seq[ReadRec] =
    c.reads.toSeq.filter(_.flush == i + 1).take(c.sizes.readsPerFlush)

  /** Set-up, rounds and timed queries: on serve_rw a round is a flush and
    * the reads after it, and a query is a read; on keys_warm a round is a
    * warm pass over the keys, and a query is one key. Both are means: a
    * run has one serve_rw round and two keys_warm passes, and serve_rw's
    * 14 reads are two of each of seven classes, so their median is
    * whichever class sorts into the middle, and it jumps with that class. */
  def endToEnd(sessionSeconds: Double, serve: Option[Client], keys: Option[Keys]): Seq[(String, Metric)] = {
    val (setup, rounds, queries) = (serve, keys) match {
      case (Some(c), _) =>
        (c.bootSeconds + c.warmSeconds,
          c.flushes.indices.map(i => c.flushes(i).seconds + roundReads(c, i).map(_.seconds).sum),
          c.reads.toSeq.map(_.seconds))
      case (_, Some(k)) =>
        (k.coldSeconds, k.passes.toSeq.map(_.map(_.seconds).sum),
          k.passes.toSeq.flatten.map(_.seconds))
      case _ => (0.0, Nil, Nil)
    }
    Seq(
      "setup_s" -> Metric(sessionSeconds + setup, "s"),
      "round_s" -> Metric(mean(rounds), "s"),
      "query_mean_s" -> Metric(mean(queries), "s"))
  }

  def perLayer(serve: Option[Client], keys: Option[Keys]): Seq[(String, Metric)] =
    servePerLayer(serve) ++ keysPerLayer(keys)

  private def servePerLayer(serve: Option[Client]): Seq[(String, Metric)] = {
    val fl = serve.toSeq.flatMap(_.flushes)
    val reads = serve.toSeq.flatMap(_.reads)
    val spans = fl.flatMap(_.span)
    def perFlush(f: Span => Double): Double = median(spans.map(f))
    def phase(name: String): Double =
      median(fl.map(_.phases.filter(_._1 == name).map(_._2).sum))
    val readSpans = reads.flatMap(_.span)
    val ingest = Seq(
      "ingest.flush_s" -> Metric(median(fl.map(_.seconds)), "s"),
      "ingest.gate_s" -> Metric(median(fl.map(_.gate)), "s"),
      "ingest.merge_s" -> Metric(median(fl.map(_.merge)), "s"),
      "ingest.jobs" -> Metric(perFlush(_.jobs.toDouble), "count"),
      "ingest.stages" -> Metric(perFlush(_.stages.toDouble), "count"),
      "ingest.tasks" -> Metric(perFlush(_.tasks.toDouble), "count"),
      "ingest.task_cpu_s" -> Metric(perFlush(_.taskCpuNs / 1e9), "s"),
      "ingest.core_util" -> Metric(perFlush(s => s.taskRunMs / 1e3 / (s.seconds * 4)), "ratio"),
      "ingest.shuffle_read_bytes" -> Metric(perFlush(_.shuffleRead.toDouble), "bytes"),
      "ingest.shuffle_write_bytes" -> Metric(perFlush(_.shuffleWrite.toDouble), "bytes"),
      "ingest.read_bytes" -> Metric(perFlush(_.readBytes.toDouble), "bytes"),
      "ingest.write_bytes" -> Metric(perFlush(_.writeBytes.toDouble), "bytes"),
      "ingest.bootstrap_s" -> Metric(serve.map(_.bootSeconds).getOrElse(0.0), "s"))
    val gate = Seq("sketch", "probe", "score", "log_commit")
      .map(p => s"gate.${p}_s" -> Metric(phase(p), "s"))
    val state = CountingFileSystem.Names.zipWithIndex.map { case (n, i) =>
      s"state.fs_$n" -> Metric(perFlush(_.fs(i).toDouble), "count")
    } ++ Seq(
      "state.listing_free_read_ratio" -> Metric(
        if (readSpans.isEmpty) 0.0
        else readSpans.count(_.fs(CountingFileSystem.List) == 0).toDouble / readSpans.size, "ratio"),
      "state.bytes_per_input_byte" -> Metric(
        serve.map(c => c.stateBytes().toDouble / math.max(1L, c.inputBytes)).getOrElse(0.0), "ratio"))
    val read = Client.AllOps.flatMap { op =>
      val rs = reads.filter(_.op == op)
      val ss = rs.flatMap(_.span)
      def m(f: Span => Double) = median(ss.map(f))
      Seq(
        s"read.$op.p50_s" -> Metric(median(rs.map(_.seconds)), "s"),
        s"read.$op.plan_s" -> Metric(m(_.planNs / 1e9), "s"),
        s"read.$op.jobs" -> Metric(m(_.jobs.toDouble), "count"),
        s"read.$op.fs_list" -> Metric(m(_.fs(CountingFileSystem.List).toDouble), "count"),
        s"read.$op.read_bytes" -> Metric(m(_.readBytes.toDouble), "bytes"),
        s"read.$op.after_flush_s" -> Metric(median(rs.filter(_.afterFlush).map(_.seconds)), "s"))
    } :+ ("read.after_flush_mean_s" -> Metric(mean(reads.filter(_.afterFlush).map(_.seconds)), "s"))
    ingest ++ gate ++ state ++ read
  }

  private def keysPerLayer(keys: Option[Keys]): Seq[(String, Metric)] = {
    val passes = keys.toSeq.flatMap(_.passes)
    // per pass, summed over a module's keys; the median over passes
    def perPass(module: String)(f: KeyRec => Double): Double =
      median(passes.map(_.filter(_.module == module).map(f).sum))
    def spanned(f: Span => Double)(r: KeyRec): Double = r.span.map(f).getOrElse(0.0)
    val ops = Keys.Modules.map(_._1).flatMap { m =>
      Seq(
        s"ops.$m.s" -> Metric(perPass(m)(_.seconds), "s"),
        s"ops.$m.plan_s" -> Metric(perPass(m)(spanned(_.planNs / 1e9)), "s"),
        s"ops.$m.jobs" -> Metric(perPass(m)(spanned(_.jobs.toDouble)), "count"),
        s"ops.$m.shuffle_bytes" -> Metric(perPass(m)(spanned(s => (s.shuffleRead + s.shuffleWrite).toDouble)), "bytes"))
    }
    val mat = Seq(
      "materialize.build_s" -> Metric(keys.map(_.coldBuildSeconds).getOrElse(0.0), "s"),
      "materialize.builds" -> Metric(keys.map(_.coldBuilds.toDouble).getOrElse(0.0), "count"),
      "materialize.warm_build_s" -> Metric(keys.map(_.warmBuildSeconds).getOrElse(0.0), "s"))
    val spanDedup = "keys.q_span_dedup_s" -> Metric(
      median(passes.flatMap(_.filter(_.key == "q_span_dedup").map(_.seconds))), "s")
    ops ++ mat :+ spanDedup
  }

  /** A non-finite value is written as `NaN` or `Infinity`, which the
    * caller's checks reject. */
  def metricsJson(ms: Seq[(String, Metric)]): String =
    ms.map { case (n, m) =>
      val v = if (m.value.isNaN) "NaN"
        else if (m.value.isInfinite) (if (m.value > 0) "Infinity" else "-Infinity")
        else m.value.toString
      s""""$n":{"value":$v,"unit":"${m.unit}"}"""
    }.mkString("{", ",", "}")
}
