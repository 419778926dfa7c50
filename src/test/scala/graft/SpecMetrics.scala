package graft

/** Byte-level IO measurement for specs that pin WHAT a read touches, not
  * just which files it opens.
  *
  * The obvious counters don't work for local parquet in this Spark build:
  * `taskMetrics.inputMetrics.bytesRead` and the Hadoop scheme-global
  * storage statistics both see only footer traffic (data pages go through
  * a read path that never lands on those counters), and the scan node has
  * no per-projection byte metric (`filesSize` is the total file size
  * whatever the projection). `/proc/self/io`'s `rchar` counts every
  * read() syscall the JVM makes — page-cache hits included — and the
  * forked test JVM hosts both the driver and the local[4] executors, so a
  * delta around one action measures that action's real read volume (plus
  * a small, stable baseline of footer/metadata reads that subtracts out
  * when two scans over the same files are compared). Suites run
  * sequentially in the forked JVM, so deltas are attributable. */
object SpecMetrics {

  private def rchar(): Long = {
    val it = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get("/proc/self/io")).iterator()
    while (it.hasNext) {
      val line = it.next()
      if (line.startsWith("rchar:")) return line.split("\\s+")(1).toLong
    }
    sys.error("/proc/self/io has no rchar line")
  }

  /** Bytes read (read() syscalls, JVM-wide) while `f` runs.
    *
    * USAGE CONSTRAINT: rchar counts every read syscall — sockets (the
    * local executor RPC), /proc, classloading — which adds a fixed
    * ~100s-of-KiB baseline per Spark action. A pin built on this must
    * therefore compare two STRUCTURALLY IDENTICAL actions (same plan
    * shape, same files) whose only difference is the bytes under test,
    * and assert on the DELTA with a margin well above the baseline
    * jitter — e.g. column A's scan vs column B's scan of one table
    * (IvfPqSpec), or the same search on a with-payload vs without-payload
    * root (IncrementalPostingsSpec). Comparing two DIFFERENT operators'
    * totals drowns in the baseline. */
  def fsBytesRead(f: => Unit): Long = {
    val before = rchar()
    f
    rchar() - before
  }

  /** Number of Spark JOBS submitted while `f` runs — pins "this operator
    * pays N actions", catching a silently reintroduced pre-flight
    * validation job or per-call collect. */
  def jobsRun(spark: org.apache.spark.sql.SparkSession)(f: => Unit): Int =
    jobProperties(spark)(f).size

  /** The local properties (job group, description, …) of every Spark job
    * submitted while `f` runs, from whichever thread. Listener events are
    * posted asynchronously; the bus is drained before returning. */
  def jobProperties(spark: org.apache.spark.sql.SparkSession)
                   (f: => Unit): Seq[java.util.Properties] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[java.util.Properties]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        seen.add(Option(j.properties).getOrElse(new java.util.Properties)): Unit
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      f
      // the bus posts asynchronously (and its drain API is private):
      // poll until the count is stable across two consecutive reads
      var prev = -1
      var stable = 0
      var waited = 0
      while (stable < 2 && waited < 100) {
        Thread.sleep(50)
        if (seen.size == prev) stable += 1 else { stable = 0; prev = seen.size }
        waited += 1
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    seen.toArray(Array.empty[java.util.Properties]).toSeq
  }
}
