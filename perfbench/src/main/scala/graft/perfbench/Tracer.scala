package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the benchmark client: a request (a bootstrap, a
  * flush, a read, a key, or a pass over keys), or a phase of a flush.
  * `synthetic` spans are laid out
  * from phase times the program itself returns (the gate's phase clock);
  * they carry no attributed counts. */
final class Span(val id: Int, val name: String, val parent: Int,
                 val request: Int, val startNs: Long, val startMs: Long,
                 val synthetic: Boolean = false) {
  var endNs: Long = startNs
  var endMs: Long = startMs
  var fs0: Array[Long] = Array.emptyLongArray
  var fs: Array[Long] = Array.fill(CountingFileSystem.Names.size)(0L)
  var io0: (Long, Long) = (0L, 0L)
  var readBytes = 0L
  var writeBytes = 0L
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var planNs = 0L
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans recorded around the benchmark's calls into the program, held in
  * memory and written out when the run ends. Spark work is attributed to
  * spans after the run: a job or stage carries the `perfbench.span` local
  * property set on the client thread; work submitted from a thread whose
  * inherited property names an already-closed span falls back to the
  * innermost span open at its submission time (one client thread in a
  * closed loop makes spans strictly nested in time). Plan time comes from
  * `QueryExecution.tracker` phases, attributed by time the same way.
  * Disabled, every method just runs its body. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._
  private val SpanProp = "perfbench.span"
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  private var requests = 0

  private val jobEvs = new ConcurrentLinkedQueue[JobEv]()
  private val stageEvs = new ConcurrentLinkedQueue[StageEv]()
  private val taskEvs = new ConcurrentLinkedQueue[TaskEv]()
  private val planEvs = new ConcurrentLinkedQueue[PlanEv]()

  private def prop(p: java.util.Properties): Option[Int] =
    Option(p).flatMap(x => Option(x.getProperty(SpanProp))).map(_.toInt)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobEvs.add(JobEv(e.time, prop(e.properties), e.stageIds))
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stageEvs.add(StageEv(e.stageInfo.stageId,
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()),
        prop(e.properties)))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) taskEvs.add(TaskEv(e.stageId, m.executorRunTime,
        m.executorCpuTime, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten))
    }
  }
  private val qeListener = new QueryExecutionListener {
    private val PlanPhases = Set(QueryPlanningTracker.ANALYSIS,
      QueryPlanningTracker.OPTIMIZATION, QueryPlanningTracker.PLANNING)
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases.filter { case (k, _) => PlanPhases(k) }
      if (ph.nonEmpty) planEvs.add(PlanEv(ph.values.map(_.startTimeMs).min,
        ph.values.map(p => p.endTimeMs - p.startTimeMs).sum * 1000000L))
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }
  private object QueryPlanningTracker {
    val ANALYSIS = org.apache.spark.sql.catalyst.QueryPlanningTracker.ANALYSIS
    val OPTIMIZATION = org.apache.spark.sql.catalyst.QueryPlanningTracker.OPTIMIZATION
    val PLANNING = org.apache.spark.sql.catalyst.QueryPlanningTracker.PLANNING
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  private def open(name: String): Span = {
    requests += 1
    val s = new Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1),
      requests, System.nanoTime(), System.currentTimeMillis())
    s.fs0 = CountingFileSystem.snapshot()
    s.io0 = ProcIo.read()
    spans += s
    stack = s :: stack
    spark.sparkContext.setLocalProperty(SpanProp, s.id.toString)
    s
  }

  private def close(s: Span): Unit = {
    s.endNs = System.nanoTime()
    s.endMs = System.currentTimeMillis()
    val fs1 = CountingFileSystem.snapshot()
    s.fs = Array.tabulate(fs1.length)(i => fs1(i) - s.fs0(i))
    val (r1, w1) = ProcIo.read()
    s.readBytes = r1 - s.io0._1
    s.writeBytes = w1 - s.io0._2
    stack = stack.tail
    spark.sparkContext.setLocalProperty(SpanProp,
      stack.headOption.map(_.id.toString).orNull)
  }

  /** A request: a span with a fresh request id, whose parent is the
    * request open around it (a pass around its keys), if any. */
  def request[T](name: String)(body: => T): (T, Option[Span]) =
    if (!enabled) (body, None)
    else {
      val s = open(name)
      try (body, Some(s)) finally close(s)
    }

  /** Children of `parent` laid out back to back from its start, from
    * phase durations the program reported. */
  def synthetic(parent: Span, phases: Seq[(String, Double)]): Seq[Span] =
    if (!enabled) Nil
    else {
      var at = parent.startNs
      phases.map { case (name, sec) =>
        val s = new Span(spans.size, name, parent.id, parent.request, at,
          parent.startMs + (at - parent.startNs) / 1000000L, synthetic = true)
        at += (sec * 1e9).toLong
        s.endNs = at
        s.endMs = parent.startMs + (at - parent.startNs) / 1000000L
        spans += s
        s
      }
    }

  /** Drains the listener bus and attributes every recorded job, stage,
    * task and plan phase to its span. Call once, after the last request. */
  def attribute(): Unit = if (enabled) {
    PerfbenchBus.drain(spark.sparkContext)
    val real = spans.filterNot(_.synthetic).toIndexedSeq
    def byTime(t: Long): Option[Span] =
      real.filter(s => s.startMs <= t && t <= s.endMs).sortBy(-_.startNs).headOption
    def owner(t: Long, p: Option[Int]): Option[Span] =
      p.filter(i => i >= 0 && i < spans.size).map(spans(_))
        .filter(s => !s.synthetic && s.startMs <= t && t <= s.endMs + 1)
        .orElse(byTime(t))
    val stageOwner = mutable.Map[Int, Span]()
    jobEvs.asScala.foreach { j =>
      owner(j.time, j.span).foreach { s =>
        s.jobs += 1
        j.stages.foreach(st => stageOwner.getOrElseUpdate(st, s))
      }
    }
    stageEvs.asScala.foreach { st =>
      owner(st.time, st.span).orElse(stageOwner.get(st.stage)).foreach { s =>
        stageOwner(st.stage) = s
        s.stages += 1
      }
    }
    taskEvs.asScala.foreach { t =>
      stageOwner.get(t.stage).foreach { s =>
        s.tasks += 1; s.taskRunMs += t.runMs; s.taskCpuNs += t.cpuNs
        s.shuffleRead += t.shufR; s.shuffleWrite += t.shufW
      }
    }
    planEvs.asScala.foreach(p => byTime(p.time).foreach(_.planNs += p.ns))
    // counts recorded on a child also belong to its ancestors
    real.sortBy(-_.id).foreach { s =>
      if (s.parent >= 0) {
        val p = spans(s.parent)
        p.jobs += s.jobs; p.stages += s.stages; p.tasks += s.tasks
        p.taskRunMs += s.taskRunMs; p.taskCpuNs += s.taskCpuNs
        p.shuffleRead += s.shuffleRead; p.shuffleWrite += s.shuffleWrite
        p.planNs += s.planNs
      }
    }
  }

  /** A span's duration minus the part its children cover. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id)
    s.seconds - kids.map(_.seconds).sum
  }

  /** Every span, one JSON object per line. */
  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      val fs = CountingFileSystem.Names.zip(s.fs)
        .map { case (n, v) => s""""fs_$n":$v""" }.mkString(",")
      f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"request":${s.request},""" +
        f""""start_ns":${s.startNs},"end_ns":${s.endNs},"seconds":${s.seconds}%.6f,""" +
        f""""self_seconds":${selfSeconds(s)}%.6f,"synthetic":${s.synthetic},""" +
        s""""jobs":${s.jobs},"stages":${s.stages},"tasks":${s.tasks},""" +
        s""""task_run_ms":${s.taskRunMs},"task_cpu_ns":${s.taskCpuNs},""" +
        s""""shuffle_read_bytes":${s.shuffleRead},"shuffle_write_bytes":${s.shuffleWrite},""" +
        s""""plan_ns":${s.planNs},"read_bytes":${s.readBytes},"write_bytes":${s.writeBytes},$fs}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  private final case class JobEv(time: Long, span: Option[Int], stages: Seq[Int])
  private final case class StageEv(stage: Int, time: Long, span: Option[Int])
  private final case class TaskEv(stage: Int, runMs: Long, cpuNs: Long,
                                  shufR: Long, shufW: Long)
  private final case class PlanEv(time: Long, ns: Long)
}

/** Bytes this process read and wrote through system calls, from
  * `/proc/self/io` (`rchar`, `wchar`): task input metrics see only parquet
  * footers on this build, so scan volume is taken at the process. */
object ProcIo {
  def read(): (Long, Long) = try {
    var r = 0L; var w = 0L
    java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/self/io"))
      .forEach { l =>
        if (l.startsWith("rchar:")) r = l.substring(6).trim.toLong
        else if (l.startsWith("wchar:")) w = l.substring(6).trim.toLong
      }
    (r, w)
  } catch { case _: java.io.IOException => (0L, 0L) }
}
