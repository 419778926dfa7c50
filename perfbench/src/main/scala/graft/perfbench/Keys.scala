package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.operators._

final case class KeyRec(key: String, module: String, seconds: Double,
                        span: Option[Span])

/** The `keys_warm` client: it runs a fixed set of `SparkEntry.queries` keys
  * over the sf0.01 fixture tables, each through the `noop` sink, one after
  * another on one thread. Set-up is the cold pass (every Materialize build
  * the keys need); the run is timed warm passes. */
final class Keys(spark: SparkSession, tracer: Tracer, data: String,
                 val keys: Seq[String]) {
  import Keys._

  private val dir = s"$data/sf0.01"
  val passes = mutable.ArrayBuffer[Seq[KeyRec]]()
  val failures = mutable.ArrayBuffer[String]()
  var attempted = 0
  var coldSeconds = 0.0
  /** Materialize build seconds and artifacts built by the cold pass. */
  var coldBuildSeconds = 0.0
  var coldBuilds = 0
  /** Materialize build seconds during the timed passes (must be 0). */
  var warmBuildSeconds = 0.0

  keys.foreach(k => require(SparkEntry.queries.contains(k), s"unknown key $k"))

  private def fail(what: String): Unit = {
    failures += what
    System.err.println(s"perfbench: check failed: $what")
  }

  /** One key through the noop sink, timed; None if it threw. */
  private def runKey(k: String): Option[KeyRec] = {
    attempted += 1
    try {
      val t0 = System.nanoTime()
      val (_, span) = tracer.request(s"key.$k") {
        SparkEntry.queries(k)(spark, dir).write.format("noop").mode("overwrite").save()
      }
      Some(KeyRec(k, ModuleOf(k), (System.nanoTime() - t0) / 1e9, span))
    } catch {
      case e: Exception => fail(s"$k threw ${e.getClass.getName}: ${e.getMessage}"); None
    }
  }

  private def pass(): Seq[KeyRec] = keys.flatMap(runKey)

  /** The cold pass. */
  def setup(): Unit = {
    val b0 = Materialize.buildSeconds
    val n0 = Materialize.buildBreakdown
    val t0 = System.nanoTime()
    tracer.request("cold")(pass())
    coldSeconds = (System.nanoTime() - t0) / 1e9
    coldBuildSeconds = Materialize.buildSeconds - b0
    coldBuilds = Materialize.buildBreakdown.count { case (n, s) => s > n0.getOrElse(n, 0.0) }
  }

  /** One timed warm pass. */
  def timedPass(): Unit = {
    val b0 = Materialize.buildSeconds
    passes += pass()
    warmBuildSeconds += Materialize.buildSeconds - b0
  }

  /** Untimed: no key may come back empty. */
  def check(): Unit = keys.foreach { k =>
    attempted += 1
    try {
      if (SparkEntry.queries(k)(spark, dir).limit(1).collect().isEmpty) fail(s"$k returned no rows")
    } catch {
      case e: Exception => fail(s"$k threw ${e.getClass.getName}: ${e.getMessage}")
    }
  }
}

object Keys {
  /** The modules whose `queries` maps compose `SparkEntry.queries`. */
  val Modules: Seq[(String, Iterable[String])] = Seq(
    "Changelog" -> Changelog.queries.keys, "Search" -> Search.queries.keys,
    "Facets" -> Facets.queries.keys, "Fetch" -> Fetch.queries.keys,
    "TextAnalysis" -> TextAnalysis.queries.keys, "Dedup" -> Dedup.queries.keys,
    "Vectors" -> Vectors.queries.keys, "Multimodal" -> Multimodal.queries.keys,
    "Index" -> Index.queries.keys, "Temporal" -> Temporal.queries.keys,
    "Percolate" -> Percolate.queries.keys, "Pii" -> Pii.queries.keys,
    "Multifield" -> Multifield.queries.keys, "Hybrid" -> Hybrid.queries.keys)

  val ModuleOf: Map[String, String] =
    Modules.flatMap { case (m, ks) => ks.map(_ -> m) }.toMap
}
