package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session for all suites (one JVM-wide session — Spark
  * startup dominates test wall-clock otherwise). */
object SparkSpec {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  spark.sparkContext.setLogLevel("ERROR")

  /** `x` for an assertion clue, every code point beyond the BMP and every
    * unpaired surrogate written as `<U+hex>`: sbt's forked test runner
    * loses every later result when a report holds a lone surrogate, so
    * specs whose keys go past the BMP print them through this. */
  def clue(x: Any): String = {
    val s = String.valueOf(x)
    val out = new StringBuilder
    s.codePoints().forEach { cp =>
      if (cp > 0xFFFF || Character.isSurrogate(cp.toChar)) out ++= f"<U+$cp%04X>"
      else out += cp.toChar
    }
    out.result()
  }
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.spark

  override protected def afterAll(): Unit = {
    // artifact isolation across suites sharing the session: drop this
    // suite's materialized artifacts so no suite can read another's
    graft.operators.Materialize.reset(spark)
    super.afterAll()
  }

  /** Recursive local-FS directory copy (crash-state construction). */
  protected def copyDir(src: String, dst: String): Unit = {
    val s = java.nio.file.Paths.get(src)
    java.nio.file.Files.walk(s).forEach { p =>
      val t = java.nio.file.Paths.get(dst).resolve(s.relativize(p))
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(t)
      else {
        java.nio.file.Files.createDirectories(t.getParent)
        java.nio.file.Files.copy(p, t): Unit
      }
    }
  }
}
