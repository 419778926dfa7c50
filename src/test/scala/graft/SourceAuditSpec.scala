package graft

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

/** Source rules no behavioral spec can pin on its own. */
class SourceAuditSpec extends AnyFunSuite {

  private def sources(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) sources(f)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    }

  /** Non-comment lines of every main source file matching `pattern`, as
    * "path:line: text". */
  private def matches(pattern: scala.util.matching.Regex): Seq[String] = {
    val root = new File("src/main/scala")
    assert(root.isDirectory, s"run from the project root (no ${root.getAbsolutePath})")
    for {
      f <- sources(root)
      (line, i) <- scala.io.Source.fromFile(f, "UTF-8").getLines().toSeq.zipWithIndex
      code = line.trim
      if !code.startsWith("//") && !code.startsWith("*") && !code.startsWith("/**")
      if pattern.findFirstIn(code).isDefined
    } yield s"${f.getPath}:${i + 1}: $code"
  }

  test("no operation mutates a session's SQL conf") {
    // A conf write on the caller's session changes how every other query
    // on that session plans, and a save/restore around it is not
    // reentrant. The one allowed write configures a session that
    // Bridge.isolatedSession has just created and that no caller holds.
    val writes = matches("""\bconf\s*\.\s*(set|unset)\s*\(|setConfString|unsetConf""".r)
      .filterNot(w => w.startsWith("src/main/scala/org/apache/spark/sql/graftbridge/Bridge.scala:") &&
        w.endsWith("s.sessionState.conf.setConfString(k, v) }"))
    assert(writes.isEmpty, writes.mkString("session conf writes:\n", "\n", ""))
  }

  test("no read merges parquet schemas") {
    // Every state root is written in one on-disk format (StateStore's
    // `_format` stamp), so each state read knows its schema; a
    // mergeSchema read opens every footer of the files it scans.
    val reads = matches("""mergeSchema""".r)
    assert(reads.isEmpty, reads.mkString("schema-merging reads:\n", "\n", ""))
  }

  test("no spec source holds an unpaired surrogate escape") {
    // sbt's forked test runner loses every later result once a report
    // holds a lone UTF-16 surrogate, and a clue quoting a string literal
    // is where one gets in. A high-surrogate escape must be followed at
    // once by a low one, and a low one preceded at once by a high one.
    // (The pattern is spelled so that this file holds no such escape.)
    val escape = ("\\\\" + "u+([0-9a-fA-F]{4})").r
    val root = new File("src/test/scala")
    assert(root.isDirectory, s"run from the project root (no ${root.getAbsolutePath})")
    val lone = for {
      f <- sources(root)
      (line, i) <- scala.io.Source.fromFile(f, "UTF-8").getLines().toSeq.zipWithIndex
      units = escape.findAllMatchIn(line).map(m =>
        (m.start, m.end, Integer.parseInt(m.group(1), 16).toChar)).toIndexedSeq
      (start, end, c) <- units
      paired =
        if (Character.isHighSurrogate(c))
          units.exists(u => u._1 == end && Character.isLowSurrogate(u._3))
        else if (Character.isLowSurrogate(c))
          units.exists(u => u._2 == start && Character.isHighSurrogate(u._3))
        else true
      if !paired
    } yield s"${f.getPath}:${i + 1}: ${line.trim}"
    assert(lone.isEmpty, lone.mkString("unpaired surrogate escapes:\n", "\n", ""))
  }

  test("only StateStore places keys in buckets and writes bucket dirs") {
    // One bucket layout: a second placement hash or bucket writer would
    // let a store's writes and its key-addressed reads disagree on where
    // a key lives. (java.util.zip.CRC32 sampling is not placement.)
    val layout = matches("""\bcrc32\(|partitionBy\("(b|cell)"\)""".r)
      .filterNot(_.startsWith("src/main/scala/graft/streaming/StateStore.scala:"))
    assert(layout.isEmpty, layout.mkString("bucket layout outside StateStore:\n", "\n", ""))
  }
}
