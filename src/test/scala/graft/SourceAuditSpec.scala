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
}
