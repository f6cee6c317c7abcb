package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every streaming query starts, and every child session is minted, in
  * `StreamingPipelines` (`runStream`, `childSession`), which turn
  * artifact isolation off. A builder that starts its own stream or calls
  * `newSession()` would recompile its generated classes on every run
  * (CodegenReuseSpec). `runStream` is also the one place a setting is
  * scoped on a caller's session: no other code unsets a key, and a
  * dynamic partition overwrite is a per-write option, not a session
  * setting (ConfScopeSpec). No code sets a key on the JVM-wide
  * `hadoopConfiguration`, and the local FileContext class
  * (`fs.AbstractFileSystem.file.impl`) is scoped in `runStream` only. */
class SessionGuardSpec extends AnyFunSuite {
  private val helperFile = "StreamingPipelines.scala"

  private def sources(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) sources(f)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    }

  // whitespace-free, so a call split over lines still matches
  private def text(f: java.io.File): String =
    new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8").replaceAll("\\s", "")

  private def count(s: String, p: String): Int =
    s.split(java.util.regex.Pattern.quote(p), -1).length - 1

  private def split: (java.io.File, Seq[java.io.File]) = {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the repository root (no ${root.getAbsolutePath})")
    val (helper, rest) = sources(root).partition(_.getName == helperFile)
    assert(helper.size == 1 && rest.size > 10)
    (helper.head, rest)
  }

  private def hits(files: Seq[java.io.File], patterns: Seq[String]): Seq[String] =
    for { f <- files; p <- patterns if text(f).contains(p) } yield s"${f.getPath}: $p"

  test("no stream start or newSession() outside the session helpers") {
    val (helper, rest) = split
    val found = hits(rest, Seq(".newSession()", ".writeStream"))
    assert(found.isEmpty, found.mkString("\n"))
    // inside the helper file, one call site each: runStream and childSession
    val h = text(helper)
    assert(count(h, ".start()") === 1, s"$helperFile: a stream started outside runStream")
    assert(count(h, ".newSession()") === 1, s"$helperFile: newSession() outside childSession")
  }

  test("no session setting is unset outside runStream's restore") {
    val (helper, rest) = split
    val found = hits(rest, Seq(".conf.unset(", "sql.sources.partitionOverwriteMode"))
    assert(found.isEmpty, found.mkString("\n"))
    assert(count(text(helper), ".conf.unset(") === 1,
      s"$helperFile: a setting unset outside runStream")
  }

  test("no Hadoop setting on the shared SparkContext, no FileContext class outside runStream") {
    val (helper, rest) = split
    // set, setBoolean, setInt, ...: every setter of the JVM-wide conf
    val found = hits(helper +: rest, Seq("hadoopConfiguration.set")) ++
      hits(rest, Seq("fs.AbstractFileSystem."))
    assert(found.isEmpty, found.mkString("\n"))
  }
}
