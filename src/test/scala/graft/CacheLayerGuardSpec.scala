package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every maintained index goes through SessionCache: no main source
  * outside the cache layer hand-rolls a session-keyed map or counts its
  * own builds. */
class CacheLayerGuardSpec extends AnyFunSuite {
  private val cacheLayer = Set("SessionCache.scala", "CacheStats.scala", "IndexStore.scala")
  private val forbidden = Seq("ConcurrentHashMap[(SparkSession",
    "ConcurrentHashMap[SparkSession", "CacheStats.recordBuild(")

  private def sources(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) sources(f)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    }

  test("no session-keyed map or build counter outside the cache layer") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the repository root (no ${root.getAbsolutePath})")
    val scanned = sources(root).filterNot(f => cacheLayer(f.getName))
    assert(scanned.size > 10)
    val hits = for {
      f <- scanned
      // whitespace-free, so a type split over lines still matches
      text = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        .replaceAll("\\s", "")
      p <- forbidden if text.contains(p)
    } yield s"${f.getPath}: $p"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
