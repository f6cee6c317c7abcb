package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every sketch byte format, and the one parse cache of the probes, live
  * in `SketchCodecs.scala`: no other main source reads or writes sketch
  * bytes or compares them to keep a parsed sketch. */
class SketchLayerGuardSpec extends AnyFunSuite {
  private val codecFile = "SketchCodecs.scala"
  private val forbidden = Seq("BloomFilter.readFrom", "CountMinSketch.readFrom", ".writeTo(",
    "newDataInputStream(", "ByteBuffer.", "Arrays.equals(")
  // topk_agg's buffer is its own heap of rows, not a sketch format
  private val allowed = Map("TopKAgg.scala" -> Set("newDataInputStream("))

  private def sources(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) sources(f)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    }

  test("no sketch bytes read, written or cached outside the codec file") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the repository root (no ${root.getAbsolutePath})")
    val (codec, scanned) = sources(root).partition(_.getName == codecFile)
    assert(codec.size == 1 && scanned.size > 10)
    val hits = for {
      f <- scanned
      // whitespace-free, so a call split over lines still matches
      text = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        .replaceAll("\\s", "")
      p <- forbidden if text.contains(p) && !allowed.getOrElse(f.getName, Set.empty)(p)
    } yield s"${f.getPath}: $p"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
