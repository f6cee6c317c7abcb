package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.scalatest.funsuite.AnyFunSuite

/** The streaming pipelines' checkpoint I/O launches no process: Hadoop's
  * local FileContext, without libhadoop, runs `readlink` per rename and
  * `chmod` per create, and `runStream` replaces it with
  * [[graft.io.NioLocalFs]]. Launches are counted from JFR
  * `jdk.ProcessStart` events, whose stack shows who asked. */
class ForkFreeCheckpointSpec extends AnyFunSuite {
  test("q_stream_cms_state (default store) and q_stream_tws (RocksDB) checkpoint without a process launch") {
    val out = Files.createTempFile("forkfree", ".jfr")
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try {
      // a known launch, so an empty recording cannot pass
      assert(new ProcessBuilder("true").start().waitFor() === 0)
      Seq("q_stream_cms_state", "q_stream_tws").foreach { q =>
        assert(SparkEntry.queries(q)(GraftSpark.spark, GraftSpark.sf).collect().nonEmpty, q)
      }
    } finally {
      rec.stop()
      rec.dump(out)
      rec.close()
    }
    val launches = try RecordingFile.readAllEvents(out).asScala.toSeq finally Files.delete(out)
    assert(launches.exists(_.getString("command") == "true"), "the recording saw no process start")
    val fromCheckpoints = launches.filter(e => Option(e.getStackTrace).exists(
      _.getFrames.asScala.exists(_.getMethod.getType.getName.contains("CheckpointFileManager"))))
    assert(fromCheckpoints.size === 0, "process launches from checkpoint I/O: " +
      fromCheckpoints.map(_.getString("command")).groupBy(_.takeWhile(_ != ' '))
        .map { case (c, es) => s"$c ×${es.size}" }.mkString(", "))
  }
}
