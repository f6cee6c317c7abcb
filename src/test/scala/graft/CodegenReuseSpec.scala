package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** A second run of identical work compiles no generated class. Spark's
  * codegen cache is keyed on (classloader, code); stream clones and
  * child sessions run without artifact isolation, so their tasks reuse
  * the classes of every earlier run instead of recompiling them in a
  * fresh per-session executor classloader. */
class CodegenReuseSpec extends AnyFunSuite {
  private lazy val spark = GraftSpark.spark

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  Seq("q_stream_bloom", "q_stream_cms_state", "q_stream_tws", "q_range_join_auto", "q_spj_join")
    .foreach { name =>
      test(s"$name: a second run compiles nothing and returns the same rows") {
        def run() = SparkEntry.queries(name)(spark, GraftSpark.sf).collect().toSeq
        val first = run()
        val before = compiles
        val second = run()
        assert(compiles - before === 0L, "generated classes compiled on the second run")
        assert(second === first)
      }
    }
}
