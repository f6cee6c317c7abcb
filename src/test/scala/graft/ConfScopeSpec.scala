package graft

import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.StreamingQueryListener
import org.scalatest.concurrent.Eventually
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

/** A pipeline's session settings live only in the stream it starts
  * (`StreamingPipelines.runStream`) or in a child session: the caller's
  * session keeps its conf and temp views, and two pipelines with
  * different settings can run concurrently on one session. Each test
  * uses a fresh session, so a setting another suite left on the shared
  * one cannot hide a leak. */
class ConfScopeSpec extends AnyFunSuite with Eventually {
  // Tables.readEventsRaw sets it for the rest of the session, by design
  private val SessionPermanent = "spark.sql.legacy.parquet.nanosAsLong"

  private def run(s: org.apache.spark.sql.SparkSession, q: String) =
    SparkEntry.queries(q)(s, GraftSpark.sf).collect().toSeq

  test("no pipeline leaves a setting or a temp view on the caller's session") {
    val s = GraftSpark.spark.newSession()
    val before = s.conf.getAll - SessionPermanent
    Seq("q_stream_tws", "q_stream_timer_session", "q_stream_minhash_dedup",
        "q_stream_cdc_apply", "q_zorder_incremental", "q_dsv2_update").foreach { q =>
      run(s, q)
      val after = s.conf.getAll - SessionPermanent
      val changed = (before.keySet ++ after.keySet).toSeq.sorted
        .filter(k => before.get(k) != after.get(k))
        .map(k => s"$k: ${before.get(k)} -> ${after.get(k)}")
      assert(changed.isEmpty, s"$q changed the caller's conf:\n${changed.mkString("\n")}")
    }
    assert(!s.catalog.tableExists("orders_chg"), "q_dsv2_update left its temp view")
  }

  test("a RocksDB and a default-store pipeline run concurrently on one session") {
    val s = GraftSpark.spark.newSession()
    val queries = Seq("q_stream_tws", "q_stream_cms_state")
    val serial = queries.map(run(s, _))
    // memory sink name -> state-store custom metric names in its progress
    val metrics = new ConcurrentHashMap[String, Set[String]]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        e.progress.stateOperators.foreach(op =>
          metrics.merge(e.progress.name, op.customMetrics.keySet.asScala.toSet, _ ++ _))
    }
    s.streams.addListener(listener)
    val pool = Executors.newFixedThreadPool(queries.size)
    try {
      val futures = queries.map(q => pool.submit(() => run(s, q)))
      val concurrent = futures.map(_.get(10, TimeUnit.MINUTES))
      assert(concurrent === serial)
      eventually(timeout(60.seconds)) {
        assert(metrics.containsKey("stream_tws") && metrics.containsKey("stream_cms_state"))
      }
    } finally {
      pool.shutdownNow()
      s.streams.removeListener(listener)
    }
    val rocks = metrics.asScala.map { case (sink, ms) => sink -> ms.exists(_.startsWith("rocksdb")) }
    assert(rocks("stream_tws"), s"stream_tws reported no RocksDB metrics: ${metrics.get("stream_tws")}")
    assert(!rocks("stream_cms_state"),
      s"stream_cms_state ran on RocksDB: ${metrics.get("stream_cms_state")}")
  }
}
