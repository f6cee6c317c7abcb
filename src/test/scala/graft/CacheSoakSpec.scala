package graft

import java.util.concurrent.Executors

import scala.concurrent.duration._
import scala.concurrent.{Await, ExecutionContext, Future}

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.CacheStats

/** Concurrency soak for the session-shared intermediate caches
  * (VERDICT r9 #4): a 100 TB deployment runs concurrent queries on one
  * long-lived session, but the maintained indices (postings, pair
  * graph, CC labels, BPE run, k-means run, quality-classifier weights,
  * kNN graph, bucketed/CBO catalog tables) had only ever been exercised
  * sequentially. Three racing invocations of every consumer must
  * (a) not deadlock — every SessionCache build runs Spark jobs under its
  * own entry's lock, and builds nest (cc_labels → jaccard_pairs →
  * postings), so a build that locked the whole map, or two entries that
  * waited on each other, would hang here, (b) build each shared
  * intermediate exactly ONCE (CacheStats counts a build only when
  * SessionCache actually runs one), and (c) return identical rows on
  * every thread. */
class CacheSoakSpec extends AnyFunSuite {
  private lazy val spark = GraftSpark.spark

  test("racing consumers: one build per shared cache, identical results, no deadlock") {
    // fresh cache key: the cache keys on the dataset-dir STRING, so a
    // "/." suffix reaches the same files through a key no prior suite
    // in this shared-session JVM has populated
    val d = GraftSpark.sf + "/."
    val consumers = Seq(
      "q_ngram_jaccard", // postings + jaccard_pairs
      "q_dedup_clusters", // cc_labels (via jaccard_pairs)
      "q_cluster_canonical", // cc_labels again
      "q_adamic_adar", // chain_union_pairs
      "q_bfs_distance", // chain_union_pairs again
      "q_bpe_learn", // bpe_run
      "q_bpe_encode", // bpe_run again
      "q_kmeans", // km_run
      "q_quality_classifier", // qc_train
      "q_knn_graph", // knn_graph
      "q_graph_incremental", // graph_incr_base (+ knn_graph reuse)
      "q_bucketed_join", // bucketed_tables (metastore DROP/CREATE race)
      "q_cbo_reorder") // cbo_tables (ANALYZE + newSession clones race)
    val labels = Seq("postings", "jaccard_pairs", "cc_labels",
      "chain_union_pairs", "bpe_run", "km_run", "qc_train", "knn_graph",
      "graph_incr_base", "bucketed_tables", "cbo_tables")
    val before = labels.map(l => l -> CacheStats.buildCount(l)).toMap

    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val futures = for {
        rep <- 1 to 3
        q <- consumers
      } yield Future {
        (q, rep, SparkEntry.queries(q)(spark, d).collect().map(_.toString).toSeq)
      }
      // a deadlocked build (a Spark job holding a lock that a second
      // thread's build needs) would time this out
      val results = Await.result(Future.sequence(futures), 15.minutes)

      results.groupBy(_._1).foreach { case (q, runs) =>
        assert(runs.size === 3)
        val distinct = runs.map(_._3).distinct
        assert(distinct.size === 1, s"$q returned different rows across threads")
      }
      labels.foreach { l =>
        val built = CacheStats.buildCount(l) - before(l)
        assert(built === 1L, s"cache $l built $built times under the race (want 1)")
      }
    } finally pool.shutdownNow()
  }
}
