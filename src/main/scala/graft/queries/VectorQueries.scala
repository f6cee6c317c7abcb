package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions._

/**
 * Similarity search over embeddings (SURVEY.md §2j).
 *
 * Brute-force cosine top-k is the exact baseline (✦, DuckDB-checkable
 * with identical double arithmetic). The approximate variants (IVF
 * multiprobe, random-hyperplane LSH, int8 quantization) are the scale
 * paths; each is gate-checked through a recall-guarantee row — the
 * recall@10 against the exact top-10 is computed IN-PLAN and thresholded,
 * so the driver hash-checks a deterministic boolean against a
 * literal-TRUE oracle (the same technique as `hll_ok`), while the
 * 10-row ranked outputs stay covered by FunctionsSpec.
 */
object VectorQueries {

  type Q = (SparkSession, String) => DataFrame

  /** The fixed query vector: embedding of vec_id 0 (1-row broadcast). */
  /** NDCG rank discounts 1/log2(r+1), r = 1..10 — evaluated ONCE here
    * and embedded as the SAME double literals in both the plan and the
    * oracle SQL, so no engine's libm log enters the comparison. */
  private[graft] val ndcgDiscounts: Seq[Double] =
    (1 to 10).map(r => 1.0 / (math.log(r + 1.0) / math.log(2.0)))

  private def queryVec(s: SparkSession, d: String) =
    Tables.embeddings(s, d).filter(col("vec_id") === 0)
      .select(col("embedding").as("qv"))

  // --- Planted embedding cluster (VERDICT r9 #1) ----------------------
  // The synthetic embeddings are near-uniform on the sphere (max
  // background cosine to the query ≈ 0.37 at every shipped scale), so
  // ANN recall floors pinned on the raw corpus were honest but
  // near-vacuous (1–3/10): there was no cluster for an index to find.
  // The planted batch applies the r8 planted-dedup recipe to the vector
  // lane: 12 deterministic ε-perturbations of the query vector
  // (per-component noise from the same seeded-xxhash formula as the LSH
  // planes — reproducible on any cluster, no stored model), under their
  // OWN coarse label so IVF-family indexes see a real geometric cell.
  // At amp 0.02 the planted cosines sit ≈ 0.9957 ± spread, far above
  // the 0.37 background ceiling, so the exact top-10 and any
  // all-planted approximate top-10 are both drawn from the 12 plants —
  // and then |approx ∩ exact| ≥ 10 + 10 − 12 = 8 by pigeonhole. A
  // recall floor of 8 therefore certifies the index actually FOUND the
  // cluster, not that the gate is unfalsifiable.
  private[graft] val plantN = 12
  private[graft] val plantAmp = 0.02
  private[graft] def plantNoise(i: Int): Array[Double] =
    (0 until 64).map(j => plantAmp * planeComponent(9000 + i, j)).toArray

  /** Embedding corpus ∪ planted cluster: ids far above any real vec_id,
    * label 999 (a fresh IVF cell), float-cast so plants flow through the
    * same arrays as the scan. */
  private[graft] def plantedEmb(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val spec = (1 to plantN)
      .map(i => (9200000L + i, plantNoise(i))).toDF("vec_id", "noise")
    val plants = spec
      .crossJoin(broadcast(queryVec(s, d)))
      .select(col("vec_id"),
        zip_with(col("qv"), col("noise"), (a, b) => a.cast("double") + b)
          .cast("array<float>").as("embedding"),
        lit(999).as("label"))
    Tables.embeddings(s, d).unionByName(plants)
  }

  /** Corpus selector for the ANN family: the recall-gated paths run
    * over the planted corpus; hash-exact queries stay on the raw scan. */
  private def annCorpus(s: SparkSession, d: String, planted: Boolean): DataFrame =
    if (planted) plantedEmb(s, d) else Tables.embeddings(s, d)

  /**
   * Graph-traversal ANN (round 9): the SPANN/DiskANN-family shape —
   * a kNN GRAPH built from LSH-blocked candidate pairs (per-node top-4
   * by exact cosine, symmetrized), entered at a handful of coarse-cell
   * seeds, then BEAM-SEARCHED: T rounds of frontier-edge expansion with
   * exact-cosine re-ranking, tracking the visited set. Per round the
   * work is |frontier| × degree edge lookups (an equi-join on the
   * source id) — the probe reads a VANISHING fraction of the corpus,
   * which is the entire graph-ANN economics at 100 TB (the graph build
   * is the indexing cost, amortized like IVF training). The entry is
   * deliberately SMALLER than the answer set (4 seeds for a top-10),
   * so the recall gate can only pass if edge traversal actually
   * discovers the rest of the planted cluster — GraphAnnSpec pins that
   * the entry alone stays under the floor.
   */
  /** One kNN-graph build per (session, dataset) — the graph is the
    * INDEX (built once, amortized over every probe, the kmRunShared
    * lifetime); the per-query cost is the beam search only. */
  private def knnGraphShared(s: SparkSession, d: String): (DataFrame, DataFrame, Long) =
    SessionCache.get("knn_graph", s, d, EmbTables) {
      val emb = plantedEmb(s, d).localCheckpoint()
      // edges + the 1-row overflow count persist as one two-piece index
      // (IndexStore, r11): a second session reloads the graph instead
      // of re-pairing the corpus; emb itself is a cheap table read
      val Seq(edges, meta) = IndexStore.persistedMulti(s, d,
          Seq("knn_graph_edges", "knn_graph_meta"), EmbTables) {
        val (out4, overflowN) = buildKnnOut4(emb, knnGraphP(emb.count()))
        import s.implicits._
        Seq(symmetrized(out4), Seq(overflowN).toDF("overflow_buckets"))
      }
      (emb, edges, meta.collect()(0).getLong(0))
    }

  private val EmbTables = Seq("embeddings.parquet")

  /** LSH hash width targeting mean bucket occupancy 64. */
  private[graft] def knnGraphP(n: Long): Int =
    math.max(4, math.ceil(math.log(n / 64.0) / math.log(2)).toInt)

  /** Directed top-4 out-edges of the kNN graph over `emb` under hash
    * width `p` — candidate pairs within LSH buckets → exact cosine →
    * row_number top-4 per source (rounded-score desc + dst tie-break:
    * deterministic under any partitioning). Enumeration is CAPPED
    * (Blocking.LshCap = 4× the designed mean occupancy 64): an
    * adversarial duplicate-embedding mega-bucket stays ≤ cap²/2 pairs
    * per bucket, with dropped buckets counted into the returned
    * overflow count (rides q_knn_graph's accounting column). Shared by
    * the session-cached full build and the q_graph_incremental fold. */
  private[graft] def buildKnnOut4(emb: DataFrame, p: Int): (DataFrame, Long) = {
    val buckets = hyperplaneBuckets(emb, L = 12, P = p)
    val (capped, overflowDf) = Blocking.cappedBucketPairs(
      buckets, Seq("t", "bucket"), "vec_id", Blocking.LshCap)
    val overflowN = overflowDf.collect()(0).getLong(0)
    // Score each UNDIRECTED pair once, then emit both directions (round
    // 17): cosine is exactly symmetric in IEEE arithmetic (a_i·b_i ≡
    // b_i·a_i term by term, same ascending-index sum; the norms swap
    // roles under the same multiplication), so scoring the swapped
    // direction repeated every join and every 64-dim cosine — half the
    // event-log-heaviest stage of both graph builds (guide §1.2 "don't
    // compute things you throw away").
    val ea = emb.select(col("vec_id").as("id_a"), col("embedding").as("emb_a"))
    val eb = emb.select(col("vec_id").as("id_b"), col("embedding").as("emb_b"))
    val pairScored = capped.join(ea, "id_a").join(eb, "id_b")
      .select(col("id_a"), col("id_b"),
        round(cosine_sim(col("emb_a"), col("emb_b")), 4).as("cs"))
    // both directions from ONE generator over the scored pair (a union
    // of two projections would re-execute the join+cosine lineage per
    // branch — there is no exchange below it for reuse to grab)
    val directed = pairScored.select(explode(array(
        struct(col("id_a").as("src"), col("id_b").as("dst")),
        struct(col("id_b").as("src"), col("id_a").as("dst")))).as("e"),
        col("cs"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"), col("cs"))
    (top4Ranked(directed), overflowN)
  }

  /** Exact-cosine rank of directed candidates → top-4 per src. */
  private def top4From(cand: DataFrame, emb: DataFrame): DataFrame = {
    val ea = emb.select(col("vec_id").as("src"), col("embedding").as("emb_a"))
    val eb = emb.select(col("vec_id").as("dst"), col("embedding").as("emb_b"))
    top4Ranked(cand.join(ea, "src").join(eb, "dst")
      .select(col("src"), col("dst"),
        round(cosine_sim(col("emb_a"), col("emb_b")), 4).as("cs")))
  }

  /** Top-4 per src of a scored directed relation via the rank window's
    * ENSURE_REQUIREMENTS exchange — deliberately NOT an explicit
    * repartition (round 17, measured): a user-specified repartition by
    * src satisfies the window's clustering, but it also removes the
    * planner's PARTIAL WindowGroupLimit below the exchange, so every
    * candidate row (instead of ≤4 per src per map task) crossed the
    * shuffle and the final per-partition sort — taskTime 47 s → 166 s on
    * the incremental-fold profile before this was reverted. */
  private def top4Ranked(scored: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("src").orderBy(col("cs").desc, col("dst"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 4).select("src", "dst")
  }

  /** kNN graphs are directed; NSW reachability wants both directions. */
  private def symmetrized(out4: DataFrame): DataFrame = out4
    .unionByName(out4.select(col("dst").as("src"), col("src").as("dst")))
    .distinct()

  /** Overflowing-LSH-bucket count of the cached graph build, for the
    * q_knn_graph accounting column. */
  private[graft] def knnGraphOverflow(s: SparkSession, d: String): Long =
    knnGraphShared(s, d)._3

  /** Incremental kNN-graph maintenance (VERDICT r9 #5) — the one index
    * in the ANN ladder that lacked a delta path. A delta batch (organic
    * vec_id % 10 == 7; plants stay in the base) folds into the
    * base-built graph WITHOUT re-pairing the base corpus:
    * 1. hash params FROZEN at base-build time (P from the base count —
    *    the q_stream_ivf_ingest frozen-quantizer discipline, so
    *    incremental and rebuild compare the same index family);
    * 2. delta buckets equi-join the full bucket table → delta-node
    *    candidates AND the reverse (touched-base-node, delta) pairs —
    *    cost Θ(|delta| × occupancy × L), never Θ(|base|²);
    * 3. touched nodes MERGE instead of re-enumerating: their rebuild
    *    top-4 provably equals top-4(base top-4 ∪ delta collisions) —
    *    new candidates only push old ones DOWN, so a base candidate
    *    outside the base top-4 can never enter the rebuild top-4. Per
    *    touched node that is O(4 + its collisions) work; untouched
    *    nodes keep their base out-edges verbatim (no delta shares any
    *    of their buckets, so their rebuild candidate set is identical).
    * Returns (emb, incremental edges, n_base, n_delta, n_touched, P);
    * the fold lineage hangs off checkpointed inputs so its cost can be
    * measured separately from the base build. */
  /** Session-cached BASE graph for the incremental lane: the existing
    * index a production delta folds into (same maintained-intermediate
    * lifetime as knnGraphShared — a deployment does not rebuild its
    * base graph per ingest batch). Holds (emb, base, delta, P,
    * base out-edges, base bucket table), all checkpointed. */
  private def graphIncrBaseShared(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame, Int, DataFrame, DataFrame) =
    SessionCache.get("graph_incr_base", s, d, EmbTables) {
      val emb = plantedEmb(s, d).localCheckpoint()
      val isDelta = col("vec_id") % 10 === 7 && col("vec_id") < 9200000L
      val base = emb.filter(!isDelta).localCheckpoint()
      val delta = emb.filter(isDelta).localCheckpoint()
      val p = knnGraphP(base.count()) // frozen at base-build time
      // the two expensive fold inputs (base out-edges + base bucket
      // table) persist as one index; emb/base/delta are cheap filters
      val Seq(baseOut4, bBase) = IndexStore.persistedMulti(s, d,
          Seq("graph_incr_base_out4", "graph_incr_base_buckets"), EmbTables) {
        Seq(buildKnnOut4(base, p)._1, hyperplaneBuckets(base, L = 12, P = p))
      }
      (emb, base, delta, p, baseOut4, bBase)
    }

  private[graft] def graphIncremental(s: SparkSession, d: String)
      : (DataFrame, DataFrame, Long, Long, Long, Int, Long) = {
    import org.apache.spark.sql.expressions.Window
    val (emb, base, delta, p, baseOut4, bBase) = graphIncrBaseShared(s, d)
    val bDelta = hyperplaneBuckets(delta, L = 12, P = p).localCheckpoint()
    val bFull = bBase.unionByName(bDelta)
    // delta-collision enumeration under the SAME LshCap semantics as
    // the capped rebuild (round 11, ADVICE r10): rank the members of
    // every delta-TOUCHED bucket (the semi-join keeps the fold
    // Θ(|delta|·occ·L) — untouched base buckets are never ranked) and
    // enumerate only pairs among the cap lowest vec_ids — exactly the
    // pair set the capped rebuild would propose for these buckets, so
    // a mega-bucket arriving in the delta can neither blow up the fold
    // nor diverge the incr-vs-rebuild equality gate. Overflowing
    // touched buckets are counted and surfaced on the verdict row.
    val deltaKeys = bDelta.select("t", "bucket").distinct()
    val touchedBuckets = bFull
      .join(deltaKeys, Seq("t", "bucket"), "left_semi")
      .select("t", "bucket", "vec_id").distinct()
      .withColumn("rk", row_number().over(
        Window.partitionBy("t", "bucket").orderBy("vec_id")))
      .localCheckpoint()
    val foldOverflow = touchedBuckets
      .filter(col("rk") === Blocking.LshCap + 1).count()
    val kept = touchedBuckets.filter(col("rk") <= Blocking.LshCap)
    val keptD = kept.join(delta.select("vec_id"), Seq("vec_id"), "left_semi")
    val collide = keptD.select(col("t"), col("bucket"), col("vec_id").as("dv"))
      .join(kept.select(col("t"), col("bucket"), col("vec_id").as("ov")),
        Seq("t", "bucket"))
      .filter(col("dv") =!= col("ov"))
      .select("dv", "ov").distinct().localCheckpoint()
    val touched = collide.select(col("ov").as("vec_id")).distinct()
      .join(base.select("vec_id"), Seq("vec_id"), "left_semi")
      .localCheckpoint()
    val deltaCand = collide.select(col("dv").as("src"), col("ov").as("dst"))
    val touchedMergeCand = baseOut4
      .join(touched.select(col("vec_id").as("src")), Seq("src"), "left_semi")
      .unionByName(collide.select(col("ov").as("src"), col("dv").as("dst")))
    val recomputed = top4From(
      deltaCand.unionByName(touchedMergeCand).distinct(), emb)
    val untouched = baseOut4.join(
      touched.select(col("vec_id").as("src")), Seq("src"), "left_anti")
    val edgesIncr = symmetrized(untouched.unionByName(recomputed))
    (emb, edgesIncr, base.count(), delta.count(), touched.count(), p,
      foldOverflow)
  }

  private[graft] def graphTop10(s: SparkSession, d: String,
      rounds: Int = 3): DataFrame = {
    val (emb, edges, _) = knnGraphShared(s, d)
    graphBeam(s, d, emb, edges, rounds)
  }

  /** Raw-corpus variant for recall diagnostics (AnnRecallProbe, round
    * 12): same beam search over a graph built from the UNplanted
    * corpus — measures what the index finds in organic geometry
    * (meaningful on the clustered GenClustered set; near-vacuous on
    * the clusterless shipped corpus, which is why the GATES ride the
    * planted cluster). Uncached: a diagnostic, not a contract query. */
  private[graft] def graphTop10Raw(s: SparkSession, d: String,
      rounds: Int = 3): DataFrame = {
    val emb = Tables.embeddings(s, d).localCheckpoint()
    val (out4, _) = buildKnnOut4(emb, knnGraphP(emb.count()))
    graphBeam(s, d, emb, symmetrized(out4).localCheckpoint(), rounds)
  }

  private def graphBeam(s: SparkSession, d: String, emb: DataFrame,
      edges: DataFrame, rounds: Int): DataFrame = {
    // entry: the 4 lowest-id members of the query's best coarse cell —
    // fewer than k, so traversal must do the rest
    val cells = ivfpqCells(emb)
    val bestCell = cells.crossJoin(broadcast(queryVec(s, d)))
      .select(col("cell"), cosine_sim(col("centroid"), col("qv")).as("csim"))
      .orderBy(col("csim").desc, col("cell")).limit(1)
      .select(col("cell").as("best_cell"))
    var visited = emb.join(broadcast(bestCell), col("label") === col("best_cell"))
      .orderBy("vec_id").limit(4).select(col("vec_id")).localCheckpoint()
    var frontier = visited
    for (_ <- 1 to rounds) {
      val expanded = frontier.join(edges, frontier("vec_id") === edges("src"))
        .select(col("dst").as("vec_id")).distinct()
      val fresh = expanded.join(visited, Seq("vec_id"), "left_anti")
        .localCheckpoint()
      visited = visited.unionByName(fresh).localCheckpoint()
      // beam: keep the 8 query-nearest of the new candidates as the
      // next frontier (greedy best-first, batched per round)
      frontier = fresh.join(emb, "vec_id")
        .crossJoin(broadcast(queryVec(s, d)))
        .select(col("vec_id"), cosine_sim(col("embedding"), col("qv")).as("cs"))
        .orderBy(col("cs").desc, col("vec_id")).limit(8)
        .select("vec_id").localCheckpoint()
    }
    visited.filter(col("vec_id") =!= 0).join(emb, "vec_id")
      .crossJoin(broadcast(queryVec(s, d)))
      .select(col("vec_id"),
        round(cosine_sim(col("embedding"), col("qv")), 4).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(10)
  }

  /** Pinned one notch under the measured deterministic batch recall of
    * q_knn_join_lsh (calibration: 15 possible hits —
    * 5 queries × top-3; measured 11 at sf0.001 and 14 at sf0.01; the
    * xxhash planes are fixed, so the hit totals are reproducible on any
    * cluster). */
  private val recallJoinFloor = 10

  /** Exact cosine top-10 (the recall yardstick for the ANN family),
    * over the raw or planted corpus to match the approximate side. */
  private[graft] def bruteTop10(s: SparkSession, d: String,
      planted: Boolean = false): DataFrame = {
    val emb = annCorpus(s, d, planted).filter(col("vec_id") =!= 0)
    emb.crossJoin(broadcast(queryVec(s, d)))
      .select(col("vec_id"), cosine_sim(col("embedding"), col("qv")).as("cs"))
      .orderBy(col("cs").desc, col("vec_id"))
      .limit(10).select("vec_id")
  }

  /** Wrap an approximate top-10 as a recall-guarantee row:
    * |approx ∩ exact| ≥ floor. Both sides are ≤10-row relations, so the
    * check is a broadcast join — the verification cost is the brute-force
    * scan, which at gate scale is the yardstick anyway. The floor is
    * emitted as `min_hits` so the gate value is part of the contract. */
  private def recallFlag(approx: DataFrame, s: SparkSession, d: String,
      floor: Int, method: String, planted: Boolean = false): DataFrame =
    approx.select(col("vec_id")).join(bruteTop10(s, d, planted), "vec_id")
      .agg((count(lit(1)) >= floor).as("recall_ok"))
      .select(lit(method).as("method"), lit(10).as("k"),
        lit(floor).as("min_hits"), col("recall_ok"))

  /** Deterministic hyperplane component: the same value the Column
    * formula `pmod(xxhash64(plane, pos), 1e6)/5e5 − 1` yields, evaluated
    * eagerly at plan-build time (Catalyst XxHash64 on int literals) — no
    * stored model, reproducible on any cluster, and the plane table is
    * built driver-side instead of re-derived per row. */
  private def planeComponent(plane: Int, pos: Int): Double = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    val h = XxHash64(Seq(Literal(plane), Literal(pos)), 42L)
      .eval(null).asInstanceOf[Long]
    Math.floorMod(h, 1000000L) / 500000.0 - 1.0
  }

  /**
   * Per-(vector, table) hyperplane-LSH bucket: P sign bits packed into a
   * long, for each of L tables. Each projection is one codegen'd
   * [[vec_dot]] of the embedding against a broadcast plane row — one
   * scan pass over (vector × plane) rows, no (vector × dim × plane)
   * posexplode (which hash-aggregated 16M product rows: measured 2.6× on
   * the L=16×P=8 near-dup blocking at sf0.1, 4.6 s → ~1.8 s end-to-end).
   *
   * P is THE scale dial: occupied-bucket count grows with n up to 2^P,
   * so a deployment sizes P ≈ log2(n_vectors / target_bucket_size) and L
   * for the recall target (P[captured] ≈ 1-(1-m^P)^L for per-bit
   * agreement m = 1 - θ/π). The embedding dim is fixed at 64 in this
   * corpus (TESTDATA.md); a deployment passes its own.
   */
  private[graft] def hyperplaneBuckets(emb: DataFrame, L: Int, P: Int,
      dim: Int = 64): DataFrame = {
    // planes as a tiny BROADCAST relation (L·P rows of dim doubles), not
    // inlined literals: 128 vec_dot literal-arrays in one expression blew
    // past whole-stage codegen's method limits and fell back interpreted
    // (7 s in the candidate join); a crossJoin row per (vector, plane)
    // keeps the generated code one small vec_dot loop. Still one scan
    // pass and no 16M-row posexplode (that formulation hash-aggregated
    // every (vec, dim, plane) product row).
    val spark = emb.sparkSession
    import spark.implicits._
    val planes = (0 until L * P).map { p =>
      (p / P, p % P, (0 until dim).map(i => planeComponent(p, i)).toArray)
    }.toDF("t", "bit", "plane")
    emb.crossJoin(broadcast(planes))
      .select(col("vec_id"), col("t"),
        when(vec_dot(col("embedding"), col("plane")) > 0,
          expr("shiftleft(1L, bit)")).otherwise(lit(0L)).as("bitv"))
      .groupBy("vec_id", "t").agg(sum("bitv").as("bucket"))
  }

  /** q_embed_neardup's two stages, split out so PlanShapeSpec can pin
    * the verify stage's shape (the accounted output materializes it —
    * the final plan is an ExistingRDD scan plus the two ≤1-row
    * accounting joins).
    *
    * P is DATA-ADAPTIVE (VERDICT r12 #1): the r12 fixed P = 8 saturated
    * organically at 100× — every one of the 2^8×16 buckets exceeded
    * BandCap (skew ledger: 4096/4096 overflow, max occupancy 2638), the
    * cap's lowest-id rule dropped every planted pair, and the query
    * returned only the sentinel. Loud and bounded, but not the plan
    * you'd ship. The q_knn_join_lsh rule shape, sized for THIS site's
    * cap: P = max(8, ⌈log2(n/8)⌉) targets mean occupancy ≈ 8, keeping
    * BandCap = 64 at its designed 8× headroom over the mean (a first
    * cut targeting mean 64 = the cap itself still clipped 913 buckets
    * at 10× — hyperplane sign-buckets are far from uniform, so the cap
    * needs real headroom, this round's ledger). Floor 8 keeps every
    * gate scale (n ≤ 502 → rule value ≤ 6) on the calibrated buckets,
    * the oracle-pinned overflow 0, and the pinned hashes unchanged.
    * Identical-vector plants share every bucket at any P. Growing P
    * narrows per-table recall for BORDERLINE pairs (cos ≈ 0.9: miss =
    * (1−0.856^P)^16 ≈ 25% at the 100×-implied P = 16) while true
    * near-dups (cos ≥ 0.99: miss ≈ 3e-5 at P = 16) stay captured — L
    * is the recall dial a deployment raises alongside P. */
  private[graft] def embedNeardupP(n: Long): Int =
    math.max(8, math.ceil(math.log(n / 8.0) / math.log(2)).toInt)

  private[graft] def embedNeardupStages(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val base = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val planted = Tables.embeddings(s, d).filter(col("vec_id") === 1)
      .select(explode(array(lit(9000001L), lit(9000002L))).as("vec_id"),
        col("embedding"))
    val emb = base.unionAll(planted)
    val n = emb.count() // one bounded agg — the documented LSH scale dial
    val buckets = hyperplaneBuckets(emb, L = 16, P = embedNeardupP(n))
    // within-bucket pair generation through the shared CAPPED
    // enumerator (round 10): bounded per-bucket work under adversarial
    // skew (a duplicate-embedding mega-bucket). Cap 64 ≈ the adaptive
    // target mean occupancy (8× the measured gate-scale occupancy);
    // BucketProbe measured overflow 0 at every gate scale. This row
    // carries its OWN overflow accounting (round 11, ADVICE r10): the
    // cap keeps the LOWEST-id bucket members and the planted near-dup
    // ids are the highest, so an overflowing bucket would drop exactly
    // the planted pairs — the oracle-pinned column makes that loud.
    val (cand, overflow) = Blocking.cappedBucketPairs(
      buckets, Seq("t", "bucket"), "vec_id", Blocking.BandCap)
    val ea = emb.toDF("id_a", "emb_a")
    val eb = emb.toDF("id_b", "emb_b")
    val verified = cand.join(ea, "id_a").join(eb, "id_b")
      .select(col("id_a"), col("id_b"),
        round(cosine_sim(col("emb_a"), col("emb_b")), 4).as("cos_sim"))
      .filter(col("cos_sim") >= 0.9)
    (verified, overflow)
  }

  /** IVF-style ANN: 1) per-label centroids via posexplode + avg, 2) the
    * nProbe centroids nearest the query, 3) brute-force inside those
    * cells only (multiprobe — the standard recall dial: nProbe=1 misses
    * neighbors just across a cell boundary). */
  private[graft] def ivfTop10(s: SparkSession, d: String,
      planted: Boolean = false): DataFrame = {
    val nProbe = 2
    val emb = annCorpus(s, d, planted)
    val centroids = emb
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy("label", "pos").agg(avg("v").as("c"))
      .groupBy("label")
      .agg(array_sort(collect_list(struct(col("pos"), col("c")))).as("pc"))
      .select(col("label"), transform(col("pc"), x => x.getField("c")).as("centroid"))
    val best = centroids.crossJoin(broadcast(queryVec(s, d)))
      .select(col("label"), cosine_sim(col("centroid"), col("qv")).as("csim"))
      .orderBy(col("csim").desc, col("label")).limit(nProbe)
      .select(col("label").as("best_label"))
    emb.filter(col("vec_id") =!= 0)
      .join(broadcast(best), col("label") === col("best_label"))
      .crossJoin(broadcast(queryVec(s, d)))
      .select(col("vec_id"),
        round(cosine_sim(col("embedding"), col("qv")), 4).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(10)
  }

  /** Random-hyperplane LSH ANN (multi-table, L=12 × P=4 — tuned for the
    * demo corpus where true neighbors are only moderately similar).
    * Candidates = vectors sharing the query's bucket in ANY table, then
    * exact cosine on candidates only. At 100 TB: the bucket join is a
    * shuffle equi-join on (table, bucket); nothing is all-pairs. */
  private[graft] def lshTop10(s: SparkSession, d: String,
      planted: Boolean = false): DataFrame = {
    val emb = annCorpus(s, d, planted)
    val buckets = hyperplaneBuckets(emb, L = 12, P = 4)
    val qb = buckets.filter(col("vec_id") === 0)
      .select(col("t").as("qt"), col("bucket").as("qbucket"))
    val candidates = buckets.filter(col("vec_id") =!= 0)
      .join(broadcast(qb),
        col("t") === col("qt") && col("bucket") === col("qbucket"))
      .select("vec_id").distinct()
    emb.filter(col("vec_id") =!= 0)
      .join(candidates, "vec_id")
      .crossJoin(broadcast(queryVec(s, d)))
      .select(col("vec_id"),
        round(cosine_sim(col("embedding"), col("qv")), 4).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(10)
  }

  /** int8-quantized brute force: the memory-bandwidth variant. Codes are
    * 4× smaller than float32 (BinaryType, 1 B/dim), the probe loop is a
    * codegen'd integer dot product, and with a shared scale the quantized
    * cosine ranks without dequantizing. */
  private[graft] def quantizedTop10(s: SparkSession, d: String,
      rerank: Int = 64): DataFrame = {
    val scale = lit(200.0)
    val emb = Tables.embeddings(s, d).filter(col("vec_id") =!= 0)
      .select(col("vec_id"), vec_quantize_i8(col("embedding"), scale).as("code"))
    val qv = Tables.embeddings(s, d).filter(col("vec_id") === 0)
      .select(vec_quantize_i8(col("embedding"), scale).as("qcode"))
    // int8 shortlist → exact-cosine rerank (round 13, the pqTop10
    // two-stage shape): the i8 scan ranks on 64 bytes/vector; the exact
    // read is ≤`rerank` vectors — int8 rounding cost near-ties ~1 hit
    // at 500-member clusters before the rerank (AnnRecallProbe r13).
    // Depth stays FIXED at 64 while the PQ family went adaptive (r14):
    // int8 scores keep real intra-cluster resolution (the shortlist is
    // a full-width scan, not an ADC table), measured 10/10 at depth 64
    // on 500-member clusters — there is no tie set to cover.
    val shortlist = emb.crossJoin(broadcast(qv))
      .select(col("vec_id"),
        round(cosine_sim_i8(col("code"), col("qcode")), 4).as("qcos"))
      .orderBy(col("qcos").desc, col("vec_id"))
      .limit(rerank)
    Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      .join(broadcast(shortlist.select("vec_id")), "vec_id")
      .crossJoin(broadcast(queryVec(s, d)))
      .select(col("vec_id"),
        round(cosine_sim(col("embedding"), col("qv")), 4).as("cos_exact"))
      .orderBy(col("cos_exact").desc, col("vec_id"))
      .limit(10)
  }

  // --- Product Quantization (PQ) helpers -------------------------------
  // M=8 subspaces × 8 dims over the 64-d embeddings, K=16 codes per
  // subspace: vectors compress to 8 half-byte-addressable codes (+1 float
  // norm for cosine) — the classical ANN memory path at corpus scale.

  /** One row per (vector, subspace): the 8-dim subvector as DOUBLEs
    * (single Generate pass — no per-subspace corpus rescan). */
  private[graft] def pqSubs(s: SparkSession, d: String,
      planted: Boolean = false): DataFrame =
    annCorpus(s, d, planted).select(col("vec_id"),
        explode(expr(s"transform(sequence(0, ${SubDim - 1}), s -> struct(s AS sub, " +
          s"transform(slice(embedding, s*$SubDim+1, $SubDim), x -> CAST(x AS DOUBLE)) AS sv))")).as("e"))
      .select(col("vec_id"), col("e.sub").as("sub"), col("e.sv").as("sv"))

  /** Squared L2 between subvector `sv` and centroid `cv`, all through the
    * codegen'd dot product: |a−c|² = a·a + c·c − 2 a·c. */
  private def pqD2 = vec_dot(col("sv"), col("sv")) +
    vec_dot(col("cv"), col("cv")) - lit(2.0) * vec_dot(col("sv"), col("cv"))

  // Assignment argmin everywhere is [[graft.functions.pq_argmin]]
  // (round 16) — one codegen'd loop per subvector row against the
  // grouped broadcast codebook. Through round 15 it was
  // `min_by(cid, pqD2)` over a `subs JOIN broadcast(cb)` blowup: n×M×K
  // joined rows hash-aggregated back to n×M — at K=256 a 256× row
  // amplification on the hottest path of every PQ query (and the
  // dominant encode cost at 100 TB). The expression computes the SAME
  // d2 in the same double-arithmetic order ((sv·sv + cv·cv) − 2·sv·cv,
  // ascending-index [[VecDot]] loops) and keeps the first strict
  // minimum in cid order; min_by gave NO tie guarantee, so on the
  // asserted-tie-free corpora (PqSpec k=16 seed + refined, Pq8Spec
  // k=256 seed + every Lloyd step, IvfPqSpec per-cell) the outputs are
  // identical rows — proven by the oracle gate + recall floors.
  // Determinism still rests on tie-FREENESS, exactly as before.

  /** Grouped broadcast form of a codebook: one row per `key` with the
    * codewords as a cid-sorted struct array — the [[pq_argmin]] input
    * (bounded: ≤ K structs per key). */
  private def cbGrouped(cb: DataFrame, key: Seq[String]): DataFrame =
    cb.groupBy(key.map(col): _*)
      .agg(array_sort(collect_list(struct(col("cid"), col("cv")))).as("cbs"))

  /** Assignment pass: broadcast the grouped codebook, argmin per row —
    * n×M rows in, n×M rows out (keeps every `subs` column incl. sv, so
    * Lloyd re-estimation no longer joins back), no aggregate, no
    * exchange. */
  private def pqAssign(subs: DataFrame, cb: DataFrame,
      key: Seq[String]): DataFrame =
    subs.join(broadcast(cbGrouped(cb, key)), key)
      .select(subs.columns.map(col).toIndexedSeq
        :+ pq_argmin(col("sv"), col("cbs")).as("cid"): _*)

  /** Decimal-exact Lloyd re-estimation in ONE hash agg (round 16): the
    * posexplode → per-(key, cid, pos) agg → sorted collect_list chain
    * ran two shuffles plus a per-group sort over n×M×8 rows; the
    * subvector dim is fixed (8), so the per-dim decimal sums are 8
    * aggregate columns and the codeword array is rebuilt positionally.
    * Same decimal sums (order-free by exactness), same count, same
    * division — bit-identical doubles. */
  /** Subvector width shared by every PQ lane ([[pqSubs]],
    * `ivfpqResidualSubs`, the ADC query-subvector split) and by
    * [[lloydMeans]]' fixed-width aggregate columns (ADVICE r16: a width
    * divergence would make element_at past the array end return null and
    * silently skip dims — deriving both from one constant plus the
    * in-plan width guard below makes a mismatch fail loudly instead). */
  private val SubDim = 8

  private def lloydMeans(asg: DataFrame, key: Seq[String]): DataFrame = {
    val dims = 1 to SubDim
    val aggs = dims.map(i =>
      sum(element_at(col("sv"), i).cast("decimal(20,10)")).as(s"s_$i")) :+
      count(lit(1)).as("n_")
    asg
      // loud width guard: assert_true raises on the first row whose
      // subvector width diverges from SubDim (null on success keeps the
      // row) — without it element_at past the end returns null and the
      // sums silently skip dims
      .filter(assert_true(size(col("sv")) === lit(SubDim)).isNull)
      .groupBy((key :+ "cid").map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .select((key :+ "cid").map(col) :+
        array(dims.map(i => col(s"s_$i").cast("double") / col("n_")): _*)
          .as("cv"): _*)
  }

  /** Per-subspace K=16 codebook: seeded from the subvectors of vec_ids
    * 1..16, refined with ONE decimal-exact Lloyd step (the kmRun
    * determinism design in array form: assignment = broadcast join +
    * min_by hash agg — tie-free on this corpus, asserted in PqSpec —
    * re-estimation = DECIMAL per-dim sums, array rebuilt via the sorted
    * collect_list trick). 128 tiny rows; at 100 TB the training input is
    * a sample, the codebook stays the same broadcast relation. */
  private[graft] def pqCodebook(subs: DataFrame): DataFrame = {
    val seed = subs.filter(col("vec_id").between(1, 16))
      .select(col("sub"), (col("vec_id") - 1).cast("int").as("cid"), col("sv").as("cv"))
    lloydMeans(pqAssign(subs, seed, Seq("sub")), Seq("sub"))
  }

  /** PQ approximate top-10: ADC-cosine SHORTLIST (top-64) reranked with
    * the exact cosine — the production IVFADC/"re-ranking with codes"
    * shape (Jégou+ 2011 §V) and the fix for the clustered-recall gap
    * (VERDICT r12 #2): 4-bit ADC codes recover the right cluster but
    * cannot resolve near-tie ordering among cos≈0.89 cluster members
    * (raw 1-2/10 on the clustered corpus despite in_cluster 10/10).
    * The rerank reads ≤depth exact vectors (the shortlist must EXCEED
    * the ADC near-tie set: a tight cluster's members round to equal
    * 4-bit ADC scores, so a 32-deep shortlist over a 50-member cluster
    * kept only ~6/10 of the exact set — measured round 13 on the
    * clustered corpus). Depth is DATA-ADAPTIVE: the OBSERVED boundary
    * tie-set count since round 15 (clamp(64, 512, observed ties) — see
    * [[rerankClamp]] and the pqAdcProbe doc)
    * — the same two-stage economics
    * q_knn_binary/q_knn_matryoshka already run, so the per-vector probe
    * state stays codes + norm and the exact reads are O(shortlist), not
    * O(n). Split out so PqSpec can measure the raw recall. */
  /** Train-once-serve-many codebooks (VERDICT r15 #5): trained PQ /
    * IVF-PQ codebooks persist through [[IndexStore]] under the opt-in
    * index root — the production shape at 100 TB, where re-training
    * the quantizer on every query run is the cost killer (the kNN
    * graph and incremental base already persist this way). The label
    * keys every training parameter (family, k, Lloyd steps, planted-
    * corpus flag); the IndexStore fingerprint keys the source table,
    * so a regenerated corpus invalidates instead of serving a stale
    * quantizer (CrossSessionIndexSpec pins it). Within a session the
    * trained codebook is a [[SessionCache]] entry like every other
    * shared index. */
  private def persistedCodebook(s: SparkSession, d: String, label: String)
      (build: => DataFrame): DataFrame =
    SessionCache.get(label, s, d, EmbTables) {
      IndexStore.persisted(s, d, label, EmbTables)(build)
    }

  private[graft] def pqTop10(s: SparkSession, d: String,
      planted: Boolean = false, rerank: Int = RerankAdaptive): DataFrame = {
    // subvectors feed training, encoding, and the ADC table — checkpoint
    // once or each consumer re-runs the Generate pass (n×8 tiny rows)
    val subs = pqSubs(s, d, planted).localCheckpoint()
    val cb = persistedCodebook(s, d,
      if (planted) "pq_cb16_p" else "pq_cb16")(pqCodebook(subs))
    pqAdcProbe(s, d, subs, cb, planted, rerank)
  }

  /** Sentinel: resolve the rerank depth from the data (VERDICT r13 #2 —
    * "retire the last hand-tuned ANN constant"). Callers pass a positive
    * depth to pin it (the AnnRecallProbe matrix rows do). */
  private[graft] val RerankAdaptive = 0

  /** Probe seam (AnnRecallProbe --tieset evidence): the last adaptive
    * depth resolution on this thread — flat-PQ (error-calibrated count)
    * or IVFPQ (probed-cell occupancy) — as (clamped depth, raw observed
    * ambiguity count). The ambiguity count ≫ the 512 cap IS the
    * mega-tie-set regime marker — the probe pins that the estimator
    * DETECTS the regime it cannot serve (see the tieset floors doc).
    * Written only by the adaptive branches, read only by probes; engine
    * logic never consults it. */
  private[graft] val lastObservedAmbiguity =
    new ThreadLocal[(Int, Long)] { override def initialValue() = (0, 0L) }

  /** The depth clamp shared by every adaptive path: floor 64 (the
    * calibrated contract depth — covers every gate corpus exactly, so
    * gate-scale plans and the driver-side differentials are unchanged),
    * cap 512 (the measured saturation depth of the §rerank-depth matrix:
    * every method reads 10/10 at 512 on 500-member σ=0.045 clusters).
    * The cap is also the COST bound: the rerank reads ≤512 exact vectors
    * no matter what the estimate says, so adaptivity can never turn the
    * two-stage probe back into a corpus scan. */
  private[graft] def rerankClamp(tieSetEstimate: Long): Int =
    math.max(64L, math.min(512L, tieSetEstimate)).toInt

  /** Shared encode → ADC shortlist → exact-rerank probe body: identical
    * for the 4-bit (k=16) and 8-bit (k=256) codebooks — only the
    * broadcast `cb` relation differs.
    *
    * Adaptive depth (flat-PQ rule, round 15): the shortlist must cover
    * the ADC near-tie set. Round 14 ESTIMATED it with an n/8 envelope
    * ("assume ≥8-way clustering") because flat PQ has no coarse cells to
    * read occupancy from — but the ambiguity IS observable: calibrate an
    * empirical ADC error bound from the depth-64 boundary sample's exact
    * cosines and count the candidates whose ADC score could displace the
    * sample's 10th-best champion within that bound, clamped to [64,
    * 512]. Both directions the envelope got wrong are fixed: large
    * corpora of well-separated candidates stop burning the 512 cap
    * (n/8 = 512 from 4096 vectors up, ambiguous or not), and a sharp
    * codebook expands by its measured noise instead of collapsing to the
    * floor (the rounding-ulp tie count shipped 3/10 on the 3-step-Lloyd
    * 8-bit row before this calibration — see the in-body comment).
    * Corpora whose observed ambiguity exceeds the 512 cost cap (the
    * AnnRecallProbe --tieset corpus: 10k-member clusters, ambiguity
    * ≈ cluster size) are DETECTED — the probe pins the detection — but
    * cannot be served at the cap by ANY selection rule reading 512 exact
    * vectors (measured: 1-4/10 for every PQ family member including
    * residual ivfpq8; the order-statistic gaps shrink with cluster size
    * while ADC noise stays constant, so the information simply is not in
    * the codes). That regime's production answers are structural —
    * finer quantization or tighter clustering — not a deeper dial. */
  private def pqAdcProbe(s: SparkSession, d: String, subs: DataFrame,
      cb: DataFrame, planted: Boolean, rerank: Int): DataFrame = {
    val codes = pqAssign(subs, cb, Seq("sub")).select("vec_id", "sub", "cid")
    val dtab = subs.filter(col("vec_id") === 0)
      .join(broadcast(cb), "sub")
      .select(col("sub"), col("cid"), vec_dot(col("sv"), col("cv")).as("qdot"))
    val norms = annCorpus(s, d, planted)
      .select(col("vec_id"), vec_dot(col("embedding"), col("embedding")).as("n2"))
    val qn = norms.filter(col("vec_id") === 0).select(col("n2").as("qn2"))
    val scoredRaw = codes.filter(col("vec_id") =!= 0)
      .join(broadcast(dtab), Seq("sub", "cid"))
      .groupBy("vec_id").agg(sum("qdot").as("adot"))
      .join(norms, "vec_id").crossJoin(broadcast(qn))
      .select(col("vec_id"),
        // rounded before ranking: the 8-term adot sum is order-free
        // only to the ulp; rounding + the id tie-break pin the shortlist
        round(col("adot") / sqrt(col("n2") * col("qn2")), 4).as("cos_adc"))
    // Adaptive depth (flat-PQ rule, VERDICT r14 #7): OBSERVED ambiguity,
    // not the r14 n/8 envelope — and calibrated against the ADC's own
    // measured ERROR, not the score-rounding ulp. A pure boundary-tie
    // count (candidates whose rounded score ties rank 64) looked right
    // but under-measures exactly when the codebook improves: the 3-step-
    // Lloyd 8-bit codebook spreads cluster scores past 4 decimals while
    // its estimation error still misorders them, so the tie count read
    // ~64 and recall collapsed to 3/10 on 500-member clusters (measured
    // here before shipping — the rounding ulp is NOT the ambiguity
    // radius). The shipped rule derives the radius from data the probe
    // already touches: take the depth-64 ADC shortlist (the 64 exact
    // reads any rerank pays anyway), compute each candidate's exact
    // cosine, and let eps = max |cos_exact − cos_adc| over that sample —
    // an empirical error bound for THIS codebook on THIS corpus. An
    // outside candidate can only displace the sample's 10th-best exact
    // champion if its true cosine beats it, and cos_exact ≤ cos_adc +
    // eps, so covering every candidate with cos_adc ≥ champion − eps
    // covers every possible displacer up to the empirical bound. Depth =
    // clamp(64, 512, that count): a huge corpus of well-separated
    // candidates keeps depth ≈ 64 (n/8 burned the cap on unambiguous
    // candidates), a saturated-ADC mega-cluster takes the cap, and a
    // sharp codebook expands by its true noise, not its rounding. Cost:
    // one linear checkpoint of the scored relation (the state the
    // shortlist sort reads anyway), 64 bounded exact reads, two 1-row
    // aggregates; total exact reads stay ≤ the 512 cap at any corpus
    // size. Floors re-measured GREEN on all three clustered gates (50/
    // 500/10k-member) after this change; pinned-depth callers (the
    // AnnRecallProbe fixed-depth sentinel rows) skip all of it.
    val (depth, scored) = if (rerank > 0) (rerank, scoredRaw) else {
      val ck = scoredRaw.localCheckpoint()
      val top64 = ck.orderBy(col("cos_adc").desc, col("vec_id")).limit(64)
      val sample = annCorpus(s, d, planted)
        .select(col("vec_id"), col("embedding"))
        .join(broadcast(top64), "vec_id")
        .crossJoin(broadcast(queryVec(s, d)))
        .select(col("cos_adc"),
          cosine_sim(col("embedding"), col("qv")).as("cos_exact"))
      val r = sample.agg(
        max(abs(col("cos_exact") - col("cos_adc"))).as("eps"),
        sort_array(collect_list(col("cos_exact")), asc = false).as("ex")).head
      if (r.isNullAt(0)) (64, ck)
      else {
        // the observed max-|error| is a SAMPLE max over the 64 boundary
        // candidates — heavy-tailed ADC error outside that sample can
        // exceed it (ADVICE r15). Pad by 25% plus one score-rounding
        // ulp (cos_adc is rounded to 4 decimals, so 1e-4 is the floor
        // the quantization alone justifies): padding only ever WIDENS
        // depth (recall can't regress, cost stays ≤ the 512-read cap),
        // and the AnnRecallProbe floors remain the measured backstop.
        val eps = r.getDouble(0) * 1.25 + 1e-4
        val ex = r.getSeq[Double](1)
        val champion = ex(math.min(9, ex.size - 1))
        val ties = ck.filter(col("cos_adc") >= champion - eps).count()
        lastObservedAmbiguity.set((rerankClamp(ties), ties))
        (rerankClamp(ties), ck)
      }
    }
    val shortlist = scored
      .orderBy(col("cos_adc").desc, col("vec_id"))
      .limit(depth)
    // stage 2: exact-cosine rerank of the shortlist (broadcast at any
    // corpus size; the only exact-vector reads the probe does). The
    // depth is THE recall dial when ADC codes saturate: it must cover
    // the ADC near-tie set (AnnRecallProbe's _r512 rows measure the
    // curve — 4-bit codes have ~no resolution INSIDE a σ=0.045
    // cluster, so a 500-member cluster needs depth ≈ cluster size, or
    // 8-bit codes; 64 covers every shipped gate corpus).
    annCorpus(s, d, planted).select(col("vec_id"), col("embedding"))
      .join(broadcast(shortlist.select("vec_id")), "vec_id")
      .crossJoin(broadcast(queryVec(s, d)))
      .select(col("vec_id"),
        round(cosine_sim(col("embedding"), col("qv")), 4).as("cos_exact"))
      .orderBy(col("cos_exact").desc, col("vec_id"))
      .limit(10)
  }

  /** PQ gate floor over the PLANTED corpus: 8 = the pigeonhole bound
    * for an all-planted top-10 (see plantedEmb). Raw-corpus recall
    * (bounded at 2 by the clusterless synthetic data — the worst case
    * for a 16-entry codebook) stays measured in PqSpec. */
  private val pqFloor = 8

  /** (vec_id, cid) seed-id relation of the k-codebook: the ≤`k` smallest
    * non-query ids under the (xxhash64, vec_id) order. Shared by
    * [[pqCodebookK]] and Pq8Spec's tie-free assertion so the test can
    * never drift off the shipped seed construction. */
  private[graft] def pqSeedIds(subs: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ord = Seq(xxhash64(lit("pq8seed"), col("vec_id")), col("vec_id"))
    subs.filter(col("vec_id") =!= 0).select("vec_id").distinct()
      .orderBy(ord: _*).limit(k)
      .withColumn("cid",
        (row_number().over(Window.orderBy(ord: _*)) - 1).cast("int"))
  }

  /** Per-subspace K≤`k` codebook over a deterministic pseudo-random seed
    * sample: seed ids = the `k` smallest non-query ids under the
    * (xxhash64, vec_id) order — an id-distribution-INDEPENDENT sample
    * (the q_corpus_shuffle technique), so a cluster-ordered id layout
    * (GenClustered writes cluster 0 first) cannot starve late clusters
    * of codes the way a lowest-id seed would. Refinement is `steps`
    * decimal-exact Lloyd iterations (the [[pqCodebook]] recipe);
    * assignment is the hash-aggregated min_by (tie-freeness asserted in
    * Pq8Spec for the seed AND every refined step 1..3 — each Lloyd round
    * argmins against the previous round's codebook, so every
    * intermediate codebook needs the guarantee, not just the final one).
    * The cid-rank window runs over the ≤`k`-row seed relation only (the
    * documented bounded-window class, ≤256 ≤ 1024); k×8 rows broadcast
    * at any corpus size — at 100 TB the training input is a sample and
    * k stays the literature's 256. */
  private[graft] def pqCodebookK(subs: DataFrame, k: Int,
      steps: Int = 1): DataFrame = {
    var cb = subs.join(broadcast(pqSeedIds(subs, k)), "vec_id")
      .select(col("sub"), col("cid"), col("sv").as("cv"))
    // `steps` Lloyd iterations (production trains a sampled k-means to
    // near-convergence; the gate query keeps 1 — AnnRecallProbe's _s3
    // row measures what extra steps buy). Checkpoint per step or step r
    // re-executes rounds 1..r-1 per consumer (the iterative-query rule).
    for (_ <- 1 to steps) {
      cb = lloydMeans(pqAssign(subs, cb, Seq("sub")), Seq("sub"))
        .localCheckpoint()
    }
    cb
  }

  /** 8-BIT PQ approximate top-10 (q_knn_pq8): the k=256 codebook of the
    * IVFADC literature (Jégou+ 2011 use k*=256 throughout). What the
    * extra bits buy, MEASURED (BASELINE §rerank-depth, 500-member
    * σ=0.045 clusters): ~5× tighter reconstruction MSE and a
    * LEFT-SHIFTED recall-vs-depth curve — 7/10 vs 3/10 at depth 128,
    * 9/10 vs 4/10 at 256, i.e. ~2–4× shallower rerank for equal recall
    * once the shortlist partially covers the ADC near-tie set. What
    * they canNOT do: rescue a shortlist far below the tie-set size
    * (depth 64 stays 3/10 for BOTH bit-widths, and a near-converged
    * 3-step-Lloyd codebook stays 3/10 too — the intra-cluster
    * quantization noise floor is capacity-limited, D ∝ σ²·k^(−2/8), so
    * halving it costs 16× codes while the top-rank cosine gaps shrink
    * with cluster size). Depth remains THE recall dial; 8-bit makes
    * each unit of depth go further. K binds at min(256, n−1) BY
    * CONSTRUCTION (pqSeedIds' limit — no corpus-count job), so tiny
    * corpora stay trainable; at any real scale K is the fixed 256.
    * Probe body = the same two-stage [[pqAdcProbe]]: per-vector state
    * is 8 codes (one byte each) + the stored norm, the ADC table is
    * ≤2048 broadcast rows, exact reads stay ≤`rerank`. */
  private[graft] def pq8Top10(s: SparkSession, d: String,
      planted: Boolean = false, rerank: Int = RerankAdaptive,
      steps: Int = 1): DataFrame = {
    val subs = pqSubs(s, d, planted).localCheckpoint()
    // k = 256 unconditionally: pqSeedIds' limit(k) binds at the corpus
    // size by construction (fewer than k non-query ids → every id
    // seeds), so no corpus-count job is needed — the same no-count rule
    // ivfpqCodebookK documents. pqCodebookK checkpoints its last Lloyd
    // iteration, so no call-site checkpoint either.
    val cb = persistedCodebook(s, d,
      s"pq_cb256_s$steps${if (planted) "_p" else ""}")(
      pqCodebookK(subs, 256, steps))
    pqAdcProbe(s, d, subs, cb, planted, rerank)
  }

  // --- IVF-PQ (IVFADC composition — Jégou/Douze/Schmid, TPAMI 2011) ----
  // Coarse cells × per-cell PQ codebooks over RESIDUALS × nProbe-bounded
  // ADC probe: the production 100 TB ANN index shape. Per-vector probe
  // state = 8 codes + 1 stored norm; candidates are bounded to the
  // nProbe probed cells (a partition-prunable equi-join when the code
  // table is laid out by cell); every training/encode stage is a
  // broadcast-bounded join or hash agg. nProbe is the recall dial the
  // flat-PQ row lacks — raising it scans more cells, linearly.

  private val ivfpqNProbe = 2

  /** Per-cell (label-prototype) coarse centroids with DECIMAL-exact
    * per-dim means. Unlike ivfTop10's rank-only centroids, these feed
    * residual arithmetic: distributed-sum LSB drift would leak into
    * every downstream code assignment and ADC score, so the sums get
    * the kmRun treatment. At 100 TB the coarse quantizer is a sampled
    * k-means; the cell relation stays this same bounded broadcast. */
  // NOTE (round 16): a 64-agg-column single-shuffle form (the lloydMeans
  // rewrite at embedding width) was tried and MEASURED SLOWER (0.63 →
  // 0.99 s warm noop at sf0.1): 65 aggregate columns exceeds the
  // whole-stage-codegen field limit, so the agg runs interpreted and
  // burns ~20 CPU-s across the scan tasks. The posexplode chain stays —
  // it is codegen'd end to end; the fixed-width fusion only pays at the
  // M=8 subvector width (see [[lloydMeans]]).
  private[graft] def ivfpqCells(emb: DataFrame): DataFrame =
    emb.select(col("label").as("cell"),
        posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy("cell", "pos")
      .agg((sum(col("v").cast("double").cast("decimal(20,10)")).cast("double")
        / count(lit(1))).as("c"),
        // every vector contributes one row per pos, so the (cell, pos)
        // row count IS the cell occupancy — carried through for the
        // adaptive rerank depth (VERDICT r13 #2), free in this agg
        count(lit(1)).as("occ"))
      .groupBy("cell")
      .agg(array_sort(collect_list(struct(col("pos"), col("c")))).as("pc"),
        max("occ").as("occ"))
      .select(col("cell"), transform(col("pc"), x => x.getField("c")).as("centroid"),
        col("occ"))

  /** (vec_id, cell, sub, sv): per-vector RESIDUAL subvectors — the
    * vector minus its cell centroid, split M=8 ways in one Generate
    * pass. Residuals are what make per-cell codebooks pay: they cluster
    * around 0 regardless of where the cell sits, so 16 codes cover them
    * far tighter than they cover raw positions. */
  private[graft] def ivfpqResidualSubs(emb: DataFrame, cells: DataFrame): DataFrame =
    emb.join(broadcast(cells), col("label") === col("cell"))
      .select(col("vec_id"), col("cell"),
        zip_with(col("embedding"), col("centroid"),
          (a, b) => a.cast("double") - b).as("resid"))
      .select(col("vec_id"), col("cell"),
        explode(expr(s"transform(sequence(0, ${SubDim - 1}), s -> struct(s AS sub, " +
          s"slice(resid, s*$SubDim+1, $SubDim) AS sv))")).as("e"))
      .select(col("vec_id"), col("cell"), col("e.sub").as("sub"), col("e.sv").as("sv"))

  /** Per-(cell, sub) K≤16 codebook over residuals: seeded from the
    * cell's 16 lowest-id members, refined with one decimal-exact Lloyd
    * step (the pqCodebook recipe, keyed by cell). Bounded: n_cells × 8
    * × 16 rows — a broadcast relation at any corpus size.
    *
    * KNOWN query-dependence (ADVICE r13, accepted): the lowest-id seed
    * INCLUDES vec_id 0 (the ANN family's fixed query vector), so this
    * trained index is not query-independent the way [[ivfpqCodebookK]]
    * is (which filters vec_id 0 from its seed sample). Fixing it here
    * would shift every codeword of cell 0 and re-rank the q_knn_ivfpq
    * contract output — a contract bump deferred until the 4-bit row has
    * another reason to change; the production 8-bit path (q_knn_ivfpq8)
    * already carries the query-independent construction. */
  private[graft] def ivfpqCodebook(rsubs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("cell", "sub").orderBy("vec_id")
    val seed = rsubs
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 16)
      .select(col("cell"), col("sub"), (col("rk") - 1).cast("int").as("cid"),
        col("sv").as("cv"))
    ivfpqLloyd(rsubs, seed)
  }

  /** Per-(cell, sub) K≤`k` codebook over residuals, seeded from a
    * HASH-ORDER sample of each cell's members (the pqCodebookK rule;
    * the default 16-seed codebook above keeps its lowest-id seeds for
    * contract stability). k binds at min(k, cell size) per cell BY
    * CONSTRUCTION (row_number ≤ k), so no corpus count is needed.
    * Bounded: n_cells × 8 × k rows — broadcast at any corpus size. */
  private[graft] def ivfpqCodebookK(rsubs: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("cell", "sub")
      .orderBy(xxhash64(lit("ivfpq8seed"), col("vec_id")), col("vec_id"))
    // query excluded from seeds (the pqSeedIds rule): at cell sizes > k
    // the query's own residual must not occupy a codeword slot a corpus
    // member would otherwise get — the trained index stays
    // query-independent
    val seed = rsubs.filter(col("vec_id") =!= 0)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("cell"), col("sub"), (col("rk") - 1).cast("int").as("cid"),
        col("sv").as("cv"))
    ivfpqLloyd(rsubs, seed)
  }

  /** The shared decimal-exact Lloyd re-estimation step over a per-cell
    * seed relation (assignment → per-dim DECIMAL means → array rebuild). */
  private def ivfpqLloyd(rsubs: DataFrame, seed: DataFrame): DataFrame =
    lloydMeans(pqAssign(rsubs, seed, Seq("cell", "sub")), Seq("cell", "sub"))

  /** IVF-PQ approximate top-10: probe = the nProbe cells whose centroid
    * is most query-cosine-similar; candidate score = dot(q, centroid) +
    * ADC residual dot through a (nProbe × 8 × k)-row broadcast distance
    * table; the ADC SHORTLIST then reranks with the exact cosine
    * (the pqTop10 two-stage recipe — production IVFADC re-ranking,
    * VERDICT r12 #2: ADC codes can't resolve near-tie intra-cluster
    * order). Depth is DATA-ADAPTIVE since round 14: clamp(64, 512,
    * Σ probed-cell occupancy) — covering the whole probed candidate set
    * makes the rerank exact over the probe scope up to the 512 cost
    * cap. The rerank reads ≤depth ≤512 exact vectors, so the probe
    * stays nProbe-bounded. Split out so IvfPqSpec measures raw recall. */
  private[graft] def ivfpqTop10(s: SparkSession, d: String,
      nProbe: Int = ivfpqNProbe, planted: Boolean = false,
      rerank: Int = RerankAdaptive, kCodes: Int = 16): DataFrame = {
    val emb = annCorpus(s, d, planted)
    // cells/rsubs/codebook feed training, encoding, AND the probe —
    // checkpoint once or each consumer re-runs the upstream chain
    val cells = ivfpqCells(emb).localCheckpoint()
    val rsubs = ivfpqResidualSubs(emb, cells).localCheckpoint()
    // kCodes selects the SEED POLICY as well as the codebook size: 16 is
    // the shipped 4-bit contract codebook (lowest-id seeds, kept for
    // contract stability); 256 routes through the hash-order per-cell
    // sample (query-independent). Any other value would silently pick a
    // seed policy the caller didn't reason about, so reject it (ADVICE
    // r13) — a deployment wanting k=32/64 adds it as an explicit matrix
    // row first.
    require(kCodes == 16 || kCodes == 256,
      s"kCodes must be 16 (4-bit contract codebook, lowest-id seeds) or " +
        s"256 (8-bit, hash-order seeds); got $kCodes")
    val cb = persistedCodebook(s, d,
      s"ivfpq_cb$kCodes${if (planted) "_p" else ""}")(
      if (kCodes == 16) ivfpqCodebook(rsubs)
      else ivfpqCodebookK(rsubs, kCodes))
    val codes = pqAssign(rsubs, cb, Seq("cell", "sub"))
      .select("vec_id", "cell", "sub", "cid")
    // nProbe best cells for the query: exact cosine against the bounded
    // centroid relation, carrying dot(q, centroid) and the residual
    // query (q − centroid) each probed cell needs
    val probed = cells.crossJoin(broadcast(queryVec(s, d)))
      .select(col("cell"),
        cosine_sim(col("centroid"), col("qv")).as("csim"),
        vec_dot(col("qv"), col("centroid")).as("qc_dot"),
        col("occ"))
      .orderBy(col("csim").desc, col("cell")).limit(nProbe)
      .localCheckpoint() // nProbe rows, read by the ADC table and the probe join
    // Adaptive depth (IVFPQ rule, VERDICT r13 #2): the ADC near-tie set
    // is at most the probed candidate count, so depth = Σ occupancy of
    // the probed cells makes the rerank EXACT over the probe scope
    // whenever the probed cells hold ≤512 candidates — ADC resolution
    // then only matters beyond the cap, where the measured matrix reads
    // 10/10 at 512 on 500-member clusters. Occupancy rides the cells
    // relation (computed in the same agg as the centroids); summing the
    // ≤nProbe checkpointed rows is a bounded 1-row collect, the
    // documented materialization class. Gate corpora resolve to the
    // floor 64 (probed occ = 62), keeping plans and hashes unchanged.
    val depth = if (rerank > 0) rerank
      else {
        val occSum = probed.agg(sum("occ")).collect()(0).getLong(0)
        lastObservedAmbiguity.set((rerankClamp(occSum), occSum))
        rerankClamp(occSum)
      }
    // ADC table dots the QUERY's own subvectors (not the query residual)
    // against the residual codewords: score = q·c + Σ q_s·recon(v−c)_s
    // = q·recon(v) — the UNBIASED inner-product ADC. The round-8 form
    // dotted (q−c)_s instead, estimating q·v − c·(v−c): a per-candidate
    // bias of order |c||v−c| that measurably cost intermediate-depth
    // recall on tight clusters (r256: 4/10 biased vs 9/10 for flat PQ
    // with COARSER codes — caught and fixed round 13, §rerank-depth).
    val qsubs = queryVec(s, d)
      .select(explode(expr(s"transform(sequence(0, ${SubDim - 1}), s -> struct(s AS sub, " +
        s"transform(slice(qv, s*$SubDim+1, $SubDim), x -> CAST(x AS DOUBLE)) AS qsv))")).as("e"))
      .select(col("e.sub").as("sub"), col("e.qsv").as("qsv"))
    val dtab = probed.select("cell").crossJoin(broadcast(qsubs))
      .join(broadcast(cb), Seq("cell", "sub"))
      .select(col("cell"), col("sub"), col("cid"),
        vec_dot(col("qsv"), col("cv")).as("qdot"))
    val norms = emb
      .select(col("vec_id"), vec_dot(col("embedding"), col("embedding")).as("n2"))
    val qn = norms.filter(col("vec_id") === 0).select(col("n2").as("qn2"))
    val shortlist = codes.filter(col("vec_id") =!= 0)
      // the broadcast semi-prune to probed cells — at 100 TB this is the
      // partition-pruning join that makes the probe read nProbe/n_cells
      // of the index instead of all of it
      .join(broadcast(probed.select("cell", "qc_dot")), Seq("cell"))
      .join(broadcast(dtab), Seq("cell", "sub", "cid"))
      .groupBy("vec_id", "qc_dot").agg(sum("qdot").as("radot"))
      .join(norms, "vec_id").crossJoin(broadcast(qn))
      .select(col("vec_id"),
        // rounded before ranking (the pqTop10 rule): the 9-term dot sum
        // is order-free only to the ulp; rounding + id tie-break pin it
        round((col("qc_dot") + col("radot")) / sqrt(col("n2") * col("qn2")), 4)
          .as("cos_adc"))
      .orderBy(col("cos_adc").desc, col("vec_id"))
      .limit(depth)
    // stage 2: exact-cosine rerank of the ADC shortlist (depth = the
    // recall dial, see pqTop10)
    emb.select(col("vec_id"), col("embedding"))
      .join(broadcast(shortlist.select("vec_id")), "vec_id")
      .crossJoin(broadcast(queryVec(s, d)))
      .select(col("vec_id"),
        round(cosine_sim(col("embedding"), col("qv")), 4).as("cos_exact"))
      .orderBy(col("cos_exact").desc, col("vec_id"))
      .limit(10)
  }

  /** IVF-PQ gate floor over the PLANTED corpus: 8 = the pigeonhole
    * bound for an all-planted top-10 (see plantedEmb). The raw-corpus
    * compound floor (1 — bounded by both the nProbe/n_cells scan
    * fraction and the 16-entry codebook on clusterless data) stays
    * measured in IvfPqSpec. */
  private val ivfpqFloor = 8

  private val kmDims = 1 to 8

  // --- incremental-IVF lane helpers (shared by q_ivf_incremental and
  // the streaming ingest twin in StreamingPipelines) ------------------

  /** (vec_id, label, x1..x8) projection for the incremental-IVF lane. */
  private[graft] def ivfIncrEmb(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).select(
      col("vec_id") +: col("label") +:
        kmDims.map(i => element_at(col("embedding"), i).cast("double").as(s"x$i")): _*)

  /** Frozen coarse quantizer: per-label DECIMAL-exact centroids of the
    * base corpus (exact so the streamed and batch assignments argmin
    * against bit-identical centroids under any partitioning). */
  private[graft] def ivfIncrCentroids(base: DataFrame): DataFrame =
    base.groupBy(col("label").as("cid")).agg(
      count(lit(1)).as("cn"),
      kmDims.map(i => (sum(col(s"x$i").cast("decimal(20,10)")).cast("double")
        / count(lit(1))).as(s"c$i")): _*)

  /** Argmin assignment into the frozen cells (broadcast, hash agg). */
  private[graft] def ivfIncrAssign(df: DataFrame, cent: DataFrame): DataFrame = df
    .crossJoin(broadcast(cent.select(col("cid") +: kmDims.map(i => col(s"c$i")): _*)))
    .groupBy(col("vec_id") +: kmDims.map(i => col(s"x$i")): _*)
    .agg(min_by(col("cid"), kmDist).as("asg"))

  /** Left-assoc squared-distance chain over the first 8 dims — written
    * identically in the DuckDB oracle so the IEEE result is identical. */
  private def kmDist = kmDims
    .map(i => (col(s"x$i") - col(s"c$i")) * (col(s"x$i") - col(s"c$i")))
    .reduce(_ + _)

  /** 3 Lloyd iterations (k = 10 label-prototype seed); see q_kmeans for
    * the determinism design. Returns (final assignment (vec_id, asg,
    * x1..x8), final centroids (cid, cn, c1..c8)). */
  private[graft] def kmRun(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val emb = Tables.embeddings(s, d).select(
      col("vec_id") +: col("label") +:
        kmDims.map(i => element_at(col("embedding"), i).cast("double").as(s"x$i")): _*)
    def centroids(df: DataFrame, key: org.apache.spark.sql.Column) =
      df.groupBy(key.as("cid")).agg(
        count(lit(1)).as("cn"),
        kmDims.map(i => (sum(col(s"x$i").cast("decimal(20,10)")).cast("double")
          / count(lit(1))).as(s"c$i")): _*)
    // min_by (not min-over-struct): a struct-typed Min has an immutable
    // agg buffer and silently planned as SortAggregate — a sort of the
    // k-amplified relation per iteration (caught by PlanShapeSpec).
    // min_by(long, double) hash-aggregates; distances are tie-free on
    // this data (asserted in KMeansSpec), so the argmin is deterministic.
    def assign(cent: DataFrame) = emb
      .crossJoin(broadcast(cent.select(col("cid") +: kmDims.map(i => col(s"c$i")): _*)))
      .groupBy(col("vec_id") +: kmDims.map(i => col(s"x$i")): _*)
      .agg(min_by(col("cid"), kmDist).as("asg"))
      .select(col("asg") +: col("vec_id") +: kmDims.map(i => col(s"x$i")): _*)
    var cent = centroids(emb, col("label"))
    var assigned = assign(cent)
    for (_ <- 1 to 2) {
      cent = centroids(assigned, col("asg"))
      assigned = assign(cent)
    }
    (assigned, centroids(assigned, col("asg")))
  }

  /** One materialization of [[kmRun]] per (session, dataset): q_kmeans
    * and q_semantic_dedup both consume the same 3-iteration Lloyd run
    * (SemDeDup is BUILT on the k-means partition), and each previously
    * paid the full iterative chain — worse, q_semantic_dedup references
    * the assignment twice, re-executing the un-checkpointed loop per
    * reference. Assignment + centroids are tiny (n_vecs × 10 cols /
    * k rows), so both are localCheckpointed once and shared for the
    * session, same lifetime story as [[TextQueries.jaccardPairsShared]]. */
  private def kmRunShared(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val Seq(assigned, cent) = SessionCache.get("km_run", s, d, EmbTables) {
      IndexStore.persistedMulti(s, d, Seq("km_assigned", "km_centroids"), EmbTables) {
        val (a, c) = kmRun(s, d)
        Seq(a, c)
      }
    }
    (assigned, cent)
  }

  /** Hybrid retrieval fusion (q_hybrid_retrieval / q_rag_e2e): BM25 and
    * dense-cosine legs each cut to their bounded top-20 FIRST
    * (TakeOrderedAndProject — never a global sort), ranks fused via
    * round(1e9/(60+r)) longs so the fused order is engine-exact. */
  private def rrfFused(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qTerms = Seq("spark", "join", "vector")
    val docs = Tables.documents(s, d)
    val toks = docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val nDocs = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    val avgdl = dl.agg((sum("dl").cast("double") / count(lit(1))).as("avgdl"))
    val tf = toks.filter(col("term").isin(qTerms: _*))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val bm25 = tf.join(broadcast(dfq), "term").join(dl, "doc_id")
      .crossJoin(broadcast(nDocs)).crossJoin(broadcast(avgdl))
      .withColumn("c_e6", round(
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
          * (col("tf") * lit(2.2))
          / (col("tf") + lit(1.2) * (lit(0.25) + (lit(0.75) * col("dl")) / col("avgdl")))
          * lit(1e6)).cast("long"))
      .groupBy("doc_id").agg(round(sum("c_e6") / lit(1e6), 4).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id")).limit(20)
    val sparse = bm25.withColumn("rank_sparse", row_number()
        .over(Window.orderBy(col("bm25").desc, col("doc_id"))).cast("long"))
      .select("doc_id", "rank_sparse")
    val qv = Tables.embeddings(s, d).filter(col("vec_id") === 0)
      .select(col("embedding").as("qv"))
    val cos = Tables.embeddings(s, d).filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(qv))
      .select(col("vec_id").as("doc_id"),
        round(cosine_sim(col("embedding"), col("qv")), 4).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("doc_id")).limit(20)
    val dense = cos.withColumn("rank_dense", row_number()
        .over(Window.orderBy(col("cos_sim").desc, col("doc_id"))).cast("long"))
      .select("doc_id", "rank_dense")
    def rrf(rank: org.apache.spark.sql.Column) =
      coalesce(round(lit(1e9) / (lit(60) + rank)).cast("long"), lit(0L))
    sparse.join(dense, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        (rrf(col("rank_sparse")) + rrf(col("rank_dense"))).as("rrf_e9"),
        col("rank_sparse"), col("rank_dense"))
  }

  val queries: Map[String, Q] = Map(

    // --- hybrid retrieval (2j): reciprocal-rank fusion of the two
    // production rankers — the sparse BM25 leg (q_bm25_topk's scoring,
    // integer-scaled so the cut is engine-exact) and the dense cosine
    // leg (q_knn_brute's scoring against the vec_id-0 query) — over the
    // id-aligned corpora (embedding i ↔ document i). Each leg is cut to
    // its top-20 FIRST (TakeOrderedAndProject — a bounded all-reduce,
    // never a global sort), so rank assignment and the fusion join run
    // on ≤20-row relations regardless of corpus size; RRF score
    // Σ 1/(60+rank) is computed as round(1e9/(60+r)) longs so the
    // fused ordering is exact-integer in both engines. This is the
    // standard RAG retrieval front-end: lexical recall + semantic
    // recall fused without score calibration.
    "q_hybrid_retrieval" -> ((s, d) =>
      rrfFused(s, d).orderBy(col("rrf_e9").desc, col("doc_id")).limit(10)),

    // --- RAG context assembly, end-to-end (2j): the full retrieval
    // front-end as ONE declarative plan — hybrid RRF retrieval (top-5
    // docs) → 64/48 stride chunking of ONLY the retrieved docs → chunk
    // scoring by query-term hits → top-3 context chunks with their
    // content md5 (what gets pasted into the prompt). Every stage is
    // bounded after retrieval: chunking/scoring touch 5 docs however
    // big the corpus, the rankers are the proven bounded-top-k legs,
    // and all ordering keys are integers — engine-exact. Catalyst
    // optimizes across stages (the doc scan feeding BM25 also feeds
    // chunking; the top-5 set broadcast-semi-joins the corpus).
    "q_rag_e2e" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val top5 = rrfFused(s, d)
        .orderBy(col("rrf_e9").desc, col("doc_id")).limit(5)
        .select("doc_id")
      val toks = Tables.documents(s, d)
        .join(broadcast(top5), "doc_id")
        .select(col("doc_id"), tokens(col("text")).as("tk"))
        .withColumn("n_tok", size(col("tk")).cast("long"))
      val chunks = toks.select(col("doc_id"), col("tk"),
          explode(sequence(lit(0L),
            greatest(col("n_tok") - 17, lit(0L)), lit(48L))).as("start"))
        .select(col("doc_id"), (col("start") / 48).cast("long").as("chunk_idx"),
          slice(col("tk"), (col("start") + 1).cast("int"), lit(64)).as("win"))
      val scored = chunks.select(col("doc_id"), col("chunk_idx"),
        size(filter(col("win"),
          t => t === "spark" || t === "join" || t === "vector"))
          .cast("long").as("n_hits"),
        md5(array_join(col("win"), " ")).as("chunk_md5"))
      scored
        .orderBy(col("n_hits").desc, col("doc_id"), col("chunk_idx")).limit(3)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("n_hits").desc, col("doc_id"), col("chunk_idx")))
          .cast("long"))
        .select("rank", "doc_id", "chunk_idx", "n_hits", "chunk_md5")
        .orderBy("rank")
    }),

    // --- principal direction by power iteration (2j): the top
    // eigenvector of the (uncentered) Gram matrix XᵀX, taken to two
    // power-iteration steps from the all-ones start — v₂ = (XᵀX)²·1 —
    // then every embedding projected onto it and the 10 most-extreme
    // docs reported (the dominant-axis outliers a curation pass
    // inspects; also the first step of any spectral dim-reduction).
    // Determinism recipe = q_kmeans's applied to linear algebra:
    // components are integer-scaled (×1e3) so all Gram sums, both
    // matrix-vector products, and the projections are EXACT integer/
    // decimal arithmetic — no float accumulation order anywhere until
    // one final double division for display. Scale shape: XᵀX is a
    // bounded 64×64 = 4096-group hash agg (map-side partial over
    // n×4096 generated rows — linear in corpus, constant state);
    // each iteration is a join against a 64-row broadcast relation;
    // magnitudes are sized so decimal(38) holds through 10× (larger
    // corpora insert an exact power-of-ten scale shift per step).
    "q_pca_power" -> ((s, d) => {
      val dim = 64
      val exArr = Tables.embeddings(s, d).select(col("vec_id"),
        transform(col("embedding"),
          e => round(e.cast("double") * 1000).cast("long")).as("xv"))
      val rows = exArr.select(col("xv"), posexplode(col("xv")).as(Seq("i", "xi")))
      // Gram row-block per i as 64 sum columns: every multiply-add stays
      // inside ONE 64-group hash agg over n×64 rows (vs materializing
      // n×4096 product rows through a second generator — 64× the rows)
      val gAggs = (0 until dim).map(j =>
        sum(col("xi") * element_at(col("xv"), j + 1)).as(s"g$j"))
      val gramWide = rows.groupBy("i").agg(gAggs.head, gAggs.tail: _*)
      val gram = gramWide.select(col("i"),
        posexplode(array((0 until dim).map(j => col(s"g$j")): _*))
          .as(Seq("j", "g")))
      val v1 = gram.groupBy(col("i").as("vi")).agg(sum("g").as("v"))
      val v2 = gram.join(broadcast(v1), col("j") === col("vi"))
        .groupBy("i")
        .agg(sum(col("g").cast("decimal(38,0)") * col("v")).as("v"))
      val proj = exArr
        .select(col("vec_id"), posexplode(col("xv")).as(Seq("i", "x")))
        .join(broadcast(v2), "i")
        .groupBy("vec_id")
        .agg(sum(col("x").cast("decimal(38,0)") * col("v")).as("p"))
      val mx = proj.agg(max(abs(col("p"))).as("m"))
      proj.crossJoin(broadcast(mx))
        .select(col("vec_id"),
          when(col("m") > 0,
            round(col("p").cast("double") / col("m").cast("double"), 4))
            .otherwise(0.0).as("proj_rel"))
        .orderBy(abs(col("proj_rel")).desc, col("vec_id"))
        .limit(10)
    }),

    // --- distributed k-means (Lloyd, 3 iterations, k = 10 label
    // prototypes as seed): assignment = k-way broadcast join + argmin
    // (min over (dist, cid) structs — deterministic tie-break),
    // re-estimation = one bounded hash agg whose per-dim means use
    // DECIMAL sums (exact, associative — the floating sum order of a
    // distributed agg would otherwise leak into centroid LSBs and flip
    // borderline assignments between engines). Per iteration: one scan,
    // one broadcast, one agg — the canonical scale shape; clusters that
    // lose every point drop out (none do on this data).
    "q_kmeans" -> ((s, d) => {
      val (_, cent) = kmRunShared(s, d)
      cent.select(col("cid"), col("cn").as("n"),
          round(col("c1"), 4).as("c1"), round(col("c2"), 4).as("c2"),
          round(col("c3"), 4).as("c3"), round(col("c4"), 4).as("c4"))
        .orderBy("cid")
    }),

    // --- incremental ANN index maintenance (2j): a delta batch of new
    // vectors (vec_id ≡ 3 mod 10 — today's embeddings) is folded into
    // a deployed IVF index WITHOUT retraining: the coarse quantizer
    // (per-label decimal-exact centroids of the BASE corpus) stays
    // frozen and each delta vector argmins into its nearest existing
    // cell — the production index-update path (q_dedup_incremental /
    // q_zorder_incremental's pattern in the vector lane). At scale the
    // base inverted lists are the maintained index; only the delta
    // assignment pass (|delta| × k broadcast distances) is new work —
    // the base assignment here exists so the oracle can rebuild the
    // same lists. Per-cell accounting shows where the delta landed.
    "q_ivf_incremental" -> ((s, d) => {
      val emb = ivfIncrEmb(s, d)
      val base = emb.filter(col("vec_id") % 10 =!= 3)
      val delta = emb.filter(col("vec_id") % 10 === 3)
      val cent = ivfIncrCentroids(base)
      val baseLists = ivfIncrAssign(base, cent)
        .groupBy(col("asg").as("cid")).agg(count(lit(1)).as("nb"))
      val deltaLists = ivfIncrAssign(delta, cent)
        .groupBy(col("asg").as("cid")).agg(count(lit(1)).as("nd"))
      baseLists.join(deltaLists, Seq("cid"), "full_outer")
        .select(col("cid"),
          coalesce(col("nb"), lit(0L)).as("n_base"),
          coalesce(col("nd"), lit(0L)).as("n_delta"))
        .withColumn("n_total", col("n_base") + col("n_delta"))
        .orderBy("cid")
    }),

    // --- embedding distribution drift (2j ○ monitoring): per-label
    // centroid agreement between the corpus's two id-parity snapshots
    // (epoch A = even vec_ids, epoch B = odd) — the vector-lane twin of
    // q_drift_psi. Centroids are decimal-exact per-dim means (bounded
    // 2k-row agg), the drift statistic is their cosine — 1.0 means the
    // label's embedding distribution is stable, a drop flags
    // upstream-model or data drift. All bounded state; one scan.
    "q_embed_drift" -> ((s, d) => {
      val emb = Tables.embeddings(s, d).select(
        col("vec_id") +: col("label") +:
          kmDims.map(i => element_at(col("embedding"), i).cast("double").as(s"x$i")): _*)
      def cent(df: DataFrame, suffix: String) =
        df.groupBy(col("label")).agg(
          count(lit(1)).as(s"n_$suffix"),
          kmDims.map(i => (sum(col(s"x$i").cast("decimal(20,10)")).cast("double")
            / count(lit(1))).as(s"$suffix$i")): _*)
      val a = cent(emb.filter(col("vec_id") % 2 === 0), "a")
      val b = cent(emb.filter(col("vec_id") % 2 === 1), "b")
      val dot = kmDims.map(i => col(s"a$i") * col(s"b$i")).reduce(_ + _)
      val na = sqrt(kmDims.map(i => col(s"a$i") * col(s"a$i")).reduce(_ + _))
      val nb = sqrt(kmDims.map(i => col(s"b$i") * col(s"b$i")).reduce(_ + _))
      a.join(b, "label")
        .select(col("label"), col("n_a"), col("n_b"),
          round(dot / (na * nb), 4).as("centroid_cos"))
        .orderBy("label")
    }),

    // --- embedding outlier detection (2j ○ quality): the 10 vectors
    // farthest from their OWN label centroid — mislabeled/corrupted
    // embedding candidates a curation pass reviews (the vector twin of
    // q_anomaly_mad). Centroids are the bounded decimal-exact agg;
    // per-vector distance is one broadcast join + codegen'd arithmetic;
    // the cut is a bounded TakeOrdered on (rounded dist, vec_id) —
    // engine-exact, no global sort.
    "q_embed_outliers" -> ((s, d) => {
      val emb = Tables.embeddings(s, d).select(
        col("vec_id") +: col("label") +:
          kmDims.map(i => element_at(col("embedding"), i).cast("double").as(s"x$i")): _*)
      val cs = kmDims.map(i =>
        (sum(col(s"x$i").cast("decimal(20,10)")).cast("double")
          / count(lit(1))).as(s"c$i"))
      val cent = emb.groupBy(col("label")).agg(cs.head, cs.tail: _*)
      emb.join(broadcast(cent), "label")
        .select(col("vec_id"), col("label"),
          round(kmDist, 4).as("dist_sq"))
        .orderBy(col("dist_sq").desc, col("vec_id"))
        .limit(10)
    }),

    // --- semantic dedup (SemDeDup shape): within each k-means cluster,
    // the member closest to the centroid becomes the cluster
    // representative (medoid; argmin over (dist, vec_id) structs), and
    // members whose cosine to the representative exceeds 0.95 are
    // counted as semantic duplicates. Cluster granularity bounds the
    // candidate comparisons — every member compares against ONE rep
    // (broadcast k rows), never pairwise, which is what makes
    // embedding dedup tractable at corpus scale.
    "q_semantic_dedup" -> ((s, d) => {
      val (assigned, cent) = kmRunShared(s, d)
      val members = assigned.withColumnRenamed("asg", "cid")
      val withDist = members
        .join(broadcast(cent.select(col("cid") +: kmDims.map(i => col(s"c$i")): _*)), "cid")
      // two hash aggs instead of min-over-struct (SortAggregate trap,
      // see kmRun): argmin the rep id per cluster, then fetch the rep's
      // dims with a k-row broadcast self-join. The argmin is TIE-BROKEN
      // by min vec_id (round 15): min_by has no tie-break, and the 10×
      // corpus manufactures exact distance ties — sign-scrambled copies
      // preserve norms, so two copies of one base vector tie whenever
      // the centroid is ~0 in the flipped dims — which left the rep
      // choice to aggregation order vs the oracle's arg_min. min-dist
      // then min-id is deterministic on both engines (each compares its
      // OWN distance expression against its own minimum, so cross-engine
      // ulp drift cannot flip membership of the tie set it filters).
      val minDist = withDist.groupBy("cid").agg(min(kmDist).as("md_"))
      val repIds = withDist.join(broadcast(minDist), "cid")
        .filter(kmDist === col("md_"))
        .groupBy("cid").agg(min("vec_id").as("rep_id"))
      val reps = members.as("m")
        .join(broadcast(repIds.as("r")), expr("m.cid = r.cid AND m.vec_id = r.rep_id"))
        .select(col("r.cid") +: col("r.rep_id") +:
          kmDims.map(i => col(s"m.x$i").as(s"r$i")): _*)
      val dot = kmDims.map(i => col(s"x$i") * col(s"r$i")).reduce(_ + _)
      val nx = sqrt(kmDims.map(i => col(s"x$i") * col(s"x$i")).reduce(_ + _))
      val nr = sqrt(kmDims.map(i => col(s"r$i") * col(s"r$i")).reduce(_ + _))
      assigned.withColumnRenamed("asg", "cid")
        .join(broadcast(reps), "cid")
        .withColumn("is_dup",
          col("vec_id") =!= col("rep_id") && dot / (nx * nr) >= 0.95)
        .groupBy(col("cid"), col("rep_id"))
        .agg(count(lit(1)).as("n_members"),
          sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dups"))
        .orderBy("cid")
    }),

    // --- ANN JOIN, LSH-bucketed (the 100 TB path of q_knn_join): both
    // sides hash into L=12 × P=4 hyperplane buckets; candidates exist
    // only where a (table, bucket) collides — a shuffle equi-join on the
    // bucket key, NEVER query-batch × corpus — and exact cosine runs on
    // candidates only. Verified in-plan against the brute ANN join (the
    // yardstick costs the full scoring pass, which at gate scale is the
    // point of the check): total top-3 hits across the query batch must
    // clear the pinned floor. Oracle pins the contract row (DuckDB
    // cannot reproduce xxhash buckets — same technique as q_knn_lsh).
    "q_knn_join_lsh" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val emb = Tables.embeddings(s, d)
      val isQ = col("vec_id") % 100 === 7
      // P sized from the corpus (the documented LSH scale dial):
      // P ≈ log2(n/64) keeps expected bucket occupancy ~constant, so the
      // (t, bucket) candidate join stays linear-ish in n. At every
      // shipped gate scale n = 500 → P = 4, the calibrated setting the
      // floor was pinned under — the r9 100× audit exposed that a FIXED
      // P = 4 over 50k vectors barely blocks (collision ≈ 54%/pair →
      // a quadratic candidate set, 153 s at 100×).
      val n = emb.count()
      val p = math.max(4, math.ceil(math.log(n / 64.0) / math.log(2)).toInt)
      val buckets = hyperplaneBuckets(emb, L = 12, P = p)
      val qb = buckets.filter(isQ)
        .select(col("vec_id").as("q_id"), col("t"), col("bucket"))
      val cb = buckets.filter(!isQ)
        .select(col("vec_id").as("n_id"), col("t"), col("bucket"))
      val cand = cb.join(qb, Seq("t", "bucket"))
        .select("q_id", "n_id").distinct()
      val qvs = emb.filter(isQ).select(col("vec_id").as("q_id"),
        col("embedding").as("qv"))
      val w = Window.partitionBy("q_id").orderBy(col("cos_sim").desc, col("n_id"))
      def top3(pairs: DataFrame) = pairs
        .join(emb.select(col("vec_id").as("n_id"), col("embedding")), "n_id")
        .join(broadcast(qvs), "q_id")
        .select(col("q_id"), col("n_id"),
          round(cosine_sim(col("embedding"), col("qv")), 4).as("cos_sim"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3).select("q_id", "n_id")
      val approx3 = top3(cand)
      // BOUNDED witness audit (the q_phash_dedup design): the brute
      // yardstick cross-joins queries × corpus, so auditing every query
      // is itself quadratic at scale — a deterministic ≤50-query sample
      // bounds it at constant cost. At the gate scales (5 queries) the
      // step is 1, every query is audited, and the pinned 10/15 floor
      // keeps its exact round-1 meaning.
      val nQ = math.max(1L, (n + 92) / 100) // ids ≡ 7 (mod 100)
      val auditStep = math.max(1L, (nQ + 49) / 50)
      val audited = ((col("q_id") - 7) / 100).cast("long") % auditStep === 0
      val brute3 = top3(emb.filter(!isQ).select(col("vec_id").as("n_id"))
        .crossJoin(qvs.filter(audited).select("q_id")))
      val hits = approx3.filter(audited).join(brute3, Seq("q_id", "n_id"))
        .agg(count(lit(1)).as("n_hits"))
      qvs.agg(count(lit(1)).as("n_queries")).crossJoin(hits)
        .select(lit("lsh_join").as("method"), col("n_queries"), lit(3).as("k"),
          (col("n_hits") >= lit(recallJoinFloor)).as("recall_ok"))
    }),

    "q_knn_brute" -> ((s, d) => {
      val emb = Tables.embeddings(s, d).filter(col("vec_id") =!= 0)
      emb.crossJoin(broadcast(queryVec(s, d)))
        .select(col("vec_id"),
          round(cosine_sim(col("embedding"), col("qv")), 4).as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id"))
        .limit(10)
    }),

    // --- ANN JOIN (batch retrieval): a whole BATCH of query vectors
    // (every 100th id — the eval-set shape) each gets its top-3
    // neighbors from the rest of the corpus in ONE pass: broadcast the
    // query batch, one codegen'd cosine per (candidate, query), rank
    // within each query. This is the retrieval join behind kNN eval /
    // RAG indexing — q_knn_brute's single-vector form generalized. The
    // per-query rank partitions by q_id (bounded sorts, one per query;
    // ties broken by candidate id on the ROUNDED score so the result is
    // engine-exact); at 100 TB the same plan swaps the rank for the
    // bounded topk_agg heap or pre-buckets candidates with the LSH path
    // — the scoring join is already the scalable shape.
    "q_knn_join" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val emb = Tables.embeddings(s, d)
      val qs = emb.filter(col("vec_id") % 100 === 7)
        .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
      val cands = emb.filter(col("vec_id") % 100 =!= 7)
        .select(col("vec_id").as("n_id"), col("embedding"))
      val scored = cands.crossJoin(broadcast(qs))
        .select(col("q_id"), col("n_id"),
          round(cosine_sim(col("embedding"), col("qv")), 4).as("cos_sim"))
      val w = Window.partitionBy("q_id").orderBy(col("cos_sim").desc, col("n_id"))
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select("q_id", "rank", "n_id", "cos_sim")
        .orderBy("q_id", "rank")
    }),

    // Recall gates run over the PLANTED corpus (see plantedEmb): with
    // 12 plants at cos ≈ 0.9957 vs a 0.37 background ceiling, a floor
    // of 8 is the pigeonhole-guaranteed minimum whenever the index
    // surfaces the whole cluster — the gate now FAILS if an index
    // misses the one real cluster in the data, instead of documenting
    // that clusterless data bounds recall at 1–3 (the r1–r8 state; raw
    // recalls remain measured in PqSpec/IvfPqSpec for the
    // honest no-structure story).
    "q_knn_ivf" -> ((s, d) =>
      recallFlag(ivfTop10(s, d, planted = true), s, d, floor = 8,
        method = "ivf", planted = true)),

    "q_knn_lsh" -> ((s, d) =>
      recallFlag(lshTop10(s, d, planted = true), s, d, floor = 8,
        method = "lsh", planted = true)),

    // int8 brute force scans everything — no cluster structure needed
    // for its recall to be meaningful; stays on the raw corpus where
    // its measured 10/10 already bites (floor 8)
    "q_knn_quantized" -> ((s, d) =>
      recallFlag(quantizedTop10(s, d), s, d, floor = 8, method = "int8")),

    // Matryoshka (prefix-dimension) kNN — the MRL retrieval trick: if
    // embeddings are trained so information concentrates in the leading
    // dimensions, stage 1 can rank on the FIRST 16 of 64 dims (4× less
    // to scan — the cheap filter, same role as the sign bits in
    // q_knn_binary but keeping float geometry), then stage 2 reranks a
    // top-32 shortlist with the full-dimension cosine. slice() is exact
    // and both engines compute the same prefix cosine, so the output is
    // hash-exact like the other two-stage rows; on this corpus the
    // prefix carries 1/4 of the (isotropic) signal, so the shortlist is
    // honest about needing rerank — the deployment dial is the prefix
    // length, not the plan shape.
    "q_knn_matryoshka" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"),
          slice(col("embedding"), 1, 16).as("head16"))
      val q = emb.filter(col("vec_id") === 0)
        .select(col("head16").as("qh"), col("embedding").as("qv"))
      val shortlist = emb.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .select(col("vec_id"), col("embedding"), col("qv"),
          round(cosine_sim(col("head16"), col("qh")), 4).as("head_cos"))
        .orderBy(col("head_cos").desc, col("vec_id")).limit(32)
      shortlist
        .select(col("vec_id"), col("head_cos"),
          round(cosine_sim(col("embedding"), col("qv")), 4).as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id")).limit(10)
    }),

    // Retrieval-quality evaluation: NDCG@10 of the matryoshka two-stage
    // retrieval against the exact ranking — the metric a retrieval
    // pipeline gates index changes on, computed IN-PLAN (graded gains =
    // rounded exact cosines, so the metric is hash-exact, not a flag).
    // Rank discounts 1/log2(r+1) are a 10-entry LITERAL table shared
    // verbatim with the oracle (no engine libm log in the plan), and
    // both DCG sums accumulate decimal-exact products, so the only
    // doubles are bit-identical literals and one final division. Both
    // ranked lists are ≤10 rows — the single-partition windows are on
    // constant-size relations; the corpus-sized work is the same
    // shortlist scan + brute yardstick every recall gate already pays.
    "q_retrieval_ndcg" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val disc = ndcgDiscounts
      def dcgOf(ranked: DataFrame, alias: String) = ranked
        .withColumn("rn",
          row_number().over(Window.orderBy(col("gain").desc, col("vec_id"))))
        .withColumn("disc", element_at(array(disc.map(lit): _*), col("rn")))
        .agg(sum((col("gain") * col("disc")).cast("decimal(30,12)"))
          .cast("double").as(alias))
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"),
          slice(col("embedding"), 1, 16).as("head16"))
      val q = emb.filter(col("vec_id") === 0)
        .select(col("head16").as("qh"), col("embedding").as("qv"))
      val shortlist = emb.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .select(col("vec_id"), col("embedding"), col("qv"),
          round(cosine_sim(col("head16"), col("qh")), 4).as("head_cos"))
        .orderBy(col("head_cos").desc, col("vec_id")).limit(32)
      val approx = shortlist
        .select(col("vec_id"),
          round(cosine_sim(col("embedding"), col("qv")), 4).as("gain"))
        .orderBy(col("gain").desc, col("vec_id")).limit(10)
      val ideal = Tables.embeddings(s, d).filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .select(col("vec_id"),
          round(cosine_sim(col("embedding"), col("qv")), 4).as("gain"))
        .orderBy(col("gain").desc, col("vec_id")).limit(10)
      dcgOf(approx, "dcg").crossJoin(dcgOf(ideal, "idcg"))
        .select(lit("matryoshka").as("method"), lit(10).as("k"),
          round(col("dcg"), 4).as("dcg"), round(col("idcg"), 4).as("idcg"),
          round(col("dcg") / col("idcg"), 4).as("ndcg"))
    }),

    // Binary-quantized ANN JOIN — q_knn_join's batch-retrieval shape on
    // q_knn_binary's 8-byte signatures: every query vector broadcasts
    // its sign words, stage 1 ranks candidates per query by XOR+POPCNT
    // Hamming (top-8 shortlist, ties by id), stage 2 reranks each
    // shortlist with the exact cosine (top-3). At 100 TB stage 1 scans
    // 8 B/candidate/query; the per-query rank partitions by q_id, and
    // the float vectors are touched only for 8 rows per query.
    // Hash-exact like the single-query row — the oracle rebuilds the
    // identical signatures and both ranking stages.
    "q_knn_binary_join" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val sigs = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"),
          sign_pack32(col("embedding")).as("sig"))
      val qs = sigs.filter(col("vec_id") % 100 === 7)
        .select(col("vec_id").as("q_id"), col("sig").as("qsig"),
          col("embedding").as("qv"))
      val ham = sigs.filter(col("vec_id") % 100 =!= 7)
        .crossJoin(broadcast(qs))
        .select(col("q_id"), col("vec_id").as("n_id"), col("embedding"),
          col("qv"),
          (bit_count(element_at(col("sig"), 1)
              .bitwiseXOR(element_at(col("qsig"), 1))) +
           bit_count(element_at(col("sig"), 2)
              .bitwiseXOR(element_at(col("qsig"), 2))))
            .cast("int").as("hamming"))
      val wh = Window.partitionBy("q_id").orderBy(col("hamming"), col("n_id"))
      val shortlist = ham.withColumn("hrank", row_number().over(wh))
        .filter(col("hrank") <= 8)
      val wc = Window.partitionBy("q_id")
        .orderBy(col("cos_sim").desc, col("n_id"))
      shortlist
        .select(col("q_id"), col("n_id"), col("hamming"),
          round(cosine_sim(col("embedding"), col("qv")), 4).as("cos_sim"))
        .withColumn("rank", row_number().over(wc))
        .filter(col("rank") <= 3)
        .select("q_id", "rank", "n_id", "hamming", "cos_sim")
        .orderBy("q_id", "rank")
    }),

    // Binary-quantized kNN — the most compressed rung of the
    // quantization ladder (float32 256 B → int8 64 B → sign bits 8 B,
    // 32×). Stage 1 scans only the packed sign words: Hamming(sig, qsig)
    // = XOR + POPCNT per 64-dim vector (the SRP-LSH angular estimate,
    // E[hamming]/dim = θ/π), shortlists the 32 closest sign patterns;
    // stage 2 reranks the 32 survivors with the exact float cosine. At
    // 100 TB stage 1 is bandwidth-bound on 8 B/vector — the whole corpus'
    // signatures fit where 3% of the floats would — and stage 2 touches
    // only shortlist×dim floats. Unlike the other ANN rows this one is
    // hash-exact, not recall-flagged: sign packing is pure integer
    // construction (32 bits/word, no sign-bit arithmetic), so the oracle
    // rebuilds bit-identical signatures and both stages' rankings (ties
    // broken by vec_id on hamming and on the 4-decimal cosine) must
    // agree exactly across engines.
    "q_knn_binary" -> ((s, d) => {
      val sigs = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"),
          sign_pack32(col("embedding")).as("sig"))
      val q = sigs.filter(col("vec_id") === 0)
        .select(col("sig").as("qsig"), col("embedding").as("qv"))
      val shortlist = sigs.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .select(col("vec_id"), col("embedding"), col("qv"),
          (bit_count(element_at(col("sig"), 1)
              .bitwiseXOR(element_at(col("qsig"), 1))) +
           bit_count(element_at(col("sig"), 2)
              .bitwiseXOR(element_at(col("qsig"), 2))))
            .cast("int").as("hamming"))
        .orderBy(col("hamming"), col("vec_id")).limit(32)
      shortlist
        .select(col("vec_id"), col("hamming"),
          round(cosine_sim(col("embedding"), col("qv")), 4).as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id")).limit(10)
    }),

    // Embedding-space near-dup detection, hyperplane-LSH-bucket blocked:
    // candidate pairs share a P-bit bucket in ≥1 of L tables (a shuffle
    // self-equi-join on (table, bucket) — occupied buckets GROW with n,
    // unlike label blocking whose fixed tiny cardinality degenerates to
    // all-pairs at 100 TB), then the few candidates are verified with the
    // exact codegen'd cosine (stages in [[embedNeardupStages]]).
    // The scan is unioned with PLANTED near-dup rows (VERDICT r7 #2):
    // two extra ids carrying vec_id 1's exact embedding. The synthetic
    // corpus has no cos ≥ 0.9 pair at the sf0.01 gate scale, so without
    // the plant the all-pairs oracle compared empty sets — now the gate
    // has 3 known pairs (1↔9000001, 1↔9000002, 9000001↔9000002) the LSH
    // blocking MUST surface (identical vectors share every bucket at
    // ANY P) and either engine's cosine could get wrong. Copies rather
    // than ε-perturbations keep the 4-decimal cosine exactly 1.0 in
    // both engines; ids sit far above any real vec_id.
    "q_embed_neardup" -> ((s, d) => {
      val (verified, overflow) = embedNeardupStages(s, d)
      // sentinel-backed accounting (round 12): an all-overflow regime
      // empties the pair list — the count must survive as a 1-row null
      // sentinel, never vanish
      Blocking.withOverflowAccounting(verified, overflow)
        .orderBy("id_a", "id_b")
    }),

    // --- Product-Quantization ANN (2j scale path): train → encode →
    // ADC probe, all in-plan. Codebooks (8 subspaces × 16 centroids)
    // train with a seeded decimal-exact Lloyd step; every vector encodes
    // to 8 codes by per-subspace argmin (broadcast join + min_by hash
    // agg); the query builds a 128-row ADC table (its exact dot against
    // every centroid) and candidates score through an 8-row-per-vector
    // equi-join on (sub, code) + one bounded sum — codes + one stored
    // norm are ALL the per-vector state the probe reads (32× smaller
    // than float32), which is the entire point at 100 TB. Cosine ranks
    // on adc_dot / (|q|·|v|) with the stored exact norms (standard
    // PQ-for-cosine). Gate row = recall@10 vs the exact brute yardstick,
    // floor pinned (the q_knn_lsh technique; oracle pins the contract —
    // codebook hashes aren't SQL-expressible).
    "q_knn_pq" -> ((s, d) =>
      recallFlag(pqTop10(s, d, planted = true), s, d, floor = pqFloor,
        method = "pq_m8k16", planted = true)),

    // --- 8-bit PQ ANN (round 13): the k=256 production codebook (the
    // IVFADC literature's standard setting — Jégou+ 2011 use k*=256
    // throughout). Same train→encode→ADC→rerank plan as q_knn_pq; the
    // only change is codebook size. Measured payoff (BASELINE
    // §rerank-depth): ~5× tighter reconstruction MSE and 2–4× shallower
    // rerank for equal recall at intermediate depths (7 vs 3 at r128,
    // 9 vs 4 at r256 on 500-member clusters) — though no bit-width
    // rescues a shortlist far below the near-tie set (both 3/10 at
    // r64 there; depth stays the dial). Seeds are a deterministic
    // hash-order sample so a cluster-ordered id layout can't starve
    // late clusters of codes.
    "q_knn_pq8" -> ((s, d) =>
      recallFlag(pq8Top10(s, d, planted = true), s, d, floor = pqFloor,
        method = "pq_m8k256", planted = true)),

    // --- IVF-PQ ANN (2j scale path, VERDICT r8 #1): the composition of
    // q_knn_ivf's coarse cells and q_knn_pq's product quantization —
    // per-cell codebooks trained on RESIDUALS, probe bounded to nProbe
    // cells, scoring through a 256-row broadcast ADC table. Gate row =
    // recall@10 vs the exact brute yardstick (oracle pins the contract;
    // codebooks aren't SQL-expressible), floor pinned honestly under
    // the measured deterministic recall.
    "q_knn_ivfpq" -> ((s, d) =>
      recallFlag(ivfpqTop10(s, d, planted = true), s, d, floor = ivfpqFloor,
        method = "ivfpq_np2_m8k16", planted = true)),

    // --- 8-bit IVFPQ ANN (round 13): cells + UNBIASED inner-product
    // ADC + per-cell k≤256 residual codebooks — the measured winner of
    // the whole §rerank-depth matrix (8/10 raw at the default depth-64
    // shortlist on 500-member clusters where flat PQ sits at 3/10;
    // 10/10 from depth 128) and the literature's production IVFADC
    // setting. Shipped alongside the 4-bit row so both codebook sizes
    // stay user-callable; same pigeonhole floor, same two-stage probe.
    "q_knn_ivfpq8" -> ((s, d) =>
      recallFlag(ivfpqTop10(s, d, planted = true, kCodes = 256), s, d,
        floor = ivfpqFloor, method = "ivfpq_np2_m8k256", planted = true)),

    // --- graph-traversal ANN (round 9): cluster-seeded beam search
    // over an LSH-built kNN graph (see graphTop10) — the gate only
    // passes if edge traversal discovers the planted cluster beyond
    // the 4-seed entry (entry-only recall pinned < floor in
    // GraphAnnSpec).
    "q_knn_graph" -> ((s, d) =>
      recallFlag(graphTop10(s, d), s, d, floor = 8,
        method = "nsw_beam_t3", planted = true)
        .withColumn("overflow_buckets", lit(knnGraphOverflow(s, d)))),

    // --- incremental kNN-graph maintenance (round 10, VERDICT r9 #5):
    // see [[graphIncremental]]. The verdict row compares the folded
    // graph edge-for-edge against a full rebuild under the SAME frozen
    // hash width — equality is the differential proof that untouched
    // nodes' edges survive verbatim and touched/delta nodes' recompute
    // reproduces the rebuild's view. n_base/n_delta are SQL-derivable
    // (the split predicate is pure arithmetic on vec_id); the edge sets
    // themselves aren't (LSH planes), so the flag carries the gate.
    "q_graph_incremental" -> ((s, d) => {
      val (emb, edgesIncr, nBase, nDelta, _, p, foldOverflow) =
        graphIncremental(s, d)
      // rebuild reference: when the frozen base width equals the full
      // corpus's sizing (true at every shipped scale — the delta is 10%
      // and P is a ceil'd log2), the session-cached full graph IS the
      // rebuild (identical construction), so the differential costs two
      // anti-joins, not a second 200k-vector graph build; a width
      // mismatch falls back to an explicit rebuild at the frozen width.
      val edgesRebuild =
        if (p == knnGraphP(emb.count())) knnGraphShared(s, d)._2
        else symmetrized(buildKnnOut4(emb, p)._1)
      val onlyIncr = edgesIncr
        .join(edgesRebuild, Seq("src", "dst"), "left_anti").count()
      val onlyRebuild = edgesRebuild
        .join(edgesIncr, Seq("src", "dst"), "left_anti").count()
      import s.implicits._
      Seq((("knn_graph_incr"), nBase, nDelta,
          onlyIncr + onlyRebuild, onlyIncr + onlyRebuild == 0L,
          foldOverflow))
        .toDF("method", "n_base", "n_delta", "edge_diff",
          "incr_equals_rebuild", "fold_overflow_buckets")
    }),

    "q_vector_stats" -> ((s, d) => Tables.embeddings(s, d)
      .groupBy("label")
      .agg(count(lit(1)).as("n"),
        round(avg(vec_norm(col("embedding"))), 4).as("avg_norm"),
        round(avg(element_at(col("embedding"), 1)), 4).as("avg_c0"))
      .orderBy("label")))

  /** Shared CTE chain for the k-means oracles: 3 Lloyd iterations
    * unrolled, identical decimal-exact centroid sums and left-assoc
    * distance chains; ends with assignment `a3` and centroids `k3`. */
  private def kmeansCtes: String = {
    val xs = kmDims.map(i => s"embedding[$i]::DOUBLE AS x$i").mkString(", ")
    def cent(src: String, key: String, out: String): String = {
      val cs = kmDims.map(i =>
        s"sum(x$i::DECIMAL(20,10))::DOUBLE / count(*) AS c$i").mkString(", ")
      s"$out AS (SELECT $key AS cid, count(*) AS cn, $cs FROM $src GROUP BY 1)"
    }
    def assign(centSrc: String, out: String): String = {
      val dist = kmDims.map(i => s"(x$i - c$i) * (x$i - c$i)").mkString(" + ")
      val keep = kmDims.map(i => s"x$i").mkString(", ")
      s"""$out AS (
         |  SELECT vec_id, $keep, arg_min(cid, $dist) AS asg
         |  FROM emb CROSS JOIN $centSrc GROUP BY vec_id, $keep)""".stripMargin
    }
    s"""WITH emb AS (SELECT vec_id, label, $xs FROM embeddings),
       |${cent("emb", "label", "k0")},
       |${assign("k0", "a1")},
       |${cent("a1", "asg", "k1")},
       |${assign("k1", "a2")},
       |${cent("a2", "asg", "k2")},
       |${assign("k2", "a3")},
       |${cent("a3", "asg", "k3")}""".stripMargin
  }

  private def kmeansOracle: String =
    s"""$kmeansCtes
       |SELECT cid, cn AS n, round(c1, 4) AS c1, round(c2, 4) AS c2,
       |  round(c3, 4) AS c3, round(c4, 4) AS c4
       |FROM k3 ORDER BY cid""".stripMargin

  private def semanticDedupOracle: String = {
    val dist = kmDims.map(i => s"(x$i - c$i) * (x$i - c$i)").mkString(" + ")
    val dot = kmDims.map(i => s"a3.x$i * r$i").mkString(" + ")
    val nx = kmDims.map(i => s"a3.x$i * a3.x$i").mkString(" + ")
    val nr = kmDims.map(i => s"r$i * r$i").mkString(" + ")
    val repCols = kmDims.map(i => s"m.x$i AS r$i").mkString(", ")
    s"""$kmeansCtes,
       |repd AS (
       |  SELECT asg AS cid, vec_id, $dist AS dd,
       |         min($dist) OVER (PARTITION BY asg) AS md
       |  FROM a3 JOIN k3 ON a3.asg = k3.cid),
       |reps AS (
       |  -- min-dist then min-id: arg_min has no tie-break, and the 10x
       |  -- corpus ties exactly (sign-scrambled copies preserve norms)
       |  SELECT cid, min(vec_id) AS rep_id FROM repd
       |  WHERE dd = md GROUP BY 1),
       |repx AS (
       |  SELECT reps.cid, reps.rep_id, $repCols
       |  FROM reps JOIN a3 m ON m.asg = reps.cid AND m.vec_id = reps.rep_id)
       |SELECT repx.cid, rep_id, count(*) AS n_members,
       |  sum(CASE WHEN vec_id <> rep_id
       |    AND ($dot) / (sqrt($nx) * sqrt($nr)) >= 0.95
       |    THEN 1 ELSE 0 END)::BIGINT AS n_dups
       |FROM a3 JOIN repx ON a3.asg = repx.cid
       |GROUP BY 1, 2 ORDER BY repx.cid""".stripMargin
  }

  private[graft] def ivfIncrementalOracle: String = {
    val xs = kmDims.map(i => s"embedding[$i]::DOUBLE AS x$i").mkString(", ")
    val cs = kmDims.map(i =>
      s"sum(x$i::DECIMAL(20,10))::DOUBLE / count(*) AS c$i").mkString(", ")
    val dist = kmDims.map(i => s"(x$i - c$i) * (x$i - c$i)").mkString(" + ")
    val keep = kmDims.map(i => s"x$i").mkString(", ")
    s"""WITH emb AS (SELECT vec_id, label, $xs FROM embeddings),
       |base AS (SELECT * FROM emb WHERE vec_id % 10 <> 3),
       |delta AS (SELECT * FROM emb WHERE vec_id % 10 = 3),
       |cent AS (SELECT label AS cid, $cs FROM base GROUP BY 1),
       |ab AS (SELECT vec_id, arg_min(cid, $dist) AS asg
       |       FROM base CROSS JOIN cent GROUP BY vec_id, $keep),
       |ad AS (SELECT vec_id, arg_min(cid, $dist) AS asg
       |       FROM delta CROSS JOIN cent GROUP BY vec_id, $keep),
       |bl AS (SELECT asg AS cid, count(*) AS n_base FROM ab GROUP BY 1),
       |dl AS (SELECT asg AS cid, count(*) AS n_delta FROM ad GROUP BY 1)
       |SELECT coalesce(bl.cid, dl.cid) AS cid,
       |  coalesce(n_base, 0) AS n_base, coalesce(n_delta, 0) AS n_delta,
       |  coalesce(n_base, 0) + coalesce(n_delta, 0) AS n_total
       |FROM bl FULL OUTER JOIN dl ON bl.cid = dl.cid
       |ORDER BY cid""".stripMargin
  }

  private def embedDriftOracle: String = {
    val xs = kmDims.map(i => s"embedding[$i]::DOUBLE AS x$i").mkString(", ")
    def cs(p: String) = kmDims.map(i =>
      s"sum(x$i::DECIMAL(20,10))::DOUBLE / count(*) AS $p$i").mkString(", ")
    val dot = kmDims.map(i => s"a$i * b$i").mkString(" + ")
    val na = kmDims.map(i => s"a$i * a$i").mkString(" + ")
    val nb = kmDims.map(i => s"b$i * b$i").mkString(" + ")
    s"""WITH emb AS (SELECT vec_id, label, $xs FROM embeddings),
       |ca AS (SELECT label, count(*) AS n_a, ${cs("a")}
       |       FROM emb WHERE vec_id % 2 = 0 GROUP BY 1),
       |cb AS (SELECT label, count(*) AS n_b, ${cs("b")}
       |       FROM emb WHERE vec_id % 2 = 1 GROUP BY 1)
       |SELECT label, n_a, n_b,
       |  round(($dot) / (sqrt($na) * sqrt($nb)), 4) AS centroid_cos
       |FROM ca JOIN cb USING (label)
       |ORDER BY label""".stripMargin
  }

  private def embedOutliersOracle: String = {
    val xs = kmDims.map(i => s"embedding[$i]::DOUBLE AS x$i").mkString(", ")
    val cs = kmDims.map(i =>
      s"sum(x$i::DECIMAL(20,10))::DOUBLE / count(*) AS c$i").mkString(", ")
    val dist = kmDims.map(i => s"(x$i - c$i) * (x$i - c$i)").mkString(" + ")
    s"""WITH emb AS (SELECT vec_id, label, $xs FROM embeddings),
       |cent AS (SELECT label, $cs FROM emb GROUP BY 1)
       |SELECT vec_id, label, round($dist, 4) AS dist_sq
       |FROM emb JOIN cent USING (label)
       |ORDER BY dist_sq DESC, vec_id LIMIT 10""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    "q_ivf_incremental" -> ivfIncrementalOracle,
    "q_embed_drift" -> embedDriftOracle,
    "q_embed_outliers" -> embedOutliersOracle,
    "q_kmeans" -> kmeansOracle,
    "q_semantic_dedup" -> semanticDedupOracle,

    // HUGEINT (int128) mirrors Spark's decimal(38,0): both exact, so
    // every Gram sum / matrix-vector product / projection is the SAME
    // integer in both engines; only the final display division is float
    "q_pca_power" ->
      """WITH ex AS (
        |  SELECT vec_id, i, round(embedding[i + 1]::DOUBLE * 1000)::BIGINT AS x
        |  FROM embeddings, range(0, 64) t(i)),
        |gram AS (
        |  SELECT a.i AS i, b.i AS j, sum(a.x * b.x) AS g
        |  FROM ex a JOIN ex b USING (vec_id) GROUP BY 1, 2),
        |v1 AS (SELECT i AS vi, sum(g) AS v FROM gram GROUP BY 1),
        |v2 AS (SELECT gram.i, sum(gram.g::HUGEINT * v1.v) AS v
        |       FROM gram JOIN v1 ON gram.j = v1.vi GROUP BY 1),
        |proj AS (SELECT ex.vec_id, sum(ex.x::HUGEINT * v2.v) AS p
        |         FROM ex JOIN v2 USING (i) GROUP BY 1),
        |mm AS (SELECT max(abs(p)) AS m FROM proj)
        |SELECT vec_id,
        |  CASE WHEN m > 0 THEN round(p::DOUBLE / m::DOUBLE, 4) ELSE 0 END
        |    AS proj_rel
        |FROM proj, mm
        |ORDER BY abs(proj_rel) DESC, vec_id LIMIT 10""".stripMargin,

    "q_hybrid_retrieval" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS term
        |  FROM documents),
        |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
        |nd AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
        |ad AS (SELECT sum(dl)::DOUBLE / count(*) AS avgdl FROM dl),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
        |       WHERE term IN ('spark', 'join', 'vector') GROUP BY 1, 2),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |contrib AS (
        |  SELECT doc_id,
        |    round(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
        |          * (tf * 2.2)
        |          / (tf + 1.2 * (0.25 + (0.75 * dl) / avgdl))
        |          * 1e6)::BIGINT AS c_e6
        |  FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id), nd, ad),
        |bm AS (SELECT doc_id, round(sum(c_e6) / 1e6, 4) AS bm25
        |       FROM contrib GROUP BY doc_id
        |       ORDER BY bm25 DESC, doc_id LIMIT 20),
        |sparse AS (SELECT doc_id,
        |    row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank_sparse
        |  FROM bm),
        |cs AS (SELECT e.vec_id AS doc_id,
        |    round(list_dot_product(e.embedding::DOUBLE[], q.qv::DOUBLE[]) /
        |      (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
        |       sqrt(list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[]))), 4) AS cos_sim
        |  FROM embeddings e,
        |       (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q
        |  WHERE e.vec_id <> 0
        |  ORDER BY cos_sim DESC, doc_id LIMIT 20),
        |dense AS (SELECT doc_id,
        |    row_number() OVER (ORDER BY cos_sim DESC, doc_id) AS rank_dense
        |  FROM cs)
        |SELECT coalesce(s.doc_id, de.doc_id) AS doc_id,
        |  coalesce(round(1e9 / (60 + rank_sparse))::BIGINT, 0)
        |    + coalesce(round(1e9 / (60 + rank_dense))::BIGINT, 0) AS rrf_e9,
        |  rank_sparse, rank_dense
        |FROM sparse s FULL OUTER JOIN dense de ON s.doc_id = de.doc_id
        |ORDER BY rrf_e9 DESC, doc_id LIMIT 10""".stripMargin,

    "q_rag_e2e" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS term
        |  FROM documents),
        |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
        |nd AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
        |ad AS (SELECT sum(dl)::DOUBLE / count(*) AS avgdl FROM dl),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
        |       WHERE term IN ('spark', 'join', 'vector') GROUP BY 1, 2),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |contrib AS (
        |  SELECT doc_id,
        |    round(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
        |          * (tf * 2.2)
        |          / (tf + 1.2 * (0.25 + (0.75 * dl) / avgdl))
        |          * 1e6)::BIGINT AS c_e6
        |  FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id), nd, ad),
        |bm AS (SELECT doc_id, round(sum(c_e6) / 1e6, 4) AS bm25
        |       FROM contrib GROUP BY doc_id
        |       ORDER BY bm25 DESC, doc_id LIMIT 20),
        |sparse AS (SELECT doc_id,
        |    row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank_sparse
        |  FROM bm),
        |cs AS (SELECT e.vec_id AS doc_id,
        |    round(list_dot_product(e.embedding::DOUBLE[], q.qv::DOUBLE[]) /
        |      (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
        |       sqrt(list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[]))), 4) AS cos_sim
        |  FROM embeddings e,
        |       (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q
        |  WHERE e.vec_id <> 0
        |  ORDER BY cos_sim DESC, doc_id LIMIT 20),
        |dense AS (SELECT doc_id,
        |    row_number() OVER (ORDER BY cos_sim DESC, doc_id) AS rank_dense
        |  FROM cs),
        |fused AS (SELECT coalesce(s.doc_id, de.doc_id) AS doc_id,
        |    coalesce(round(1e9 / (60 + rank_sparse))::BIGINT, 0)
        |      + coalesce(round(1e9 / (60 + rank_dense))::BIGINT, 0) AS rrf_e9
        |  FROM sparse s FULL OUTER JOIN dense de ON s.doc_id = de.doc_id),
        |top5 AS (SELECT doc_id FROM fused ORDER BY rrf_e9 DESC, doc_id LIMIT 5),
        |tk AS (SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), t -> t <> '') AS tk
        |  FROM documents JOIN top5 USING (doc_id)),
        |c AS (SELECT doc_id, tk,
        |    unnest(range(0, greatest(len(tk) - 16, 1)::BIGINT, 48)) AS start
        |  FROM tk),
        |scored AS (SELECT doc_id, (start / 48)::BIGINT AS chunk_idx,
        |    len(list_filter(tk[start + 1 : start + 64],
        |        t -> list_contains(['spark', 'join', 'vector'], t)))::BIGINT
        |      AS n_hits,
        |    md5(array_to_string(tk[start + 1 : start + 64], ' ')) AS chunk_md5
        |  FROM c),
        |top3 AS (SELECT * FROM scored
        |         ORDER BY n_hits DESC, doc_id, chunk_idx LIMIT 3)
        |SELECT row_number() OVER (ORDER BY n_hits DESC, doc_id, chunk_idx)::BIGINT
        |    AS rank,
        |  doc_id, chunk_idx, n_hits, chunk_md5
        |FROM top3 ORDER BY rank""".stripMargin,

    "q_knn_brute" ->
      """SELECT e.vec_id,
        |  round(list_dot_product(e.embedding::DOUBLE[], q.qv::DOUBLE[]) /
        |    (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
        |     sqrt(list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[]))), 4) AS cos_sim
        |FROM embeddings e,
        |     (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q
        |WHERE e.vec_id <> 0
        |ORDER BY cos_sim DESC, e.vec_id LIMIT 10""".stripMargin,

    "q_knn_join_lsh" ->
      """SELECT 'lsh_join' AS method,
        |  (SELECT count(*) FROM embeddings WHERE vec_id % 100 = 7)::BIGINT
        |    AS n_queries,
        |  3 AS k, true AS recall_ok""".stripMargin,

    "q_knn_join" ->
      """WITH scored AS (
        |  SELECT q.vec_id AS q_id, e.vec_id AS n_id,
        |    round(list_dot_product(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) /
        |      (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
        |       sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))), 4)
        |      AS cos_sim
        |  FROM embeddings e, embeddings q
        |  WHERE q.vec_id % 100 = 7 AND e.vec_id % 100 <> 7),
        |ranked AS (
        |  SELECT q_id, n_id, cos_sim,
        |    row_number() OVER (PARTITION BY q_id
        |      ORDER BY cos_sim DESC, n_id) AS rank
        |  FROM scored)
        |SELECT q_id, rank::INT AS rank, n_id, cos_sim
        |FROM ranked WHERE rank <= 3
        |ORDER BY q_id, rank""".stripMargin,

    // recall-guarantee rows: the boolean is computed in-plan against the
    // exact top-10; DuckDB pins the contract (same trick as hll_ok)
    "q_knn_ivf" -> "SELECT 'ivf' AS method, 10 AS k, 8 AS min_hits, true AS recall_ok",
    "q_knn_lsh" -> "SELECT 'lsh' AS method, 10 AS k, 8 AS min_hits, true AS recall_ok",
    "q_knn_quantized" -> "SELECT 'int8' AS method, 10 AS k, 8 AS min_hits, true AS recall_ok",

    // prefix-cosine shortlist of 32 (rounded, id ties) then full-dim
    // rerank — slice and cosine identical in both engines
    "q_knn_matryoshka" ->
      """WITH e AS (
        |  SELECT vec_id, embedding, embedding[1:16] AS head16
        |  FROM embeddings),
        |q AS (SELECT head16 AS qh, embedding AS qv FROM e WHERE vec_id = 0),
        |shortlist AS (
        |  SELECT e.vec_id, e.embedding, q.qv,
        |    round(list_dot_product(e.head16::DOUBLE[], q.qh::DOUBLE[]) /
        |      (sqrt(list_dot_product(e.head16::DOUBLE[], e.head16::DOUBLE[])) *
        |       sqrt(list_dot_product(q.qh::DOUBLE[], q.qh::DOUBLE[]))), 4)
        |      AS head_cos
        |  FROM e, q WHERE e.vec_id <> 0
        |  ORDER BY head_cos DESC, e.vec_id LIMIT 32)
        |SELECT vec_id, head_cos,
        |  round(list_dot_product(embedding::DOUBLE[], qv::DOUBLE[]) /
        |    (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) *
        |     sqrt(list_dot_product(qv::DOUBLE[], qv::DOUBLE[]))), 4) AS cos_sim
        |FROM shortlist
        |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin,

    // same rounded-gain rankings, same 10 discount literals, same
    // decimal-exact DCG sums — value-checked, not a flag
    "q_retrieval_ndcg" -> {
      val discList = ndcgDiscounts.mkString("[", ", ", "]")
      s"""WITH e AS (
         |  SELECT vec_id, embedding, embedding[1:16] AS head16
         |  FROM embeddings),
         |q AS (SELECT head16 AS qh, embedding AS qv FROM e WHERE vec_id = 0),
         |shortlist AS (
         |  SELECT e.vec_id, e.embedding, q.qv,
         |    round(list_dot_product(e.head16::DOUBLE[], q.qh::DOUBLE[]) /
         |      (sqrt(list_dot_product(e.head16::DOUBLE[], e.head16::DOUBLE[])) *
         |       sqrt(list_dot_product(q.qh::DOUBLE[], q.qh::DOUBLE[]))), 4)
         |      AS head_cos
         |  FROM e, q WHERE e.vec_id <> 0
         |  ORDER BY head_cos DESC, e.vec_id LIMIT 32),
         |approx AS (
         |  SELECT vec_id,
         |    round(list_dot_product(embedding::DOUBLE[], qv::DOUBLE[]) /
         |      (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) *
         |       sqrt(list_dot_product(qv::DOUBLE[], qv::DOUBLE[]))), 4) AS gain
         |  FROM shortlist ORDER BY gain DESC, vec_id LIMIT 10),
         |ideal AS (
         |  SELECT e.vec_id,
         |    round(list_dot_product(e.embedding::DOUBLE[], q.qv::DOUBLE[]) /
         |      (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
         |       sqrt(list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[]))), 4) AS gain
         |  FROM e, q WHERE e.vec_id <> 0 ORDER BY gain DESC, e.vec_id LIMIT 10),
         |ar AS (SELECT gain, row_number() OVER (ORDER BY gain DESC, vec_id) AS rn
         |  FROM approx),
         |ir AS (SELECT gain, row_number() OVER (ORDER BY gain DESC, vec_id) AS rn
         |  FROM ideal),
         |d AS (SELECT sum((gain * ($discList::DOUBLE[])[rn])::DECIMAL(30,12))
         |  ::DOUBLE AS dcg FROM ar),
         |i AS (SELECT sum((gain * ($discList::DOUBLE[])[rn])::DECIMAL(30,12))
         |  ::DOUBLE AS idcg FROM ir)
         |SELECT 'matryoshka' AS method, 10 AS k, round(dcg, 4) AS dcg,
         |  round(idcg, 4) AS idcg, round(dcg / idcg, 4) AS ndcg
         |FROM d, i""".stripMargin
    },

    // batch twin: same bit-identical signatures, per-query Hamming
    // top-8 then cosine top-3, both rankings tie-broken by id
    "q_knn_binary_join" ->
      """WITH sigs AS (
        |  SELECT vec_id, embedding,
        |    list_sum(list_transform(range(32), i -> CASE
        |      WHEN embedding[i+1] > 0 THEN (1::BIGINT << i)
        |      ELSE 0::BIGINT END))::BIGINT AS sig_lo,
        |    list_sum(list_transform(range(32), i -> CASE
        |      WHEN embedding[i+33] > 0 THEN (1::BIGINT << i)
        |      ELSE 0::BIGINT END))::BIGINT AS sig_hi
        |  FROM embeddings),
        |ham AS (
        |  SELECT q.vec_id AS q_id, e.vec_id AS n_id, e.embedding,
        |    q.embedding AS qv,
        |    (bit_count(xor(e.sig_lo, q.sig_lo)) +
        |     bit_count(xor(e.sig_hi, q.sig_hi)))::INT AS hamming
        |  FROM sigs e, sigs q
        |  WHERE q.vec_id % 100 = 7 AND e.vec_id % 100 <> 7),
        |shortlist AS (
        |  SELECT *, row_number() OVER (PARTITION BY q_id
        |    ORDER BY hamming, n_id) AS hrank
        |  FROM ham),
        |scored AS (
        |  SELECT q_id, n_id, hamming,
        |    round(list_dot_product(embedding::DOUBLE[], qv::DOUBLE[]) /
        |      (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) *
        |       sqrt(list_dot_product(qv::DOUBLE[], qv::DOUBLE[]))), 4) AS cos_sim
        |  FROM shortlist WHERE hrank <= 8),
        |ranked AS (
        |  SELECT q_id, n_id, hamming, cos_sim,
        |    row_number() OVER (PARTITION BY q_id
        |      ORDER BY cos_sim DESC, n_id) AS rank
        |  FROM scored)
        |SELECT q_id, rank::INT AS rank, n_id, hamming, cos_sim
        |FROM ranked WHERE rank <= 3
        |ORDER BY q_id, rank""".stripMargin,

    // bit-identical signature rebuild: 32 sign bits per word via integer
    // shifts, Hamming shortlist of 32, exact-cosine rerank — both
    // rankings tie-broken by vec_id, so the 10 rows hash-match exactly
    "q_knn_binary" ->
      """WITH sigs AS (
        |  SELECT vec_id, embedding,
        |    list_sum(list_transform(range(32), i -> CASE
        |      WHEN embedding[i+1] > 0 THEN (1::BIGINT << i)
        |      ELSE 0::BIGINT END))::BIGINT AS sig_lo,
        |    list_sum(list_transform(range(32), i -> CASE
        |      WHEN embedding[i+33] > 0 THEN (1::BIGINT << i)
        |      ELSE 0::BIGINT END))::BIGINT AS sig_hi
        |  FROM embeddings),
        |q AS (SELECT sig_lo AS q_lo, sig_hi AS q_hi, embedding AS qv
        |      FROM sigs WHERE vec_id = 0),
        |shortlist AS (
        |  SELECT e.vec_id, e.embedding, q.qv,
        |    (bit_count(xor(e.sig_lo, q.q_lo)) +
        |     bit_count(xor(e.sig_hi, q.q_hi)))::INT AS hamming
        |  FROM sigs e, q WHERE e.vec_id <> 0
        |  ORDER BY hamming, e.vec_id LIMIT 32)
        |SELECT vec_id, hamming,
        |  round(list_dot_product(embedding::DOUBLE[], qv::DOUBLE[]) /
        |    (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) *
        |     sqrt(list_dot_product(qv::DOUBLE[], qv::DOUBLE[]))), 4) AS cos_sim
        |FROM shortlist
        |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin,
    "q_knn_pq" -> "SELECT 'pq_m8k16' AS method, 10 AS k, 8 AS min_hits, true AS recall_ok",
    "q_knn_pq8" -> "SELECT 'pq_m8k256' AS method, 10 AS k, 8 AS min_hits, true AS recall_ok",
    "q_knn_graph" -> ("SELECT 'nsw_beam_t3' AS method, 10 AS k, 8 AS min_hits, " +
      "true AS recall_ok, 0::BIGINT AS overflow_buckets"),

    "q_graph_incremental" ->
      """SELECT 'knn_graph_incr' AS method,
        |  (SELECT count(*) + 12 FROM embeddings
        |   WHERE NOT (vec_id % 10 = 7 AND vec_id < 9200000)) AS n_base,
        |  (SELECT count(*) FROM embeddings
        |   WHERE vec_id % 10 = 7 AND vec_id < 9200000) AS n_delta,
        |  0::BIGINT AS edge_diff, true AS incr_equals_rebuild,
        |  0::BIGINT AS fold_overflow_buckets""".stripMargin,
    "q_knn_ivfpq" -> "SELECT 'ivfpq_np2_m8k16' AS method, 10 AS k, 8 AS min_hits, true AS recall_ok",
    "q_knn_ivfpq8" -> "SELECT 'ivfpq_np2_m8k256' AS method, 10 AS k, 8 AS min_hits, true AS recall_ok",

    // blocking is LSH-bucketed in Spark; the oracle is the all-pairs
    // ground truth (cheap in DuckDB at gate scale), so any blocking miss
    // of a ≥0.9 pair fails the gate
    "q_embed_neardup" ->
      """WITH emb AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL SELECT 9000001::BIGINT, embedding FROM embeddings WHERE vec_id = 1
        |  UNION ALL SELECT 9000002::BIGINT, embedding FROM embeddings WHERE vec_id = 1)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
        |    (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
        |     sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 4) AS cos_sim,
        |  0::BIGINT AS overflow_buckets
        |FROM emb a JOIN emb b
        |  ON a.vec_id < b.vec_id
        |WHERE round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
        |    (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
        |     sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 4) >= 0.9
        |ORDER BY 1, 2""".stripMargin,

    "q_vector_stats" ->
      """SELECT label, count(*) AS n,
        |  round(avg(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))), 4)
        |    AS avg_norm,
        |  round(avg(embedding[1]), 4) AS avg_c0
        |FROM embeddings GROUP BY 1 ORDER BY 1""".stripMargin)
}
