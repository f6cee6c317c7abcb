package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions._

/**
 * Probabilistic-sketch queries (SURVEY.md §2c — the reference's core).
 *
 * Most ARE oracle-checked, via a sizing argument: at the gate scale the
 * sketch is strictly larger than the keyspace it summarizes (CMS width
 * 2719 vs 150 keys; theta/HLL exact below their retention thresholds;
 * GK/KLL uncompressed below `accuracy` samples), so the "estimate" is
 * provably the exact answer and DuckDB can compute it. Collision-regime
 * behavior (overestimate-only + ε·N, no false negatives, merge
 * homomorphism) is property-tested in SketchSpec where it cannot be
 * hash-matched. All seeds pinned to 42 → deterministic output.
 */
object SketchQueries {

  type Q = (SparkSession, String) => DataFrame

  /** Keyspace-sized ε for the user_id CMS demonstrations: width ≈
    * 43·ndv (collision-free estimates), floored at 1e-5 so the
    * broadcast sketch stays ≤ ~15 MB however large the corpus. Returns
    * (ε, confidence, exactRegime): exactRegime is true while the floor
    * did NOT bite (ndv ≤ 6250), i.e. the per-key estimate is provably
    * the exact count; above that the sketch honestly re-enters its ε·N
    * approximation regime and the consumers gate on the error BAND
    * instead of value equality (round 11, ADVICE r10 — the HLL/KLL
    * banding precedent). In that regime the gate asserts the bound for
    * EVERY key, but one sketch bounds each key only with probability
    * 1−δ — across ndv keys the expected violations are ndv·δ, so the
    * fixed 0.999 confidence would flake at exactly the scales the
    * regime-aware gate exists for (ADVICE r11). The confidence
    * therefore scales with the keyspace (δ = 0.001/ndv): the union
    * bound restores the all-keys guarantee at the original 0.999,
    * while depth grows only logarithmically — ln(1000·ndv) ≈ 28 rows
    * at 10⁹ keys. Cached per (session, dataset) — the ndv count is one
    * bounded agg. */
  private[graft] def userCmsParams(s: SparkSession, d: String): (Double, Double, Boolean) =
    SessionCache.get("user_cms_params", s, d, Seq("events.parquet")) {
      val ndv = Tables.events(s, d).select("user_id").distinct().count()
      val ideal = 1.0 / (16.0 * math.max(1L, ndv))
      val exactRegime = ideal >= 1e-5
      val conf =
        if (exactRegime) 0.999
        else math.min(1.0 - 1e-15, 1.0 - 0.001 / ndv)
      (math.max(1e-5, ideal), conf, exactRegime)
    }

  val queries: Map[String, Q] = Map(

    // exact count vs CMS estimate per event type (the reference's
    // signature comparison, batch form — flagship `entry`)
    "q_cms_event_counts" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val exact = ev.groupBy("event_type").agg(count(lit(1)).as("exact"))
      val sk = ev.agg(cms_agg(col("event_type"), 0.01, 0.99, 42).as("sk"))
      exact.join(broadcast(sk))
        .select(col("event_type"), col("exact"),
          cms_estimate(col("sk"), col("event_type")).as("estimate"))
        .orderBy("event_type")
    }),

    // CMS heavy-hitter check on the user_id domain. ε follows the
    // keyspace (round 10 — the sf0.1 contract sweep caught the fixed
    // ε=0.001 width 2719 colliding at 2000 users: est 130 vs exact 77,
    // the sketch's DESIGNED ε·N behavior, but the exact-twin oracle
    // can only ride the hash gate while estimates are collision-free):
    // width ≈ 43·ndv keeps every per-key estimate exact with margin
    // (P[key collides in all 7 rows] ≈ 0.023⁷ ≈ 4e-12), and the 1e-5
    // floor bounds the broadcast at ~15 MB — above ~6k keys the sketch
    // honestly re-enters its approximation regime, which is the
    // memory/error dial being the point (the q_approx_quantiles note).
    // The gate column is REGIME-AWARE (round 11): while the keyspace-
    // sized width holds (ndv ≤ 6250), est_ok pins estimate == exact —
    // the strictest checkable contract; once the 1e-5 floor bites,
    // est_ok pins the CMS guarantee itself (overestimate-only, within
    // ε·N) — the contract that is TRUE at every scale. The oracle pins
    // the flag; the exact twin column stays value-checked either way.
    "q_cms_user_freq" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val exact = ev.groupBy("user_id").agg(count(lit(1)).as("exact"))
      val (eps, conf, exactRegime) = userCmsParams(s, d)
      // the sketch ships as a TASK CONSTANT (driver-collected binary
      // literal), NOT a joined column (round 15): the 1-row broadcast-
      // join form copies the sketch bytes into EVERY joined row, and
      // once the 1e-5 eps floor bites (ndv > 6250 — every 10×+ corpus)
      // the ~15 MB sketch made the probe stage memcpy + content-compare
      // ~15 MB PER KEY ROW (measured: one 15-minute single task at 10×).
      // A binary literal rides the codegen references array instead —
      // one instance per task, identity-cached deserialization in
      // CmsEstimate, zero per-row copies. The collect is 1 row bounded
      // by the eps floor (the floor exists precisely to bound this
      // object), the documented bounded-collect class. Same rows, same
      // gate hashes; this is also the 100 TB shape — a probe-side sketch
      // is task state, never row payload.
      val skRow = ev.agg(cms_agg(col("user_id"), eps, conf, 42).as("sk"),
        count(lit(1)).as("n_total")).head
      val skBytes = skRow.getAs[Array[Byte]]("sk")
      val nTotal = skRow.getAs[Long]("n_total")
      val est = cms_estimate(lit(skBytes), col("user_id"))
      val ok =
        if (exactRegime) est === col("exact")
        else est >= col("exact") &&
          est <= col("exact") + lit(math.ceil(eps * nTotal).toLong)
      exact.select(col("user_id"), col("exact"), ok.as("est_ok"))
        .orderBy("user_id")
    }),

    // Bloom build on the fact side, probe the dimension — membership
    // with zero false negatives. Output carries the exact membership flag
    // plus the Bloom guarantee (`member ⇒ might_contain`, always true),
    // so the oracle checks the no-false-negative contract row by row
    // while staying DuckDB-expressible at any scale (false POSITIVES
    // never reach the output — `ok` is true for them too).
    "q_bloom_probe" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val pt = Tables.part(s, d)
      val sk = li.agg(bloom_agg(col("l_partkey"), 300000L, 0.01).as("bf"))
      val members = li.select(col("l_partkey")).distinct()
        .withColumn("is_member", lit(true))
      pt.join(broadcast(sk))
        .select(col("p_partkey"),
          bloom_might_contain(col("bf"), col("p_partkey")).as("mc"))
        .join(members, col("p_partkey") === col("l_partkey"), "left")
        .select(col("p_partkey"),
          coalesce(col("is_member"), lit(false)).as("is_member"),
          (coalesce(col("is_member"), lit(false)) === false || col("mc"))
            .as("no_false_negative"))
        .orderBy("p_partkey")
    }),

    // Bloom as a pre-filter for a semi-join: the reference's streaming
    // filter use-case in batch form. The bloom pass keeps all true
    // members (no false negatives); the exact semi-join then removes
    // the ≤fpp false positives.
    "q_bloom_semi_filter" -> ((s, d) => {
      val urgent = Tables.orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
      val li = Tables.lineitem(s, d)
      // two-job pattern (SURVEY.md §3.3): job 1 merges per-partition
      // blooms to the driver (~100 KB), which re-broadcasts it as a
      // literal — so the probe is a plain pushed-down predicate on the
      // fact scan, GUARANTEED to run before the exact semi join. (The
      // sketch-as-column form `join(broadcast(sk)).filter(probe)` reads
      // nicer but Catalyst's PushLeftSemiThroughJoin reorders the exact
      // semi join underneath the probe, making the bloom pure overhead.)
      val bf = lit(urgent
        .agg(bloom_agg(col("o_orderkey"), 100000L, 0.01).as("bf"))
        .head().getAs[Array[Byte]]("bf"))
      li.filter(bloom_might_contain(bf, col("l_orderkey")))
        .join(urgent.select("o_orderkey"),
          col("l_orderkey") === col("o_orderkey"), "left_semi")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 4).as("sum_qty"))
        .orderBy("l_returnflag")
    }),

    // HLL / theta / KLL — the wider sketch family over built-ins.
    // approx_count_distinct (HLL++) is NOT exact even at small n (151 vs
    // 150 observed), so its oracle checks the published error contract:
    // |est − exact| ≤ 5·rsd (rsd = 0.01) — a deterministic boolean on
    // fixed data + fixed hash.
    "q_approx_distinct" -> ((s, d) => Tables.events(s, d)
      .groupBy("event_type")
      .agg(
        approx_count_distinct(col("user_id"), 0.01).as("hll"),
        countDistinct(col("user_id")).as("exact_users"))
      .select(col("event_type"), col("exact_users"),
        (abs(col("hll") - col("exact_users")).cast("double")
          / col("exact_users").cast("double") <= 0.05).as("hll_ok"))
      .orderBy("event_type")),

    "q_hll_sketch_union" -> ((s, d) => {
      val ev = Tables.events(s, d)
      // per-type HLL sketches, merged back via hll_union_agg — the
      // re-aggregatable "sketch table" pattern. The gate column is the
      // RELATIVE-ERROR BAND, not estimate == exact (round 10: at the
      // gate scales the lgK=12 sketch is sparse-mode exact, but the
      // sf0.1 contract sweep crossed it into dense estimation — 1488 vs
      // 1500, 0.8% = the designed ~1/√4096 accuracy; a 3% band holds
      // deterministically at every probed scale and IS the HLL
      // contract, where exactness was a small-keyspace accident).
      val perType = ev.groupBy("event_type")
        .agg(hll_sketch_agg(col("user_id")).as("hll"))
      val union = perType.agg(
        round(hll_sketch_estimate(hll_union_agg(col("hll"))), 0)
          .cast("long").as("users_union"))
      union.crossJoin(ev.agg(countDistinct(col("user_id")).as("users_exact")))
        .select(col("users_exact"),
          (abs(col("users_union") - col("users_exact")).cast("double")
            <= lit(0.03) * col("users_exact")).as("union_rel_err_ok"))
    }),

    // GK summary with accuracy 1e6: below that many samples per group the
    // summary is uncompressed → the "approximate" percentile is the exact
    // discrete quantile (verified == DuckDB quantile_disc). At 100 TB the
    // same query runs with accuracy ~1e4 and the ε·n rank guarantee —
    // accuracy is THE memory/error dial of GK, which is the point.
    "q_approx_quantiles" -> ((s, d) => Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        round(expr("approx_percentile(l_extendedprice, 0.5, 1000000)"), 4).as("ap50"),
        round(expr("approx_percentile(l_extendedprice, 0.99, 1000000)"), 4).as("ap99"))
      .orderBy("l_returnflag")),

    // theta keeps raw hashes until ~4096 distinct → exact here; the
    // estimate IS count(distinct) and hash-checks against it.
    // Contract shape is the q_bloom_cardinality guarantee flag, not the
    // raw estimate (round 14): the 10× sweep showed the old
    // `theta_users = exact_users` oracle was EXACT-MODE-SCOPED — below
    // the sketch's nominal k the estimate is exact and the equality
    // held at every gate scale, but past k the sketch correctly
    // switches to (retained−1)/θ estimation (measured at 10×: 15047 vs
    // 15000 exact = 0.31% error, well inside k=4096's ~1.6% RSE) and
    // no DuckDB SQL can reproduce the library's internal hash. The
    // bound below is ~3·RSE; the flag is scale-true instead of
    // accidentally-exact.
    "q_theta_sketch" -> ((s, d) => {
      val ev = Tables.events(s, d)
      ev.groupBy("event_type")
        .agg(expr("theta_sketch_estimate(theta_sketch_agg(user_id))")
            .cast("double").as("theta_est"),
          countDistinct(col("user_id")).as("exact_users"))
        .select(col("event_type"), col("exact_users"),
          (abs(col("theta_est") - col("exact_users").cast("double"))
            <= greatest(lit(3.0), lit(0.047) * col("exact_users")))
            .as("theta_ok"))
        .orderBy("event_type")
    }),

    // CMS sketch table: per-type partial sketches re-aggregated to a
    // global sketch (exact homomorphism — byte-identical to a direct
    // build, proven in SketchSpec); estimates vs the exact counts
    "q_cms_sketch_table" -> ((s, d) => {
      val ev = Tables.events(s, d)
      // keyspace-sized ε + regime-aware gate, see q_cms_user_freq —
      // including the round-15 task-constant probe: the MERGED global
      // sketch is collected once (1 row, eps-floor-bounded) and probed
      // as a binary literal; the per-type partial sketches still flow
      // through the agg as columns (bounded: one row per type), which
      // is the re-aggregation this query exists to prove.
      val (eps, conf, exactRegime) = userCmsParams(s, d)
      val perType = ev.groupBy("event_type")
        .agg(cms_agg(col("user_id"), eps, conf, 42).as("sk"))
      val gRow = perType.agg(cms_merge_agg(col("sk")).as("sk"))
        .crossJoin(ev.agg(count(lit(1)).as("n_total"))).head
      val gBytes = gRow.getAs[Array[Byte]]("sk")
      val nTotal = gRow.getAs[Long]("n_total")
      val est = cms_estimate(lit(gBytes), col("user_id"))
      val ok =
        if (exactRegime) est === col("exact")
        else est >= col("exact") &&
          est <= col("exact") + lit(math.ceil(eps * nTotal).toLong)
      ev.groupBy("user_id").agg(count(lit(1)).as("exact"))
        .select(col("user_id"), col("exact"), ok.as("est_merged_ok"))
        .orderBy("user_id")
    }),

    // re-aggregatable top-k sketch table: per-language accumulators merged
    // with approx_top_k_combine — the same partial/merge pattern as the
    // hll_union sketch table (sketch state survives re-grouping)
    "q_topk_reagg" -> ((s, d) => {
      val words = Tables.documents(s, d)
        .select(col("lang"), explode(tokens(col("text"))).as("word"))
      val perLang = words.groupBy("lang")
        .agg(expr("approx_top_k_accumulate(word, 10000)").as("acc"))
      // estimate k = maxItemsTracked → FULL exact histogram, then OUR
      // ORDER BY cnt DESC, word LIMIT 50 decides the boundary — see
      // q_heavy_hitters for why (tie-proof rank-50 boundary, ADVICE r14)
      perLang.agg(expr(
          "approx_top_k_estimate(approx_top_k_combine(acc, 10000), 10000)").as("tk"))
        .select(explode(col("tk")).as("e"))
        .select(col("e.item").as("word"), col("e.count").as("cnt"))
        .orderBy(col("cnt").desc, col("word"))
        .limit(50)
    }),

    // bounded top-k per group via TopKAgg: k-element heaps per partition,
    // merged map-side — the shuffle carries <= k rows per (group,
    // partition) instead of every row, and nothing is globally sorted.
    // Oracle: the window-rank formulation (which DOES sort everything) —
    // same answer, structurally different plan, ✦-checked.
    "q_topk_per_group" -> ((s, d) => Tables.lineitem(s, d)
      .select(col("l_returnflag"), col("l_extendedprice"),
        (col("l_orderkey") * 10 + col("l_linenumber")).as("id"))
      .groupBy("l_returnflag")
      .agg(topk_agg(col("l_extendedprice"), col("id"), 3).as("tk"))
      .select(col("l_returnflag"), posexplode(col("tk")).as(Seq("p", "e")))
      .select(col("l_returnflag"), (col("p") + 1).as("pos"),
        round(col("e.score"), 4).as("price"), col("e.id").as("id"))
      .orderBy("l_returnflag", "pos")),

    // exact distinct at scale via the bitmap family: per-(group, bucket)
    // fixed-size bitmaps built distributed, OR-merged, bit-counted. The
    // exact re-aggregatable twin of the HLL sketch table — 100 TB pattern
    // when the id domain is dense enough that ~4 KB/bucket beats a
    // count(distinct) shuffle of raw ids.
    "q_bitmap_distinct" -> ((s, d) => Tables.events(s, d)
      .select(col("event_type"),
        expr("bitmap_bucket_number(user_id)").as("bkt"),
        expr("bitmap_bit_position(user_id)").as("pos"))
      .groupBy("event_type", "bkt")
      // our TypedImperativeAggregate twin of bitmap_construct_agg: the
      // built-in's binary buffer forces SortAggregate (input fully sorted
      // at partial AND final stage); this plans as ObjectHashAggregate
      .agg(bitmap_agg(col("pos")).as("bm"))
      .groupBy("event_type")
      .agg(sum(expr("bitmap_count(bm)")).as("n_users"))
      .orderBy("event_type")),

    // approx_top_k is EXACT whenever distinct items ≤ maxItemsTracked
    // (every counter is individually maintained — the sketch only sheds
    // items past capacity). Estimate with k = maxItemsTracked → the
    // FULL exact histogram, then OUR `ORDER BY cnt DESC, word LIMIT 50`
    // decides the rank-50 boundary. Asking the sketch for k=50 directly
    // is tie-FRAGILE (ADVICE r14): the N×-replicated corpora turn every
    // base word into an exact count-tie group of size = copies, and when
    // the 50/51 boundary lands inside such a group the sketch's internal
    // boundary tie-break need not match the oracle's alphabetical one —
    // a by-corpus-luck pass. With the full histogram the boundary
    // tie-break is this query's own deterministic total order on
    // (cnt DESC, word ASC), structurally identical to the DuckDB oracle
    // at ANY corpus with vocabulary ≤ maxItemsTracked. At gate scale
    // (vocab ≤ 50) the limit never binds — hashes unchanged.
    "q_heavy_hitters" -> ((s, d) => {
      Tables.documents(s, d)
        .select(explode(tokens(col("text"))).as("word"))
        .agg(expr("approx_top_k(word, 10000, 10000)").as("tk"))
        .select(explode(col("tk")).as("e"))
        .select(col("e.item").as("word"), col("e.count").as("cnt"))
        .orderBy(col("cnt").desc, col("word"))
        .limit(50)
    }),

    // membership AND cardinality from one sketch: the Swamidass–Baldi
    // fill-ratio estimate n̂ = −(m/k)·ln(1−X/m) reads the distinct
    // count out of the Bloom filter a pipeline already built for
    // membership — no second HLL pass over 100 TB. The per-type filter
    // is a bounded aggregate; the estimate is arithmetic on its bit
    // count. Contract oracle: |n̂ − ndv| within max(3, 3%) at this
    // fill (deterministic — Spark's Bloom hash family is fixed-seed).
    "q_bloom_cardinality" -> ((s, d) => {
      val ev = Tables.events(s, d)
      ev.groupBy("event_type")
        .agg(bloom_agg(col("user_id"), 5000L, 0.03).as("bf"),
          countDistinct(col("user_id")).as("exact_ndv"))
        .select(col("event_type"), col("exact_ndv"),
          (abs(bloom_ndv(col("bf")) - col("exact_ndv").cast("double"))
            <= greatest(lit(3.0), lit(0.03) * col("exact_ndv")))
            .as("sb_ok"))
        .orderBy("event_type")
    }),

    // join-size estimation WITHOUT running the join (CM05 §4.2): the
    // inner product of two same-family CMS sketches brackets |A ⋈ B|
    // as  exact ≤ est ≤ exact + ε·N₁·N₂ — at 100 TB this is the
    // constant-size planner probe that decides broadcast vs shuffle
    // before either side is shuffled. Both sketches are one-row
    // aggregates (partial+final, ~112 KB each at ε=0.001); everything
    // after them is arithmetic on two rows. The lower bound is
    // deterministic (counters only overcount); the upper bound is the
    // published 1−δ contract, a fixed boolean at the pinned seed.
    "q_cms_join_size" -> ((s, d) => {
      val eps = 0.001
      val ev = Tables.events(s, d)
      val or = Tables.orders(s, d)
      val skL = ev.agg(
        cms_agg(col("user_id"), eps, 0.999, 42).as("skl"),
        count(lit(1)).as("n_left"))
      val skR = or.agg(
        cms_agg(col("o_custkey"), eps, 0.999, 42).as("skr"),
        count(lit(1)).as("n_right"))
      val exact = ev.groupBy(col("user_id").as("k"))
        .agg(count(lit(1)).as("cl"))
        .join(or.groupBy(col("o_custkey").as("k")).agg(count(lit(1)).as("cr")), "k")
        .agg(coalesce(sum(col("cl") * col("cr")), lit(0L)).as("join_size"))
      skL.join(skR).join(exact)
        .select(col("n_left"), col("n_right"), col("join_size"),
          (cms_inner_product(col("skl"), col("skr")) >= col("join_size"))
            .as("no_underestimate"),
          (cms_inner_product(col("skl"), col("skr")).cast("double")
            <= col("join_size").cast("double")
               + lit(eps) * col("n_left") * col("n_right"))
            .as("within_eps"))
    }),

    // dyadic range queries over a FAMILY of CMS sketches (CM05 §4.3):
    // level ℓ sketches key>>ℓ, so any [lo,hi] decomposes into O(log U)
    // dyadic intervals, each answered by one point query at its level —
    // range counts from 6 constant-size sketches built in ONE pass over
    // the fact table, never re-scanning it per range. The range→interval
    // decomposition is pure arithmetic on the query literals (driver
    // side, data-independent); the probe plan is a broadcast of the
    // one-row sketch frame against a 23-row interval relation. Bound per
    // range: est ≤ exact + n_dyadic·ε·N (each point query overcounts by
    // ≤ ε·N w.p. 1−δ); underestimates are impossible.
    "q_cms_range_sum" -> ((s, d) => {
      import s.implicits._
      val eps = 0.01
      val li = Tables.lineitem(s, d)
        .select(col("l_quantity").cast("long").as("qty"))
      val skCols = (0 to 5).map(l =>
        cms_agg(shiftright(col("qty"), l), eps, 0.99, 42).as(s"sk$l")) :+
        count(lit(1)).as("n_rows")
      val sk = li.agg(skCols.head, skCols.tail: _*)
      val ranges = Seq((1, 1L, 10L), (2, 14L, 37L), (3, 20L, 20L),
        (4, 1L, 50L), (5, 33L, 48L))
      val intervals = ranges.flatMap { case (rid, lo, hi) =>
        SketchQueries.dyadic(lo, hi, 5).map { case (lvl, pfx) =>
          (rid, lo, hi, lvl, pfx)
        }
      }.toDF("rid", "lo", "hi", "lvl", "pfx")
      val est = intervals.join(broadcast(sk))
        .select(col("rid"), col("lo"), col("hi"), col("n_rows"),
          (1 until 6).foldLeft(cms_estimate(col("sk0"), col("pfx"))) {
            (acc, l) => when(col("lvl") === l,
              cms_estimate(col(s"sk$l"), col("pfx"))).otherwise(acc)
          }.as("e"))
        .groupBy("rid", "lo", "hi")
        .agg(sum("e").as("est"), count(lit(1)).as("n_dyadic"),
          first("n_rows").as("n_rows"))
      val exact = li.join(broadcast(ranges.toDF("rid2", "rlo", "rhi")),
          col("qty").between(col("rlo"), col("rhi")))
        .groupBy(col("rid2")).agg(count(lit(1)).as("exact"))
      est.join(exact, col("rid") === col("rid2"))
        .select(col("rid"), col("lo"), col("hi"), col("exact"), col("n_dyadic"),
          (col("est") >= col("exact")).as("no_underestimate"),
          (col("est").cast("double") <= col("exact").cast("double")
            + col("n_dyadic") * lit(eps) * col("n_rows")).as("within_eps"))
        .orderBy("rid")
    }),

    // AMS tug-of-war sketch (Alon–Matias–Szegedy '96): the second
    // frequency moment F₂ = Σ f_k² — the SELF-join size of a key column,
    // the statistic a planner needs to price a self-join or pick a
    // skew strategy — from 64 ±1-signed counters instead of a groupBy
    // over every key. Counter_j = Σ_rows σ_j(key) with σ_j(key) =
    // 2·(bit₀ of xxhash64(j, key)) − 1; E[counter²] = F₂. Estimate =
    // median of 8 means of 8 counter² each (variance 2F₂²/8 per mean →
    // the median is within ½·F₂ except with probability < 2⁻⁵ —
    // deterministic here at the pinned hash family). Plan shape: ONE
    // hash-agg pass builds all 64 counters as one wide row (no row
    // multiplication, no shuffle beyond the 1-row final agg); the
    // median-of-means is arithmetic on that single row. At 100 TB the
    // sketch state is 64 longs regardless of key cardinality — vs the
    // exact twin's full per-key aggregate. The exact F₂ rides along
    // only as the yardstick for the error-contract flags.
    "q_ams_f2" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val sums = (0 until 64).map(j =>
        sum(when(xxhash64(lit(j), col("user_id")).bitwiseAND(lit(1L)) === 1L,
          lit(1L)).otherwise(lit(-1L))).as(s"c$j")) :+
        count(lit(1)).as("n_rows")
      val wide = ev.agg(sums.head, sums.tail: _*)
      val est = wide.select(col("n_rows"), explode(array(
          (0 until 64).map(j =>
            struct(lit(j / 8).as("g"),
              (col(s"c$j") * col(s"c$j")).cast("double").as("c2"))): _*)).as("x"))
        .groupBy(col("n_rows"), col("x.g")).agg(avg(col("x.c2")).as("m"))
        .groupBy(col("n_rows")).agg(expr("median(m)").as("f2_est"))
      val exact = ev.groupBy("user_id").agg(count(lit(1)).as("f"))
        .agg(sum(col("f") * col("f")).as("f2_exact"))
      est.join(exact)
        .select(col("n_rows"), col("f2_exact"),
          (abs(col("f2_est") - col("f2_exact").cast("double"))
            <= lit(0.5) * col("f2_exact")).as("within_half"))
    }),

    // Approximate query processing (AQP) by deterministic sampling —
    // the third approximation family next to sketches (CMS/HLL/KLL) and
    // the recall-flagged ANN rows: a 10% Bernoulli sample selected by
    // the house md5-digit gate (pure function of the key → the SAME
    // sample on any cluster, any retry, and in the DuckDB oracle), the
    // Horvitz-Thompson scale-up est = sample_sum / p, and the realized
    // relative error vs the exact twin computed IN-PLAN. At 100 TB the
    // sample is a pushdown-friendly scan predicate (1/10th the bytes);
    // the gate checks the estimate lands within the ±5% band that
    // n≈4600, CV≈0.55 implies (≈3.4σ) — deterministic on fixed data,
    // honest about sampling's actual accuracy.
    "q_aqp_estimate" -> ((s, d) => {
      val gate = substring(concat(regexp_replace(
          md5(concat(lit("aqp:"), col("o_orderkey").cast("string"))),
          "[a-f]", ""), lit("0000")), 1, 4).cast("int") < 1000
      val o = Tables.orders(s, d).select(col("o_totalprice"), gate.as("in_sample"))
      o.agg(
          count(lit(1)).as("n_total"),
          sum(col("in_sample").cast("int")).as("n_sampled"),
          round(sum(col("o_totalprice").cast("decimal(30,12)")), 4)
            .cast("double").as("exact_sum"),
          round(sum(when(col("in_sample"),
            col("o_totalprice")).cast("decimal(30,12)")) * 10, 4)
            .cast("double").as("est_sum"))
        .select(col("n_total"), col("n_sampled"),
          col("exact_sum"), col("est_sum"),
          round(abs(col("est_sum") - col("exact_sum")) / col("exact_sum"), 4)
            .as("rel_err"),
          (abs(col("est_sum") - col("exact_sum"))
            <= col("exact_sum") * 0.05).as("within_5pct"))
    }),

    // Time-decayed heavy hitters — the trending-now variant of
    // q_heavy_hitters: each event contributes weight 2^(−age/half-life)
    // so last week counts double next week, the standard ops-dashboard
    // decay. Ages are bucketed to whole half-lives (integer k), and the
    // weight is built as 1/(1<<k) — an EXACT binary double in both
    // engines, avoiding pow()'s libm divergence (the same reason the
    // DDSketch row uses bit-length instead of log). One scan → per-
    // (type, k) bounded agg → weighted rollup; at 100 TB the decayed
    // count is maintainable incrementally (multiply the running total
    // by ½ each half-life, add the new window — the classic trick),
    // which this bucketed form makes explicit.
    "q_decayed_topk" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val mx = ev.agg(max("ts").as("mx"))
      ev.crossJoin(broadcast(mx))
        .select(col("event_type"),
          floor(datediff(col("mx").cast("date"), col("ts").cast("date")) / 7)
            .cast("int").as("k"))
        .groupBy("event_type", "k").agg(count(lit(1)).as("n"))
        .select(col("event_type"),
          (col("n") / expr("shiftleft(1L, k)")).as("w"),
          col("n"))
        .groupBy("event_type")
        .agg(round(sum("w"), 4).as("decayed_count"),
          sum("n").as("raw_count"))
        .orderBy(col("decayed_count").desc, col("event_type"))
    }),

    // Cuckoo filter — the DELETABLE membership sketch (Fan et al.,
    // CoNEXT 2014), the capability Bloom fundamentally lacks: a
    // takedown pipeline maintaining a membership pre-filter
    // (q_takedown_delete) can remove erased keys WITHOUT rebuilding
    // over the corpus. Two-job build (SURVEY §3.3) like the Bloom twin;
    // the probe is codegen'd. The query exercises the full lifecycle:
    // build over the urgent keys, verify zero false negatives in-plan,
    // bound the fp rate on a disjoint probe range (≈8/255 design
    // point), then DELETE the 5 smallest keys (bounded driver list —
    // the notice-list shape) and verify in-plan that all 5 vanish while
    // every survivor still answers present (survivor safety is a
    // theorem: each (bucket-pair, fp) class keeps one copy per
    // remaining member; CuckooSpec pins the exact class model). The 5
    // deletions all land because no survivor shares a deleted key's
    // class on this fixed corpus — the deterministic fact the oracle
    // row records.
    "q_cuckoo_filter" -> ((s, d) => {
      import s.implicits._
      val urgent = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT").select("o_orderkey")
      // size the filter FROM THE DATA (round 10 — the sf0.1 contract
      // sweep caught the fixed 4096-bucket literal overflowing at 30k
      // members: dropped inserts broke the zero-false-negative theorem,
      // which only holds when nothing is evicted to the stash). 4 slots
      // per bucket at target load ≤ ~0.8 → buckets = nextPow2(n/3.2),
      // floored at 1024 — the same params-follow-the-corpus discipline
      // as the LSH width P and the keyed-state CMS sizing.
      val nUrgent = urgent.count()
      val buckets = math.max(1024L,
        java.lang.Long.highestOneBit(
          math.max(1L, (nUrgent / 3.2).toLong) * 2 - 1)).toInt
      val sk = urgent.agg(cuckoo_agg(col("o_orderkey"), buckets).as("sk"))
        .head().getAs[Array[Byte]]("sk")
      val toDelete = urgent.orderBy("o_orderkey").limit(5)
        .collect().map(_.getLong(0)).toSeq
      val sk2 = graft.sketches.CuckooOps.deleteLongs(sk, toDelete)
      val members = urgent.agg(
        count(lit(1)).as("n_members"),
        (sum((!cuckoo_contains(lit(sk), col("o_orderkey"))).cast("int"))
          === 0).as("all_contained"),
        (sum(when(col("o_orderkey").isin(toDelete: _*), lit(0))
          .otherwise((!cuckoo_contains(lit(sk2), col("o_orderkey")))
            .cast("int"))) === 0).as("survivors_ok"))
      val mx = urgent.agg(max("o_orderkey")).head().getLong(0)
      val fpp = s.range(mx + 1, mx + 2001)
        .agg((sum(cuckoo_contains(lit(sk), col("id")).cast("int"))
          <= 200).as("fpp_ok"))
      val gone = toDelete.toDF("k")
        .agg(sum((!cuckoo_contains(lit(sk2), col("k"))).cast("int"))
          .cast("long").as("n_gone"))
      members.crossJoin(fpp).crossJoin(gone)
        .select(col("n_members"), col("all_contained"), col("fpp_ok"),
          lit(5L).as("n_deleted"), col("n_gone"), col("survivors_ok"))
    }),

    // DDSketch-shaped quantiles: a log-bucket histogram with γ=2 —
    // bucket(v) = bit-length of ⌊v⌋, i.e. v ∈ [2^(b−1), 2^b) — answered
    // by rank-walking the cumulative counts. The state is ≤64 counters
    // regardless of data size, and (unlike KLL/GK) it is trivially
    // mergeable by ADDING counters, so at 100 TB the plan is one
    // map-side-combined hash agg into 64 rows per shard/time-window and
    // pure arithmetic after; the guarantee is RELATIVE error (the bucket
    // midpoint is within ×4/3 of any value in the bucket), which is what
    // latency/price-style long-tailed metrics want — uniform-error
    // sketches spend their budget on the dense head. Production DDSketch
    // uses γ=1.02 via float log; γ=2 via exact integer bit-length keeps
    // both engines' bucketing bit-identical (no libm divergence), so the
    // whole result — bucket choice, bounds, midpoint estimate — is
    // hash-exact rather than tolerance-flagged. ⌊·⌋ before the cast is
    // deliberate: both engines floor doubles exactly, where a fractional
    // double→int cast truncates in Spark but rounds in DuckDB.
    "q_ddsketch_quantiles" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      import s.implicits._
      val hist = Tables.lineitem(s, d)
        .select(length(bin(floor(col("l_extendedprice")).cast("long")))
          .as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("cnt"))
      // ≤64-row relation: the single-partition cumulative window is
      // bounded by the sketch width, not the data
      val w = Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = hist.withColumn("cum", sum("cnt").over(w))
      val total = hist.agg(sum("cnt").as("n"))
      Seq(0.5, 0.9, 0.99).toDF("q")
        .crossJoin(broadcast(total))
        .withColumn("rank", ceil(col("q") * col("n")))
        .join(broadcast(cum), col("cum") >= col("rank"))
        .groupBy("q", "rank", "n").agg(min("bucket").cast("int").as("bucket"))
        .select(col("q"), col("bucket"),
          expr("shiftleft(1L, bucket - 1)").as("lo_val"),
          expr("shiftleft(1L, bucket) - 1").as("hi_val"),
          expr("(shiftleft(1L, bucket - 1) + shiftleft(1L, bucket) - 1) div 2")
            .as("est_val"),
          col("rank"), col("n"))
        .orderBy("q")
    }))

  /** Greedy-left dyadic decomposition of [lo, hi]: maximal aligned
    * blocks [k·2^ℓ, (k+1)·2^ℓ−1], ℓ ≤ maxLevel → ≤ 2·maxLevel+… O(log)
    * intervals. Pure arithmetic on query literals (no data access). */
  private[graft] def dyadic(lo: Long, hi: Long, maxLevel: Int): Seq[(Int, Long)] = {
    require(lo >= 0 && lo <= hi, s"bad range [$lo, $hi]")
    val out = Seq.newBuilder[(Int, Long)]
    var a = lo
    while (a <= hi) {
      var l = 0
      while (l + 1 <= maxLevel && (a & ((1L << (l + 1)) - 1)) == 0 &&
          a + (1L << (l + 1)) - 1 <= hi) l += 1
      out += ((l, a >> l))
      a += (1L << l)
    }
    out.result()
  }

  /**
   * Oracles where the sketch answer is provably exact-matchable at the
   * gate scale (see the sizing arguments on each query), plus
   * guarantee-flag oracles (literal TRUE columns) where the estimate
   * itself is approximate but its published error contract is a
   * deterministic boolean on fixed data.
   */
  val oracleSql: Map[String, String] = Map(
    // same md5-digit sample gate, scale-up, and realized error — fully
    // deterministic, so even the error columns hash-match
    "q_aqp_estimate" ->
      """WITH o AS (
        |  SELECT o_totalprice,
        |    substr(regexp_replace(md5('aqp:' || o_orderkey::VARCHAR),
        |      '[a-f]', '', 'g') || '0000', 1, 4)::INT < 1000 AS in_sample
        |  FROM orders),
        |a AS (
        |  SELECT count(*) AS n_total,
        |    sum(CASE WHEN in_sample THEN 1 ELSE 0 END)::BIGINT AS n_sampled,
        |    round(sum(o_totalprice::DECIMAL(30,12)), 4)::DOUBLE AS exact_sum,
        |    round(sum(CASE WHEN in_sample THEN o_totalprice END
        |      ::DECIMAL(30,12)) * 10, 4)::DOUBLE AS est_sum
        |  FROM o)
        |SELECT n_total, n_sampled, exact_sum, est_sum,
        |  round(abs(est_sum - exact_sum) / exact_sum, 4) AS rel_err,
        |  abs(est_sum - exact_sum) <= exact_sum * 0.05 AS within_5pct
        |FROM a""".stripMargin,

    // dyadic weights (n / 2^k) are exact doubles, so the decayed sums
    // are order-independent and hash-exact
    "q_decayed_topk" ->
      """WITH mx AS (SELECT max(ts) AS mx FROM events),
        |b AS (
        |  SELECT event_type,
        |    (date_diff('day', ts::DATE, mx::DATE) // 7)::INT AS k,
        |    count(*)::BIGINT AS n
        |  FROM events, mx GROUP BY 1, 2)
        |SELECT event_type,
        |  round(sum(n::DOUBLE / (1::BIGINT << k)), 4) AS decayed_count,
        |  sum(n)::BIGINT AS raw_count
        |FROM b GROUP BY 1
        |ORDER BY decayed_count DESC, event_type""".stripMargin,

    // lifecycle flags are deterministic on the fixed corpus: no false
    // negatives (theorem), fpp under the design bound, all 5 deletions
    // land (no surviving class-sharer), survivors untouched (theorem)
    "q_cuckoo_filter" ->
      """SELECT count(*) AS n_members, true AS all_contained, true AS fpp_ok,
        |  5::BIGINT AS n_deleted, 5::BIGINT AS n_gone, true AS survivors_ok
        |FROM orders WHERE o_orderpriority = '1-URGENT'""".stripMargin,

    // γ=2 bucketing is exact integer bit-length in both engines, so the
    // full sketch answer (bucket, bounds, midpoint) hash-matches
    "q_ddsketch_quantiles" ->
      """WITH hist AS (
        |  SELECT length(bin(CAST(floor(l_extendedprice) AS BIGINT)))::INT
        |      AS bucket,
        |    count(*)::BIGINT AS cnt
        |  FROM lineitem GROUP BY 1),
        |cum AS (
        |  SELECT bucket, sum(cnt) OVER (ORDER BY bucket)::BIGINT AS cum
        |  FROM hist),
        |tot AS (SELECT sum(cnt)::BIGINT AS n FROM hist),
        |qs AS (SELECT unnest([0.5, 0.9, 0.99]) AS q),
        |picked AS (
        |  SELECT q, CAST(ceil(q * n) AS BIGINT) AS rank, n,
        |    min(bucket)::INT AS bucket
        |  FROM qs, tot, cum
        |  WHERE cum >= CAST(ceil(q * n) AS BIGINT)
        |  GROUP BY q, rank, n)
        |SELECT q, bucket,
        |  (1::BIGINT << (bucket - 1)) AS lo_val,
        |  (1::BIGINT << bucket) - 1 AS hi_val,
        |  ((1::BIGINT << (bucket - 1)) + (1::BIGINT << bucket) - 1) // 2
        |    AS est_val,
        |  rank, n
        |FROM picked ORDER BY q""".stripMargin,

    "q_cms_event_counts" ->
      """SELECT event_type, count(*) AS exact, count(*) AS estimate
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_cms_user_freq" ->
      """SELECT user_id, count(*) AS exact, true AS est_ok
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_cms_sketch_table" ->
      """SELECT user_id, count(*) AS exact, true AS est_merged_ok
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_bloom_probe" ->
      """SELECT p_partkey,
        |  p_partkey IN (SELECT l_partkey FROM lineitem) AS is_member,
        |  true AS no_false_negative
        |FROM part ORDER BY p_partkey""".stripMargin,

    "q_bloom_semi_filter" ->
      """SELECT l_returnflag, count(*) AS n, round(sum(l_quantity), 4) AS sum_qty
        |FROM lineitem
        |WHERE l_orderkey IN (SELECT o_orderkey FROM orders
        |                     WHERE o_orderpriority = '1-URGENT')
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_approx_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS exact_users, true AS hll_ok
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_hll_sketch_union" ->
      """SELECT count(DISTINCT user_id) AS users_exact,
        |       true AS union_rel_err_ok
        |FROM events""".stripMargin,

    "q_theta_sketch" ->
      """SELECT event_type, count(DISTINCT user_id) AS exact_users,
        |       true AS theta_ok
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_approx_quantiles" ->
      """SELECT l_returnflag,
        |  round(quantile_disc(l_extendedprice, 0.5), 4) AS ap50,
        |  round(quantile_disc(l_extendedprice, 0.99), 4) AS ap99
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    // LIMIT 50 (round 14): at gate scale vocabulary ≤ 50 so the limit
    // never binds (hashes unchanged). At N× the engine side now takes
    // the FULL exact histogram and applies its own ORDER BY cnt DESC,
    // word LIMIT 50 (round 15, ADVICE r14), so this oracle's rank-50
    // boundary tie-break is matched structurally — not by corpus luck —
    // even when the boundary lands inside a replication tie group.
    "q_heavy_hitters" ->
      """SELECT t AS word, count(*) AS cnt
        |FROM (SELECT unnest(list_filter(string_split(lower(text), ' '),
        |                                t -> t <> '')) AS t
        |      FROM documents)
        |GROUP BY 1 ORDER BY cnt DESC, word LIMIT 50""".stripMargin,

    "q_bloom_cardinality" ->
      """SELECT event_type, count(DISTINCT user_id)::BIGINT AS exact_ndv,
        |  true AS sb_ok
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_cms_join_size" ->
      """WITH a AS (SELECT user_id AS k, count(*) AS c FROM events GROUP BY 1),
        |     b AS (SELECT o_custkey AS k, count(*) AS c FROM orders GROUP BY 1)
        |SELECT (SELECT count(*) FROM events) AS n_left,
        |       (SELECT count(*) FROM orders) AS n_right,
        |       coalesce((SELECT sum(a.c * b.c) FROM a JOIN b USING (k)), 0)::BIGINT
        |         AS join_size,
        |       true AS no_underestimate, true AS within_eps""".stripMargin,

    "q_cms_range_sum" ->
      """SELECT r.rid, r.lo::BIGINT AS lo, r.hi::BIGINT AS hi,
        |  (SELECT count(*) FROM lineitem
        |   WHERE CAST(l_quantity AS BIGINT) BETWEEN r.lo AND r.hi) AS exact,
        |  r.nd::BIGINT AS n_dyadic,
        |  true AS no_underestimate, true AS within_eps
        |FROM (VALUES (1, 1, 10, 5), (2, 14, 37, 4), (3, 20, 20, 1),
        |             (4, 1, 50, 8), (5, 33, 48, 5)) r(rid, lo, hi, nd)
        |ORDER BY r.rid""".stripMargin,

    // LIMIT 50 + tie-proof boundary, same reasoning as q_heavy_hitters
    "q_topk_reagg" ->
      """SELECT t AS word, count(*) AS cnt
        |FROM (SELECT unnest(list_filter(string_split(lower(text), ' '),
        |                                t -> t <> '')) AS t
        |      FROM documents)
        |GROUP BY 1 ORDER BY cnt DESC, word LIMIT 50""".stripMargin,

    "q_bitmap_distinct" ->
      """SELECT event_type, count(DISTINCT user_id)::BIGINT AS n_users
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_ams_f2" ->
      """WITH f AS (SELECT user_id, count(*) AS f FROM events GROUP BY 1)
        |SELECT (SELECT count(*) FROM events) AS n_rows,
        |       sum(f * f)::BIGINT AS f2_exact,
        |       true AS within_half
        |FROM f""".stripMargin,

    "q_topk_per_group" ->
      """WITH ranked AS (
        |  SELECT l_returnflag, l_extendedprice,
        |    l_orderkey * 10 + l_linenumber AS id,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY l_extendedprice DESC, l_orderkey * 10 + l_linenumber) AS pos
        |  FROM lineitem)
        |SELECT l_returnflag, pos::INT AS pos, round(l_extendedprice, 4) AS price, id
        |FROM ranked WHERE pos <= 3
        |ORDER BY l_returnflag, pos""".stripMargin)
}
