package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.streaming.StreamingPipelines.childSession

/**
 * Relational operator inventory (SURVEY.md §2b/2d/2e/2f/2g): one named
 * query per operator family, each with a DuckDB oracle twin.
 *
 * Determinism: ORDER BY on every output column set, doubles rounded to 4
 * decimals, timestamps never emitted raw (DATE or epoch BIGINT instead —
 * Spark writes TIMESTAMP as UTC-adjusted which DuckDB reads as
 * TIMESTAMPTZ and the compare would see different types).
 */
object RelationalQueries {

  private def r4(c: Column): Column = round(c, 4)

  /** Caller confs a child session keeps: they affect rows/plan sizing. */
  private val CarriedConfs = Seq("spark.sql.shuffle.partitions", "spark.sql.session.timeZone")

  /** Derived partsupp relation — the synthetic testdata ships no
    * partsupp table (the reason Q2/Q11/Q16/Q20 sat out rounds 8–9a), so
    * the four remaining TPC-H shapes run over a deterministic relation
    * both engines derive identically from the part dim:
    *
    *   for j ∈ 0..3:
    *     ps_suppkey    = (p_partkey·7 + j·13) mod |supplier|
    *     ps_availqty   = (p_partkey·11 + j·17) mod 50 + 1
    *     ps_costcents  = (p_partkey·31 + j·47) mod 10000 + 100
    *     ps_supplycost = ps_costcents / 100.0
    *
    * Pure integer arithmetic plus one double division, recomputed
    * VERBATIM in the DuckDB oracles' WITH clause, so what the hash
    * verifies is the QUERY SHAPE (Q2's correlated min, Q11's
    * global-share HAVING, Q16's NOT-IN distinct count, Q20's nested
    * availability threshold), not the data synthesis. The j·13 offsets
    * are distinct modulo any supplier count not dividing {13,26,39}, so
    * every part gets 4 distinct candidate suppliers at every scale
    * (|supplier| = 10/100/1000 at sf0.001/0.01/0.1); the j·47 offsets
    * make within-part costs distinct, so Q2's per-part min row is
    * tie-free by construction. ps_costcents keeps Q11's value
    * aggregation in exact BIGINT cents (no decimal-precision rules to
    * align across engines). availqty ∈ 1..50 matches the per-pair
    * yearly l_quantity sums so Q20's threshold genuinely splits.
    *
    * Scale: 4·|part| rows — dimension-sized, born from the part dim
    * crossed with a broadcast 1-row supplier count; never touches a
    * fact table. */
  private def derivedPartsupp(s: SparkSession, d: String): DataFrame = {
    val nSupp = Tables.supplier(s, d).agg(count(lit(1)).as("n_supp"))
    Tables.part(s, d).select("p_partkey")
      .crossJoin(broadcast(nSupp))
      .withColumn("j", explode(array(lit(0L), lit(1L), lit(2L), lit(3L))))
      .select(
        col("p_partkey").as("ps_partkey"),
        ((col("p_partkey") * 7 + col("j") * 13) % col("n_supp"))
          .as("ps_suppkey"),
        ((col("p_partkey") * 11 + col("j") * 17) % 50 + 1)
          .as("ps_availqty"),
        ((col("p_partkey") * 31 + col("j") * 47) % 10000 + 100)
          .as("ps_costcents"))
      .withColumn("ps_supplycost",
        col("ps_costcents").cast("double") / lit(100.0))
  }

  /** Suppliers in a named region, with nation name riding along — the
    * Q2/Q11/Q20 eligibility dimension (a single synthetic nation holds
    * 0–4 suppliers, so the region is the smallest scope that is
    * non-degenerate at every scale). */
  private def regionSuppliers(s: SparkSession, d: String,
      region: String): DataFrame =
    Tables.supplier(s, d)
      .join(broadcast(Tables.nation(s, d)
        .join(broadcast(Tables.region(s, d)
          .filter(col("r_name") === region).select("r_regionkey")),
          col("n_regionkey") === col("r_regionkey"), "left_semi")
        .select("n_nationkey", "n_name")),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "s_name", "s_acctbal", "n_name")

  /** One bucketed-table build per (session, dataset content) — the
    * postingsShared lifetime applied to q_bucketed_join (VERDICT r9 #7):
    * the bucketed write is the "pay the shuffle once at write time"
    * step a warehouse performs ONCE, so re-running it on every
    * invocation charged ~2× saveAsTable to what is demonstrably a
    * zero-exchange READ-path query. Returns the (lineitem, orders)
    * table names. The metastore is shared by every session, so the
    * names carry the source fingerprint: two datasets never overwrite
    * each other's tables, and a regenerated dataset gets new ones. */
  private[graft] def ensureBucketedTables(s: SparkSession, d: String): (String, String) = {
    val src = Seq("lineitem.parquet", "orders.parquet")
    SessionCache.get("bucketed_tables", s, d, src) {
      val fp = SessionCache.fingerprint(s, d, src)
      val (li, ord) = (s"li_bq_$fp", s"ord_bq_$fp")
      SessionCache.replaceTables(s, Seq(li, ord)) {
        Tables.lineitem(s, d).select("l_orderkey", "l_quantity")
          .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
          .mode("overwrite").saveAsTable(li)
        Tables.orders(s, d).select("o_orderkey", "o_orderpriority")
          .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
          .mode("overwrite").saveAsTable(ord)
      }
      (li, ord)
    }
  }
  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(

    // --- aggregation (2d) ------------------------------------------------
    "q_agg_pricing" -> ((s, d) => Tables.lineitem(s, d)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        r4(sum("l_quantity")).as("sum_qty"),
        r4(sum("l_extendedprice")).as("sum_base_price"),
        r4(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("sum_disc_price"),
        r4(avg("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")),

    "q_exact_counts" -> ((s, d) => Tables.events(s, d)
      .groupBy("event_type").agg(count(lit(1)).as("cnt"))
      .orderBy("event_type")),

    "q_count_distinct" -> ((s, d) => Tables.events(s, d)
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n_users"),
        r4(sum("value")).as("sum_value"))
      .orderBy("event_type")),

    "q_rollup" -> ((s, d) => Tables.lineitem(s, d)
      .rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), r4(sum("l_quantity")).as("sum_qty"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))),

    "q_cube" -> ((s, d) => Tables.orders(s, d)
      .cube("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"), r4(sum("o_totalprice")).as("sum_price"))
      .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))),

    "q_grouping_sets" -> ((s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem_gs")
      s.sql("""SELECT l_returnflag, l_linestatus, count(*) AS n
              |FROM lineitem_gs
              |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
              |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin)
    }),

    // higher-order-function family (2g): transform / filter / exists /
    // forall / aggregate(reduce) over per-order quantity arrays. Arrays
    // built with sort_array(collect_list(...)) — collect_list order is
    // partition-dependent, the sort makes the array (and everything
    // derived from it) deterministic. HOFs run interpreted, which is
    // why the HOT text/vector paths in this repo use codegen'd
    // alternatives (tokens(), VecDot); this query pins the SURFACE.
    "q_hof_funcs" -> ((s, d) => {
      Tables.lineitem(s, d)
        .groupBy("l_orderkey")
        .agg(sort_array(collect_list(col("l_quantity"))).as("qs"))
        .filter(col("l_orderkey") % 50 === 0)
        .select(col("l_orderkey"),
          size(col("qs")).as("n"),
          round(aggregate(col("qs"), lit(0.0), (acc, x) => acc + x), 4).as("total"),
          round(element_at(transform(col("qs"), x => x * 2), 1), 4).as("first_doubled"),
          size(filter(col("qs"), _ > 25)).as("n_over_25"),
          exists(col("qs"), _ > 45).as("any_over_45"),
          forall(col("qs"), _ > 0).as("all_positive"))
        .orderBy("l_orderkey")
    }),

    // grouping-metadata completion (2d): grouping()/grouping_id() over
    // a cube — the bitmask that tells report consumers WHICH level a
    // row aggregates, without which cube outputs are ambiguous when a
    // grouping column is genuinely NULL
    "q_grouping_id" -> ((s, d) => {
      Tables.lineitem(s, d)
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"),
          grouping_id().as("gid"),
          grouping(col("l_returnflag")).as("g_rf"))
        .orderBy(col("gid"), asc_nulls_first("l_returnflag"),
          asc_nulls_first("l_linestatus"))
    }),

    // statistical aggregate family (2d): correlation / covariance /
    // stddev / least-squares regression — all partial+final hash aggs
    "q_stats_agg" -> ((s, d) => Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        r4(corr("l_quantity", "l_extendedprice")).as("corr_qp"),
        r4(covar_samp("l_quantity", "l_discount")).as("cov_qd"),
        r4(stddev_samp("l_extendedprice")).as("sd_price"),
        r4(expr("regr_slope(l_extendedprice, l_quantity)")).as("slope"),
        r4(expr("regr_intercept(l_extendedprice, l_quantity)")).as("intercept"))
      .orderBy("l_returnflag")),

    // full pairwise correlation matrix of the 4 numeric fact columns in
    // ONE scan pass — 6 corr() aggregates (each constant-state Welford-
    // style moments) in a single map-side-combined agg, melted to
    // (x, y, r) afterwards. The feature-selection / drift-dashboard
    // staple; at 100 TB it stays one pass regardless of column count
    // (state is O(pairs), not O(rows)).
    "q_corr_matrix" -> ((s, d) => {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val pairs = for {
        i <- cols.indices; j <- cols.indices if i < j
      } yield (cols(i), cols(j))
      val aggs = pairs.map { case (a, b) =>
        r4(corr(a, b)).as(s"${a}__$b")
      }
      val stackArgs = pairs
        .map { case (a, b) => s"'$a', '$b', ${a}__$b" }.mkString(", ")
      Tables.lineitem(s, d)
        .agg(aggs.head, aggs.tail: _*)
        .selectExpr(s"stack(${pairs.size}, $stackArgs) AS (x, y, r)")
        .orderBy("x", "y")
    }),

    "q_percentile_exact" -> ((s, d) => Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        r4(expr("percentile(l_extendedprice, 0.5)")).as("p50"),
        r4(expr("percentile(l_extendedprice, 0.9)")).as("p90"),
        r4(min("l_extendedprice")).as("mn"),
        r4(max("l_extendedprice")).as("mx"))
      .orderBy("l_returnflag")),

    // --- scan / filter / projection (2b) ---------------------------------
    "q_filter_scan" -> ((s, d) => Tables.events(s, d)
      .filter(col("event_type") === "click" && col("value") > 100.0)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"), r4(sum("value")).as("sum_value"))
      .orderBy("user_id")),

    "q_distinct" -> ((s, d) => Tables.orders(s, d)
      .select("o_orderstatus", "o_orderpriority").distinct()
      .orderBy("o_orderstatus", "o_orderpriority")),

    // Contiguous global id assignment (stable row ids for training
    // examples / surrogate keys), WITHOUT the anti-pattern formulation
    // row_number() over a global ORDER BY — that window has one
    // partition, so every row funnels through a single task. The
    // scalable shape is two-phase: (1) coarse key-range buckets (the
    // range-partitioner analog; boundary arithmetic from a 1-row max
    // broadcast), whose ≤32-row count histogram prefix-sums into
    // per-bucket offsets; (2) row_number PARTITIONED by bucket (parallel
    // bounded sorts) + broadcast offset join, so stable_id = offset +
    // local_rank − 1. Same contract as a global sort, cluster-wide
    // parallelism — the declarative twin of RDD zipWithIndex's
    // per-partition-counts + offsets trick, but ordered by key. At
    // 100 TB the bucket count scales with the cluster (it is the
    // shuffle-partition dial), offsets stay a tiny broadcast.
    "q_stable_ids" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"))
      val mx = docs.agg(max("doc_id").as("mx"))
      val bucketed = docs.crossJoin(broadcast(mx))
        .select(col("doc_id"),
          expr("doc_id div ((mx + 32) div 32)").as("bucket"))
      val offsets = bucketed.groupBy("bucket").agg(count(lit(1)).as("cnt"))
        .withColumn("off",
          sum("cnt").over(Window.orderBy("bucket")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
            - col("cnt"))
        .select("bucket", "off")
      bucketed.join(broadcast(offsets), "bucket")
        .withColumn("stable_id",
          col("off") + row_number().over(
            Window.partitionBy("bucket").orderBy("doc_id")) - 1)
        .select("doc_id", "stable_id").orderBy("doc_id")
    }),

    "q_tokenize_wordcount" -> ((s, d) => Tables.documents(s, d)
      .select(explode(graft.functions.tokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word"))
      .limit(50)),

    // --- joins (2e) -------------------------------------------------------
    "q_join_broadcast" -> ((s, d) => Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(count(lit(1)).as("n_cust"), r4(sum("c_acctbal")).as("sum_bal"))
      .orderBy("r_name")),

    "q_join_smj" -> ((s, d) => Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(r4(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("o_orderpriority")),

    "q_join_outer" -> ((s, d) => Tables.part(s, d)
      .join(Tables.lineitem(s, d).filter(col("l_quantity") >= 48.0),
        col("p_partkey") === col("l_partkey"), "left")
      .groupBy("p_brand")
      .agg(count(col("l_orderkey")).as("n_lines"),
        count(lit(1)).as("n_rows"),
        sum(when(col("l_orderkey").isNull, 1L).otherwise(0L)).as("n_unmatched"))
      .orderBy("p_brand")),

    "q_semi_join" -> ((s, d) => Tables.part(s, d)
      .join(Tables.lineitem(s, d).filter(col("l_quantity") >= 45.0)
        .select(col("l_partkey")), col("p_partkey") === col("l_partkey"), "left_semi")
      .groupBy("p_brand").agg(count(lit(1)).as("n_parts"))
      .orderBy("p_brand")),

    "q_anti_join" -> ((s, d) => Tables.part(s, d)
      .join(Tables.lineitem(s, d).filter(col("l_quantity") >= 45.0)
        .select(col("l_partkey")), col("p_partkey") === col("l_partkey"), "left_anti")
      .groupBy("p_brand").agg(count(lit(1)).as("n_parts"))
      .orderBy("p_brand")),

    "q_range_join" -> ((s, d) => {
      val sup = Tables.supplier(s, d).select(col("s_suppkey"), col("s_acctbal"))
      val cust = Tables.customer(s, d).select(col("c_acctbal"))
      sup.join(cust, col("c_acctbal") > col("s_acctbal"))
        .groupBy("s_suppkey")
        .agg(count(lit(1)).as("n_richer_cust"))
        .orderBy("s_suppkey")
    }),

    // Same result as q_range_join, but scale-shaped: the BNLJ inequality
    // join is O(|sup|·|cust|); here customers are bucketed on
    // floor(acctbal/1000), the ~11-row bucket histogram is broadcast for
    // the strictly-higher buckets, and only the same-bucket remainder runs
    // through a shuffled equi-join — O(n · bucket width). At 100 TB the
    // BNLJ is unrunnable; this plan is two narrow joins.
    "q_range_join_binned" -> ((s, d) => {
      val bucket = (c: Column) => floor(c / 1000.0d)
      val sup = Tables.supplier(s, d)
        .select(col("s_suppkey"), col("s_acctbal"), bucket(col("s_acctbal")).as("sb"))
      val cust = Tables.customer(s, d)
        .select(col("c_acctbal"), bucket(col("c_acctbal")).as("cb"))
      val hist = cust.groupBy("cb").agg(count(lit(1)).as("bucket_n"))
      val coarse = sup.join(broadcast(hist), col("cb") > col("sb"))
        .groupBy("s_suppkey").agg(sum("bucket_n").as("n"))
      val fine = sup.join(cust,
          col("cb") === col("sb") && col("c_acctbal") > col("s_acctbal"))
        .groupBy("s_suppkey").agg(count(lit(1)).as("n"))
      coarse.union(fine)
        .groupBy("s_suppkey").agg(sum("n").as("n_richer_cust"))
        .orderBy("s_suppkey")
    }),

    // Same FAMILY as q_range_join_binned, but the rewrite is AUTOMATIC:
    // the query is written as the naive point-in-interval band join
    // (customer balance within ±50 of a supplier's) and
    // RangeJoinBinningRule (plans/RangeJoinBinningRule.scala) turns the
    // O(n·m) nested loop into a binned equi-join at optimization time —
    // intervals replicated to ~2 bins each via Generate, points hashed to
    // one bin, residual BETWEEN keeping exactness. The user writes the
    // declarative form; the engine owns the scale shape (RangeJoinRuleSpec
    // pins both the rewrite and its guards).
    "q_range_join_auto" -> ((s, d) => {
      // The rewrite needs session state (rule + binSize conf) to be live
      // when the DRIVER later executes this lazy DataFrame, so it can't be
      // save/restored around the body. Scope it by construction instead:
      // an isolated session clone (shared SparkContext, fresh SQL conf and
      // ExperimentalMethods) carries the rule, and the caller's session is
      // never mutated — no later band join can silently inherit W=100.
      val clone = childSession(s, CarriedConfs: _*)
      val scoped = graft.Graft.enableRangeBinning(clone, binSize = 100.0)
      val sup = Tables.supplier(scoped, d).select(col("s_suppkey"),
        (col("s_acctbal") - 50.0d).as("lo"), (col("s_acctbal") + 50.0d).as("hi"))
      val cust = Tables.customer(scoped, d).select(col("c_acctbal"))
      cust.join(sup, col("c_acctbal") >= col("lo") && col("c_acctbal") <= col("hi"))
        .groupBy("s_suppkey")
        .agg(count(lit(1)).as("n_in_band"))
        .orderBy("s_suppkey")
    }),

    "q_cross_join" -> ((s, d) => Tables.region(s, d)
      .crossJoin(Tables.orders(s, d).select("o_orderstatus").distinct())
      .select(col("r_name"), col("o_orderstatus"))
      .orderBy("r_name", "o_orderstatus")),

    // --- window functions / sort / set ops (2f) ---------------------------
    "q_window_rank" -> ((s, d) => {
      val w = Window.partitionBy("o_orderstatus")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, d)
        .withColumn("rn", row_number().over(w))
        .withColumn("rnk", rank().over(w))
        .withColumn("drnk", dense_rank().over(w))
        .withColumn("quartile", ntile(4).over(w))
        .filter(col("rn") <= 3)
        .select(col("o_orderstatus"), col("rn"), col("rnk"), col("drnk"),
          col("quartile"), col("o_orderkey"), r4(col("o_totalprice")).as("price"))
        .orderBy("o_orderstatus", "rn")
    }),

    "q_window_analytic" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables.orders(s, d).filter(col("o_custkey") < 10)
        .select(col("o_custkey"), col("o_orderkey"),
          r4(col("o_totalprice")).as("price"),
          r4(lag("o_totalprice", 1).over(w)).as("prev_price"),
          r4(lead("o_totalprice", 1).over(w)).as("next_price"),
          r4(first("o_totalprice").over(w)).as("first_price"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    "q_window_frame" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(-3, 0)
      Tables.events(s, d).filter(col("user_id") < 3)
        .select(col("user_id"), col("event_id"),
          r4(sum("value").over(w)).as("moving_sum"),
          r4(avg("value").over(w)).as("moving_avg"))
        .orderBy("user_id", "event_id")
    }),

    // value-RANGE frame (the frame family q_window_frame's ROWS form
    // can't express): per event, that user's activity in the trailing
    // hour — frame membership decided by the ORDER VALUE (exact
    // microseconds, identical in both engines), not row position, so
    // ties and gaps are handled by construction and the result is
    // independent of any within-timestamp row order. One shuffle on
    // user_id; the frame is the streaming-sliding-window's batch dual.
    "q_range_frame" -> ((s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(unix_micros(col("ts")))
        .rangeBetween(-3600000000L, 0)
      Tables.events(s, d).filter(col("user_id") < 5)
        .select(col("user_id"), col("event_id"),
          count(lit(1)).over(w).as("n_1h"),
          round(sum(col("value").cast("decimal(30,12)")).over(w), 4)
            .cast("double").as("sum_1h"))
        .orderBy("user_id", "event_id")
    }),

    // distribution analytics: percent_rank / cume_dist (ANSI semantics,
    // tie-broken by unique key so both engines agree on peer groups)
    "q_window_dist" -> ((s, d) => {
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      Tables.orders(s, d).filter(col("o_custkey") < 50)
        .select(col("o_orderpriority"), col("o_orderkey"),
          r4(percent_rank().over(w)).as("pr"),
          r4(cume_dist().over(w)).as("cd"))
        .orderBy("o_orderpriority", "o_orderkey")
    }),

    // --- session window, batch form (2h twin): session_window() groups
    // events closer than the gap; shuffle-parallel on user_id. The DuckDB
    // oracle is the classic gaps-and-islands rewrite (lag + cumulative sum),
    // proving the semantics, not just the row count.
    "q_session_window_batch" -> ((s, d) => Tables.events(s, d)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_ev"))
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_sessions"),
        max("n_ev").as("max_session_events"))
      .orderBy("user_id")),

    // --- INCREMENTAL sessionization (session stitching): merge a new
    // event batch into an existing session table WITHOUT re-reading
    // history. The key algebra: Spark's session_window end = last event
    // + gap, so "delta session d merges into old session b" is exactly
    // d.start < b.end — and at most ONE old session per user can reach
    // past the cutoff (two would have to be ≥ gap apart, pushing the
    // second's events past the cutoff). So the stitch is: sessionize
    // the DELTA only, full-outer-join each user's ≤1 boundary session
    // against its first delta session, merge or keep both, union the
    // untouched majority through. No cascade is possible (stitching
    // never moves d1's end, and d2 starts ≥ d1.end). Cost scales with
    // |delta| + |users touching the boundary|; the history table is
    // read here only to BUILD the demo's old-session state — a
    // production pipeline maintains it as a table and pays only the
    // delta. The oracle is FULL re-sessionization of all events: the
    // gate proves incremental == from-scratch, the invariant that makes
    // incremental maintenance trustworthy at 100 TB.
    "q_session_stitch" -> ((s, d) => {
      val base = Tables.events(s, d)
      val cut = base.agg((max("ts") - expr("INTERVAL 7 DAYS")).as("t0"))
      // the real corpus has NO session spanning the cutoff at gate
      // scale, which would leave the stitched branch untested — plant a
      // seam-crossing user (9000001: events 10 min either side of t0,
      // MUST merge) and a near-miss control (9000002: +45 min, must
      // NOT), same literal rows in the oracle
      val planted = cut.select(explode(array(
          struct(lit(9000001L).as("user_id"),
            (col("t0") - expr("INTERVAL 10 MINUTES")).as("ts")),
          struct(lit(9000001L).as("user_id"),
            (col("t0") + expr("INTERVAL 10 MINUTES")).as("ts")),
          struct(lit(9000002L).as("user_id"),
            (col("t0") - expr("INTERVAL 10 MINUTES")).as("ts")),
          struct(lit(9000002L).as("user_id"),
            (col("t0") + expr("INTERVAL 45 MINUTES")).as("ts")))).as("r"))
        .select(col("r.user_id").as("user_id"), col("r.ts").as("ts"))
      val ev = base.select("user_id", "ts").unionAll(planted)
      def sessions(df: DataFrame): DataFrame = df
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_ev"))
        .select(col("user_id"), col("session_window.start").as("st"),
          col("session_window.end").as("en"), col("n_ev"))
      val hist = sessions(ev.crossJoin(broadcast(cut))
        .filter(col("ts") < col("t0")).drop("t0"))
      val delta = sessions(ev.crossJoin(broadcast(cut))
        .filter(col("ts") >= col("t0")).drop("t0"))
      val untouched = hist.crossJoin(broadcast(cut))
        .filter(col("en") < col("t0")).drop("t0")
      val boundary = hist.crossJoin(broadcast(cut))
        .filter(col("en") >= col("t0")).drop("t0")
        .select(col("user_id"), col("st").as("bst"), col("en").as("ben"),
          col("n_ev").as("bn"))
      val byStart = Window.partitionBy("user_id").orderBy("st")
      val dr = delta.withColumn("rn", row_number().over(byStart))
      val d1 = dr.filter(col("rn") === 1)
        .select(col("user_id"), col("st").as("dst"), col("en").as("den"),
          col("n_ev").as("dn"))
      val dRest = dr.filter(col("rn") > 1).drop("rn")
      val seam = d1.join(boundary, Seq("user_id"), "full_outer")
        .localCheckpoint()
      val stitched = seam
        .filter(col("dst").isNotNull && col("ben").isNotNull &&
          col("dst") < col("ben"))
        .select(col("user_id"), col("bst").as("st"), col("den").as("en"),
          (col("bn") + col("dn")).as("n_ev"))
      val soloB = seam
        .filter(col("ben").isNotNull &&
          (col("dst").isNull || col("dst") >= col("ben")))
        .select(col("user_id"), col("bst").as("st"), col("ben").as("en"),
          col("bn").as("n_ev"))
      val soloD = seam
        .filter(col("dst").isNotNull &&
          (col("ben").isNull || col("dst") >= col("ben")))
        .select(col("user_id"), col("dst").as("st"), col("den").as("en"),
          col("dn").as("n_ev"))
      untouched.unionAll(stitched).unionAll(soloB).unionAll(soloD)
        .unionAll(dRest)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_sessions"),
          max("n_ev").as("max_session_events"))
        .orderBy("user_id")
    }),

    // dynamic-gap session windows (2h advanced): the gap is a per-event
    // EXPRESSION (clicks time out in 30 min, everything else in 60) —
    // session_window's dynamic form. Oracle: interval-merge gaps-and-
    // islands (new session iff ts >= running max of previous ends).
    "q_session_dynamic_gap" -> ((s, d) => Tables.events(s, d)
      .groupBy(
        session_window(col("ts"),
          when(col("event_type") === "click", "30 minutes")
            .otherwise("60 minutes")),
        col("user_id"))
      .agg(count(lit(1)).as("n_ev"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"),
        max("n_ev").as("max_session_events"))
      .orderBy("user_id")),

    "q_topk_orders" -> ((s, d) => Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), r4(col("o_totalprice")).as("price"))
      .orderBy(col("price").desc, col("o_orderkey"))
      .limit(10)),

    "q_set_ops" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val clickers = ev.filter(col("event_type") === "click").select("user_id")
      val buyers = ev.filter(col("event_type") === "purchase").select("user_id")
      val signups = ev.filter(col("event_type") === "signup").select("user_id")
      // materialize the shared intersection once: Catalyst does not CSE
      // across union branches, so an inline subplan would re-run the
      // events scan + intersect shuffle per branch
      val clickBuyers = clickers.intersect(buyers).localCheckpoint()
      clickBuyers.except(signups)
        .union(clickBuyers.intersect(signups))
        .distinct()
        .orderBy("user_id")
    }),

    // --- scalar function families (2g) ------------------------------------
    // Spark 4 COLLATION surface (round 9): string comparison semantics
    // as a TYPE property, not a lower() rewrite — a mixed-case relation
    // is counted distinct and equality-filtered under UTF8_LCASE, where
    // 'X' = 'x' holds natively (and the collation-aware hash keeps the
    // agg a hash agg). The oracle models the same semantics with
    // lower(); single-row output so no case-variant representative can
    // leak a partition-order dependence.
    "q_collation" -> ((s, d) => {
      val o = Tables.orders(s, d).select(col("o_orderpriority").as("p"))
      val mixed = o.select(lower(col("p")).as("p"))
        .unionAll(o.select(upper(col("p")).as("p")))
      mixed.agg(
        countDistinct(col("p")).as("n_binary"),
        countDistinct(collate(col("p"), "UTF8_LCASE")).as("n_lcase"),
        count(when(collate(col("p"), "UTF8_LCASE") === lit("1-urgent"), 1))
          .as("n_urgent_ci"))
    }),

    "q_string_funcs" -> ((s, d) => Tables.part(s, d)
      .select(
        col("p_partkey"),
        upper(col("p_brand")).as("brand_u"),
        lower(col("p_type")).as("type_l"),
        length(col("p_name")).as("name_len"),
        substring(col("p_type"), 1, 5).as("type_pfx"),
        concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"),
        trim(col("p_name")).as("name_trim"),
        regexp_replace(col("p_name"), "[aeiou]", "_").as("name_novowel"),
        regexp_extract(col("p_name"), "^(\\w+)", 1).as("first_word"))
      .orderBy("p_partkey").limit(100)),

    // Bucketed co-located join (the pre-shuffle design for repeated
    // fact⨝fact joins at 100 TB): both sides written bucketBy(8) +
    // sortBy on the join key, so the join runs bucket-by-bucket with NO
    // exchange on either key — paying the shuffle ONCE at write time
    // instead of on every join. The zero-exchange claim is verified
    // IN-PLAN (the executed plan is inspected for key exchanges +
    // bucketed scans and the verdict rides as an oracle-pinned flag),
    // with broadcast disabled in an isolated newSession() clone (the
    // q_range_join_auto conf-scoping pattern) so at gate scale the join
    // can't dodge the question by broadcasting, and the session conf
    // never leaks. BucketingSpec holds the spec-tier twin (bucket
    // pruning + plan equality with the plain join).
    "q_bucketed_join" -> ((s, d) => {
      val (li, ord) = ensureBucketedTables(s, d)
      val s2 = childSession(s)
      s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = s2.table(li)
        .join(s2.table(ord), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        // decimal-exact contract sum (the repo rule; r11 — the last
        // plain-double holdout): order-safe regardless of partitioning
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_quantity").cast("decimal(30,12)")), 4)
            .cast("double").as("sum_qty"))
      val plan = joined.queryExecution.executedPlan.toString
      val zeroExchange =
        !plan.contains("Exchange hashpartitioning(l_orderkey") &&
        !plan.contains("Exchange hashpartitioning(o_orderkey") &&
        plan.contains("Bucketed: true")
      joined.withColumn("zero_exchange_join", lit(zeroExchange))
        .orderBy("o_orderpriority")
    }),

    // --- injected bloom runtime filter (SPARK-32268): the optimizer's
    // OWN semi-join reduction — a selective predicate on one side of a
    // shuffle join makes Catalyst build a bloom filter over the
    // filtered side's join keys and push might_contain INTO the big
    // side's scan, pruning fact rows BEFORE the shuffle (the automatic
    // twin of the hand-built q_bloom_semi_filter). At 100 TB this is
    // the difference between shuffling every lineitem and shuffling
    // only candidate keys. Injection is gated on size estimates tuned
    // for clusters (10 MB creation / 10 GB application-side scan), so
    // the demonstration pins them open in an isolated session clone
    // (the q_range_join_auto scoping pattern — the caller's session is
    // never mutated) with broadcast disabled so the join genuinely
    // shuffles. The verdict — bloom_filter_agg present in the
    // optimized plan AND might_contain applied on the application
    // side — rides as an oracle-pinned flag; RuntimeFilterSpec holds
    // the result-invariance twin (filter on == filter off, row for
    // row).
    "q_runtime_filter" -> ((s, d) => {
      val clone = childSession(s, CarriedConfs: _*)
      clone.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      clone.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      clone.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "512MB")
      clone.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      clone.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val ord = Tables.orders(clone, d)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey", "o_orderpriority")
      val joined = Tables.lineitem(clone, d)
        .select("l_orderkey", "l_quantity")
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_lines"),
          round(sum(col("l_quantity").cast("decimal(30,12)")), 4)
            .cast("double").as("sum_qty"))
      val opt = joined.queryExecution.optimizedPlan.toString
      val injected = opt.contains("bloom_filter_agg") &&
        opt.contains("might_contain")
      joined.withColumn("bloom_injected", lit(injected))
        .orderBy("o_orderpriority")
    }),

    // Skyline / Pareto frontier (the SKYLINE OF operator some engines
    // ship natively): customers not dominated on (total spend ↑,
    // order count ↑) — dominated = another customer ≥ on both and > on
    // one. Computed over the AGGREGATED per-customer relation, which is
    // the scale story: the frontier query runs on |customers| rows
    // after a map-side-combined agg, never on raw orders; and the
    // Fuzzy (edit-distance) join — the entity-resolution primitive a
    // curation pipeline runs to reconcile noisy keys (vendor names, doc
    // ids with OCR typos). Entities are 12-hex-char md5 tags derivable
    // identically in both engines; the planted batch (r8 recipe) gives
    // the gate teeth: custkey%7==3 probes carry ONE substitution (must
    // match, ED=1), custkey%7==5 probes carry substitutions in BOTH
    // halves (equal-length ED is exactly 2 — a single edit on equal
    // lengths must be a substitution fixing one position — so they are
    // negative controls the verify predicate must reject). Blocking is
    // the PassJoin pigeonhole: a single edit on equal-length strings
    // touches one half, so the OTHER half survives intact — candidates
    // = pairs sharing either positional half, via two equi-joins on
    // 6-hex block keys (diverse keys, never all-pairs); exact
    // levenshtein verifies candidates only. At 100 TB: two shuffle
    // equi-joins on short hex keys + per-candidate O(len²) verify —
    // verify cost bounded by block collisions, not |A|×|B|. The DuckDB
    // oracle brute-forces all pairs, so a blocking channel that MISSES
    // a real pair hash-fails, not just slows down.
    "q_fuzzy_join" -> ((s, d) => {
      val canon = Tables.customer(s, d)
        .select(col("c_custkey"),
          substring(md5(concat(lit("ent:"), col("c_custkey"))), 1, 12)
            .as("cname"))
        .localCheckpoint() // consumed by probes + two block channels
      // hex alphabet never contains 'x', so every substitution is a
      // real change and planted distances are exact by construction
      val typo1 = canon.filter(col("c_custkey") % 7 === 3)
        .select(col("c_custkey").as("probe_key"),
          expr("concat(substr(cname, 1, cast(c_custkey % 12 as int)), 'x', " +
            "substr(cname, cast(c_custkey % 12 as int) + 2))").as("pname"))
      val typo2 = canon.filter(col("c_custkey") % 7 === 5)
        .select(col("c_custkey").as("probe_key"),
          expr("concat(substr(cname, 1, cast(c_custkey % 6 as int)), 'x', " +
            "substr(cname, cast(c_custkey % 6 as int) + 2, 5), 'x', " +
            "substr(cname, cast(c_custkey % 6 as int) + 8))").as("pname"))
      val probes = typo1.unionAll(typo2).localCheckpoint()
      def blocks(df: DataFrame, name: String, id: String) = df.select(
          col(id), explode(array(
            struct(lit(1).as("half"), substring(col(name), 1, 6).as("bk")),
            struct(lit(2).as("half"), substring(col(name), 7, 6).as("bk"))))
            .as("b"))
        .select(col(id), col("b.half"), col("b.bk"))
      val cands = blocks(probes, "pname", "probe_key")
        .join(blocks(canon, "cname", "c_custkey"), Seq("half", "bk"))
        .select("probe_key", "c_custkey").distinct()
      // banded verify: the threshold form abandons a row's DP after the
      // band k=1 is exceeded — O(k·len) per candidate instead of O(len²),
      // the variant that matters when the verify list is large. It
      // returns -1 above the band, hence the [0, 1] filter (not <= 1).
      cands.join(probes, "probe_key").join(canon, "c_custkey")
        .withColumn("dist", levenshtein(col("pname"), col("cname"), 1))
        .filter(col("dist").between(0, 1))
        .select("probe_key", "c_custkey", "pname", "cname", "dist")
        .orderBy("probe_key", "c_custkey")
    }),

    // Fuzzy join at τ = 2 WITH indels (VERDICT r9 #6) — PassJoin's
    // general partition scheme (Li et al., ICDE 2011): the indexed
    // string splits into τ+1 = 3 segments; ≤ τ edits corrupt ≤ τ
    // segments, so ANY string within ED ≤ 2 contains ≥ 1 segment
    // EXACTLY, start-shifted by the net indel offset before it
    // (|δ| ≤ τ). Candidates = equi-join of canon (segment, text)
    // keys against probe substrings at the 3 segment slots × 5 shifts
    // (≤ 15 four-char keys per probe — bounded fan-out, never
    // all-pairs); banded levenshtein(·,·,2) verifies candidates only.
    // Planted probe families (key mod 11, synthesis recomputed
    // verbatim by the brute-force oracle; 'x' ∉ hex makes every edit
    // real): 3 → one substitution (ED=1), 4 → one deletion (ED=1,
    // len 11), 5 → one insertion (ED=1, len 13), 6 → deletion in
    // segment 1 + substitution in segment 3 (ED=2 exactly: len diff
    // forces one indel, the alien 'x' forces a second edit), 8 → two
    // deletions at positions 2 and 7 (ED=2, len 10 — only segment 3
    // survives, at shift −2, the window's edge), 7 → one 'x' per
    // segment (ED=3 PROVABLY: each of the 3 alien chars needs its own
    // edit — negative control the τ=2 join must exclude). At 100 TB:
    // one shuffle equi-join on short keys + O(τ·len) banded verify per
    // collision; the brute-force oracle hash-fails any missed channel.
    "q_fuzzy_join_ed2" -> ((s, d) => {
      val canon = Tables.customer(s, d)
        .select(col("c_custkey"),
          substring(md5(concat(lit("ent:"), col("c_custkey"))), 1, 12)
            .as("cname"))
        .localCheckpoint() // consumed by 6 probe families + seg keys
      val k = col("c_custkey")
      def fam(m: Int, pnameSql: String): DataFrame =
        canon.filter(k % 11 === m)
          .select(k.as("probe_key"), expr(pnameSql).as("pname"))
      val p12 = "cast(c_custkey % 12 as int)"
      val p4 = "cast(c_custkey % 4 as int)"
      val p3 = "cast(c_custkey % 3 as int)"
      val probes = fam(3,
          s"concat(substr(cname,1,$p12),'x',substr(cname,$p12+2))")
        .unionAll(fam(4,
          s"concat(substr(cname,1,$p12),substr(cname,$p12+2))"))
        .unionAll(fam(5,
          s"concat(substr(cname,1,$p12),'x',substr(cname,$p12+1))"))
        .unionAll(fam(6,
          s"concat(substr(cname,1,$p4),substr(cname,$p4+2,8+$p3-$p4)," +
            s"'x',substr(cname,11+$p3))"))
        .unionAll(fam(7,
          s"concat(substr(cname,1,$p4),'x',substr(cname,$p4+2,3)," +
            s"'x',substr(cname,$p4+6,3),'x',substr(cname,$p4+10))"))
        .unionAll(fam(8,
          "concat(substr(cname,1,1),substr(cname,3,4),substr(cname,8))"))
        .localCheckpoint()
      val canonKeys = canon.select(col("c_custkey"), explode(array(
          (1 to 3).map(i => struct(lit(i).as("seg"),
            substring(col("cname"), 4 * i - 3, 4).as("bk"))): _*)).as("b"))
        .select(col("c_custkey"), col("b.seg"), col("b.bk"))
      val probeKeys = probes.select(col("probe_key"), col("pname"),
          explode(array((for (i <- 1 to 3; dlt <- -2 to 2) yield
            struct(lit(i).as("seg"), lit(4 * i - 3 + dlt).as("st"))): _*)).as("b"))
        .filter(col("b.st") >= 1 && col("b.st") + 3 <= length(col("pname")))
        .select(col("probe_key"), col("b.seg"),
          col("pname").substr(col("b.st"), lit(4)).as("bk"))
      val cands = probeKeys.join(canonKeys, Seq("seg", "bk"))
        .select("probe_key", "c_custkey").distinct()
      cands.join(probes, "probe_key").join(canon, "c_custkey")
        .filter(abs(length(col("pname")) - lit(12)) <= 2)
        .withColumn("dist", levenshtein(col("pname"), col("cname"), 2))
        .filter(col("dist").between(0, 2))
        .select("probe_key", "c_custkey", "pname", "cname", "dist")
        .orderBy("probe_key", "c_custkey")
    }),

    // dominance check prunes with a broadcast frontier-candidate
    // heuristic (only rows not dominated by the single max-spend row
    // can survive — at 100 TB that broadcast 1-row prefilter kills
    // almost everything before the quadratic anti-join touches the
    // remainder). Ties: a customer equal on both axes to another is
    // NOT dominated (strict-on-one definition), mirrored in the oracle.
    "q_skyline" -> ((s, d) => {
      val cust = Tables.orders(s, d).groupBy("o_custkey")
        .agg(round(sum(col("o_totalprice").cast("decimal(30,12)")), 4)
          .cast("double").as("spend"),
          count(lit(1)).as("n_orders"))
        .localCheckpoint()
      // broadcast 1-row prefilter: anything strictly dominated by the
      // max-spend point is out before the quadratic join; transitivity
      // makes the survivors a sufficient dominator set too
      val dstar = cust.orderBy(col("spend").desc, col("n_orders").desc)
        .limit(1).select(col("spend").as("ds"), col("n_orders").as("dn"))
      val cand = cust.crossJoin(broadcast(dstar))
        .filter(!((col("ds") >= col("spend")) && (col("dn") >= col("n_orders")) &&
          ((col("ds") > col("spend")) || (col("dn") > col("n_orders")))))
        .drop("ds", "dn").localCheckpoint()
      val dominators = cand.select(col("spend").as("s2"),
        col("n_orders").as("n2"))
      cand.join(dominators,
          (col("s2") >= col("spend")) && (col("n2") >= col("n_orders")) &&
          ((col("s2") > col("spend")) || (col("n2") > col("n_orders"))),
          "left_anti")
        .orderBy("o_custkey")
    }),

    // ANSI null-semantics parity: the behaviors that silently diverge
    // between engines if either gets them wrong — NULL forms its own
    // group, count(col) skips NULLs while count(*) doesn't, avg/ndv
    // ignore NULLs, <=> (IS NOT DISTINCT FROM) treats NULL as equal to
    // NULL, and NULL ordering is explicit (Spark ASC defaults
    // NULLS FIRST, DuckDB NULLS LAST — the one line every cross-engine
    // query must pin). NULLs are injected in-plan by key arithmetic so
    // both engines build the identical nullable columns.
    "q_null_semantics" -> ((s, d) => {
      val o = Tables.orders(s, d)
        .withColumn("ck", when(col("o_orderkey") % 7 === 0, lit(null))
          .otherwise(col("o_custkey")))
        .withColumn("pr", when(col("o_orderkey") % 11 === 0, lit(null))
          .otherwise(col("o_orderpriority")))
      o.groupBy("pr").agg(
          count(lit(1)).as("n_rows"),
          count(col("ck")).as("n_ck_nonnull"),
          sum(col("ck").isNull.cast("int")).as("n_ck_null"),
          sum((col("ck") <=> lit(null)).cast("int")).as("n_ck_nullsafe_eq"),
          countDistinct(col("ck")).as("ck_ndv"),
          round(avg(col("ck")), 4).as("ck_avg"))
        .orderBy(asc_nulls_first("pr"))
    }),

    // TPC-H Q3 (shipping priority) — the classic sel-fact-fact composite:
    // a filtered dimension (BUILDING customers, broadcast) semi-drives
    // two date-filtered fact scans whose join is the only shuffle; the
    // revenue top-10 rides the rounded value so cross-engine ordering is
    // exact. The date predicates push to both parquet scans
    // (PushdownSpec-style PushedFilters), which at 100 TB is the
    // difference between scanning a month and scanning the table.
    "q_tpch_q3" -> ((s, d) => {
      val cust = Tables.customer(s, d)
        .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
      val ord = Tables.orders(s, d)
        .filter(col("o_orderdate") < lit("1997-03-15").cast("date"))
        .select("o_orderkey", "o_custkey", "o_orderdate")
      val li = Tables.lineitem(s, d)
        .filter(col("l_shipdate") > lit("1997-03-15").cast("date"))
        .select(col("l_orderkey"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"), "left_semi")
        .groupBy("l_orderkey", "o_orderdate")
        .agg(round(sum(col("rev").cast("decimal(30,12)")), 4)
          .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate")
    }),

    // TPC-H Q5 (local supplier volume) — the 6-table star with the
    // c_nationkey = s_nationkey correlation that makes join ORDER the
    // whole game: region→nation→supplier reduce to a broadcast-sized
    // supplier subset before any fact is touched, customer broadcasts
    // against orders, and the single big shuffle is lineitem⋈orders.
    // A wrong order (facts first, nation correlation last) carries the
    // full fact join across the cluster to throw 4/5 of it away.
    "q_tpch_q5" -> ((s, d) => {
      val asiaNations = Tables.nation(s, d)
        .join(broadcast(Tables.region(s, d)
          .filter(col("r_name") === "ASIA").select("r_regionkey")),
          col("n_regionkey") === col("r_regionkey"), "left_semi")
        .select("n_nationkey", "n_name")
      val supp = Tables.supplier(s, d)
        .join(broadcast(asiaNations),
          col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey", "s_nationkey", "n_name")
      val custOrd = Tables.orders(s, d).select("o_orderkey", "o_custkey")
        .join(broadcast(Tables.customer(s, d)
          .select("c_custkey", "c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .select("o_orderkey", "c_nationkey")
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_suppkey"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
        .join(custOrd, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .groupBy("n_name")
        .agg(round(sum(col("rev").cast("decimal(30,12)")), 4)
          .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),

    // TPC-H Q1 (pricing summary report — the canonical single-scan
    // columnar aggregate): one pushed-down date filter, one hash agg
    // over 2 low-cardinality keys with 8 parallel aggregates, zero
    // joins. Map-side combine collapses the scan to ~|groups| rows per
    // partition before the one tiny shuffle — at 100 TB the cost IS the
    // scan, which is the benchmark's point. Decimal-exact sums (the
    // q_tpch_q3 rule) so the distributed sum order can't leak into the
    // 4-decimal gate; averages divide the exact decimal sum (cast back
    // to double) by the group count — identical arithmetic in DuckDB.
    "q_tpch_q1" -> ((s, d) => {
      def dsum(c: Column) =
        round(sum(c.cast("decimal(30,12)")), 4).cast("double")
      def davg(c: Column) =
        round(sum(c.cast("decimal(30,12)")).cast("double") / count(lit(1)), 4)
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= date_sub(lit("1998-12-01").cast("date"), 90))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("sum_disc_price"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
            * (lit(1.0) + col("l_tax"))).as("sum_charge"),
          davg(col("l_quantity")).as("avg_qty"),
          davg(col("l_extendedprice")).as("avg_price"),
          davg(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // TPC-H Q6 (forecasting revenue change): the pure pushdown
    // benchmark — three range predicates and one product-sum, no
    // grouping keys, no joins. Every predicate reaches the parquet scan
    // (PushedFilters), the aggregate is a 1-row partial+final, and the
    // whole query is one codegen stage over the pruned columns.
    "q_tpch_q6" -> ((s, d) => Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("date") &&
        col("l_shipdate") < lit("1997-01-01").cast("date") &&
        col("l_discount").between(0.05, 0.07) &&
        col("l_quantity") < 24)
      .agg(round(sum((col("l_extendedprice") * col("l_discount"))
        .cast("decimal(30,12)")), 4).cast("double").as("revenue"))),

    // TPC-H Q10 (returned-item reporting): fact filtered on the return
    // flag and quarter, customer + nation ride broadcasts, one grouped
    // agg, top-20 by revenue (TakeOrderedAndProject — never a global
    // sort). c_custkey tie-break pins the LIMIT boundary.
    "q_tpch_q10" -> ((s, d) => {
      val li = Tables.lineitem(s, d).filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
      val ord = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1996-10-01").cast("date") &&
          col("o_orderdate") < lit("1997-01-01").cast("date"))
        .select("o_orderkey", "o_custkey")
      val cust = Tables.customer(s, d)
        .select("c_custkey", "c_name", "c_acctbal", "c_nationkey")
      val nat = Tables.nation(s, d).select("n_nationkey", "n_name")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(round(sum(col("rev").cast("decimal(30,12)")), 4)
          .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
    }),

    // TPC-H Q14 (promotion effect): two-table join + conditional share
    // — the promo revenue fraction over one month. One shuffle join
    // (part broadcasts), two decimal-exact sums, ONE division at the
    // end (no per-row ratios to drift).
    "q_tpch_q14" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-09-01").cast("date") &&
          col("l_shipdate") < lit("1996-10-01").cast("date"))
        .select(col("l_partkey"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
      li.join(broadcast(Tables.part(s, d).select("p_partkey", "p_type")),
          col("l_partkey") === col("p_partkey"))
        .agg(
          round(lit(100.0) *
            sum(when(col("p_type").startsWith("ECONOMY"), col("rev"))
              .otherwise(0.0).cast("decimal(30,12)")).cast("double") /
            sum(col("rev").cast("decimal(30,12)")).cast("double"), 4)
            .as("economy_share_pct"))
    }),

    // TPC-H Q18 (large-volume customers): the grouped-HAVING semi join.
    // The heavy-purchaser keys come from a map-side-combined per-order
    // agg whose HAVING output is small — it BROADCASTS into orders
    // (semi), so the fact is never shuffled to find the qualifying
    // orders; the final per-order re-aggregation then touches only the
    // qualifying rows. ORDER BY gets the o_orderkey tie-break (synthetic
    // totalprices can collide; the oracle-determinism rule).
    "q_tpch_q18" -> ((s, d) => {
      val big = Tables.lineitem(s, d).groupBy("l_orderkey")
        .agg(round(sum(col("l_quantity").cast("decimal(30,12)")), 4)
          .cast("double").as("sumq"))
        .filter(col("sumq") > 300.0)
        .select(col("l_orderkey").as("bigkey"))
      val ord = Tables.orders(s, d)
        .join(broadcast(big), col("o_orderkey") === col("bigkey"), "left_semi")
      ord.join(broadcast(Tables.customer(s, d).select("c_custkey", "c_name")),
          col("o_custkey") === col("c_custkey"))
        .join(Tables.lineitem(s, d).select("l_orderkey", "l_quantity"),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate",
          "o_totalprice")
        .agg(round(sum(col("l_quantity").cast("decimal(30,12)")), 4)
          .cast("double").as("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderdate"), col("o_orderkey"))
        .limit(100)
    }),

    // TPC-H Q4 (order priority checking), adapted: the synthetic lineitem
    // has no commit/receipt dates, so the EXISTS predicate is "some line
    // shipped more than 30 days after the order date" — same plan shape
    // (quarter-filtered orders ⋉ EXISTS-correlated lineitem → tiny
    // grouped count). The semi join carries the non-equi ship-lag
    // predicate INSIDE the join condition, so each order is emitted at
    // most once without a distinct; the filtered order side is the small
    // build side and lineitem is never aggregated.
    "q_tpch_q4" -> ((s, d) => {
      val ord = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1996-07-01").cast("date") &&
          col("o_orderdate") < lit("1996-10-01").cast("date"))
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
      val li = Tables.lineitem(s, d).select("l_orderkey", "l_shipdate")
      ord.join(li, col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAY"),
          "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    }),

    // TPC-H Q7 (volume shipping), adapted: the synthetic nation space is
    // 25 uniform NATION_k rows, so a single nation pair is empty at gate
    // scale — the pair predicate lifts one level to REGIONS (ASIA⇄EUROPE),
    // preserving the query's shape exactly: two independent dimension
    // chains (supplier→nation→region, customer→nation→region) reduced to
    // broadcast maps BEFORE the facts join, the disjunctive pair filter,
    // and the (supp_region, cust_region, year) rollup. The only big
    // shuffle is lineitem⋈orders; both region chains ride broadcasts.
    "q_tpch_q7" -> ((s, d) => {
      def regionOf(nat: DataFrame, reg: DataFrame) = nat
        .join(broadcast(reg.filter(col("r_name").isin("ASIA", "EUROPE"))),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("r_name"))
      val suppReg = Tables.supplier(s, d).select("s_suppkey", "s_nationkey")
        .join(broadcast(regionOf(Tables.nation(s, d), Tables.region(s, d))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("r_name").as("supp_region"))
      val custReg = Tables.customer(s, d).select("c_custkey", "c_nationkey")
        .join(broadcast(regionOf(Tables.nation(s, d), Tables.region(s, d))),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("r_name").as("cust_region"))
      val ord = Tables.orders(s, d).select("o_orderkey", "o_custkey")
        .join(broadcast(custReg), col("o_custkey") === col("c_custkey"))
        .select("o_orderkey", "cust_region")
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("date") &&
          col("l_shipdate") <= lit("1997-12-31").cast("date"))
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
        .join(broadcast(suppReg), col("l_suppkey") === col("s_suppkey"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .filter((col("supp_region") === "ASIA" && col("cust_region") === "EUROPE") ||
          (col("supp_region") === "EUROPE" && col("cust_region") === "ASIA"))
        .groupBy(col("supp_region"), col("cust_region"),
          year(col("l_shipdate")).as("l_year"))
        .agg(round(sum(col("rev").cast("decimal(30,12)")), 4)
          .cast("double").as("revenue"))
        .orderBy("supp_region", "cust_region", "l_year")
    }),

    // TPC-H Q13 (customer order-count distribution): the two-level
    // aggregate — a LEFT OUTER join whose extra predicate lives in the
    // join condition (so order-less customers survive with count 0; the
    // priority filter substitutes for the comment NOT LIKE, which the
    // synthetic orders lack), a per-customer count, then a tiny
    // histogram over the counts. First shuffle is keyed on c_custkey,
    // second input is |customers| rows collapsing to ~20 groups —
    // map-side combine makes the histogram free.
    "q_tpch_q13" -> ((s, d) => {
      val ord = Tables.orders(s, d)
        .filter(col("o_orderpriority") =!= "4-NOT SPECIFIED")
        .select("o_orderkey", "o_custkey")
      Tables.customer(s, d).select("c_custkey")
        .join(ord, col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    }),

    // TPC-H Q15 (top supplier): the argmax-over-an-aggregate pattern —
    // per-supplier quarter revenue, its 1-row max broadcast back as an
    // equality filter (ties all surface, per spec), supplier names ride
    // a broadcast. The revenue relation is localCheckpointed because TWO
    // consumers (the max and the final filter) would otherwise each
    // re-run the fact scan+agg.
    "q_tpch_q15" -> ((s, d) => {
      val rev = Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("date") &&
          col("l_shipdate") < lit("1996-04-01").cast("date"))
        .groupBy(col("l_suppkey"))
        .agg(round(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(30,12)")), 4).cast("double").as("total_revenue"))
        .localCheckpoint()
      val top = rev.agg(max(col("total_revenue")).as("max_rev"))
      rev.join(broadcast(top), col("total_revenue") === col("max_rev"))
        .join(broadcast(Tables.supplier(s, d).select("s_suppkey", "s_name")),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
        .orderBy("s_suppkey")
    }),

    // TPC-H Q17 (small-quantity-order revenue): the correlated-average
    // decorrelated into a per-part aggregate join. The threshold compare
    // is DIVISION-FREE — `l_quantity < 0.2·avg(qty)` is algebraically
    // `5·l_quantity·cnt < sum(qty)` (cnt > 0) with the sum decimal-exact,
    // so no engine's double-average rounding can flip a row at the
    // boundary. Brand-filtered parts broadcast twice (once to scope the
    // per-part stats, once for the probe) — the per-part agg only ever
    // aggregates lines of the ~|brand| parts, not the whole fact.
    "q_tpch_q17" -> ((s, d) => {
      val brandParts = Tables.part(s, d)
        .filter(col("p_brand") === "Brand#13").select("p_partkey")
      // two consumers (stats + probe) — materialize the small brand
      // subset once instead of scanning the fact twice
      val liBrand = Tables.lineitem(s, d)
        .join(broadcast(brandParts), col("l_partkey") === col("p_partkey"), "left_semi")
        .select("l_partkey", "l_quantity", "l_extendedprice")
        .localCheckpoint()
      val stats = liBrand.groupBy(col("l_partkey").as("sp_partkey"))
        .agg(sum(col("l_quantity").cast("decimal(30,12)")).as("sumq"),
          count(lit(1)).as("cnt"))
      liBrand.join(broadcast(stats), col("l_partkey") === col("sp_partkey"))
        .filter(col("l_quantity") * lit(5.0) * col("cnt") <
          col("sumq").cast("double"))
        .agg(round((sum(col("l_extendedprice").cast("decimal(30,12)"))
          .cast("double") / lit(7.0)).cast("decimal(30,12)"), 4)
          .cast("double").as("avg_yearly"))
    }),

    // TPC-H Q22 (global sales opportunity), adapted: the synthetic
    // customer has no phone, and every customer has SOME order, so the
    // cntrycode IN-list becomes the nation key and "no orders" becomes
    // "no orders in the trailing year" (dormant accounts). Shape is the
    // spec's: a 1-row global average over positive balances broadcast as
    // the threshold (compared division-free: bal·cnt > sum, both sides
    // bit-identical across engines), an ANTI join against the
    // date-filtered orders, and a per-nation count/sum rollup.
    "q_tpch_q22" -> ((s, d) => {
      val cust = Tables.customer(s, d)
        .select("c_custkey", "c_nationkey", "c_acctbal")
      val thr = cust.filter(col("c_acctbal") > 0.0)
        .agg(sum(col("c_acctbal").cast("decimal(30,12)")).cast("double")
          .as("sum_pos"), count(lit(1)).as("cnt_pos"))
      val recent = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("2000-08-01").cast("date"))
        .select("o_custkey")
      cust.join(broadcast(thr))
        .filter(col("c_acctbal") * col("cnt_pos") > col("sum_pos"))
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("numcust"),
          round(sum(col("c_acctbal").cast("decimal(30,12)")), 4)
            .cast("double").as("totacctbal"))
        .orderBy("c_nationkey")
    }),

    // TPC-H Q8 (national market share), adapted to the synthetic
    // dimensions: the market is the EUROPE customer region, the measured
    // "nation" is supplier nation NATION_3. The shape is the spec's —
    // the conditional-share pattern (one grouped pass computing BOTH the
    // nation-filtered and total revenue sums, one division at the end),
    // with the customer-region chain and the supplier-nation map riding
    // broadcasts; the one big shuffle is lineitem⋈orders.
    "q_tpch_q8" -> ((s, d) => {
      val eurCust = Tables.customer(s, d).select("c_custkey", "c_nationkey")
        .join(broadcast(Tables.nation(s, d)
          .join(broadcast(Tables.region(s, d)
            .filter(col("r_name") === "EUROPE").select("r_regionkey")),
            col("n_regionkey") === col("r_regionkey"), "left_semi")
          .select("n_nationkey")),
          col("c_nationkey") === col("n_nationkey"), "left_semi")
        .select("c_custkey")
      val ord = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("date") &&
          col("o_orderdate") <= lit("1997-12-31").cast("date"))
        .join(broadcast(eurCust), col("o_custkey") === col("c_custkey"), "left_semi")
        .select(col("o_orderkey"), year(col("o_orderdate")).as("o_year"))
      val suppNat = Tables.supplier(s, d).select("s_suppkey", "s_nationkey")
        .join(broadcast(Tables.nation(s, d).select("n_nationkey", "n_name")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_suppkey"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(suppNat), col("l_suppkey") === col("s_suppkey"))
        .groupBy("o_year")
        .agg(
          round(
            sum(when(col("supp_nation") === "NATION_3", col("rev"))
              .otherwise(0.0).cast("decimal(30,12)")).cast("double") /
            sum(col("rev").cast("decimal(30,12)")).cast("double"), 4)
            .as("mkt_share"),
          count(lit(1)).as("n"))
        .orderBy("o_year")
    }),

    // TPC-H Q9 (product-type profit), adapted: the synthetic schema has
    // no partsupp, so supply cost proxies as p_retailprice·l_quantity/10
    // — the PLAN is the benchmark's (part-name LIKE filter pruning the
    // probe side, part + supplier-nation broadcasts, lineitem⋈orders the
    // one fact shuffle, per-(nation, year) profit rollup). The per-row
    // profit expression is identical in both engines; sums are
    // decimal-exact.
    "q_tpch_q9" -> ((s, d) => {
      val pt = Tables.part(s, d).filter(col("p_name").like("%a%"))
        .select("p_partkey", "p_retailprice")
      val suppNat = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d).select("n_nationkey", "n_name")),
          col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey", "n_name")
      val ord = Tables.orders(s, d)
        .select(col("o_orderkey"), year(col("o_orderdate")).as("o_year"))
      Tables.lineitem(s, d)
        .join(broadcast(pt), col("l_partkey") === col("p_partkey"))
        .join(broadcast(suppNat), col("l_suppkey") === col("s_suppkey"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("n_name").as("nation"), col("o_year"))
        .agg(round(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")) -
            col("p_retailprice") * col("l_quantity") * lit(0.1))
          .cast("decimal(30,12)")), 4).cast("double").as("profit"))
        .orderBy(col("nation"), col("o_year").desc)
    }),

    // TPC-H Q12 (shipping-mode priority), adapted: the synthetic
    // lineitem has no shipmode/commit/receipt dates — the mode bucket is
    // l_linestatus and "late" is shipped >60 days after the order date.
    // The shape is the spec's: one fact join, a year filter, and the
    // high/low-priority CASE counts per bucket (map-side combined to 2
    // rows).
    "q_tpch_q12" -> ((s, d) => {
      val hi = Seq("1-URGENT", "2-HIGH")
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("date") &&
          col("l_shipdate") <= lit("1996-12-31").cast("date"))
        .join(Tables.orders(s, d).select("o_orderkey", "o_orderdate",
            "o_orderpriority"),
          col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAY"))
        .groupBy("l_linestatus")
        .agg(
          sum(when(col("o_orderpriority").isin(hi: _*), 1L).otherwise(0L))
            .as("high_count"),
          sum(when(!col("o_orderpriority").isin(hi: _*), 1L).otherwise(0L))
            .as("low_count"))
        .orderBy("l_linestatus")
    }),

    // TPC-H Q19 (discounted revenue, disjunctive predicates): the
    // three-clause OR across both join sides — the point is that the
    // clauses each reference part AND lineitem columns, so the predicate
    // evaluates inside the broadcast hash join (never a cartesian), and
    // the partkey equi-key still drives the join. Clauses adapted to the
    // columns the synthetic part carries (brand/size/quantity; no
    // container/shipmode).
    "q_tpch_q19" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
      li.join(broadcast(Tables.part(s, d)
            .select("p_partkey", "p_brand", "p_size")),
          col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#13" && col("p_size").between(1, 15) &&
            col("l_quantity").between(1, 20)) ||
          (col("p_brand") === "Brand#23" && col("p_size").between(10, 30) &&
            col("l_quantity").between(10, 30)) ||
          (col("p_brand") === "Brand#34" && col("p_size").between(20, 50) &&
            col("l_quantity").between(20, 40)))
        .agg(round(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(30,12)")), 4).cast("double").as("revenue"),
          count(lit(1)).as("n"))
    }),

    // TPC-H Q21 (suppliers who kept orders waiting), adapted: "late" is
    // shipped >60 days after the order date (no commit/receipt dates).
    // The double correlated EXISTS / NOT EXISTS decorrelates into ONE
    // per-order aggregate — n_supps ≥ 2 ⇔ "some other supplier touched
    // the order" and n_late_supps = 1 ⇔ "no OTHER supplier was late"
    // (the late line's own supplier is necessarily the one) — joined
    // back to the late lines. At 100 TB that is two passes over the
    // order-keyed fact instead of two per-row subquery probes.
    "q_tpch_q21" -> ((s, d) => {
      // the raw fact join is consumed ONCE, collapsed immediately to a
      // (order, supplier, late_lines) aggregate — only that (narrower,
      // map-side-combined) relation is materialized for its two
      // consumers. A first cut checkpointed the 60M-row joined fact at
      // 100× and read 13× the 10× time; this shape restored ~linear.
      val os = Tables.lineitem(s, d)
        .join(Tables.orders(s, d).select("o_orderkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"), col("l_suppkey"))
        .agg(sum(when(col("l_shipdate") >
            col("o_orderdate") + expr("INTERVAL 60 DAY"), 1L).otherwise(0L))
          .as("late_lines"))
        .localCheckpoint()
      val perOrder = os.groupBy(col("l_orderkey").as("agg_okey"))
        .agg(count(lit(1)).as("n_supps"),
          sum(when(col("late_lines") > 0, 1L).otherwise(0L))
            .as("n_late_supps"))
      // numwait = Σ late_lines: each qualifying late LINE counts once,
      // exactly the spec's count(*) over qualifying l1 rows
      os.filter(col("late_lines") > 0)
        .join(perOrder, col("l_orderkey") === col("agg_okey"))
        .filter(col("n_supps") >= 2 && col("n_late_supps") === 1)
        .join(broadcast(Tables.supplier(s, d).select("s_suppkey", "s_name")),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy("s_name")
        .agg(sum(col("late_lines")).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(100)
    }),

    // TPC-H Q2 (minimum-cost supplier), adapted: partsupp is the derived
    // relation (see derivedPartsupp), region EUROPE, part filter
    // p_type = 'STANDARD' ∧ p_size ≤ 25 (the synthetic p_type is a
    // 6-value category, not the spec's 150-value string). The SHAPE is
    // the spec's: a correlated MIN subquery over the region-eligible
    // partsupp rows, decorrelated into a per-part aggregate joined back
    // on (partkey, cost = min). Everything is dimension-scale and rides
    // broadcasts — at 100 TB this query never touches a fact table. The
    // eligible relation is localCheckpointed for its two consumers (the
    // min aggregate and the join-back); within-part costs are distinct
    // by construction, so the min row per part is unique (tie-free
    // ordering with p_partkey as the final key).
    "q_tpch_q2" -> ((s, d) => {
      val pf = Tables.part(s, d)
        .filter(col("p_type") === "STANDARD" && col("p_size") <= 25)
        .select("p_partkey", "p_brand")
      val elig = derivedPartsupp(s, d)
        .join(broadcast(pf), col("ps_partkey") === col("p_partkey"))
        .join(broadcast(regionSuppliers(s, d, "EUROPE")),
          col("ps_suppkey") === col("s_suppkey"))
        .localCheckpoint()
      val minc = elig.groupBy(col("ps_partkey").as("m_partkey"))
        .agg(min(col("ps_supplycost")).as("min_cost"))
      elig.join(broadcast(minc),
          col("ps_partkey") === col("m_partkey") &&
          col("ps_supplycost") === col("min_cost"))
        .select(col("s_acctbal"), col("s_name"), col("n_name"),
          col("p_partkey"), col("p_brand"),
          col("ps_supplycost").as("supplycost"))
        .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
          col("p_partkey"))
        .limit(100)
    }),

    // TPC-H Q11 (important stock), adapted: derived partsupp, scope =
    // EUROPE-region suppliers, and the spec's fixed 0.0001/SF fraction
    // becomes the scale-free "part value > 1.5× the mean per-part
    // value" — the same shape (a 1-row global aggregate broadcast back
    // as the HAVING threshold) but one that bites at every sf. Values
    // aggregate in exact BIGINT cents and the threshold compares
    // DIVISION-FREE (2·n·value > 3·total), so no engine's decimal or
    // double rounding can flip a boundary part.
    "q_tpch_q11" -> ((s, d) => {
      val value = derivedPartsupp(s, d)
        .join(broadcast(regionSuppliers(s, d, "EUROPE")
          .select("s_suppkey")),
          col("ps_suppkey") === col("s_suppkey"), "left_semi")
        .groupBy("ps_partkey")
        .agg(sum(col("ps_availqty") * col("ps_costcents"))
          .as("value_cents"))
        .localCheckpoint()
      val tot = value.agg(sum(col("value_cents")).as("total_cents"),
        count(lit(1)).as("n_parts"))
      value.crossJoin(broadcast(tot))
        .filter(col("value_cents") * col("n_parts") * 2 >
          col("total_cents") * 3)
        .select(col("ps_partkey"),
          r4(col("value_cents").cast("double") / lit(100.0))
            .as("value"))
        .orderBy(col("value").desc, col("ps_partkey"))
    }),

    // TPC-H Q16 (parts/supplier relationship), adapted: derived
    // partsupp; the spec's "customer complaints" suppliers (no s_comment
    // in the synthetic schema) become the low-balance tier
    // s_acctbal < 1000 — the NOT-IN exclusion SHAPE is what is kept, as
    // a broadcast anti join (1 excluded supplier at sf0.001, 15 at
    // sf0.01, so the gate bites at both scales). Eight spec-like sizes,
    // brand/type exclusions, count(DISTINCT ps_suppkey) rollup ordered
    // by descending supplier breadth.
    "q_tpch_q16" -> ((s, d) => {
      val complain = Tables.supplier(s, d)
        .filter(col("s_acctbal") < 1000.0).select("s_suppkey")
      val pf = Tables.part(s, d)
        .filter(col("p_brand") =!= "Brand#13" &&
          col("p_type") =!= "MEDIUM" &&
          col("p_size").isin(3, 9, 14, 19, 23, 36, 45, 49))
        .select("p_partkey", "p_brand", "p_type", "p_size")
      derivedPartsupp(s, d)
        .join(broadcast(complain),
          col("ps_suppkey") === col("s_suppkey"), "left_anti")
        .join(broadcast(pf), col("ps_partkey") === col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(countDistinct(col("ps_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"),
          col("p_type"), col("p_size"))
    }),

    // TPC-H Q20 (potential part promotion), adapted: derived partsupp,
    // part prefix 'red%' for the spec's 'forest%', ship-year 1996, and
    // region EUROPE for the spec's single nation. The availability
    // threshold is "availqty > half the AVERAGE per-line shipped
    // quantity" rather than the spec's half-of-SUM: the synthetic
    // (part,supplier) pair space does NOT scale with the fact (real
    // TPC-H grows partsupp with SF), so per-pair yearly sums grow
    // linearly with scale and an absolute-sum threshold admits zero
    // pairs by 10× (measured: median Σqty 280 vs availqty ≤ 50 at
    // /tmp/sf1). The per-line average is scale-free, the nested
    // correlated-aggregate SHAPE is the spec's, and the compare is
    // DIVISION-FREE (2·availqty·cnt > Σqty, the sum decimal-exact).
    // The decorrelation: ONE per-(part,supplier) aggregate over the
    // prefix-pruned fact (the semi broadcast lands BEFORE the shuffle,
    // so only ~1/8 of lineitem shuffles); a pair with no shipped lines
    // is excluded by the inner join, exactly the spec's NULL-comparison
    // semantics. The oracle runs the doubly-nested correlated form
    // verbatim.
    "q_tpch_q20" -> ((s, d) => {
      val redParts = Tables.part(s, d)
        .filter(col("p_name").like("red%")).select("p_partkey")
      val shipped = Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("date") &&
          col("l_shipdate") < lit("1997-01-01").cast("date"))
        .join(broadcast(redParts),
          col("l_partkey") === col("p_partkey"), "left_semi")
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(col("l_quantity").cast("decimal(30,12)")).as("sumq"),
          count(lit(1)).as("cntq"))
      val okSupp = derivedPartsupp(s, d)
        .join(broadcast(redParts),
          col("ps_partkey") === col("p_partkey"), "left_semi")
        .join(shipped, col("ps_partkey") === col("l_partkey") &&
          col("ps_suppkey") === col("l_suppkey"))
        .filter((col("ps_availqty") * 2 * col("cntq"))
          .cast("decimal(30,12)") > col("sumq"))
        .select("ps_suppkey").distinct()
      regionSuppliers(s, d, "EUROPE")
        .join(okSupp, col("s_suppkey") === col("ps_suppkey"), "left_semi")
        .select("s_suppkey", "s_name", "s_acctbal")
        .orderBy("s_suppkey")
    }),

    // --- join strategy hints: the user-facing physical-strategy dials
    // (BROADCAST / MERGE / SHUFFLE_HASH) — at 100 TB these are how an
    // operator overrides a mis-estimate (a dim the stats call big and
    // AQE would sort-merge, when one side is KNOWN to fit; or the
    // reverse, pinning SMJ when a "small" side would OOM the build).
    // The same orders⋈customer aggregate runs under all three hints;
    // the in-plan verdicts pin that each hint was genuinely HONORED
    // (three different physical joins), and the three results are
    // proven identical by symmetric difference over the checkpointed
    // ≤25-row aggregates before the invariance verdict rides the row.
    "q_join_hints" -> ((s, d) => {
      def joined(hint: String) = {
        val c = Tables.customer(s, d)
          .select("c_custkey", "c_nationkey").hint(hint)
        Tables.orders(s, d).select("o_custkey", "o_totalprice")
          .join(c, col("o_custkey") === col("c_custkey"))
          .groupBy("c_nationkey")
          .agg(count(lit(1)).as("n"),
            round(sum(col("o_totalprice").cast("decimal(30,12)")), 4)
              .cast("double").as("revenue"))
      }
      val (b, m, h) = (joined("broadcast"), joined("merge"),
        joined("shuffle_hash"))
      val okB = b.queryExecution.executedPlan.toString
        .contains("BroadcastHashJoin")
      val okM = m.queryExecution.executedPlan.toString
        .contains("SortMergeJoin")
      val okH = h.queryExecution.executedPlan.toString
        .contains("ShuffledHashJoin")
      // ≤|nation| rows each once aggregated — materialize, then the
      // cross-variant equality checks are driver-cheap
      val (bc, mc, hc) = (b.localCheckpoint(), m.localCheckpoint(),
        h.localCheckpoint())
      val same = bc.except(mc).isEmpty && mc.except(bc).isEmpty &&
        bc.except(hc).isEmpty && hc.except(bc).isEmpty
      bc.withColumn("hint_broadcast_honored", lit(okB))
        .withColumn("hint_merge_honored", lit(okM))
        .withColumn("hint_shuffle_hash_honored", lit(okH))
        .withColumn("results_invariant", lit(same))
        .orderBy("c_nationkey")
    }),

    // URL parsing family (parse_url — a native codegen-able Catalyst
    // expression, the op behind domain filtering / URL dedup / robots
    // scoping in a web-corpus pipeline). The URLs are synthesized
    // in-plan from (source, lang, doc_id), which gives the oracle
    // ground truth BY CONSTRUCTION: DuckDB rebuilds each component from
    // the same fields instead of re-implementing a URL parser, so any
    // parse_url misextraction (host bleeding into path, query into
    // fragment, …) hash-fails. One scan, all six components per row.
    "q_url_funcs" -> ((s, d) => Tables.documents(s, d)
      .filter(col("doc_id") < 200)
      .withColumn("url",
        concat(lit("https://"), col("source"), lit(".example.com/"),
          col("lang"), lit("/doc/"), col("doc_id"),
          lit("?ref="), col("source"), lit("&page=2#sec"), col("doc_id")))
      .select(
        col("doc_id"),
        parse_url(col("url"), lit("PROTOCOL")).as("proto"),
        parse_url(col("url"), lit("HOST")).as("host"),
        parse_url(col("url"), lit("PATH")).as("path"),
        parse_url(col("url"), lit("QUERY")).as("query"),
        parse_url(col("url"), lit("QUERY"), lit("ref")).as("ref_param"),
        parse_url(col("url"), lit("REF")).as("frag"))
      .orderBy("doc_id")),

    "q_date_funcs" -> ((s, d) => Tables.events(s, d)
      .select(
        date_trunc("day", col("ts")).cast("date").as("day"),
        year(col("ts")).cast("long").as("yr"),
        month(col("ts")).cast("long").as("mo"),
        dayofmonth(col("ts")).cast("long").as("dom"),
        hour(col("ts")).cast("long").as("hr"))
      .groupBy("day", "yr", "mo", "dom", "hr")
      .agg(count(lit(1)).as("n"))
      .orderBy("day", "hr")),

    // Double sums are summed as DECIMAL(30,12): decimal addition is exact
    // and associative, so the result is independent of partition/merge
    // order (a double sum over N partitions is not) and bit-equal to
    // DuckDB's single-threaded sum. floor/ceil sums are integral in Spark
    // (LONG) but DOUBLE in DuckDB — cast to double to align the hash.
    "q_math_funcs" -> ((s, d) => {
      def dsum(c: Column) = sum(c.cast("decimal(30,12)"))
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          r4(dsum(log(col("l_extendedprice") + 1.0))).cast("double").as("sum_log"),
          r4(dsum(sqrt(col("l_quantity")))).cast("double").as("sum_sqrt"),
          r4(dsum(pow(col("l_discount"), 2.0))).cast("double").as("sum_sq"),
          r4(dsum(abs(col("l_extendedprice") - 1000.0))).cast("double").as("sum_absdev"),
          sum(floor(col("l_quantity"))).cast("double").as("sum_floor"),
          sum(ceil(col("l_quantity"))).cast("double").as("sum_ceil"))
        .orderBy("l_returnflag")
    }),

    "q_array_funcs" -> ((s, d) => Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(
        col("doc_id"),
        size(col("toks")).as("n_toks"),
        array_contains(col("toks"), "spark").cast("int").as("has_spark"),
        array_join(slice(sort_array(col("toks")), 1, 3), ",").as("first3_sorted"),
        element_at(col("toks"), 1).as("head_tok"))
      .orderBy("doc_id").limit(200)),

    "q_json_funcs" -> ((s, d) => Tables.events(s, d)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("k").as("sum_k"), max("k").as("max_k"))
      .orderBy("event_type")),

    // VARIANT path (2g, round 5): Spark 4's typed semi-structured lane —
    // parse once into the binary variant encoding, then typed
    // `variant_get` extraction (shreddable at scan time on parquet
    // VARIANT columns, vs the per-call string re-parse of
    // get_json_object). Same answers as q_json_funcs by construction;
    // the oracle is plain JSON extraction.
    "q_variant_funcs" -> ((s, d) => Tables.events(s, d)
      .select(col("event_type"), parse_json(col("props")).as("v"))
      .select(col("event_type"),
        variant_get(col("v"), "$.k", "long").as("k"),
        is_variant_null(col("v")).as("vnull"),
        schema_of_variant(col("v")).as("vschema"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("k").as("sum_k"), min("k").as("min_k"),
        count(when(col("vnull"), 1)).as("n_null"),
        min("vschema").as("schema_min"))
      .orderBy("event_type")),

    "q_map_funcs" -> ((s, d) => Tables.events(s, d)
      .select(col("event_id"),
        from_json(col("props"),
          org.apache.spark.sql.types.MapType(
            org.apache.spark.sql.types.StringType,
            org.apache.spark.sql.types.LongType)).as("m"))
      .select(col("event_id"),
        array_join(map_keys(col("m")), ",").as("keys"),
        element_at(col("m"), "k").as("k_val"))
      .orderBy("event_id").limit(200)),

    // --- interval / date arithmetic (2g date family) ---------------------
    "q_interval_funcs" -> ((s, d) => Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .select(col("l_returnflag"),
        datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate")))
          .cast("long").as("ship_lag"),
        (col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAY"))
          .cast("long").as("late90"))
      .groupBy("l_returnflag")
      .agg(round(avg("ship_lag"), 4).as("avg_lag_days"),
        max("ship_lag").as("max_lag_days"),
        sum("late90").as("n_late90"))
      .orderBy("l_returnflag")),

    // --- custom typed UDAF (2d): Aggregator[IN,BUF,OUT] surface ----------
    "q_typed_udaf" -> ((s, d) => {
      val welford = udaf(new graft.functions.WelfordVariance)
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(r4(welford(col("l_quantity"))).as("var_qty"),
          round(welford(col("l_discount")), 8).as("var_disc"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag")
    }),

    // --- pivot (2d): explicit value list keeps the schema static so the
    // plan is a single hash-agg (no extra pass to discover pivot values) ---
    "q_pivot" -> ((s, d) => Tables.orders(s, d)
      .groupBy("o_orderpriority")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(r4(sum("o_totalprice")))
      .orderBy("o_orderpriority")),

    // cryptographic hash family (2g): content-addressed ids / integrity
    // checksums — md5 and sha256 are byte-identical across engines
    // (unlike xxhash64, whose seeds differ), so they oracle-check exactly
    "q_hash_funcs" -> ((s, d) => Tables.part(s, d)
      .filter(col("p_partkey") <= 200)
      .select(col("p_partkey"),
        md5(col("p_name").cast("binary")).as("md5_name"),
        sha2(col("p_name").cast("binary"), 256).as("sha256_name"))
      .orderBy("p_partkey")),

    // time-series gap filling (2f/2g): sparse per-day counts densified
    // onto the full calendar (missing days become 0) — sequence+explode
    // builds the grid from the data's own bounds, so the plan is two
    // broadcastable tiny sides and one left join; no driver-side calendar
    "q_gap_fill" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val daily = ev
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      val bounds = ev.agg(to_date(min("ts")).as("d0"), to_date(max("ts")).as("d1"))
      val days = bounds
        .select(explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
      val types = ev.select("event_type").distinct()
      types.crossJoin(broadcast(days))
        .join(daily, Seq("event_type", "day"), "left")
        .select(col("event_type"), col("day"),
          coalesce(col("n"), lit(0L)).as("n"))
        .orderBy("event_type", "day")
    }),

    // ordered list aggregation (GROUP_CONCAT / string_agg family): the
    // per-key ordered-collection op behind itinerary/lineage exports.
    // Spark's collect_list is UNORDERED across partitions, so the
    // deterministic form collects (sortkey…, payload) STRUCTS, sorts the
    // array (struct order = lexicographic over ALL fields — ties on the
    // non-unique (linenumber) break on partkey, the oracle-determinism
    // rule), then projects — one hash agg, no window, no sort shuffle.
    "q_list_agg" -> ((s, d) => {
      Tables.lineitem(s, d)
        .filter(col("l_orderkey") % 100 === 0)
        .groupBy("l_orderkey")
        .agg(count(lit(1)).as("n_items"),
          array_join(
            transform(
              array_sort(collect_list(struct(col("l_linenumber"),
                col("l_partkey")))),
              x => x.getField("l_partkey").cast("string")),
            ",").as("parts"))
        .orderBy("l_orderkey")
    }),

    // linear interpolation over calendar gaps (2f) — the resampling
    // step between gap-fill-with-zero (q_gap_fill) and carry-forward
    // (q_locf): missing days take the line between the surrounding
    // observations. Four IGNORE-NULLS window scans on the series key
    // (prev/next value and anchor day), then one arithmetic expression
    // written IDENTICALLY in both engines (left-assoc, ANSI-guarded
    // division, decimal-rounded) — shuffle-parallel per series, the
    // spine is |types|×|days|, never event-sized.
    "q_interpolate" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, d)
      // the synthetic events are DENSE (every day observed at every gate
      // scale), which would leave the interpolation branch vacuous — so
      // observations are deterministically sparsified to every 3rd
      // calendar day (both engines apply the same filter) and the
      // operator genuinely reconstructs the ~2/3 missing days
      val daily = ev
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(r4(sum(col("value").cast("decimal(30,12)"))).cast("double").as("v"))
        .filter(dayofmonth(col("day")) % 3 === 1)
      val bounds = ev.agg(to_date(min("ts")).as("d0"), to_date(max("ts")).as("d1"))
      val days = bounds
        .select(explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
      val spine = ev.select("event_type").distinct()
        .crossJoin(broadcast(days))
        .join(daily, Seq("event_type", "day"), "left")
      val wPrev = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
      val wNext = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(0, Window.unboundedFollowing)
      val obsDay = when(col("v").isNotNull, col("day"))
      val interp = spine
        .withColumn("pv", last(col("v"), ignoreNulls = true).over(wPrev))
        .withColumn("pd", last(obsDay, ignoreNulls = true).over(wPrev))
        .withColumn("nv", first(col("v"), ignoreNulls = true).over(wNext))
        .withColumn("nd", first(obsDay, ignoreNulls = true).over(wNext))
      interp
        .withColumn("value_interp",
          when(col("v").isNotNull, col("v"))
            .when(col("pv").isNotNull && col("nv").isNotNull &&
                datediff(col("nd"), col("pd")) > 0,
              round((col("pv") + (col("nv") - col("pv")) *
                datediff(col("day"), col("pd")) /
                datediff(col("nd"), col("pd"))).cast("decimal(30,12)"), 4)
                .cast("double")))
        .filter(col("value_interp").isNotNull)
        .select(col("event_type"), col("day"), col("value_interp"),
          col("v").isNotNull.as("observed"))
        .orderBy("event_type", "day")
    }),

    // forward fill / LOCF (2f): last non-null observation carried forward
    // over the dense calendar — `last(col, ignoreNulls)` over an
    // unbounded-preceding frame, shuffle-parallel on the series key
    "q_locf" -> ((s, d) => {
      val ev = Tables.events(s, d)
      // decimal-stable daily total (same trick as q_math_funcs): sum and
      // round IN DECIMAL on both engines — avg(double) rounds 1 ulp apart
      // across engines on half-boundary groups (seen at sf0.001:
      // 38.37875), and even identical quotient doubles round differently
      // (Spark rounds the exact expansion, DuckDB the scaled multiply).
      // The operator under test is the LOCF carry, not the daily stat.
      val daily = ev
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(r4(sum(col("value").cast("decimal(30,12)"))).cast("double").as("avg_v"))
      val bounds = ev.agg(to_date(min("ts")).as("d0"), to_date(max("ts")).as("d1"))
      val days = bounds
        .select(explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
      val w = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev.select("event_type").distinct()
        .crossJoin(broadcast(days))
        .join(daily, Seq("event_type", "day"), "left")
        .select(col("event_type"), col("day"),
          last(col("avg_v"), ignoreNulls = true).over(w).as("filled_v"))
        .orderBy("event_type", "day")
    }),

    // generator family beyond plain explode (2i): explode_outer keeps
    // rows with empty arrays (the LEFT JOIN of generators), inline
    // flattens struct arrays, stack unpivots literals row-wise
    "q_generator_funcs" -> ((s, d) => {
      Tables.documents(s, d).createOrReplaceTempView("docs_gen")
      s.sql("""SELECT doc_id, tok
              |FROM (SELECT doc_id,
              |        CASE WHEN doc_id % 7 = 0 THEN array()
              |             ELSE slice(split(lower(text), ' '), 1, 3) END AS toks
              |      FROM docs_gen WHERE doc_id < 200)
              |LATERAL VIEW OUTER explode(toks) t AS tok
              |ORDER BY doc_id, tok NULLS FIRST""".stripMargin)
    }),

    // bitwise aggregate family (2g): AND/OR/XOR folds — set-flag rollups
    // (plan: plain partial+final hash agg, fully codegen'd)
    "q_bitwise_agg" -> ((s, d) => Tables.events(s, d)
      .groupBy("event_type")
      .agg(
        expr("bit_and(user_id)").as("band"),
        expr("bit_or(user_id)").as("bor"),
        expr("bit_xor(user_id)").as("bxor"))
      .orderBy("event_type")),

    // conditional family (2g): coalesce / nullif / greatest / least / CASE
    "q_conditional_funcs" -> ((s, d) => Tables.lineitem(s, d)
      .filter(col("l_orderkey") < 200)
      .select(col("l_orderkey"), col("l_linenumber"),
        coalesce(nullif(col("l_returnflag"), lit("N")), lit("none")).as("flag"),
        greatest(col("l_quantity"), col("l_discount") * 100).as("gq"),
        r4(least(col("l_extendedprice"), lit(10000.0))).as("capped"),
        when(col("l_quantity") > 25, "bulk")
          .when(col("l_quantity") > 10, "mid")
          .otherwise("small").as("band"))
      // (l_orderkey, l_linenumber) is NOT unique in this synthetic
      // lineitem (45832 distinct keys / 60000 rows at sf0.01) — a
      // key-only ORDER BY leaves tied rows permutable run-to-run in
      // DuckDB's parallel sort (observed as a transient hash fail), so
      // the sort covers every output column
      .orderBy("l_orderkey", "l_linenumber", "flag", "gq", "capped", "band")),

    // error-safe function family (2g): under ANSI mode (Spark 4 default)
    // bad arithmetic/casts THROW; try_* returns NULL instead — the
    // behavior a 100 TB batch job wants (one dirty row must not kill the
    // stage). DuckDB twin: NULLIF-guarded division + TRY_CAST.
    "q_try_funcs" -> ((s, d) => Tables.lineitem(s, d)
      .filter(col("l_orderkey") < 100)
      .select(col("l_orderkey"), col("l_linenumber"),
        r4(expr("try_divide(l_extendedprice, l_linenumber - 4)")).as("safe_ratio"),
        expr("try_cast(l_returnflag AS INT)").as("cast_null"),
        expr("try_cast(cast(l_orderkey AS STRING) AS INT)").as("cast_ok"))
      // non-unique key tie-break (see q_conditional_funcs): safe_ratio
      // distinguishes the duplicate-key rows except when l_linenumber=4
      // nulls it for both — then the rows are fully identical and the
      // permutation is harmless; NULLS FIRST pinned on both engines
      .orderBy(col("l_orderkey"), col("l_linenumber"),
        asc_nulls_first("safe_ratio"))),

    // --- subqueries (2d/2e): Catalyst decorrelates these into joins ------
    // correlated scalar subquery → RewriteCorrelatedScalarSubquery plans an
    // aggregate + left outer join; no per-row re-execution at any scale
    "q_subquery_scalar" -> ((s, d) => {
      Tables.customer(s, d).createOrReplaceTempView("customer_sq")
      s.sql("""SELECT c_custkey, round(c_acctbal, 4) AS bal
              |FROM customer_sq c
              |WHERE c_acctbal > 2 * (SELECT avg(c2.c_acctbal) FROM customer_sq c2
              |                       WHERE c2.c_nationkey = c.c_nationkey)
              |ORDER BY c_custkey""".stripMargin)
    }),

    // EXISTS / NOT EXISTS → RewritePredicateSubquery plans semi/anti joins
    "q_subquery_exists" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders_sq")
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem_sq")
      s.sql("""SELECT o_orderkey, o_orderpriority
              |FROM orders_sq o
              |WHERE EXISTS (SELECT 1 FROM lineitem_sq l
              |              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
              |  AND NOT EXISTS (SELECT 1 FROM lineitem_sq l
              |                  WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
              |ORDER BY o_orderkey""".stripMargin)
    }),

    // --- unpivot / melt (2d): wide metrics → long (metric, val) rows ------
    "q_unpivot" -> ((s, d) => Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        r4(sum("l_quantity")).as("sum_qty"),
        r4(sum("l_extendedprice")).as("sum_price"))
      .unpivot(
        Array(col("l_returnflag")),
        Array(col("sum_qty"), col("sum_price")),
        "metric", "val")
      .orderBy("l_returnflag", "metric")),

    // --- lateral join (2e): per-outer-row correlated subquery with LIMIT —
    // planned as a LateralJoin, the set-returning cousin of as-of
    "q_lateral_join" -> ((s, d) => {
      Tables.region(s, d).createOrReplaceTempView("region_lj")
      Tables.nation(s, d).createOrReplaceTempView("nation_lj")
      s.sql("""SELECT r.r_name, t.n_name
              |FROM region_lj r,
              |LATERAL (SELECT n.n_name FROM nation_lj n
              |         WHERE n.n_regionkey = r.r_regionkey
              |         ORDER BY n.n_name LIMIT 2) t
              |ORDER BY r_name, n_name""".stripMargin)
    }),

    // --- as-of join (2e; composed — no native as-of in Spark) -------------
    "q_asof_join" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      // latest click at-or-before each purchase, per user
      purchases.join(clicks,
          col("user_id") === col("c_user") && col("c_ts") <= col("ts"), "left")
        .groupBy("event_id", "user_id")
        .agg(max(unix_micros(col("c_ts"))).as("last_click_us"))
        .orderBy("event_id")
    }))

  val oracleSql: Map[String, String] = Map(
    "q_agg_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 4) AS sum_qty,
        |  round(sum(l_extendedprice), 4) AS sum_base_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
        |  round(avg(l_discount), 4) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_exact_counts" ->
      "SELECT event_type, count(*) AS cnt FROM events GROUP BY 1 ORDER BY 1",

    "q_count_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users,
        |  round(sum(value), 4) AS sum_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  round(sum(l_quantity), 4) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,

    "q_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  round(sum(o_totalprice), 4) AS sum_price
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin,

    "q_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,

    "q_hof_funcs" ->
      """WITH arrs AS (
        |  SELECT l_orderkey, list_sort(list(l_quantity)) AS qs
        |  FROM lineitem GROUP BY 1)
        |SELECT l_orderkey, len(qs) AS n,
        |  round(list_aggregate(qs, 'sum'), 4) AS total,
        |  round(list_transform(qs, x -> x * 2)[1], 4) AS first_doubled,
        |  len(list_filter(qs, x -> x > 25)) AS n_over_25,
        |  len(list_filter(qs, x -> x > 45)) > 0 AS any_over_45,
        |  len(list_filter(qs, x -> x <= 0)) = 0 AS all_positive
        |FROM arrs WHERE l_orderkey % 50 = 0
        |ORDER BY l_orderkey""".stripMargin,

    "q_grouping_id" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  grouping(l_returnflag, l_linestatus) AS gid,
        |  grouping(l_returnflag) AS g_rf
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag ASC NULLS FIRST,
        |  l_linestatus ASC NULLS FIRST""".stripMargin,

    "q_stats_agg" ->
      """SELECT l_returnflag,
        |  round(corr(l_quantity, l_extendedprice), 4) AS corr_qp,
        |  round(covar_samp(l_quantity, l_discount), 4) AS cov_qd,
        |  round(stddev_samp(l_extendedprice), 4) AS sd_price,
        |  round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
        |  round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_corr_matrix" ->
      """WITH w AS (
        |  SELECT
        |    round(corr(l_quantity, l_extendedprice), 4) AS c1,
        |    round(corr(l_quantity, l_discount), 4) AS c2,
        |    round(corr(l_quantity, l_tax), 4) AS c3,
        |    round(corr(l_extendedprice, l_discount), 4) AS c4,
        |    round(corr(l_extendedprice, l_tax), 4) AS c5,
        |    round(corr(l_discount, l_tax), 4) AS c6
        |  FROM lineitem)
        |SELECT x, y, r FROM w, LATERAL (VALUES
        |  ('l_quantity', 'l_extendedprice', c1),
        |  ('l_quantity', 'l_discount', c2),
        |  ('l_quantity', 'l_tax', c3),
        |  ('l_extendedprice', 'l_discount', c4),
        |  ('l_extendedprice', 'l_tax', c5),
        |  ('l_discount', 'l_tax', c6)) AS t(x, y, r)
        |ORDER BY x, y""".stripMargin,

    "q_percentile_exact" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        |  round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
        |  round(min(l_extendedprice), 4) AS mn,
        |  round(max(l_extendedprice), 4) AS mx
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_filter_scan" ->
      """SELECT user_id, count(*) AS n, round(sum(value), 4) AS sum_value
        |FROM events WHERE event_type = 'click' AND value > 100.0
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_distinct" ->
      """SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
        |ORDER BY 1, 2""".stripMargin,

    // the bucketed two-phase assignment must equal the naive global
    // row_number contract exactly
    "q_stable_ids" ->
      """SELECT doc_id,
        |  (row_number() OVER (ORDER BY doc_id) - 1)::BIGINT AS stable_id
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_tokenize_wordcount" ->
      """SELECT word, count(*) AS cnt FROM (
        |  SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents
        |) WHERE word <> '' GROUP BY 1 ORDER BY cnt DESC, word LIMIT 50""".stripMargin,

    "q_join_broadcast" ->
      """SELECT r_name, count(*) AS n_cust, round(sum(c_acctbal), 4) AS sum_bal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_join_smj" ->
      """SELECT o_orderpriority,
        |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_join_outer" ->
      """SELECT p_brand, count(l_orderkey) AS n_lines, count(*) AS n_rows,
        |  sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_unmatched
        |FROM part LEFT JOIN (SELECT * FROM lineitem WHERE l_quantity >= 48.0) li
        |  ON p_partkey = l_partkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_semi_join" ->
      """SELECT p_brand, count(*) AS n_parts FROM part
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |  WHERE l_partkey = p_partkey AND l_quantity >= 45.0)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_anti_join" ->
      """SELECT p_brand, count(*) AS n_parts FROM part
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem
        |  WHERE l_partkey = p_partkey AND l_quantity >= 45.0)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_range_join" ->
      """SELECT s_suppkey, count(*) AS n_richer_cust
        |FROM supplier JOIN customer ON c_acctbal > s_acctbal
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_range_join_binned" ->
      """SELECT s_suppkey, count(*) AS n_richer_cust
        |FROM supplier JOIN customer ON c_acctbal > s_acctbal
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_range_join_auto" ->
      """SELECT s_suppkey, count(*) AS n_in_band
        |FROM customer JOIN supplier
        |  ON c_acctbal >= s_acctbal - 50 AND c_acctbal <= s_acctbal + 50
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_window_dist" ->
      """SELECT o_orderpriority, o_orderkey,
        |  round(percent_rank() OVER w, 4) AS pr,
        |  round(cume_dist() OVER w, 4) AS cd
        |FROM orders WHERE o_custkey < 50
        |WINDOW w AS (PARTITION BY o_orderpriority
        |             ORDER BY o_totalprice, o_orderkey)
        |ORDER BY 1, 2""".stripMargin,

    // exact-microsecond RANGE frame — identical numeric order key both
    // engines, so frame membership can't drift on ties or rounding
    "q_range_frame" ->
      """SELECT user_id, event_id,
        |  count(*) OVER w AS n_1h,
        |  round(sum(value::DECIMAL(30,12)) OVER w, 4)::DOUBLE AS sum_1h
        |FROM events WHERE user_id < 5
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin,

    "q_session_dynamic_gap" ->
      """WITH e AS (
        |  SELECT user_id, ts,
        |    CASE WHEN event_type = 'click' THEN INTERVAL 30 MINUTE
        |         ELSE INTERVAL 60 MINUTE END AS gap
        |  FROM events),
        |m AS (
        |  SELECT user_id, ts,
        |    max(ts + gap) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
        |  FROM e),
        |s AS (
        |  SELECT user_id, ts,
        |    CASE WHEN prev_end IS NULL OR ts >= prev_end THEN 1 ELSE 0 END AS new_sess
        |  FROM m),
        |x AS (
        |  SELECT user_id,
        |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
        |                        ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM s),
        |per AS (SELECT user_id, sid, count(*) AS n_ev FROM x GROUP BY 1, 2)
        |SELECT user_id, count(*) AS n_sessions, max(n_ev) AS max_session_events
        |FROM per GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_session_window_batch" ->
      """WITH marks AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |sess AS (
        |  SELECT user_id,
        |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
        |                        ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM marks),
        |per AS (
        |  SELECT user_id, sid, count(*) AS n_ev FROM sess GROUP BY 1, 2)
        |SELECT user_id, count(*) AS n_sessions,
        |  max(n_ev) AS max_session_events
        |FROM per GROUP BY 1 ORDER BY 1""".stripMargin,

    // the incremental stitch must equal FULL re-sessionization — same
    // gaps-and-islands oracle as q_session_window_batch
    "q_session_stitch" ->
      """WITH t AS (SELECT max(ts) - INTERVAL 7 DAY AS t0 FROM events),
        |ev AS (
        |  SELECT user_id, ts FROM events
        |  UNION ALL SELECT 9000001, t0 - INTERVAL 10 MINUTE FROM t
        |  UNION ALL SELECT 9000001, t0 + INTERVAL 10 MINUTE FROM t
        |  UNION ALL SELECT 9000002, t0 - INTERVAL 10 MINUTE FROM t
        |  UNION ALL SELECT 9000002, t0 + INTERVAL 45 MINUTE FROM t),
        |marks AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM ev
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |sess AS (
        |  SELECT user_id,
        |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
        |                        ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM marks),
        |per AS (
        |  SELECT user_id, sid, count(*) AS n_ev FROM sess GROUP BY 1, 2)
        |SELECT user_id, count(*) AS n_sessions,
        |  max(n_ev) AS max_session_events
        |FROM per GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_cross_join" ->
      """SELECT r_name, o_orderstatus
        |FROM region CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders)
        |ORDER BY 1, 2""".stripMargin,

    "q_window_rank" ->
      """SELECT o_orderstatus, rn, rnk, drnk, quartile, o_orderkey, price FROM (
        |  SELECT o_orderstatus, o_orderkey, round(o_totalprice, 4) AS price,
        |    row_number() OVER w AS rn, rank() OVER w AS rnk,
        |    dense_rank() OVER w AS drnk, ntile(4) OVER w AS quartile
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey)
        |) WHERE rn <= 3 ORDER BY o_orderstatus, rn""".stripMargin,

    "q_window_analytic" ->
      """SELECT o_custkey, o_orderkey, round(o_totalprice, 4) AS price,
        |  round(lag(o_totalprice, 1) OVER w, 4) AS prev_price,
        |  round(lead(o_totalprice, 1) OVER w, 4) AS next_price,
        |  round(first_value(o_totalprice) OVER w, 4) AS first_price
        |FROM orders WHERE o_custkey < 10
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q_window_frame" ->
      """SELECT user_id, event_id,
        |  round(sum(value) OVER w, 4) AS moving_sum,
        |  round(avg(value) OVER w, 4) AS moving_avg
        |FROM events WHERE user_id < 3
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin,

    "q_topk_orders" ->
      """SELECT o_orderkey, o_custkey, round(o_totalprice, 4) AS price
        |FROM orders ORDER BY price DESC, o_orderkey LIMIT 10""".stripMargin,

    "q_set_ops" ->
      """SELECT DISTINCT user_id FROM (
        |  SELECT user_id FROM events WHERE event_type = 'click'
        |  INTERSECT
        |  SELECT user_id FROM events WHERE event_type = 'purchase'
        |) ORDER BY user_id""".stripMargin,

    "q_collation" ->
      """WITH m AS (
        |  SELECT lower(o_orderpriority) AS p FROM orders
        |  UNION ALL
        |  SELECT upper(o_orderpriority) FROM orders)
        |SELECT count(DISTINCT p) AS n_binary,
        |  count(DISTINCT lower(p)) AS n_lcase,
        |  count(*) FILTER (WHERE lower(p) = '1-urgent') AS n_urgent_ci
        |FROM m""".stripMargin,

    "q_string_funcs" ->
      """SELECT p_partkey, upper(p_brand) AS brand_u, lower(p_type) AS type_l,
        |  length(p_name) AS name_len, substring(p_type, 1, 5) AS type_pfx,
        |  concat_ws('|', p_brand, p_type) AS brand_type, trim(p_name) AS name_trim,
        |  regexp_replace(p_name, '[aeiou]', '_', 'g') AS name_novowel,
        |  regexp_extract(p_name, '^(\w+)', 1) AS first_word
        |FROM part ORDER BY p_partkey LIMIT 100""".stripMargin,

    "q_bucketed_join" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  round(sum(l_quantity::DECIMAL(30,12)), 4)::DOUBLE AS sum_qty,
        |  true AS zero_exchange_join
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_runtime_filter" ->
      """SELECT o_orderpriority, count(*) AS n_lines,
        |  round(sum(l_quantity::DECIMAL(30,12)), 4)::DOUBLE AS sum_qty,
        |  true AS bloom_injected
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_tpch_q8" ->
      """SELECT year(o_orderdate) AS o_year,
        |  round(
        |    sum(CASE WHEN n1.n_name = 'NATION_3'
        |        THEN l_extendedprice * (1.0 - l_discount)
        |        ELSE 0.0 END::DECIMAL(30,12))::DOUBLE /
        |    sum((l_extendedprice * (1.0 - l_discount))::DECIMAL(30,12))
        |      ::DOUBLE, 4) AS mkt_share,
        |  count(*) AS n
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
        |  AND r2.r_name = 'EUROPE'
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |WHERE o_orderdate BETWEEN DATE '1996-01-01' AND DATE '1997-12-31'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // supply cost proxied as p_retailprice*l_quantity*0.1 (no partsupp
    // in the synthetic schema); per-row expression identical both sides
    "q_tpch_q9" ->
      """SELECT n_name AS nation, year(o_orderdate) AS o_year,
        |  round(sum((l_extendedprice * (1.0 - l_discount) -
        |    p_retailprice * l_quantity * 0.1)::DECIMAL(30,12)), 4)::DOUBLE
        |    AS profit
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |WHERE p_name LIKE '%a%'
        |GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin,

    "q_tpch_q12" ->
      """SELECT l_linestatus,
        |  sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |      THEN 1 ELSE 0 END)::BIGINT AS high_count,
        |  sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |      THEN 1 ELSE 0 END)::BIGINT AS low_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
        |  AND l_shipdate BETWEEN DATE '1996-01-01' AND DATE '1996-12-31'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_tpch_q19" ->
      """SELECT
        |  round(sum((l_extendedprice * (1.0 - l_discount))::DECIMAL(30,12)),
        |    4)::DOUBLE AS revenue,
        |  count(*) AS n
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 15
        |    AND l_quantity BETWEEN 1 AND 20)
        |  OR (p_brand = 'Brand#23' AND p_size BETWEEN 10 AND 30
        |    AND l_quantity BETWEEN 10 AND 30)
        |  OR (p_brand = 'Brand#34' AND p_size BETWEEN 20 AND 50
        |    AND l_quantity BETWEEN 20 AND 40)""".stripMargin,

    // the spec's correlated EXISTS / NOT EXISTS form verbatim — the
    // Spark side's per-order decorrelation must agree with it
    "q_tpch_q21" ->
      """WITH li AS (
        |  SELECT l_orderkey, l_suppkey, l_shipdate, o_orderdate
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
        |SELECT s_name, count(*) AS numwait
        |FROM li l1 JOIN supplier ON l1.l_suppkey = s_suppkey
        |WHERE l1.l_shipdate > l1.o_orderdate + INTERVAL 60 DAY
        |  AND EXISTS (SELECT 1 FROM li l2
        |    WHERE l2.l_orderkey = l1.l_orderkey
        |      AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM li l3
        |    WHERE l3.l_orderkey = l1.l_orderkey
        |      AND l3.l_suppkey <> l1.l_suppkey
        |      AND l3.l_shipdate > l3.o_orderdate + INTERVAL 60 DAY)
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name LIMIT 100""".stripMargin,

    // Q2/Q11/Q16/Q20 run over the derived partsupp (no partsupp table
    // in the synthetic testdata) — the WITH clause recomputes
    // derivedPartsupp's integer formulas verbatim, and each oracle then
    // states the spec's SUBQUERY form (correlated min / global-share
    // HAVING / NOT IN / doubly-nested threshold) so the Spark side's
    // decorrelation is what equality proves.
    "q_tpch_q2" ->
      """WITH partsupp AS (
        |  SELECT p_partkey AS ps_partkey,
        |    (p_partkey * 7 + j * 13) % (SELECT count(*) FROM supplier)
        |      AS ps_suppkey,
        |    ((p_partkey * 31 + j * 47) % 10000 + 100) / 100.0
        |      AS ps_supplycost
        |  FROM part, (VALUES (0),(1),(2),(3)) t(j))
        |SELECT s_acctbal, s_name, n_name, p_partkey, p_brand,
        |  ps_supplycost AS supplycost
        |FROM part
        |JOIN partsupp ON p_partkey = ps_partkey
        |JOIN supplier ON s_suppkey = ps_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE p_type = 'STANDARD' AND p_size <= 25 AND r_name = 'EUROPE'
        |  AND ps_supplycost = (
        |    SELECT min(ps2.ps_supplycost)
        |    FROM partsupp ps2
        |    JOIN supplier s2 ON s2.s_suppkey = ps2.ps_suppkey
        |    JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
        |    JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
        |    WHERE ps2.ps_partkey = p_partkey AND r2.r_name = 'EUROPE')
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        |LIMIT 100""".stripMargin,

    "q_tpch_q11" ->
      """WITH partsupp AS (
        |  SELECT p_partkey AS ps_partkey,
        |    (p_partkey * 7 + j * 13) % (SELECT count(*) FROM supplier)
        |      AS ps_suppkey,
        |    (p_partkey * 11 + j * 17) % 50 + 1 AS ps_availqty,
        |    (p_partkey * 31 + j * 47) % 10000 + 100 AS ps_costcents
        |  FROM part, (VALUES (0),(1),(2),(3)) t(j)),
        |value AS (
        |  SELECT ps_partkey,
        |    sum(ps_availqty * ps_costcents)::BIGINT AS value_cents
        |  FROM partsupp
        |  WHERE ps_suppkey IN (
        |    SELECT s_suppkey FROM supplier
        |    JOIN nation ON s_nationkey = n_nationkey
        |    JOIN region ON n_regionkey = r_regionkey
        |    WHERE r_name = 'EUROPE')
        |  GROUP BY ps_partkey)
        |SELECT ps_partkey,
        |  round(value_cents / 100.0, 4) AS value
        |FROM value
        |WHERE value_cents * (SELECT count(*) FROM value) * 2 >
        |  (SELECT sum(value_cents)::BIGINT FROM value) * 3
        |ORDER BY value DESC, ps_partkey""".stripMargin,

    "q_tpch_q16" ->
      """WITH partsupp AS (
        |  SELECT p_partkey AS ps_partkey,
        |    (p_partkey * 7 + j * 13) % (SELECT count(*) FROM supplier)
        |      AS ps_suppkey
        |  FROM part, (VALUES (0),(1),(2),(3)) t(j))
        |SELECT p_brand, p_type, p_size,
        |  count(DISTINCT ps_suppkey) AS supplier_cnt
        |FROM partsupp JOIN part ON p_partkey = ps_partkey
        |WHERE p_brand <> 'Brand#13' AND p_type <> 'MEDIUM'
        |  AND p_size IN (3, 9, 14, 19, 23, 36, 45, 49)
        |  AND ps_suppkey NOT IN (
        |    SELECT s_suppkey FROM supplier WHERE s_acctbal < 1000)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,

    "q_tpch_q20" ->
      """WITH partsupp AS (
        |  SELECT p_partkey AS ps_partkey,
        |    (p_partkey * 7 + j * 13) % (SELECT count(*) FROM supplier)
        |      AS ps_suppkey,
        |    (p_partkey * 11 + j * 17) % 50 + 1 AS ps_availqty
        |  FROM part, (VALUES (0),(1),(2),(3)) t(j))
        |SELECT s_suppkey, s_name, s_acctbal
        |FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'EUROPE'
        |  AND s_suppkey IN (
        |    SELECT ps_suppkey FROM partsupp
        |    WHERE ps_partkey IN (
        |      SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
        |      AND (ps_availqty * 2 * (
        |        SELECT count(*) FROM lineitem
        |        WHERE l_partkey = ps_partkey AND l_suppkey = ps_suppkey
        |          AND l_shipdate >= DATE '1996-01-01'
        |          AND l_shipdate < DATE '1997-01-01'))::DECIMAL(30,12) > (
        |        SELECT sum(l_quantity::DECIMAL(30,12)) FROM lineitem
        |        WHERE l_partkey = ps_partkey AND l_suppkey = ps_suppkey
        |          AND l_shipdate >= DATE '1996-01-01'
        |          AND l_shipdate < DATE '1997-01-01'))
        |ORDER BY s_suppkey""".stripMargin,

    // the three hinted plans must agree with the plain relational
    // answer; the flags are the in-plan hint-honored verdicts
    "q_join_hints" ->
      """SELECT c_nationkey, count(*) AS n,
        |  round(sum(o_totalprice::DECIMAL(30,12)), 4)::DOUBLE AS revenue,
        |  true AS hint_broadcast_honored, true AS hint_merge_honored,
        |  true AS hint_shuffle_hash_honored, true AS results_invariant
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // brute-force ground truth: ALL probe×canon pairs at ED<=1 — a
    // Spark blocking channel that misses a real pair hash-fails here
    "q_fuzzy_join" ->
      """WITH canon AS (
        |  SELECT c_custkey,
        |    substr(md5('ent:' || c_custkey), 1, 12) AS cname
        |  FROM customer),
        |probes AS (
        |  SELECT c_custkey AS probe_key,
        |    concat(substr(cname, 1, (c_custkey % 12)::INT), 'x',
        |      substr(cname, (c_custkey % 12)::INT + 2)) AS pname
        |  FROM canon WHERE c_custkey % 7 = 3
        |  UNION ALL
        |  SELECT c_custkey AS probe_key,
        |    concat(substr(cname, 1, (c_custkey % 6)::INT), 'x',
        |      substr(cname, (c_custkey % 6)::INT + 2, 5), 'x',
        |      substr(cname, (c_custkey % 6)::INT + 8)) AS pname
        |  FROM canon WHERE c_custkey % 7 = 5)
        |SELECT probe_key, c_custkey, pname, cname,
        |  levenshtein(pname, cname)::INT AS dist
        |FROM probes, canon
        |WHERE levenshtein(pname, cname) <= 1
        |ORDER BY probe_key, c_custkey""".stripMargin,

    "q_fuzzy_join_ed2" ->
      """WITH canon AS (
        |  SELECT c_custkey,
        |    substr(md5('ent:' || c_custkey), 1, 12) AS cname
        |  FROM customer),
        |probes AS (
        |  SELECT c_custkey AS probe_key,
        |    concat(substr(cname, 1, (c_custkey % 12)::INT), 'x',
        |      substr(cname, (c_custkey % 12)::INT + 2)) AS pname
        |  FROM canon WHERE c_custkey % 11 = 3
        |  UNION ALL
        |  SELECT c_custkey,
        |    concat(substr(cname, 1, (c_custkey % 12)::INT),
        |      substr(cname, (c_custkey % 12)::INT + 2))
        |  FROM canon WHERE c_custkey % 11 = 4
        |  UNION ALL
        |  SELECT c_custkey,
        |    concat(substr(cname, 1, (c_custkey % 12)::INT), 'x',
        |      substr(cname, (c_custkey % 12)::INT + 1))
        |  FROM canon WHERE c_custkey % 11 = 5
        |  UNION ALL
        |  SELECT c_custkey,
        |    concat(substr(cname, 1, (c_custkey % 4)::INT),
        |      substr(cname, (c_custkey % 4)::INT + 2,
        |        8 + (c_custkey % 3)::INT - (c_custkey % 4)::INT),
        |      'x', substr(cname, 11 + (c_custkey % 3)::INT))
        |  FROM canon WHERE c_custkey % 11 = 6
        |  UNION ALL
        |  SELECT c_custkey,
        |    concat(substr(cname, 1, (c_custkey % 4)::INT), 'x',
        |      substr(cname, (c_custkey % 4)::INT + 2, 3), 'x',
        |      substr(cname, (c_custkey % 4)::INT + 6, 3), 'x',
        |      substr(cname, (c_custkey % 4)::INT + 10))
        |  FROM canon WHERE c_custkey % 11 = 7
        |  UNION ALL
        |  SELECT c_custkey,
        |    concat(substr(cname, 1, 1), substr(cname, 3, 4), substr(cname, 8))
        |  FROM canon WHERE c_custkey % 11 = 8)
        |SELECT probe_key, c_custkey, pname, cname,
        |  levenshtein(pname, cname)::INT AS dist
        |FROM probes, canon
        |WHERE levenshtein(pname, cname) <= 2
        |ORDER BY probe_key, c_custkey""".stripMargin,

    "q_skyline" ->
      """WITH cust AS (
        |  SELECT o_custkey,
        |    round(sum(o_totalprice::DECIMAL(30,12)), 4)::DOUBLE AS spend,
        |    count(*) AS n_orders
        |  FROM orders GROUP BY 1)
        |SELECT c.o_custkey, c.spend, c.n_orders
        |FROM cust c
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM cust d
        |  WHERE d.spend >= c.spend AND d.n_orders >= c.n_orders
        |    AND (d.spend > c.spend OR d.n_orders > c.n_orders))
        |ORDER BY c.o_custkey""".stripMargin,

    "q_null_semantics" ->
      """WITH o AS (
        |  SELECT CASE WHEN o_orderkey % 7 = 0 THEN NULL
        |           ELSE o_custkey END AS ck,
        |         CASE WHEN o_orderkey % 11 = 0 THEN NULL
        |           ELSE o_orderpriority END AS pr
        |  FROM orders)
        |SELECT pr, count(*) AS n_rows,
        |  count(ck) AS n_ck_nonnull,
        |  sum(CASE WHEN ck IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_ck_null,
        |  sum(CASE WHEN ck IS NOT DISTINCT FROM NULL THEN 1 ELSE 0 END)
        |    ::BIGINT AS n_ck_nullsafe_eq,
        |  count(DISTINCT ck) AS ck_ndv,
        |  round(avg(ck), 4) AS ck_avg
        |FROM o GROUP BY pr ORDER BY pr ASC NULLS FIRST""".stripMargin,

    "q_tpch_q3" ->
      """SELECT l_orderkey,
        |  round(sum((l_extendedprice * (1.0 - l_discount))::DECIMAL(30,12)),
        |    4)::DOUBLE AS revenue,
        |  o_orderdate
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
        |  AND l_orderkey = o_orderkey
        |  AND o_orderdate < DATE '1997-03-15'
        |  AND l_shipdate > DATE '1997-03-15'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,

    "q_tpch_q1" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity::DECIMAL(30,12)), 4)::DOUBLE AS sum_qty,
        |  round(sum(l_extendedprice::DECIMAL(30,12)), 4)::DOUBLE
        |    AS sum_base_price,
        |  round(sum((l_extendedprice * (1.0 - l_discount))::DECIMAL(30,12)),
        |    4)::DOUBLE AS sum_disc_price,
        |  round(sum((l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax))
        |    ::DECIMAL(30,12)), 4)::DOUBLE AS sum_charge,
        |  round(sum(l_quantity::DECIMAL(30,12))::DOUBLE / count(*), 4)
        |    AS avg_qty,
        |  round(sum(l_extendedprice::DECIMAL(30,12))::DOUBLE / count(*), 4)
        |    AS avg_price,
        |  round(sum(l_discount::DECIMAL(30,12))::DOUBLE / count(*), 4)
        |    AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= DATE '1998-12-01' - INTERVAL 90 DAY
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_tpch_q6" ->
      """SELECT round(sum((l_extendedprice * l_discount)::DECIMAL(30,12)),
        |  4)::DOUBLE AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= DATE '1996-01-01'
        |  AND l_shipdate < DATE '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin,

    "q_tpch_q10" ->
      """SELECT c_custkey, c_name,
        |  round(sum((l_extendedprice * (1.0 - l_discount))::DECIMAL(30,12)),
        |    4)::DOUBLE AS revenue,
        |  c_acctbal, n_name
        |FROM customer, orders, lineitem, nation
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND o_orderdate >= DATE '1996-10-01'
        |  AND o_orderdate < DATE '1997-01-01'
        |  AND l_returnflag = 'R' AND c_nationkey = n_nationkey
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,

    "q_tpch_q14" ->
      """SELECT round(100.0 *
        |  sum(CASE WHEN p_type LIKE 'ECONOMY%'
        |      THEN l_extendedprice * (1.0 - l_discount)
        |      ELSE 0.0 END::DECIMAL(30,12))::DOUBLE /
        |  sum((l_extendedprice * (1.0 - l_discount))::DECIMAL(30,12))::DOUBLE,
        |  4) AS economy_share_pct
        |FROM lineitem, part
        |WHERE l_partkey = p_partkey
        |  AND l_shipdate >= DATE '1996-09-01'
        |  AND l_shipdate < DATE '1996-10-01'""".stripMargin,

    "q_tpch_q18" ->
      """WITH big AS (
        |  SELECT l_orderkey FROM lineitem GROUP BY 1
        |  HAVING round(sum(l_quantity::DECIMAL(30,12)), 4)::DOUBLE > 300.0)
        |SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
        |  round(sum(l_quantity::DECIMAL(30,12)), 4)::DOUBLE AS sum_qty
        |FROM customer, orders, lineitem
        |WHERE o_orderkey IN (SELECT l_orderkey FROM big)
        |  AND c_custkey = o_custkey AND o_orderkey = l_orderkey
        |GROUP BY 1, 2, 3, 4, 5
        |ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
        |LIMIT 100""".stripMargin,

    "q_tpch_q5" ->
      """SELECT n_name,
        |  round(sum((l_extendedprice * (1.0 - l_discount))::DECIMAL(30,12)),
        |    4)::DOUBLE AS revenue
        |FROM customer, orders, lineitem, supplier, nation, region
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'ASIA'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,

    "q_tpch_q4" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders o
        |WHERE o_orderdate >= DATE '1996-07-01'
        |  AND o_orderdate < DATE '1996-10-01'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |    WHERE l.l_orderkey = o.o_orderkey
        |      AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_tpch_q7" ->
      """SELECT r1.r_name AS supp_region, r2.r_name AS cust_region,
        |  year(l_shipdate) AS l_year,
        |  round(sum((l_extendedprice * (1.0 - l_discount))::DECIMAL(30,12)),
        |    4)::DOUBLE AS revenue
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN region r1 ON n1.n_regionkey = r1.r_regionkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
        |WHERE ((r1.r_name = 'ASIA' AND r2.r_name = 'EUROPE')
        |    OR (r1.r_name = 'EUROPE' AND r2.r_name = 'ASIA'))
        |  AND l_shipdate BETWEEN DATE '1996-01-01' AND DATE '1997-12-31'
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "q_tpch_q13" ->
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        |  FROM customer c LEFT OUTER JOIN orders o
        |    ON c.c_custkey = o.o_custkey
        |    AND o.o_orderpriority <> '4-NOT SPECIFIED'
        |  GROUP BY c.c_custkey)
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin,

    "q_tpch_q15" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    round(sum((l_extendedprice * (1.0 - l_discount))
        |      ::DECIMAL(30,12)), 4)::DOUBLE AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= DATE '1996-01-01'
        |    AND l_shipdate < DATE '1996-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM supplier, rev
        |WHERE s_suppkey = l_suppkey
        |  AND total_revenue = (SELECT max(total_revenue) FROM rev)
        |ORDER BY s_suppkey""".stripMargin,

    // division-free threshold: qty < 0.2*avg  ⇔  5*qty*cnt < sum (exact)
    "q_tpch_q17" ->
      """WITH libr AS (
        |  SELECT l_partkey, l_quantity, l_extendedprice
        |  FROM lineitem WHERE l_partkey IN
        |    (SELECT p_partkey FROM part WHERE p_brand = 'Brand#13')),
        |stats AS (
        |  SELECT l_partkey AS sp_partkey,
        |    sum(l_quantity::DECIMAL(30,12)) AS sumq, count(*) AS cnt
        |  FROM libr GROUP BY 1)
        |SELECT round((sum(l_extendedprice::DECIMAL(30,12))::DOUBLE / 7.0)
        |  ::DECIMAL(30,12), 4)::DOUBLE AS avg_yearly
        |FROM libr, stats
        |WHERE l_partkey = sp_partkey
        |  AND l_quantity * 5.0 * cnt < sumq::DOUBLE""".stripMargin,

    // division-free threshold: bal > avg(pos)  ⇔  bal*cnt > sum (exact)
    "q_tpch_q22" ->
      """WITH thr AS (
        |  SELECT sum(c_acctbal::DECIMAL(30,12))::DOUBLE AS sum_pos,
        |    count(*) AS cnt_pos
        |  FROM customer WHERE c_acctbal > 0.0)
        |SELECT c_nationkey, count(*) AS numcust,
        |  round(sum(c_acctbal::DECIMAL(30,12)), 4)::DOUBLE AS totacctbal
        |FROM customer, thr
        |WHERE c_acctbal * cnt_pos > sum_pos
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |    WHERE o.o_custkey = customer.c_custkey
        |      AND o.o_orderdate >= DATE '2000-08-01')
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    // ground truth by construction: components rebuilt from the fields
    // the URL was synthesized from, not re-parsed
    "q_url_funcs" ->
      """SELECT doc_id,
        |  'https' AS proto,
        |  source || '.example.com' AS host,
        |  '/' || lang || '/doc/' || doc_id AS path,
        |  'ref=' || source || '&page=2' AS query,
        |  source AS ref_param,
        |  'sec' || doc_id AS frag
        |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin,

    "q_date_funcs" ->
      """SELECT date_trunc('day', ts)::DATE AS day,
        |  extract(year FROM ts)::BIGINT AS yr, extract(month FROM ts)::BIGINT AS mo,
        |  extract(day FROM ts)::BIGINT AS dom, extract(hour FROM ts)::BIGINT AS hr,
        |  count(*) AS n
        |FROM events GROUP BY 1, 2, 3, 4, 5 ORDER BY day, hr""".stripMargin,

    "q_math_funcs" ->
      """SELECT l_returnflag,
        |  round(sum(CAST(ln(l_extendedprice + 1.0) AS DECIMAL(30,12))), 4)::DOUBLE AS sum_log,
        |  round(sum(CAST(sqrt(l_quantity) AS DECIMAL(30,12))), 4)::DOUBLE AS sum_sqrt,
        |  round(sum(CAST(pow(l_discount, 2.0) AS DECIMAL(30,12))), 4)::DOUBLE AS sum_sq,
        |  round(sum(CAST(abs(l_extendedprice - 1000.0) AS DECIMAL(30,12))), 4)::DOUBLE AS sum_absdev,
        |  sum(floor(l_quantity))::DOUBLE AS sum_floor,
        |  sum(ceil(l_quantity))::DOUBLE AS sum_ceil
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_array_funcs" ->
      """SELECT doc_id, len(toks) AS n_toks,
        |  list_contains(toks, 'spark')::INT AS has_spark,
        |  array_to_string(list_sort(toks)[1:3], ',') AS first3_sorted,
        |  toks[1] AS head_tok
        |FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
        |ORDER BY doc_id LIMIT 200""".stripMargin,

    "q_json_funcs" ->
      """SELECT event_type, count(*) AS n,
        |  sum(json_extract_string(props, '$.k')::BIGINT)::BIGINT AS sum_k,
        |  max(json_extract_string(props, '$.k')::BIGINT) AS max_k
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    // the variant lane extracts the same values as the JSON-string lane;
    // props is always {"k": <int>} so the variant schema is the constant
    // OBJECT<k: BIGINT> and no top-level variant is JSON null
    "q_variant_funcs" ->
      """SELECT event_type, count(*) AS n,
        |  sum(json_extract_string(props, '$.k')::BIGINT)::BIGINT AS sum_k,
        |  min(json_extract_string(props, '$.k')::BIGINT) AS min_k,
        |  0::BIGINT AS n_null,
        |  'OBJECT<k: BIGINT>' AS schema_min
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_map_funcs" ->
      """SELECT event_id, 'k' AS keys,
        |  json_extract_string(props, '$.k')::BIGINT AS k_val
        |FROM events ORDER BY event_id LIMIT 200""".stripMargin,

    "q_interval_funcs" ->
      """SELECT l_returnflag,
        |  round(avg(date_diff('day', o_orderdate::DATE, l_shipdate::DATE)), 4)
        |    AS avg_lag_days,
        |  max(date_diff('day', o_orderdate::DATE, l_shipdate::DATE))::BIGINT
        |    AS max_lag_days,
        |  sum((l_shipdate > o_orderdate + INTERVAL 90 DAY)::BIGINT)::BIGINT AS n_late90
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_typed_udaf" ->
      """SELECT l_returnflag, round(var_samp(l_quantity), 4) AS var_qty,
        |  round(var_samp(l_discount), 8) AS var_disc, count(*) AS n
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_pivot" ->
      """SELECT o_orderpriority,
        |  round(sum(o_totalprice) FILTER (WHERE o_orderstatus = 'F'), 4) AS "F",
        |  round(sum(o_totalprice) FILTER (WHERE o_orderstatus = 'O'), 4) AS "O",
        |  round(sum(o_totalprice) FILTER (WHERE o_orderstatus = 'P'), 4) AS "P"
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_hash_funcs" ->
      """SELECT p_partkey, md5(p_name) AS md5_name,
        |  sha256(p_name) AS sha256_name
        |FROM part WHERE p_partkey <= 200 ORDER BY 1""".stripMargin,

    "q_gap_fill" ->
      """WITH bounds AS (SELECT min(ts::DATE) AS d0, max(ts::DATE) AS d1 FROM events),
        |days AS (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
        |         FROM bounds),
        |types AS (SELECT DISTINCT event_type FROM events),
        |daily AS (SELECT event_type, ts::DATE AS day, count(*) AS n
        |          FROM events GROUP BY 1, 2)
        |SELECT t.event_type, d.day, coalesce(x.n, 0)::BIGINT AS n
        |FROM types t CROSS JOIN days d
        |LEFT JOIN daily x ON x.event_type = t.event_type AND x.day = d.day
        |ORDER BY 1, 2""".stripMargin,

    "q_list_agg" ->
      """SELECT l_orderkey, count(*) AS n_items,
        |  string_agg(l_partkey::VARCHAR, ','
        |    ORDER BY l_linenumber, l_partkey) AS parts
        |FROM lineitem WHERE l_orderkey % 100 = 0
        |GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin,

    // identical arithmetic expression (left-assoc, guarded division,
    // decimal-rounded); IGNORE NULLS window scans mirror the plan's
    "q_interpolate" ->
      """WITH bounds AS (SELECT min(ts::DATE) AS d0, max(ts::DATE) AS d1 FROM events),
        |days AS (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
        |         FROM bounds),
        |types AS (SELECT DISTINCT event_type FROM events),
        |daily AS (SELECT * FROM (
        |            SELECT event_type, ts::DATE AS day,
        |              round(sum(CAST(value AS DECIMAL(30,12))), 4)::DOUBLE AS v
        |            FROM events GROUP BY 1, 2)
        |          WHERE date_part('day', day) % 3 = 1),
        |spine AS (
        |  SELECT t.event_type, d.day, x.v,
        |    last_value(x.v IGNORE NULLS) OVER w_prev AS pv,
        |    last_value(CASE WHEN x.v IS NOT NULL THEN d.day END IGNORE NULLS)
        |      OVER w_prev AS pd,
        |    first_value(x.v IGNORE NULLS) OVER w_next AS nv,
        |    first_value(CASE WHEN x.v IS NOT NULL THEN d.day END IGNORE NULLS)
        |      OVER w_next AS nd
        |  FROM types t CROSS JOIN days d
        |  LEFT JOIN daily x ON x.event_type = t.event_type AND x.day = d.day
        |  WINDOW
        |    w_prev AS (PARTITION BY t.event_type ORDER BY d.day
        |      ROWS UNBOUNDED PRECEDING),
        |    w_next AS (PARTITION BY t.event_type ORDER BY d.day
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT event_type, day,
        |  CASE WHEN v IS NOT NULL THEN v
        |       WHEN pv IS NOT NULL AND nv IS NOT NULL
        |         AND date_diff('day', pd, nd) > 0
        |       THEN round(CAST(pv + (nv - pv) *
        |         date_diff('day', pd, day) / date_diff('day', pd, nd)
        |         AS DECIMAL(30,12)), 4)::DOUBLE
        |  END AS value_interp,
        |  v IS NOT NULL AS observed
        |FROM spine
        |WHERE (CASE WHEN v IS NOT NULL THEN v
        |       WHEN pv IS NOT NULL AND nv IS NOT NULL
        |         AND date_diff('day', pd, nd) > 0
        |       THEN 1.0 END) IS NOT NULL
        |ORDER BY event_type, day""".stripMargin,

    "q_locf" ->
      """WITH bounds AS (SELECT min(ts::DATE) AS d0, max(ts::DATE) AS d1 FROM events),
        |days AS (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
        |         FROM bounds),
        |types AS (SELECT DISTINCT event_type FROM events),
        |daily AS (SELECT event_type, ts::DATE AS day,
        |            round(sum(CAST(value AS DECIMAL(30,12))), 4)::DOUBLE AS avg_v
        |          FROM events GROUP BY 1, 2)
        |SELECT t.event_type, d.day,
        |  last_value(x.avg_v IGNORE NULLS) OVER (
        |    PARTITION BY t.event_type ORDER BY d.day
        |    ROWS UNBOUNDED PRECEDING) AS filled_v
        |FROM types t CROSS JOIN days d
        |LEFT JOIN daily x ON x.event_type = t.event_type AND x.day = d.day
        |ORDER BY 1, 2""".stripMargin,

    "q_generator_funcs" ->
      """SELECT doc_id, tok
        |FROM (SELECT doc_id,
        |        CASE WHEN doc_id % 7 = 0 THEN []
        |             ELSE string_split(lower(text), ' ')[1:3] END AS toks
        |      FROM documents WHERE doc_id < 200) d
        |LEFT JOIN LATERAL unnest(d.toks) AS u(tok) ON true
        |ORDER BY doc_id, tok NULLS FIRST""".stripMargin,

    "q_bitwise_agg" ->
      """SELECT event_type,
        |  bit_and(user_id) AS band, bit_or(user_id) AS bor,
        |  bit_xor(user_id) AS bxor
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_conditional_funcs" ->
      """SELECT l_orderkey, l_linenumber,
        |  coalesce(nullif(l_returnflag, 'N'), 'none') AS flag,
        |  greatest(l_quantity, l_discount * 100) AS gq,
        |  round(least(l_extendedprice, 10000.0), 4) AS capped,
        |  CASE WHEN l_quantity > 25 THEN 'bulk'
        |       WHEN l_quantity > 10 THEN 'mid' ELSE 'small' END AS band
        |FROM lineitem WHERE l_orderkey < 200
        |ORDER BY 1, 2, flag, gq, capped, band""".stripMargin,

    "q_try_funcs" ->
      """SELECT l_orderkey, l_linenumber,
        |  round(l_extendedprice / nullif(l_linenumber - 4, 0), 4) AS safe_ratio,
        |  TRY_CAST(l_returnflag AS INT) AS cast_null,
        |  TRY_CAST(l_orderkey::VARCHAR AS INT) AS cast_ok
        |FROM lineitem WHERE l_orderkey < 100
        |ORDER BY 1, 2, safe_ratio ASC NULLS FIRST""".stripMargin,

    "q_subquery_scalar" ->
      """SELECT c_custkey, round(c_acctbal, 4) AS bal
        |FROM customer c
        |WHERE c_acctbal > 2 * (SELECT avg(c2.c_acctbal) FROM customer c2
        |                       WHERE c2.c_nationkey = c.c_nationkey)
        |ORDER BY c_custkey""".stripMargin,

    "q_subquery_exists" ->
      """SELECT o_orderkey, o_orderpriority
        |FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l
        |                  WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
        |ORDER BY o_orderkey""".stripMargin,

    "q_unpivot" ->
      """WITH agg AS (
        |  SELECT l_returnflag, round(sum(l_quantity), 4) AS sum_qty,
        |         round(sum(l_extendedprice), 4) AS sum_price
        |  FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS val FROM agg
        |UNION ALL
        |SELECT l_returnflag, 'sum_price' AS metric, sum_price AS val FROM agg
        |ORDER BY l_returnflag, metric""".stripMargin,

    "q_lateral_join" ->
      """SELECT r.r_name, t.n_name
        |FROM region r,
        |LATERAL (SELECT n.n_name FROM nation n
        |         WHERE n.n_regionkey = r.r_regionkey
        |         ORDER BY n.n_name LIMIT 2) t
        |ORDER BY r_name, n_name""".stripMargin,

    "q_asof_join" ->
      """SELECT p.event_id, p.user_id, max(epoch_us(c.c_ts)) AS last_click_us
        |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
        |LEFT JOIN (SELECT user_id AS c_user, ts AS c_ts FROM events
        |           WHERE event_type = 'click') c
        |  ON p.user_id = c.c_user AND c.c_ts <= p.ts
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin)
}
