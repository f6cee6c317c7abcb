package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.WelfordVariance
import graft.functions.{bloom_agg, bloom_might_contain}
import graft.streaming.StreamingPipelines.childSession

/**
 * Warehouse / data-layout operators (SURVEY.md §2, round 5): the
 * slowly-changing-dimension build, Z-order file layout, skew-salted
 * joins, interval-overlap joins, distribution-drift detection, feature
 * scaling, token-entropy quality, XML interchange, recursive CTEs, and
 * custom-UDAF window frames — the remaining surface a warehouse /
 * feature-pipeline user expects from the engine.
 *
 * Scale rules: every per-row derivation is codegen'd inside the scan
 * stage; cross-row decisions ride on BOUNDED aggregates broadcast back
 * (scaling stats per segment, drift totals per half, interval bins);
 * the one intentionally skewed join is salted so no task ever sees a
 * hot key's full row set.
 */
object WarehouseQueries {

  type Q = (SparkSession, String) => DataFrame

  /** Morton/Z-order interleave of the low 8 bits of two long columns →
    * 16-bit z-key, built as a codegen'd shift-or chain (no UDF). Bit i
    * of `a` lands at 2i, bit i of `b` at 2i+1. */
  private def zkey8(a: Column, b: Column): Column =
    (0 until 8).map { i =>
      shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_.bitwiseOR(_))

  /** Same interleave as SQL text, for the DuckDB oracle. */
  private def zkey8Sql(a: String, b: String): String =
    (0 until 8).map { i =>
      s"((($a >> $i) & 1) << ${2 * i}) | ((($b >> $i) & 1) << ${2 * i + 1})"
    }.mkString("(", " | ", ")")

  /** SCD2 version build shared by q_scd2_dimension and q_scd2_lookup:
    * gaps-and-islands change compression of o_orderpriority per custkey
    * → (o_custkey, version, o_orderpriority, effective_from,
    * n_observations). All windows partition on the dimension key. */
  private def scd2Versions(s: SparkSession, d: String): DataFrame = {
    val byTime = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    Tables.orders(s, d)
      .select("o_custkey", "o_orderdate", "o_orderkey", "o_orderpriority")
      .withColumn("chg",
        when(lag("o_orderpriority", 1).over(byTime).isNull ||
          lag("o_orderpriority", 1).over(byTime) =!= col("o_orderpriority"), 1L)
          .otherwise(0L))
      .withColumn("version", sum("chg").over(byTime))
      .groupBy("o_custkey", "version", "o_orderpriority")
      .agg(min("o_orderdate").as("effective_from"),
        count(lit(1)).as("n_observations"))
  }

  /** DuckDB twin of [[scd2Versions]] — the shared oracle CTE prefix
    * ending in `versions(o_custkey, version, o_orderpriority,
    * effective_from, n_observations)`. */
  private val scd2VersionCtes: String =
    """obs AS (
      |  SELECT o_custkey, o_orderdate, o_orderkey, o_orderpriority,
      |    CASE WHEN lag(o_orderpriority) OVER w IS NULL
      |           OR lag(o_orderpriority) OVER w <> o_orderpriority
      |         THEN 1 ELSE 0 END AS chg
      |  FROM orders
      |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
      |runs AS (
      |  SELECT *, sum(chg) OVER (PARTITION BY o_custkey
      |    ORDER BY o_orderdate, o_orderkey
      |    ROWS UNBOUNDED PRECEDING) AS version
      |  FROM obs),
      |versions AS (
      |  SELECT o_custkey, version, o_orderpriority,
      |    min(o_orderdate) AS effective_from,
      |    count(*) AS n_observations
      |  FROM runs GROUP BY 1, 2, 3)""".stripMargin

  /** One CBO catalog build (3 managed tables + ANALYZE … FOR COLUMNS)
    * per (session, dataset content) — the ensureBucketedTables lifetime
    * applied to q_cbo_reorder (VERDICT r9 #3): computing statistics is a
    * warehouse maintenance step paid once, not part of the reorder
    * demonstration's per-query cost. Keyed on all three source tables;
    * returns the (lineitem, orders, customer) table names, which carry
    * the fingerprint like ensureBucketedTables'. */
  private[graft] def ensureCboTables(s: SparkSession, d: String): (String, String, String) = {
    val src = Seq("lineitem.parquet", "orders.parquet", "customer.parquet")
    SessionCache.get("cbo_tables", s, d, src) {
      val fp = SessionCache.fingerprint(s, d, src)
      val (li, ord, cust) = (s"cbo_li_$fp", s"cbo_ord_$fp", s"cbo_cust_$fp")
      SessionCache.replaceTables(s, Seq(li, ord, cust)) {
        Tables.lineitem(s, d)
          .select("l_orderkey", "l_extendedprice", "l_discount")
          .write.mode("overwrite").saveAsTable(li)
        Tables.orders(s, d).select("o_orderkey", "o_custkey")
          .write.mode("overwrite").saveAsTable(ord)
        Tables.customer(s, d).select("c_custkey", "c_mktsegment")
          .write.mode("overwrite").saveAsTable(cust)
        s.sql(s"ANALYZE TABLE $li COMPUTE STATISTICS FOR COLUMNS l_orderkey")
        s.sql(s"ANALYZE TABLE $ord COMPUTE STATISTICS FOR COLUMNS o_orderkey, o_custkey")
        s.sql(s"ANALYZE TABLE $cust COMPUTE STATISTICS FOR COLUMNS c_custkey, c_mktsegment")
      }
      (li, ord, cust)
    }
  }

  val queries: Map[String, Q] = Map(

    // --- SCD Type 2 dimension build: compress each customer's order
    // history into validity-interval versions of o_orderpriority —
    // a run starts whenever the attribute differs from the previous
    // observation (gaps-and-islands: lag → change flag → running sum =
    // version id → per-version min/max + lead for effective_to). All
    // windows partition by o_custkey, so the build is one shuffle on
    // the dimension key regardless of history length.
    "q_scd2_dimension" -> ((s, d) => {
      scd2Versions(s, d)
        .withColumn("effective_to",
          lead("effective_from", 1).over(
            Window.partitionBy("o_custkey").orderBy("version")))
        .orderBy("o_custkey", "version")
    }),

    // --- SCD2 point-in-time lookup: revenue per customer-priority
    // version VALID AT EACH LINEITEM'S SHIP DATE. The scalable shape is
    // the union-merge as-of: version starts (tag 0) and probes (tag 1)
    // union into one stream, one shuffle+sort per custkey, and
    // last(ignoreNulls) carries the in-effect attribute forward — no
    // range join, no per-probe subquery. Probes sort after dim rows at
    // equal timestamps (tag), and version order breaks same-day version
    // ties.
    "q_scd2_lookup" -> ((s, d) => {
      val versions = scd2Versions(s, d)
        .select(col("o_custkey"), col("version"), col("o_orderpriority"),
          col("effective_from").as("t"))
      val probes = Tables.lineitem(s, d)
        .join(Tables.orders(s, d).select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey"), col("l_shipdate").as("t"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
      val tagged = versions
        .select(col("o_custkey"), col("t"), lit(0).as("tag"), col("version"),
          col("o_orderpriority").as("prio"), lit(null).cast("double").as("rev"))
        .unionAll(probes.select(col("o_custkey"), col("t"), lit(1).as("tag"),
          lit(Long.MaxValue).as("version"), lit(null).cast("string").as("prio"),
          col("rev")))
      val merge = Window.partitionBy("o_custkey")
        .orderBy("t", "tag", "version")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      tagged
        .withColumn("prio_at_ship", last("prio", ignoreNulls = true).over(merge))
        .filter(col("tag") === 1)
        .groupBy("prio_at_ship")
        .agg(count(lit(1)).as("n_lineitems"),
          round(sum("rev") / 1e6, 3).as("rev_m"))
        // the NULL group is real: this synthetic lineitem ships ~half
        // its rows BEFORE the order date, so a probe can precede the
        // customer's first version — "no version in effect yet"
        .orderBy(asc_nulls_first("prio_at_ship"))
    }),

    // --- Z-order (Morton) layout audit: interleave the low 8 bits of
    // (l_partkey, l_suppkey), bucket rows by the z-key's top 4 bits —
    // a range split over the z-curve, NO global sort — and report each
    // bucket's bounding box in BOTH dimensions, against the same audit
    // for a linear partkey-only layout. Z-buckets bound both dims
    // (small area → file skipping works for either predicate); linear
    // buckets bound only partkey. This is the min-max-pruning planning
    // computation behind a Z-ordered table rewrite.
    "q_zorder_layout" -> ((s, d) => {
      val rows = Tables.lineitem(s, d).select(
        col("l_partkey").bitwiseAND(lit(255L)).as("p8"),
        col("l_suppkey").bitwiseAND(lit(255L)).as("s8"))
      val z = rows
        .withColumn("bucket", shiftright(zkey8(col("p8"), col("s8")), 12))
        .withColumn("layout", lit("zorder"))
      val linear = rows
        .withColumn("bucket", shiftright(col("p8"), 4))
        .withColumn("layout", lit("linear"))
      z.unionAll(linear)
        .groupBy("layout", "bucket")
        .agg(count(lit(1)).as("n_rows"),
          min("p8").as("min_p"), max("p8").as("max_p"),
          min("s8").as("min_s"), max("s8").as("max_s"))
        .withColumn("bbox_area",
          (col("max_p") - col("min_p") + 1) * (col("max_s") - col("min_s") + 1))
        .orderBy("layout", "bucket")
    }),

    // --- INCREMENTAL Z-order maintenance (VERDICT r8 #6: compaction ×
    // layout): a new batch merges into an existing z-ordered table
    // rewriting ONLY the z-buckets it touches, with real partitioned-
    // parquet I/O — base laid out one partition directory per bucket,
    // the merge a dynamic-partition-overwrite of the touched buckets,
    // untouched bucket FILES byte-identical afterwards (proven from
    // `_metadata`, the q_compaction audit style). The delta is a batch
    // localized in ONE dimension (p8 < 16 — new data clusters on its
    // keys), and the z-curve turns that one-dimensional locality into
    // bounded bucket spread: p-bits 6,7 = 0 pins two of the four bucket
    // bits, so only 4 of 16 buckets can be touched and the rewrite is
    // structurally ≤ ~1/4 of the table — the bounded-maintenance
    // property a 100 TB z-table relies on every ingest cycle.
    "q_zorder_incremental" -> ((s, d) => {
      val basePath = graft.GraftIO.root + "/zorder_incr"
      val rows = Tables.lineitem(s, d).select(
          col("l_orderkey"),
          col("l_partkey").bitwiseAND(lit(255L)).as("p8"),
          col("l_suppkey").bitwiseAND(lit(255L)).as("s8"))
        .withColumn("bucket", shiftright(zkey8(col("p8"), col("s8")), 12))
      val isDelta = col("p8") < 16
      // cluster by the partition column before the partitioned write
      // (round 16, guide-standard layout hygiene): without it every
      // input task writes one file into every bucket directory it sees
      // (~tasks × 16 tiny files), and every downstream audit read pays
      // the listing + per-file open cost twice over. REBALANCE is the
      // scale-adaptive form — AQE sizes the write tasks (coalescing
      // small buckets, splitting a skewed one), so at 100 TB a hot
      // bucket still fans out across writers instead of serializing
      // into one task. Result columns are unchanged: the audit compares
      // file INVENTORIES before/after, never file counts.
      rows.filter(!isDelta).hint("rebalance", col("bucket"))
        .write.mode("overwrite")
        .partitionBy("bucket").parquet(basePath)
      // snapshot the pre-merge file inventory NOW (lazy plans would read
      // the post-merge directory)
      val before = s.read.parquet(basePath)
        .select(col("bucket").cast("long").as("bucket"),
          col("_metadata.file_path").as("fp"))
        .distinct().localCheckpoint()
      val delta = rows.filter(isDelta)
      val touched = delta.select("bucket").distinct()
      // rewrite = current contents of touched buckets + delta, written
      // back with dynamic partition overwrite; the self-read must
      // materialize first (Spark refuses to overwrite a path it is
      // reading) — localCheckpoint snapshots the touched rows
      val rewritten = s.read.parquet(basePath)
        .select(col("l_orderkey"), col("p8"), col("s8"),
          col("bucket").cast("long").as("bucket"))
        .join(broadcast(touched), "bucket")
        .select("l_orderkey", "p8", "s8", "bucket")
        .unionAll(delta.select("l_orderkey", "p8", "s8", "bucket"))
        .localCheckpoint()
      rewritten.hint("rebalance", col("bucket"))
        .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket").parquet(basePath)
      val after = s.read.parquet(basePath)
        .select(col("l_orderkey"), col("p8"), col("s8"),
          col("bucket").cast("long").as("bucket"),
          col("_metadata.file_path").as("fp"))
        .localCheckpoint()
      // untouched buckets must keep their exact file set
      val beforeUn = before.join(broadcast(touched), Seq("bucket"), "left_anti")
      val afterUn = after.select("bucket", "fp").distinct()
        .join(broadcast(touched), Seq("bucket"), "left_anti")
      val filesOk = beforeUn.select(col("bucket"), col("fp"), lit(1).as("b"))
        .join(afterUn.select(col("bucket"), col("fp"), lit(1).as("a")),
          Seq("bucket", "fp"), "full_outer")
        .agg(coalesce(min(col("a").isNotNull && col("b").isNotNull), lit(true))
          .as("untouched_preserved"))
      val totals = after.agg(count(lit(1)).as("n_rows_total"),
        countDistinct("bucket").as("n_buckets"))
      val deltaStats = delta.agg(count(lit(1)).as("n_rows_delta"))
      val touchedStats = after.join(broadcast(touched), "bucket")
        .agg(count(lit(1)).as("n_rows_rewritten"),
          countDistinct("bucket").as("n_buckets_rewritten"))
      val preserved = after.agg(
        sum(col("l_orderkey").cast("decimal(30,0)")).cast("double").as("sum_after"))
        .crossJoin(rows.agg(sum(col("l_orderkey").cast("decimal(30,0)"))
          .cast("double").as("sum_base")))
        .select((col("sum_after") === col("sum_base")).as("rows_preserved"))
      totals.crossJoin(deltaStats).crossJoin(touchedStats)
        .crossJoin(filesOk).crossJoin(preserved)
        .select(col("n_rows_total"), col("n_rows_delta"),
          col("n_buckets"), col("n_buckets_rewritten"), col("n_rows_rewritten"),
          (col("n_buckets_rewritten") <= 4).as("rewrite_bounded"),
          col("untouched_preserved"), col("rows_preserved"))
    }),

    // --- CACHE TABLE surface: the engine's materialized-in-memory
    // relation (InMemoryRelation / columnar InMemoryTableScan) — cache a
    // derived view, run the consumer twice (build + hit), and carry the
    // in-plan verdict that the consumer actually reads the CACHED scan
    // (not the parquet). Storage level MEMORY_AND_DISK is the 100 TB
    // default: hot partitions columnar in memory, cold spill to disk.
    // Result values are oracle-checked against the uncached computation,
    // so a stale or partial cache would hash-fail.
    "q_cache_table" -> ((s, d) => {
      val view = Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_quantity").cast("decimal(30,12)")), 4)
            .cast("double").as("qty"))
      view.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        view.count() // build the cache
        // the LOGICAL plan carries InMemoryRelation unconditionally;
        // the physical InMemoryTableScanExec hides inside the AQE
        // wrapper's un-materialized inner plan and is invisible to a
        // children traversal before execution
        val cachedInPlan = view.queryExecution.optimizedPlan.exists {
          case _: org.apache.spark.sql.execution.columnar.InMemoryRelation => true
          case _ => false
        }
        view.withColumn("served_from_cache", lit(cachedInPlan))
          .orderBy("l_returnflag", "l_linestatus")
          // materialize BEFORE unpersist below (orderBy output is tiny)
          .localCheckpoint()
      } finally view.unpersist(blocking = false)
    }),

    // --- observe() / CollectMetrics surface: dataset-QA metrics piggy-
    // backed on a query's OWN execution. At 100 TB the alternative is a
    // SECOND full scan ("SELECT count(*), sum(qty), min/max(date)")
    // just to validate what a pipeline read — observe rides the same
    // tasks as accumulators, so the metrics cost ZERO extra passes and
    // arrive exactly-once per action (retried/speculative tasks are
    // deduplicated by the accumulator machinery, unlike hand-rolled
    // counters). The observed values are returned as columns beside the
    // grouped result and oracle-checked against DuckDB recomputing them
    // directly from the table; the in-plan verdict pins that a
    // CollectMetrics node is genuinely in the analyzed plan. The one
    // collect() is the house two-job sketch pattern: a bounded (≤3-row)
    // action that populates the Observation before the literals embed.
    "q_observe_metrics" -> ((s, d) => {
      val obs = org.apache.spark.sql.Observation()
      val base = Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1998-01-01").cast("date"))
        .observe(obs,
          count(lit(1)).as("obs_rows"),
          sum(col("l_quantity").cast("decimal(30,12)")).as("obs_qty"),
          min(col("l_shipdate").cast("date")).as("obs_min_ship"),
          max(col("l_shipdate").cast("date")).as("obs_max_ship"))
      val agg = base.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"))
      val metricsInPlan = agg.queryExecution.analyzed.exists {
        case _: org.apache.spark.sql.catalyst.plans.logical.CollectMetrics =>
          true
        case _ => false
      }
      agg.collect() // bounded (≤3 flags) action; populates the observation
      val m = obs.get
      val qty = BigDecimal(m("obs_qty").asInstanceOf[java.math.BigDecimal])
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      agg
        .withColumn("obs_rows", lit(m("obs_rows").asInstanceOf[Long]))
        .withColumn("obs_qty", lit(qty))
        .withColumn("obs_min_ship",
          lit(m("obs_min_ship").asInstanceOf[java.sql.Date]))
        .withColumn("obs_max_ship",
          lit(m("obs_max_ship").asInstanceOf[java.sql.Date]))
        .withColumn("metrics_in_plan", lit(metricsInPlan))
        .orderBy("l_returnflag")
    }),

    // --- manifest (zone-map) file pruning: the file-level min/max
    // skipping every table format does ABOVE directory partitioning —
    // data is range-laid-out on the sort key at write time, a MANIFEST
    // table records each file's (path, min, max) from one footer-cheap
    // `_metadata` pass, and a range query consults the manifest FIRST,
    // then scans ONLY the overlapping files (explicit path list). At
    // 100 TB the manifest is MB-sized and driver/broadcast-resident;
    // the scan touches the 2–3 overlapping files out of thousands. The
    // result provably equals the full-scan filter (the oracle), and the
    // pruning verdict (files_scanned < files_total) rides in-plan.
    "q_manifest_prune" -> ((s, d) => {
      val base = graft.GraftIO.fresh(s, "manifest")
      // range layout: repartitionByRange clusters each file on the sort
      // key — the write-time investment zone maps monetize at read time
      Tables.orders(s, d)
        .select("o_orderkey", "o_orderdate", "o_totalprice")
        .repartitionByRange(8, col("o_orderdate"))
        .write.parquet(s"$base/data")
      val manifest = s.read.parquet(s"$base/data")
        .groupBy(col("_metadata.file_path").as("fp"))
        .agg(min(col("o_orderdate")).as("lo"), max(col("o_orderdate")).as("hi"))
        .localCheckpoint()
      val (qLo, qHi) = ("1999-06-01", "1999-08-31")
      val keep = manifest
        .filter(col("hi") >= lit(qLo).cast("date") &&
          col("lo") <= lit(qHi).cast("date"))
        .select("fp").collect().map(_.getString(0))
      val nTotal = manifest.count()
      // scan ONLY the overlapping files; the residual filter still
      // applies (zone maps prune files, not rows). An empty keep list
      // (a dataset with no rows in the window) must yield the correct
      // EMPTY result, not a read error — scan-with-false-filter keeps
      // the schema without touching data.
      val src = if (keep.isEmpty) s.read.parquet(s"$base/data").filter(lit(false))
                else s.read.parquet(keep: _*)
      val pruned = src
        .filter(col("o_orderdate") >= lit(qLo).cast("date") &&
          col("o_orderdate") <= lit(qHi).cast("date"))
      // exact scanned/total counts depend on the range sampler's
      // boundaries (scale-dependent), so the CONTRACT row carries the
      // boolean pruning verdict; ManifestPruneSpec pins the tight bound
      pruned.groupBy(month(col("o_orderdate")).as("m"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice").cast("decimal(30,12)")), 4)
            .cast("double").as("revenue"))
        .withColumn("pruned", lit(keep.length < nTotal && keep.nonEmpty))
        .orderBy("m")
    }),

    // --- bloom-filter skip index: the data-skipping structure for POINT
    // lookups where zone maps are USELESS by construction — the files
    // are HASH-laid on the key (the append/ingest reality: every file's
    // [min,max] spans the whole key domain, so min/max skipping prunes
    // nothing, and the query proves that in-row), but a per-file Bloom
    // sketch (the engine's own BloomBuildAgg, one footer-cheap pass
    // riding `_metadata`) excludes every file whose filter rejects the
    // key. At 100 TB: the index is KB per file and driver/broadcast-
    // resident; an id lookup touches ~1 file out of thousands instead
    // of all of them. The probed rows must equal the direct lookup (the
    // oracle); bloom_pruned pins that skipping genuinely engaged, and
    // no-false-negative is structural (a bloom can never reject a
    // present key, so a missing output row is impossible unless the
    // index build itself is wrong — which the equality catches).
    "q_bloom_skip_index" -> ((s, d) => {
      val base = graft.GraftIO.fresh(s, "bloom_skip")
      Tables.orders(s, d)
        .select("o_orderkey", "o_totalprice")
        .repartition(8, col("o_orderkey"))
        .write.parquet(s"$base/data")
      // per-file bloom index + min/max (to prove zone maps can't help)
      val index = s.read.parquet(s"$base/data")
        .groupBy(col("_metadata.file_path").as("fp"))
        .agg(bloom_agg(col("o_orderkey"), 1000000L, 0.01).as("bloom"),
          min(col("o_orderkey")).as("lo"), max(col("o_orderkey")).as("hi"))
        .localCheckpoint()
      // probes sit mid-domain at every scale, so each file's hash-drawn
      // [lo, hi] covers them a.s. (P ≈ e^-38 already at the smallest
      // scale) and the zone-map verdict is deterministic
      val probeKeys = Seq(303L, 453L, 603L, 903L, 1203L)
      val nTotal = index.count()
      val rows = probeKeys.flatMap { k =>
        val keep = index
          .filter(bloom_might_contain(col("bloom"), lit(k)))
          .select("fp").collect().map(_.getString(0))
        // hash layout: every file's range covers every key — min/max
        // skipping would keep ALL files for this probe
        val zoneUseless = index
          .filter(col("lo") <= k && col("hi") >= k).count() == nTotal
        // headOption: a probe key absent from orders at some scale
        // yields no row (matching the oracle's IN-list semantics)
        // instead of throwing NoSuchElementException
        s.read.parquet(keep: _*)
          .filter(col("o_orderkey") === k)
          .select("o_totalprice").head(1).headOption.map { hit =>
            (k, hit.getDouble(0), nTotal, keep.length < nTotal, zoneUseless)
          }
      }
      import s.implicits._
      rows.toDF("probe_key", "o_totalprice", "n_files_total",
          "bloom_pruned", "zone_maps_useless")
        .orderBy("probe_key")
    }),

    // --- deletion vectors (merge-on-read position deletes): the delete
    // mechanism every modern table format (Iceberg v2 / Delta DV) uses
    // when rewriting data files is too expensive — the delete writes a
    // tiny KEY SIDECAR, base files stay byte-identical (proven in-plan
    // from the _metadata (path, size) inventory before vs after), and
    // the READ path merges: scan ⋈ broadcast-anti the sidecar. At
    // 100 TB: a takedown touches KB of sidecar instead of rewriting TB
    // of base; the anti join is broadcast because deletion vectors are
    // small by design (q_compaction is the eventual rewrite that folds
    // them in, q_vacuum the cleanup — this row is the read-path merge).
    "q_deletion_vectors" -> ((s, d) => {
      val base = graft.GraftIO.fresh(s, "delvec")
      Tables.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
        .repartition(8, col("o_orderkey"))
        .write.parquet(s"$base/data")
      // pre-delete file inventory, snapshotted eagerly (a lazy plan
      // would read the post-delete directory)
      val before = s.read.parquet(s"$base/data")
        .select(col("_metadata.file_path").as("fp"),
          col("_metadata.file_size").as("sz"))
        .distinct().localCheckpoint()
      // the DELETE: takedown keys land in a sidecar — no base rewrite
      s.read.parquet(s"$base/data")
        .filter(col("o_orderkey") % 1000 === 7)
        .select(col("o_orderkey").as("del_key"))
        .write.parquet(s"$base/deletes")
      val after = s.read.parquet(s"$base/data")
        .select(col("_metadata.file_path").as("fp"),
          col("_metadata.file_size").as("sz"))
        .distinct()
      val filesOk = before.select(col("fp"), col("sz"), lit(1).as("b"))
        .join(after.select(col("fp"), col("sz"), lit(1).as("a")),
          Seq("fp", "sz"), "full_outer")
        .agg(min(col("a").isNotNull && col("b").isNotNull)
          .as("base_untouched"))
      val dv = s.read.parquet(s"$base/deletes")
      val live = s.read.parquet(s"$base/data")
        .join(broadcast(dv), col("o_orderkey") === col("del_key"), "left_anti")
      live.groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_live"),
          round(sum(col("o_totalprice").cast("decimal(30,12)")), 4)
            .cast("double").as("sum_price"))
        .crossJoin(broadcast(dv.agg(count(lit(1)).as("n_deleted"))))
        .crossJoin(broadcast(filesOk))
        .select(col("o_orderpriority"), col("n_live"), col("sum_price"),
          col("n_deleted"), col("base_untouched"))
        .orderBy("o_orderpriority")
    }),

    // --- skew-salted join: ~every 4th fact row shares ONE hot key (0);
    // the fix is mechanical and TARGETED — fact rows on a hot key get
    // salt = hash(row identity) mod 16, all other rows salt 0; the dim
    // side replicates ONLY its hot rows 16× (cold rows pass through
    // once, salt 0). The join key becomes (key, salt), so the hot key's
    // rows spread over 16 tasks while the dim shuffle grows by just
    // 16 × |hot set| rows — replicating the WHOLE dim side instead
    // measured 15× at the 10× scale test and is the classic salting
    // mistake. The merge hint forces the shuffle join the technique
    // exists for (a broadcast would hide the skew — and at 100 TB the
    // dim side of a skewed join is rarely broadcastable). Salt never
    // reaches the output: the aggregate collapses it, so the oracle is
    // the plain unsalted join.
    "q_salted_join" -> ((s, d) => {
      val hot = lit(0L) // the known hot key (from stats / AQE skew metrics)
      val fact = Tables.lineitem(s, d)
        .select(
          when(col("l_linenumber") === 1, 0L).otherwise(col("l_orderkey")).as("k"),
          col("l_quantity"), col("l_returnflag"),
          pmod(xxhash64(col("l_orderkey") * 7 + col("l_linenumber")), lit(16L))
            .as("rowhash"))
        .withColumn("salt",
          when(col("k") === hot, col("rowhash")).otherwise(lit(0L)))
        .drop("rowhash")
      val dim = Tables.orders(s, d)
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("price"))
        .unionAll(s.range(1).select(lit(0L).as("k"), lit(100.0).as("price")))
        .withColumn("salt",
          explode(when(col("k") === hot, sequence(lit(0L), lit(15L)))
            .otherwise(array(lit(0L)))))
      fact.hint("merge").join(dim, Seq("k", "salt"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_quantity") * col("price")) / 1e6, 2).as("weighted_m"))
        .orderBy("l_returnflag")
    }),

    // --- data-quality report (the expectations gate a warehouse runs
    // before publishing a table): one agg pass per table computes every
    // column-level check (null fractions, key uniqueness, domain
    // violations, freshness) as columns of a single row, one anti-join
    // counts referential orphans, and an unpivot turns the row into the
    // (check, value) report. 2 scans + 1 join total, independent of how
    // many checks ride along — the shape that audits a 100 TB table
    // without one pass per expectation.
    "q_dq_report" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val li = Tables.lineitem(s, d)
      val ordersChecks = o.agg(
        count(lit(1)).cast("double").as("orders_rows"),
        (count(lit(1)) - countDistinct(col("o_orderkey")))
          .cast("double").as("orders_dup_keys"),
        avg(col("o_orderpriority").isNull.cast("int"))
          .cast("double").as("orders_null_priority_frac"),
        sum((col("o_totalprice") <= 0).cast("int"))
          .cast("double").as("orders_nonpositive_price"),
        unix_date(max(col("o_orderdate")).cast("date"))
          .cast("double").as("orders_max_date_epochday"))
      val liChecks = li.agg(
        count(lit(1)).cast("double").as("lineitem_rows"),
        sum((col("l_quantity") < 1 || col("l_quantity") > 50).cast("int"))
          .cast("double").as("lineitem_qty_out_of_domain"),
        sum((col("l_discount") < 0 || col("l_discount") > 1).cast("int"))
          .cast("double").as("lineitem_discount_out_of_domain"))
      val orphans = li.join(o.select("o_orderkey"),
          col("l_orderkey") === col("o_orderkey"), "left_anti")
        .agg(count(lit(1)).cast("double").as("lineitem_orphans"))
      ordersChecks.crossJoin(liChecks).crossJoin(orphans)
        .selectExpr("""stack(9,
          'orders_rows', orders_rows,
          'orders_dup_keys', orders_dup_keys,
          'orders_null_priority_frac', orders_null_priority_frac,
          'orders_nonpositive_price', orders_nonpositive_price,
          'orders_max_date_epochday', orders_max_date_epochday,
          'lineitem_rows', lineitem_rows,
          'lineitem_qty_out_of_domain', lineitem_qty_out_of_domain,
          'lineitem_discount_out_of_domain', lineitem_discount_out_of_domain,
          'lineitem_orphans', lineitem_orphans) AS (check, value)""")
        .orderBy("check")
    }),

    // --- data-contract quarantine split (the dead-letter-queue pattern
    // at the batch layer): every ingest row is checked against the
    // table's contract — non-negative value, known event type, sane
    // event-time year, parseable props JSON — and rows violating ANY
    // rule are quarantined, with per-rule violation accounting (what an
    // ingest SLO dashboard and the producer-team bug report both need).
    // All four checks are codegen'd predicates in ONE scan-stage
    // projection feeding one agg — no per-rule re-scan. The live corpus
    // is clean, so a deterministic planted batch (one violator per rule
    // + one clean control, same literals in the oracle) makes every
    // rule's counter provably able to fire.
    "q_quarantine_split" -> ((s, d) => {
      import s.implicits._
      val base = Tables.events(s, d)
        .select(col("ts"), col("event_type"), col("value"), col("props"))
      val planted = Seq(
        ("2024-01-15 00:00:00", "click", -5.0, """{"k": 1}"""),
        ("2024-01-15 00:00:00", "hover", 1.0, """{"k": 1}"""),
        ("1970-01-01 00:00:00", "click", 1.0, """{"k": 1}"""),
        ("2024-01-15 00:00:00", "click", 1.0, "notjson"),
        ("2024-01-15 00:00:00", "click", 1.0, """{"k": 1}"""))
        .toDF("tss", "event_type", "value", "props")
        .select(to_timestamp(col("tss")).as("ts"), col("event_type"),
          col("value"), col("props"))
      base.unionAll(planted)
        .select(
          (col("value").isNull || col("value") < 0).as("bad_value"),
          (!col("event_type").isin("click", "view", "purchase", "signup",
            "error")).as("bad_type"),
          (year(col("ts")) < 2020 || year(col("ts")) > 2030).as("bad_ts"),
          from_json(col("props"), lit("map<string,string>")).isNull
            .as("bad_json"))
        .agg(
          count(lit(1)).as("n_total"),
          sum((!col("bad_value") && !col("bad_type") && !col("bad_ts") &&
            !col("bad_json")).cast("int")).as("n_valid"),
          sum((col("bad_value") || col("bad_type") || col("bad_ts") ||
            col("bad_json")).cast("int")).as("n_quarantined"),
          sum(col("bad_value").cast("int")).as("v_value"),
          sum(col("bad_type").cast("int")).as("v_type"),
          sum(col("bad_ts").cast("int")).as("v_ts"),
          sum(col("bad_json").cast("int")).as("v_json"))
    }),

    // --- winsorization (robust outlier capping — the feature-cleaning
    // step before scaling/training that q_feature_scale assumes): clip
    // each group's values at its exact [p05, p95]. Two bounded passes,
    // no sort of the fact table: per-group exact percentiles (a 3-row
    // agg) broadcast back onto the scan, clip with greatest/least in
    // the projection. At 100 TB the only swap is exact percentile →
    // approx_percentile (same plan shape, error-contracted like
    // q_approx_quantiles); sums ride the decimal cast so both engines
    // round identically.
    "q_winsorize" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .select(col("l_returnflag"), col("l_extendedprice").as("v"))
      val pct = li.groupBy("l_returnflag").agg(
        expr("percentile(v, 0.05)").as("p05"),
        expr("percentile(v, 0.95)").as("p95"))
      li.join(broadcast(pct), "l_returnflag")
        .select(col("l_returnflag"), col("v"), col("p05"), col("p95"),
          greatest(col("p05"), least(col("p95"), col("v"))).as("w"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum((col("v") < col("p05")).cast("int")).as("n_lo"),
          sum((col("v") > col("p95")).cast("int")).as("n_hi"),
          round(sum(col("v").cast("decimal(30,12)")), 4).cast("double")
            .as("sum_raw"),
          round(sum(col("w").cast("decimal(30,12)")), 4).cast("double")
            .as("sum_winsorized"),
          round(min("p05"), 4).as("p05"),
          round(min("p95"), 4).as("p95"))
        .orderBy("l_returnflag")
    }),

    // --- Hilbert-curve layout audit: q_zorder_layout's locality
    // upgrade. Z-order's curve JUMPS (consecutive z-values can be far
    // apart in (x,y)), so z-range buckets carry dead bounding-box area;
    // the Hilbert walk is unit-adjacent at every step — the reason
    // modern clustering layouts moved from Z-order to Hilbert — giving
    // tighter per-bucket boxes and better min-max file skipping for the
    // same bucket count. Same audit shape as the z-order row (range
    // split over the curve, NO global sort — at 100 TB the bucket id is
    // the repartition key and each file's box is its skipping
    // metadata); bbox_area makes the locality win directly comparable
    // against the z buckets. The codegen'd [[graft.functions
    // .HilbertIndex8]] runs in the scan stage; the oracle re-walks the
    // same flip-swap recurrence as an 8-step recursive CTE, so buckets
    // are hash-checked exactly.
    "q_hilbert_layout" -> ((s, d) => {
      val rows = Tables.lineitem(s, d).select(
        col("l_partkey").bitwiseAND(lit(255L)).as("p8"),
        col("l_suppkey").bitwiseAND(lit(255L)).as("s8"))
      rows
        .withColumn("bucket",
          shiftright(graft.functions.hilbert_index8(col("p8"), col("s8")), 12))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_rows"),
          min("p8").as("min_p"), max("p8").as("max_p"),
          min("s8").as("min_s"), max("s8").as("max_s"))
        .withColumn("bbox_area",
          (col("max_p") - col("min_p") + 1) * (col("max_s") - col("min_s") + 1))
        .orderBy("bucket")
    }),

    // --- optimizer-statistics collection (the ANALYZE TABLE .. COMPUTE
    // STATISTICS FOR COLUMNS analog): per-column ndv / null-count /
    // min / max over orders in ONE scan pass — every stat is a partial-
    // aggregatable function, so the plan is a single map-side-combined
    // agg regardless of table size; there is no per-column re-scan
    // (stack() melts the 1-row wide agg afterwards, a 0-cost reshape).
    // These are exactly the stats a CBO feeds on (join reordering wants
    // ndv, pruning wants min/max, null fractions pick outer-join
    // strategies). At 100 TB the only swap is exact countDistinct →
    // HLL (q_approx_distinct pins that path's error contract); min/max/
    // counts are already constant-state. Values ride in a DOUBLE melt
    // (dates as epoch-day) with string min/max in separate rows cast
    // to their lexical rank — kept numeric to keep the melt uniform.
    "q_analyze_stats" -> ((s, d) => {
      val o = Tables.orders(s, d)
      o.agg(
        count(lit(1)).cast("double").as("n_rows"),
        countDistinct(col("o_orderkey")).cast("double").as("orderkey_ndv"),
        countDistinct(col("o_custkey")).cast("double").as("custkey_ndv"),
        countDistinct(col("o_orderstatus")).cast("double").as("status_ndv"),
        countDistinct(col("o_orderpriority")).cast("double").as("priority_ndv"),
        sum(col("o_custkey").isNull.cast("int")).cast("double")
          .as("custkey_nulls"),
        round(min(col("o_totalprice")), 4).as("totalprice_min"),
        round(max(col("o_totalprice")), 4).as("totalprice_max"),
        unix_date(min(col("o_orderdate")).cast("date")).cast("double")
          .as("orderdate_min_epochday"),
        unix_date(max(col("o_orderdate")).cast("date")).cast("double")
          .as("orderdate_max_epochday"),
        min(length(col("o_orderpriority"))).cast("double")
          .as("priority_len_min"),
        max(length(col("o_orderpriority"))).cast("double")
          .as("priority_len_max"))
        .selectExpr("""stack(12,
          'n_rows', n_rows,
          'orderkey_ndv', orderkey_ndv,
          'custkey_ndv', custkey_ndv,
          'status_ndv', status_ndv,
          'priority_ndv', priority_ndv,
          'custkey_nulls', custkey_nulls,
          'totalprice_min', totalprice_min,
          'totalprice_max', totalprice_max,
          'orderdate_min_epochday', orderdate_min_epochday,
          'orderdate_max_epochday', orderdate_max_epochday,
          'priority_len_min', priority_len_min,
          'priority_len_max', priority_len_max) AS (stat, value)""")
        .orderBy("stat")
    }),

    // --- CBO join reorder (VERDICT r9 #4): q_analyze_stats computes the
    // statistics a cost-based optimizer feeds on — this query WIRES them
    // in. Three catalog tables get ANALYZE TABLE … FOR COLUMNS
    // (row counts + per-column NDV/min/max into the metastore), then the
    // SAME chain query lineitem ⋈ orders ⋈ customer(filtered) is planned
    // twice in isolated sessions: stats+CBO OFF keeps the syntactic
    // left-deep (L⋈O)⋈C; stats+CBO ON lets the join-reorder rule see
    // that the filtered customer side collapses orders first and picks
    // L⋈(O⋈C). The leaf-scan ORDER of the two optimized plans is
    // compared driver-side (bounded — plan text only) and emitted as a
    // contract flag; the RESULT is produced under the CBO session and
    // must be identical either way (reordering is semantics-preserving),
    // which the oracle checks the classic way. At 100 TB this is the
    // difference between shuffling the fact twice and once.
    "q_cbo_reorder" -> ((s, d) => {
      val (li, ord, cust) = ensureCboTables(s, d)
      val sql =
        s"""SELECT c_mktsegment,
          |  count(*) AS n_rows,
          |  round(sum(CAST(l_extendedprice * (1.0 - l_discount)
          |    AS DECIMAL(30,12))), 4) AS revenue
          |FROM $li JOIN $ord ON l_orderkey = o_orderkey
          |  JOIN $cust ON o_custkey = c_custkey
          |WHERE c_mktsegment = 'BUILDING'
          |GROUP BY c_mktsegment""".stripMargin
      def leafOrder(sess: SparkSession): Seq[String] = {
        val plan = sess.sql(sql).queryExecution.optimizedPlan.toString
        Seq(li, ord, cust)
          .map(t => t -> plan.indexOf(s"spark_catalog.default.$t"))
          .sortBy(_._2).map(_._1)
      }
      val sOff = childSession(s)
      sOff.conf.set("spark.sql.cbo.enabled", "false")
      val sOn = childSession(s)
      sOn.conf.set("spark.sql.cbo.enabled", "true")
      sOn.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
      val reordered = leafOrder(sOn) != leafOrder(sOff)
      // result bound to the CBO session (conf isolation — the returned
      // DF replans at execution time under ITS session's conf)
      sOn.sql(sql)
        .select(col("c_mktsegment"), col("n_rows"),
          col("revenue").cast("double").as("revenue"),
          lit(reordered).as("cbo_reordered"))
        .orderBy("c_mktsegment")
    }),

    // --- equi-width histogram (round 9): the other CBO statistic
    // family q_analyze_stats doesn't cover — 20 fixed-width buckets of
    // o_totalprice with per-bucket count and observed bounds. Bounds
    // come from a 1-row broadcast agg; the bucket id is pure arithmetic
    // on the scan (no sort, no window), so the histogram costs one scan
    // + one bounded agg at any corpus size — the ANALYZE…HISTOGRAM
    // plan shape.
    "q_histogram" -> ((s, d) => {
      val o = Tables.orders(s, d).select(col("o_totalprice").as("v"))
      val bounds = o.agg(min("v").as("lo"), max("v").as("hi"))
      o.crossJoin(broadcast(bounds))
        .select(least(lit(19), floor((col("v") - col("lo"))
            / ((col("hi") - col("lo")) / 20.0)).cast("int")).as("bucket"),
          col("v"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"),
          round(min("v"), 4).as("lo_v"), round(max("v"), 4).as("hi_v"))
        .orderBy("bucket")
    }),

    // --- join-key skew diagnostics: the planning pass that DECIDES
    // salting (q_salted_join is the cure; this is the diagnosis). One
    // per-key hash agg, then only bounded re-aggregates over the key
    // histogram: total/distinct, the top-1 and top-10 key shares, and
    // the p99/median key-count ratio. At 100 TB this is the cheap
    // pre-join pass whose output picks between plain SMJ, broadcast,
    // AQE skew split, or explicit salting.
    "q_skew_diagnostics" -> ((s, d) => {
      val counts = Tables.lineitem(s, d)
        .select(when(col("l_linenumber") === 1, 0L)
          .otherwise(col("l_orderkey")).as("k"))
        .groupBy("k").agg(count(lit(1)).as("c"))
      val top10 = counts.orderBy(desc("c"), asc("k")).limit(10)
        .agg(sum("c").as("top10"), max("c").as("top1"))
      val stats = counts.agg(
        sum("c").as("n_rows"), count(lit(1)).as("n_keys"),
        expr("percentile(c, 0.99)").as("p99"),
        expr("percentile(c, 0.5)").as("p50"))
      stats.crossJoin(broadcast(top10)).select(
        col("n_rows"), col("n_keys"),
        round(col("top1") / col("n_rows"), 6).as("top1_share"),
        round(col("top10") / col("n_rows"), 6).as("top10_share"),
        round(col("p99") / col("p50"), 4).as("p99_over_median"))
    }),

    // --- interval-overlap join, binned: campaigns (14-day windows
    // derived from part) × orders (10-day windows). Instead of the
    // quadratic BNLJ `a.start < b.end AND b.start < a.end`, both sides
    // explode to the 7-day epoch bins their interval covers and
    // equi-join on the bin — each pair meets in ≥1 shared bin, the
    // distinct() collapses multi-bin duplicates, and the shuffle is
    // linear in (rows × interval_len/bin_len). The standard scalable
    // interval-join shape.
    "q_interval_overlap" -> ((s, d) => {
      val day = lit(86400L)
      val campaigns = Tables.part(s, d)
        .filter(col("p_partkey") % 5 === 0)
        .select(col("p_partkey").as("campaign_id"),
          (lit(788918400L) + (col("p_partkey") % 700) * day).as("c_start"))
        .withColumn("c_end", col("c_start") + lit(14L) * day)
      // o_orderdate is TIMESTAMP_NTZ at midnight → day-number arithmetic
      // (unix_date) is exact and timezone-free in both engines
      val orders = Tables.orders(s, d)
        .select(col("o_orderkey"),
          (unix_date(col("o_orderdate").cast("date")).cast("long") * day).as("o_start"))
        .withColumn("o_end", col("o_start") + lit(10L) * day)
      val week = lit(604800L)
      def bin(c: Column): Column = floor(c / week).cast("long")
      val cBins = campaigns.withColumn("bin",
        explode(sequence(bin(col("c_start")), bin(col("c_end") - 1))))
      val oBins = orders.withColumn("bin",
        explode(sequence(bin(col("o_start")), bin(col("o_end") - 1))))
      cBins.join(oBins, Seq("bin"))
        .filter(col("o_start") < col("c_end") && col("c_start") < col("o_end"))
        .select("campaign_id", "o_orderkey").distinct()
        .groupBy("campaign_id")
        .agg(count(lit(1)).as("n_overlapping_orders"))
        .orderBy("campaign_id")
    }),

    // --- distribution drift (PSI): split the event stream at its
    // temporal midpoint (computed as one broadcast 1-row aggregate —
    // `2·ts < min+max` avoids any division), compare per-event-type
    // shares between halves via the population-stability-index
    // contribution (p−q)·ln(p/q). The monitoring primitive that decides
    // "has the corpus shifted since the last training run".
    "q_drift_psi" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("event_type"), unix_micros(col("ts")).as("us"))
      val bounds = ev.agg(min("us").as("mn"), max("us").as("mx"))
      val halves = ev.crossJoin(broadcast(bounds))
        .withColumn("half", when(col("us") * 2 < col("mn") + col("mx"), "a").otherwise("b"))
        .groupBy("event_type")
        .agg(sum(when(col("half") === "a", 1L).otherwise(0L)).as("n_a"),
          sum(when(col("half") === "b", 1L).otherwise(0L)).as("n_b"))
      val tot = halves.agg(sum("n_a").as("t_a"), sum("n_b").as("t_b"))
      halves.crossJoin(broadcast(tot))
        .withColumn("p", col("n_a") / col("t_a"))
        .withColumn("q", col("n_b") / col("t_b"))
        // a type seen in only one half is maximal drift, not a crash:
        // ANSI division/log would throw on q=0, so emit NULL psi and
        // let the caller treat it as "new/vanished category"
        .select(col("event_type"), col("n_a"), col("n_b"),
          when(col("n_a") > 0 && col("n_b") > 0,
            round((col("p") - col("q")) * log(col("p") / col("q")), 6))
            .as("psi"))
        .orderBy("event_type")
    }),

    // --- feature scaling: z-score, min-max, and robust (median/IQR)
    // normalization of account balance per market segment. The stats
    // table is one bounded hash agg (segments × 7 numbers) broadcast
    // back onto the row stream — never a per-row window over the
    // partition, which would sort 100 TB to scale 100 TB.
    "q_feature_scale" -> ((s, d) => {
      val cust = Tables.customer(s, d)
      val stats = cust.groupBy("c_mktsegment").agg(
        avg("c_acctbal").as("mu"), stddev_samp("c_acctbal").as("sd"),
        min("c_acctbal").as("mn"), max("c_acctbal").as("mx"),
        expr("percentile(c_acctbal, 0.5)").as("med"),
        expr("percentile(c_acctbal, 0.25)").as("p25"),
        expr("percentile(c_acctbal, 0.75)").as("p75"))
      cust.join(broadcast(stats), "c_mktsegment")
        .filter(col("c_custkey") % 7 === 0)
        .select(col("c_custkey"), col("c_mktsegment"),
          round((col("c_acctbal") - col("mu")) / col("sd"), 4).as("zscore"),
          round((col("c_acctbal") - col("mn")) / (col("mx") - col("mn")), 4).as("minmax"),
          round((col("c_acctbal") - col("med")) / (col("p75") - col("p25")), 4).as("robust"))
        .orderBy("c_custkey")
    }),

    // --- token-entropy quality: per-document Shannon entropy of the
    // token distribution plus type-token ratio — the
    // vocabulary-richness quality signal (low entropy = repetitive
    // boilerplate). Per-doc token histogram → one hash agg keyed by
    // (doc, token), then a per-doc reduce; both shuffle on doc_id only.
    "q_entropy_quality" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          explode(split(lower(col("text")), " ")).as("tok"))
        .filter(col("tok") =!= "")
      val hist = toks.groupBy("doc_id", "lang", "tok").agg(count(lit(1)).as("c"))
      hist.groupBy("doc_id", "lang")
        .agg(sum("c").as("n_tokens"), count(lit(1)).as("n_types"),
          sum(col("c") * log(col("c"))).as("clogc"))
        .select(col("doc_id"), col("lang"), col("n_tokens"), col("n_types"),
          round(log(col("n_tokens")) - col("clogc") / col("n_tokens"), 4).as("entropy"),
          round(col("n_types").cast("double") / col("n_tokens"), 4).as("ttr"))
        .filter(col("doc_id") % 3 === 0)
        .orderBy("doc_id")
    }),

    // --- XML interchange: serialize order rows to XML with to_xml,
    // parse them back with from_xml (schema-on-read), and extract a
    // field from a hand-built fragment via xpath — the Spark 4 XML
    // lane, all codegen'd expressions, proving lossless roundtrip
    // against the source table as oracle.
    "q_xml_funcs" -> ((s, d) => {
      val o = Tables.orders(s, d).filter(col("o_orderkey") % 11 === 0)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val xml = o.select(to_xml(struct(
        col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))).as("x"))
      val parsed = xml.select(from_xml(col("x"),
        org.apache.spark.sql.types.StructType.fromDDL(
          "o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE")).as("r"))
      parsed.select(col("r.o_orderkey").as("k"),
          col("r.o_orderstatus").as("status"),
          round(col("r.o_totalprice"), 2).as("price"),
          expr("CAST(xpath_string(concat('<o><k>', r.o_orderkey, '</k></o>'), '/o/k') AS BIGINT)").as("xpath_k"))
        .orderBy("k")
    }),

    // --- recursive CTE (Spark 4 WITH RECURSIVE): generate the monthly
    // calendar between the order stream's bounds by recursion — the
    // anchor is a 1-row aggregate, each step adds one month — then
    // left-join the per-month order counts so empty months surface as
    // zero. ~48 iterations at this date range, far under the recursion
    // cap; the heavy side (the per-month counts) is a plain hash agg,
    // the recursion only builds the bounded spine.
    "q_recursive_cte" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders_rcte")
      s.sql("""
        WITH RECURSIVE months(m, depth, mx) AS (
          SELECT date_trunc('MONTH', min(o_orderdate)), 0,
                 date_trunc('MONTH', max(o_orderdate))
          FROM orders_rcte
          UNION ALL
          SELECT m + INTERVAL '1' MONTH, depth + 1, mx FROM months WHERE m < mx
        ),
        cnt AS (
          SELECT date_trunc('MONTH', o_orderdate) AS m, count(*) AS n_orders,
                 round(sum(o_totalprice) / 1e6, 3) AS rev_m
          FROM orders_rcte GROUP BY 1
        )
        SELECT months.m, months.depth, coalesce(cnt.n_orders, 0) AS n_orders,
               coalesce(cnt.rev_m, 0.0) AS rev_m
        FROM months LEFT JOIN cnt ON months.m = cnt.m
        ORDER BY months.m
      """)
    }),

    // --- SQL session variables + IDENTIFIER clause (Spark 4 SQL
    // surface): a data-derived threshold lands in a session variable
    // (DECLARE/SET VAR), the target table name in another, and the
    // final query is parameterized through IDENTIFIER(var) — the
    // templated-SQL pattern (dbt-style) without string interpolation
    // or injection surface. The oracle inlines the threshold as a
    // scalar subquery; the variable mechanics are engine-side only.
    "q_sql_variables" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders_sqlvar")
      s.sql("DECLARE OR REPLACE VARIABLE graft_price_cut DOUBLE")
      s.sql("SET VAR graft_price_cut = (SELECT avg(o_totalprice) FROM orders_sqlvar)")
      s.sql("DECLARE OR REPLACE VARIABLE graft_tbl STRING")
      s.sql("SET VAR graft_tbl = 'orders_sqlvar'")
      s.sql("""
        SELECT o_orderstatus, count(*) AS n_above,
               round(avg(o_totalprice) - graft_price_cut, 4) AS avg_excess
        FROM IDENTIFIER(graft_tbl)
        WHERE o_totalprice > graft_price_cut
        GROUP BY 1 ORDER BY 1
      """)
    }),

    // --- SQL pipe syntax + named parameter markers (the other two
    // Spark-4 SQL-surface entries next to q_sql_variables): the query
    // is authored in |> pipeline form — each stage reads top-to-bottom
    // the way the plan executes, the ergonomics SQL pipelines adopted —
    // and the threshold arrives as a BOUND PARAMETER (:thr), the
    // injection-safe templating path for literal values (IDENTIFIER()
    // covers names). Same Catalyst plan as the classic form; the
    // oracle is that classic form with the literal inlined.
    "q_sql_pipe" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders_pipe")
      s.sql(
        """FROM orders_pipe
          ||> WHERE o_totalprice > :thr
          ||> AGGREGATE count(*) AS n,
          |     round(sum(CAST(o_totalprice AS DECIMAL(30,12))), 4) AS sum_price
          |   GROUP BY o_orderstatus
          ||> ORDER BY o_orderstatus""".stripMargin,
        Map("thr" -> 150000.0))
        .withColumn("sum_price", col("sum_price").cast("double"))
    }),

    // --- SQL-DEFINED functions (round 9): Spark 4's declarative
    // function surface — a scalar SQL UDF (CREATE TEMPORARY FUNCTION …
    // RETURN expr) and a SQL TABLE function (RETURNS TABLE … RETURN
    // SELECT) — the zero-closure way for users to extend the engine:
    // the body is Catalyst expressions/plans, so it inlines into the
    // caller's plan and stays inside whole-stage codegen (unlike a JVM
    // closure UDF, which the engine-wide PlanShapeSpec lint bans). The
    // oracle inlines the same bodies by hand.
    "q_sql_udf" -> ((s, d) => {
      val s2 = childSession(s) // temp functions are session-scoped
      Tables.orders(s2, d).createOrReplaceTempView("orders_udf")
      s2.sql("""CREATE OR REPLACE TEMPORARY FUNCTION disc_price(
               |  price DOUBLE, pri STRING) RETURNS DOUBLE
               |RETURN CASE WHEN pri = '1-URGENT' THEN price * 0.9
               |            ELSE price END""".stripMargin)
      // the table-function parameter binds in WHERE (a LIMIT must stay
      // foldable — parameter references are rejected there by design)
      s2.sql("""CREATE OR REPLACE TEMPORARY FUNCTION orders_of(
               |  pri STRING) RETURNS TABLE (o_orderkey BIGINT, dp DOUBLE)
               |RETURN SELECT o_orderkey,
               |  round(disc_price(o_totalprice, o_orderpriority), 4) AS dp
               |FROM orders_udf WHERE o_orderpriority = pri
               |ORDER BY o_orderkey LIMIT 25""".stripMargin)
      s2.sql("""SELECT o_orderkey, dp FROM orders_of('1-URGENT')
               |ORDER BY o_orderkey""".stripMargin)
    }),

    // --- SQL scripting (Spark 4 procedural surface): a BEGIN…END
    // compound with DECLAREd locals, a WHILE loop and an IF — the
    // stored-procedure-style control flow warehouse users port in. Each
    // loop iteration is a normal Catalyst query (per-year count with
    // the year predicate pushed to the scan); the script only threads
    // scalars between them, so nothing about the execution model
    // changes — control flow on the driver, set-oriented plans on the
    // cluster. Runs in an isolated session (the scripting flag and the
    // temp view stay scoped). The oracle computes the same totals
    // set-at-once; n_iters pins that the loop genuinely ran 7 times.
    "q_sql_scripting" -> ((s, d) => {
      val s2 = childSession(s)
      s2.conf.set("spark.sql.scripting.enabled", "true")
      Tables.orders(s2, d).createOrReplaceTempView("orders_script")
      s2.sql("""
        |BEGIN
        |  DECLARE grand BIGINT DEFAULT 0;
        |  DECLARE total BIGINT DEFAULT 0;
        |  DECLARE big_years INT DEFAULT 0;
        |  DECLARE yr_n BIGINT DEFAULT 0;
        |  DECLARE yr INT DEFAULT 1995;
        |  SET grand = (SELECT count(*) FROM orders_script);
        |  WHILE yr <= 2001 DO
        |    SET yr_n = (SELECT count(*) FROM orders_script
        |                WHERE year(o_orderdate) = yr);
        |    SET total = total + yr_n;
        |    IF yr_n * 10 > grand THEN
        |      SET big_years = big_years + 1;
        |    END IF;
        |    SET yr = yr + 1;
        |  END WHILE;
        |  SELECT total AS total_orders, big_years AS n_big_years,
        |         yr - 1995 AS n_iters;
        |END""".stripMargin)
    }),

    // --- custom UDAF over a window frame: the Welford/Chan typed
    // Aggregator (exact-merge variance) evaluated over a moving 10-row
    // frame, against the built-in var_samp on the same frame — the
    // surface that proves a TypedImperativeAggregate-backed UDAF is a
    // first-class window function. NaN (the Aggregator's <2-obs
    // sentinel) is mapped back to null to match var_samp.
    "q_window_udaf" -> ((s, d) => {
      val welford = udaf(new WelfordVariance)
      // l_quantity joins the window order (round 10 — the sf0.1 sweep
      // caught the non-unique (shipdate, orderkey, linenumber) class
      // permuting ROWS-frame contents between engines): rows still tied
      // after it have EQUAL quantity, so any permutation leaves every
      // frame's value multiset — and the variance — unchanged. The
      // output sort gains the variance column for the same reason.
      val w = Window.partitionBy("l_returnflag")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber", "l_quantity")
        .rowsBetween(-9, 0)
      Tables.lineitem(s, d)
        .filter(col("l_partkey") % 20 === 0)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("l_quantity"),
          welford(col("l_quantity")).over(w).as("wf_raw"),
          var_samp("l_quantity").over(w).as("vs_raw"))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          round(when(!isnan(col("wf_raw")), col("wf_raw")), 4).as("var_welford"),
          round(col("vs_raw"), 4).as("var_builtin"))
        .orderBy(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
          col("var_welford").asc_nulls_first)
    })
  )

  val oracleSql: Map[String, String] = Map(

    "q_scd2_dimension" ->
      s"""WITH $scd2VersionCtes
        |SELECT o_custkey, version::BIGINT AS version, o_orderpriority,
        |  effective_from, n_observations,
        |  lead(effective_from) OVER (PARTITION BY o_custkey ORDER BY version)
        |    AS effective_to
        |FROM versions ORDER BY o_custkey, version""".stripMargin,

    "q_scd2_lookup" ->
      s"""WITH $scd2VersionCtes,
        |probes AS (
        |  SELECT o.o_custkey, l.l_shipdate AS t,
        |    l.l_extendedprice * (1 - l.l_discount) AS rev
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |tagged AS (
        |  SELECT o_custkey, effective_from AS t, 0 AS tag, version,
        |    o_orderpriority AS prio, NULL::DOUBLE AS rev
        |  FROM versions
        |  UNION ALL
        |  SELECT o_custkey, t, 1, 9223372036854775807, NULL, rev FROM probes),
        |m AS (
        |  SELECT *, last_value(prio IGNORE NULLS) OVER (
        |    PARTITION BY o_custkey ORDER BY t, tag, version
        |    ROWS UNBOUNDED PRECEDING) AS prio_at_ship
        |  FROM tagged)
        |SELECT prio_at_ship, count(*) AS n_lineitems,
        |  round(sum(rev) / 1e6, 3) AS rev_m
        |FROM m WHERE tag = 1 GROUP BY 1
        |ORDER BY 1 ASC NULLS FIRST""".stripMargin,

    "q_zorder_layout" -> {
      val z = zkey8Sql("p8", "s8")
      s"""WITH rows_ AS (
         |  SELECT l_partkey & 255 AS p8, l_suppkey & 255 AS s8 FROM lineitem),
         |tagged AS (
         |  SELECT 'zorder' AS layout, ($z >> 12) AS bucket, p8, s8 FROM rows_
         |  UNION ALL
         |  SELECT 'linear' AS layout, (p8 >> 4) AS bucket, p8, s8 FROM rows_)
         |SELECT layout, bucket, count(*) AS n_rows,
         |  min(p8) AS min_p, max(p8) AS max_p,
         |  min(s8) AS min_s, max(s8) AS max_s,
         |  (max(p8) - min(p8) + 1) * (max(s8) - min(s8) + 1) AS bbox_area
         |FROM tagged GROUP BY 1, 2 ORDER BY layout, bucket""".stripMargin
    },

    // counts derived from the base table with the same z-key arithmetic;
    // the I/O-level flags (file preservation, dynamic-overwrite audit)
    // are guarantee booleans DuckDB can't observe → pinned
    "q_zorder_incremental" -> {
      val z = zkey8Sql("p8", "s8")
      s"""WITH rows_ AS (
         |  SELECT l_orderkey, l_partkey & 255 AS p8, l_suppkey & 255 AS s8,
         |    ($z >> 12) AS bucket
         |  FROM lineitem),
         |touched AS (SELECT DISTINCT bucket FROM rows_ WHERE p8 < 16)
         |SELECT count(*) AS n_rows_total,
         |  sum(CASE WHEN p8 < 16 THEN 1 ELSE 0 END)::BIGINT AS n_rows_delta,
         |  count(DISTINCT bucket) AS n_buckets,
         |  (SELECT count(*) FROM touched) AS n_buckets_rewritten,
         |  sum(CASE WHEN bucket IN (SELECT bucket FROM touched)
         |      THEN 1 ELSE 0 END)::BIGINT AS n_rows_rewritten,
         |  true AS rewrite_bounded, true AS untouched_preserved,
         |  true AS rows_preserved
         |FROM rows_""".stripMargin
    },

    // cached values must equal the uncached computation; the flag is the
    // in-plan InMemoryTableScan verdict
    "q_cache_table" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  round(sum(l_quantity::DECIMAL(30,12)), 4)::DOUBLE AS qty,
        |  true AS served_from_cache
        |FROM lineitem WHERE l_shipdate >= DATE '1997-01-01'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // the observed (accumulator-borne) metrics must equal DuckDB
    // recomputing them straight from the table; metrics_in_plan is the
    // CollectMetrics analyzed-plan verdict
    "q_observe_metrics" ->
      """WITH f AS (
        |  SELECT * FROM lineitem WHERE l_shipdate >= DATE '1998-01-01')
        |SELECT l_returnflag, count(*) AS n,
        |  (SELECT count(*) FROM f) AS obs_rows,
        |  (SELECT round(sum(l_quantity::DECIMAL(30,12)), 4)::DOUBLE
        |     FROM f) AS obs_qty,
        |  (SELECT min(l_shipdate::DATE) FROM f) AS obs_min_ship,
        |  (SELECT max(l_shipdate::DATE) FROM f) AS obs_max_ship,
        |  true AS metrics_in_plan
        |FROM f
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // the probed rows must equal the direct key lookup; the flags are
    // the skipping-engaged and zone-maps-provably-useless verdicts
    "q_bloom_skip_index" ->
      """SELECT o_orderkey AS probe_key, o_totalprice,
        |  8::BIGINT AS n_files_total, true AS bloom_pruned,
        |  true AS zone_maps_useless
        |FROM orders WHERE o_orderkey IN (303, 453, 603, 903, 1203)
        |ORDER BY probe_key""".stripMargin,

    // the pruned scan must equal the plain full-scan filter; `pruned`
    // is the in-plan verdict that files were actually skipped
    "q_manifest_prune" ->
      """SELECT month(o_orderdate) AS m, count(*) AS n_orders,
        |  round(sum(o_totalprice::DECIMAL(30,12)), 4)::DOUBLE AS revenue,
        |  true AS pruned
        |FROM orders
        |WHERE o_orderdate >= DATE '1999-06-01'
        |  AND o_orderdate <= DATE '1999-08-31'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // merge-on-read semantics replayed relationally; base_untouched is
    // the in-plan byte-identity verdict (guarantee-flag house pattern)
    "q_deletion_vectors" ->
      """SELECT o_orderpriority,
        |  count(*) FILTER (WHERE o_orderkey % 1000 <> 7) AS n_live,
        |  round(sum(o_totalprice::DECIMAL(30,12))
        |    FILTER (WHERE o_orderkey % 1000 <> 7), 4)::DOUBLE AS sum_price,
        |  (SELECT count(*) FROM orders WHERE o_orderkey % 1000 = 7)
        |    AS n_deleted,
        |  true AS base_untouched
        |FROM orders
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_salted_join" ->
      """WITH fact AS (
        |  SELECT CASE WHEN l_linenumber = 1 THEN 0 ELSE l_orderkey END AS k,
        |         l_quantity, l_returnflag
        |  FROM lineitem),
        |dim AS (
        |  SELECT o_orderkey AS k, o_totalprice AS price FROM orders
        |  UNION ALL SELECT 0, 100.0)
        |SELECT l_returnflag, count(*) AS n,
        |  round(sum(l_quantity * price) / 1e6, 2) AS weighted_m
        |FROM fact JOIN dim USING (k)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_dq_report" ->
      """WITH oc AS (
        |  SELECT count(*)::DOUBLE AS orders_rows,
        |    (count(*) - count(DISTINCT o_orderkey))::DOUBLE AS orders_dup_keys,
        |    avg(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END)::DOUBLE
        |      AS orders_null_priority_frac,
        |    sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END)::DOUBLE
        |      AS orders_nonpositive_price,
        |    date_diff('day', DATE '1970-01-01', max(o_orderdate)::DATE)::DOUBLE
        |      AS orders_max_date_epochday
        |  FROM orders),
        |lc AS (
        |  SELECT count(*)::DOUBLE AS lineitem_rows,
        |    sum(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END)::DOUBLE
        |      AS lineitem_qty_out_of_domain,
        |    sum(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END)::DOUBLE
        |      AS lineitem_discount_out_of_domain
        |  FROM lineitem),
        |orph AS (
        |  SELECT count(*)::DOUBLE AS lineitem_orphans FROM lineitem
        |  WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders))
        |SELECT "check", value FROM oc CROSS JOIN lc CROSS JOIN orph,
        |LATERAL (VALUES
        |  ('orders_rows', orders_rows),
        |  ('orders_dup_keys', orders_dup_keys),
        |  ('orders_null_priority_frac', orders_null_priority_frac),
        |  ('orders_nonpositive_price', orders_nonpositive_price),
        |  ('orders_max_date_epochday', orders_max_date_epochday),
        |  ('lineitem_rows', lineitem_rows),
        |  ('lineitem_qty_out_of_domain', lineitem_qty_out_of_domain),
        |  ('lineitem_discount_out_of_domain', lineitem_discount_out_of_domain),
        |  ('lineitem_orphans', lineitem_orphans)) AS t("check", value)
        |ORDER BY "check"""".stripMargin,

    // same planted violators; json validity via json_valid (the Spark
    // side uses from_json null-on-invalid — equivalent on this domain)
    "q_quarantine_split" ->
      """WITH ev AS (
        |  SELECT ts, event_type, value, props FROM events
        |  UNION ALL
        |  SELECT * FROM (VALUES
        |    (TIMESTAMP '2024-01-15 00:00:00', 'click', -5.0, '{"k": 1}'),
        |    (TIMESTAMP '2024-01-15 00:00:00', 'hover', 1.0, '{"k": 1}'),
        |    (TIMESTAMP '1970-01-01 00:00:00', 'click', 1.0, '{"k": 1}'),
        |    (TIMESTAMP '2024-01-15 00:00:00', 'click', 1.0, 'notjson'),
        |    (TIMESTAMP '2024-01-15 00:00:00', 'click', 1.0, '{"k": 1}'))
        |    AS t(ts, event_type, value, props)),
        |flags AS (
        |  SELECT
        |    (value IS NULL OR value < 0) AS bad_value,
        |    event_type NOT IN ('click', 'view', 'purchase', 'signup',
        |      'error') AS bad_type,
        |    (year(ts) < 2020 OR year(ts) > 2030) AS bad_ts,
        |    NOT json_valid(props) AS bad_json
        |  FROM ev)
        |SELECT count(*) AS n_total,
        |  sum(CASE WHEN NOT bad_value AND NOT bad_type AND NOT bad_ts
        |        AND NOT bad_json THEN 1 ELSE 0 END)::BIGINT AS n_valid,
        |  sum(CASE WHEN bad_value OR bad_type OR bad_ts OR bad_json
        |        THEN 1 ELSE 0 END)::BIGINT AS n_quarantined,
        |  sum(CASE WHEN bad_value THEN 1 ELSE 0 END)::BIGINT AS v_value,
        |  sum(CASE WHEN bad_type THEN 1 ELSE 0 END)::BIGINT AS v_type,
        |  sum(CASE WHEN bad_ts THEN 1 ELSE 0 END)::BIGINT AS v_ts,
        |  sum(CASE WHEN bad_json THEN 1 ELSE 0 END)::BIGINT AS v_json
        |FROM flags""".stripMargin,

    "q_winsorize" ->
      """WITH pct AS (
        |  SELECT l_returnflag,
        |    quantile_cont(l_extendedprice, 0.05) AS p05,
        |    quantile_cont(l_extendedprice, 0.95) AS p95
        |  FROM lineitem GROUP BY 1)
        |SELECT l.l_returnflag, count(*) AS n,
        |  sum(CASE WHEN l_extendedprice < p05 THEN 1 ELSE 0 END)::BIGINT
        |    AS n_lo,
        |  sum(CASE WHEN l_extendedprice > p95 THEN 1 ELSE 0 END)::BIGINT
        |    AS n_hi,
        |  round(sum(l_extendedprice::DECIMAL(30,12)), 4)::DOUBLE AS sum_raw,
        |  round(sum(greatest(p05, least(p95, l_extendedprice))
        |    ::DECIMAL(30,12)), 4)::DOUBLE AS sum_winsorized,
        |  round(min(p05), 4) AS p05, round(min(p95), 4) AS p95
        |FROM lineitem l JOIN pct USING (l_returnflag)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // the oracle re-walks the xy2d flip-swap recurrence as a recursive
    // CTE carrying (x, y, d, s) through 8 halvings — two's-complement
    // BIGINT arithmetic identical to the codegen'd expression
    "q_hilbert_layout" ->
      """WITH RECURSIVE pts AS (
        |  SELECT (l_partkey & 255)::BIGINT AS p8,
        |    (l_suppkey & 255)::BIGINT AS s8, count(*)::BIGINT AS cnt
        |  FROM lineitem GROUP BY 1, 2),
        |h AS (
        |  SELECT p8, s8, cnt, p8 AS x, s8 AS y, 0::BIGINT AS d,
        |    128::BIGINT AS s
        |  FROM pts
        |  UNION ALL
        |  SELECT p8, s8, cnt,
        |    CASE WHEN (y & s) = 0 THEN
        |      CASE WHEN (x & s) > 0 THEN s - 1 - y ELSE y END
        |    ELSE x END,
        |    CASE WHEN (y & s) = 0 THEN
        |      CASE WHEN (x & s) > 0 THEN s - 1 - x ELSE x END
        |    ELSE y END,
        |    d + s * s * xor(CASE WHEN (x & s) > 0 THEN 3 ELSE 0 END,
        |                    CASE WHEN (y & s) > 0 THEN 1 ELSE 0 END),
        |    s // 2
        |  FROM h WHERE s > 0)
        |SELECT d >> 12 AS bucket, sum(cnt)::BIGINT AS n_rows,
        |  min(p8) AS min_p, max(p8) AS max_p,
        |  min(s8) AS min_s, max(s8) AS max_s,
        |  (max(p8) - min(p8) + 1) * (max(s8) - min(s8) + 1) AS bbox_area
        |FROM h WHERE s = 0
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // CBO reorder is semantics-preserving: the result is the plain
    // 3-table join either way; the reorder itself is pinned as a flag
    // (plan shapes aren't SQL) and differentially in CboReorderSpec
    "q_cbo_reorder" ->
      """SELECT c_mktsegment, count(*) AS n_rows,
        |  round(sum((l_extendedprice * (1.0 - l_discount))::DECIMAL(30,12)),
        |    4)::DOUBLE AS revenue,
        |  true AS cbo_reordered
        |FROM lineitem, orders, customer
        |WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
        |  AND c_mktsegment = 'BUILDING'
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q_analyze_stats" ->
      """WITH w AS (
        |  SELECT count(*)::DOUBLE AS n_rows,
        |    count(DISTINCT o_orderkey)::DOUBLE AS orderkey_ndv,
        |    count(DISTINCT o_custkey)::DOUBLE AS custkey_ndv,
        |    count(DISTINCT o_orderstatus)::DOUBLE AS status_ndv,
        |    count(DISTINCT o_orderpriority)::DOUBLE AS priority_ndv,
        |    sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)::DOUBLE
        |      AS custkey_nulls,
        |    round(min(o_totalprice), 4) AS totalprice_min,
        |    round(max(o_totalprice), 4) AS totalprice_max,
        |    date_diff('day', DATE '1970-01-01', min(o_orderdate)::DATE)::DOUBLE
        |      AS orderdate_min_epochday,
        |    date_diff('day', DATE '1970-01-01', max(o_orderdate)::DATE)::DOUBLE
        |      AS orderdate_max_epochday,
        |    min(length(o_orderpriority))::DOUBLE AS priority_len_min,
        |    max(length(o_orderpriority))::DOUBLE AS priority_len_max
        |  FROM orders)
        |SELECT stat, value FROM w,
        |LATERAL (VALUES
        |  ('n_rows', n_rows),
        |  ('orderkey_ndv', orderkey_ndv),
        |  ('custkey_ndv', custkey_ndv),
        |  ('status_ndv', status_ndv),
        |  ('priority_ndv', priority_ndv),
        |  ('custkey_nulls', custkey_nulls),
        |  ('totalprice_min', totalprice_min),
        |  ('totalprice_max', totalprice_max),
        |  ('orderdate_min_epochday', orderdate_min_epochday),
        |  ('orderdate_max_epochday', orderdate_max_epochday),
        |  ('priority_len_min', priority_len_min),
        |  ('priority_len_max', priority_len_max)) AS t(stat, value)
        |ORDER BY stat""".stripMargin,

    "q_skew_diagnostics" ->
      """WITH counts AS (
        |  SELECT CASE WHEN l_linenumber = 1 THEN 0 ELSE l_orderkey END AS k,
        |    count(*) AS c
        |  FROM lineitem GROUP BY 1),
        |t10 AS (
        |  SELECT sum(c) AS top10, max(c) AS top1
        |  FROM (SELECT c FROM counts ORDER BY c DESC, k LIMIT 10)),
        |st AS (
        |  SELECT sum(c) AS n_rows, count(*) AS n_keys,
        |    quantile_cont(c, 0.99) AS p99, quantile_cont(c, 0.5) AS p50
        |  FROM counts)
        |SELECT n_rows::BIGINT AS n_rows, n_keys,
        |  round(top1 / n_rows, 6) AS top1_share,
        |  round(top10 / n_rows, 6) AS top10_share,
        |  round(p99 / p50, 4) AS p99_over_median
        |FROM st CROSS JOIN t10""".stripMargin,

    "q_interval_overlap" ->
      """WITH campaigns AS (
        |  SELECT p_partkey AS campaign_id,
        |    788918400 + (p_partkey % 700) * 86400 AS c_start,
        |    788918400 + (p_partkey % 700) * 86400 + 14 * 86400 AS c_end
        |  FROM part WHERE p_partkey % 5 = 0),
        |ords AS (
        |  SELECT o_orderkey, epoch(o_orderdate)::BIGINT AS o_start,
        |    epoch(o_orderdate)::BIGINT + 10 * 86400 AS o_end
        |  FROM orders)
        |SELECT campaign_id, count(*) AS n_overlapping_orders
        |FROM campaigns JOIN ords
        |  ON o_start < c_end AND c_start < o_end
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_drift_psi" ->
      """WITH ev AS (
        |  SELECT event_type, epoch_us(ts) AS us FROM events),
        |b AS (SELECT min(us) AS mn, max(us) AS mx FROM ev),
        |halves AS (
        |  SELECT event_type,
        |    sum(CASE WHEN us * 2 < mn + mx THEN 1 ELSE 0 END) AS n_a,
        |    sum(CASE WHEN us * 2 < mn + mx THEN 0 ELSE 1 END) AS n_b
        |  FROM ev CROSS JOIN b GROUP BY 1),
        |tot AS (SELECT sum(n_a) AS t_a, sum(n_b) AS t_b FROM halves)
        |SELECT event_type, n_a::BIGINT AS n_a, n_b::BIGINT AS n_b,
        |  CASE WHEN n_a > 0 AND n_b > 0 THEN
        |    round((n_a / t_a - n_b / t_b) * ln((n_a / t_a) / (n_b / t_b)), 6)
        |  END AS psi
        |FROM halves CROSS JOIN tot ORDER BY event_type""".stripMargin,

    "q_feature_scale" ->
      """WITH stats AS (
        |  SELECT c_mktsegment, avg(c_acctbal) AS mu, stddev_samp(c_acctbal) AS sd,
        |    min(c_acctbal) AS mn, max(c_acctbal) AS mx,
        |    quantile_cont(c_acctbal, 0.5) AS med,
        |    quantile_cont(c_acctbal, 0.25) AS p25,
        |    quantile_cont(c_acctbal, 0.75) AS p75
        |  FROM customer GROUP BY 1)
        |SELECT c_custkey, c_mktsegment,
        |  round((c_acctbal - mu) / sd, 4) AS zscore,
        |  round((c_acctbal - mn) / (mx - mn), 4) AS minmax,
        |  round((c_acctbal - med) / (p75 - p25), 4) AS robust
        |FROM customer JOIN stats USING (c_mktsegment)
        |WHERE c_custkey % 7 = 0
        |ORDER BY c_custkey""".stripMargin,

    "q_entropy_quality" ->
      """WITH toks AS (
        |  SELECT doc_id, lang,
        |    unnest(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS tok
        |  FROM documents),
        |hist AS (
        |  SELECT doc_id, lang, tok, count(*) AS c FROM toks GROUP BY 1, 2, 3),
        |per_doc AS (
        |  SELECT doc_id, lang, sum(c) AS n_tokens, count(*) AS n_types,
        |    sum(c * ln(c)) AS clogc
        |  FROM hist GROUP BY 1, 2)
        |SELECT doc_id, lang, n_tokens::BIGINT AS n_tokens,
        |  n_types::BIGINT AS n_types,
        |  round(ln(n_tokens) - clogc / n_tokens, 4) AS entropy,
        |  round(n_types::DOUBLE / n_tokens, 4) AS ttr
        |FROM per_doc WHERE doc_id % 3 = 0 ORDER BY doc_id""".stripMargin,

    "q_xml_funcs" ->
      """SELECT o_orderkey AS k, o_orderstatus AS status,
        |  round(o_totalprice, 2) AS price, o_orderkey AS xpath_k
        |FROM orders WHERE o_orderkey % 11 = 0 ORDER BY k""".stripMargin,

    "q_histogram" ->
      """WITH b AS (SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi
        |           FROM orders)
        |SELECT least(19, floor((o_totalprice - lo) / ((hi - lo) / 20.0)))::INT
        |    AS bucket,
        |  count(*) AS n,
        |  round(min(o_totalprice), 4) AS lo_v,
        |  round(max(o_totalprice), 4) AS hi_v
        |FROM orders, b GROUP BY 1 ORDER BY 1""".stripMargin,

    // the SQL UDF bodies inlined by hand
    "q_sql_udf" ->
      """SELECT o_orderkey,
        |  round(o_totalprice * 0.9, 4) AS dp
        |FROM orders WHERE o_orderpriority = '1-URGENT'
        |ORDER BY o_orderkey LIMIT 25""".stripMargin,

    "q_sql_pipe" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  round(sum(o_totalprice::DECIMAL(30,12)), 4)::DOUBLE AS sum_price
        |FROM orders WHERE o_totalprice > 150000.0
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // the script's loop-accumulated totals computed set-at-once
    "q_sql_scripting" ->
      """WITH yearly AS (
        |  SELECT year(o_orderdate) AS yr, count(*) AS n
        |  FROM orders
        |  WHERE year(o_orderdate) BETWEEN 1995 AND 2001
        |  GROUP BY 1)
        |SELECT (SELECT sum(n) FROM yearly)::BIGINT AS total_orders,
        |  (SELECT count(*) FROM yearly
        |   WHERE n * 10 > (SELECT count(*) FROM orders))::INT
        |    AS n_big_years,
        |  7 AS n_iters""".stripMargin,

    "q_sql_variables" ->
      """WITH cut AS (SELECT avg(o_totalprice) AS c FROM orders)
        |SELECT o_orderstatus, count(*) AS n_above,
        |  round(avg(o_totalprice) - c, 4) AS avg_excess
        |FROM orders, cut
        |WHERE o_totalprice > c
        |GROUP BY o_orderstatus, c ORDER BY o_orderstatus""".stripMargin,

    "q_recursive_cte" ->
      """WITH RECURSIVE months(m, depth) AS (
        |  SELECT date_trunc('month', min(o_orderdate)), 0 FROM orders
        |  UNION ALL
        |  SELECT m + INTERVAL 1 MONTH, depth + 1 FROM months
        |  WHERE m < (SELECT date_trunc('month', max(o_orderdate)) FROM orders)
        |),
        |cnt AS (
        |  SELECT date_trunc('month', o_orderdate) AS m, count(*) AS n_orders,
        |    round(sum(o_totalprice) / 1e6, 3) AS rev_m
        |  FROM orders GROUP BY 1)
        |SELECT months.m, months.depth,
        |  coalesce(cnt.n_orders, 0) AS n_orders,
        |  coalesce(cnt.rev_m, 0.0) AS rev_m
        |FROM months LEFT JOIN cnt ON months.m = cnt.m
        |ORDER BY months.m""".stripMargin,

    "q_window_udaf" ->
      """SELECT l_orderkey, l_linenumber, l_returnflag,
        |  round(var_samp(l_quantity) OVER w, 4) AS var_welford,
        |  round(var_samp(l_quantity) OVER w, 4) AS var_builtin
        |FROM lineitem WHERE l_partkey % 20 = 0
        |WINDOW w AS (PARTITION BY l_returnflag
        |  ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity
        |  ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
        |ORDER BY l_returnflag, l_orderkey, l_linenumber,
        |  var_welford ASC NULLS FIRST""".stripMargin
  )
}
