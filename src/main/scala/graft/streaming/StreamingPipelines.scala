package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode,
  StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.functions._

/**
 * Structured-Streaming rebuild of the reference's DStream surface
 * (SURVEY.md §2h/§3.1): file-replayed event stream → windowed/stateful
 * transforms → sink. `Trigger.AvailableNow` + memory sink make each
 * pipeline synchronously testable against its batch twin; swapping the
 * source for a live one (socket/rate/kafka-on-a-real-cluster) changes
 * nothing downstream — that is the point of the declarative model.
 */
/** Per-user CMS state sizing, shared by the mapGroupsWithState and
  * transformWithState pipelines (they must match — StreamingSpec proves
  * the two stores byte-equivalent). ε = 0.05 / conf = 0.999 → width
  * ⌈e/ε⌉ = 55, depth ⌈ln 1000⌉ = 7 ≈ 3.2 KB/user — sized for the
  * per-user EVENT-TYPE keyspace (5 values), not a global corpus: a
  * full-depth "click" collision needs all 7 rows hit, (4/55)^7 ≈ 1e-8,
  * and under the pinned seed the collision pattern is deterministic
  * and IDENTICAL for every user (hashes ignore the key), so the
  * exact-count oracle would fail loudly for all users, not flake for
  * one. Round 10 re-sizing (VERDICT r9 #7): the previous ε = 0.001
  * (width 2719, ~160 KB/user) made the memory-backed store OOM at the
  * 100× state load (200k keys ≈ 32 GB); at 3.2 KB/user the same load
  * is ~640 MB and the memory store completes — while remaining a
  * 50× over-provision for a 5-value keyspace. */
object CmsStateSizing {
  import org.apache.spark.util.sketch.CountMinSketch

  import graft.sketches.Cms

  val Eps = 0.05
  val Conf = 0.999
  val Seed = 42

  /** One user's state step, shared by both pipelines: fold a batch's
    * event types into the serialized CMS (a fresh one when `prior` is
    * empty) and return the new bytes with the click estimate. */
  def fold(prior: Option[Array[Byte]], eventTypes: Iterator[String]): (Array[Byte], Long) = {
    val cms = prior.map(Cms.read).getOrElse(CountMinSketch.create(Eps, Conf, Seed))
    eventTypes.foreach(cms.addString)
    (Cms.write(cms), cms.estimateCount("click"))
  }
}

/** StatefulProcessor keeping one serialized CMS per user key: the
  * reference's `updateStateByKey` sketch loop on the transformWithState
  * API. State is bytes (not the sketch object) so the RocksDB store can
  * snapshot it without custom serde. */
class CmsStatefulProcessor(
    ttl: org.apache.spark.sql.streaming.TTLConfig =
      org.apache.spark.sql.streaming.TTLConfig.NONE)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, String), (Long, Long)] {
  import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode, TimerValues, ValueState}

  @transient private var cmsBytes: ValueState[Array[Byte]] = _

  override def init(outputMode: OM, timeMode: TimeMode): Unit =
    cmsBytes = getHandle.getValueState[Array[Byte]](
      "cms", org.apache.spark.sql.Encoders.BINARY, ttl)

  override def handleInputRows(key: Long, rows: Iterator[(Long, String)],
      timers: TimerValues): Iterator[(Long, Long)] = {
    val (bytes, est) = CmsStateSizing.fold(
      if (cmsBytes.exists()) Some(cmsBytes.get()) else None, rows.map(_._2))
    cmsBytes.update(bytes)
    Iterator.single((key, est))
  }
}

/** Timer-driven DIY session windows on `transformWithState`
  * (TimeMode.EventTime): per user, count events and track the max event
  * time; gaps INSIDE a batch close sessions immediately, and the last
  * open session closes when the event-time watermark passes
  * last_event + gap — via a registered timer and [[handleExpiredTimer]].
  * This is the hand-rolled twin of `session_window` (and the pattern for
  * session semantics the built-in can't express: per-key emission
  * side-effects, session caps, custom merge rules). Emits
  * (user_id, n_events, last_ts_ms) per CLOSED session. */
class SessionTimerProcessor(gapMs: Long)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, Long), (Long, Long, Long)] {
  import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode => OM, TimeMode, TimerValues, TTLConfig, ValueState}

  @transient private var nEvents: ValueState[Long] = _
  @transient private var lastTs: ValueState[Long] = _

  override def init(outputMode: OM, timeMode: TimeMode): Unit = {
    nEvents = getHandle.getValueState[Long](
      "n", org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    lastTs = getHandle.getValueState[Long](
      "ts", org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
  }

  override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
      timers: TimerValues): Iterator[(Long, Long, Long)] = {
    var n = if (nEvents.exists()) nEvents.get() else 0L
    var mx = if (lastTs.exists()) lastTs.get() else Long.MinValue
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    // rows of one batch arrive unordered; session splitting needs order
    rows.toArray.sortBy(_._2).foreach { case (_, ts) =>
      if (mx != Long.MinValue && ts - mx >= gapMs) {
        out += ((key, n, mx)); n = 0L
      }
      n += 1
      mx = math.max(mx, ts)
    }
    nEvents.update(n)
    lastTs.update(mx)
    // single live timer per key at the open session's close time
    getHandle.listTimers().foreach(t =>
      getHandle.deleteTimer(t.asInstanceOf[Long]))
    getHandle.registerTimer(mx + gapMs)
    out.iterator
  }

  override def handleExpiredTimer(key: Long, timers: TimerValues,
      info: ExpiredTimerInfo): Iterator[(Long, Long, Long)] = {
    val n = if (nEvents.exists()) nEvents.get() else 0L
    val mx = if (lastTs.exists()) lastTs.get() else Long.MinValue
    nEvents.clear(); lastTs.clear()
    if (n > 0) Iterator.single((key, n, mx)) else Iterator.empty
  }
}

/** Keyed near-dup gate state: per MinHash-signature key, the minimum
  * doc_id seen so far (the canonical keeper) and the running copy
  * count — both order-independent, so emissions are deterministic
  * whatever the batch split. State is two longs per DISTINCT signature:
  * bounded by content diversity, not stream length. */
class SigDedupProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, Long), (Long, Long, Long)] {
  import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode, TimerValues, TTLConfig, ValueState}

  @transient private var minId: ValueState[Long] = _
  @transient private var nSeen: ValueState[Long] = _

  override def init(outputMode: OM, timeMode: TimeMode): Unit = {
    minId = getHandle.getValueState[Long](
      "minId", org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    nSeen = getHandle.getValueState[Long](
      "n", org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
  }

  override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
      timers: TimerValues): Iterator[(Long, Long, Long)] = {
    var m = if (minId.exists()) minId.get() else Long.MaxValue
    var c = if (nSeen.exists()) nSeen.get() else 0L
    rows.foreach { case (_, id) => m = math.min(m, id); c += 1 }
    minId.update(m); nSeen.update(c)
    Iterator.single((key, m, c))
  }
}

object StreamingPipelines {

  /** events schema with `ts` in whatever shape the parquet files read as
    * (nanos-long / TIMESTAMP_NTZ / TIMESTAMP — see [[graft.Tables.decodeTs]]). */
  private def rawSchema(tsType: DataType) = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", tsType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** File-replayed event stream with proper TimestampType `ts`.
    *
    * Unit-aware: the parquet time unit is detected once per directory from
    * the batch table's footer (driver-side, cached) and the declared stream
    * schema + decode follow it, sharing [[graft.Tables.decodeTs]] with the
    * batch loader so the two paths cannot diverge. A one-off range
    * assertion makes a future unit change fail loudly at pipeline build
    * time instead of silently collapsing every event-time window. */
  def eventStream(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val tsType = graft.Tables.eventsTsReadType(spark, sfDir)
    graft.Tables.assertSaneEventTs(spark, sfDir)
    // glob (not a bare file path): the file source requires basePath to
    // be a directory; the glob keeps basePath = sfDir
    spark.readStream.schema(rawSchema(tsType))
      .parquet(s"$sfDir/events*.parquet")
      .withColumn("ts", graft.Tables.decodeTs(col("ts"), tsType))
  }

  /** Spark's codegen cache is keyed on (context classloader, code). With
    * artifact isolation on, a session's tasks run in a per-session-UUID
    * executor classloader, so every fresh session (each stream's clone,
    * each child session) recompiled every generated class it touched.
    * The engine adds no session artifacts, so isolation protects nothing
    * here; off, tasks share the executor's default session and each
    * class compiles once per JVM. Fixed at a session's first query. */
  private val ArtifactIsolation = "spark.sql.artifact.isolation.enabled"

  /** A child session of `parent` (shared SparkContext and cache, its own
    * SQL conf, temp views and functions) for builders that scope confs by
    * construction, minted without artifact isolation. Runtime `conf.set`
    * values do not propagate to a child; `carry` names the ones to copy.
    * Every child session comes from here (SessionGuardSpec). */
  def childSession(parent: SparkSession, carry: String*): SparkSession = {
    val child = parent.newSession()
    child.conf.set(ArtifactIsolation, "false")
    carry.foreach(k => parent.conf.getOption(k).foreach(child.conf.set(k, _)))
    child
  }

  /** Settings of the transformWithState pipelines: the RocksDB state store
    * (the HDFS default rejects multi-column-family state) with changelog
    * checkpointing, which commits per-batch deltas, not full snapshots. */
  private val RocksDbState = Seq(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true")

  /** Serializes the conf window of [[runStream]] across the JVM. */
  private val StartLock = new Object

  /** Start a streaming query and run it to termination; every pipeline
    * starts here (SessionGuardSpec), and this is the one place its
    * settings are scoped. `start()` runs the query in a clone of the
    * session (the StreamExecution constructor calls `cloneSession()`),
    * so the settings are set only across `start()`, under a JVM-wide
    * lock, and then each key gets back its prior explicit value or is
    * unset: pipelines started concurrently on one session never see each
    * other's settings. The stream's clone keeps:
    *  - artifact isolation off ([[ArtifactIsolation]]);
    *  - 4 shuffle (= state) partitions. A stateful operator materializes
    *    one state store per shuffle partition per run: 3.09 s at 32
    *    partitions vs 1.69 s at 4 on the identical 3-batch stateful
    *    stream. The count is pinned into the checkpoint at the first
    *    batch; results are partition-count-independent. foreachBatch
    *    bodies read through `batch.sparkSession`, the clone;
    *  - the local FileContext [[graft.io.NioLocalFs]]. The clone's Hadoop
    *    conf copies its SQL settings, so the offset and commit logs and
    *    the state stores (driver and tasks) write their checkpoint files
    *    without a `readlink`/`chmod` process launch per file;
    *  - the pipeline's own `confs` (e.g. [[RocksDbState]]). */
  private def runStream(spark: SparkSession, confs: (String, String)*)(
      writer: DataStreamWriter[_]): StreamingQuery = {
    val scoped = Seq("spark.sql.shuffle.partitions" -> "4", ArtifactIsolation -> "false",
      "fs.AbstractFileSystem.file.impl" -> classOf[graft.io.NioLocalFs].getName) ++ confs
    val q = StartLock.synchronized {
      // getAll holds explicit values only (get would return defaults)
      val prior = spark.conf.getAll
      try {
        scoped.foreach { case (k, v) => spark.conf.set(k, v) }
        writer.start()
      } finally scoped.foreach { case (k, _) =>
        prior.get(k) match {
          case Some(v) => spark.conf.set(k, v)
          case None => spark.conf.unset(k)
        }
      }
    }
    q.awaitTermination()
    q
  }

  /** Run a streaming DF to completion into a memory sink, return the table.
    *
    * Under TimeMode.ProcessingTime (state TTL / proc-time timers) the
    * engine never goes idle — a timer-driven batch is always pending, so
    * an AvailableNow run never reaches its end marker and
    * processAllAvailable never returns (both verified hanging). The one
    * trigger that provably terminates there is Trigger.Once: ALL
    * available data in one batch, then stop (`singleBatch`). */
  def runToMemory(spark: SparkSession, df: DataFrame, name: String,
      mode: OutputMode, singleBatch: Boolean = false,
      confs: Seq[(String, String)] = Nil): DataFrame = {
    runStream(spark, confs: _*)(df.writeStream.outputMode(mode)
      .format("memory").queryName(name)
      .trigger(if (singleBatch) Trigger.Once() else Trigger.AvailableNow()))
    spark.table(name)
  }

  /** The document replay batches' schema. */
  private val DocSchema = "doc_id LONG, text STRING"

  /** Replay of single-file parquet batches (written by [[writeSplitFiles]]),
    * one file per micro-batch; `schema` is a DDL string. */
  private def replay(spark: SparkSession, schema: String, glob: String): DataFrame =
    spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(glob)

  /** Tumbling 1-day window counts per event type (DStream
    * `reduceByKeyAndWindow(w, w)` twin). */
  def tumblingCounts(spark: SparkSession, sfDir: String): DataFrame = {
    val agg = eventStream(spark, sfDir)
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
    runToMemory(spark, agg, "stream_tumbling", OutputMode.Complete())
      .select(col("window.start").cast("date").as("day"), col("event_type"), col("cnt"))
      .orderBy("day", "event_type")
  }

  /** Sliding 2-day window advancing 1 day (DStream sliding twin). */
  def slidingCounts(spark: SparkSession, sfDir: String): DataFrame = {
    val agg = eventStream(spark, sfDir)
      .groupBy(window(col("ts"), "2 days", "1 day"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
    runToMemory(spark, agg, "stream_sliding", OutputMode.Complete())
      .select(col("window.start").cast("date").as("win_start"),
        col("event_type"), col("cnt"))
      .orderBy("win_start", "event_type")
  }

  /** Session windows (6h gap) per user — no DStream equivalent; part of
    * the engine's wider streaming surface.
    *
    * Append mode emits only CLOSED sessions (watermark past window end),
    * so the tail of the stream — sessions still open when the data runs
    * out — never reaches the sink. To make the result deterministic and
    * batch-comparable, the post-stream aggregation keeps only sessions
    * whose end is ≥ 1h INSIDE the final watermark (end ≤ max_ts − 2h with
    * a 1h watermark delay): every such session is provably emitted, and
    * the boundary strictness of the emission check never matters. The
    * DuckDB oracle is the gaps-and-islands twin with the same cutoff
    * (last event ≤ max_ts − 8h = cutoff − 6h gap). */
  def sessionCounts(spark: SparkSession, sfDir: String): DataFrame = {
    val agg = eventStream(spark, sfDir)
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "6 hours"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
    val cutoff = graft.Tables.events(spark, sfDir)
      .agg((max(col("ts")) - expr("INTERVAL 2 HOURS")).as("cut"))
    runToMemory(spark, agg, "stream_session", OutputMode.Append())
      .crossJoin(broadcast(cutoff))
      .filter(col("session_window.end") <= col("cut"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"), sum("n_events").as("n_events"))
      .orderBy("user_id")
  }

  /** Streaming exact dedup on (user_id, event_type) — emits first
    * occurrence of each pair; downstream batch agg counts per type. */
  def streamDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val deduped = eventStream(spark, sfDir)
      .select("user_id", "event_type")
      .dropDuplicates("user_id", "event_type")
    runToMemory(spark, deduped, "stream_dedup", OutputMode.Append())
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_users"))
      .orderBy("event_type")
  }

  /** Streaming dedup with WATERMARK-BOUNDED state —
    * dropDuplicatesWithinWatermark on (user_id, event_type, day). Plain
    * dropDuplicates ([[streamDedup]]) keeps every key seen FOREVER: at
    * 100 TB/day of events its state store grows without bound and the
    * pipeline eventually dies on state size. The within-watermark
    * variant expires a key's state once the event-time watermark passes
    * it — state is bounded by keys-per-delay-window, the only shape
    * that survives unbounded key domains — at the documented cost that
    * a duplicate arriving ≥ delay after its first copy re-emits. The
    * contract stays deterministic because every copy of a
    * (user, type, day) key lies within one day while the delay is 3
    * days, so no live key can expire before its last copy arrives and
    * the emitted set equals exact first-occurrence dedup; the
    * eviction-then-re-emission behavior itself is pinned by
    * WatermarkSpec on a crafted two-batch stream. */
  def streamDedupWithinWatermark(spark: SparkSession, sfDir: String): DataFrame = {
    val deduped = eventStream(spark, sfDir)
      .withColumn("day", to_date(col("ts")))
      .withWatermark("ts", "3 days")
      .dropDuplicatesWithinWatermark("user_id", "event_type", "day")
    runToMemory(spark, deduped, "stream_dedup_wm", OutputMode.Append())
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_keys"))
      .orderBy("event_type")
  }

  /** CHAINED stateful operators in one streaming query: dedup (state
    * #1) feeding a watermarked tumbling-window count (state #2) — the
    * canonical ingest shape "exactly-once events → daily uniques"
    * expressed as ONE pipeline instead of dedup-to-storage + a second
    * job. Multi-stateful chaining needs the engine to propagate the
    * watermark THROUGH the first operator so the second's windows still
    * close (late-arrival bounds compose); one checkpoint covers both
    * state stores, so recovery is atomic across the chain. Append mode
    * emits only watermark-closed windows — the tail day is withheld, so
    * the post-stream filter keeps windows provably emitted (end ≤
    * max_ts − 1h delay), the same determinism technique as
    * [[sessionCounts]]. The dedup key includes the day, so whichever
    * physical row survives dedup lands in the same window — the count
    * per (day, type) is batch-exact regardless of arrival order. */
  def streamChained(spark: SparkSession, sfDir: String): DataFrame = {
    val agg = eventStream(spark, sfDir)
      .withColumn("day", to_date(col("ts")))
      .withWatermark("ts", "1 hour")
      .dropDuplicates("user_id", "event_type", "day")
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n_uniques"))
    val cutoff = graft.Tables.events(spark, sfDir)
      .agg((max(col("ts")) - expr("INTERVAL 1 HOUR")).as("cut"))
    runToMemory(spark, agg, "stream_chained", OutputMode.Append())
      .crossJoin(broadcast(cutoff))
      .filter(col("window.end") <= col("cut"))
      .select(col("window.start").cast("date").as("day"),
        col("event_type"), col("n_uniques"))
      .orderBy("day", "event_type")
  }

  /** Stream filtered by a Bloom filter built from a static table — the
    * reference's signature stream-membership pipeline (stream-static
    * semi-join, approximated sketch-side then made exact). */
  def bloomFilteredStream(spark: SparkSession, sfDir: String): DataFrame = {
    val static = graft.Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
    val sketchRow = static.agg(bloom_agg(col("user_id"), 100000L, 0.01).as("bf"))
      .head()
    val bf = lit(sketchRow.getAs[Array[Byte]]("bf"))
    val filtered = eventStream(spark, sfDir)
      .filter(col("event_type") === "click")
      .filter(bloom_might_contain(bf, col("user_id")))
      .groupBy("user_id").agg(count(lit(1)).as("n_clicks"))
    // exact-verify join (the two-phase sketch pattern of
    // q_bloom_semi_filter): the in-stream Bloom pass keeps every true
    // member — no false negatives — and the ≤fpp false positives are
    // removed by one equi-join against the exact member set, making the
    // output deterministic and plain-SQL-checkable: click counts of
    // users who purchased.
    val members = static.select(col("user_id")).distinct()
    runToMemory(spark, filtered, "stream_bloom", OutputMode.Complete())
      .join(members, "user_id")
      .orderBy("user_id")
  }

  /** Stream-static equi-join (SURVEY.md §2e ●): the event stream enriched
    * against a broadcast dimension — the exact-join form of the
    * membership semantics the Bloom stream approximates. */
  def streamStaticJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = graft.Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_mktsegment"))
    val joined = eventStream(spark, sfDir)
      .join(broadcast(cust), col("user_id") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_events"))
    runToMemory(spark, joined, "stream_static_join", OutputMode.Complete())
      .orderBy("c_mktsegment")
  }

  /** Stream-STREAM inner join (SURVEY.md §2e/§2h): clicks joined to the
    * same user's purchases within [click, click + 2h] — the attribution
    * join. Both sides are watermarked and the join condition carries the
    * event-time range, so Spark derives state-expiry bounds for BOTH
    * state stores (clicks older than watermark − 2h and purchases older
    * than the watermark are dropped) — the property that keeps join
    * state finite on an unbounded 100 TB stream. An inner join emits
    * each match in the batch where both sides are present, so the
    * replayed-file result equals the batch join — which is the DuckDB
    * oracle (both engines read the same ns parquet truncated to µs). */
  def streamStreamJoin(spark: SparkSession, sfDir: String): DataFrame =
    runToMemory(spark, clickPurchaseJoin(spark, sfDir, "inner"), "stream_stream_join",
      OutputMode.Append())
      .groupBy(col("c_user").as("user_id"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("user_id")

  /** Clicks (`c_user`, `c_ts`) joined to the same user's purchases
    * (`p_user`, `p_ts`) within [click, click + 2h], both sides
    * watermarked 1h: the attribution join of [[streamStreamJoin]] and
    * [[streamOuterJoin]]. */
  private def clickPurchaseJoin(spark: SparkSession, sfDir: String,
      joinType: String): DataFrame = {
    def side(eventType: String, p: String) = eventStream(spark, sfDir)
      .filter(col("event_type") === eventType)
      .select(col("user_id").as(s"${p}_user"), col("ts").as(s"${p}_ts"))
      .withWatermark(s"${p}_ts", "1 hour")
    side("click", "c").join(side("purchase", "p"),
      col("c_user") === col("p_user") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr("INTERVAL 2 HOURS"),
      joinType)
  }

  /** LEFT-OUTER stream-stream join: like [[streamStreamJoin]] but
    * unmatched clicks must ALSO emit (with nulls) — which only happens
    * when the watermark proves no purchase can still arrive, i.e. via
    * state eviction in the post-data no-data batch. Determinism margin
    * (same technique as the session pipelines): only clicks with
    * c_ts ≤ max_ts − 4h are counted — their join window closes at
    * c_ts + 2h ≤ max_ts − 2h, strictly below the final watermark
    * (max_ts − 1h), so every such click has provably emitted either its
    * matches or its null row. The oracle is the batch left join under
    * the same cutoff. */
  def streamOuterJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val joined = clickPurchaseJoin(spark, sfDir, "left_outer")
    val cutoff = graft.Tables.events(spark, sfDir)
      .agg((max(col("ts")) - expr("INTERVAL 4 HOURS")).as("cut"))
    runToMemory(spark, joined, "stream_outer_join", OutputMode.Append())
      .crossJoin(broadcast(cutoff))
      .filter(col("c_ts") <= col("cut"))
      .groupBy(col("c_user").as("user_id"))
      .agg(count(lit(1)).as("n_rows"),
        count(col("p_ts")).as("n_matched"),
        count(when(col("p_ts").isNull, 1)).as("n_unmatched"))
      .orderBy("user_id")
  }

  /** Cross-batch keyed sketch state via mapGroupsWithState — the
    * `updateStateByKey` rebuild: one serialized CMS per user survives
    * across micro-batches; final answer = per-user click estimate. */
  def cmsStatefulStream(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val updateFn = (userId: Long, rows: Iterator[(Long, String)],
        state: GroupState[Array[Byte]]) => {
      val (bytes, est) = CmsStateSizing.fold(state.getOption, rows.map(_._2))
      state.update(bytes)
      (userId, est)
    }
    val est = eventStream(spark, sfDir)
      .select(col("user_id"), col("event_type"))
      .as[(Long, String)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout())(updateFn)
      .toDF("user_id", "click_est")
    runToMemory(spark, est, "stream_cms_state", OutputMode.Update())
      .groupBy("user_id").agg(max("click_est").as("click_est"))
      .orderBy("user_id")
  }

  /** Cross-batch keyed sketch state via `transformWithState` (Spark 4's
    * successor to mapGroupsWithState): typed ValueState holds the
    * serialized CMS per user, backed by the RocksDB state store — the
    * provider a 1000-executor deployment would run, where state must
    * spill to disk and checkpoint incrementally rather than live on the
    * JVM heap. Same answer as [[cmsStatefulStream]] by construction. */
  def cmsTransformWithState(spark: SparkSession, sfDir: String,
      ttl: org.apache.spark.sql.streaming.TTLConfig =
        org.apache.spark.sql.streaming.TTLConfig.NONE,
      sink: String = "stream_tws"): DataFrame = {
    import spark.implicits._
    // state TTL needs the processing-time clock; the TTL-free twin
    // keeps TimeMode.None (no clock dependency at all)
    val usesTtl = ttl != org.apache.spark.sql.streaming.TTLConfig.NONE
    val timeMode =
      if (!usesTtl) org.apache.spark.sql.streaming.TimeMode.None()
      else org.apache.spark.sql.streaming.TimeMode.ProcessingTime()
    val est = eventStream(spark, sfDir)
      .select(col("user_id"), col("event_type"))
      .as[(Long, String)]
      .groupByKey(_._1)
      .transformWithState(new CmsStatefulProcessor(ttl), timeMode,
        OutputMode.Update())
      .toDF("user_id", "click_est")
    runToMemory(spark, est, sink, OutputMode.Update(), singleBatch = usesTtl,
      confs = RocksDbState)
      .groupBy("user_id").agg(max("click_est").as("click_est"))
      .orderBy("user_id")
  }

  /** Timer-driven session counts via [[SessionTimerProcessor]] — the
    * transformWithState + event-time-timer rebuild of [[sessionCounts]].
    * The same closed-session margin applies (last event ≤ max_ts − 8h:
    * in-batch-closed sessions are emitted eagerly, watermark-timer
    * sessions only below the final watermark, so only the margin region
    * is deterministic across both paths), which makes the output equal
    * [[sessionCounts]]'s by construction and shares its oracle. */
  def sessionTimerCounts(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val sessions = eventStream(spark, sfDir)
      .withWatermark("ts", "1 hour")
      .select(col("user_id"), expr("unix_millis(ts)").as("ts_ms"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new SessionTimerProcessor(6L * 3600 * 1000),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append())
      .toDF("user_id", "n_events", "last_ts_ms")
    val cutoff = graft.Tables.events(spark, sfDir)
      .agg((expr("unix_millis(max(ts))") - lit(8L * 3600 * 1000)).as("cut_ms"))
    runToMemory(spark, sessions, "stream_timer_session", OutputMode.Append(),
      confs = RocksDbState)
      .crossJoin(broadcast(cutoff))
      .filter(col("last_ts_ms") <= col("cut_ms"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"), sum("n_events").as("n_events"))
      .orderBy("user_id")
  }

  /** Write a relation as `n` single-file parquet replay batches
    * `dir/<prefix><i>.parquet` in ONE Spark job (round 17, guide §2.6/§6):
    * the sequential form — n× (filter + coalesce(1) write + rename) —
    * re-scanned the source per batch and serialized n write jobs into
    * every timed streaming pipeline's setup. Here the bucket column
    * rides a `partitionBy` write (each bucket value lives in exactly one
    * task after the bucket repartition, so each value emits exactly one
    * part file), then the files are renamed into place. mtimes are
    * pinned strictly increasing — the file source orders its initial
    * listing by modification time, so batch arrival order stays
    * bucket 0 < 1 < … unconditionally (same-millisecond writes could
    * otherwise tie; streamEwma's fold is ORDER-sensitive and the others
    * get determinism for free). Within-file row order may differ from
    * the coalesce(1) form; no consumer is row-order-sensitive (state
    * folds sort their group slice; everything else is additive). */
  private def writeSplitFiles(spark: SparkSession, df: DataFrame,
      bucket: Column, dir: String, n: Int,
      prefix: String = "b", idxOffset: Int = 0): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir))
    val tmp = s"$dir/tmp_split"
    df.withColumn("__b", bucket.cast("int"))
      .repartition(n, col("__b"))
      .write.partitionBy("__b").parquet(tmp)
    (0 until n).foreach { b =>
      val part = fs.globStatus(new org.apache.hadoop.fs.Path(
        s"$tmp/__b=$b/part-*.parquet")).head.getPath
      val dst = new org.apache.hadoop.fs.Path(
        s"$dir/$prefix${b + idxOffset}.parquet")
      fs.rename(part, dst)
      fs.setTimes(dst, 1700000000000L + b * 60000L, -1)
    }
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
  }

  /** Split a (doc_id, …) relation into `n` single-file parquet batches
    * under `dir` (batch b = ids ≡ b mod n) — the replayable micro-batch
    * fixture the file-stream pipelines consume with maxFilesPerTrigger=1.
    */
  private def writeIdSplitBatches(spark: SparkSession, df: DataFrame,
      dir: String, n: Int): Unit =
    writeSplitFiles(spark, df, pmod(col("doc_id"), lit(n)), dir, n)

  /** Fold a replayed stream into versioned parquet snapshots: from
    * `io/v0`, each micro-batch writes `merge(current, batch)` as the next
    * version `io/v1`, `io/v2`, … and only then moves the pointer, so a
    * reader of the previous version never sees a torn snapshot. Returns
    * the final version. */
  private def foldVersions(spark: SparkSession, stream: DataFrame, io: String)(
      merge: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    var cur = s"$io/v0"
    var ver = 0
    runStream(spark)(stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        ver += 1
        val next = s"$io/v$ver"
        merge(batch.sparkSession.read.parquet(cur), batch).write.parquet(next)
        cur = next
        ()
      }
      .trigger(Trigger.AvailableNow()))
    spark.read.parquet(cur)
  }

  /** Per-row MinHash signature hash (k=16 coordinates over 3-gram
    * hashes), computed WITHOUT any shuffle: the token-mode
    * [[graft.functions.MinHashSig]] derives the gram hashes (the exact
    * `xxhash64(t0,t1,t2)` chain of
    * [[graft.queries.TextQueries.gramHashPostings]]; whole-doc gram
    * under 3 tokens) AND all 16 coordinate minima in one compiled
    * per-row loop — the HOF formulation (transform-derived gram array
    * + 16 `array_min(transform(...))`) was CodegenFallback and
    * measured ~3 ms/doc at sf0.1 — so in a stream only the 8-byte
    * signature (not grams, not text) ever reaches the keyed state
    * store. Identical distinct-gram SETS — exactly Jaccard 1.0 —
    * give identical signatures by construction, so the gate can never
    * miss a 1.0 pair. */
  private[graft] def minhashSigHash(text: Column) =
    graft.functions.minhash_sig(tokens(text))

  /**
   * Streaming near-duplicate GATE: documents arrive in micro-batches
   * (3 single-file batches via maxFilesPerTrigger=1, planted duplicates
   * split ACROSS batches) and a `transformWithState` processor keyed on
   * the per-row MinHash signature admits first-seen content and counts
   * copies — the ingest-time dedup a 100 TB crawl pipeline runs, where
   * the corpus-wide near-dup pass ([[graft.queries.TextQueries]]) is
   * the compaction-time twin. Scale shape: signature computation is
   * map-side per-row (nothing shuffles but the 8-byte key), state is
   * two longs per distinct signature (content-bounded, TTL-able), and
   * emissions are min/count — order- and batching-independent, so the
   * result is deterministic under any batch split. Post-stream, the
   * few multi-copy signature groups are exact-verified with the
   * postings Jaccard join and thresholded at 1.0; since sig-identity
   * is IMPLIED by Jaccard 1.0 (same gram set → same minima), the
   * output provably EQUALS the exact Jaccard = 1.0 pair graph of
   * documents ∪ planted — the plain-SQL oracle — while collisions of
   * sub-1.0 pairs (p ≈ j¹⁶ per pair) are filtered deterministically.
   */
  def streamMinhashDedup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val planted = graft.queries.TextQueries.plantedDupDocs.toDF("doc_id", "text")
    val docs = graft.Tables.documents(spark, sfDir).select("doc_id", "text")
      .unionAll(planted)
    // planted ids mod 3 = {1, 2, 0, 1, 2}: every duplicate group spans
    // ≥2 batches, so the gate exercises real cross-batch state.
    // dupGroups, members and postings are localCheckpointed: each feeds
    // two+ joins, and without the cut every consumer re-derives its
    // whole subtree — measured 57→5 s on the candidate join at sf0.1
    val dupGroups = sigDupGroups(spark, docs, "stream_minhash")(minhashSigHash)
    val sigs = docs.select(col("doc_id"), minhashSigHash(col("text")).as("sig"))
    val members = sigs.join(dupGroups.select("sig"), "sig").localCheckpoint()
    val cand = members.select(col("sig"), col("doc_id").as("id_a"))
      .join(members.select(col("sig"), col("doc_id").as("id_b")), "sig")
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    // verification postings from the MAINTAINED index (round 17 — the
    // q_containment_dedup reuse pattern): planted ids live in a
    // disjoint id space, so distinct(grams(docs ∪ planted)) ≡
    // postingsShared ∪ distinct(grams(planted)) — identical rows
    // without re-shingling the corpus
    val postings = graft.queries.TextQueries.postingsShared(spark, sfDir)
      .unionAll(graft.queries.TextQueries.gramHashPostings(planted.toDF(
        "doc_id", "text")).distinct())
      .localCheckpoint()
    graft.queries.TextQueries.verifyJaccard(cand, postings)
      .filter(col("jaccard") >= 1.0)
      .orderBy("id_a", "id_b")
  }

  /** The ingest gate of [[streamMinhashDedup]] and [[streamPhashDedup]]:
    * `docs` (doc_id, text) replayed as 3 id-split batches, keyed by the
    * per-row signature `sig(text)` into [[SigDedupProcessor]] RocksDB
    * state; returns the final (sig, keep_id, n) of every signature seen
    * more than once, localCheckpointed. `name` is both the replay
    * directory under [[graft.GraftIO.root]] and the memory sink. */
  private def sigDupGroups(spark: SparkSession, docs: DataFrame, name: String)(
      sig: Column => Column): DataFrame = {
    import spark.implicits._
    val io = graft.GraftIO.fresh(spark, name)
    writeIdSplitBatches(spark, docs, s"$io/in", 3)
    val gate = replay(spark, DocSchema, s"$io/in/b*.parquet")
      .select(sig(col("text")).as("sig"), col("doc_id"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new SigDedupProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
      .toDF("sig", "keep_id", "n")
    // final state per signature: min keeper / max count over emissions
    runToMemory(spark, gate, name, OutputMode.Update(), confs = RocksDbState)
      .groupBy("sig")
      .agg(min("keep_id").as("keep_id"), max("n").as("n"))
      .filter(col("n") > 1)
      .localCheckpoint()
  }

  /**
   * Streaming perceptual-dedup ingest gate (round 9): the
   * streamMinhashDedup recipe at the PERCEPTUAL level — media payloads
   * arrive in 3 id-split batches, each keyed into RocksDB state by its
   * codegen'd `PHash64` aHash, and the cross-batch keeper/count state
   * surfaces duplicate groups at ingest time. The planted pair
   * (9200001/9200002, a 1-byte payload perturbation with the SAME
   * aHash) lands in DIFFERENT batches, so the gate proves cross-batch
   * perceptual state catches what byte-dedup cannot: the payloads
   * differ byte-wise (md5-distinct, proven in-plan) yet dedupe into
   * one group. Per-key state = 2 longs; admits unbounded streams.
   */
  def streamPhashDedup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val planted = graft.queries.MultimodalQueries.phPlanted.toDF("doc_id", "text")
    val media = graft.Tables.documents(spark, sfDir).select("doc_id", "text")
      .unionAll(planted)
    // planted ids mod 3 = {0, 1, 2}: the duplicate pair spans batches
    // 0 and 1 — real cross-batch state, not within-batch grouping
    val groups = sigDupGroups(spark, media, "stream_phash")(t =>
      phash64(encode(t, "UTF-8")))
    val sigs = media
      .select(col("doc_id"), phash64(encode(col("text"), "UTF-8")).as("sig"))
      .localCheckpoint()
    // flags, all derived in-plan: the planted pair hash-collides, its
    // group surfaced through the STREAM state, the payloads are
    // byte-distinct, and the pair genuinely spanned two batches
    val plantedPair = sigs.filter(col("doc_id").isin(9200001L, 9200002L))
      .agg((countDistinct("sig") === 1).as("planted_pair_found"))
    val pairMedia = media.filter(col("doc_id").isin(9200001L, 9200002L))
      .agg((countDistinct(md5(col("text"))) === 2).as("payloads_differ"),
        (countDistinct(col("doc_id") % 3) === 2).as("cross_batch"))
    // gate count is scoped to the PLANTED sig so it is scale-invariant
    // (round 10: the sf0.1 contract sweep found 9 ORGANIC exact-aHash
    // groups — similar real texts legitimately collide, the dedup gate
    // CORRECTLY groups them, but a global literal count can't ride the
    // oracle across scales; organic-pair behavior is the batch
    // q_phash_dedup row's job)
    val plantedGroups = groups
      .join(sigs.filter(col("doc_id") === 9200001L).select("sig"), "sig")
      .agg(count(lit(1)).as("n_planted_groups"))
    plantedGroups
      .crossJoin(broadcast(plantedPair))
      .crossJoin(broadcast(pairMedia))
      .select(lit("phash_stream").as("method"), col("n_planted_groups"),
        col("planted_pair_found"),
        (col("n_planted_groups") === 1).as("planted_group_streamed"),
        col("payloads_differ"), col("cross_batch"))
  }

  /**
   * Streaming quality-classifier inference: the weight relation trained
   * by q_quality_classifier ([[graft.queries.CurationQueries.qcTrainShared]],
   * one training run per session) scores document micro-batches at
   * ingest time — the filter-at-the-door deployment of a learned
   * quality model, where the batch query is the train/backfill twin.
   * Each foreachBatch invocation derives the batch's sparse features
   * map-side, joins them against the STATIC (bucket, weight) relation
   * on the bucket key (stream-static broadcast join — the model is
   * bounded at ≤ 2^22+1 rows by construction and never in the state
   * store; per-batch state is zero, so the pipeline admits unbounded
   * streams), and appends
   * (doc_id, margin, keep) to the scored sink. Because the margin is
   * the exact-decimal dot product, the streamed scores are
   * BIT-IDENTICAL to the batch twin under any batch split — which the
   * result row proves in-plan: n_scored (exactly-once file replay ⇒
   * = n_docs, DuckDB-checked) and stream_eq_batch (full-outer join
   * against the batch twin finds zero disagreements).
   */
  def streamQualityFilter(spark: SparkSession, sfDir: String): DataFrame = {
    val io = graft.GraftIO.fresh(spark, "stream_qc")
    val w = graft.queries.CurationQueries.qcTrainShared(spark, sfDir)._2
    val docs = graft.Tables.documents(spark, sfDir).select("doc_id", "text")
    writeIdSplitBatches(spark, docs, s"$io/in", 3)
    runStream(spark)(replay(spark, DocSchema, s"$io/in/b*.parquet")
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.queries.CurationQueries.qcScore(batch, w)
          .write.mode("append").parquet(s"$io/scored")
      }
      .option("checkpointLocation", s"$io/ckpt")
      .trigger(Trigger.AvailableNow()))
    val streamed = spark.read.parquet(s"$io/scored")
    // batch twin scores from the trained feature relation (round 17):
    // identical (doc_id, m, keep) rows to qcScore(docs, w) — feats IS the
    // corpus's sparse feature set — without re-deriving features
    val batchTwin = graft.queries.CurationQueries.qcScoreCorpus(spark, sfDir)
    val disagree = streamed.withColumnRenamed("m", "ms")
      .withColumnRenamed("keep", "ks")
      .join(batchTwin, Seq("doc_id"), "full_outer")
      .filter(col("ms").isNull || col("m").isNull ||
        col("ms") =!= col("m") || col("ks") =!= col("keep"))
      .agg(count(lit(1)).as("n_bad"))
    streamed.agg(count(lit(1)).as("n_scored"))
      .crossJoin(docs.agg(count(lit(1)).as("n_docs")))
      .crossJoin(disagree)
      .select(col("n_docs"), col("n_scored"), lit(3L).as("n_batches"),
        (col("n_bad") === 0).as("stream_eq_batch"))
  }

  /**
   * Streaming CDC apply (foreachBatch MERGE sink): a change stream is
   * applied incrementally to a versioned parquet base table — the
   * Structured-Streaming-to-lakehouse upsert every CDC pipeline runs.
   * Merge semantics are LAST-WRITER-WINS BY SEQUENCE (`max_by(…, seq)`
   * per key, tombstones kept as 'D' rows), which makes the apply
   * order- and batching-independent: one batch of three files or three
   * batches of one file converge to the same table, and a replayed
   * batch is a no-op — exactly the idempotence a restartable streaming
   * sink needs. Each micro-batch is one key-partitioned merge join
   * (the q_cdc_merge shape); `maxFilesPerTrigger=1` forces the
   * multi-batch path so the test exercises real incremental applies.
   * The change batch is the same mod-10 derivation as q_cdc_merge, so
   * the two share one oracle.
   */
  def streamCdcApply(spark: SparkSession, sfDir: String): DataFrame = {
    val io = graft.GraftIO.fresh(spark, "stream_cdc")
    val ord = graft.Tables.orders(spark, sfDir)
      .select(col("o_orderkey").as("key"), col("o_totalprice").as("price"))
    val k = col("key")
    ord.select(k, col("price"), lit(0L).as("seq"), lit("U").as("op"))
      .write.parquet(s"$io/v0")
    // three single-file change sets (update / delete / insert), written
    // in ONE job: the seq column doubles as the split bucket
    val changes = ord.filter(k % 10 === 0).select(k,
        (col("price") * 1.1).as("price"), lit(1L).as("seq"), lit("U").as("op"))
      .unionAll(ord.filter(k % 10 === 1).select(k,
        lit(null).cast("double").as("price"), lit(2L).as("seq"), lit("D").as("op")))
      .unionAll(ord.filter(k % 10 === 2).select((k + 100000000L).as("key"),
        col("price"), lit(3L).as("seq"), lit("I").as("op")))
    writeSplitFiles(spark, changes, col("seq") - 1, s"$io/changes", 3,
      prefix = "c", idxOffset = 1)
    foldVersions(spark, replay(spark, "key LONG, price DOUBLE, seq LONG, op STRING",
        s"$io/changes/c*.parquet"), io) { (cur, batch) =>
      cur.unionByName(batch)
        .groupBy("key")
        .agg(max_by(struct(col("price"), col("op")), col("seq")).as("b"),
          max("seq").as("seq"))
        .select(col("key"), col("b.price").as("price"), col("seq"),
          col("b.op").as("op"))
    }.agg(
      count(when(col("op") =!= "D", lit(1))).as("n_rows"),
      count(when(col("op") === "U" && col("seq") === 1, lit(1))).as("n_updated"),
      count(when(col("op") === "I", lit(1))).as("n_inserted"),
      count(when(col("op") === "D", lit(1))).as("n_deleted"),
      round(sum(when(col("op") =!= "D", col("price")).cast("decimal(30,12)")), 4)
        .cast("double").as("sum_price"))
  }

  /**
   * Stream-static join with PER-BATCH dimension refresh — the classic
   * Spark staleness trap made visible: a static DataFrame in a
   * streaming query pins its file listing at plan time, so a dimension
   * that changes mid-stream silently serves stale rows forever. The
   * foreachBatch pattern fixes it: each micro-batch re-reads the
   * dimension from storage (a FRESH read inside the callback),
   * joins, and — here — also appends its own marker row, so every batch
   * observes exactly the markers of previously-processed batches. That
   * makes the gate ORDER-INDEPENDENT and sharp: over 3 batches the
   * observed-marker total is 0+1+2 = 3 under any processing order, and
   * it would be 0 if the dimension were read once and cached (the bug
   * this pipeline exists to rule out). Per-batch driver work is a
   * bounded count + 1-row append — the lakehouse "slowly changing dim
   * under a stream" shape.
   */
  def streamDimRefresh(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val io = graft.GraftIO.fresh(spark, "dim_refresh")
    // 3 single-file batches: events with event_id ≡ b (mod 3)
    val ev = graft.Tables.events(spark, sfDir).select("event_id", "event_type")
    writeSplitFiles(spark, ev, pmod(col("event_id"), lit(3)), s"$io/in", 3)
    // dim seeded with a sentinel so the first fresh read has a file
    Seq(-1L).toDF("residue").write.parquet(s"$io/dim")
    val acc = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    runStream(spark)(replay(spark, "event_id LONG, event_type STRING", s"$io/in/b*.parquet")
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val seen = batch.sparkSession.read.parquet(s"$io/dim")
          .filter(col("residue") >= 0).count()
        val res = batch.select(pmod(col("event_id"), lit(3)).as("r"))
          .head().getLong(0)
        acc.add((batch.count(), seen))
        batch.sparkSession.range(1).select(lit(res).as("residue"))
          .write.mode("append").parquet(s"$io/dim")
        ()
      }
      .trigger(Trigger.AvailableNow()))
    import scala.jdk.CollectionConverters._
    acc.asScala.toSeq.toDF("n_events", "n_seen")
      .agg(count(lit(1)).as("n_batches"),
        sum("n_events").as("n_events"),
        sum("n_seen").as("marks_seen"),
        (sum("n_seen") === 3L).as("refresh_ok"))
  }

  /**
   * Streaming ANN index maintenance (VERDICT r9 #5): the composition of
   * q_ivf_incremental's frozen-quantizer fold-in with the
   * streamCdcApply versioned-state pattern. The coarse quantizer (per-
   * label DECIMAL-exact centroids of the BASE corpus) is trained once
   * and frozen; the delta vectors arrive as a 3-batch file stream
   * (maxFilesPerTrigger=1) and each micro-batch argmins its vectors
   * into the frozen cells (|batch| × k broadcast distances — the only
   * per-batch work, which is the entire economics of incremental index
   * maintenance) and merges the per-cell counts into a versioned index
   * snapshot (write-new-version + pointer swap, the manifest mechanic).
   * Per-cell counts are additive, so the final accounting is
   * batch-order-independent and must equal the batch twin
   * q_ivf_incremental EXACTLY — which is the oracle.
   */
  def streamIvfIngest(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.queries.VectorQueries
    val io = graft.GraftIO.fresh(spark, "stream_ivf")
    val emb = VectorQueries.ivfIncrEmb(spark, sfDir)
    val base = emb.filter(col("vec_id") % 10 =!= 3)
    val delta = emb.filter(col("vec_id") % 10 === 3)
    // frozen quantizer: one bounded relation for the whole stream
    val cent = VectorQueries.ivfIncrCentroids(base).localCheckpoint()
    // v0 index: the deployed base inverted-list accounting
    VectorQueries.ivfIncrAssign(base, cent)
      .groupBy(col("asg").as("cid"))
      .agg(count(lit(1)).as("n_base"))
      .withColumn("n_delta", lit(0L))
      .write.parquet(s"$io/v0")
    // the delta as 3 single-file arrival batches, written in ONE job;
    // integer decade (col / 10 alone is DOUBLE division in Spark)
    writeSplitFiles(spark, delta,
      pmod((col("vec_id") / 10).cast("long"), lit(3)), s"$io/arrivals", 3)
    val schema = ("vec_id LONG" +: "label INT" +: (1 to 8).map(i => s"x$i DOUBLE"))
      .mkString(", ")
    foldVersions(spark, replay(spark, schema, s"$io/arrivals/b*.parquet"), io) {
      (cur, batch) =>
        val assigned = VectorQueries.ivfIncrAssign(batch, cent)
          .groupBy(col("asg").as("cid")).agg(count(lit(1)).as("nd"))
        cur.join(assigned, Seq("cid"), "full_outer")
          .select(col("cid"),
            coalesce(col("n_base"), lit(0L)).as("n_base"),
            (coalesce(col("n_delta"), lit(0L)) + coalesce(col("nd"), lit(0L)))
              .as("n_delta"))
    }.select(col("cid"), col("n_base"), col("n_delta"),
        (col("n_base") + col("n_delta")).as("n_total"))
      .orderBy("cid")
  }

  /**
   * Streaming EWMA (the recursive y ← y/2 + x/2 per user) — the batch
   * q_ewma_smooth's truncated unrolling is exact only to 2⁻¹⁶; the
   * STREAM form carries the untruncated recursion as 16 bytes of keyed
   * state, which is the natural home for a recursive statistic. Events
   * arrive in 3 micro-batches split along the global (ts, event_id)
   * fold order (rank-range split, so cross-batch arrival order IS fold
   * order; within a batch the processor sorts its group slice), and the
   * per-user (acc, n) state folds each batch on top of the last — the
   * emitted final equals a single driver fold over the whole ordered
   * history, which is exactly the DuckDB list_reduce oracle. Every
   * double op is the same IEEE sequence in stream, oracle, and spec, so
   * the value is hash-exact, not approximate. State: one (double, long)
   * per user, batch-count-independent.
   */
  def streamEwma(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val io = graft.GraftIO.fresh(spark, "stream_ewma")
    val src = graft.Tables.events(spark, sfDir)
      .filter(col("user_id") < 20)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"), col("value"))
    // rank-range batch split along the EXACT fold order (ts_us,
    // event_id): equal-ts rows may straddle a boundary, but the split
    // follows the same total order the fold uses, so cross-batch
    // processing order equals fold order by construction
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("ts_us"), col("event_id"))
    val ranked = src.withColumn("rn", row_number().over(w))
      .withColumn("cnt", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy()))
      .withColumn("b", ((col("rn") - 1) * 3 / col("cnt")).cast("int"))
      .localCheckpoint() // the split write consumes it — sort ONCE
    // the fold is batch-order-SENSITIVE (unlike every other pipeline
    // here, which is additive); writeSplitFiles pins strictly increasing
    // mtimes so arrival order is b0 < b1 < b2 unconditionally
    writeSplitFiles(spark,
      ranked.select(col("user_id"), col("event_id"), col("ts_us"),
        col("value"), col("b")),
      col("b"), io, 3, prefix = "in_b")
    val updateFn = (userId: Long, rows: Iterator[(Long, Long, Long, Double)],
        state: GroupState[(Double, Long)]) => {
      val (acc0, n0) = if (state.exists) state.get else (0.0, 0L)
      // the group's slice of this batch, restored to fold order
      val ordered = rows.toArray.sortBy(r => (r._3, r._2))
      val acc = ordered.foldLeft(acc0)((a, r) => a * 0.5 + r._4 * 0.5)
      val n = n0 + ordered.length
      state.update((acc, n))
      (userId, acc, n)
    }
    val perBatch = replay(spark,
      "user_id LONG, event_id LONG, ts_us LONG, value DOUBLE", s"$io/in_b*.parquet")
      .as[(Long, Long, Long, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout())(updateFn)
      .toDF("user_id", "acc", "n")
    val emissions = runToMemory(spark, perBatch, "stream_ewma", OutputMode.Update())
    // final state per user = the emission with the largest fold count
    val latest = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("n").desc)
    emissions.withColumn("rk", row_number().over(latest))
      .filter(col("rk") === 1)
      .select(col("user_id"),
        round(col("acc").cast("decimal(30,12)"), 4).cast("double")
          .as("ewma_final"),
        col("n"))
      .orderBy("user_id")
  }

  /** foreachBatch sink: per-micro-batch side effect publishing batch
    * counts (DStream `foreachRDD` twin). */
  def foreachBatchCounts(spark: SparkSession, sfDir: String): DataFrame = {
    val acc = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, Long)]()
    runStream(spark)(eventStream(spark, sfDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.groupBy("event_type").agg(count(lit(1)).as("n"))
          .collect()
          .foreach(r => acc.add((batchId, r.getString(0), r.getLong(1))))
        ()
      }
      .trigger(Trigger.AvailableNow()))
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    acc.asScala.toSeq.toDF("batch_id", "event_type", "n")
      .groupBy("event_type").agg(sum("n").as("cnt"))
      .orderBy("event_type")
  }

  /**
   * Streaming observe(): per-micro-batch dataset-QA metrics riding each
   * batch's OWN tasks (CollectMetrics under the streaming runner) — the
   * streaming twin of q_observe_metrics. A 3-file replayed event stream
   * (event_id residues mod 3; ts never read, so no time-unit coupling)
   * aggregates per-type counts; the observed (rows, exact-decimal value
   * total) of every batch are read back from the progress history's
   * observedMetrics, summed driver-side, and must equal the batch
   * recomputation over the full table — any skipped, double-counted, or
   * partially-observed micro-batch breaks the totals. At 100 TB/day
   * ingest this is how a stream publishes row/value accounting with
   * ZERO extra passes and no extra stateful operator.
   */
  def streamObserve(spark: SparkSession, sfDir: String): DataFrame = {
    val io = graft.GraftIO.fresh(spark, "stream_observe")
    val ev = graft.Tables.events(spark, sfDir)
      .select("event_id", "event_type", "value")
    writeSplitFiles(spark, ev, pmod(col("event_id"), lit(3)), s"$io/in", 3)
    val finalCounts =
      new java.util.concurrent.atomic.AtomicReference[Array[(String, Long)]](
        Array.empty)
    val q = runStream(spark)(replay(spark, "event_id LONG, event_type STRING, value DOUBLE",
      s"$io/in/b*.parquet")
      .observe("qa", count(lit(1)).as("rows"),
        sum(col("value").cast("decimal(30,12)")).as("val_sum"))
      .groupBy("event_type").agg(count(lit(1)).as("cnt"))
      .writeStream.outputMode(OutputMode.Complete())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // complete mode: each batch carries the FULL state; keep the last
        finalCounts.set(batch.collect()
          .map(r => (r.getString(0), r.getLong(1))))
        ()
      }
      .trigger(Trigger.AvailableNow()))
    val qa = q.recentProgress.toSeq
      .flatMap(p => Option(p.observedMetrics.get("qa")))
    val nonEmpty = qa.filter(_.getAs[Long]("rows") > 0)
    val rowsObs = nonEmpty.map(_.getAs[Long]("rows")).sum
    val valObs = nonEmpty
      .map(r => BigDecimal(r.getAs[java.math.BigDecimal]("val_sum")))
      .sum.setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    import spark.implicits._
    finalCounts.get().toSeq.toDF("event_type", "cnt")
      .withColumn("n_batches_observed", lit(nonEmpty.size.toLong))
      .withColumn("rows_observed", lit(rowsObs))
      .withColumn("value_observed", lit(valObs))
      .orderBy("event_type")
  }
}
