package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, TimestampNTZType, TimestampType}

import graft.queries.SessionCache

/** Testdata table loaders (TESTDATA.md / FIXTURES.md). */
object Tables {
  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") normalizeTs(spark, sfDir)
    else spark.read.parquet(s"$sfDir/$name.parquet")

  /**
   * `events.ts` has shipped in more than one parquet physical shape across
   * testdata generations: TIMESTAMP(NANOS) (which vanilla Spark reads only
   * as a raw long under `spark.sql.legacy.parquet.nanosAsLong`),
   * TIMESTAMP(MICROS, isAdjustedToUTC=false) (reads as TIMESTAMP_NTZ), and
   * plain UTC-adjusted TIMESTAMP(MICROS). A real engine reads all of them
   * interchangeably, so ingestion is unit-aware: every shape normalizes to
   * the same session-zoned `TimestampType` microseconds. The harness pins
   * the session TZ to UTC, so the NTZ→LTZ cast is value-preserving and
   * agrees with DuckDB reading the same file (DuckDB also truncates nanos
   * to micros, matching the `div 1000` on the nanos path).
   */
  private def normalizeTs(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = readEventsRaw(spark, sfDir)
    raw.withColumn("ts", decodeTs(col("ts"), raw.schema("ts").dataType))
  }

  /** Raw events read with the nanos-compat conf set.
    * NOTE: the conf stays set for the session — execution is lazy and the
    * scan re-reads it task-side; flipping it back would break a nanos read.
    * It is a no-op for micros-unit files. */
  private def readEventsRaw(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet(s"$sfDir/events.parquet")
  }

  /** The one normalizing transform, shared by the batch loader and the
    * streaming source so the two paths can never diverge on unit handling. */
  def decodeTs(c: Column, readType: DataType): Column = readType match {
    // integral `div`, not `/`: a nanos epoch (~1.7e18) is beyond double's
    // 2^53 exact-integer range, so float division would corrupt low digits
    case LongType         => timestamp_micros(call_function("div", c, lit(1000L)))
    case TimestampNTZType => c.cast(TimestampType)
    case TimestampType    => c
    case other => throw new IllegalStateException(
      s"events.ts read as unsupported type $other — expected nanos long, TIMESTAMP_NTZ, or TIMESTAMP")
  }

  /** Parquet read shape of `events.ts` under `sfDir` (footer-only, cached
    * per session and directory CONTENT — the streaming source needs it to
    * declare its schema before any data flows). The testdata driver
    * regenerates the directory in place between rounds, so a path-only
    * key could serve a stale DataType and silently mis-scale the decode. */
  def eventsTsReadType(spark: SparkSession, sfDir: String): DataType =
    SessionCache.get("events_ts_type", spark, sfDir, EventsTable) {
      readEventsRaw(spark, sfDir).schema("ts").dataType
    }

  private val EventsTable = Seq("events.parquet")

  /** Loud guard against the silent-corruption failure mode: if a future
    * testdata generation changes the time unit again and the decode above
    * mis-scales it, timestamps collapse (30 days → 43 min) or explode
    * (epoch 56xxx), and every windowed result is wrong-but-plausible.
    * One tiny driver-side job per (session, directory content) asserts
    * the decoded range lands in a sane window; a unit error of 1000× in
    * either direction lands centuries away and fails with a message
    * instead. */
  def assertSaneEventTs(spark: SparkSession, sfDir: String): Unit =
    SessionCache.get("events_ts_range", spark, sfDir, EventsTable) {
      val r = normalizeTs(spark, sfDir)
        .agg(min(unix_micros(col("ts"))).as("lo"), max(unix_micros(col("ts"))).as("hi"))
        .head()
      val (lo, hi) = (r.getLong(0), r.getLong(1))
      val (y2000, y2100) = (946684800000000L, 4102444800000000L)
      require(lo >= y2000 && hi < y2100,
        s"decoded events.ts range [$lo, $hi] µs is outside [2000, 2100) — " +
          s"the parquet time unit of $sfDir/events.parquet likely changed; " +
          "fix Tables.decodeTs before trusting any windowed result")
    }

  def region(s: SparkSession, d: String): DataFrame = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = apply(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame = apply(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
