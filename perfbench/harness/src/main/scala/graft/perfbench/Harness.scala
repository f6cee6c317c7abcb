package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.ByteBuffer
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.perfbench.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.sketch.{BloomFilter, CountMinSketch}

import graft.SparkEntry
import graft.functions._

/**
 * One benchmark JVM. It builds a `local[nproc]` session (printing `SESSION`
 * when it is up), stages one workload's generated inputs (printing `READY`),
 * and then runs whole passes of the workload's operations in a closed loop
 * with one client — each operation starts when the previous one has ended —
 * until `seconds` have passed, and at least `MinPasses`. Every operation
 * materializes its full result (a collect, or an aggregate that consumes
 * every output value), is timed as build / plan / execute, and is digested
 * so later passes can be compared with the first. Everything lands in
 * `<out>/raw.json`; `perfbench/run.py` turns it into metrics and checks the
 * outputs against DuckDB.
 *
 * Arguments are `key=value`: workload, data, out, seconds, trace (0|1),
 * queries (query_mix), and the sketch sizing of sketch_bulk (bloom_n,
 * bloom_fpp, cms_eps, cms_conf, cuckoo_buckets).
 */
object Harness {
  /** The cold pass and at least two warm passes. The JIT is still settling
    * on the first warm passes; more passes would settle further but do not
    * fit the time budget of 70 runs on a slow host. */
  val MinPasses = 3

  def main(args: Array[String]): Unit = {
    val opt = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val workload = opt("workload")
    val data = opt("data")
    val out = opt("out")
    val trace = opt.getOrElse("trace", "0") == "1"
    val cpus = Runtime.getRuntime.availableProcessors
    val scratch = System.getProperty("java.io.tmpdir")

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$scratch/local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    println("SESSION")
    System.out.flush()

    val m = new Materialize(if (trace) Some(new Tracer(spark)) else None)
    val wl: Workload = workload match {
      case "query_mix" => new ContractQueries(spark, data, m, opt("queries").split(",").toSeq)
      case "sketch_bulk" => new SketchBulk(spark, data, m, opt)
      case "sketch_stream" => new SketchStream(spark, data, m)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    wl.stage()
    val setupCpuS = Jvm.cpuNs() / 1e9 // every thread's CPU since the JVM started
    println("READY")
    System.out.flush()

    val tracer = m.tracer
    val seconds = opt("seconds").toDouble
    val passes = mutable.ArrayBuffer.empty[String]
    val opRecs = mutable.ArrayBuffer.empty[String]
    val firstDigest = mutable.Map.empty[String, String]
    val t0 = System.nanoTime()
    var pass = 0
    while (pass < MinPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
      val cpu0 = Jvm.cpuNs(); val gc0 = Jvm.gcMs()
      val p0 = System.nanoTime()
      wl.ops.foreach { op =>
        val before = tracer.map(_.snapshot())
        val o0 = System.nanoTime()
        val rec = try op.run() catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"[perfbench] ${op.name} pass $pass failed: $e")
            OpResult.failed(e.toString, (System.nanoTime() - o0) / 1e9)
        }
        val counters = tracer.map(_.since(before.get)).getOrElse(Map.empty)
        val ok = rec.error.isEmpty
        val same = ok && firstDigest.getOrElseUpdate(op.name, rec.digest) == rec.digest
        opRecs += Json.obj(Seq("pass" -> pass, "op" -> op.name, "ok" -> ok,
          "same" -> same, "error" -> rec.error.getOrElse(""), "digest" -> rec.digest) ++
          rec.fields ++ counters)
        wl.afterOp(op.name)
      }
      passes += Json.obj(Seq("pass" -> pass,
        "wall_s" -> (System.nanoTime() - p0) / 1e9,
        "cpu_s" -> (Jvm.cpuNs() - cpu0) / 1e9,
        "gc_s" -> (Jvm.gcMs() - gc0) / 1e3))
      pass += 1
    }
    val extra = wl.finish(out)
    Files.writeString(Paths.get(s"$out/raw.json"), Json.obj(Seq(
      "workload" -> workload, "cores" -> cpus, "trace" -> trace, "setup_cpu_s" -> setupCpuS,
      "passes" -> Json.Raw(passes.mkString("[", ",", "]")),
      "ops" -> Json.Raw(opRecs.mkString("[", ",\n", "]"))) ++ extra))
    spark.streams.active.foreach(_.stop())
    spark.stop()
    sys.exit(0) // a lingering non-daemon thread must not keep the JVM alive
  }
}

/** What one operation reports: its timings and sizes, a digest of its output
  * that must repeat on every pass, and an error if it threw (with the wall
  * time until it threw). */
final case class OpResult(fields: Seq[(String, Any)], digest: String,
    error: Option[String] = None)
object OpResult {
  def failed(msg: String, wallS: Double): OpResult =
    OpResult(Seq("wall_s" -> wallS), "", Some(msg))
}

final case class Op(name: String, run: () => OpResult)

trait Workload {
  def stage(): Unit
  def ops: Seq[Op]
  def afterOp(name: String): Unit = ()
  /** Untimed, after the last pass: dump what the checks need. */
  def finish(out: String): Seq[(String, Any)]
}

/** Timed materialization of one DataFrame-returning call, split into the
  * builder call (with the jobs it ran eagerly, when traced), optimization
  * and physical planning, and execution (a collect). */
final class Materialize(val tracer: Option[Tracer]) {
  def apply(build: => DataFrame): (Array[Row], StructType, Seq[(String, Any)]) = {
    val jobs0 = tracer.map(_.jobs())
    val t0 = System.nanoTime()
    val df = build
    val t1 = System.nanoTime()
    val buildJobs = tracer.map(_.jobs() - jobs0.get).toSeq.map("build_jobs" -> _)
    val t1b = System.nanoTime()
    df.queryExecution.executedPlan
    val t2 = System.nanoTime()
    val rows = df.collect()
    val t3 = System.nanoTime()
    val ph = df.queryExecution.tracker.phases
    def phase(p: String): Double = ph.get(p).map(_.durationMs / 1e3).getOrElse(0.0)
    (rows, df.schema, buildJobs ++ Seq(
      "wall_s" -> (t3 - t0) / 1e9, "build_s" -> (t1 - t0) / 1e9,
      "plan_s" -> (t2 - t1b) / 1e9, "exec_s" -> (t3 - t2) / 1e9,
      "rows" -> rows.length.toLong,
      "analysis_s" -> phase("analysis"), "optimization_s" -> phase("optimization"),
      "planning_s" -> phase("planning")))
  }

}

object Digest {
  /** Order-sensitive digest of collected rows (byte arrays by content). */
  def apply(rows: Array[Row]): String = {
    def cell(v: Any): String = v match {
      case b: Array[Byte] => java.util.Arrays.toString(b)
      case r: Row => r.toSeq.map(cell).mkString("{", ",", "}")
      case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
      case x => String.valueOf(x)
    }
    val h = scala.util.hashing.MurmurHash3.orderedHash(
      rows.iterator.map(r => r.toSeq.map(cell).mkString("|")))
    f"$h%08x:${rows.length}"
  }
}

/** Contract queries, each once per pass; the first pass's rows are kept for
  * the oracle check. */
class ContractQueries(spark: SparkSession, data: String, materialize: Materialize,
    names: Seq[String]) extends Workload {
  private val first = mutable.LinkedHashMap.empty[String, (StructType, Array[Row])]

  /** Every input table through the engine's loader (schema read). */
  def stage(): Unit = {
    names.foreach(n => require(SparkEntry.queries.contains(n), s"unknown query $n"))
    Seq("region", "nation", "supplier", "customer", "part", "orders", "lineitem",
      "events", "documents", "embeddings").foreach(t => graft.Tables(spark, data, t).schema)
  }

  val ops: Seq[Op] = names.map { n =>
    Op(n, () => {
      val (rows, schema, f) = materialize(SparkEntry.queries(n)(spark, data))
      if (!first.contains(n)) first(n) = (schema, rows)
      OpResult(f, Digest(rows))
    })
  }

  def finish(out: String): Seq[(String, Any)] = {
    first.foreach { case (n, (schema, rows)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$out/results/$n")
    }
    Seq("oracle_sql" -> Json.Raw(Json.obj(first.keys.toSeq.map(n => n -> SparkEntry.oracleSql(n)))))
  }
}

/** The three paper pipelines over a replayed events directory. */
final class SketchStream(spark: SparkSession, data: String, materialize: Materialize)
    extends ContractQueries(spark, data, materialize,
      Seq("q_stream_bloom", "q_stream_cms_state", "q_stream_tws")) {

  override def stage(): Unit = graft.Tables.events(spark, data).schema

  /** Drop the memory-sink views so their rows can be collected. */
  override def afterOp(name: String): Unit =
    spark.catalog.listTables().collect().filter(_.isTemporary)
      .foreach(t => spark.catalog.dropTempView(t.name))
}

/**
 * Bulk sketch builds and probes over a Zipf-skewed key table. Per pass:
 * sharded Bloom and CMS builds (one sketch per shard), their merge
 * aggregates, a global cuckoo build over the distinct member keys, and one
 * probe of every sketch over all distinct member keys plus disjoint
 * non-member keys. A probe is materialized by an aggregate that folds every
 * probe answer into per-membership counts and an XOR digest.
 *
 * One more build, `cuckoo_dup_build`, feeds `cuckoo_agg` a fixed table of
 * repeated keys (`DupRows` rows over `DupKeys` keys, the same whatever the
 * seed) in a filter with a slot for every row. `cuckoo_agg` stores a
 * fingerprint per row, so a key seen more than eight times overflows its two
 * buckets and the filter drops entries: the build fails on every pass, and
 * the failure is reported, not hidden.
 */
final class SketchBulk(spark: SparkSession, data: String, materialize: Materialize,
    opt: Map[String, String])
    extends Workload {
  import spark.implicits._
  private val bloomN = opt("bloom_n").toLong
  private val bloomFpp = opt("bloom_fpp").toDouble
  private val cmsEps = opt("cms_eps").toDouble
  private val cmsConf = opt("cms_conf").toDouble
  private val cuckooBuckets = opt("cuckoo_buckets").toInt
  private val tables = mutable.Map.empty[String, (DataFrame, Long)]
  private val shardBytes = mutable.Map.empty[String, Array[Array[Byte]]]
  private val sk = mutable.Map.empty[String, Array[Byte]]

  /** The key and probe tables, read from the generated parquet by every
    * operation; their row counts come from the parquet footers. */
  def stage(): Unit =
    for (t <- Seq("keys", "probe")) {
      val df = spark.read.parquet(s"$data/$t.parquet")
      tables(t) = (df, df.count())
    }

  private def keys = tables("keys")
  private def probe = tables("probe")

  private def bytesDigest(b: Array[Byte]): String =
    f"${java.util.Arrays.hashCode(b)}%08x:${b.length}"

  private def shardedBuild(kind: String, agg: Column): Op = Op(s"${kind}_build", () => {
    val (rows, _, f) = materialize(
      keys._1.groupBy("shard").agg(agg.as("sk")).orderBy("shard"))
    val shards = rows.map(_.getAs[Array[Byte]]("sk"))
    shardBytes(kind) = shards
    OpResult(f, shards.map(bytesDigest).mkString(","))
  })

  private def merge(kind: String, agg: Column => Column): Op = Op(s"${kind}_merge", () => {
    val parts = shardBytes(kind).toSeq.toDF("sk")
    val (rows, _, f) = materialize(parts.agg(agg(col("sk")).as("sk")))
    val b = rows.head.getAs[Array[Byte]]("sk")
    sk(kind) = b
    OpResult(f :+ ("bytes" -> b.length.toLong), bytesDigest(b))
  })

  /** A cuckoo filter is a set: built from each distinct member key once. */
  private val cuckooBuild = Op("cuckoo_build", () => {
    val (rows, _, f) = materialize(probe._1.where(col("is_member"))
      .agg(cuckoo_agg(col("key"), cuckooBuckets).as("sk")))
    val b = rows.head.getAs[Array[Byte]]("sk")
    sk("cuckoo") = b
    val t = graft.sketches.CuckooTable.deserialize(b)
    // the bucket layout depends on insertion order; only answers must repeat
    OpResult(f ++ Seq("bytes" -> b.length.toLong, "dropped" -> t.nDropped), s"${b.length}")
  })

  private val DupRows = 20000L
  private val DupKeys = 64
  private val DupBuckets = 8192 // four slots each: room for every row
  private val cuckooDupBuild = Op("cuckoo_dup_build", () => {
    val (rows, _, f) = materialize(spark.range(0, DupRows, 1, 4)
      .select((col("id") % DupKeys).as("key"))
      .agg(cuckoo_agg(col("key"), DupBuckets).as("sk")))
    val t = graft.sketches.CuckooTable.deserialize(rows.head.getAs[Array[Byte]]("sk"))
    OpResult(f ++ Seq("dropped" -> t.nDropped), s"${t.nItems + t.nDropped}")
  })

  private def probeOp(kind: String, answer: Column => Column): Op =
    Op(s"${kind}_probe", () => {
      val (rows, _, f) = materialize(probe._1
        .select(col("is_member"), col("key"), answer(lit(sk(kind))).cast("long").as("a"))
        .groupBy("is_member")
        .agg(count(lit(1)).as("n"), sum(col("a")).as("s"),
          bit_xor(xxhash64(col("key"), col("a"))).as("x"))
        .orderBy("is_member"))
      OpResult(f ++ rows.flatMap { r =>
        val m = if (r.getBoolean(0)) "member" else "nonmember"
        Seq(s"${m}_n" -> r.getLong(1), s"${m}_sum" -> r.getLong(2))
      }, Digest(rows))
    })

  val ops: Seq[Op] = Seq(
    shardedBuild("bloom", bloom_agg(col("key"), bloomN, bloomFpp)),
    merge("bloom", bloom_merge_agg),
    shardedBuild("cms", cms_agg(col("key"), cmsEps, cmsConf, 42)),
    merge("cms", cms_merge_agg),
    cuckooBuild,
    cuckooDupBuild,
    probeOp("bloom", s => bloom_might_contain(s, col("key"))),
    probeOp("cms", s => cms_estimate(s, col("key"))),
    probeOp("cuckoo", s => cuckoo_contains(s, col("key"))))

  /** The last pass's sketches: per-key answers and their parameters. */
  def finish(out: String): Seq[(String, Any)] = {
    if (!Seq("bloom", "cms", "cuckoo").forall(sk.contains)) return Nil
    probe._1.select(col("key"), col("is_member"),
        bloom_might_contain(lit(sk("bloom")), col("key")).as("bloom"),
        cms_estimate(lit(sk("cms")), col("key")).as("cms"),
        cuckoo_contains(lit(sk("cuckoo")), col("key")).as("cuckoo"))
      .write.mode("overwrite").parquet(s"$out/probe_dump")
    val bf = BloomFilter.readFrom(new java.io.ByteArrayInputStream(sk("bloom")))
    val bloomK = { val b = ByteBuffer.wrap(sk("bloom")); b.getInt; b.getInt }
    val cms = CountMinSketch.readFrom(sk("cms"))
    Seq("sketch" -> Json.Raw(Json.obj(Seq(
      "rows" -> keys._2, "probe_rows" -> probe._2, "members" -> bloomN,
      "bloom_bits" -> bf.bitSize(), "bloom_k" -> bloomK,
      "cms_eps" -> cms.relativeError(), "cms_conf" -> cms.confidence(),
      "cms_total" -> cms.totalCount()))))
  }
}

object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs(): Long = os.getProcessCpuTime
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
}

/**
 * Per-layer counters, read from Spark's public hooks around each operation:
 * a `SparkListener` (jobs, stages, tasks, task and CPU time, shuffle bytes),
 * a `StreamingQueryListener` (micro-batch phases and state-store metrics),
 * the codegen compile counters, `CacheStats` builds and JVM GC time.
 * Only registered in traced runs.
 */
final class Tracer(spark: SparkSession) {
  private val c = mutable.LinkedHashMap(Seq("jobs", "stages", "tasks", "task_ms",
    "task_cpu_ns", "shuffle_bytes", "batches", "input_rows", "add_batch_ms",
    "get_batch_ms", "query_planning_ms", "commit_ms", "state_commit_ms",
    "state_update_ms").map(_ -> new AtomicLong): _*)
  // gauges: the state size after the last micro-batch of each stream run
  private val stateRows = new AtomicLong
  private val stateMem = new AtomicLong
  private def add(k: String, v: Long): Unit = c(k).addAndGet(v)

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = add("jobs", 1)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("task_ms", m.executorRunTime)
        add("task_cpu_ns", m.executorCpuTime)
        add("shuffle_bytes", m.shuffleWriteMetrics.bytesWritten)
      }
    }
  })
  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      add("batches", 1)
      add("input_rows", p.numInputRows)
      add("add_batch_ms", d("addBatch"))
      add("get_batch_ms", d("getBatch") + d("latestOffset"))
      add("query_planning_ms", d("queryPlanning"))
      add("commit_ms", d("walCommit") + d("commitOffsets"))
      if (p.stateOperators.nonEmpty) {
        add("state_commit_ms", p.stateOperators.map(_.commitTimeMs).sum)
        add("state_update_ms", p.stateOperators.map(_.allUpdatesTimeMs).sum)
        stateRows.addAndGet(p.stateOperators.map(_.numRowsTotal).sum)
        stateMem.addAndGet(p.stateOperators.map(_.memoryUsedBytes).sum)
      }
    }
  })

  private val cacheLabels = Seq("postings", "jaccard_pairs", "cc_labels", "km_run",
    "bpe_run", "knn_graph", "cbo_tables", "bucketed_tables", "graph_incr_base",
    "chain_union_pairs", "qc_train")

  /** Cumulative counters now, after the listener bus has drained. Resets
    * the state gauges, so call it right before an operation. */
  def snapshot(): Map[String, Double] = {
    val now = read()
    stateRows.set(0); stateMem.set(0)
    now
  }

  /** Counter deltas since `before`, in seconds and counts. */
  def since(before: Map[String, Double]): Seq[(String, Any)] = {
    val now = read()
    def d(k: String): Double = now(k) - before(k)
    Seq("jobs" -> d("jobs"), "stages" -> d("stages"), "tasks" -> d("tasks"),
      "task_s" -> d("task_ms") / 1e3, "task_cpu_s" -> d("task_cpu_ns") / 1e9,
      "shuffle_bytes" -> d("shuffle_bytes"), "gc_s" -> d("gc_ms") / 1e3,
      "compiles" -> d("compiles"), "compile_s" -> d("compile_ns") / 1e9,
      "cache_builds" -> d("cache_builds"), "batches" -> d("batches"),
      "input_rows" -> d("input_rows"), "add_batch_s" -> d("add_batch_ms") / 1e3,
      "get_batch_s" -> d("get_batch_ms") / 1e3,
      "query_planning_s" -> d("query_planning_ms") / 1e3,
      "commit_s" -> d("commit_ms") / 1e3, "state_commit_s" -> d("state_commit_ms") / 1e3,
      "state_update_s" -> d("state_update_ms") / 1e3,
      "state_rows" -> stateRows.get.toDouble, "state_memory_bytes" -> stateMem.get.toDouble)
  }

  def jobs(): Long = { ListenerBusDrain(spark.sparkContext); c("jobs").get }

  private def read(): Map[String, Double] = {
    ListenerBusDrain(spark.sparkContext)
    c.map { case (k, v) => k -> v.get.toDouble }.toMap ++ Map(
      "compiles" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
      "compile_ns" -> CodeGenerator.compileTime.toDouble,
      "cache_builds" -> cacheLabels.map(graft.queries.CacheStats.buildCount).sum.toDouble,
      "gc_ms" -> Jvm.gcMs().toDouble)
  }
}

/** Minimal JSON writer for flat records. */
object Json {
  final case class Raw(s: String)
  def value(v: Any): String = v match {
    case Raw(s) => s
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
      case '\t' => "\\t"; case ch if ch < ' ' => f"\\u${ch.toInt}%04x"; case ch => ch.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case other => value(String.valueOf(other))
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => value(k) + ":" + value(v) }.mkString("{", ",", "}")
}
