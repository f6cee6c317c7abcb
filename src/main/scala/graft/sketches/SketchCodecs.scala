package graft.sketches

import java.io.ByteArrayOutputStream
import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.{BloomFilter, CountMinSketch}

/**
 * The serialized form of each sketch kind, and how keys go into a sketch
 * and are probed against it. This file is the only place that reads or
 * writes sketch bytes (SketchLayerGuardSpec); SketchLayoutSpec pins every
 * reader against Spark's `writeTo` and `CuckooTable.serialize`.
 *
 * The aggregates and probes hold a codec and never touch bytes
 * themselves: [[SketchBuildAgg]], [[SketchMergeAgg]], [[SketchProbe]],
 * plus the two estimators [[BloomNdv]] and [[CmsInnerProduct]], which read
 * the set bits and counters that the sketch classes do not expose.
 *
 * The aggregates and probes call a codec through its object (`codec` is
 * a constant per class), so each key operation is a direct call that
 * the JIT can inline into that class's `update` or probe.
 */
sealed trait SketchCodec[S] {
  def read(bytes: Array[Byte]): S
  def write(sketch: S): Array[Byte]
  /** Merges `other` into `into` and returns `into`. */
  def merge(into: S, other: S): S

  def addLong(sketch: S, v: Long): Unit
  def addBinary(sketch: S, v: Array[Byte]): Unit
  /** The probe's SQL value for a key. */
  def probeLong(sketch: S, v: Long): Any
  def probeBinary(sketch: S, v: Array[Byte]): Any

  /** Adds the non-null value `v` of a key type as its [[SketchKey]]. */
  final def add(sketch: S, v: Any): Unit = {
    val b = SketchKey.bytes(v)
    if (b != null) addBinary(sketch, b) else addLong(sketch, SketchKey.long(v))
  }

  /** Probes the non-null value `v` of a key type as its [[SketchKey]]. */
  final def probe(sketch: S, v: Any): Any = {
    val b = SketchKey.bytes(v)
    if (b != null) probeBinary(sketch, b) else probeLong(sketch, SketchKey.long(v))
  }
}

/** Spark's `BloomFilter`: the bytes are its `writeTo` form. */
object Bloom extends SketchCodec[BloomFilter] {
  def read(bytes: Array[Byte]): BloomFilter = BloomFilter.readFrom(bytes)

  def write(bf: BloomFilter): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    bf.writeTo(out)
    out.toByteArray
  }

  def merge(into: BloomFilter, other: BloomFilter): BloomFilter = {
    into.mergeInPlace(other); into
  }

  def addLong(bf: BloomFilter, v: Long): Unit = bf.putLong(v)
  def addBinary(bf: BloomFilter, v: Array[Byte]): Unit = bf.putBinary(v)
  def probeLong(bf: BloomFilter, v: Long): Any = bf.mightContainLong(v)
  def probeBinary(bf: BloomFilter, v: Array[Byte]): Any = bf.mightContainBinary(v)

  /** The hash count, seed, bit count and set-bit count of a filter. */
  final case class Bits(k: Int, seed: Int, bitSize: Long, setBits: Long)

  /** Reads format V2 (`BloomFilterImplV2.writeTo`, the format `create`
    * makes): `int version, int k, int seed, int numWords,
    * long words[numWords]`. */
  def readBits(bytes: Array[Byte]): Bits = {
    val in = ByteBuffer.wrap(bytes)
    val version = in.getInt
    require(version == 2, s"unsupported BloomFilter serial format $version")
    val k = in.getInt
    val seed = in.getInt
    val numWords = in.getInt
    require(numWords >= 0 && numWords * 8L <= in.remaining,
      s"truncated BloomFilter: $numWords words in ${in.remaining} bytes")
    val words = in.asLongBuffer()
    var setBits = 0L
    var i = 0
    while (i < numWords) { setBits += java.lang.Long.bitCount(words.get()); i += 1 }
    Bits(k, seed, numWords * 64L, setBits)
  }
}

/** Spark's `CountMinSketch`: the bytes are its `toByteArray` form, which is
  * also what the built-in `count_min_sketch` aggregate returns. */
object Cms extends SketchCodec[CountMinSketch] {
  def read(bytes: Array[Byte]): CountMinSketch = CountMinSketch.readFrom(bytes)
  def write(cms: CountMinSketch): Array[Byte] = cms.toByteArray

  def merge(into: CountMinSketch, other: CountMinSketch): CountMinSketch = {
    into.mergeInPlace(other); into
  }

  def addLong(cms: CountMinSketch, v: Long): Unit = cms.addLong(v)
  def addBinary(cms: CountMinSketch, v: Array[Byte]): Unit = cms.addBinary(v)
  // estimateCount(Object) hashes a byte array as addBinary does and a
  // boxed long as addLong does
  def probeLong(cms: CountMinSketch, v: Long): Any = cms.estimateCount(v)
  def probeBinary(cms: CountMinSketch, v: Array[Byte]): Any = cms.estimateCount(v)

  /** The counter matrix; `table` is row-major `depth × width`. */
  final case class Counters(
      totalCount: Long, depth: Int, width: Int,
      hashA: Array[Long], table: Array[Long]) {
    /** Built with the same eps, confidence and seed, so cell (d, w)
      * counts the same keys in both. */
    def sameFamily(other: Counters): Boolean =
      depth == other.depth && width == other.width &&
        java.util.Arrays.equals(hashA, other.hashA)
  }

  /** Reads format V1 (`CountMinSketchImpl.writeTo`): `int version,
    * long totalCount, int depth, int width, long hashA[depth],
    * long table[depth][width]`. `CountMinSketch` does not expose its
    * counters, and this format is its public interchange contract. */
  def readCounters(bytes: Array[Byte]): Counters = {
    val in = ByteBuffer.wrap(bytes)
    val version = in.getInt
    require(version == 1, s"unsupported CountMinSketch serial format $version")
    val totalCount = in.getLong
    val depth = in.getInt
    val width = in.getInt
    require(depth >= 0 && width >= 0 && depth * (width + 1L) * 8L <= in.remaining,
      s"truncated CountMinSketch: $depth x $width in ${in.remaining} bytes")
    val hashA = new Array[Long](depth)
    val table = new Array[Long](depth * width)
    val longs = in.asLongBuffer()
    longs.get(hashA)
    longs.get(table)
    Counters(totalCount, depth, width, hashA, table)
  }
}

/** The engine's [[CuckooTable]]: `int m, long nItems, long nDropped,
  * byte table[m × SlotsPerBucket]`. */
object Cuckoo extends SketchCodec[CuckooTable] {
  private val HeaderBytes = 4 + 8 + 8

  def read(bytes: Array[Byte]): CuckooTable = {
    require(bytes.length >= HeaderBytes, s"truncated cuckoo filter: ${bytes.length} bytes")
    val in = ByteBuffer.wrap(bytes)
    val m = in.getInt
    val nItems = in.getLong
    val nDropped = in.getLong
    require(m > 0 && m.toLong * CuckooTable.SlotsPerBucket <= in.remaining,
      s"truncated cuckoo filter: $m buckets in ${in.remaining} bytes")
    val table = new Array[Byte](m * CuckooTable.SlotsPerBucket)
    in.get(table)
    new CuckooTable(m, table, nItems, nDropped)
  }

  def write(t: CuckooTable): Array[Byte] =
    ByteBuffer.allocate(HeaderBytes + t.table.length)
      .putInt(t.m).putLong(t.nItems).putLong(t.nDropped).put(t.table).array()

  def merge(into: CuckooTable, other: CuckooTable): CuckooTable = into.mergeInPlace(other)

  def addLong(t: CuckooTable, v: Long): Unit = t.insert(CuckooTable.itemHashLong(v))
  def addBinary(t: CuckooTable, v: Array[Byte]): Unit = t.insert(CuckooTable.itemHashBytes(v))
  def probeLong(t: CuckooTable, v: Long): Any = t.contains(CuckooTable.itemHashLong(v))
  def probeBinary(t: CuckooTable, v: Array[Byte]): Any = t.contains(CuckooTable.itemHashBytes(v))
}

/**
 * How a Spark value becomes a sketch key: LONG, INT, SHORT and TINYINT
 * widen to a long, a STRING is its UTF-8 bytes, BINARY stays as it is.
 * Each SQL function accepts its own subset of these types.
 */
object SketchKey {
  /** Key types of `bloom_agg` and `cms_agg`. */
  val BuildTypes: Seq[DataType] =
    Seq(LongType, IntegerType, ShortType, ByteType, StringType, BinaryType)
  /** Key types of `bloom_might_contain` and `cms_estimate`. */
  val ProbeTypes: Seq[DataType] = BuildTypes.filterNot(_ == BinaryType)
  /** Key types of `cuckoo_agg` and `cuckoo_contains`. */
  val CuckooTypes: Seq[DataType] = Seq(LongType, IntegerType, StringType)

  /** `role` is "input" for a build, "probe" for a probe. */
  def check(fn: String, role: String, dt: DataType, accepted: Seq[DataType]): TypeCheckResult =
    if (accepted.contains(dt)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$fn does not support $role type ${dt.catalogString}")

  /** The bytes a non-null STRING or BINARY key hashes as; null for the
    * other key types, which hash as [[long]]. */
  def bytes(v: Any): Array[Byte] = v match {
    case s: UTF8String  => s.getBytes
    case b: Array[Byte] => b
    case _              => null
  }

  /** The long a non-null LONG, INT, SHORT or TINYINT key hashes as. */
  def long(v: Any): Long = v match {
    case l: java.lang.Long    => l
    case i: java.lang.Integer => i.longValue
    case s: java.lang.Short   => s.longValue
    case b: java.lang.Byte    => b.longValue
    case _ => throw new IllegalStateException(s"unsupported key value ${v.getClass}")
  }

  /** The codegen form of [[bytes]] and [[long]]: Java that passes the value `v` as a
    * key to the call `long` or `binary` builds. */
  def gen(dt: DataType, v: String, long: String => String, binary: String => String): String =
    dt match {
      case LongType                           => long(v)
      case IntegerType | ShortType | ByteType => long(s"(long)$v")
      case StringType                         => binary(s"$v.getBytes()")
      case BinaryType                         => binary(v)
      case _ => throw new IllegalStateException(s"unsupported key type $dt")
    }
}

/**
 * One-entry memo of a parsed sketch. A probe's sketch argument is usually
 * the same for every row (a binary literal, or a broadcast one-row join),
 * so the last bytes are kept and compared by identity, then by content,
 * before parsing again. A sketch that really varies per row parses per
 * row: correct, only slower. Not thread-safe: each task holds its own
 * copy of the expression, and the expression holds it `@transient`.
 */
final class ParseCache[P](parse: Array[Byte] => P) {
  private var bytes: Array[Byte] = _
  private var parsed: P = _

  def apply(b: Array[Byte]): P = {
    if ((b ne bytes) && (bytes == null || !java.util.Arrays.equals(b, bytes))) {
      parsed = parse(b)
      bytes = b
    }
    parsed
  }
}
