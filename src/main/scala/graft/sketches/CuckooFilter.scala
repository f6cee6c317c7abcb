package graft.sketches

import org.apache.spark.sql.catalyst.expressions.XXH64

/**
 * Cuckoo filter (Fan, Andersen, Kaminsky, Mitzenmacher: "Cuckoo Filter:
 * Practically Better Than Bloom", CoNEXT 2014) — the sketch-family
 * member the Bloom filter cannot be: an approximate-membership
 * structure that supports DELETION (and usually beats Bloom on space
 * at fpp ≤ 3%). A takedown/right-to-erasure pipeline (q_takedown_delete)
 * that maintains a membership pre-filter needs deletions to keep the
 * filter in sync without rebuilding it over the full corpus.
 *
 * Partial-key cuckoo hashing: each item stores an 8-bit nonzero
 * fingerprint in one of two buckets, i1 = h(x) mod m and
 * i2 = i1 XOR g(fp) (m a power of two), 4 slots per bucket. Because i2
 * is computable from (i1, fp) alone, an entry can be relocated — or
 * MERGED from another filter's table — without the original key, which
 * is what makes the structure distributable: merge re-inserts the other
 * table's (bucket, fp) entries, and every relocation keeps an entry in
 * its two legal buckets. The bucket LAYOUT therefore depends on
 * insertion order, but the MEMBERSHIP answer does not (CuckooSpec pins
 * partition-independence of every probe). Deletion removes one copy of
 * the fingerprint from the probed item's bucket pair; as in the paper,
 * deleting an item is safe only for items actually inserted, and an
 * item sharing both (bucket-pair, fp) with a deleted one keeps
 * answering present — the honest semantic boundary, pinned in the spec.
 *
 * Capacity: `m` buckets × 4 slots. Inserts that overflow the eviction
 * budget increment `nDropped` (a dropped entry would mean false
 * negatives); builders size m so nDropped stays 0 and the spec asserts
 * it.
 */
object CuckooTable {
  val SlotsPerBucket = 4
  val MaxKicks = 500

  def itemHashLong(v: Long): Long = XXH64.hashLong(v, 42L)
  def itemHashBytes(b: Array[Byte]): Long =
    XXH64.hashUnsafeBytes(b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
      b.length, 42L)

  def fingerprint(h: Long): Byte = {
    val f = ((h >>> 32) & 0xffL).toInt
    (if (f == 0) 1 else f).toByte
  }

  /** g(fp): bucket displacement of a fingerprint (nonlinear mix). */
  def altDelta(fp: Byte, m: Int): Int =
    (((fp & 0xff) * 0x5bd1e995) & (m - 1))

  /** Reads a table in the [[Cuckoo]] format. */
  def deserialize(bytes: Array[Byte]): CuckooTable = Cuckoo.read(bytes)
}

final class CuckooTable(val m: Int, val table: Array[Byte],
    var nItems: Long, var nDropped: Long) {
  import CuckooTable._
  require((m & (m - 1)) == 0, s"bucket count must be a power of two, got $m")
  private var lcg: Long = 0x9e3779b97f4a7c15L

  def this(m: Int) = this(m, new Array[Byte](m * CuckooTable.SlotsPerBucket), 0L, 0L)

  private def slot(i: Int, s: Int): Int = i * SlotsPerBucket + s

  private def tryPut(i: Int, fp: Byte): Boolean = {
    var s = 0
    while (s < SlotsPerBucket) {
      if (table(slot(i, s)) == 0) { table(slot(i, s)) = fp; return true }
      s += 1
    }
    false
  }

  /** Insert a fingerprint whose legal buckets are i and i ^ g(fp). */
  def insertAt(i1: Int, fp: Byte): Unit = {
    val i2 = i1 ^ altDelta(fp, m)
    if (tryPut(i1, fp) || tryPut(i2, fp)) { nItems += 1; return }
    // eviction loop (deterministic LCG victim choice)
    var i = i2
    var f = fp
    var kicks = 0
    while (kicks < MaxKicks) {
      lcg = lcg * 6364136223846793005L + 1442695040888963407L
      val victim = ((lcg >>> 33) % SlotsPerBucket).toInt
      val old = table(slot(i, victim))
      table(slot(i, victim)) = f
      f = old
      i = i ^ altDelta(f, m)
      if (tryPut(i, f)) { nItems += 1; return }
      kicks += 1
    }
    nDropped += 1 // would introduce false negatives; builders size m to avoid
  }

  def insert(h: Long): Unit = {
    val fp = fingerprint(h)
    insertAt((h & (m - 1)).toInt, fp)
  }

  def contains(h: Long): Boolean = {
    val fp = fingerprint(h)
    val i1 = (h & (m - 1)).toInt
    val i2 = i1 ^ altDelta(fp, m)
    var s = 0
    while (s < SlotsPerBucket) {
      if (table(slot(i1, s)) == fp || table(slot(i2, s)) == fp) return true
      s += 1
    }
    false
  }

  /** Remove ONE stored copy of the item's fingerprint; true if found. */
  def delete(h: Long): Boolean = {
    val fp = fingerprint(h)
    val i1 = (h & (m - 1)).toInt
    val i2 = i1 ^ altDelta(fp, m)
    var s = 0
    while (s < SlotsPerBucket) {
      if (table(slot(i1, s)) == fp) {
        table(slot(i1, s)) = 0; nItems -= 1; return true
      }
      s += 1
    }
    s = 0
    while (s < SlotsPerBucket) {
      if (table(slot(i2, s)) == fp) {
        table(slot(i2, s)) = 0; nItems -= 1; return true
      }
      s += 1
    }
    false
  }

  /** Merge = re-insert every entry of the other table; (bucket, fp) is
    * all that partial-key cuckoo needs, no original keys required. */
  def mergeInPlace(other: CuckooTable): CuckooTable = {
    require(other.m == m, "cannot merge cuckoo filters of different sizes")
    var i = 0
    while (i < m) {
      var s = 0
      while (s < SlotsPerBucket) {
        val fp = other.table(slot(i, s))
        if (fp != 0) insertAt(i, fp)
        s += 1
      }
      i += 1
    }
    nDropped += other.nDropped
    this
  }

  /** This table in the [[Cuckoo]] format. */
  def serialize(): Array[Byte] = Cuckoo.write(this)
}

/** Driver-side helpers for the bounded-delete demo path. */
object CuckooOps {
  /** Delete each key (one stored copy) from a serialized filter. */
  def deleteLongs(sketch: Array[Byte], keys: Seq[Long]): Array[Byte] = {
    val t = Cuckoo.read(sketch)
    keys.foreach(k => t.delete(CuckooTable.itemHashLong(k)))
    Cuckoo.write(t)
  }
}
