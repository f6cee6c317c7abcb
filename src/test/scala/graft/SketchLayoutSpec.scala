package graft

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.nio.ByteBuffer

import org.apache.spark.util.sketch.{BloomFilter, CountMinSketch}
import org.scalatest.funsuite.AnyFunSuite

import graft.sketches.{Bloom, Cms, Cuckoo, CuckooTable}

/** The byte readers of `graft.sketches` against what Spark's `writeTo`
  * and `CuckooTable.serialize` write. */
class SketchLayoutSpec extends AnyFunSuite {

  private def written(bf: BloomFilter): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    bf.writeTo(out)
    out.toByteArray
  }

  for (seed <- Seq(0, 7)) {
    test(s"bloom V2, seed $seed: k, bit count and set bits match the filter") {
      val numBits = BloomFilter.optimalNumOfBits(1000L, 0.01)
      // one key sets k bits, none shared at this size and these seeds
      val one = BloomFilter.create(1000L, numBits, seed)
      one.putLong(42L)
      val k = Bloom.readBits(written(one)).k
      assert(one.cardinality() === k)

      val bf = BloomFilter.create(1000L, numBits, seed)
      (0L until 700L).foreach(i => bf.putLong(i * 31L))
      val bits = Bloom.readBits(written(bf))
      assert((bits.k, bits.seed) === ((k, seed)))
      assert(bits.bitSize === bf.bitSize())
      assert(bits.setBits === bf.cardinality())
    }
  }

  test("cms V1: depth, width, totalCount, hashA and the table match; re-serialization is byte-equal") {
    val (eps, conf, seed) = (0.01, 0.99, 42)
    val cms = CountMinSketch.create(eps, conf, seed)
    val keys = (0L until 5000L).map(i => i * i % 313)
    keys.foreach(cms.addLong)
    val out = new ByteArrayOutputStream()
    cms.writeTo(out)
    val bytes = out.toByteArray
    val c = Cms.readCounters(bytes)

    assert((c.depth, c.width, c.totalCount) === ((cms.depth, cms.width, cms.totalCount)))
    // CountMinSketchImpl draws one multiplier per row from Random(seed)
    val rnd = new java.util.Random(seed)
    assert(c.hashA.toSeq === Seq.fill(c.depth)(rnd.nextInt(Int.MaxValue).toLong))
    // ...and puts key x of row d in cell (hashA[d]·x folded to 31 bits) mod width
    val table = new Array[Long](c.depth * c.width)
    for (x <- keys; d <- 0 until c.depth) {
      var h = c.hashA(d) * x
      h += h >> 32
      table(d * c.width + (h & Int.MaxValue).toInt % c.width) += 1
    }
    assert(c.table.toSeq === table.toSeq)

    val again = new ByteArrayOutputStream()
    val o = new DataOutputStream(again)
    o.writeInt(1); o.writeLong(c.totalCount); o.writeInt(c.depth); o.writeInt(c.width)
    c.hashA.foreach(o.writeLong); c.table.foreach(o.writeLong)
    o.flush()
    assert(again.toByteArray.toSeq === bytes.toSeq)
  }

  test("cuckoo: the header (m, nItems, nDropped) and the slots match CuckooTable.serialize") {
    val m = 64
    val t = new CuckooTable(m)
    // more keys than slots, so nDropped is not 0
    (0L until 300L).foreach(k => t.insert(CuckooTable.itemHashLong(k)))
    assert(t.nDropped > 0L)
    val bytes = t.serialize()
    assert(bytes.length === 4 + 8 + 8 + m * CuckooTable.SlotsPerBucket)
    val in = ByteBuffer.wrap(bytes)
    assert((in.getInt, in.getLong, in.getLong) === ((m, t.nItems, t.nDropped)))

    val back = Cuckoo.read(bytes)
    assert((back.m, back.nItems, back.nDropped) === ((m, t.nItems, t.nDropped)))
    assert(back.table.toSeq === t.table.toSeq)
  }

  test("cuckoo: truncated or corrupt bytes fail with a clean error before allocating") {
    val bytes = new CuckooTable(64).serialize()
    for (bad <- Seq(
        bytes.take(10),                                    // header cut short
        bytes.take(bytes.length - 1),                      // table cut short
        ByteBuffer.wrap(bytes.clone()).putInt(0, Int.MaxValue).array(),  // huge m
        ByteBuffer.wrap(bytes.clone()).putInt(0, -64).array())) {        // negative m
      val e = intercept[IllegalArgumentException](Cuckoo.read(bad))
      assert(e.getMessage.contains("truncated cuckoo filter"))
    }
  }
}
