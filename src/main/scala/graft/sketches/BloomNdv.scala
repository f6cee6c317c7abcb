package graft.sketches

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType, DoubleType}

/**
 * Distinct-count estimation from a Bloom filter's fill ratio — the
 * Swamidass & Baldi estimator (J. Chem. Inf. Model. 2007):
 *
 *   n̂ = −(m/k) · ln(1 − X/m)
 *
 * where m = bit-array size, k = hash count, X = set bits. A Bloom filter
 * built for membership thus answers "how many distinct keys went in?"
 * for free — no second HLL pass over the data. The estimate is exact in
 * expectation for X ≪ m and degrades as the filter fills; a SATURATED
 * filter (X = m) carries no cardinality information and returns +∞
 * rather than a fabricated number.
 *
 * Determinism: Spark's BloomFilter hashes with a fixed-seed Murmur3, so
 * the same inserted multiset always yields the same bit array and the
 * same estimate — safe to compare against thresholds in a hash-checked
 * oracle.
 *
 * The bits come from [[Bloom.readBits]]; only the estimate is cached, the
 * words are not retained.
 *
 * Capability extension of the reference's Bloom membership stage
 * (SURVEY.md §2c `[paper:SB07]`; reference mount empty).
 */
case class BloomNdv(child: Expression) extends UnaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "bloom_ndv"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != BinaryType) {
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName argument must be a BINARY serialized Bloom filter")
    } else TypeCheckResult.TypeCheckSuccess

  @transient private lazy val estimates = new ParseCache(b => fromBits(Bloom.readBits(b)))

  def estimate(bytes: Array[Byte]): Double = estimates(bytes)

  private def fromBits(bits: Bloom.Bits): Double = {
    val m = bits.bitSize.toDouble
    val setBits = bits.setBits
    if (setBits == 0L) 0.0
    else if (setBits >= m) Double.PositiveInfinity
    else -(m / bits.k) * Math.log1p(-(setBits / m))
  }

  override def nullSafeEval(v: Any): Any = estimate(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloomNdv", this, classOf[BloomNdv].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.estimate($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): BloomNdv =
    copy(child = newChild)
}
