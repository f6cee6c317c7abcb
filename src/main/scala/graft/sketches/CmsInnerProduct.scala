package graft.sketches

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType, LongType}

/**
 * Join-cardinality estimation from two Count-Min sketches — the inner
 * product construction of Cormode & Muthukrishnan (J. Algorithms 2005,
 * §4.2): for sketches of frequency vectors a and b built with the SAME
 * (depth, width, hash family),
 *
 *   (a·b)̂ = min over rows d of  Σ_w  tableA[d][w] · tableB[d][w]
 *
 * and  a·b ≤ (a·b)̂ ≤ a·b + ε‖a‖₁‖b‖₁  with probability ≥ 1−δ. Since
 * a·b on key-frequency vectors IS |A ⋈ B| on that key, two constant-size
 * sketches answer "how big would this join be?" without executing the
 * join — the planner-side cardinality probe that decides broadcast vs
 * shuffle strategy at 100 TB, for the price of two one-row aggregates.
 *
 * The lower bound (never underestimates) is deterministic, not
 * probabilistic: every counter is a sum over true frequencies, so each
 * row's inner product ≥ a·b exactly.
 *
 * `CountMinSketch` does not expose its counter matrix, so the probe reads
 * the serialized form through [[Cms.readCounters]].
 *
 * Per-row sums saturate at Long.MaxValue (counters are ~N per side, so a
 * cell product can exceed 2⁶³ near 10¹⁰ rows/side); saturation only ever
 * raises the estimate, preserving the no-underestimate contract.
 *
 * Capability extension of the reference's CMS frequency stage
 * (SURVEY.md §2c `[paper:CM05]`; reference mount empty).
 */
case class CmsInnerProduct(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "cms_inner_product"

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != BinaryType || right.dataType != BinaryType) {
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName arguments must both be BINARY serialized CMS sketches")
    } else TypeCheckResult.TypeCheckSuccess

  // the sketches are usually query constants (broadcast one-row joins),
  // so repeated evaluations parse each binary once
  @transient private lazy val lefts = new ParseCache(Cms.readCounters)
  @transient private lazy val rights = new ParseCache(Cms.readCounters)

  def innerProduct(lb: Array[Byte], rb: Array[Byte]): Long = {
    val a = lefts(lb)
    val b = rights(rb)
    require(a.sameFamily(b),
      s"$prettyName requires sketches built with the same eps/confidence/seed " +
        s"(got ${a.depth}x${a.width} vs ${b.depth}x${b.width} or differing hash families)")
    var best = Long.MaxValue
    var d = 0
    while (d < a.depth) {
      var sum = 0L
      var saturated = false
      val base = d * a.width
      var w = 0
      while (w < a.width && !saturated) {
        val x = a.table(base + w)
        val y = b.table(base + w)
        if (x != 0L && y != 0L) {
          // counters are nonnegative sums of counts, so the product fits
          // a signed long iff the high word is 0 AND the low word's sign
          // bit is clear (product < 2^63)
          val hi = Math.multiplyHigh(x, y)
          val lo = x * y
          if (hi != 0L || lo < 0L) saturated = true
          else {
            val s = sum + lo
            if (s < sum) saturated = true else sum = s
          }
        }
        w += 1
      }
      if (!saturated && sum < best) best = sum
      d += 1
    }
    // all rows saturated ⇒ the estimate itself saturates high
    best
  }

  override def nullSafeEval(l: Any, r: Any): Any =
    innerProduct(l.asInstanceOf[Array[Byte]], r.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cmsIp", this, classOf[CmsInnerProduct].getName)
    nullSafeCodeGen(ctx, ev, (l, r) => s"${ev.value} = $ref.innerProduct($l, $r);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CmsInnerProduct =
    copy(left = newLeft, right = newRight)
}
