package graft.sketches

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.util.sketch.{BloomFilter, CountMinSketch}

/**
 * Shared plumbing for scalar probes `f(sketch, value)` over a serialized
 * sketch column.
 *
 * The sketch argument is usually query-constant (a scalar subquery or a
 * broadcast one-row join), so each expression instance parses it through
 * a one-entry [[ParseCache]]: repeated probes against the same sketch pay
 * a single parse. When the column genuinely varies per row (e.g. one
 * sketch per group), the cache misses and we parse per row — still
 * correct, just slower.
 *
 * Every probe generates code (no `CodegenFallback`), so a
 * `filter(bloom_might_contain(...))` stays inside whole-stage codegen —
 * this is the hot path when a 100 TB fact scan is pre-filtered by a
 * dimension-side Bloom filter.
 */
trait SketchProbe[S] extends BinaryExpression {
  protected def codec: SketchCodec[S]
  protected def keyTypes: Seq[DataType]

  @transient private lazy val sketches = new ParseCache(codec.read)

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != BinaryType) {
      TypeCheckResult.TypeCheckFailure(s"$prettyName sketch argument must be BINARY")
    } else SketchKey.check(prettyName, "probe", right.dataType, keyTypes)

  def probeLong(sketch: Array[Byte], v: Long): Any =
    codec.probeLong(sketches(sketch), v)
  def probeBinary(sketch: Array[Byte], v: Array[Byte]): Any =
    codec.probeBinary(sketches(sketch), v)

  override def nullSafeEval(sketch: Any, value: Any): Any =
    codec.probe(sketches(sketch.asInstanceOf[Array[Byte]]), value)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("sketchProbe", this, getClass.getName)
    val boxed = CodeGenerator.boxedType(dataType)
    nullSafeCodeGen(ctx, ev, (sk, v) => {
      val call = SketchKey.gen(right.dataType, v,
        k => s"$ref.probeLong($sk, $k)", k => s"$ref.probeBinary($sk, $k)")
      s"${ev.value} = ($boxed) $call;"
    })
  }
}

/**
 * `bloom_might_contain(sketch, value)` — set-membership probe with no
 * false negatives (Bloom, CACM 1970). Rebuilds the reference's
 * stream-filtering primitive (SURVEY.md §2c) as a first-class Catalyst
 * expression.
 */
case class BloomMightContain(left: Expression, right: Expression)
  extends SketchProbe[BloomFilter] {

  override protected def codec: SketchCodec[BloomFilter] = Bloom
  override protected def keyTypes: Seq[DataType] = SketchKey.ProbeTypes
  override def dataType: DataType = BooleanType
  override def prettyName: String = "bloom_might_contain"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BloomMightContain =
    copy(left = newLeft, right = newRight)
}

/**
 * `cms_estimate(sketch, value)` — Count-Min point frequency query;
 * returns f̂ with f ≤ f̂ ≤ f + ε·N w.p. ≥ 1−δ (Cormode & Muthukrishnan
 * 2005). Rebuilds the reference's per-item frequency query (SURVEY.md
 * §2c). Works against sketches from [[CmsBuildAgg]] or Spark's built-in
 * `count_min_sketch` (same serialized format).
 */
case class CmsEstimate(left: Expression, right: Expression)
  extends SketchProbe[CountMinSketch] {

  override protected def codec: SketchCodec[CountMinSketch] = Cms
  override protected def keyTypes: Seq[DataType] = SketchKey.ProbeTypes
  override def dataType: DataType = LongType
  override def prettyName: String = "cms_estimate"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CmsEstimate =
    copy(left = newLeft, right = newRight)
}

/** `cuckoo_contains(sketch, v)` — codegen'd membership probe. */
case class CuckooContains(left: Expression, right: Expression)
  extends SketchProbe[CuckooTable] {

  override protected def codec: SketchCodec[CuckooTable] = Cuckoo
  override protected def keyTypes: Seq[DataType] = SketchKey.CuckooTypes
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = true
  override def prettyName: String = "cuckoo_contains"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CuckooContains =
    copy(left = newLeft, right = newRight)
}

/**
 * `cms_merge(a, b)` / `bloom_merge(a, b)` scalar merges are provided via
 * [[graft.Graft]] column helpers; cross-partition merging happens inside
 * the aggregates themselves (`mergeInPlace` in partial+final agg).
 */
