package graft.sketches

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.{BinaryLike, QuaternaryLike, TernaryLike}
import org.apache.spark.sql.types._
import org.apache.spark.util.sketch.{BloomFilter, CountMinSketch}

/**
 * A distributed sketch build: one sketch per partition (map-side partial
 * aggregation), merged by the codec at the final aggregation, returned as
 * its serialized bytes. The sizing arguments must be constants, and each
 * non-null input value becomes a key through [[SketchKey]].
 */
trait SketchBuildAgg[S] extends TypedImperativeAggregate[S] {
  protected def codec: SketchCodec[S]
  /** The column whose values become keys; the other children are the
    * sizing arguments. */
  def child: Expression
  protected def keyTypes: Seq[DataType]
  /** Completes "`prettyName` ..." when a sizing argument is not constant. */
  protected def paramsMustBeConstant: String
  /** Checks the constant sizing values. */
  protected def checkParams(): TypeCheckResult = TypeCheckResult.TypeCheckSuccess

  override def checkInputDataTypes(): TypeCheckResult =
    if (!children.filterNot(_ eq child).forall(_.foldable)) {
      TypeCheckResult.TypeCheckFailure(s"$prettyName $paramsMustBeConstant")
    } else {
      val sizing = checkParams()
      if (sizing.isFailure) sizing
      else SketchKey.check(prettyName, "input", child.dataType, keyTypes)
    }

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false

  override def update(buffer: S, input: InternalRow): S = {
    val v = child.eval(input)
    if (v != null) codec.add(buffer, v)
    buffer
  }

  override def merge(buffer: S, other: S): S = codec.merge(buffer, other)
  override def eval(buffer: S): Any = codec.write(buffer)
  override def serialize(buffer: S): Array[Byte] = codec.write(buffer)
  override def deserialize(bytes: Array[Byte]): S = codec.read(bytes)
}

/**
 * Distributed Bloom-filter construction as a Catalyst aggregate.
 *
 * `bloom_agg(col, expectedItems, fpp)` builds one
 * [[org.apache.spark.util.sketch.BloomFilter]] per partition (map-side
 * partial aggregation), merges them via bitwise OR (`mergeInPlace`) at the
 * final aggregation, and returns the serialized filter as `BinaryType`.
 * Because the merge is an exact homomorphism (bit-OR), the result is
 * independent of partitioning — the property that makes the structure
 * distributable (Bloom, CACM 1970).
 *
 * This is the engine's own facade over the public `spark-sketch` classes;
 * it deliberately does not reuse Spark's internal `BloomFilterAggregate`
 * so the surface stays stable across Spark versions (SURVEY.md §7 M1).
 *
 * Capability rebuilt from the reference's Bloom-filter stream-membership
 * stage (reference mount was empty at survey time; semantics per
 * SURVEY.md §2c `[repo-id]`/`[paper:Bloom70]`).
 */
case class BloomBuildAgg(
    child: Expression,
    estimatedItemsExpr: Expression,
    fppExpr: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends SketchBuildAgg[BloomFilter] with TernaryLike[Expression] {

  def this(child: Expression, estimatedItemsExpr: Expression, fppExpr: Expression) =
    this(child, estimatedItemsExpr, fppExpr, 0, 0)

  private lazy val estimatedItems: Long =
    estimatedItemsExpr.eval().asInstanceOf[Number].longValue()
  private lazy val fpp: Double =
    fppExpr.eval().asInstanceOf[Number].doubleValue()

  override def first: Expression = child
  override def second: Expression = estimatedItemsExpr
  override def third: Expression = fppExpr

  override protected def codec: SketchCodec[BloomFilter] = Bloom
  override protected def keyTypes: Seq[DataType] = SketchKey.BuildTypes
  override protected def paramsMustBeConstant: String = "expectedItems and fpp must be constants"
  override def prettyName: String = "bloom_agg"

  override def createAggregationBuffer(): BloomFilter =
    BloomFilter.create(estimatedItems, fpp)

  override def withNewMutableAggBufferOffset(newOffset: Int): BloomBuildAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BloomBuildAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): BloomBuildAgg =
    copy(child = newFirst, estimatedItemsExpr = newSecond, fppExpr = newThird)
}

/**
 * Distributed Count-Min-Sketch construction as a Catalyst aggregate.
 *
 * `cms_agg(col, eps, confidence, seed)` maintains one d×w counter matrix
 * per partition (w = ⌈e/ε⌉, d = ⌈ln(1/δ)⌉), merged by element-wise
 * addition (`mergeInPlace`) — an exact homomorphism, so the sketch is
 * identical no matter how rows are partitioned (Cormode & Muthukrishnan,
 * J. Algorithms 2005). Result is the serialized sketch as `BinaryType`;
 * point queries via [[CmsEstimate]].
 *
 * Spark ships a built-in `count_min_sketch` SQL aggregate with the same
 * contract; this class exists as the engine's own stable facade (the same
 * serialized format, [[Cms]], so the two interoperate) and to carry
 * per-row increments later if needed.
 *
 * Capability rebuilt from the reference's CMS frequency stage
 * (SURVEY.md §2c `[repo-id]`/`[paper:CM05]`; reference mount empty).
 */
case class CmsBuildAgg(
    child: Expression,
    epsExpr: Expression,
    confidenceExpr: Expression,
    seedExpr: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends SketchBuildAgg[CountMinSketch] with QuaternaryLike[Expression] {

  def this(child: Expression, eps: Expression, conf: Expression, seed: Expression) =
    this(child, eps, conf, seed, 0, 0)

  private lazy val eps: Double = epsExpr.eval().asInstanceOf[Number].doubleValue()
  private lazy val confidence: Double =
    confidenceExpr.eval().asInstanceOf[Number].doubleValue()
  private lazy val seed: Int = seedExpr.eval().asInstanceOf[Number].intValue()

  override def first: Expression = child
  override def second: Expression = epsExpr
  override def third: Expression = confidenceExpr
  override def fourth: Expression = seedExpr

  override protected def codec: SketchCodec[CountMinSketch] = Cms
  override protected def keyTypes: Seq[DataType] = SketchKey.BuildTypes
  override protected def paramsMustBeConstant: String = "eps/confidence/seed must be constants"
  override def prettyName: String = "cms_agg"

  override def createAggregationBuffer(): CountMinSketch =
    CountMinSketch.create(eps, confidence, seed)

  override def withNewMutableAggBufferOffset(newOffset: Int): CmsBuildAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CmsBuildAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression, newFourth: Expression): CmsBuildAgg =
    copy(child = newFirst, epsExpr = newSecond,
      confidenceExpr = newThird, seedExpr = newFourth)
}

/** `cuckoo_agg(col, m)` — distributed cuckoo-filter build: one table
  * per partition, merged by fingerprint re-insertion. BinaryType out. */
case class CuckooBuildAgg(
    child: Expression,
    bucketsExpr: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends SketchBuildAgg[CuckooTable] with BinaryLike[Expression] {

  def this(child: Expression, bucketsExpr: Expression) = this(child, bucketsExpr, 0, 0)

  private lazy val m: Int = bucketsExpr.eval().asInstanceOf[Number].intValue()

  override def left: Expression = child
  override def right: Expression = bucketsExpr

  override protected def codec: SketchCodec[CuckooTable] = Cuckoo
  override protected def keyTypes: Seq[DataType] = SketchKey.CuckooTypes
  override protected def paramsMustBeConstant: String = "bucket count must be a constant"
  override def prettyName: String = "cuckoo_agg"

  // validate the VALUE at analysis time too: a null / non-positive /
  // non-power-of-two m would otherwise sail through analysis and
  // blow up later on executors (NPE in the Number cast or the
  // CuckooTable require) — fail here with a clean message instead
  override protected def checkParams(): TypeCheckResult = {
    val mv = bucketsExpr.eval()
    val mOk = mv match {
      case n: Number =>
        val m = n.longValue()
        m > 0 && m <= Int.MaxValue && (m & (m - 1)) == 0
      case _ => false
    }
    if (mOk) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cuckoo_agg bucket count must be a positive power-of-two integer, got $mv")
  }

  override def createAggregationBuffer(): CuckooTable = new CuckooTable(m)

  override def withNewMutableAggBufferOffset(newOffset: Int): CuckooBuildAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CuckooBuildAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CuckooBuildAgg =
    copy(child = newLeft, bucketsExpr = newRight)
}
