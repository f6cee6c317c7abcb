package graft.sketches

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.{BinaryType, DataType}
import org.apache.spark.util.sketch.{BloomFilter, CountMinSketch}

/**
 * Re-aggregation of serialized sketch columns — the `hll_union_agg`
 * pattern for the engine's own sketches (SURVEY.md §2c "CMS merge").
 *
 * A sketch table (`GROUP BY k → cms_agg(...)`) can be rolled up to any
 * coarser grouping by merging the binary sketches; because both merges
 * are exact homomorphisms (counter-add / bit-OR), the merged sketch is
 * byte-identical to one built directly from the union of the inputs —
 * the property that makes sketch tables a valid materialization strategy
 * at 100 TB (build once per partition/day, re-aggregate cheaply forever).
 *
 * Merge preconditions (same d×w/seed, same m/k) are the caller's
 * contract, as with Spark's own `hll_union_agg`; mismatched shapes throw
 * from `mergeInPlace` ([[org.apache.spark.util.sketch.IncompatibleMergeException]]).
 */
trait SketchMergeAgg[S >: Null <: AnyRef]
  extends TypedImperativeAggregate[S] with UnaryLike[Expression] {

  protected def codec: SketchCodec[S]

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case BinaryType => TypeCheckResult.TypeCheckSuccess
      case dt => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects a BINARY serialized sketch, got ${dt.catalogString}")
    }

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  /** Empty buffer is null: the merge of zero sketches is undefined until
    * the first input supplies the shape. */
  override def createAggregationBuffer(): S = null

  override def update(buffer: S, input: InternalRow): S = {
    val v = child.eval(input)
    if (v == null) buffer
    else {
      val incoming = codec.read(v.asInstanceOf[Array[Byte]])
      if (buffer == null) incoming else codec.merge(buffer, incoming)
    }
  }

  override def merge(buffer: S, other: S): S =
    if (buffer == null) other
    else if (other == null) buffer
    else codec.merge(buffer, other)

  override def eval(buffer: S): Any = serialize(buffer)

  override def serialize(buffer: S): Array[Byte] =
    if (buffer == null) null else codec.write(buffer)

  override def deserialize(bytes: Array[Byte]): S =
    if (bytes == null) null else codec.read(bytes)
}

/** `cms_merge_agg(sketchCol)` — element-wise counter addition. */
case class CmsMergeAgg(
    child: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends SketchMergeAgg[CountMinSketch] {

  def this(child: Expression) = this(child, 0, 0)

  override protected def codec: SketchCodec[CountMinSketch] = Cms
  override def prettyName: String = "cms_merge_agg"

  override def withNewMutableAggBufferOffset(newOffset: Int): CmsMergeAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CmsMergeAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): CmsMergeAgg =
    copy(child = newChild)
}

/** `bloom_merge_agg(sketchCol)` — bitwise OR. */
case class BloomMergeAgg(
    child: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends SketchMergeAgg[BloomFilter] {

  def this(child: Expression) = this(child, 0, 0)

  override protected def codec: SketchCodec[BloomFilter] = Bloom
  override def prettyName: String = "bloom_merge_agg"

  override def withNewMutableAggBufferOffset(newOffset: Int): BloomMergeAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BloomMergeAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): BloomMergeAgg =
    copy(child = newChild)
}
