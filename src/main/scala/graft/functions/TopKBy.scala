package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.{GenericArrayData, TypeUtils}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType}
import org.apache.spark.sql.Column

/** `top_k_by(value, k)` — the k LARGEST elements per group under the
  * value type's natural ordering, returned as a descending-sorted array.
  *
  * This is the aggregate form of "top-k per group". The window
  * formulation (`row_number() OVER (PARTITION BY g ORDER BY v DESC) <= k`)
  * must SORT every group in full — at 100 TB that is a per-key sort of
  * the whole fact just to keep 3 rows per key. This aggregate keeps a
  * bounded min-heap of size k per group at every stage: updates are
  * O(log k) only when the candidate beats the current floor, partial
  * aggregation combines on the map side, and only (group, k-array)
  * digests ever reach the shuffle — state and network are O(k·groups)
  * regardless of fact size.
  *
  * Pass a `struct(sortKey…, tiebreaker, payload…)`: the lexicographic
  * struct ordering makes "largest" well-defined, and a unique tiebreaker
  * (an id column) makes the result deterministic under any partition
  * order — without one, ties would surface arbitrary members.
  */
case class TopKBy(
    child: Expression,
    limitExpr: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.PriorityQueue[Any]]
  with BinaryLike[Expression] {

  private lazy val limit: Int =
    limitExpr.eval(InternalRow.empty).asInstanceOf[Number].intValue()

  private lazy val ordering: Ordering[Any] =
    TypeUtils.getInterpretedOrdering(child.dataType).asInstanceOf[Ordering[Any]]

  // min-heap: the head is the smallest kept element (the eviction floor)
  private lazy val heapOrdering: Ordering[Any] = ordering.reverse

  override def left: Expression = child
  override def right: Expression = limitExpr

  override def checkInputDataTypes(): TypeCheckResult =
    if (!limitExpr.foldable || limitExpr.dataType != IntegerType)
      TypeCheckResult.TypeCheckFailure(
        s"top_k_by k must be an INT literal, got ${limitExpr.sql}")
    else if (limitExpr.eval(InternalRow.empty) == null ||
      limitExpr.eval(InternalRow.empty).asInstanceOf[Number].intValue() < 1)
      TypeCheckResult.TypeCheckFailure("top_k_by k must be >= 1")
    else if (!org.apache.spark.sql.catalyst.expressions.RowOrdering
      .isOrderable(child.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"top_k_by value type ${child.dataType.sql} is not orderable")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = ArrayType(child.dataType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "top_k_by"

  override def createAggregationBuffer(): mutable.PriorityQueue[Any] =
    mutable.PriorityQueue.empty[Any](heapOrdering)

  private def offer(buffer: mutable.PriorityQueue[Any], v: Any): Unit =
    if (buffer.size < limit) buffer.enqueue(v)
    else if (ordering.gt(v, buffer.head)) { buffer.dequeue(); buffer.enqueue(v) }

  override def update(
      buffer: mutable.PriorityQueue[Any], input: InternalRow): mutable.PriorityQueue[Any] = {
    val v = child.eval(input)
    if (v != null) offer(buffer, InternalRow.copyValue(v))
    buffer
  }

  override def merge(
      buffer: mutable.PriorityQueue[Any],
      other: mutable.PriorityQueue[Any]): mutable.PriorityQueue[Any] = {
    other.foreach(offer(buffer, _))
    buffer
  }

  override def eval(buffer: mutable.PriorityQueue[Any]): Any =
    new GenericArrayData(buffer.toArray.sorted(ordering.reverse))

  private lazy val projection = UnsafeProjection.create(
    Array[DataType](ArrayType(child.dataType, containsNull = false)))

  override def serialize(obj: mutable.PriorityQueue[Any]): Array[Byte] =
    projection.apply(InternalRow.apply(new GenericArrayData(obj.toArray))).getBytes

  override def deserialize(bytes: Array[Byte]): mutable.PriorityQueue[Any] = {
    val buffer = createAggregationBuffer()
    val row = new UnsafeRow(1)
    row.pointTo(bytes, bytes.length)
    row.getArray(0).foreach(child.dataType, (_, v) => buffer.enqueue(v))
    buffer
  }

  override def withNewMutableAggBufferOffset(n: Int): TopKBy =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): TopKBy =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(child = newLeft, limitExpr = newRight)
}

/** Registry + Column surface, mirroring [[BoundedCollectFunctions]]. */
object TopKByFunctions {

  val info = new ExpressionInfo(classOf[TopKBy].getName, "top_k_by")

  val builder: Seq[Expression] => Expression = {
    case Seq(c, l) => TopKBy(c, l)
    case other => throw new IllegalArgumentException(
      s"top_k_by takes 2 arguments, got ${other.length}")
  }

  /** The k largest `c` values per group, descending. Requires
    * [[graft.Tables.registerFunctions]] on the session. */
  def topKBy(c: Column, k: Int): Column =
    org.apache.spark.sql.functions.call_function(
      "top_k_by", c, org.apache.spark.sql.functions.lit(k))
}
