package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType}
import org.apache.spark.sql.Column

/** `bounded_collect(value, k)` — `collect_list` with a hard per-group
  * element cap, the missing primitive under every doc-frequency-capped
  * group-collect in the dedup family.
  *
  * `collect_list` + `filter(size <= K)` CLASSIFIES groups correctly but
  * still materializes the whole group first: one web-scale stop-shingle
  * or degenerate LSH band key (millions of identical boilerplate
  * signatures) builds a million-element buffer before the filter ever
  * sees it — the group that OOMs an executor. This aggregate keeps AT
  * MOST k elements per group at every stage (update and merge both stop
  * adding once full), so memory is O(k) per group no matter the true
  * group size.
  *
  * Contract: callers pass k = cap + 1. A result of size <= cap is the
  * COMPLETE group (order unspecified — downstream must be
  * order-insensitive, e.g. all-pairs generation). A result of size
  * cap + 1 means the group overflowed; WHICH elements survived is
  * partition-order-dependent, so overflowed groups must only be used as
  * a boolean hot-key signal (drop the bucket / route to the hot-side
  * path), never for their contents.
  */
case class BoundedCollectList(
    child: Expression,
    limitExpr: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.ArrayBuffer[Any]]
  with BinaryLike[Expression] {

  private lazy val limit: Int =
    limitExpr.eval(InternalRow.empty).asInstanceOf[Number].intValue()

  override def left: Expression = child
  override def right: Expression = limitExpr

  override def checkInputDataTypes(): TypeCheckResult =
    if (!limitExpr.foldable || limitExpr.dataType != IntegerType)
      TypeCheckResult.TypeCheckFailure(
        s"bounded_collect cap must be an INT literal, got ${limitExpr.sql}")
    else if (limitExpr.eval(InternalRow.empty) == null ||
      limitExpr.eval(InternalRow.empty).asInstanceOf[Number].intValue() < 1)
      TypeCheckResult.TypeCheckFailure("bounded_collect cap must be >= 1")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = ArrayType(child.dataType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "bounded_collect"

  override def createAggregationBuffer(): mutable.ArrayBuffer[Any] =
    mutable.ArrayBuffer.empty[Any]

  override def update(
      buffer: mutable.ArrayBuffer[Any], input: InternalRow): mutable.ArrayBuffer[Any] = {
    if (buffer.length < limit) {
      val v = child.eval(input)
      if (v != null) buffer += InternalRow.copyValue(v)
    }
    buffer
  }

  override def merge(
      buffer: mutable.ArrayBuffer[Any],
      other: mutable.ArrayBuffer[Any]): mutable.ArrayBuffer[Any] = {
    var i = 0
    while (buffer.length < limit && i < other.length) {
      buffer += other(i)
      i += 1
    }
    buffer
  }

  override def eval(buffer: mutable.ArrayBuffer[Any]): Any =
    new GenericArrayData(buffer.toArray)

  private lazy val projection = UnsafeProjection.create(
    Array[DataType](ArrayType(child.dataType, containsNull = false)))

  override def serialize(obj: mutable.ArrayBuffer[Any]): Array[Byte] =
    projection.apply(InternalRow.apply(new GenericArrayData(obj.toArray))).getBytes

  override def deserialize(bytes: Array[Byte]): mutable.ArrayBuffer[Any] = {
    val buffer = mutable.ArrayBuffer.empty[Any]
    val row = new UnsafeRow(1)
    row.pointTo(bytes, bytes.length)
    row.getArray(0).foreach(child.dataType, (_, v) => buffer += v)
    buffer
  }

  override def withNewMutableAggBufferOffset(n: Int): BoundedCollectList =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): BoundedCollectList =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(child = newLeft, limitExpr = newRight)
}

/** Registry + Column surface, mirroring [[VectorFunctions]]. */
object BoundedCollectFunctions {

  val info = new ExpressionInfo(classOf[BoundedCollectList].getName, "bounded_collect")

  val builder: Seq[Expression] => Expression = {
    case Seq(c, l) => BoundedCollectList(c, l)
    case other => throw new IllegalArgumentException(
      s"bounded_collect takes 2 arguments, got ${other.length}")
  }

  /** Collect at most `cap` elements per group (complete iff the group
    * has <= cap members — pass the detection cap + 1 and treat full
    * results as overflow). Requires [[graft.Tables.registerFunctions]] on the session. */
  def boundedCollect(c: Column, cap: Int): Column =
    org.apache.spark.sql.functions.call_function(
      "bounded_collect", c, org.apache.spark.sql.functions.lit(cap))
}
