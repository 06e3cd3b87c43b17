package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, GenericInternalRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.{GenericArrayData, TypeUtils}
import org.apache.spark.sql.types._
import org.apache.spark.sql.Column

/** `heavy_hitters(value, k)` — a Misra–Gries frequency summary with k
  * counters per group, returned as an array of `(item, est)` structs
  * sorted by (est DESC, item ASC).
  *
  * The scale story for vocabulary statistics: `q_tx_ngram_top`'s exact
  * top-k aggregates the FULL vocabulary (every distinct n-gram becomes
  * a group) before truncating — at 100 TB of web text the vocabulary
  * itself is the memory problem. This sketch holds at most k counters
  * at every stage: updates are O(1) amortized (the decrement step is
  * O(k) but runs at most once per k stream items), partial aggregation
  * combines map-side, and only (group, k-struct-array) digests reach
  * the shuffle — state and network are O(k·groups) regardless of
  * vocabulary size, the same contract as [[TopKBy]] and
  * [[BoundedCollect]].
  *
  * Guarantees (the classic MG bound, preserved under merging per
  * Agarwal et al., "Mergeable Summaries", PODS'12): for a stream of N
  * items, every counter satisfies `true − N/k ≤ est ≤ true`, and any
  * item with true count > N/k is GUARANTEED to be present. Estimates
  * depend on stream/merge order (like every MG implementation), so the
  * sketch is spec-bounded against its exact twin rather than
  * hash-oracled — the same verification class as the HLL++/quantile
  * sketch rows.
  *
  * Merge rule: pointwise-add the two counter maps; if more than k
  * counters survive, subtract the (k+1)-th largest value from all and
  * drop the non-positive ones (the mergeable-summaries construction
  * that preserves the N/k error bound).
  */
case class HeavyHitters(
    child: Expression,
    kExpr: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.HashMap[Any, Long]]
  with BinaryLike[Expression] {

  private lazy val k: Int =
    kExpr.eval(InternalRow.empty).asInstanceOf[Number].intValue()

  private lazy val itemOrdering: Ordering[Any] =
    TypeUtils.getInterpretedOrdering(child.dataType).asInstanceOf[Ordering[Any]]

  override def left: Expression = child
  override def right: Expression = kExpr

  override def checkInputDataTypes(): TypeCheckResult =
    if (!kExpr.foldable || kExpr.dataType != IntegerType)
      TypeCheckResult.TypeCheckFailure(
        s"heavy_hitters k must be an INT literal, got ${kExpr.sql}")
    else if (kExpr.eval(InternalRow.empty) == null ||
      kExpr.eval(InternalRow.empty).asInstanceOf[Number].intValue() < 1)
      TypeCheckResult.TypeCheckFailure("heavy_hitters k must be >= 1")
    else if (!org.apache.spark.sql.catalyst.expressions.RowOrdering
      .isOrderable(child.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"heavy_hitters value type ${child.dataType.sql} is not orderable")
    else TypeCheckResult.TypeCheckSuccess

  private def entryType: StructType = StructType(Seq(
    StructField("item", child.dataType, nullable = false),
    StructField("est", LongType, nullable = false)))

  override def dataType: DataType = ArrayType(entryType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "heavy_hitters"

  override def createAggregationBuffer(): mutable.HashMap[Any, Long] =
    mutable.HashMap.empty[Any, Long]

  override def update(
      buffer: mutable.HashMap[Any, Long], input: InternalRow): mutable.HashMap[Any, Long] = {
    val v = child.eval(input)
    if (v != null) {
      val item = InternalRow.copyValue(v)
      buffer.get(item) match {
        case Some(c) => buffer.update(item, c + 1)
        case None if buffer.size < k => buffer.update(item, 1L)
        case None => // decrement-all: the MG step that pays for the bound
          val dead = mutable.ArrayBuffer.empty[Any]
          buffer.foreach { case (it, c) =>
            if (c == 1L) dead += it else buffer.update(it, c - 1)
          }
          dead.foreach(buffer.remove)
      }
    }
    buffer
  }

  /** Shrink an over-capacity merged map back to k counters, preserving
    * the MG bound: subtract the (k+1)-th largest count everywhere. */
  private def shrink(buffer: mutable.HashMap[Any, Long]): mutable.HashMap[Any, Long] = {
    if (buffer.size > k) {
      val counts = buffer.values.toArray
      java.util.Arrays.sort(counts)
      val cut = counts(counts.length - k - 1) // (k+1)-th largest
      val dead = mutable.ArrayBuffer.empty[Any]
      buffer.foreach { case (it, c) =>
        if (c - cut <= 0L) dead += it else buffer.update(it, c - cut)
      }
      dead.foreach(buffer.remove)
    }
    buffer
  }

  override def merge(
      buffer: mutable.HashMap[Any, Long],
      other: mutable.HashMap[Any, Long]): mutable.HashMap[Any, Long] = {
    other.foreach { case (it, c) =>
      buffer.update(it, buffer.getOrElse(it, 0L) + c)
    }
    shrink(buffer)
  }

  override def eval(buffer: mutable.HashMap[Any, Long]): Any = {
    val sorted = buffer.toArray.sortWith { case ((i1, c1), (i2, c2)) =>
      if (c1 != c2) c1 > c2 else itemOrdering.lt(i1, i2)
    }
    new GenericArrayData(sorted.map { case (it, c) =>
      new GenericInternalRow(Array[Any](it, c))
    })
  }

  private lazy val projection =
    UnsafeProjection.create(Array[DataType](dataType))

  override def serialize(obj: mutable.HashMap[Any, Long]): Array[Byte] = {
    val arr = new GenericArrayData(obj.toArray.map { case (it, c) =>
      new GenericInternalRow(Array[Any](it, c))
    })
    projection.apply(InternalRow.apply(arr)).getBytes
  }

  override def deserialize(bytes: Array[Byte]): mutable.HashMap[Any, Long] = {
    val buffer = createAggregationBuffer()
    val row = new UnsafeRow(1)
    row.pointTo(bytes, bytes.length)
    row.getArray(0).foreach(entryType, { (_, v) =>
      val r = v.asInstanceOf[InternalRow]
      buffer.update(r.get(0, child.dataType), r.getLong(1))
    })
    buffer
  }

  override def withNewMutableAggBufferOffset(n: Int): HeavyHitters =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): HeavyHitters =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(child = newLeft, kExpr = newRight)
}

/** Registry + Column surface, mirroring [[TopKByFunctions]]. */
object HeavyHittersFunctions {

  val info = new ExpressionInfo(classOf[HeavyHitters].getName, "heavy_hitters")

  val builder: Seq[Expression] => Expression = {
    case Seq(c, l) => HeavyHitters(c, l)
    case other => throw new IllegalArgumentException(
      s"heavy_hitters takes 2 arguments, got ${other.length}")
  }

  /** Misra–Gries summary of `c` with `k` counters. Requires
    * [[graft.Tables.registerFunctions]] on the session. */
  def heavyHitters(c: Column, k: Int): Column =
    org.apache.spark.sql.functions.call_function(
      "heavy_hitters", c, org.apache.spark.sql.functions.lit(k))
}
