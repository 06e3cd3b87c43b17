package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.sql.Column

/** `gram_tri(vec, scale)` — the exact fixed-point upper-triangle gram
  * digest of an `array<double>` column: one flat `array<bigint>` of
  * `dims*(dims+1)/2` cells where cell (i <= j) holds
  * `Σ_rows round(v[i]*v[j]*scale)` in row-major triangle order.
  *
  * This is distributed PCA's hot path fused into a single native
  * aggregate. The declarative form (nested `transform` building the
  * per-row product array, `posexplode`, hash aggregate over dims²/2
  * groups) evaluates interpreted HOFs per element and shuffles an
  * exploded row per cell; this aggregate runs the same arithmetic as
  * one tight JVM loop per row into a primitive long buffer, combines
  * map-side like any TypedImperativeAggregate, and ships ONE
  * 2080-cell digest per partition. Semantics are identical — rounding
  * is Spark `round()`'s BigDecimal HALF_UP exactly: a floor/ceil ±0.5
  * fast path for every unambiguous value, falling back to BigDecimal
  * whenever the shifted value lands exactly on an integer (genuine
  * ties AND boundary artifacts like nextDown(0.5), whose +0.5 sum
  * tie-rounds up to 1.0 — the case a bare floor emulation gets wrong).
  *
  * Sums are exact integers, so partial aggregation order cannot
  * perturb the result — the retry/partitioning-stability contract all
  * fixed-point digests in this engine carry.
  */
case class GramTri(
    child: Expression,
    scaleExpr: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]]
  with BinaryLike[Expression] {

  private lazy val scale: Double =
    scaleExpr.eval(InternalRow.empty).asInstanceOf[Number].doubleValue()

  override def left: Expression = child
  override def right: Expression = scaleExpr

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) =>
      if (!scaleExpr.foldable || scaleExpr.dataType != DoubleType)
        TypeCheckResult.TypeCheckFailure(
          s"gram_tri scale must be a DOUBLE literal, got ${scaleExpr.sql}")
      else TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"gram_tri expects array<double>, got ${t.sql}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "gram_tri"

  private def roundHalfUp(x: Double): Long = GramTriFunctions.roundHalfUp(x)

  override def createAggregationBuffer(): Array[Long] = Array.emptyLongArray

  // Static: does the child's TYPE admit null elements? (Most derived
  // array<double> columns do even when the data is dense.)
  private lazy val mayContainNulls: Boolean = child.dataType match {
    case ArrayType(_, cn) => cn
    case _ => false
  }

  override def update(buffer: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v == null) return buffer
    val ad = v.asInstanceOf[ArrayData]
    // toDoubleArray materializes null ELEMENTS as 0.0 (or raw buffer
    // bytes) silently, while the DuckDB oracle's round(NULL*x) drops
    // the cell — a sparse vector must fail loudly, not diverge.
    if (mayContainNulls) {
      var k = 0
      val n = ad.numElements()
      while (k < n) {
        if (ad.isNullAt(k)) throw new IllegalArgumentException(
          s"gram_tri: null element at index $k - dense array<double> " +
            "required; drop or impute null cells upstream")
        k += 1
      }
    }
    val arr = ad.toDoubleArray()
    val dims = arr.length
    val cells = dims * (dims + 1) / 2
    val buf =
      if (buffer.length == 0) new Array[Long](cells)
      else {
        require(buffer.length == cells,
          s"gram_tri: inconsistent dims - buffer has ${buffer.length} cells, row needs $cells")
        buffer
      }
    var p = 0
    var i = 0
    while (i < dims) {
      val xi = arr(i)
      var j = i
      while (j < dims) {
        buf(p) += roundHalfUp(xi * arr(j) * scale)
        p += 1
        j += 1
      }
      i += 1
    }
    buf
  }

  override def merge(buffer: Array[Long], other: Array[Long]): Array[Long] = {
    if (other.length == 0) return buffer
    if (buffer.length == 0) return other
    require(buffer.length == other.length,
      s"gram_tri: merging digests of different dims (${buffer.length} vs ${other.length})")
    var p = 0
    while (p < buffer.length) { buffer(p) += other(p); p += 1 }
    buffer
  }

  override def eval(buffer: Array[Long]): Any =
    if (buffer.length == 0) null
    else new GenericArrayData(buffer)

  override def serialize(obj: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 * obj.length)
    obj.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    Array.fill(bytes.length / 8)(bb.getLong)
  }

  override def withNewMutableAggBufferOffset(n: Int): GramTri =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): GramTri =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(child = newLeft, scaleExpr = newRight)
}

/** Registry + Column surface, mirroring [[HeavyHittersFunctions]]. */
object GramTriFunctions {

  /** Spark round() parity: HALF_UP = half away from zero.
    *
    * Fast path: floor(x+0.5) / ceil(x-0.5). The ±0.5 addition can cross
    * an integer boundary only by LANDING on it exactly (the nearest
    * representable below k+ulp is k itself), so whenever the shifted
    * value is integral — a genuine tie like 2.5, or a boundary artifact
    * like nextDown(0.5)+0.5 tie-rounding to 1.0 — the slow path resolves
    * through the same BigDecimal HALF_UP Spark's round() uses. Every
    * non-integral landing is unambiguous and stays on the fast path. */
  private[graft] def roundHalfUp(x: Double): Long = {
    val shifted = if (x >= 0.0) x + 0.5 else x - 0.5
    val r = if (x >= 0.0) math.floor(shifted) else math.ceil(shifted)
    if (shifted == r)
      java.math.BigDecimal.valueOf(x)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()
    else r.toLong
  }

  val info = new ExpressionInfo(classOf[GramTri].getName, "gram_tri")

  val builder: Seq[Expression] => Expression = {
    case Seq(v, s) => GramTri(v, s)
    case other => throw new IllegalArgumentException(
      s"gram_tri takes 2 arguments, got ${other.length}")
  }

  /** Fixed-point upper-triangle gram digest of an array<double> column.
    * Requires [[graft.Tables.registerFunctions]] on the session (Tables.load does it). */
  def gramTri(v: Column, scale: Double): Column =
    org.apache.spark.sql.functions.call_function(
      "gram_tri", v, org.apache.spark.sql.functions.lit(scale))
}
