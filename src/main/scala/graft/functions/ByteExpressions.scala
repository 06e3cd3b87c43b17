package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, ImplicitCastInputTypes}
import org.apache.spark.sql.types.{BinaryType, DataType, LongType}
import org.apache.spark.sql.Column

/** Native Catalyst expression for single-byte access into a binary
  * column — the byte-level codec hot path.
  *
  * The container parsers ([[graft.multimodal.Avi]], [[graft.multimodal.Wav]])
  * originally read each byte as
  * `conv(hex(substr(bin, pos, 1)), 16, 10).cast("long")`: one 1-byte
  * binary slice, a hex STRING encode, and a base-16 string parse — three
  * string allocations per byte, per row, inside interpreted aggregate()
  * folds that re-evaluate the accessor per element (no subexpression
  * elimination). On the frame/sample folds this accessor dominated the
  * multimodal family's wall time. `byte_at(bin, pos)` is the same value
  * as that chain — 1-based position with Spark's binary `substring`
  * start semantics (pos 0 reads the first byte, negative counts from the
  * end), NULL when the position falls outside the payload (callers wrap
  * in `coalesce(_, 0)` exactly as the conv chain yielded NULL→0) — as
  * one bounds-checked array read that participates in whole-stage
  * codegen. Bit-identical results; no strings.
  */
case class ByteAt(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  // standard coercion (an INT-literal position widens to BIGINT like
  // every built-in) instead of a strict-type analysis failure
  override def inputTypes: Seq[DataType] = Seq(BinaryType, LongType)

  override def dataType: DataType = LongType

  override def nullable: Boolean = true

  override def prettyName: String = "byte_at"

  // substring-SQL start index: pos>0 → pos-1, pos==0 → 0, pos<0 → n+pos
  private def startOf(pos: Long, n: Int): Long =
    if (pos > 0) pos - 1 else if (pos == 0) 0 else n + pos

  override protected def nullSafeEval(binVal: Any, posVal: Any): Any = {
    val arr = binVal.asInstanceOf[Array[Byte]]
    val start = startOf(posVal.asInstanceOf[Long], arr.length)
    if (start >= 0 && start < arr.length) (arr(start.toInt) & 0xff).toLong
    else null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (bin, pos) => {
      val start = ctx.freshName("start")
      s"""
         |long $start = $pos > 0L ? $pos - 1L
         |  : ($pos == 0L ? 0L : $bin.length + $pos);
         |if ($start >= 0L && $start < $bin.length) {
         |  ${ev.value} = (long)($bin[(int)$start] & 0xFF);
         |} else {
         |  ${ev.isNull} = true;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object ByteFunctions {
  val info = new ExpressionInfo(classOf[ByteAt].getName, "byte_at")

  val builder: Seq[Expression] => Expression = {
    case Seq(a, b) => ByteAt(a, b)
    case other => throw new IllegalArgumentException(
      s"byte_at takes 2 arguments, got ${other.length}")
  }

  /** Codegen'd single-byte read (1-based, NULL out of range).
    * Requires [[graft.Tables.registerFunctions]] on the session (Tables.load does it). */
  def byteAt(bin: Column, pos: Column): Column =
    org.apache.spark.sql.functions.call_function("byte_at", bin, pos)
}
