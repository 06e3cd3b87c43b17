package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, ImplicitCastInputTypes, QuaternaryExpression, TernaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, LongType}
import org.apache.spark.sql.Column

/** Fused codegen folds for the DIB (uncompressed BMP-layout) frame
  * decodes — the per-pixel hot path of the AVI family.
  *
  * [[graft.multimodal.Avi.decodeDibRows]] and
  * [[graft.multimodal.Avi.frameAHash]] originally expressed their
  * per-row/per-frame pixel folds as `aggregate(sequence(...), ...)`
  * higher-order functions. HOFs are CodegenFallback: the containing
  * codegen'd projection calls an INTERPRETED eval of the whole fold
  * tree per row, re-evaluating the byte accessor per element. These
  * expressions run the identical integer arithmetic — same byte
  * addressing (1-based positions, out-of-range reads as 0, exactly the
  * coalesce(byte_at, 0) the column form uses), same accumulation order,
  * same tie semantics — as one fused JVM loop that participates in
  * whole-stage codegen. All-integer math: bit-identical by
  * construction FOR width ≥ 1 and height ≥ 1, and the DuckDB oracle
  * twins are unchanged. The degenerate-dims caveat: the replaced
  * `aggregate(sequence(0, width-1), …)` folds walked Spark's DESCENDING
  * [0, -1] sequence when width = 0 (two bogus elements, including a
  * from-the-end negative-position byte read), while these loops walk
  * nothing — callers guarantee the precondition structurally
  * (`frame_len === stride * height` admission with positive parsed
  * dims), so the divergence is unreachable on any admitted frame.
  */

/** dib_row_sums(payload, row_off, width) → array<long>[4] of
  * (sum_b, sum_g, sum_r, wsum) over one image row: pixels at 1-based
  * `row_off + x*3` as B,G,R triples, wsum += (x+1)*(b+g+r). */
case class DibRowSums(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ImplicitCastInputTypes {

  // standard coercion (INT literals widen to BIGINT like every built-in)
  override def inputTypes: Seq[DataType] =
    Seq(BinaryType, LongType, LongType)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "dib_row_sums"

  @inline private def u8(arr: Array[Byte], pos: Long): Long = {
    val start = if (pos > 0) pos - 1 else if (pos == 0) 0L else arr.length + pos
    if (start >= 0 && start < arr.length) (arr(start.toInt) & 0xff).toLong else 0L
  }

  override protected def nullSafeEval(p: Any, off: Any, w: Any): Any = {
    val arr = p.asInstanceOf[Array[Byte]]
    val rowOff = off.asInstanceOf[Long]
    val width = w.asInstanceOf[Long]
    var b = 0L; var g = 0L; var r = 0L; var ws = 0L
    var x = 0L
    while (x < width) {
      val base = rowOff + x * 3
      val bv = u8(arr, base); val gv = u8(arr, base + 1); val rv = u8(arr, base + 2)
      b += bv; g += gv; r += rv; ws += (x + 1) * (bv + gv + rv)
      x += 1
    }
    new GenericArrayData(Array(b, g, r, ws))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (p, off, w) => {
      val b = ctx.freshName("b"); val g = ctx.freshName("g")
      val r = ctx.freshName("r"); val ws = ctx.freshName("ws")
      val x = ctx.freshName("x"); val base = ctx.freshName("base")
      val bv = ctx.freshName("bv"); val gv = ctx.freshName("gv")
      val rv = ctx.freshName("rv")
      val u8 = ctx.freshName("u8")
      ctx.addNewFunction(u8,
        s"""
           |private long $u8(byte[] arr, long pos) {
           |  long start = pos > 0L ? pos - 1L : (pos == 0L ? 0L : arr.length + pos);
           |  return (start >= 0L && start < arr.length)
           |    ? (long)(arr[(int)start] & 0xFF) : 0L;
           |}
         """.stripMargin)
      s"""
         |long $b = 0L, $g = 0L, $r = 0L, $ws = 0L;
         |for (long $x = 0L; $x < $w; $x++) {
         |  long $base = $off + $x * 3L;
         |  long $bv = $u8($p, $base);
         |  long $gv = $u8($p, $base + 1L);
         |  long $rv = $u8($p, $base + 2L);
         |  $b += $bv; $g += $gv; $r += $rv;
         |  $ws += ($x + 1L) * ($bv + $gv + $rv);
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  new long[]{$b, $g, $r, $ws});
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

/** dib_ahash(payload, frame_off, width, height) → the 63-bit-max
  * average-hash: luma(i) = b+g+r at storage-order pixel i
  * (x = i mod w, row = (i-x)/w, 1-based byte base
  * frame_off + row*stride + x*3, stride = ((3w+3) div 4)*4); bit i is
  * set iff luma(i)*npix >= Σ luma. Two passes, identical to the two
  * aggregate() folds it replaces. */
case class DibAHash(first: Expression, second: Expression,
                    third: Expression, fourth: Expression)
    extends QuaternaryExpression with ImplicitCastInputTypes {

  // standard coercion (INT literals widen to BIGINT like every built-in)
  override def inputTypes: Seq[DataType] =
    Seq(BinaryType, LongType, LongType, LongType)

  override def dataType: DataType = LongType

  override def prettyName: String = "dib_ahash"

  override protected def nullSafeEval(p: Any, off: Any, w: Any, h: Any): Any = {
    val arr = p.asInstanceOf[Array[Byte]]
    val frameOff = off.asInstanceOf[Long]
    val width = w.asInstanceOf[Long]
    val height = h.asInstanceOf[Long]
    val stride = ((width * 3 + 3) / 4) * 4
    val npix = width * height
    def luma(i: Long): Long = {
      val x = i % width
      val base = frameOff + ((i - x) / width) * stride + x * 3
      def u8(pos: Long): Long = {
        val start = if (pos > 0) pos - 1 else if (pos == 0) 0L else arr.length + pos
        if (start >= 0 && start < arr.length) (arr(start.toInt) & 0xff).toLong else 0L
      }
      u8(base) + u8(base + 1) + u8(base + 2)
    }
    var total = 0L; var i = 0L
    while (i < npix) { total += luma(i); i += 1 }
    var bits = 0L; i = 0L
    while (i < npix) {
      if (luma(i) * npix >= total) bits += 1L << i.toInt
      i += 1
    }
    bits
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (p, off, w, h) => {
      val luma = ctx.freshName("luma")
      ctx.addNewFunction(luma,
        s"""
           |private long $luma(byte[] arr, long frameOff, long stride,
           |    long width, long i) {
           |  long x = i % width;
           |  long base = frameOff + ((i - x) / width) * stride + x * 3L;
           |  long s = 0L;
           |  for (int k = 0; k < 3; k++) {
           |    long pos = base + k;
           |    long start = pos > 0L ? pos - 1L : (pos == 0L ? 0L : arr.length + pos);
           |    if (start >= 0L && start < arr.length) s += (long)(arr[(int)start] & 0xFF);
           |  }
           |  return s;
           |}
         """.stripMargin)
      val stride = ctx.freshName("stride"); val npix = ctx.freshName("npix")
      val total = ctx.freshName("total"); val bits = ctx.freshName("bits")
      val i = ctx.freshName("i")
      s"""
         |long $stride = (($w * 3L + 3L) / 4L) * 4L;
         |long $npix = $w * $h;
         |long $total = 0L;
         |for (long $i = 0L; $i < $npix; $i++) {
         |  $total += $luma($p, $off, $stride, $w, $i);
         |}
         |long $bits = 0L;
         |for (long $i = 0L; $i < $npix; $i++) {
         |  if ($luma($p, $off, $stride, $w, $i) * $npix >= $total) {
         |    $bits += 1L << (int)$i;
         |  }
         |}
         |${ev.value} = $bits;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression, q: Expression): Expression =
    copy(first = f, second = s, third = t, fourth = q)
}

object DibFunctions {
  val rowSumsInfo = new ExpressionInfo(classOf[DibRowSums].getName, "dib_row_sums")
  val aHashInfo = new ExpressionInfo(classOf[DibAHash].getName, "dib_ahash")

  val rowSumsBuilder: Seq[Expression] => Expression = {
    case Seq(a, b, c) => DibRowSums(a, b, c)
    case other => throw new IllegalArgumentException(
      s"dib_row_sums takes 3 arguments, got ${other.length}")
  }
  val aHashBuilder: Seq[Expression] => Expression = {
    case Seq(a, b, c, d) => DibAHash(a, b, c, d)
    case other => throw new IllegalArgumentException(
      s"dib_ahash takes 4 arguments, got ${other.length}")
  }

  def dibRowSums(bin: Column, rowOff: Column, width: Column): Column =
    org.apache.spark.sql.functions.call_function(
      "dib_row_sums", bin, rowOff, width)

  def dibAHash(bin: Column, frameOff: Column, width: Column, height: Column): Column =
    org.apache.spark.sql.functions.call_function(
      "dib_ahash", bin, frameOff, width, height)
}
