package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, ImplicitCastInputTypes, TernaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, LongType}
import org.apache.spark.sql.Column

/** Fused codegen folds for the audio-window feature passes — the
  * per-sample hot path of the WAV/PCM family.
  *
  * [[graft.multimodal.Multimodal.pcm16Windows]],
  * [[graft.multimodal.Wav.wavWindows]], [[graft.multimodal.Wav.ulawWindows]]
  * and [[graft.multimodal.Wav.wavResampleWindows]] originally ran their
  * energy/peak window folds as typed `Dataset.flatMap` closures: every
  * admitted payload left Tungsten for a Scala tuple, the fold ran as
  * interpreted JVM objects, and the surrounding projection lost
  * whole-stage codegen (the same shape the DIB folds had before
  * [[DibRowSums]]/[[DibAHash]]). Each expression below runs the identical
  * integer arithmetic — same little-endian sample assembly, same sign
  * fold, same accumulation order, same `Math.abs` peak — over one window
  * of the payload as a fused loop that participates in whole-stage
  * codegen; the callers explode window indices relationally so the
  * payload never materializes per window row (Generate and the
  * projection share one codegen stage).
  *
  * All three take `(payload BINARY, pos BIGINT, n BIGINT)` — `pos` is the
  * window's first byte as a 1-based substring-style position, `n` the
  * sample count — and return `array<bigint>[sum_sq, peak]`. Byte reads
  * are bounds-checked (out-of-range reads as 0, the [[DibRowSums]]
  * convention); callers derive window counts from the validated
  * `data_len`, so in-range access is guaranteed for well-formed
  * containers and a corrupt header degrades to zeros instead of a crash.
  * Preconditions for bit-equality with the replaced closures: pos ≥ 1
  * and the window fully inside the payload — exactly what the
  * `n_win = data_len DIV bytesPerWindow` derivation yields.
  */
abstract class PcmWindowBase extends TernaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] =
    Seq(BinaryType, LongType, LongType)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
}

/** pcm16_window(payload, pos, n) → [Σ v², max |v|] over n little-endian
  * signed 16-bit samples starting at 1-based byte `pos`. */
case class Pcm16Window(first: Expression, second: Expression, third: Expression)
    extends PcmWindowBase {

  override def prettyName: String = "pcm16_window"

  override protected def nullSafeEval(p: Any, posV: Any, nV: Any): Any = {
    val arr = p.asInstanceOf[Array[Byte]]
    val pos = posV.asInstanceOf[Long]
    val n = nV.asInstanceOf[Long]
    def u8(q: Long): Int = {
      val s = if (q > 0) q - 1 else if (q == 0) 0L else arr.length + q
      if (s >= 0 && s < arr.length) arr(s.toInt) & 0xff else 0
    }
    var ss = 0L; var peak = 0L; var k = 0L
    while (k < n) {
      var v = u8(pos + 2 * k) | (u8(pos + 2 * k + 1) << 8)
      if (v >= 32768) v -= 65536
      ss += v.toLong * v
      if (math.abs(v) > peak) peak = math.abs(v).toLong
      k += 1
    }
    new GenericArrayData(Array(ss, peak))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (p, pos, n) => {
      val u8 = PcmCodegen.u8Fn(ctx)
      val ss = ctx.freshName("ss"); val peak = ctx.freshName("peak")
      val k = ctx.freshName("k"); val v = ctx.freshName("v")
      s"""
         |long $ss = 0L, $peak = 0L;
         |for (long $k = 0L; $k < $n; $k++) {
         |  int $v = $u8($p, $pos + 2L * $k) | ($u8($p, $pos + 2L * $k + 1L) << 8);
         |  if ($v >= 32768) $v -= 65536;
         |  $ss += (long)$v * $v;
         |  if (java.lang.Math.abs($v) > $peak) $peak = (long)java.lang.Math.abs($v);
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  new long[]{$ss, $peak});
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

/** ulaw_window(payload, pos, n) → [Σ v², max |v|] over n G.711 μ-law
  * bytes starting at 1-based `pos`, each expanded through the exact
  * [[graft.multimodal.Wav.ulawToLinear]] arithmetic. */
case class UlawWindow(first: Expression, second: Expression, third: Expression)
    extends PcmWindowBase {

  override def prettyName: String = "ulaw_window"

  override protected def nullSafeEval(p: Any, posV: Any, nV: Any): Any = {
    val arr = p.asInstanceOf[Array[Byte]]
    val pos = posV.asInstanceOf[Long]
    val n = nV.asInstanceOf[Long]
    def u8(q: Long): Int = {
      val s = if (q > 0) q - 1 else if (q == 0) 0L else arr.length + q
      if (s >= 0 && s < arr.length) arr(s.toInt) & 0xff else 0
    }
    var ss = 0L; var peak = 0L; var k = 0L
    while (k < n) {
      val v = graft.multimodal.Wav.ulawToLinear(u8(pos + k))
      ss += v.toLong * v
      if (math.abs(v) > peak) peak = math.abs(v).toLong
      k += 1
    }
    new GenericArrayData(Array(ss, peak))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (p, pos, n) => {
      val u8 = PcmCodegen.u8Fn(ctx)
      val ulaw = ctx.freshName("ulawToLinear")
      // same arithmetic as Wav.ulawToLinear, transliterated
      ctx.addNewFunction(ulaw,
        s"""
           |private int $ulaw(int code) {
           |  int u = ~code & 0xFF;
           |  int t = ((u & 0x0F) << 3) + 0x84;
           |  t <<= (u & 0x70) >> 4;
           |  return (u & 0x80) != 0 ? 0x84 - t : t - 0x84;
           |}
         """.stripMargin)
      val ss = ctx.freshName("ss"); val peak = ctx.freshName("peak")
      val k = ctx.freshName("k"); val v = ctx.freshName("v")
      s"""
         |long $ss = 0L, $peak = 0L;
         |for (long $k = 0L; $k < $n; $k++) {
         |  int $v = $ulaw($u8($p, $pos + $k));
         |  $ss += (long)$v * $v;
         |  if (java.lang.Math.abs($v) > $peak) $peak = (long)java.lang.Math.abs($v);
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  new long[]{$ss, $peak});
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

/** pcm16_dec2_window(payload, pos, n) → [Σ d², max |d|] over n
  * DECIMATED samples d_j = floor((s_{2j} + s_{2j+1}) / 2.0), the j-th
  * pair of little-endian signed 16-bit source samples starting at
  * 1-based byte `pos` (4 source bytes per output sample). The floor is
  * computed through the same double route as the closure it replaces —
  * exact, since |s0+s1| < 2^17 is far inside double's integer range. */
case class Pcm16Dec2Window(first: Expression, second: Expression, third: Expression)
    extends PcmWindowBase {

  override def prettyName: String = "pcm16_dec2_window"

  override protected def nullSafeEval(p: Any, posV: Any, nV: Any): Any = {
    val arr = p.asInstanceOf[Array[Byte]]
    val pos = posV.asInstanceOf[Long]
    val n = nV.asInstanceOf[Long]
    def u8(q: Long): Int = {
      val s = if (q > 0) q - 1 else if (q == 0) 0L else arr.length + q
      if (s >= 0 && s < arr.length) arr(s.toInt) & 0xff else 0
    }
    def s16(q: Long): Int = {
      val v = u8(q) | (u8(q + 1) << 8)
      if (v >= 32768) v - 65536 else v
    }
    var ss = 0L; var peak = 0L; var j = 0L
    while (j < n) {
      val d = math.floor((s16(pos + 4 * j) + s16(pos + 4 * j + 2)) / 2.0).toLong
      ss += d * d
      if (math.abs(d) > peak) peak = math.abs(d)
      j += 1
    }
    new GenericArrayData(Array(ss, peak))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (p, pos, n) => {
      val u8 = PcmCodegen.u8Fn(ctx)
      val s16 = ctx.freshName("s16")
      ctx.addNewFunction(s16,
        s"""
           |private int $s16(byte[] arr, long q) {
           |  int v = $u8(arr, q) | ($u8(arr, q + 1L) << 8);
           |  return v >= 32768 ? v - 65536 : v;
           |}
         """.stripMargin)
      val ss = ctx.freshName("ss"); val peak = ctx.freshName("peak")
      val j = ctx.freshName("j"); val d = ctx.freshName("d")
      s"""
         |long $ss = 0L, $peak = 0L;
         |for (long $j = 0L; $j < $n; $j++) {
         |  long $d = (long)java.lang.Math.floor(
         |    ($s16($p, $pos + 4L * $j) + $s16($p, $pos + 4L * $j + 2L)) / 2.0);
         |  $ss += $d * $d;
         |  if (java.lang.Math.abs($d) > $peak) $peak = java.lang.Math.abs($d);
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  new long[]{$ss, $peak});
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

private object PcmCodegen {
  /** Shared bounds-checked unsigned-byte read (substring-style 1-based
    * position; out-of-range → 0), registered once per codegen context. */
  def u8Fn(ctx: CodegenContext): String = {
    val u8 = ctx.freshName("pcmU8")
    ctx.addNewFunction(u8,
      s"""
         |private int $u8(byte[] arr, long pos) {
         |  long start = pos > 0L ? pos - 1L : (pos == 0L ? 0L : arr.length + pos);
         |  return (start >= 0L && start < arr.length) ? (arr[(int)start] & 0xFF) : 0;
         |}
       """.stripMargin)
    u8
  }
}

object PcmFunctions {
  val pcm16Info = new ExpressionInfo(classOf[Pcm16Window].getName, "pcm16_window")
  val ulawInfo = new ExpressionInfo(classOf[UlawWindow].getName, "ulaw_window")
  val dec2Info = new ExpressionInfo(classOf[Pcm16Dec2Window].getName, "pcm16_dec2_window")

  private[functions] def builder3(
      name: String, mk: (Expression, Expression, Expression) => Expression)
  : Seq[Expression] => Expression = {
    case Seq(a, b, c) => mk(a, b, c)
    case other => throw new IllegalArgumentException(
      s"$name takes 3 arguments, got ${other.length}")
  }

  /** Install the PCM window folds into the session registry (idempotent). */
  def pcm16Window(bin: Column, pos: Column, n: Column): Column =
    org.apache.spark.sql.functions.call_function("pcm16_window", bin, pos, n)

  def ulawWindow(bin: Column, pos: Column, n: Column): Column =
    org.apache.spark.sql.functions.call_function("ulaw_window", bin, pos, n)

  def pcm16Dec2Window(bin: Column, pos: Column, n: Column): Column =
    org.apache.spark.sql.functions.call_function("pcm16_dec2_window", bin, pos, n)
}
