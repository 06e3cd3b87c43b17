package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.sql.Column
import org.apache.spark.unsafe.types.UTF8String

/** Fused 16-permutation MinHash signature over a token array, as a
  * native codegen expression.
  *
  * The declarative form (`Dedup.minhashSigCol`) is a chain of
  * higher-order functions — shingle transform, per-shingle md5
  * transform, then 16 separate `array_min(transform(...))` passes —
  * and Spark evaluates HOF lambdas interpreted, outside whole-stage
  * codegen: 17+ traversals of the shingle array per row with a boxed
  * lambda call per element. That made the streaming near-dup drains
  * split their projection into two stages just to avoid recomputing
  * the hash array (see q_st_neardup), and it still dominated their
  * wall time.
  *
  * This expression computes the identical signature in ONE pass of
  * compiled code: for each 3-shingle (tokens joined by a single
  * space, exactly `concat_ws(" ", slice(toks, i+1, 3))`), MD5 the
  * UTF-8 bytes without materializing the joined string, take the
  * first 4 bytes as an unsigned 32-bit value (exactly
  * `conv(substring(md5(s), 1, 8), 16, 10)`), and fold it into the 16
  * running minima of `(h * A(k) + B(k)) % P`. Output is the same
  * comma-joined decimal string as `concat_ws(",", ...)`; inputs with
  * fewer than 3 tokens yield NULL (the HOF form's
  * `when(size(hs) > 0, ...)` on an empty shingle array). Duplicate
  * shingles need no `array_distinct`: minima are idempotent under
  * repeats. Bit-for-bit equality with the HOF chain is spec-gated
  * (TextExpressionSpec) and the DuckDB oracle twin is untouched.
  *
  * 100 TB posture: the signature build is scan-side projection work
  * on every streaming or batch dedup path; fusing it into one codegen
  * call removes the interpreted-HOF cliff from the hottest per-row
  * loop in the dedup family (the same argument as `vec_dot` /
  * `nfc_normalize`).
  */
case class MinhashSig(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_sig expects array<string> tokens, got ${other.sql}")
  }

  override def dataType: DataType = StringType

  override def nullable: Boolean = true // < 3 tokens → no complete shingle

  override def prettyName: String = "minhash_sig"

  override protected def nullSafeEval(input: Any): Any =
    MinhashSig.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.functions.MinhashSig.compute($c);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinhashSig {
  /** The engine-wide MinHash parameters — single source of truth shared
    * with the relational signature build and every oracle SQL twin
    * (graft.queries.Dedup aliases these). */
  val NumHashes = 16
  val P = 2147483647L // 2^31 − 1 (Mersenne prime)
  // a*h + b stays < 2^62 for h < 2^32 — no Long wrap before the mod
  val A: Array[Long] = Array(
    568811L, 1247591L, 2654435L, 7368787L, 9576891L, 15485863L,
    32452843L, 49979687L, 67867967L, 86028121L, 104395301L, 122949823L,
    141650939L, 160481183L, 179424673L, 198491317L)
  val B: Array[Long] = Array(
    12289L, 24593L, 49157L, 98317L, 196613L, 393241L, 786433L, 1572869L,
    3145739L, 6291469L, 12582917L, 25165843L, 50331653L, 100663319L,
    201326611L, 402653189L)

  private val Space = Array(' '.toByte)

  /** One-pass signature; called from generated code. Returns null for
    * fewer than 3 tokens (no complete 3-shingle). */
  def compute(tokens: ArrayData): UTF8String = {
    val n = tokens.numElements()
    if (n < 3) return null
    val mins = new Array[Long](NumHashes)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val md = java.security.MessageDigest.getInstance("MD5")
    var i = 0
    while (i <= n - 3) {
      md.reset()
      md.update(tokens.getUTF8String(i).getBytes)
      md.update(Space)
      md.update(tokens.getUTF8String(i + 1).getBytes)
      md.update(Space)
      md.update(tokens.getUTF8String(i + 2).getBytes)
      val d = md.digest()
      val h = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      var k = 0
      while (k < NumHashes) {
        val v = (h * A(k) + B(k)) % P
        if (v < mins(k)) mins(k) = v
        k += 1
      }
      i += 1
    }
    UTF8String.fromString(mins.mkString(","))
  }
}

/** Column-API and SQL surface, mirroring [[TextFunctions]]. */
object MinhashFunctions {

  val info = new ExpressionInfo(classOf[MinhashSig].getName, "minhash_sig")

  val builder: Seq[Expression] => Expression = {
    case Seq(c) => MinhashSig(c)
    case other => throw new IllegalArgumentException(
      s"minhash_sig takes 1 argument, got ${other.length}")
  }

  /** Codegen'd fused MinHash signature of a token-array column. */
  def minhashSig(tokens: Column): Column =
    org.apache.spark.sql.functions.call_function("minhash_sig", tokens)
}
