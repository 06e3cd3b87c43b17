package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}
import org.apache.spark.sql.{Column, SparkSessionExtensions}

/** Native Catalyst expression for the vector hot path.
  *
  * Spark's array higher-order functions (`aggregate`/`zip_with`) are
  * interpreted per element — fine for correctness, a 10-100× cliff on a
  * 64-dim dot product evaluated millions of times (observed in profiles:
  * tasks pinned in `CaseWhen.eval`/`nullSafeEval`). This expression
  * participates in whole-stage codegen: the generated Java is the same
  * tight sequential loop the DuckDB oracle's `list_reduce` fold runs, so
  * results stay bit-identical while the evaluation is JIT-compiled.
  *
  * Accumulation order is left-to-right, exactly like
  * `aggregate(zip_with(a, b, _*_), 0.0, _+_)` — required for cross-engine
  * double determinism. Null elements are treated as 0.0 (embeddings are
  * dense; nulls cannot occur in the supported input).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_dot expects (array<double>, array<double>), " +
        s"got (${left.dataType.sql}, ${right.dataType.sql})")
  }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "vec_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) {
        acc += x.getDouble(i) * y.getDouble(i)
      }
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |    $acc += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Fused cosine similarity — ONE traversal computing the three sums the
  * composed form `vec_dot(a,b) / (sqrt(vec_dot(a,a)) * sqrt(vec_dot(b,b)))`
  * needs three traversals for. Each accumulator adds the SAME terms in
  * the SAME left-to-right order as its standalone vec_dot, and the final
  * combine is the identical IEEE expression (`/`, `*`,
  * `java.lang.Math.sqrt`), so results are bit-identical to the composed
  * form — the DuckDB oracle twins ([[graft.queries.Vectors.cosineSql]])
  * stay valid unchanged. Per pair on 64-dim embeddings this removes two
  * array traversals and their bounds/null checks from the brute-force
  * similarity hot loops (every crossJoin recall harness pays this
  * per-candidate), and shrinks the generated code (three loops → one),
  * which also shortens the C2 warm-up that dominates q_sim_jl's
  * measured variance. Length mismatch follows the composed form
  * exactly: the cross term stops at min(n, m), each norm runs over its
  * own full array.
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_cosine expects (array<double>, array<double>), " +
        s"got (${left.dataType.sql}, ${right.dataType.sql})")
  }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "vec_cosine"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements()
    val ny = y.numElements()
    val n = math.min(nx, ny)
    var ab = 0.0
    var aa = 0.0
    var bb = 0.0
    var i = 0
    val m = math.max(nx, ny)
    while (i < m) {
      if (i < n && !x.isNullAt(i) && !y.isNullAt(i)) {
        ab += x.getDouble(i) * y.getDouble(i)
      }
      if (i < nx && !x.isNullAt(i)) { val v = x.getDouble(i); aa += v * v }
      if (i < ny && !y.isNullAt(i)) { val v = y.getDouble(i); bb += v * v }
      i += 1
    }
    ab / (java.lang.Math.sqrt(aa) * java.lang.Math.sqrt(bb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val n = ctx.freshName("n")
      val m = ctx.freshName("m")
      val i = ctx.freshName("i")
      val ab = ctx.freshName("ab")
      val aa = ctx.freshName("aa")
      val bb = ctx.freshName("bb")
      val v = ctx.freshName("v")
      s"""
         |int $nx = $a.numElements();
         |int $ny = $b.numElements();
         |int $n = java.lang.Math.min($nx, $ny);
         |int $m = java.lang.Math.max($nx, $ny);
         |double $ab = 0.0; double $aa = 0.0; double $bb = 0.0;
         |for (int $i = 0; $i < $m; $i++) {
         |  if ($i < $n && !$a.isNullAt($i) && !$b.isNullAt($i)) {
         |    $ab += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |  if ($i < $nx && !$a.isNullAt($i)) {
         |    double $v = $a.getDouble($i); $aa += $v * $v;
         |  }
         |  if ($i < $ny && !$b.isNullAt($i)) {
         |    double $v = $b.getDouble($i); $bb += $v * $v;
         |  }
         |}
         |${ev.value} = $ab / (java.lang.Math.sqrt($aa) * java.lang.Math.sqrt($bb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Matrix-vector dot products in ONE loop nest — `vec_matdot(v, m)`
  * returns `[vec_dot(v, m[0]), vec_dot(v, m[1]), ...]`. Exists for the
  * JL-style projections that previously built
  * `array(vec_dot(v, lit(row_0)), ..., vec_dot(v, lit(row_31)))`: 32
  * separately inlined dot loops plus 32 literal array references made
  * the generated projection method large enough that C2 warm-up
  * dominated the query's measured variance (the q_sim_jl bimodality
  * ledgered in bench_noise.json — 1.2 s steady vs up to 3.5 s
  * pre-steady-state in full-suite runs sharing the compile queue).
  * One nested loop over a single matrix literal generates a small,
  * quickly-compiled method with the IDENTICAL per-row accumulation
  * order as vec_dot (left-to-right, null elements skipped), so every
  * output double is bit-identical to the composed form and the DuckDB
  * oracle twins stay valid unchanged.
  *
  * Preconditions (matching the composed form's supported inputs):
  * matrix rows must be non-null (a null row throws — call sites pass
  * compile-time literal matrices); a null vector or matrix yields NULL
  * (the composed form yielded an all-null array, distinguishable only
  * for null vectors, which the dense embedding inputs cannot produce).
  */
case class MatDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val vOk = left.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    val mOk = right.dataType match {
      case ArrayType(ArrayType(DoubleType, _), _) => true
      case _ => false
    }
    if (vOk && mOk) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_matdot expects (array<double>, array<array<double>>), " +
        s"got (${left.dataType.sql}, ${right.dataType.sql})")
  }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def prettyName: String = "vec_matdot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    val m = b.asInstanceOf[ArrayData]
    val k = m.numElements()
    val out = new Array[Double](k)
    var j = 0
    while (j < k) {
      if (m.isNullAt(j)) throw new IllegalArgumentException(
        "vec_matdot: null matrix row (rows must be non-null)")
      val row = m.getArray(j)
      val n = math.min(v.numElements(), row.numElements())
      var acc = 0.0
      var i = 0
      while (i < n) {
        if (!v.isNullAt(i) && !row.isNullAt(i)) {
          acc += v.getDouble(i) * row.getDouble(i)
        }
        i += 1
      }
      out(j) = acc
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val k = ctx.freshName("k")
      val j = ctx.freshName("j")
      val row = ctx.freshName("row")
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val out = ctx.freshName("out")
      s"""
         |int $k = $b.numElements();
         |double[] $out = new double[$k];
         |for (int $j = 0; $j < $k; $j++) {
         |  if ($b.isNullAt($j)) throw new IllegalArgumentException(
         |    "vec_matdot: null matrix row (rows must be non-null)");
         |  org.apache.spark.sql.catalyst.util.ArrayData $row = $b.getArray($j);
         |  int $n = java.lang.Math.min($a.numElements(), $row.numElements());
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if (!$a.isNullAt($i) && !$row.isNullAt($i)) {
         |      $acc += $a.getDouble($i) * $row.getDouble($i);
         |    }
         |  }
         |  $out[$j] = $acc;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Column-API and SQL surface for the vector expressions. Uses only the
  * public `call_function` bridge: [[graft.Tables.registerFunctions]] installs the expression
  * builder in the session's function registry (idempotent), and the
  * Column helpers resolve through it at analysis time.
  */
object VectorFunctions {

  val info = new ExpressionInfo(classOf[DotProduct].getName, "vec_dot")

  val builder: Seq[Expression] => Expression = {
    case Seq(a, b) => DotProduct(a, b)
    case other => throw new IllegalArgumentException(
      s"vec_dot takes 2 arguments, got ${other.length}")
  }

  val cosineInfo = new ExpressionInfo(classOf[CosineSim].getName, "vec_cosine")

  val cosineBuilder: Seq[Expression] => Expression = {
    case Seq(a, b) => CosineSim(a, b)
    case other => throw new IllegalArgumentException(
      s"vec_cosine takes 2 arguments, got ${other.length}")
  }

  val matDotInfo = new ExpressionInfo(classOf[MatDot].getName, "vec_matdot")

  val matDotBuilder: Seq[Expression] => Expression = {
    case Seq(a, b) => MatDot(a, b)
    case other => throw new IllegalArgumentException(
      s"vec_matdot takes 2 arguments, got ${other.length}")
  }

  /** Install vec_dot/vec_cosine/vec_matdot into the session registry
    * (idempotent). */
  /** Codegen'd sequential dot product of two array<double> columns.
    * Requires [[graft.Tables.registerFunctions]] on the session (Tables.load does it). */
  def vecDot(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("vec_dot", a, b)

  def vecNorm(a: Column): Column = {
    import org.apache.spark.sql.functions.sqrt
    sqrt(vecDot(a, a))
  }

  /** Fused single-traversal cosine — bit-identical to
    * `vecDot(a,b) / (vecNorm(a) * vecNorm(b))` (see [[CosineSim]]). */
  def vecCosine(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("vec_cosine", a, b)

  /** One-loop matrix projection — bit-identical to
    * `array(vecDot(v, m(0)), vecDot(v, m(1)), ...)` (see [[MatDot]]). */
  def vecMatDot(v: Column, m: Column): Column =
    org.apache.spark.sql.functions.call_function("vec_matdot", v, m)
}

/** `SparkSessionExtensions` hook: makes the engine functions callable
  * from SQL (`SELECT vec_dot(a, b)`) when the session is built with
  * `.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.functions.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // the reserved Catalyst optimizer surface (SURVEY §4): canonicalize
    // the reference's text-typed optional-filter equality into sargable
    // predicates — see graft.plans.UnwrapStringCast
    ext.injectOptimizerRule(_ => graft.plans.UnwrapStringCast)
    // vectorize naive non-equi band joins (nested-loop → bucketed
    // equi-join) — see graft.plans.BandJoinRewrite
    ext.injectOptimizerRule(_ => graft.plans.BandJoinRewrite)
    GraftExtensions.functions.foreach(ext.injectFunction)
  }
}

object GraftExtensions {
  /** Every engine SQL function — the one list read both by the
    * extension above (sessions built with it) and by
    * [[graft.Tables.registerFunctions]] (any other session). */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("vec_dot"), VectorFunctions.info, VectorFunctions.builder),
    (FunctionIdentifier("vec_cosine"), VectorFunctions.cosineInfo, VectorFunctions.cosineBuilder),
    (FunctionIdentifier("vec_matdot"), VectorFunctions.matDotInfo, VectorFunctions.matDotBuilder),
    (FunctionIdentifier("bounded_collect"), BoundedCollectFunctions.info,
      BoundedCollectFunctions.builder),
    (FunctionIdentifier("top_k_by"), TopKByFunctions.info, TopKByFunctions.builder),
    (FunctionIdentifier("nfc_normalize"), TextFunctions.info, TextFunctions.builder),
    (FunctionIdentifier("heavy_hitters"), HeavyHittersFunctions.info,
      HeavyHittersFunctions.builder),
    (FunctionIdentifier("minhash_sig"), MinhashFunctions.info, MinhashFunctions.builder),
    (FunctionIdentifier("gram_tri"), GramTriFunctions.info, GramTriFunctions.builder),
    (FunctionIdentifier("byte_at"), ByteFunctions.info, ByteFunctions.builder),
    (FunctionIdentifier("dib_row_sums"), DibFunctions.rowSumsInfo, DibFunctions.rowSumsBuilder),
    (FunctionIdentifier("dib_ahash"), DibFunctions.aHashInfo, DibFunctions.aHashBuilder),
    (FunctionIdentifier("pcm16_window"), PcmFunctions.pcm16Info,
      PcmFunctions.builder3("pcm16_window", Pcm16Window.apply)),
    (FunctionIdentifier("ulaw_window"), PcmFunctions.ulawInfo,
      PcmFunctions.builder3("ulaw_window", UlawWindow.apply)),
    (FunctionIdentifier("pcm16_dec2_window"), PcmFunctions.dec2Info,
      PcmFunctions.builder3("pcm16_dec2_window", Pcm16Dec2Window.apply)))
}
