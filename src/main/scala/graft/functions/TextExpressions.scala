package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.sql.Column
import org.apache.spark.unsafe.types.UTF8String

/** Unicode NFC normalization as a native codegen expression.
  *
  * Canonical composition is a standard curation step (the same logical
  * document arrives as precomposed "é" from one source and as
  * "e"+U+0301 from another; dedup digests, equality joins and tokenizers
  * must see one form), and Spark has no built-in for it — the classic
  * answer is a Scala UDF, which boxes every row and blocks whole-stage
  * codegen. This expression calls the JDK's `java.text.Normalizer`
  * (Unicode-conformant; identical output to DuckDB's `nfc_normalize`,
  * which is how the oracle pins it cross-engine) from INSIDE generated
  * code, so normalization composes with the codegen'd projections around
  * it. ASCII-only rows pass through unchanged — at 100 TB the dominant
  * cost is the scan either way; the point is not paying the UDF cliff on
  * the hot path.
  */
case class NfcNormalize(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"nfc_normalize expects string, got ${other.sql}")
  }

  override def dataType: DataType = StringType

  override def prettyName: String = "nfc_normalize"

  override protected def nullSafeEval(input: Any): Any =
    UTF8String.fromString(java.text.Normalizer.normalize(
      input.asInstanceOf[UTF8String].toString, java.text.Normalizer.Form.NFC))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = org.apache.spark.unsafe.types.UTF8String.fromString(
         |  java.text.Normalizer.normalize(
         |    $c.toString(), java.text.Normalizer.Form.NFC));
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Column-API and SQL surface, mirroring [[VectorFunctions]]. */
object TextFunctions {

  val info = new ExpressionInfo(classOf[NfcNormalize].getName, "nfc_normalize")

  val builder: Seq[Expression] => Expression = {
    case Seq(c) => NfcNormalize(c)
    case other => throw new IllegalArgumentException(
      s"nfc_normalize takes 1 argument, got ${other.length}")
  }

  /** Codegen'd Unicode NFC normalization of a string column. */
  def nfcNormalize(c: Column): Column =
    org.apache.spark.sql.functions.call_function("nfc_normalize", c)
}
