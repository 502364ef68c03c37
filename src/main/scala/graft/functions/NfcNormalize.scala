package graft.functions

import java.text.Normalizer

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `nfc(text)` — Unicode canonical composition (NFC) as a native
  * codegen expression. The canonicalization stage of a text pipeline:
  * harvested text mixes precomposed and decomposed forms of the same
  * grapheme (`é` vs `e`+U+0301), which breaks exact-hash dedup,
  * shingling, and tokenization unless every document is normalized to
  * one canonical form first (q57).
  *
  * Spark has no normalization builtin, and a Scala UDF here would put
  * serialization + interpretation on the hottest possible path (every
  * byte of a 100 TB corpus flows through this once). The expression
  * stays inside whole-stage codegen and short-circuits the two
  * overwhelmingly common cases with zero allocation: pure-ASCII bytes
  * (NFC by construction — one byte scan) and already-normalized text
  * (`Normalizer.isNormalized` quick check, no rewrite). Only genuinely
  * decomposed rows pay the JDK normalize + re-encode cost.
  *
  * DuckDB's `nfc_normalize` implements the same Unicode canonical
  * composition, which is what makes q57 oracle-checkable
  * value-for-value. */
case class NfcNormalizeExpr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"nfc needs string, got ${other.catalogString}")
  }

  override def dataType: DataType = StringType

  override def prettyName: String = "nfc"

  override protected def nullSafeEval(input: Any): Any =
    NfcNormalize.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NfcNormalize.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): NfcNormalizeExpr =
    copy(child = newChild)
}

object NfcNormalize {

  /** SQL builder for [[graft.GraftExtensions]]. */
  private[graft] val builder: Seq[Expression] => Expression = {
    case Seq(c) => NfcNormalizeExpr(c)
    case _ => throw new IllegalArgumentException("nfc(text) takes 1 argument")
  }


  /** Called from generated code. ASCII fast path: 0x20-0x7F bytes
    * cannot participate in any canonical (de)composition, so a pure
    * single-byte string IS its NFC form — return the input untouched. */
  def compute(s: UTF8String): UTF8String = {
    val bytes = s.getBytes
    var i = 0
    while (i < bytes.length) {
      if (bytes(i) < 0) {
        val str = s.toString
        return if (Normalizer.isNormalized(str, Normalizer.Form.NFC)) s
        else UTF8String.fromString(Normalizer.normalize(str, Normalizer.Form.NFC))
      }
      i += 1
    }
    s
  }
}
