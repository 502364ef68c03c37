package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** `simhash60(tokens)` — native Catalyst expression computing q22's
  * 60-bit SimHash over a token array in ONE pass: md5 each token
  * (first 60 bits — bit-identical to [[graft.ops.LlmOps.portableHash64]]),
  * accumulate the ±1 per-bit sums, emit the sign fingerprint.
  *
  * Same rationale as [[WinnowMinima]]: the Column formulation needs 60
  * interpreted `aggregate` lambdas per row (or two shuffles in the
  * exploded form); this stays inside whole-stage codegen with one
  * digest instance and a primitive counter array per row. */
case class SimHash60(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash60 needs array<string>, got ${other.catalogString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash60"

  override protected def nullSafeEval(input: Any): Any =
    SimHash60.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHash60.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash60 =
    copy(child = newChild)
}

object SimHash60 {

  val Bits = 60

  /** SQL builder for [[graft.GraftExtensions]]. */
  private[graft] val builder: Seq[Expression] => Expression = {
    case Seq(c) => SimHash60(c)
    case _ => throw new IllegalArgumentException("simhash60(tokens) takes 1 argument")
  }


  /** Called from generated code — one digest, one primitive counter
    * array per row. Null array elements are skipped (the callers
    * filter empties anyway). */
  def compute(tokens: ArrayData): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val counts = new Array[Int](Bits)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        md.reset()
        val d = md.digest(tokens.getUTF8String(i).getBytes)
        // first 15 hex digits = bytes 0..6 plus the high nibble of byte 7
        var h = 0L
        var j = 0
        while (j < 7) { h = (h << 8) | (d(j) & 0xffL); j += 1 }
        h = (h << 4) | ((d(7) & 0xffL) >>> 4)
        var b = 0
        while (b < Bits) {
          counts(b) += (if (((h >> b) & 1L) == 1L) 1 else -1)
          b += 1
        }
      }
      i += 1
    }
    var fp = 0L
    var b = 0
    while (b < Bits) {
      if (counts(b) > 0) fp |= (1L << b)
      b += 1
    }
    fp
  }
}
