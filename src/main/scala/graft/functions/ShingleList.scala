package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `shingle_list(text, n)` — the POSITIONAL twin of
  * [[ShingleSetExpr shingle_set]]: every word n-gram shingle of the
  * document in order, NOT deduplicated, so element i IS the shingle
  * starting at token position i. `posexplode(shingle_list(text, n))`
  * therefore yields (position, shingle) pairs with no join, window, or
  * interpreted lambda — the input the duplicated-span remover
  * (q56, [[graft.ops.LlmOps.substringDedup]]) needs to map a globally
  * duplicated shingle back to the token span it covers.
  *
  * Tokenization and slicing are byte-identical to `shingle_set`
  * (shared [[ShingleSet.wordStarts]] kernel): words =
  * `split(text, " ")` keeping empties; shingle i = words i..i+n-1
  * joined with single spaces = the original byte slice; fewer than n
  * words → empty array. */
case class ShingleListExpr(child: Expression, n: Int) extends UnaryExpression {

  require(n >= 1, "shingle_list needs n >= 1")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"shingle_list needs string, got ${other.catalogString}")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def prettyName: String = "shingle_list"

  override protected def nullSafeEval(input: Any): Any =
    ShingleList.compute(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ShingleList.compute($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): ShingleListExpr =
    copy(child = newChild)
}

object ShingleList {

  /** SQL builder for [[graft.GraftExtensions]]. Second argument
    * optional (default 3, matching shingle_set), must be a foldable
    * integer literal. */
  private[graft] val builder: Seq[Expression] => Expression = {
    case Seq(c) => ShingleListExpr(c, 3)
    case Seq(c, nExpr) if nExpr.foldable =>
      nExpr.eval() match {
        case i: Int => ShingleListExpr(c, i)
        case l: Long => ShingleListExpr(c, l.toInt)
        case other => throw new IllegalArgumentException(
          s"shingle_list n must be an integer literal, got $other")
      }
    case _ => throw new IllegalArgumentException(
      "shingle_list(text[, n]) takes a string and an optional integer literal")
  }


  /** Called from generated code — one byte scan per row. */
  def compute(text: UTF8String, n: Int): ArrayData = {
    val bytes = text.getBytes
    val starts = ShingleSet.wordStarts(bytes)
    val nWords = starts.length
    if (nWords < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](nWords - n + 1)
    var s = 0
    while (s + n <= nWords) {
      val from = starts(s)
      val until = if (s + n < nWords) starts(s + n) - 1 else bytes.length
      out(s) = UTF8String.fromBytes(bytes, from, until - from)
      s += 1
    }
    new GenericArrayData(out)
  }
}
