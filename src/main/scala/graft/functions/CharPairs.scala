package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `char_pairs(text)` — every adjacent CHARACTER pair inside each
  * space-separated word, in order, NOT deduplicated: the symbol-pair
  * occurrence stream whose corpus-wide counts are the first BPE merge
  * round of tokenizer training (and, re-run after each merge, every
  * subsequent round). `explode(char_pairs(text))` + count is then the
  * canonical word-count plan — map-side partial aggregation, one
  * shuffle keyed by pair, top-k via ordered limit.
  *
  * Pairs never cross a word boundary (BPE merges do not cross
  * whitespace). Characters are Unicode code points, not bytes: each
  * pair is the original byte slice covering exactly two code points,
  * matching DuckDB's character-addressed `substr(word, i, 2)` — on
  * multi-byte text a byte-pair formulation would emit slices that are
  * not valid strings. Words = split-on-single-space keeping empties
  * (the shingle family's pinned tokenization, shared
  * [[ShingleSet.wordStarts]] kernel); words of fewer than two
  * characters contribute nothing.
  */
case class CharPairsExpr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"char_pairs needs string, got ${other.catalogString}")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def prettyName: String = "char_pairs"

  override protected def nullSafeEval(input: Any): Any =
    CharPairs.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.CharPairs.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): CharPairsExpr =
    copy(child = newChild)
}

object CharPairs {

  /** SQL builder for [[graft.GraftExtensions]]. */
  private[graft] val builder: Seq[Expression] => Expression = {
    case Seq(c) => CharPairsExpr(c)
    case _ => throw new IllegalArgumentException("char_pairs(text) takes 1 argument")
  }


  /** Called from generated code — one byte scan per row. Walks each
    * word's UTF-8 code-point boundaries and slices [prevCharStart,
    * currCharEnd) for every adjacent pair. */
  def compute(text: UTF8String): ArrayData = {
    val bytes = text.getBytes
    val len = bytes.length
    val starts = ShingleSet.wordStarts(bytes)
    val nWords = starts.length
    val out = new scala.collection.mutable.ArrayBuffer[Any]()
    var w = 0
    while (w < nWords) {
      val from = starts(w)
      val until = if (w + 1 < nWords) starts(w + 1) - 1 else len
      var prev = -1 // start of the previous code point, -1 before the first
      var i = from
      while (i < until) {
        val cl = UTF8String.numBytesForFirstByte(bytes(i))
        val end = math.min(i + cl, until) // clamp malformed tails
        if (prev >= 0) out += UTF8String.fromBytes(bytes, prev, end - prev)
        prev = i
        i = end
      }
      w += 1
    }
    new GenericArrayData(out.toArray)
  }
}
