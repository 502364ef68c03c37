package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `shingle_set(text, n)` — native Catalyst expression emitting the
  * DISTINCT word n-gram shingles of a document as `array<string>`, in
  * one pass over the raw bytes.
  *
  * Why it exists (scale): the Column formulation
  * (`split` → `explode(sequence)` → `concat_ws(slice)` → `distinct()`)
  * ends in a `distinct()` — a full exchange of every (doc_id,
  * shingle) OCCURRENCE, ~n_tokens rows per document, paid by every
  * member of the n-gram family (q20/q32/q35/q38/q42/q44/q50 via
  * `cappedShingles`, q21 via the signature aggregation). Per-document
  * distinctness needs no cross-row data movement at all: this
  * expression dedups inside the row, the explode that follows emits
  * already-distinct pairs, and the family's first exchange becomes the
  * df-count/self-join shuffle that genuinely needs the network.
  *
  * Semantics are bit-identical to the replaced plan (pinned by
  * ShingleSetProperties): words = `split(text, " ")` — single-space split
  * KEEPING empty strings (consecutive/leading/trailing spaces), Spark
  * split semantics with limit -1; shingle i = words i..i+n-1 joined
  * with single spaces; fewer than n words → empty array. Because
  * every separator is exactly one 0x20 byte, each joined shingle IS
  * the original byte slice from the start of word i to the end of
  * word i+n-1 — so the kernel only finds word-start offsets and
  * slices; 0x20 never occurs inside a UTF-8 multi-byte sequence, so
  * byte scanning is safe. Output order is first-occurrence order
  * (consumers treat it as a set; the replaced `distinct()` had no
  * order contract either). */
case class ShingleSetExpr(child: Expression, n: Int) extends UnaryExpression {

  require(n >= 1, "shingle_set needs n >= 1")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"shingle_set needs string, got ${other.catalogString}")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def prettyName: String = "shingle_set"

  override protected def nullSafeEval(input: Any): Any =
    ShingleSet.compute(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ShingleSet.compute($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): ShingleSetExpr =
    copy(child = newChild)
}

object ShingleSet {

  /** SQL builder for [[graft.GraftExtensions]]. Second argument
    * optional (default 3), must be a foldable non-negative integer
    * literal. */
  private[graft] val builder: Seq[Expression] => Expression = {
    case Seq(c) => ShingleSetExpr(c, 3)
    case Seq(c, nExpr) if nExpr.foldable =>
      nExpr.eval() match {
        case i: Int => ShingleSetExpr(c, i)
        case l: Long => ShingleSetExpr(c, l.toInt)
        case other => throw new IllegalArgumentException(
          s"shingle_set n must be an integer literal, got $other")
      }
    case _ => throw new IllegalArgumentException(
      "shingle_set(text[, n]) takes a string and an optional integer literal")
  }


  /** Word-start byte offsets under split-on-single-space-keeping-
    * empties: a word starts at 0 and right after every space byte;
    * word i ends at the next space (or end of text). Shared by
    * [[compute]], [[ShingleList.compute]] and
    * [[RemoveSpans.compute]] so the three keep one tokenization. */
  private[functions] def wordStarts(bytes: Array[Byte]): Array[Int] = {
    val len = bytes.length
    var nWords = 1
    var i = 0
    while (i < len) { if (bytes(i) == ' ') nWords += 1; i += 1 }
    val starts = new Array[Int](nWords)
    var w = 1
    i = 0
    while (i < len) { if (bytes(i) == ' ') { starts(w) = i + 1; w += 1 }; i += 1 }
    starts
  }

  /** Called from generated code — one byte scan per row. */
  def compute(text: UTF8String, n: Int): ArrayData = {
    val bytes = text.getBytes
    val len = bytes.length
    val starts = wordStarts(bytes)
    val nWords = starts.length
    if (nWords < n) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[UTF8String]()
    var s = 0
    while (s + n <= nWords) {
      // shingle = original bytes from start of word s to end of word
      // s+n-1 (the byte before the next word's separator, or len)
      val from = starts(s)
      val until = if (s + n < nWords) starts(s + n) - 1 else len
      seen.add(UTF8String.fromBytes(bytes, from, until - from))
      s += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    new GenericArrayData(out)
  }
}
