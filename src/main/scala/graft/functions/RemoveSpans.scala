package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `remove_spans(text, span_starts, k)` — drop every token covered by
  * a k-token span starting at any of `span_starts` (0-based token
  * positions) and re-join the survivors with single spaces, returning
  * `struct<n_tokens:int, n_kept:int, text_clean:string>`.
  *
  * This is the rewrite stage of exact duplicated-substring removal
  * (q56, [[graft.ops.LlmOps.substringDedup]]): the duplicated-shingle
  * join produces the span starts per document; this expression merges
  * the (possibly overlapping) spans and rebuilds the cleaned document
  * in ONE byte scan — no per-position explode, no covered-set join, no
  * interpreted lambda, and the reassembly needs no extra shuffle
  * because the document row never left its partition.
  *
  * Tokenization is byte-identical to `shingle_set`/`shingle_list`
  * (shared [[ShingleSet.wordStarts]] kernel), so a span start produced
  * from `posexplode(shingle_list(text, k))` always lands on the token
  * it was generated from. Span starts need not be sorted or distinct
  * (they are sorted defensively; out-of-range starts cover nothing);
  * null elements are ignored. */
case class RemoveSpansExpr(left: Expression, right: Expression, k: Int)
  extends BinaryExpression {

  require(k >= 1, "remove_spans needs k >= 1")

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (StringType, ArrayType(IntegerType, _)) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"remove_spans needs (string, array<int>), got ${l.catalogString} and ${r.catalogString}")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", IntegerType, nullable = false),
    StructField("n_kept", IntegerType, nullable = false),
    StructField("text_clean", StringType, nullable = false)))

  override def prettyName: String = "remove_spans"

  override protected def nullSafeEval(text: Any, starts: Any): Any =
    RemoveSpans.compute(text.asInstanceOf[UTF8String], starts.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, s) => s"graft.functions.RemoveSpans.compute($t, $s, $k)")

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): RemoveSpansExpr =
    copy(left = newLeft, right = newRight)
}

object RemoveSpans {

  /** SQL builder for [[graft.GraftExtensions]]. k must be a
    * foldable integer literal. */
  private[graft] val builder: Seq[Expression] => Expression = {
    case Seq(t, s, kExpr) if kExpr.foldable =>
      kExpr.eval() match {
        case i: Int => RemoveSpansExpr(t, s, i)
        case l: Long => RemoveSpansExpr(t, s, l.toInt)
        case other => throw new IllegalArgumentException(
          s"remove_spans k must be an integer literal, got $other")
      }
    case _ => throw new IllegalArgumentException(
      "remove_spans(text, span_starts, k) takes a string, an array<int>, and an integer literal")
  }


  /** Called from generated code — one byte scan per row. Walks tokens
    * left to right against the sorted span starts; a token is dropped
    * iff some span [s, s+k-1] covers it (overlaps merge naturally via
    * the running cover-end). Output bytes are the original token
    * slices re-joined with single spaces, so with no spans the text
    * round-trips byte-for-byte. */
  def compute(text: UTF8String, startsArr: ArrayData, k: Int): InternalRow = {
    val bytes = text.getBytes
    val tokStarts = ShingleSet.wordStarts(bytes)
    val nWords = tokStarts.length
    val m = startsArr.numElements()
    val sp = new Array[Int](m)
    var cnt = 0
    var i = 0
    while (i < m) {
      // negative starts dropped, honoring the documented "out-of-range
      // starts cover nothing": a start in (-k, 0) would otherwise
      // absorb at p=0 with coverEnd = s+k-1 ≥ 0 and silently delete
      // leading tokens (SQL callers can pass arbitrary arrays)
      if (!startsArr.isNullAt(i) && startsArr.getInt(i) >= 0) {
        sp(cnt) = startsArr.getInt(i); cnt += 1
      }
      i += 1
    }
    java.util.Arrays.sort(sp, 0, cnt)
    val out = new Array[Byte](bytes.length)
    var outLen = 0
    var nKept = 0
    var coverEnd = -1 // highest token position covered so far (inclusive)
    var si = 0
    var p = 0
    while (p < nWords) {
      while (si < cnt && sp(si) <= p) {
        val e = sp(si) + k - 1
        if (e > coverEnd) coverEnd = e
        si += 1
      }
      if (p > coverEnd) {
        val from = tokStarts(p)
        val until = if (p + 1 < nWords) tokStarts(p + 1) - 1 else bytes.length
        if (nKept > 0) { out(outLen) = ' '; outLen += 1 }
        System.arraycopy(bytes, from, out, outLen, until - from)
        outLen += until - from
        nKept += 1
      }
      p += 1
    }
    new GenericInternalRow(Array[Any](nWords, nKept, UTF8String.fromBytes(out, 0, outLen)))
  }
}
