package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `text_stats(text)` — native Catalyst expression computing q23's
  * per-document token statistics in ONE pass over the raw bytes:
  * struct(n_tokens, n_distinct_tokens, sum_tok_len, n_stop).
  *
  * Same rationale as [[SimHash60]]/[[WinnowMinima]]: the Column
  * formulation tokenized with `filter(split(text,' '), len>0)` and
  * paid THREE interpreted higher-order lambdas per row (`aggregate`
  * for summed token length, `filter` twice) — the last interpretation
  * tax in the text family. This stays inside whole-stage
  * codegen: one byte scan, one hash set, one static call per row.
  *
  * Token semantics are bit-identical to the replaced plan: tokens are
  * maximal runs of non-space (0x20) bytes — `split(text, " ")` splits
  * on every single space and the length>0 filter drops the empties,
  * which is the same set of slices; 0x20 never occurs inside a UTF-8
  * multi-byte sequence, so byte scanning is safe. Token length counts
  * CODE POINTS ([[UTF8String.numChars]]), matching Spark's `length`;
  * distinctness is exact byte equality, matching `array_distinct`;
  * `n_stop` counts token OCCURRENCES in [[TextStats.Stopwords]],
  * matching `filter(ws, array_contains(...))`. */
case class TextStatsExpr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"text_stats needs string, got ${other.catalogString}")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("n_distinct_tokens", LongType, nullable = false),
    StructField("sum_tok_len", LongType, nullable = false),
    StructField("n_stop", LongType, nullable = false)))

  override def prettyName: String = "text_stats"

  override protected def nullSafeEval(input: Any): Any =
    TextStats.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextStats.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): TextStatsExpr =
    copy(child = newChild)
}

object TextStats {

  /** Pinned stopword list for quality ratios (the testdata vocabulary
    * is English-ish word soup; list chosen from it deliberately).
    * Canonical copy — [[graft.ops.TextOps.Stopwords]] aliases it. */
  val Stopwords: Seq[String] = Seq("the", "a", "of", "to", "and", "in", "is", "on")

  private val stopSet: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String]()
    Stopwords.foreach(w => s.add(UTF8String.fromString(w)))
    s
  }

  /** SQL builder for [[graft.GraftExtensions]]. */
  private[graft] val builder: Seq[Expression] => Expression = {
    case Seq(c) => TextStatsExpr(c)
    case _ => throw new IllegalArgumentException("text_stats(text) takes 1 argument")
  }


  /** Called from generated code — one byte scan per row. */
  def compute(text: UTF8String): InternalRow = {
    val bytes = text.getBytes
    val n = bytes.length
    var nTokens = 0L
    var sumLen = 0L
    var nStop = 0L
    val distinct = new java.util.HashSet[UTF8String]()
    var i = 0
    while (i < n) {
      while (i < n && bytes(i) == ' ') i += 1
      if (i < n) {
        val start = i
        while (i < n && bytes(i) != ' ') i += 1
        val tok = UTF8String.fromBytes(bytes, start, i - start)
        nTokens += 1
        sumLen += tok.numChars()
        distinct.add(tok)
        if (stopSet.contains(tok)) nStop += 1
      }
    }
    new GenericInternalRow(Array[Any](nTokens, distinct.size.toLong, sumLen, nStop))
  }
}
