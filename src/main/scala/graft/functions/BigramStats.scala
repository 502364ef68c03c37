package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `bigram_stats(text)` — native Catalyst expression computing q41's
  * within-document repetition statistics in ONE pass over the raw
  * bytes: struct(n_bigrams, n_distinct_bigrams, max_count).
  *
  * The Gopher-style repetition filters (fraction of duplicate n-grams,
  * fraction of mass in the single most-frequent n-gram) need per-doc
  * bigram counts. The DataFrame formulation explodes ~n_tokens rows
  * per document through two shuffles (groupBy (doc, bigram) then
  * groupBy doc) — row amplification through an exchange, the same
  * shape an explode-based q26 pays for. This expression keeps the
  * whole count map row-local: zero shuffle, zero interpreted lambdas,
  * one static call per row from generated code (the
  * [[SimHash60]]/[[TextStats]]/[[WinnowMinima]] pattern).
  *
  * Token semantics match [[TextStats]] exactly (maximal runs of
  * non-space bytes = `split(text,' ')` minus empties); a bigram is two
  * CONSECUTIVE tokens joined by one space, so the bigram universe
  * matches `concat_ws(' ', slice(ws, i, 2))` over the filtered token
  * array — and the DuckDB oracle's `ws[i] || ' ' || ws[i+1]`.
  * Documents with fewer than 2 tokens have n_bigrams = 0 (callers
  * filter them out — no ratio is defined). */
case class BigramStatsExpr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"bigram_stats needs string, got ${other.catalogString}")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("n_bigrams", LongType, nullable = false),
    StructField("n_distinct_bigrams", LongType, nullable = false),
    StructField("max_count", LongType, nullable = false)))

  override def prettyName: String = "bigram_stats"

  override protected def nullSafeEval(input: Any): Any =
    BigramStats.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.BigramStats.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): BigramStatsExpr =
    copy(child = newChild)
}

object BigramStats {

  /** SQL builder for [[graft.GraftExtensions]]. */
  private[graft] val builder: Seq[Expression] => Expression = {
    case Seq(c) => BigramStatsExpr(c)
    case _ => throw new IllegalArgumentException("bigram_stats(text) takes 1 argument")
  }


  private val Space = UTF8String.fromString(" ")

  /** Called from generated code — one byte scan + one count map per row. */
  def compute(text: UTF8String): InternalRow = {
    val bytes = text.getBytes
    val n = bytes.length
    val counts = new java.util.HashMap[UTF8String, Long]()
    var nBigrams = 0L
    var maxCount = 0L
    var prev: UTF8String = null
    var i = 0
    while (i < n) {
      while (i < n && bytes(i) == ' ') i += 1
      if (i < n) {
        val start = i
        while (i < n && bytes(i) != ' ') i += 1
        val tok = UTF8String.fromBytes(bytes, start, i - start)
        if (prev != null) {
          val bg = UTF8String.concatWs(Space, prev, tok)
          nBigrams += 1
          val c = counts.merge(bg, 1L, (a, b) => a + b)
          if (c > maxCount) maxCount = c
        }
        prev = tok
      }
    }
    new GenericInternalRow(Array[Any](nBigrams, counts.size.toLong, maxCount))
  }
}
