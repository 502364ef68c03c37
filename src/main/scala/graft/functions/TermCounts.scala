package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `term_counts(text)` — native Catalyst expression computing a
  * document's retrieval-token term frequencies in ONE pass:
  * struct(dl, pairs array<struct<term, tf>>), where `dl` is the total
  * token count and `pairs` holds each DISTINCT token with its
  * occurrence count, first-occurrence order.
  *
  * Why it exists (scale): the BM25 index build
  * ([[graft.ops.Retrieval.bm25Build]] — q71/q88/q93/q95 and the
  * artifact publisher) previously materialized per-document tf with
  * `explode(terms)` → `groupBy(term, doc_id, dl).count()` — a full
  * exchange of every distinct (term, doc) row in the corpus, paid
  * purely to aggregate WITHIN documents. Term frequency needs no
  * cross-row data movement at all (the [[ShingleSet]] argument, one
  * operator later): this expression counts inside the row, the
  * explode that follows emits finished postings, and the build's
  * first real exchange becomes the df/idf aggregate that genuinely
  * needs the network. At 100 TB the removed shuffle is
  * corpus-token-bounded — the largest relation the lexical family
  * ever moved.
  *
  * Token semantics are bit-identical to the replaced plan's
  * `filter(split(lower(text), "\\s+"), t -> length(t) > 0)`:
  * lowercase first ([[UTF8String.toLowerCase]] — the `lower()`
  * kernel), then tokens are maximal runs of non-whitespace bytes,
  * where whitespace is Java regex `\s` = the six ASCII bytes
  * 0x20 0x09 0x0A 0x0B 0x0C 0x0D (ASCII-only by default, and none
  * can occur inside a UTF-8 multi-byte sequence, so byte scanning is
  * safe); leading/trailing/consecutive whitespace yields the empty
  * strings the filter dropped. Distinctness is exact byte equality
  * (the groupBy's semantics); `dl` counts ALL occurrences —
  * `size(terms)` of the replaced plan. TermCountsSpec pins parity
  * against the declarative twin. */
case class TermCountsExpr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"term_counts needs string, got ${other.catalogString}")
  }

  override def dataType: DataType = TermCounts.OutType

  override def prettyName: String = "term_counts"

  override protected def nullSafeEval(input: Any): Any =
    TermCounts.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TermCounts.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): TermCountsExpr =
    copy(child = newChild)
}

object TermCounts {

  private[graft] val OutType: StructType = StructType(Seq(
    StructField("dl", IntegerType, nullable = false),
    StructField("pairs", ArrayType(StructType(Seq(
      StructField("term", StringType, nullable = false),
      StructField("tf", IntegerType, nullable = false))), containsNull = false),
      nullable = false)))

  private[graft] val builder: Seq[Expression] => Expression = {
    case Seq(c) => TermCountsExpr(c)
    case _ => throw new IllegalArgumentException(
      "term_counts(text) takes exactly one string argument")
  }


  /** Java regex `\s` (ASCII-only default) — the exact class
    * `split(text, "\\s+")` splits on. */
  private def isWs(b: Byte): Boolean =
    b == 0x20 || b == 0x09 || b == 0x0A || b == 0x0B || b == 0x0C || b == 0x0D

  /** Called from generated code — one byte scan per row. */
  def compute(text: UTF8String): InternalRow = {
    val bytes = text.toLowerCase.getBytes
    val len = bytes.length
    val counts = new java.util.LinkedHashMap[UTF8String, Integer]()
    var dl = 0
    var i = 0
    while (i < len) {
      while (i < len && isWs(bytes(i))) i += 1
      if (i < len) {
        val start = i
        while (i < len && !isWs(bytes(i))) i += 1
        val t = UTF8String.fromBytes(bytes, start, i - start)
        dl += 1
        val prev = counts.get(t)
        counts.put(t, if (prev == null) 1 else prev + 1)
      }
    }
    val out = new Array[Any](counts.size())
    val it = counts.entrySet().iterator()
    var j = 0
    while (it.hasNext) {
      val e = it.next()
      out(j) = new GenericInternalRow(Array[Any](e.getKey, e.getValue.intValue()))
      j += 1
    }
    new GenericInternalRow(Array[Any](dl, new GenericArrayData(out)))
  }
}
