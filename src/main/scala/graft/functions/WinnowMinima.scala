package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `winnow_minima(text)` — native Catalyst expression computing the
  * winnowing sketch core (q26's hot path) in ONE pass: hash every char
  * k-gram (md5, first 60 bits — bit-identical to
  * `conv(substring(md5(substring(text,i,k)),1,15),16,10)`, the
  * portable-hash primitive every near-dup operator here pins), then
  * the minimum of each forward window of `w` positions (trailing
  * windows truncate, matching a rowsBetween(0, w-1) frame).
  *
  * Why a custom expression (SURVEY §7 preference ladder, step (b)):
  * the higher-order-function formulation evaluates interpreted —
  * per-element lambda dispatch outside whole-stage codegen — and the
  * explode+window formulation shuffles an ~n_chars× row amplification.
  * This expression stays inside codegen (`doGenCode` emits a single
  * static call, the same shape as Spark's own `StaticInvoke`-style
  * builtins), allocates one digest per row, and does the window minima
  * in a tight primitive loop. Zero shuffle AND zero interpretation.
  */
case class WinnowMinima(child: Expression, k: Int, w: Int)
  extends UnaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"winnow_minima needs a string argument, got ${child.dataType.catalogString}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow_minima"

  override protected def nullSafeEval(input: Any): Any =
    WinnowMinima.compute(input.asInstanceOf[UTF8String].toString, k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.WinnowMinima.compute($c.toString(), $k, $w)")

  override protected def withNewChildInternal(newChild: Expression): WinnowMinima =
    copy(child = newChild)
}

object WinnowMinima {

  /** SQL builder for [[graft.GraftExtensions]]. */
  private[graft] val builder: Seq[Expression] => Expression = {
    case Seq(c)       => WinnowMinima(c, 8, 4)
    case Seq(c, k, w) => WinnowMinima(c,
      k.eval().asInstanceOf[Number].intValue(),
      w.eval().asInstanceOf[Number].intValue())
    case _ => throw new IllegalArgumentException(
      "winnow_minima(text[, k, w]) takes 1 or 3 arguments")
  }


  /** One pass over the row: k-gram 60-bit md5 hashes, then forward
    * sliding-window minima (O(n·w); w is small by construction).
    * Called from generated code — keep it static-shaped and
    * allocation-light. */
  def compute(s: String, k: Int, w: Int): ArrayData = {
    val n = s.length - k + 1
    if (n <= 0) return new GenericArrayData(Array.emptyLongArray)
    val md = java.security.MessageDigest.getInstance("MD5")
    val hs = new Array[Long](n)
    var i = 0
    while (i < n) {
      md.reset()
      val d = md.digest(
        s.substring(i, i + k).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // first 15 hex digits = bytes 0..6 plus the high nibble of byte 7
      var acc = 0L
      var j = 0
      while (j < 7) { acc = (acc << 8) | (d(j) & 0xffL); j += 1 }
      hs(i) = (acc << 4) | ((d(7) & 0xffL) >>> 4)
      i += 1
    }
    val out = new Array[Long](n)
    i = 0
    while (i < n) {
      var m = hs(i)
      var j = i + 1
      val end = math.min(i + w, n)
      while (j < end) { if (hs(j) < m) m = hs(j); j += 1 }
      out(i) = m
      i += 1
    }
    new GenericArrayData(out)
  }
}
