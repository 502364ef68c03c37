package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** `vec_dot(a, b)` — native Catalyst expression for the exact integer
  * dot product of two `array<bigint>` vectors.
  *
  * Same rationale as [[SimHash60]]/[[WinnowMinima]]: the Column
  * formulation `aggregate(zip_with(a, b, _*_), 0L, _+_)` allocates an
  * intermediate array and evaluates two INTERPRETED lambdas per row —
  * per pair in the q29/q33 self-joins and per (query, candidate) in
  * q27/q31, that interpretation tax dominates the scoring stage. This
  * stays inside whole-stage codegen: one primitive loop, no
  * allocation, and the identical Long arithmetic (so every
  * oracle-checked dot/cosine value is unchanged).
  *
  * Null semantics match the zip_with/aggregate formulation it
  * replaces: a null ELEMENT in either array makes the result null
  * (SQL callers reach it through [[graft.GraftExtensions]] with
  * arbitrary arrays — reading the raw slot instead would silently
  * return garbage). When both element types are non-nullable the codegen
  * path skips the per-element checks entirely. */
case class VecDot(left: Expression, right: Expression) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"vec_dot needs two array<bigint>, got ${l.catalogString} and ${r.catalogString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "vec_dot"

  private def elemNullable: Boolean = Seq(left, right).exists(_.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _ => false
  })

  override def nullable: Boolean = left.nullable || right.nullable || elemNullable

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VecDot.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (elemNullable) {
      // boxed call: a null element anywhere yields SQL NULL
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val tmp = ctx.freshName("vecDot")
        s"""
           |java.lang.Long $tmp = graft.functions.VecDot.compute($a, $b);
           |if ($tmp == null) {
           |  ${ev.isNull} = true;
           |} else {
           |  ${ev.value} = $tmp.longValue();
           |}
         """.stripMargin
      })
    } else {
      // both element types non-nullable: primitive loop, no checks
      defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VecDot.computeStrict($a, $b)")
    }

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)
}

object VecDot {

  /** SQL builder for [[graft.GraftExtensions]]. */
  private[graft] val builder: Seq[Expression] => Expression = {
    case Seq(a, b) => VecDot(a, b)
    case _ => throw new IllegalArgumentException("vec_dot(a, b) takes 2 arguments")
  }


  /** Called from generated code — one primitive loop per row. Mirrors
    * the zip_with semantics: the product runs over the SHORTER length
    * (equal for every caller — both sides are Dim-sized) and a null
    * element anywhere nullifies the result. */
  def compute(a: ArrayData, b: ArrayData): java.lang.Long = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      s += a.getLong(i) * b.getLong(i)
      i += 1
    }
    s
  }

  /** Non-null fast path for arrays whose element type is provably
    * non-nullable: no per-element checks. */
  def computeStrict(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0L
    var i = 0
    while (i < n) {
      s += a.getLong(i) * b.getLong(i)
      i += 1
    }
    s
  }
}
