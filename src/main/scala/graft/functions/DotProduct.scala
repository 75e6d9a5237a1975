package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.NativeColumn
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native Catalyst expression: dot product of two array<double> columns as
  * a STRICT LEFT FOLD — bit-identical to the declarative
  * `aggregate(zip_with(a, b, _*_), 0.0, _+_)` it replaces (same order of
  * floating-point additions, so downstream `round(cos, 4)` values cannot
  * drift; OpsSpec pins the equivalence).
  *
  * Why a custom Expression: `aggregate`/`zip_with` are CodegenFallback —
  * interpreted per ELEMENT per row. Every pair-verify in the vector ops
  * (brute-force top-k, sign-LSH top-k, IVF search, cosine near-dup) pays
  * the fold per candidate pair: ~4×10^6 pairs × 17 dims of boxed
  * interpreted arithmetic on the d10 bench. One static call is an unboxed
  * JIT'd loop. Mismatched lengths and null elements return null, matching
  * zip_with's null-padding + aggregate's null propagation.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression with Serializable {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    DotProduct.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |java.lang.Double ${ev.value}Box = graft.functions.DotProduct.compute($a, $b);
         |if (${ev.value}Box == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = ${ev.value}Box.doubleValue();
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

object DotProduct {

  /** `graft_dot(a, b)` as a Column that resolves in any session. */
  def column(a: Column, b: Column): Column =
    NativeColumn(DotProduct(NativeColumn.expr(a), NativeColumn.expr(b)))

  /** Strict left-fold dot product; null on length mismatch or a null element. */
  def compute(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }
}
