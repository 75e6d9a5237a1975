package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.NativeColumn
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expression: the dot products of one embedding against
  * EVERY row of a ±1 sign matrix (array<array<double>> literal), as one
  * array<double> — the per-row work of VectorOps.lshTables. Each plane's
  * product is the same strict left fold as [[DotProduct]], so bucket sign
  * bits are bit-identical to the declarative formulation (OpsSpec's
  * lshTables-vs-lshBucketAt equivalence test pins it). A null embedding
  * element makes every plane's product null, as the fold's null sum does.
  *
  * Why a custom Expression: the outer `transform(sequence(0,total-1), …)`
  * HOF is CodegenFallback — evaluated interpreted per PLANE per row even
  * with a native inner fold (measured ~3 s of the d10 bench for 1,500
  * rows × 64 planes). One static call per row runs the whole
  * planes × dims loop unboxed and JIT-compiled.
  */
case class SignDots(left: Expression, right: Expression)
    extends BinaryExpression with Serializable {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def prettyName: String = "graft_sign_dots"

  override protected def nullSafeEval(e: Any, s: Any): Any =
    SignDots.compute(e.asInstanceOf[ArrayData], s.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (e, s) => s"graft.functions.SignDots.compute($e, $s)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SignDots =
    copy(left = newLeft, right = newRight)
}

object SignDots {

  /** `graft_sign_dots(embedding, signs)` as a Column that resolves in any
    * session.
    */
  def column(embedding: Column, signs: Column): Column =
    NativeColumn(SignDots(NativeColumn.expr(embedding), NativeColumn.expr(signs)))

  /** Per sign-matrix row p: strict left-fold Σ_d emb[d] · signs[p][d];
    * null when a term has a null factor.
    */
  def compute(emb: ArrayData, signs: ArrayData): GenericArrayData = {
    val total = signs.numElements()
    val out = new Array[Any](total)
    val n = emb.numElements()
    var p = 0
    while (p < total) {
      val row = signs.getArray(p)
      var acc = 0.0
      var isNull = false
      var d = 0
      while (d < n && !isNull) {
        if (emb.isNullAt(d) || row.isNullAt(d)) isNull = true
        else acc += emb.getDouble(d) * row.getDouble(d)
        d += 1
      }
      out(p) = if (isNull) null else acc
      p += 1
    }
    new GenericArrayData(out)
  }
}
