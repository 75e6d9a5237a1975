package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.NativeColumn
import org.apache.spark.sql.types.{DataType, IntegerType}

/** Native Catalyst expression: the FIRST band index t where two MinHash
  * band-signature arrays agree (`sigsA[t] == sigsB[t]`) AND bit t of the
  * surviving-band mask is set; `sigsA.length` when no such t exists.
  *
  * This is the canonical-band test of TextOps.minhashLsh's dedup-free pair
  * emission. Why a custom Expression: the equivalent builtin cascade —
  * 16 nested `least(CASE WHEN element_at(a,t)=element_at(b,t) AND
  * shiftright(mask,t)&1=1 ...)` terms — lands inside the candidate join's
  * condition, and the fused whole-stage-codegen method it produces grows
  * past HotSpot's huge-method JIT limit: the entire 10^7-row join loop ran
  * INTERPRETED (measured: d7 16.5 s → 131.5 s — worse than the
  * dropDuplicates it replaced). One static call keeps the generated join
  * method small and the loop JIT-compiled.
  */
case class FirstSharedBand(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with Serializable {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_first_shared_band"

  override protected def nullSafeEval(a: Any, b: Any, m: Any): Any =
    FirstSharedBand.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      m.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, m) =>
      s"graft.functions.FirstSharedBand.compute($a, $b, $m)")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): FirstSharedBand =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object FirstSharedBand {

  /** `graft_first_shared_band(sigsA, sigsB, mask)` as a Column that
    * resolves in any session.
    */
  def column(sigsA: Column, sigsB: Column, mask: Column): Column =
    NativeColumn(FirstSharedBand(
      NativeColumn.expr(sigsA), NativeColumn.expr(sigsB), NativeColumn.expr(mask)))

  /** First index where the arrays agree and the mask bit is set. */
  def compute(a: ArrayData, b: ArrayData, mask: Long): Int = {
    val n = a.numElements()
    var i = 0
    while (i < n) {
      if (((mask >>> i) & 1L) == 1L && a.getLong(i) == b.getLong(i)) return i
      i += 1
    }
    n
  }
}
