package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.NativeColumn
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native Catalyst expression: token-set Jaccard similarity of two SORTED
  * DISTINCT string arrays, rounded to 4 decimals exactly like Spark's
  * `round(x, 4)` (scala BigDecimal.decimal → java BigDecimal.valueOf,
  * HALF_UP — the OpsSpec equivalence test pins bit-equality against the
  * builtin formulation).
  *
  * Why a custom Expression: the builtin formulation
  * `round(size(array_intersect(a,b)) / (size(a)+size(b)-size(array_intersect(a,b))), 4)`
  * is (a) pushed by the optimizer into the verify join's CONDITION, where
  * common-subexpression elimination does not apply — `array_intersect` ran
  * TWICE per candidate pair (10^7 pairs on the d7 bench), each building a
  * per-row hash set of UTF8 strings; and (b) a large expression tree that
  * bloats the fused join stage's generated method. One static call does a
  * single allocation-free sorted-merge intersection per pair and keeps the
  * join loop JIT-compiled. Inputs MUST be sorted ascending and distinct in
  * binary UTF-8 byte order — `sort_array(array_distinct(...))`'s order for a
  * UTF8_BINARY string — which is the `binaryCompare` used here. (Spark 4's
  * `UTF8String.compareTo` delegates to the same comparison after a
  * `System.getenv("SPARK_TESTING")` check per call, and throws under
  * `SPARK_TESTING` / `spark.testing`.) Two empty
  * arrays give null, as the builtin form's 0/0 does with ANSI off (with
  * ANSI on it raises DIVIDE_BY_ZERO).
  */
case class Jaccard4(left: Expression, right: Expression)
    extends BinaryExpression with Serializable {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_jaccard4"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val j = Jaccard4.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    if (j.isNaN) null else j
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""
         |${ev.value} = graft.functions.Jaccard4.compute($a, $b);
         |${ev.isNull} = java.lang.Double.isNaN(${ev.value});
       """.stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Jaccard4 =
    copy(left = newLeft, right = newRight)
}

object Jaccard4 {

  /** `graft_jaccard4(a, b)` as a Column that resolves in any session. */
  def column(a: Column, b: Column): Column =
    NativeColumn(Jaccard4(NativeColumn.expr(a), NativeColumn.expr(b)))

  /** |A∩B| / |A∪B| over sorted distinct string arrays, rounded like
    * Spark's round(x, 4) (BigDecimal.valueOf + HALF_UP); NaN when both
    * arrays are empty (the expression turns it into null).
    */
  def compute(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var inter = 0
    while (i < na && j < nb) {
      val c = a.getUTF8String(i).binaryCompare(b.getUTF8String(j))
      if (c == 0) { inter += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    val union = na + nb - inter
    if (union == 0) return Double.NaN
    val jac = inter.toDouble / union
    java.math.BigDecimal.valueOf(jac)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
  }
}
