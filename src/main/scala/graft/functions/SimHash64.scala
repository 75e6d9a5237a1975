package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.NativeColumn
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: 64-bit SimHash of the whitespace-token SET of
  * a string — per-bit majority vote over xxhash64(token) (seed 42, identical
  * to Spark's `xxhash64` builtin, so it is bit-for-bit equal to the
  * declarative higher-order-function formulation in TextOps.withSimhash).
  *
  * Why a custom Expression: the HOF formulation builds a 64-element
  * `transform × aggregate` expression tree evaluated per row — correct but
  * interpretation-heavy. This is ONE whole-stage-codegen'd static call per
  * row (`doGenCode` emits a single invocation), the preference order the
  * build brief names: native Expression with codegen > UDF.
  */
case class SimHash64(child: Expression) extends UnaryExpression with Serializable {

  // AbstractDataType (ImplicitCastInputTypes) is private[sql] — the Column
  // builder below inserts an explicit Cast to string instead
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash64"

  override protected def nullSafeEval(input: Any): Any =
    SimHash64.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHash64.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

object SimHash64 {

  /** `graft_simhash64(text)` as a Column that resolves in any session. The
    * text is cast to string; Catalyst's SimplifyCasts drops the cast when
    * the column already is one.
    */
  def column(text: Column): Column =
    NativeColumn(SimHash64(Cast(NativeColumn.expr(text), StringType)))

  /** Single-pass SimHash over distinct whitespace tokens. Tokenization
    * matches Spark's `split(text, " ")` (regex split, limit -1: trailing
    * empty tokens kept); the hash matches Spark's `xxhash64` (seed 42 over
    * the UTF-8 bytes).
    */
  def compute(s: UTF8String): Long = {
    val tokens = s.toString.split(" ", -1)
    val seen = new java.util.HashSet[String](tokens.length * 2)
    val counts = new Array[Int](64)
    var i = 0
    while (i < tokens.length) {
      val t = tokens(i)
      if (seen.add(t)) {
        val h = XxHash64Function.hash(UTF8String.fromString(t), StringType, 42L)
        var j = 0
        while (j < 64) {
          if (((h >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
          j += 1
        }
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 64) {
      if (counts(j) > 0) out |= (1L << j)
      j += 1
    }
    out
  }
}
