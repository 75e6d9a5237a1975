package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, GenericInternalRow, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graft.NativeColumn
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst generators for the PassJoin segment blocking of
  * `TextOps.editDistancePairsSegmented`. Both take a prefix `p` and emit
  * `(len_a, seg, seg_str)` rows, joined on all three plus the block key:
  *
  *   - [[PassJoinIndex]]: the d+1 segments of `p` itself (len_a = |p|),
  *     segment i = chars [floor(i·L/(d+1)), floor((i+1)·L/(d+1))); nothing
  *     when |p| <= d (the operator's short block covers those prefixes).
  *   - [[PassJoinProbes]]: for every partner length len_a in
  *     [max(|p|−d, d+1), |p|+d] and segment i of a len_a-char string, the
  *     substrings of `p` of that segment's length starting within ±d of the
  *     segment's start; nothing when |p| = 0.
  *
  * Lengths and offsets count characters, as Spark's `length`/`substr` do.
  *
  * Why custom generators: the builtin form explodes nested `transform` /
  * `sequence` / `flatten` higher-order functions, which Spark interprets
  * (CodegenFallback) per lambda call. These are one codegen'd static call
  * per row returning the rows directly.
  */
abstract class PassJoinGenerator extends UnaryExpression with Generator with Serializable {
  def d: Int
  /** Name of the static row function in [[PassJoinSegments]]. */
  protected def rowsFn: String
  protected def rows(p: UTF8String): Iterator[InternalRow]

  override def elementSchema: StructType = PassJoinSegments.Schema

  override def eval(input: InternalRow): IterableOnce[InternalRow] =
    rows(child.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |scala.collection.Iterator<InternalRow> ${ev.value} = graft.functions.PassJoinSegments.$rowsFn(
      |  ${c.isNull} ? null : ${c.value}, $d);
      """.stripMargin, isNull = FalseLiteral)
  }
}

case class PassJoinIndex(child: Expression, d: Int) extends PassJoinGenerator {
  override protected def rowsFn: String = "index"
  override protected def rows(p: UTF8String): Iterator[InternalRow] = PassJoinSegments.index(p, d)
  override def prettyName: String = "graft_passjoin_index"
  override protected def withNewChildInternal(newChild: Expression): PassJoinIndex =
    copy(child = newChild)
}

case class PassJoinProbes(child: Expression, d: Int) extends PassJoinGenerator {
  override protected def rowsFn: String = "probes"
  override protected def rows(p: UTF8String): Iterator[InternalRow] = PassJoinSegments.probes(p, d)
  override def prettyName: String = "graft_passjoin_probes"
  override protected def withNewChildInternal(newChild: Expression): PassJoinProbes =
    copy(child = newChild)
}

object PassJoinSegments {

  val Schema: StructType = StructType(Seq(
    StructField("len_a", IntegerType, nullable = false),
    StructField("seg", IntegerType, nullable = false),
    StructField("seg_str", StringType, nullable = false)))

  /** The index generator over prefix `p` as a Column; its output columns
    * are `len_a`, `seg`, `seg_str`.
    */
  def indexColumn(p: Column, d: Int): Column =
    NativeColumn(PassJoinIndex(Cast(NativeColumn.expr(p), StringType), d))

  /** The probe generator over prefix `p` as a Column; same output columns. */
  def probeColumn(p: Column, d: Int): Column =
    NativeColumn(PassJoinProbes(Cast(NativeColumn.expr(p), StringType), d))

  // start of segment i of a len-char string: floor(i·len/(d+1))
  private def segStart(i: Int, len: Int, d: Int): Int = (i.toLong * len / (d + 1)).toInt

  private def row(lenA: Int, seg: Int, bytes: Array[Byte], at: Array[Int],
                  from: Int, until: Int): InternalRow =
    new GenericInternalRow(Array[Any](lenA, seg,
      UTF8String.fromBytes(bytes, at(from), at(until) - at(from))))

  /** Index rows of one prefix — codegen-callable; null gives no rows. */
  def index(p: UTF8String, d: Int): Iterator[InternalRow] = {
    val at = if (p == null) null else WinnowFingerprints.charOffsets(p)
    val len = if (at == null) 0 else at.length - 1
    if (len <= d) return Iterator.empty
    val bytes = p.getBytes
    val out = new scala.collection.mutable.ArrayBuffer[InternalRow](d + 1)
    var i = 0
    while (i <= d) {
      val st = segStart(i, len, d)
      val en = segStart(i + 1, len, d)
      if (en > st) out += row(len, i, bytes, at, st, en)
      i += 1
    }
    out.iterator
  }

  /** Probe rows of one prefix — codegen-callable; null gives no rows. */
  def probes(p: UTF8String, d: Int): Iterator[InternalRow] = {
    val at = if (p == null) null else WinnowFingerprints.charOffsets(p)
    val len = if (at == null) 0 else at.length - 1
    if (len < 1) return Iterator.empty
    val bytes = p.getBytes
    val out = new scala.collection.mutable.ArrayBuffer[InternalRow]()
    var lenA = math.max(len - d, d + 1)
    while (lenA <= len + d) {
      var i = 0
      while (i <= d) {
        val st = segStart(i, lenA, d)
        val segLen = segStart(i + 1, lenA, d) - st
        if (segLen > 0) {
          var b = math.max(st - d, 0)
          val hi = math.min(st + d, len - segLen)
          while (b <= hi) { out += row(lenA, i, bytes, at, b, b + segLen); b += 1 }
        }
        i += 1
      }
      lenA += 1
    }
    out.iterator
  }
}
