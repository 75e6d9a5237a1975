package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.NativeColumn
import org.apache.spark.sql.types.{BooleanType, DataType}
import org.apache.spark.unsafe.types.UTF8String

/** A sorted set of bucket keys (the hot buckets over a cap). Expressions
  * hold it as a reference object, so the generated code is the same
  * whatever the set holds.
  */
final class KeySet private (private val keys: Array[UTF8String]) extends Serializable {
  def isEmpty: Boolean = keys.isEmpty
  def size: Int = keys.length
  def contains(key: UTF8String): Boolean = {
    var lo = 0
    var hi = keys.length - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val c = keys(mid).binaryCompare(key)
      if (c == 0) return true
      if (c < 0) lo = mid + 1 else hi = mid - 1
    }
    false
  }
  override def equals(o: Any): Boolean = o match {
    case s: KeySet => java.util.Arrays.equals(keys.asInstanceOf[Array[AnyRef]],
      s.keys.asInstanceOf[Array[AnyRef]])
    case _ => false
  }
  override def hashCode: Int = java.util.Arrays.hashCode(keys.asInstanceOf[Array[AnyRef]])
  override def toString: String = s"KeySet(${keys.length} keys)"
}

object KeySet {
  val Empty: KeySet = of(Nil)
  def of(keys: Seq[Array[Byte]]): KeySet =
    new KeySet(keys.map(UTF8String.fromBytes).sortWith(_.binaryCompare(_) < 0).distinct.toArray)
}

/** The canonical-pair tests of the banded near-dup operators' candidate
  * kernel (`CandidateKernel.candidatePairs`): [[firstBand]] for the MinHash
  * operators and the sign-LSH search (`VectorOps.lshTopK`,
  * `cosineNearDupLsh`), [[firstSegment]] for PassJoin. A pair meets once
  * in every bucket it shares; a test passes only the join row of the
  * pair's FIRST shared bucket (in key order), so each pair comes out once
  * with no dedup pass. Each test reads the bucket key and a small
  * per-document blob carried on the join rows, and is one static call in
  * the join condition — a builtin expression tree there grows the fused
  * join's generated method past HotSpot's huge-method JIT limit
  * (measured: the d7 join loop ran interpreted, 16.5 s → 131.5 s).
  * Hot-bucket sets are reference objects, so the generated code does not
  * depend on them.
  */
object PairKernel {

  private def tagLength(bucket: Array[Byte]): Int = 4 + ByteBuffer.wrap(bucket).getInt(0)

  def contains(hot: KeySet, key: Array[Byte]): Boolean = hot.contains(UTF8String.fromBytes(key))

  /** MinHash: whether `bucket` (a band key, [[BucketKeys]]) is the first
    * band at which the two documents' band signatures (`sigsA`, `sigsB`:
    * 8 bytes per band, [[BucketKeys.bandSigs]]) agree in a bucket outside
    * `hot`. Hotness is a property of the bucket, so one document's keys
    * decide it.
    */
  def firstBand(bucket: Array[Byte], sigsA: Array[Byte], sigsB: Array[Byte],
                hot: KeySet): Boolean = {
    val t = tagLength(bucket)
    val band = ByteBuffer.wrap(bucket).getInt(t)
    val a = ByteBuffer.wrap(sigsA)
    val b = ByteBuffer.wrap(sigsB)
    var i = 0
    while (i < band) {
      val sig = a.getLong(8 * i)
      if (sig == b.getLong(8 * i) &&
          (hot.isEmpty || !hot.contains(UTF8String.fromBytes(
            BucketKeys.bandKey(java.util.Arrays.copyOf(bucket, t), i, sig))))) return false
      i += 1
    }
    true
  }

  /** PassJoin: whether `bucket` (an index segment key of prefix `pa`
    * matched by a probe key of prefix `pb`, or the short-block key) is the
    * first segment of `pa` that `pb` holds at a probed position — the
    * positions [[PassJoinSegments.probes]] emits: a segment starting at st
    * of length l, probed at starts [max(st − d, 0), min(st + d, |pb| − l)].
    */
  def firstSegment(bucket: Array[Byte], pa: UTF8String, pb: UTF8String, d: Int): Boolean = {
    val buf = ByteBuffer.wrap(bucket)
    val t = tagLength(bucket)
    val lenA = buf.getInt(t)
    if (lenA < 0) return true // the short block: one key per tag
    val seg = buf.getInt(t + 4)
    val lenB = pb.numChars()
    var i = 0
    while (i < seg) {
      val st = PassJoinSegments.segStart(i, lenA, d)
      val l = PassJoinSegments.segStart(i + 1, lenA, d) - st
      if (l > 0) {
        val s = pa.substring(st, st + l)
        var at = math.max(st - d, 0)
        val hi = math.min(st + d, lenB - l)
        while (at <= hi) {
          if (pb.substring(at, at + l) == s) return false
          at += 1
        }
      }
      i += 1
    }
    true
  }

  /** `graft_hot_key(key)` as a Column: whether `key` is in `hot`. */
  def hotColumn(key: Column, hot: KeySet): Column =
    NativeColumn(HotKey(NativeColumn.expr(key), hot))

  /** `graft_first_band(bucket, sigs_a, sigs_b)` as a Column ([[firstBand]]). */
  def firstBandColumn(bucket: Column, sigsA: Column, sigsB: Column, hot: KeySet): Column =
    NativeColumn(FirstBand(NativeColumn.expr(bucket), NativeColumn.expr(sigsA),
      NativeColumn.expr(sigsB), hot))

  /** `graft_first_segment(bucket, pa, pb)` as a Column ([[firstSegment]]). */
  def firstSegmentColumn(bucket: Column, pa: Column, pb: Column, d: Int): Column =
    NativeColumn(FirstSegment(NativeColumn.expr(bucket), NativeColumn.expr(pa),
      NativeColumn.expr(pb), d))
}

case class HotKey(child: Expression, hot: KeySet) extends UnaryExpression with Serializable {
  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_hot_key"
  override protected def nullSafeEval(key: Any): Any =
    PairKernel.contains(hot, key.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val h = ctx.addReferenceObj("hot", hot, classOf[KeySet].getName)
    defineCodeGen(ctx, ev, k => s"graft.functions.PairKernel.contains($h, $k)")
  }
  override protected def withNewChildInternal(newChild: Expression): HotKey =
    copy(child = newChild)
}

case class FirstBand(first: Expression, second: Expression, third: Expression, hot: KeySet)
    extends TernaryExpression with Serializable {
  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_first_band"
  override protected def nullSafeEval(b: Any, x: Any, y: Any): Any =
    PairKernel.firstBand(b.asInstanceOf[Array[Byte]], x.asInstanceOf[Array[Byte]],
      y.asInstanceOf[Array[Byte]], hot)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val h = ctx.addReferenceObj("hot", hot, classOf[KeySet].getName)
    defineCodeGen(ctx, ev, (b, x, y) => s"graft.functions.PairKernel.firstBand($b, $x, $y, $h)")
  }
  override protected def withNewChildrenInternal(
      a: Expression, b: Expression, c: Expression): FirstBand =
    copy(first = a, second = b, third = c)
}

case class FirstSegment(first: Expression, second: Expression, third: Expression, d: Int)
    extends TernaryExpression with Serializable {
  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_first_segment"
  override protected def nullSafeEval(b: Any, x: Any, y: Any): Any =
    PairKernel.firstSegment(b.asInstanceOf[Array[Byte]], x.asInstanceOf[UTF8String],
      y.asInstanceOf[UTF8String], d)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (b, x, y) => s"graft.functions.PairKernel.firstSegment($b, $x, $y, $d)")
  override protected def withNewChildrenInternal(
      a: Expression, b: Expression, c: Expression): FirstSegment =
    copy(first = a, second = b, third = c)
}
