package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.NativeColumn
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: the winnowing fingerprints of one text —
  * xxhash64 (seed 42) of every k-character window, the minimum of every
  * w-window of those hashes, distinct values in first-seen order. Equal as
  * a set to `TextOps.winnowFingerprintsFromGrams(kgramHashes(text, k), w)`
  * (OpsSpec asserts it, multibyte text included); a text shorter than
  * k + w − 1 characters gives an empty array, a null text null.
  *
  * Why a custom Expression: the reference pipeline is two `transform`
  * higher-order functions over `sequence`, which Spark interprets
  * (CodegenFallback) per k-gram and per window, allocating a substring per
  * k-gram. This hashes each window in place over the UTF-8 bytes in one
  * codegen'd static call per row.
  */
case class WinnowFingerprints(child: Expression, k: Int, w: Int)
    extends UnaryExpression with Serializable {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_winnow_fingerprints"

  override protected def nullSafeEval(input: Any): Any =
    WinnowFingerprints.compute(input.asInstanceOf[UTF8String], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.WinnowFingerprints.compute($c, $k, $w)")

  override protected def withNewChildInternal(newChild: Expression): WinnowFingerprints =
    copy(child = newChild)
}

object WinnowFingerprints {

  /** `graft_winnow_fingerprints(text, k, w)` as a Column that resolves in
    * any session. The text is cast to string; Catalyst's SimplifyCasts
    * drops the cast when the column already is one.
    */
  def column(text: Column, k: Int, w: Int): Column = {
    require(k >= 1 && w >= 1, s"k and w must be positive: k=$k w=$w")
    NativeColumn(WinnowFingerprints(Cast(NativeColumn.expr(text), StringType), k, w))
  }

  /** Byte offset of every character boundary of `s` (numChars + 1 entries),
    * stepping characters the way UTF8String's `numChars`/`substring` do.
    */
  private[functions] def charOffsets(s: UTF8String): Array[Int] = {
    val nb = s.numBytes()
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val out = new Array[Int](s.numChars() + 1)
    var c = 0
    var i = 0
    while (c < out.length - 1) {
      i = math.min(nb,
        i + UTF8String.numBytesForFirstByte(Platform.getByte(base, off + i)))
      c += 1
      out(c) = i
    }
    out
  }

  /** Winnowing fingerprints of one text — codegen-callable. */
  def compute(s: UTF8String, k: Int, w: Int): GenericArrayData =
    new GenericArrayData(fingerprints(s, k, w))

  /** The distinct fingerprints of one text, in first-seen order. */
  def fingerprints(s: UTF8String, k: Int, w: Int): Array[Long] = {
    val at = charOffsets(s)
    val grams = at.length - k // number of k-character windows
    val windows = grams - (w - 1)
    if (windows < 1) return Array.emptyLongArray
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val h = new Array[Long](grams)
    var i = 0
    while (i < grams) {
      h(i) = XXH64.hashUnsafeBytes(base, off + at(i), at(i + k) - at(i), 42L)
      i += 1
    }
    val out = new Array[Long](windows)
    val seen = new java.util.HashSet[java.lang.Long](windows * 2)
    var n = 0
    var j = 0
    while (j < windows) {
      var m = h(j)
      var t = j + 1
      while (t < j + w) { if (h(t) < m) m = h(t); t += 1 }
      // consecutive windows usually share their minimum: skip the set probe
      if ((n == 0 || out(n - 1) != m) && seen.add(m)) { out(n) = m; n += 1 }
      j += 1
    }
    java.util.Arrays.copyOf(out, n)
  }
}
