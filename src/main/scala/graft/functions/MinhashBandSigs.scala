package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.NativeColumn
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: the `bands` MinHash band signatures of a
  * text's distinct whitespace-token set — one array<long> per row,
  * bit-for-bit equal to the declarative pipeline it replaces
  * (OpsSpec asserts equality against the reference formulation):
  *
  *   base  h(t)   = xxhash64(t) mod p           (p = 2^31−1, seed 42)
  *   lane  m_i    = min over tokens of (h·(2i+1) + b_i) mod p,
  *                  b_i = xxhash64(i.toString) mod p
  *   band  sig_j  = xxhash64(m_{j·r} "_" … "_" m_{j·r+r−1})   (decimal, "_"-joined)
  *
  * Why a custom Expression: the staged HOF pipeline (transform/aggregate/
  * array_min + per-band string concat) is CodegenFallback — interpreted per
  * row per lane, ~4 s of the d7 bench spent deriving 160k band rows. This
  * is ONE codegen'd static call per row of unboxed loops.
  */
case class MinhashBandSigs(child: Expression, k: Int, bands: Int)
    extends UnaryExpression with Serializable {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash_band_sigs"

  override protected def nullSafeEval(input: Any): Any =
    MinhashBandSigs.compute(input.asInstanceOf[UTF8String], k, bands)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.MinhashBandSigs.compute($c, $k, $bands)")

  override protected def withNewChildInternal(newChild: Expression): MinhashBandSigs =
    copy(child = newChild)
}

object MinhashBandSigs {

  /** `graft_minhash_band_sigs(text, k, bands)` as a Column that resolves in
    * any session. The text is cast to string; Catalyst's SimplifyCasts
    * drops the cast when the column already is one.
    */
  def column(text: Column, k: Int, bands: Int): Column =
    NativeColumn(MinhashBandSigs(Cast(NativeColumn.expr(text), StringType), k, bands))

  private val P = 2147483647L // 2^31 − 1, matches TextOps.MinhashPrime

  // b_i coefficients per k, memoized (identical to the expression form:
  // pmod(xxhash64(i.toString), p) — xxhash64 seed 42 over UTF-8 bytes)
  private val bCache = new java.util.concurrent.ConcurrentHashMap[Int, Array[Long]]()

  private def bFor(k: Int): Array[Long] = {
    var b = bCache.get(k)
    if (b == null) {
      b = (0 until k).map(i =>
        java.lang.Math.floorMod(
          XxHash64Function.hash(UTF8String.fromString(i.toString), StringType, 42L), P)).toArray
      bCache.putIfAbsent(k, b)
    }
    b
  }

  /** Band signatures of one text — unboxed loops, codegen-callable. */
  def compute(s: UTF8String, k: Int, bands: Int): GenericArrayData =
    new GenericArrayData(bandSigs(s, k, bands))

  /** The `bands` band signatures of one text. */
  def bandSigs(s: UTF8String, k: Int, bands: Int): Array[Long] = {
    val b = bFor(k)
    val tokens = s.toString.split(" ", -1)
    val seen = new java.util.HashSet[String](tokens.length * 2)
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var t = 0
    while (t < tokens.length) {
      val tok = tokens(t)
      if (seen.add(tok)) {
        val h = java.lang.Math.floorMod(
          XxHash64Function.hash(UTF8String.fromString(tok), StringType, 42L), P)
        var i = 0
        while (i < k) {
          // h < p, (2i+1) <= 2k−1, b_i < p: h·(2i+1)+b_i < 2^31·2^7 + 2^31
          // — no overflow; operands nonnegative so % equals pmod
          val v = (h * (2L * i + 1L) + b(i)) % P
          if (v < mins(i)) mins(i) = v
          i += 1
        }
      }
      t += 1
    }
    val rowsPerBand = k / bands
    val out = new Array[Long](bands)
    val sb = new java.lang.StringBuilder(rowsPerBand * 11)
    var j = 0
    while (j < bands) {
      sb.setLength(0)
      var r = 0
      while (r < rowsPerBand) {
        if (r > 0) sb.append('_')
        sb.append(mins(j * rowsPerBand + r))
        r += 1
      }
      out(j) = XxHash64Function.hash(UTF8String.fromString(sb.toString), StringType, 42L)
      j += 1
    }
    out
  }
}
