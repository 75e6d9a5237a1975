package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.NativeColumn
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native Catalyst expression: the C(c, c−d) Manku chunk-subset keys of a
  * 64-bit simhash at radius `maxDist` — one array<long> per row, ordered by
  * the canonical `(0 until c).combinations(c−d)` subset order, each key the
  * subset's chunk values concatenated at their cumulative widths (identical
  * to the HOF `aggregate` fold it replaces; OpsSpec asserts bit-equality).
  *
  * Why a custom Expression: higher-order functions are CodegenFallback —
  * the `posexplode(subsets) + aggregate fold` formulation interpreted ~5 µs
  * per generated row (~20 s for the 3.9M-row d17 block table; measured
  * round 6). This is ONE codegen'd static call per VALUE row doing ~6k
  * unboxed shift/or ops, then a native posexplode of the flat long array.
  */
case class SimhashSubsetKeys(child: Expression, maxDist: Int)
    extends UnaryExpression with Serializable {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_simhash_subset_keys"

  override protected def nullSafeEval(input: Any): Any =
    SimhashSubsetKeys.compute(input.asInstanceOf[Long], maxDist)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimhashSubsetKeys.compute($c, $maxDist)")

  override protected def withNewChildInternal(newChild: Expression): SimhashSubsetKeys =
    copy(child = newChild)
}

object SimhashSubsetKeys {

  /** `graft_simhash_subset_keys(simhash, maxDist)` as a Column that resolves
    * in any session. The simhash is cast to long; Catalyst's SimplifyCasts
    * drops the cast when the column already is one.
    */
  def column(simhash: Column, maxDist: Int): Column =
    NativeColumn(SimhashSubsetKeys(Cast(NativeColumn.expr(simhash), LongType), maxDist))

  /** Chunk plan per radius — MUST stay identical to
    * `TextOps.simhashBlocking` (asserted by OpsSpec): 4 chunks (d <= 3) or
    * 12 uneven 5/6-bit chunks (d = 4..7).
    */
  def blocking(maxDist: Int): (Int, Seq[Int]) = {
    val c = if (maxDist <= 3) 4 else 12
    val base = 64 / c
    val rem = 64 % c
    (c, (0 until c).map(i => if (i < rem) base + 1 else base))
  }

  private final case class Table(
      offsets: Array[Int], masks: Array[Long], widths: Array[Int],
      subsets: Array[Array[Int]])

  private val tables = new java.util.concurrent.ConcurrentHashMap[Int, Table]()

  private def tableFor(maxDist: Int): Table = {
    var t = tables.get(maxDist)
    if (t == null) {
      val (c, widths) = blocking(maxDist)
      val offsets = widths.scanLeft(0)(_ + _).init.toArray
      val masks = widths.map(w => (1L << w) - 1).toArray
      val subsets = (0 until c).combinations(c - maxDist).map(_.toArray).toArray
      t = Table(offsets, masks, widths.toArray, subsets)
      tables.putIfAbsent(maxDist, t)
    }
    t
  }

  /** All subset keys of one simhash — unboxed loops, codegen-callable. */
  def compute(simhash: Long, maxDist: Int): GenericArrayData = {
    val t = tableFor(maxDist)
    val c = t.offsets.length
    val chunks = new Array[Long](c)
    var i = 0
    while (i < c) {
      chunks(i) = (simhash >>> t.offsets(i)) & t.masks(i)
      i += 1
    }
    val out = new Array[Long](t.subsets.length)
    var s = 0
    while (s < t.subsets.length) {
      val sub = t.subsets(s)
      var key = 0L
      var j = 0
      while (j < sub.length) {
        val ci = sub(j)
        key = (key << t.widths(ci)) | chunks(ci)
        j += 1
      }
      out(s) = key
      s += 1
    }
    new GenericArrayData(out)
  }
}
