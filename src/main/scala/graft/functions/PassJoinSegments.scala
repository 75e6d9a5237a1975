package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.unsafe.types.UTF8String

/** The PassJoin segment rows of `TextOps.editDistancePairsSegmented`,
  * from which [[BucketKeys.passJoin]] builds a prefix's bucket keys. Both
  * functions take a prefix `p` and give `(len_a, seg, seg_str)` rows:
  *
  *   - [[index]]: the d+1 segments of `p` itself (len_a = |p|), segment
  *     i = chars [floor(i·L/(d+1)), floor((i+1)·L/(d+1))); nothing when
  *     |p| <= d (the operator's short block covers those prefixes).
  *   - [[probes]]: for every partner length len_a in [max(|p|−d, d+1),
  *     |p|+d] and segment i of a len_a-char string, the substrings of `p` of
  *     that segment's length starting within ±d of the segment's start;
  *     nothing when |p| = 0.
  *
  * Lengths and offsets count characters, as Spark's `length`/`substr` do.
  * These replace nested `transform` / `sequence` / `flatten` higher-order
  * functions, which Spark interprets (CodegenFallback) per lambda call.
  */
object PassJoinSegments {

  // start of segment i of a len-char string: floor(i·len/(d+1))
  private[functions] def segStart(i: Int, len: Int, d: Int): Int = (i.toLong * len / (d + 1)).toInt

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
