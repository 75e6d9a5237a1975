package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Cast, Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.NativeColumn
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.{ByteArray, UTF8String}

/** Bucket keys of the banded near-dup operators (`TextOps.minhashLsh`,
  * `ngramJaccardLsh`, `winnowPairs`, `editDistancePairsSegmented`, the cap
  * of `minhashLshIncremental`, and the sign-LSH search of
  * `VectorOps.lshTopK` and `cosineNearDupLsh`). Every operator describes a
  * document by the sorted, distinct binary keys of the buckets it falls in,
  * so one candidate kernel (`CandidateKernel.candidatePairs`,
  * [[PairKernel]]) serves them all. A key is an injective encoding of the
  * operator's bucket:
  *
  *   - MinHash band: [tag] band (int) · band signature (long); sign-LSH
  *     uses the untagged form with band = table and signature = bucket
  *   - winnowing: fingerprint (long)
  *   - PassJoin segment: [tag] partner length (int) · segment index (int) ·
  *     segment bytes; the short-prefix block: [tag] −1 (int)
  *
  * [tag] is the blocking key (`source`) as a 4-byte length and its UTF-8
  * bytes (length 0 for an operator that does not block by it); keys of
  * different operators never meet. Keys sort by unsigned bytes, Spark's
  * order for binary values, so a document's MinHash keys sort by band.
  */
object BucketKeys {

  val KeysType: DataType = ArrayType(BinaryType, containsNull = false)

  private val Empty = new GenericArrayData(Array.empty[Any])
  private val ShortBlock = -1

  private val order: java.util.Comparator[Array[Byte]] =
    (a: Array[Byte], b: Array[Byte]) => ByteArray.compareBinary(a, b)

  private def tagBytes(tag: UTF8String): Array[Byte] =
    if (tag == null) new Array[Byte](4)
    else ByteBuffer.allocate(4 + tag.numBytes()).putInt(tag.numBytes()).put(tag.getBytes).array()

  /** The key of MinHash band `band` with signature `sig`, `tag` being the
    * encoded tag (a key's first 4 + length bytes).
    */
  private[functions] def bandKey(tag: Array[Byte], band: Int, sig: Long): Array[Byte] =
    ByteBuffer.allocate(tag.length + 12).put(tag).putInt(band).putLong(sig).array()

  /** The untagged key of one MinHash band bucket. */
  def band(band: Int, sig: Long): Array[Byte] = bandKey(new Array[Byte](4), band, sig)

  /** The band signatures of a document's MinHash keys, 8 bytes each in
    * band order: the per-document data the kernel's first-shared-band test
    * reads ([[PairKernel.firstBand]]).
    */
  def bandSigs(keys: ArrayData): Array[Byte] = {
    val out = ByteBuffer.allocate(8 * keys.numElements())
    var i = 0
    while (i < keys.numElements()) {
      val k = keys.getBinary(i)
      out.putLong(ByteBuffer.wrap(k).getLong(k.length - 8))
      i += 1
    }
    out.array()
  }

  /** Sorted distinct keys as an array value. */
  private def keySet(keys: Array[Array[Byte]]): ArrayData = {
    java.util.Arrays.sort(keys, order)
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var i = 0
    while (i < keys.length) {
      if (i == 0 || order.compare(keys(i - 1), keys(i)) != 0) out += keys(i)
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** MinHash band keys of one text ([[MinhashBandSigs]]' signatures); none
    * when the operator blocks by tag and the tag is null (a null blocking
    * key joins nothing).
    */
  def minhash(text: UTF8String, tag: UTF8String, k: Int, bands: Int,
              tagged: Boolean): ArrayData =
    if (tagged && tag == null) Empty
    else {
      val t = tagBytes(tag)
      val sigs = MinhashBandSigs.bandSigs(text, k, bands)
      keySet(Array.tabulate(bands)(j => bandKey(t, j, sigs(j))))
    }

  /** Winnowing fingerprint keys of one text ([[WinnowFingerprints]]). */
  def winnow(text: UTF8String, k: Int, w: Int): ArrayData =
    keySet(WinnowFingerprints.fingerprints(text, k, w)
      .map(f => ByteBuffer.allocate(8).putLong(f).array()))

  /** PassJoin keys of one prefix `p` within edit distance `d`. The index
    * side holds the d+1 segments of a prefix longer than d, else the short
    * block key. The probe side holds, for a prefix longer than d, its
    * substrings at every partner length and segment
    * ([[PassJoinSegments.probes]]), and the short block key when the prefix
    * has at most 2d characters: a prefix of at most d characters can be
    * within d edits of one of at most 2d while sharing no segment, so those
    * pairs meet in the short block instead.
    */
  def passJoin(p: UTF8String, tag: UTF8String, d: Int, probe: Boolean): ArrayData =
    if (tag == null) Empty
    else {
      val t = tagBytes(tag)
      val len = p.numChars()
      def segment(r: InternalRow): Array[Byte] = {
        val s = r.getUTF8String(2)
        ByteBuffer.allocate(t.length + 8 + s.numBytes())
          .put(t).putInt(r.getInt(0)).putInt(r.getInt(1)).put(s.getBytes).array()
      }
      val short = ByteBuffer.allocate(t.length + 4).put(t).putInt(ShortBlock).array()
      val keys =
        if (!probe) {
          if (len <= d) Iterator.single(short) else PassJoinSegments.index(p, d).map(segment)
        } else {
          (if (len > d) PassJoinSegments.probes(p, d).map(segment) else Iterator.empty) ++
            (if (len <= 2 * d) Iterator.single(short) else Iterator.empty)
        }
      keySet(keys.toArray)
    }

  /** `graft_minhash_keys(text, tag)` as a Column; `tag` None for an
    * operator that does not block by a tag.
    */
  def minhashColumn(text: Column, tag: Option[Column], k: Int, bands: Int): Column =
    NativeColumn(MinhashKeys(Cast(NativeColumn.expr(text), StringType), tagExpr(tag), k, bands,
      tag.isDefined))

  /** `graft_winnow_keys(text)` as a Column. */
  def winnowColumn(text: Column, k: Int, w: Int): Column = {
    require(k >= 1 && w >= 1, s"k and w must be positive: k=$k w=$w")
    NativeColumn(WinnowKeys(Cast(NativeColumn.expr(text), StringType), k, w))
  }

  /** `graft_passjoin_keys(p, tag)` as a Column: index keys, or probe keys
    * when `probe`.
    */
  def passJoinColumn(p: Column, tag: Column, d: Int, probe: Boolean): Column =
    NativeColumn(PassJoinKeys(Cast(NativeColumn.expr(p), StringType),
      Cast(NativeColumn.expr(tag), StringType), d, probe))

  /** `graft_band_sigs(keys)` as a Column (see [[bandSigs]]). */
  def bandSigsColumn(keys: Column): Column = NativeColumn(BandSigs(NativeColumn.expr(keys)))

  /** `graft_band_key(band, band_sig)`: the key of a stored band-index row. */
  def bandColumn(band: Column, sig: Column): Column =
    NativeColumn(BandKey(Cast(NativeColumn.expr(band), IntegerType),
      Cast(NativeColumn.expr(sig), LongType)))

  private def tagExpr(tag: Option[Column]): Expression =
    tag.map(t => Cast(NativeColumn.expr(t), StringType): Expression)
      .getOrElse(Literal(null, StringType))
}

/** A key builder over an input string and a tag string: a null input gives
  * null, a null tag is passed on as null.
  */
abstract class TaggedKeys extends BinaryExpression with Serializable {
  protected def keys(in: UTF8String, tag: UTF8String): ArrayData
  /** The Java call computing the keys from the two argument expressions. */
  protected def call(in: String, tag: String): String

  override def dataType: DataType = BucketKeys.KeysType
  override def nullable: Boolean = true

  override def eval(input: InternalRow): Any = {
    val in = left.eval(input)
    if (in == null) null
    else keys(in.asInstanceOf[UTF8String], right.eval(input).asInstanceOf[UTF8String])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val in = left.genCode(ctx)
    val tag = right.genCode(ctx)
    ev.copy(code = code"""
      |${in.code}
      |${tag.code}
      |boolean ${ev.isNull} = ${in.isNull};
      |ArrayData ${ev.value} = null;
      |if (!${ev.isNull}) {
      |  ${ev.value} = ${call(in.value.toString, s"${tag.isNull} ? null : ${tag.value}")};
      |}
      """.stripMargin)
  }
}

case class MinhashKeys(left: Expression, right: Expression, k: Int, bands: Int, tagged: Boolean)
    extends TaggedKeys {
  override def prettyName: String = "graft_minhash_keys"
  override protected def keys(in: UTF8String, tag: UTF8String): ArrayData =
    BucketKeys.minhash(in, tag, k, bands, tagged)
  override protected def call(in: String, tag: String): String =
    s"graft.functions.BucketKeys.minhash($in, $tag, $k, $bands, $tagged)"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): MinhashKeys =
    copy(left = l, right = r)
}

case class PassJoinKeys(left: Expression, right: Expression, d: Int, probe: Boolean)
    extends TaggedKeys {
  override def prettyName: String = "graft_passjoin_keys"
  override protected def keys(in: UTF8String, tag: UTF8String): ArrayData =
    BucketKeys.passJoin(in, tag, d, probe)
  override protected def call(in: String, tag: String): String =
    s"graft.functions.BucketKeys.passJoin($in, $tag, $d, $probe)"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): PassJoinKeys =
    copy(left = l, right = r)
}

case class WinnowKeys(child: Expression, k: Int, w: Int)
    extends UnaryExpression with Serializable {
  override def dataType: DataType = BucketKeys.KeysType
  override def prettyName: String = "graft_winnow_keys"
  override protected def nullSafeEval(input: Any): Any =
    BucketKeys.winnow(input.asInstanceOf[UTF8String], k, w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.BucketKeys.winnow($c, $k, $w)")
  override protected def withNewChildInternal(newChild: Expression): WinnowKeys =
    copy(child = newChild)
}

case class BandKey(left: Expression, right: Expression)
    extends BinaryExpression with Serializable {
  override def dataType: DataType = BinaryType
  override def prettyName: String = "graft_band_key"
  override protected def nullSafeEval(band: Any, sig: Any): Any =
    BucketKeys.band(band.asInstanceOf[Int], sig.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (b, s) => s"graft.functions.BucketKeys.band($b, $s)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): BandKey =
    copy(left = l, right = r)
}

case class BandSigs(child: Expression) extends UnaryExpression with Serializable {
  override def dataType: DataType = BinaryType
  override def prettyName: String = "graft_band_sigs"
  override protected def nullSafeEval(keys: Any): Any =
    BucketKeys.bandSigs(keys.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, k => s"graft.functions.BucketKeys.bandSigs($k)")
  override protected def withNewChildInternal(newChild: Expression): BandSigs =
    copy(child = newChild)
}
