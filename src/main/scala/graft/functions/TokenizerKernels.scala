package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The one body of each native tokenizer function, called through a
  * `StaticInvoke` exactly like [[VectorKernels]]: whole-stage codegen
  * and interpreted plans run the same loop.
  *
  * Why native: the unigram Viterbi spelled as higher-order functions (a
  * per-word slot list regrouped through an explode, a broadcast join and
  * `collect_list`, then an `aggregate` DP fold of `least` over four `IF`
  * options and an `aggregate` walk-back of a `CASE`) cost seconds of
  * driver time per query in Catalyst rewriting those trees, and ran as
  * interpreted `CodegenFallback` per row.
  */
object TokenizerKernels {

  /** Packed cost of a piece the table lacks: 10⁹ half-bits, never on a
    * min path while every single char is in the table (a single-char
    * chain costs ≤ len·130 half-bits).
    */
  private val MissingPacked = 1000000000L * 1048576L + 1L

  /** `unigram_pieces(w, costs)` → `array<string>`: the min-cost
    * segmentation of `w` under a unigram cost table, LAST piece first.
    *
    * `costs` maps piece → half-bit cost with its keys in ascending
    * binary order, as [[VectorFunctions.unigram_cost_map]] builds it: a
    * slot is found by binary search, so no per-row table is built. The
    * arithmetic is exactly that of the DuckDB twin (`Text.uniSegCtesDk`)
    * and of the higher-order-function reference in `TokenizerKernelSpec`:
    *   - positions are code points, as Spark's `length` and `substring`
    *     count them;
    *   - slot (start, l), l = 1..4, packs as cost·2²⁰ + 1 (so equal costs
    *     break toward fewer pieces); a missing or NULL cost is 10⁹
    *     half-bits;
    *   - dp[0] = 0, dp[p] = min over l ≤ min(4, p) of dp[p − l] + slot(p − l, l);
    *   - the walk back from p = len takes the LONGEST l (4, then 3, then
    *     2) with dp[p − l] + slot(p − l, l) = dp[p], else 1.
    * An empty word has no pieces.
    */
  def unigramPieces(w: UTF8String, costs: MapData): ArrayData = {
    val n = w.numChars()
    val base = w.getBaseObject
    val bo = w.getBaseOffset
    // byte offset of every code point, plus the end
    val off = new Array[Int](n + 1)
    var c = 0
    var b = 0
    while (c < n) {
      off(c) = b
      b += UTF8String.numBytesForFirstByte(Platform.getByte(base, bo + b))
      c += 1
    }
    off(n) = w.numBytes()
    def view(start: Int, l: Int): UTF8String =
      UTF8String.fromAddress(base, bo + off(start), off(start + l) - off(start))

    val keys = costs.keyArray()
    val vals = costs.valueArray()
    def packed(piece: UTF8String): Long = {
      var lo = 0
      var hi = costs.numElements() - 1
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        val cmp = keys.getUTF8String(mid).binaryCompare(piece)
        if (cmp < 0) lo = mid + 1
        else if (cmp > 0) hi = mid - 1
        else return if (vals.isNullAt(mid)) MissingPacked else vals.getLong(mid) * 1048576L + 1L
      }
      MissingPacked
    }
    // slot(start, l) at (start·4 + l − 1), for start + l ≤ n
    val slot = new Array[Long](4 * n)
    var s = 0
    while (s < n) {
      var l = 1
      while (l <= 4 && s + l <= n) {
        slot(s * 4 + l - 1) = packed(view(s, l))
        l += 1
      }
      s += 1
    }
    val dp = new Array[Long](n + 1)
    var p = 1
    while (p <= n) {
      var best = Long.MaxValue
      var l = 1
      while (l <= 4 && l <= p) {
        val v = dp(p - l) + slot((p - l) * 4 + l - 1)
        if (v < best) best = v
        l += 1
      }
      dp(p) = best
      p += 1
    }
    val pieces = new Array[Any](n)
    var k = 0
    p = n
    while (p > 0) {
      var l = 4
      while (l >= 2 && !(p >= l && dp(p - l) + slot((p - l) * 4 + l - 1) == dp(p))) l -= 1
      pieces(k) = view(p - l, l).clone()
      k += 1
      p -= l
    }
    new GenericArrayData(pieces.take(k))
  }
}

/** `unigram_pieces(w: string, costs: map<string, bigint>)`, replaced by
  * a `StaticInvoke` of [[TokenizerKernels.unigramPieces]].
  */
case class UnigramPieces(left: Expression, right: Expression)
    extends RuntimeReplaceable with BinaryLike[Expression] {
  override def prettyName: String = "unigram_pieces"

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (StringType, MapType(StringType, LongType, _)) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (string, map<string, bigint>), got (${l.simpleString}, ${r.simpleString})")
  }

  override lazy val replacement: Expression = StaticInvoke(
    TokenizerKernels.getClass, ArrayType(StringType, containsNull = false), "unigramPieces",
    Seq(left, right), propagateNull = true, returnNullable = true)

  override protected def withNewChildrenInternal(l: Expression, r: Expression): UnigramPieces =
    copy(left = l, right = r)
}
