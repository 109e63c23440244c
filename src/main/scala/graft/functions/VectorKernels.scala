package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayData

/** The one body of each native vector function. The SQL expressions in
  * [[VectorFunctions]] are `RuntimeReplaceable`s whose replacement is a
  * `StaticInvoke` of one of these methods, so whole-stage codegen (a
  * direct static call in the generated Java) and interpreted evaluation
  * (reflection) run the same loop and cannot disagree.
  *
  * Why native at all: the composed higher-order-function forms
  * (`aggregate(zip_with(...))`, `array_min(transform(...))`) are
  * CodegenFallback — interpreted per row — and allocate an intermediate
  * array per call. Every kernel keeps those forms' arithmetic exactly
  * (index-ascending double accumulation, the same IEEE operations in the
  * same order), so swapping forms never changes a result and every
  * DuckDB oracle replay stays valid.
  *
  * Calling convention: numeric arrays arrive as `ArrayData`, each with an
  * `isFloat` flag (`array<float>` when true, `array<double>` otherwise)
  * that the expression derives from its input type. NULL inputs never
  * reach a kernel (`propagateNull`); a kernel returns `null` exactly
  * where its contract says NULL. Elements must be non-NULL (callers pass
  * dense vector slices); a NULL element is not detected.
  */
object VectorKernels {

  @inline private def at(a: ArrayData, isFloat: Boolean, i: Int): Double =
    if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)

  /** `dot_product(a, b)` = Σᵢ aᵢ·bᵢ. One loop and no zipped array per
    * call: the LSH signature path evaluates 16 dots per row (one per
    * hyperplane), and the k-means assignment path one per (vector ×
    * double-array centroid), which is why both element widths exist.
    * NULL if the lengths differ.
    */
  def dotProduct(a: ArrayData, b: ArrayData,
      aFloat: Boolean, bFloat: Boolean): java.lang.Double = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var dot = 0.0
    var i = 0
    while (i < n) {
      dot += at(a, aFloat, i) * at(b, bFloat, i)
      i += 1
    }
    java.lang.Double.valueOf(dot)
  }

  /** `cosine_sim(a, b)` = a·b / (‖a‖·‖b‖), with the dot product and both
    * norms accumulated in one pass, where the HOF form
    * `aggregate(zip_with(...)) / (sqrt(aggregate(...)) * ...)` walks
    * each input three times. The k-means assignment evaluates N × nlist
    * of these per Lloyd pass. NULL if the lengths differ or either norm
    * is zero.
    */
  def cosineSim(a: ArrayData, b: ArrayData,
      aFloat: Boolean, bFloat: Boolean): java.lang.Double = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = at(a, aFloat, i)
      val y = at(b, bFloat, i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) null
    else java.lang.Double.valueOf(dot / (math.sqrt(na) * math.sqrt(nb)))
  }

  /** `l2_sq(a, b)` = Σᵢ (aᵢ − bᵢ)²: the ADC hot loop of the IVF-PQ
    * serving path ([[graft.ops.Vectors]]). The distance-table build
    * evaluates it once per (query, probed list, subspace, codeword) —
    * ~360k rows at the sf0.1 50-query panel, ~3.5 s of interpreted CPU
    * per ADC pass as the `aggregate(zip_with(a, b, (x, y) -> (x - y) *
    * (x - y)), 0, +)` twin. Per element d = aᵢ − bᵢ once, then d·d,
    * accumulated left to right from 0.0: the twin evaluates (x − y)
    * twice, but both yield the identical IEEE value, so d·d is
    * bit-equal. NULL if the lengths differ (the twin's zip_with pads
    * with NULL, which nulls the fold).
    */
  def l2Sq(a: ArrayData, b: ArrayData,
      aFloat: Boolean, bFloat: Boolean): java.lang.Double = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = at(a, aFloat, i) - at(b, bFloat, i)
      acc += d * d
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }

  /** `argmax_cosine(v, cents)` → `struct<c, cos>`: the nearest centroid
    * by cosine over the WHOLE packed table `array<struct<c:int,
    * centroid:array<double>>>` (sorted by c, a few KB, broadcast) in one
    * projection. It replaces crossJoin + max_by, whose cost is the row
    * explosion — N × nlist joined rows per Lloyd pass, each dragging a
    * vector and a centroid copy; at the ×100 corpus (200k vectors,
    * nlist 448) that put q_embed_kmeans at 31 s. This is the FAISS
    * IVF-assign shape.
    *
    * Exactly the crossJoin twin's semantics (the DuckDB oracles replay
    * the cross join + `ORDER BY cos DESC, c`):
    *   - each cosine is [[cosineSim]]'s arithmetic;
    *   - candidates scan in array order with a strictly-greater update,
    *     so exact ties keep the LOWEST c (pack with `sort_array`);
    *   - zero-norm and length-mismatched candidates are skipped (the
    *     twin's NULL cos ranks last);
    *   - a zero-norm `v`, or no valid candidate → NULL.
    */
  def argmaxCosine(v: ArrayData, cents: ArrayData, vFloat: Boolean): InternalRow = {
    val n = v.numElements()
    var na = 0.0
    var i = 0
    while (i < n) {
      val x = at(v, vFloat, i)
      na += x * x
      i += 1
    }
    if (na == 0.0) return null
    val sqna = math.sqrt(na)
    var bestC = 0
    var bestCos = 0.0
    var found = false
    var j = 0
    val k = cents.numElements()
    while (j < k) {
      if (!cents.isNullAt(j)) {
        val st = cents.getStruct(j, 2)
        val cent = st.getArray(1)
        if (cent.numElements() == n) {
          var dot = 0.0; var nb = 0.0
          var t = 0
          while (t < n) {
            val x = at(v, vFloat, t)
            val y = cent.getDouble(t)
            dot += x * y; nb += y * y
            t += 1
          }
          if (nb > 0.0) {
            val cos = dot / (sqna * math.sqrt(nb))
            if (!found || cos > bestCos) {
              bestCos = cos; bestC = st.getInt(0); found = true
            }
          }
        }
      }
      j += 1
    }
    if (!found) null
    else new GenericInternalRow(Array[Any](bestC, bestCos))
  }

  /** `argmin_l2(v, cands)` → `struct<c, d2>`: PQ code assignment, the
    * nearest codeword by squared L2 over the whole packed per-subspace
    * codebook (same table shape as [[argmaxCosine]]). The
    * `array_min(transform(codebook, ...))` twin it replaces was fine at
    * k = 16 but is the hot loop at the FAISS-default k = 256 (N × M
    * rows × k candidates × subDim multiply-adds per Lloyd pass).
    *
    * Exactly the twin's semantics (the DuckDB oracles replay the
    * codebook join + `ORDER BY d2, c`):
    *   - each d2 is [[l2Sq]]'s arithmetic;
    *   - candidates scan in array order with a strictly-less update, so
    *     exact ties keep the LOWEST c;
    *   - a length-mismatched candidate is SKIPPED. This is the one
    *     divergence from the twin, whose NULL d2 sorts first and would
    *     win. `Vectors.pqFit` never builds one (every codeword is
    *     subDim long);
    *   - no valid candidate → NULL.
    */
  def argminL2(v: ArrayData, cands: ArrayData, vFloat: Boolean): InternalRow = {
    val n = v.numElements()
    var bestC = 0
    var bestD2 = 0.0
    var found = false
    var j = 0
    val k = cands.numElements()
    while (j < k) {
      if (!cands.isNullAt(j)) {
        val st = cands.getStruct(j, 2)
        val cent = st.getArray(1)
        if (cent.numElements() == n) {
          var d2 = 0.0
          var t = 0
          while (t < n) {
            val d = at(v, vFloat, t) - cent.getDouble(t)
            d2 += d * d
            t += 1
          }
          if (!found || d2 < bestD2) {
            bestD2 = d2; bestC = st.getInt(0); found = true
          }
        }
      }
      j += 1
    }
    if (!found) null
    else new GenericInternalRow(Array[Any](bestC, bestD2))
  }
}
