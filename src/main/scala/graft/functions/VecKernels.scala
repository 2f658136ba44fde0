package graft.functions

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

/** Native codegen'd vector kernels for the similarity / quantization /
  * embedding-dedup operators (optimization round, guide §1.2 step 2 /
  * §4: per-task work). Spark's higher-order functions (`transform`,
  * `zip_with`, `aggregate`) have no `doGenCode` — inside a
  * WholeStageCodegen span they fall back to interpreted per-element
  * lambda evaluation with boxing, which measured ~90 µs/row for a
  * 64-dim cosine scan (sim_sq8_topk: a single 5k-row task took 0.46 s).
  * These expressions run the identical arithmetic as the composed
  * forms they replace — same operand order, same accumulation order,
  * same element-type promotion (float×float products stay float when
  * the composed form's `zip_with` multiplied floats), same
  * BigDecimal HALF_UP rounding, same Double.compare orderings and
  * first-occurrence tie-breaks — so every result is BIT-IDENTICAL
  * (pinned against the composed forms by OpsSpec parity tests and by
  * the driver's expected-table oracles).
  */
object VecKernels {

  @inline private def elem(a: ArrayData, i: Int, isF: Boolean): Double =
    if (isF) a.getFloat(i).toDouble else a.getDouble(i)

  /** Cosine of two vectors, replicating
    * `aggregate(zip_with(a,b,_*_),0.0,_+_) / (sqrt(Σa²)·sqrt(Σb²))`:
    * products in FLOAT when both inputs are float arrays (the uncast
    * composed form), in double otherwise; per-side squares in that
    * side's own type; null when lengths differ or any element is null
    * (zip_with pad / null propagation semantics).
    */
  def cosine(a: ArrayData, aF: Boolean, b: ArrayData, bF: Boolean)
      : java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      i += 1
    }
    var dot = 0.0; var na = 0.0; var nb = 0.0
    i = 0
    if (aF && bF) {
      while (i < n) {
        val x = a.getFloat(i); val y = b.getFloat(i)
        dot += (x * y).toDouble // float product, like zip_with on floats
        na += (x * x).toDouble
        nb += (y * y).toDouble
        i += 1
      }
    } else {
      while (i < n) {
        val x = elem(a, i, aF); val y = elem(b, i, bF)
        dot += x * y
        na += (if (aF) { val f = a.getFloat(i); (f * f).toDouble }
               else x * x)
        nb += (if (bF) { val f = b.getFloat(i); (f * f).toDouble }
               else y * y)
        i += 1
      }
    }
    java.lang.Double.valueOf(dot / (math.sqrt(na) * math.sqrt(nb)))
  }

  /** SQ8 per-vector scale: max|x|/127 floored at 1e-30 (null elements
    * skipped, like `greatest`).
    */
  def sq8Scale(v: ArrayData, isF: Boolean): Double = {
    val n = v.numElements()
    var s = 0.0
    var i = 0
    while (i < n) {
      if (!v.isNullAt(i)) {
        val x = math.abs(elem(v, i, isF))
        if (x > s) s = x
      }
      i += 1
    }
    val sc = s / 127.0
    if (sc > 1e-30) sc else 1e-30
  }

  /** SQ8 codes: round(x/scale) HALF_UP (Spark's Round-on-double
    * BigDecimal path) clamped to [-127, 127]; a null element yields 127
    * (the composed least/greatest null-skipping quirk, kept for
    * bit-parity).
    */
  def sq8Codes(v: ArrayData, isF: Boolean, scale: Double): ArrayData = {
    val n = v.numElements()
    val out = new Array[Int](n)
    var i = 0
    while (i < n) {
      out(i) =
        if (v.isNullAt(i)) 127
        else {
          val q = elem(v, i, isF) / scale
          val r =
            if (java.lang.Double.isNaN(q) || java.lang.Double.isInfinite(q)) q
            else java.math.BigDecimal.valueOf(q)
              .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue()
          val ri = r.toInt
          if (ri < -127) -127 else if (ri > 127) 127 else ri
        }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Cosine over int8 code arrays (int products, double accumulation —
    * the exact composed arithmetic); null on length mismatch or null
    * element.
    */
  def codeCosine(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      i += 1
    }
    var dot = 0.0; var na = 0.0; var nb = 0.0
    i = 0
    while (i < n) {
      val x = a.getInt(i); val y = b.getInt(i)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    java.lang.Double.valueOf(dot / (math.sqrt(na) * math.sqrt(nb)))
  }

  @inline private def anyNull(a: ArrayData): Boolean = {
    val n = a.numElements()
    var i = 0
    while (i < n) { if (a.isNullAt(i)) return true; i += 1 }
    false
  }

  /** Random-hyperplane sign sketch — same hash-derived planes and
    * ascending accumulation as the composed
    * [[graft.ops.Similarity.hyperplaneSketch]]. A null element nulls
    * every plane's dot product in the composed form, which the
    * `when(dotp > 0)` guard turns into bit 0 — so the whole sketch
    * degenerates to 0L; replicated here.
    */
  def hyperplaneSketch(v: ArrayData, isF: Boolean, nPlanes: Int): Long = {
    if (anyNull(v)) return 0L
    val n = v.numElements()
    var acc = 0L
    var p = 0
    while (p < nPlanes) {
      var dot = 0.0
      var i = 0
      while (i < n) {
        val h = XXH64.hashLong(p * 131071L + i, 42L)
        val m = ((h % 1024L) + 1024L) % 1024L
        dot += elem(v, i, isF) * ((m.toDouble / 1024.0) - 0.5)
        i += 1
      }
      if (dot > 0) acc |= (1L << p)
      p += 1
    }
    acc
  }

  /** Nearest-centroid id by cosine (double products — the composed form
    * casts the vector to array<double>): first occurrence of the max
    * under Double.compare, i.e. `array_position(sims, array_max(sims))`.
    * A null element nulls every composed sim; the composed positional
    * lookup's behavior there was UNDEFINED in Spark 4.1.2 (element_at
    * with a runtime-null index reads a garbage value slot — measured
    * first-element through the constant-fold path, last-element
    * through codegen). The kernel pins the defined answer: NULL cell
    * id (boxed return, expression is nullable). A vector whose length
    * differs from a centroid's is NULL too, as in [[cosine]].
    */
  def bestCell(v: ArrayData, isF: Boolean, cents: Array[Array[Double]],
               ids: Array[Long]): java.lang.Long = {
    val n = v.numElements()
    if (anyNull(v) || cents.exists(_.length != n)) return null
    var bestIdx = 0
    var best = 0.0
    var c = 0
    while (c < cents.length) {
      val cw = cents(c)
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < n) {
        val x = elem(v, i, isF); val y = cw(i)
        dot += x * y; na += x * x; nb += y * y
        i += 1
      }
      val s = dot / (math.sqrt(na) * math.sqrt(nb))
      if (c == 0 || java.lang.Double.compare(s, best) > 0) {
        best = s; bestIdx = c
      }
      c += 1
    }
    java.lang.Long.valueOf(ids(bestIdx))
  }

  /** PQ encode: unit-normalize (zero stays zero), per subspace the
    * first-min squared-L2 codeword — `array_position(dists,
    * array_min(dists)) - 1` with Double.compare ordering. A null
    * element nulls the composed l2Norm, whose `when(norm > 0)` guard
    * then zeroes EVERY normalized component — the codes become the
    * per-subspace minimum-norm codewords; replicated via the same
    * all-zero normalization.
    */
  def pqCodes(v: ArrayData, isF: Boolean,
              books: Array[Array[Array[Double]]]): ArrayData = {
    val n = v.numElements()
    val hasNull = anyNull(v)
    var ss = 0.0
    var i = 0
    if (!hasNull) {
      while (i < n) { val x = elem(v, i, isF); ss += x * x; i += 1 }
    }
    // hasNull: norm behaves as the composed null norm -> every nv
    // component takes the otherwise(0.0) branch below (norm > 0 false)
    val norm = if (hasNull) 0.0 else math.sqrt(ss)
    val m = books.length
    val dsub = books(0)(0).length
    val out = new Array[Int](m)
    var j = 0
    while (j < m) {
      val book = books(j)
      var bestIdx = 0
      var bestDist = 0.0
      var c = 0
      while (c < book.length) {
        val cw = book(c)
        var d = 0.0
        var k = 0
        while (k < dsub) {
          // null slots are never read: norm > 0 implies no nulls
          val x = if (norm > 0) elem(v, j * dsub + k, isF) / norm else 0.0
          val diff = x - cw(k)
          d += diff * diff
          k += 1
        }
        if (c == 0 || java.lang.Double.compare(d, bestDist) < 0) {
          bestDist = d; bestIdx = c
        }
        c += 1
      }
      out(j) = bestIdx
      j += 1
    }
    new GenericArrayData(out)
  }

  /** ADC score: Σ_j lut(j)(code_j), left-assoc from the FIRST term (the
    * composed `reduce(_ + _)` has no 0.0 seed).
    */
  def adcScore(codes: ArrayData, lut: Array[Array[Double]]): Double = {
    var s = lut(0)(codes.getInt(0))
    var j = 1
    while (j < lut.length) {
      s += lut(j)(codes.getInt(j))
      j += 1
    }
    s
  }
}
