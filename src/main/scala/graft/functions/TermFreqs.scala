package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd BM25 tokenization stats: one pass over the
  * lowercased UTF-8 bytes yielding `[dl, tf(term0), tf(term1), …]` —
  * the r06 replacement for `size(split(lower(text)," "))` plus one
  * interpreted `size(filter(toks, _ === term))` higher-order function
  * per query term in [[graft.ops.Search.bm25Scores]].
  *
  * Tokenization is EXACTLY `split(lower(text), " ")` (limit −1):
  * single-0x20 separators, interior/leading/trailing empty tokens all
  * counted in `dl` (0x20 never occurs inside a multi-byte UTF-8
  * sequence, so byte-level splitting is exact — the [[SimHash64]]
  * argument); term comparison is raw byte equality against the
  * lowercased term, which equals string equality on UTF-8. Pinned
  * against the composed form by SearchSpec/OpsSpec and by the
  * q_bm25_topk DuckDB twin.
  */
object TermFreqs {

  def compute(s0: UTF8String, terms: Array[Array[Byte]]): ArrayData = {
    val s = s0.toLowerCase
    val n = s.numBytes()
    val out = new Array[Int](terms.length + 1)
    var tokenStart = 0
    var i = 0
    while (i <= n) {
      if (i == n || s.getByte(i) == 0x20) {
        out(0) += 1 // dl counts every field, empties included
        val len = i - tokenStart
        var t = 0
        while (t < terms.length) {
          val tb = terms(t)
          if (tb.length == len) {
            var k = 0
            var eq = true
            while (eq && k < len) {
              if (s.getByte(tokenStart + k) != tb(k)) eq = false
              k += 1
            }
            if (eq) out(t + 1) += 1
          }
          t += 1
        }
        tokenStart = i + 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }
}
