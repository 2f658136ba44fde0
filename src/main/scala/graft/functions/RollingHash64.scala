package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** Polynomial rolling-hash document fingerprint (Rabin–Karp form,
  * base 31, mod 2^64 via natural overflow) over the raw UTF-8 bytes —
  * native Catalyst expression with codegen, one pass, zero allocation.
  * Content identity for exact dedup without retaining the text; the
  * rolling form means a windowed variant (substring fingerprints) can
  * reuse the same arithmetic with precomputed base powers.
  */
object RollingHash64 {
  def compute(s: UTF8String): Long = {
    var h = 1125899906842597L // large prime seed
    var i = 0
    val n = s.numBytes()
    while (i < n) { h = h * 31L + (s.getByte(i) & 0xffL); i += 1 }
    h
  }
}
