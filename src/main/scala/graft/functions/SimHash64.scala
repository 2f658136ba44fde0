package graft.functions

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.types.UTF8String

/** Native 64-bit SimHash over whitespace tokens as a Catalyst
  * expression (a [[Natives]] row) with real `doGenCode` — one pass over the UTF-8 bytes
  * per row, no per-token array allocation. Semantically identical to the
  * composed-column formulation in [[graft.ops.Dedup.simhash]] (pinned by
  * OpsSpec): tokens are split on single 0x20 bytes (empties included,
  * like `split(text, " ")`), each token hashed with xxhash64(seed=42)
  * — Spark's own `xxhash64` — and each hash votes its bits +/-1; the
  * fingerprint is the sign vector.
  *
  * Exists because the composed form evaluates O(64 x tokens) array
  * expressions per row; this is the (b)-tier custom Expression from the
  * preference order in SURVEY.md §4 — the only op where the built-in
  * compositional form measurably wastes work at 100 TB scale.
  */
object SimHash64 {
  private final val Seed = 42L // spark.sql.functions.xxhash64 default seed

  /** One pass over the string's UTF-8 bytes. 0x20 is never part of a
    * multi-byte UTF-8 sequence, so byte-level splitting is exact.
    */
  def compute(s: UTF8String): Long = {
    val base = s.getBaseObject
    val offset = s.getBaseOffset
    val n = s.numBytes()
    val votes = new Array[Int](64)
    var tokenStart = 0
    var i = 0
    while (i <= n) {
      val isSep = i == n || s.getByte(i) == 0x20
      if (isSep) {
        // token = bytes [tokenStart, i) — empties included, matching
        // split(text, " ") semantics (java String.split keeps interior
        // and leading empties; trailing handled by the i == n pass)
        val h = XXH64.hashUnsafeBytes(base, offset + tokenStart,
                                      i - tokenStart, Seed)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
        tokenStart = i + 1
      }
      i += 1
    }
    var fp = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) fp |= (1L << b)
      b += 1
    }
    fp
  }
}
