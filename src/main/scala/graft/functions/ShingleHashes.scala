package graft.functions

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** xxhash64 of every w-word shingle as a native codegen'd expression —
  * BIT-IDENTICAL to `transform(Dedup.wordShingles(text, w), s =>
  * xxhash64(s))` (parity-pinned in OpsSpec) because a shingle joined
  * with " " is exactly the original text's byte span between its first
  * token's first byte and its last token's last byte, and
  * `XXH64.hashUnsafeBytes` over that span equals Spark's
  * `xxhash64(concat_ws(" ", …))` over the materialized string.
  *
  * Exists because the substring-dedup family (duplicated windows,
  * contamination, n-gram Jaccard) only ever consumes the HASHES: the
  * composed form allocates one string per window (O(w · tokens) bytes
  * copied per row) just to hash and discard it — the dominant
  * allocation of substring dedup at corpus scale. Returns an EMPTY
  * array when tokens < w (mirroring wordShingles' `otherwise(array())`,
  * so `explode`/`posexplode` drop the row identically). Tier-(b) custom
  * Expression per SURVEY.md §4, same justification as [[MinHashSig]].
  */
object ShingleHashes {
  private final val Seed = 42L // spark.sql.functions.xxhash64 default seed
  private val Empty = new GenericArrayData(Array.emptyLongArray)

  def compute(s: UTF8String, w: Int): ArrayData = {
    val base = s.getBaseObject
    val offset = s.getBaseOffset
    val n = s.numBytes()
    var spaces = 0
    var i = 0
    while (i < n) {
      if (s.getByte(i) == 0x20) spaces += 1
      i += 1
    }
    val tokenCount = spaces + 1
    if (tokenCount < w) return Empty
    val starts = new Array[Int](tokenCount)
    val ends = new Array[Int](tokenCount)
    var t = 0
    starts(0) = 0
    i = 0
    while (i < n) {
      if (s.getByte(i) == 0x20) { ends(t) = i; t += 1; starts(t) = i + 1 }
      i += 1
    }
    ends(t) = n
    val m = tokenCount - w + 1
    val hs = new Array[Long](m)
    i = 0
    while (i < m) {
      val st = starts(i)
      hs(i) = XXH64.hashUnsafeBytes(base, offset + st,
                                    ends(i + w - 1) - st, Seed)
      i += 1
    }
    new GenericArrayData(hs)
  }
}
