package graft.functions

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Native k-permutation MinHash signature over w-word shingles as a
  * Catalyst expression (a [[Natives]] row) with real `doGenCode` — one pass per row, no
  * per-shingle string allocation. Bit-identical to the composed-column
  * formulation [[graft.ops.Dedup.minhashSignatureComposed]] (pinned by
  * OpsSpec) and to the plain twin `PlainOracles.minhashSig`:
  * `xxhash64(shingle, j)` folds its children as
  * `hashInt(j, hashUTF8String(shingle, 42))`, so each shingle's string
  * hash is computed ONCE here and the k permutation values are cheap
  * int-mix continuations — the composed form re-hashed every shingle
  * string k times AND paid interpreted higher-order-function eval per
  * element (r02 bench: 6.4 s of dd_minhash_lsh's 12 s was signature
  * computation at sf0.1). Tier-(b) custom Expression per SURVEY.md §4,
  * same justification as [[SimHash64]].
  *
  * Shingle bytes are the original text's byte span: tokens split on
  * single 0x20 bytes (empties kept, exactly `split(text, " ")`), and a
  * w-token shingle joined with " " is therefore the contiguous range
  * from its first token's first byte to its last token's last byte.
  * Returns NULL when the text has fewer than w tokens (the composed
  * form's `when(size(shingles) > 0, …)`).
  */
object MinHashSig {
  private final val Seed = 42L // spark.sql.functions.xxhash64 default seed

  /** One pass: token boundaries → per-shingle byte-range hash (once) →
    * k mins of hashInt continuations. Returns null when tokens < w.
    */
  def compute(s: UTF8String, w: Int, k: Int): ArrayData = {
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
    if (tokenCount < w) return null
    // starts(t) = first byte of token t; ends(t) = byte AFTER its last
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
    val sig = new Array[Long](k)
    var j = 0
    while (j < k) {
      var mn = Long.MaxValue // m >= 1, so always overwritten or beaten
      var x = 0
      while (x < m) {
        val v = XXH64.hashInt(j, hs(x))
        if (v < mn) mn = v
        x += 1
      }
      sig(j) = mn
      j += 1
    }
    new GenericArrayData(sig)
  }
}
