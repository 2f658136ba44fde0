package graft.functions

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Deterministic text embedder: L2-normalized feature-hashing projection
  * (the "hashing trick", Weinberger et al. 2009 — public knowledge) as a
  * native codegen'd Catalyst expression (a [[Natives]] row). Closes the reference's
  * embedding-generation half (its EMBED step calls a managed embedding
  * service, /root/reference/setup.sql:187): search and embedding-dedup
  * now compose from RAW TEXT without a precomputed vectors table, and
  * because it is xxhash64-derived it is exactly reproducible by the
  * plain twin `PlainOracles.textEmbed` for the driver gate.
  *
  * Semantics (both implementations pin this, char-for-char):
  * tokens = split on single 0x20 bytes, EMPTY tokens skipped; per token
  * h = xxhash64(bytes, seed 42), bucket = ((h mod dim) + dim) mod dim,
  * vote = -1 if h < 0 else +1; acc[bucket] += vote in doubles;
  * result = acc / ||acc||_2 cast to float32. NULL when the text has no
  * non-empty tokens or every bucket cancels to zero (unnormalizable).
  *
  * This is a locality hash, not a learned model — same-ish token
  * multisets map near each other in cosine, which is precisely what the
  * dedup/retrieval plumbing needs to be exercised end-to-end; a real
  * deployment swaps in model vectors through the same array<float>
  * column contract.
  */
object TextEmbed {
  private final val Seed = 42L // spark.sql.functions.xxhash64 default seed

  def compute(s: UTF8String, dim: Int): ArrayData = {
    val base = s.getBaseObject
    val offset = s.getBaseOffset
    val n = s.numBytes()
    val acc = new Array[Double](dim)
    var any = false
    var tokenStart = 0
    var i = 0
    while (i <= n) {
      if (i == n || s.getByte(i) == 0x20) {
        if (i > tokenStart) { // empty tokens carry no signal: skipped
          val h = XXH64.hashUnsafeBytes(base, offset + tokenStart,
                                        i - tokenStart, Seed)
          val bucket = (((h % dim) + dim) % dim).toInt
          acc(bucket) += (if (h < 0) -1.0 else 1.0)
          any = true
        }
        tokenStart = i + 1
      }
      i += 1
    }
    if (!any) return null
    var ss = 0.0
    i = 0
    while (i < dim) { ss += acc(i) * acc(i); i += 1 }
    if (ss == 0.0) return null // full cancellation: unnormalizable
    val inv = 1.0 / math.sqrt(ss)
    val out = new Array[Float](dim)
    i = 0
    while (i < dim) { out(i) = (acc(i) * inv).toFloat; i += 1 }
    new GenericArrayData(out)
  }
}
