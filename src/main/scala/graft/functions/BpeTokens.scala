package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Trainable byte-level BPE tokenizer (Sennrich et al. 2016; the GPT-2
  * byte-level variant — public knowledge) as a native Catalyst
  * expression (a [[Natives]] row). The reference counts tokens only via a managed model
  * service; here the merge table is LEARNED from the corpus itself
  * ([[graft.ops.TextOps.trainBpe]] — bounded driver work like IVF's
  * `trainCentroids`) and applied distributed with no shuffle, making the
  * token budgets in the corpus report real rather than the regex
  * estimate (`bpeTokenCount` stays as the estimator twin).
  *
  * Semantics (the plain oracle reimplements this spec independently):
  *  - pre-tokenize with [[graft.ops.TextOps.BpePattern]] (GPT-2-style);
  *  - each pre-token → UTF-8 bytes → one symbol per byte (byte b ↔ char
  *    b, ISO-8859-1), so tokens are byte sequences and any Unicode text
  *    round-trips;
  *  - repeatedly find the adjacent symbol pair with the LOWEST merge
  *    rank present in the word and fuse ALL its occurrences
  *    left-to-right non-overlapping, until no adjacent pair has a rank.
  *
  * Training ([[learnMerges]]): from a (word, count) table, repeatedly
  * take the most frequent adjacent pair — ties broken by (left, right)
  * lexicographic — stop when `numMerges` reached or the best pair count
  * is < 2. Overlapping occurrences all count ("aaa" has two (a,a)).
  */
object BpeTokenize {

  /** Prepared merge ranks + a per-executor word→tokens cache (pre-tokens
    * repeat heavily; the cache makes apply ~O(distinct words), the same
    * trick every production BPE implementation uses). Cache is capped
    * and cleared on overflow — bounded memory at any corpus size.
    */
  final class Model(merges: Seq[(String, String)]) extends Serializable {
    // pair key is LENGTH-PREFIXED: symbols are arbitrary byte strings
    // (any of the 256 chars may appear inside one), so no separator char
    // is collision-free — the left length disambiguates instead
    private def key(a: String, b: String): String = a.length + ":" + a + b
    private val ranks = new java.util.HashMap[String, Integer](
      merges.size * 2)
    merges.zipWithIndex.foreach { case ((a, b), i) =>
      ranks.putIfAbsent(key(a, b), Integer.valueOf(i))
    }
    @transient private lazy val cache =
      new java.util.HashMap[String, Array[String]](1 << 12)
    private final val CacheCap = 1 << 16

    def tokenizeWord(word: String): Array[String] = {
      val hit = cache.get(word)
      if (hit != null) return hit
      var parts = new Array[String](word.length)
      var i = 0
      while (i < word.length) {
        parts(i) = String.valueOf(word.charAt(i)); i += 1
      }
      var done = parts.length <= 1
      while (!done) {
        // lowest-rank adjacent pair present in this word
        var bestRank = Int.MaxValue
        var bestA: String = null
        var bestB: String = null
        i = 0
        while (i < parts.length - 1) {
          val r = ranks.get(key(parts(i), parts(i + 1)))
          if (r != null && r.intValue() < bestRank) {
            bestRank = r.intValue(); bestA = parts(i); bestB = parts(i + 1)
          }
          i += 1
        }
        if (bestA == null) done = true
        else {
          // fuse all occurrences of the PAIR left-to-right, non-overlap
          val out = new scala.collection.mutable.ArrayBuffer[String](
            parts.length)
          i = 0
          while (i < parts.length) {
            if (i < parts.length - 1 && parts(i) == bestA &&
                parts(i + 1) == bestB) { out += bestA + bestB; i += 2 }
            else { out += parts(i); i += 1 }
          }
          parts = out.toArray
          if (parts.length <= 1) done = true
        }
      }
      if (cache.size >= CacheCap) cache.clear()
      cache.put(word, parts)
      parts
    }
  }

  private val Pre = java.util.regex.Pattern.compile(
    graft.ops.TextOps.BpePattern)

  /** Tokenize a full text: pre-tokenize, then BPE each pre-token; the
    * result is one flat array of byte-symbol tokens (ISO-8859-1 char ↔
    * byte).
    */
  def compute(s: UTF8String, model: Model): ArrayData = {
    val m = Pre.matcher(s.toString)
    val out = new scala.collection.mutable.ArrayBuffer[UTF8String]()
    while (m.find()) {
      val sym = new String(
        m.group().getBytes(java.nio.charset.StandardCharsets.UTF_8),
        java.nio.charset.StandardCharsets.ISO_8859_1)
      model.tokenizeWord(sym).foreach(t => out += UTF8String.fromString(t))
    }
    new GenericArrayData(out.toArray[Any])
  }

  /** The merge-learning loop over a bounded (word, count) table — driver
    * side; the distributed part (word counting) lives in
    * [[graft.ops.TextOps.trainBpe]]. Deterministic: most frequent pair,
    * ties by (left, right); stops early when the best pair count < 2.
    */
  def learnMerges(wordCounts: Seq[(String, Long)], numMerges: Int)
      : Seq[(String, String)] = {
    var words = wordCounts.map { case (w, c) =>
      (new String(w.getBytes(java.nio.charset.StandardCharsets.UTF_8),
         java.nio.charset.StandardCharsets.ISO_8859_1)
         .toCharArray.map(String.valueOf), c)
    }.toArray
    val merges = new scala.collection.mutable.ArrayBuffer[(String, String)]
    var m = 0
    var stop = false
    while (m < numMerges && !stop) {
      val counts =
        new scala.collection.mutable.HashMap[(String, String), Long]
      words.foreach { case (parts, c) =>
        var i = 0
        while (i < parts.length - 1) {
          val k = (parts(i), parts(i + 1))
          counts.update(k, counts.getOrElse(k, 0L) + c)
          i += 1
        }
      }
      if (counts.isEmpty) stop = true
      else {
        val best = counts.toSeq.minBy { case ((a, b), c) => (-c, a, b) }
        if (best._2 < 2) stop = true
        else {
          merges += best._1
          val (ba, bb) = best._1
          words = words.map { case (parts, c) =>
            if (parts.length < 2) (parts, c)
            else {
              val out = new scala.collection.mutable.ArrayBuffer[String](
                parts.length)
              var i = 0
              while (i < parts.length) {
                if (i < parts.length - 1 && parts(i) == ba &&
                    parts(i + 1) == bb) { out += ba + bb; i += 2 }
                else { out += parts(i); i += 1 }
              }
              (out.toArray, c)
            }
          }
        }
      }
      m += 1
    }
    merges.toSeq
  }
}
