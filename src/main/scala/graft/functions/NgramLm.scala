package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** The trained model: retained unigram/bigram counts + the full-sample
  * token total. Bigram keys are `prev + " " + w` — unambiguous because
  * tokens cannot contain the split byte.
  */
final case class NgramLm(unigrams: Map[String, Long],
                         bigrams: Map[String, Long],
                         total: Long) {
  require(total > 0, "NgramLm needs a non-empty training sample")
  private val alpha = 0.4
  private val oov = 0.1 / total

  private def uni(w: String): Double =
    unigrams.get(w) match {
      case Some(c) => c.toDouble / total
      case None    => oov
    }

  /** Null for token-less text, else mean log10 Stupid-Backoff score. */
  def score(text: String): java.lang.Double = {
    var sum = 0.0
    var n = 0
    var prev: String = null
    val len = text.length
    var start = 0
    var i = 0
    while (i <= len) {
      if (i == len || text.charAt(i) == ' ') {
        if (i > start) {
          val w = text.substring(start, i)
          val p =
            if (prev == null) uni(w)
            else {
              val bc = bigrams.get(prev + " " + w)
              val pc = if (bc.isDefined) unigrams.get(prev) else None
              (bc, pc) match {
                case (Some(b), Some(c)) => b.toDouble / c
                case _                  => alpha * uni(w)
              }
            }
          sum += math.log10(p)
          n += 1
          prev = w
        }
        start = i + 1
      }
      i += 1
    }
    if (n == 0) null else java.lang.Double.valueOf(sum / n)
  }
}

/** Corpus-trained bigram language-model scorer with Stupid Backoff
  * (Brants et al. 2007, "Large Language Models in Machine Translation"
  * — the web-scale smoothing that needs no discounting passes; public
  * knowledge). The CCNet-style quality gate: documents whose token
  * stream the corpus LM finds improbable (gibberish, boilerplate soup,
  * wrong-language fragments) score low and can be filtered or
  * bucketed.
  *
  * Model semantics (the plain oracle reimplements this spec
  * independently):
  *  - tokens: split on single 0x20 bytes, empty tokens skipped (the
  *    [[TextEmbed]] convention);
  *  - S(w|prev) = bigramCount(prev w) / unigramCount(prev) when the
  *    bigram AND its prefix survive the frequency cut, else
  *    0.4 · S(w); S(w) = count(w)/N for retained vocab, else 0.1/N
  *    (OOV floor); the first token scores S(w);
  *  - document score = Σ log10 S / nTokens (mean log-prob; 0 tokens →
  *    NULL). Summation is left-to-right, so engine and twin are
  *    bit-identical.
  *
  * Training ([[graft.ops.TextOps.trainNgramLm]]) keeps the heavy part
  * distributed — two aggregates over the corpus; only the top-K
  * (count desc, gram asc) unigrams/bigrams reach the driver, N stays
  * the FULL sample token count. The model ships to executors once via
  * the codegen object reference, like [[BpeTokenize]]'s merge table.
  */
object NgramLmScore {
  /** The kernel of `graft_ngram_lm_score`: [[NgramLm.score]] of the
    * text.
    */
  def compute(s: UTF8String, model: NgramLm): java.lang.Double =
    model.score(s.toString)
}
