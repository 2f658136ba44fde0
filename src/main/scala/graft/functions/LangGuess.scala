package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd 6-language heuristic — the r06 replacement for the
  * composed rlike/contains cascade in
  * [[graft.ops.TextOps.langIdGuess]], whose three `rlike` + nine
  * `contains` expression nodes dominated q_langid / q_corpus_by_lang's
  * cold codegen+regex cost. Semantics replicated EXACTLY (the DuckDB
  * twins run the same cascade in SQL):
  *
  *   - zh / ja / ru: the RAW text contains any char in
  *     [一-鿿] / [぀-ヿ] / [Ѐ-ӿ] (a Java
  *     regex `find` on a BMP character class == a char-range scan);
  *   - else with padded = " " + lower(text) + " " (UTF8String
  *     toLowerCase, Spark's `lower`):
  *     es if padded contains " el " / " los " / " una ",
  *     de if " der " / " und " / " ist ",
  *     fr if " le " / " les " / " une ", else "en".
  *
  * Parity vs the composed form is pinned in OpsSpec.
  */
object LangGuess {
  private val Zh = UTF8String.fromString("zh")
  private val Ja = UTF8String.fromString("ja")
  private val Ru = UTF8String.fromString("ru")
  private val Es = UTF8String.fromString("es")
  private val De = UTF8String.fromString("de")
  private val Fr = UTF8String.fromString("fr")
  private val En = UTF8String.fromString("en")

  def compute(s: UTF8String): UTF8String = {
    val raw = s.toString
    var zh = false; var ja = false; var ru = false
    var i = 0
    val n = raw.length
    while (i < n && !zh) {
      val c = raw.charAt(i)
      if (c >= '一' && c <= '鿿') zh = true
      else if (!ja && c >= '぀' && c <= 'ヿ') ja = true
      else if (!ru && c >= 'Ѐ' && c <= 'ӿ') ru = true
      i += 1
    }
    // cascade order is zh > ja > ru regardless of char positions —
    // exactly the when-chain's independent rlike tests
    if (zh) return Zh
    if (ja) return Ja
    if (ru) return Ru
    val padded = " " + s.toLowerCase.toString + " "
    if (padded.contains(" el ") || padded.contains(" los ") ||
        padded.contains(" una ")) return Es
    if (padded.contains(" der ") || padded.contains(" und ") ||
        padded.contains(" ist ")) return De
    if (padded.contains(" le ") || padded.contains(" les ") ||
        padded.contains(" une ")) return Fr
    En
  }
}
