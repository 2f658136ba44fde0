package graft.gen

import java.nio.charset.{Charset, StandardCharsets}
import java.nio.file.{Files, Paths}

/** Deterministic multi-charset corpus: the ground-truth side of the
  * [[graft.extract.CharsetSniff]] ingest decode. Each file is a known
  * Unicode string ENCODED by this generator with the charset its
  * declaration (or lack of one) should make the sniffer pick — so
  * `expected` is what the bytes objectively say, independent of every
  * parser. Twelve variants cycle:
  *
  *   0  .html  `<meta charset="windows-1252">`, € / smart quotes / em-dash
  *   1  .html  `<meta http-equiv>` shift_jis — decodes via windows-31j
  *             (WHATWG superset mapping), halfwidth katakana included
  *   2  .html  no declaration, valid multibyte UTF-8 → validity sniff
  *   3  .txt   windows-1252 bytes, no declaration → invalid-UTF-8
  *             fallback
  *   4  .txt   valid multibyte UTF-8 → validity sniff
  *   5  .html  UTF-16LE BOM with a LYING `<meta charset=shift_jis>` —
  *             the BOM wins
  *   6  .html  `<meta charset=gb18030>`, simplified Chinese + €
  *   7  .html  `<meta charset="iso-8859-1">` whose body uses byte 0x80:
  *             the WHATWG latin1→windows-1252 upgrade decodes it as €
  *   8  .html  `<meta charset=koi8-r>`, Russian
  *   9  .html  single-quoted `<meta charset='windows-1251'>` preceded by
  *             a COMMENTED-OUT big5 meta the prescan must skip
  *   10 .html  `<meta charset=big5>`, traditional Chinese — decodes via
  *             Big5-HKSCS (WHATWG mapping)
  *   11 .html  `<meta charset=euc-kr>`, Korean — decodes via
  *             windows-949 (WHATWG superset mapping)
  */
object CharsetGen {

  private def cs(n: String): Charset = Charset.forName(n)

  /** (file suffix, declared-charset html wrapper or raw, encode charset,
    * body text). The html wrapper is ASCII so the round trip is exact
    * whenever the body chars are representable in the encode charset —
    * they are, by construction.
    */
  private def variant(i: Int): (String, String, Charset) = (i % 12) match {
    case 0 =>
      val t = "Café — “smart” quotes & € prices, résumé no. " + i
      ("html", html("windows-1252", t), cs("windows-1252"))
    case 1 =>
      val t = "日本語テキスト ｶﾀｶﾅ doc " + i
      ("html",
       s"""<html><head><meta http-equiv="Content-Type" content="text/html; charset=shift_jis"></head><body><p>$t</p></body></html>""",
       cs("windows-31j"))
    case 2 =>
      val t = "Värld 世界 мир 🌍 doc " + i
      ("html", s"<html><body><p>$t</p></body></html>",
       StandardCharsets.UTF_8)
    case 3 =>
      ("txt", "café déjà vu – résumé €" + i,
       cs("windows-1252"))
    case 4 =>
      ("txt", "plain utf-8 ümläut 中文 " + i,
       StandardCharsets.UTF_8)
    case 5 =>
      val t = "wide body ✓ doc " + i
      ("html", "\uFEFF" + html("shift_jis", t), StandardCharsets.UTF_16LE)
    case 6 =>
      val t = "中文文本 € doc " + i
      ("html", html("gb18030", t), cs("GB18030"))
    case 7 =>
      val t = "legacy € sign upgraded, naïve doc " + i
      // declared iso-8859-1, really windows-1252 (the € byte 0x80) —
      // the WHATWG label upgrade is the only correct decode
      ("html", html("iso-8859-1", t), cs("windows-1252"))
    case 8 =>
      val t = "Русский текст doc " + i
      ("html", html("koi8-r", t), cs("KOI8-R"))
    case 9 =>
      val t = "Български doc " + i
      ("html",
       s"""<html><head><!-- <meta charset="big5"> --><meta charset='windows-1251'></head><body><p>$t</p></body></html>""",
       cs("windows-1251"))
    case 10 =>
      val t = "繁體中文文字 doc " + i
      ("html", html("big5", t), cs("Big5-HKSCS"))
    case _ =>
      val t = "한국어 텍스트 doc " + i
      ("html", html("euc-kr", t), cs("x-windows-949"))
  }

  private def html(declared: String, body: String): String =
    s"""<html><head><meta charset="$declared"></head><body><p>$body</p></body></html>"""

  def fileName(i: Int): String = {
    val (suffix, _, _) = variant(i)
    f"cs$i%05d_v${i % 12}.$suffix"
  }

  def fileBytes(i: Int): Array[Byte] = {
    val (_, content, enc) = variant(i)
    content.getBytes(enc)
  }

  def write(dir: String, n: Int): Unit = {
    Files.createDirectories(Paths.get(dir))
    (0 until n).foreach { i =>
      Files.write(Paths.get(dir, fileName(i)), fileBytes(i)): Unit
    }
  }

  /** Ground truth at the ingest boundary: one span per file, its text
    * the EXACT Unicode string this generator encoded (BOM dropped for
    * variant 5 — the decode contract), kind html/text by suffix.
    */
  def expected(n: Int): Seq[GtRow] =
    (0 until n).map { i =>
      val (suffix, content, _) = variant(i)
      val kind = if (suffix == "html") "html" else "text"
      val text = if (i % 12 == 5) content.substring(1) else content
      GtRow(fileName(i), kind, text, null, 0)
    }
}
