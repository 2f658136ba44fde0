package graft.gen

/** Deterministic RTF fixtures + generator ground truth — the fixture
  * behind `ex_rtf`: genuine RTF documents exercising the shapes
  * [[graft.extract.RtfExtractor]] must handle — skipped header
  * destinations (fonttbl/colortbl/info) and `{\*\...}` ignorables,
  * formatting words consuming their delimiter space, `\'hh` codepage
  * escapes (cp1252, and cp1250 via `\ansicpg` on every fifth doc),
  * `\uN` unicode with `?` fallback, `\tab`/`\line`/`\emdash`, inline
  * groups, a `\trowd…\cell…\row` table on every third doc (with a
  * `\par`-inside-cell on every sixth), and the Word
  * `{\*\shppict{\pict…}}{\nonshppict{\pict…}}` picture pair on every
  * second doc (hex data; `\bin` raw data on every fourth) which must
  * emit exactly once.
  *
  * The reference ingests PDFs only (/root/reference/setup.sql:44-45);
  * RTF is the dominant legacy word-processing interchange format — a
  * north-rule extension like DOCX/EPUB/XLSX/PPTX.
  */
object RtfGen {

  def fileName(i: Int): String = f"memo_$i%04d.rtf"

  // (the `i % 7 == 6` arm puts pictures on MixedGen's rtf variant,
  // whose indices 14k+13 are all ≡ 6 mod 7 and odd)
  private def hasPict(i: Int): Boolean = i % 2 == 0 || i % 7 == 6
  private def binPict(i: Int): Boolean = i % 4 == 0
  private def hasTbl(i: Int): Boolean = i % 3 == 0
  private def parInCell(i: Int): Boolean = i % 6 == 0
  private def cp1250(i: Int): Boolean = i % 5 == 4

  private def n1(i: Int) = (i * 7) % 883
  private def n2(i: Int) = (i * 11) % 883
  private def n3(i: Int) = (i * 13) % 883
  private def n4(i: Int) = (i * 17) % 883

  // \'f5 is õ in cp1252, ő in cp1250
  private def accent(i: Int): String = if (cp1250(i)) "ő" else "õ"

  private def title(i: Int): String =
    s"Title: Memo $i échantillon m${n1(i)}"
  private def firstPara(i: Int): String =
    s"First paragraph of memo $i — with\ttab and\nbreak m${n2(i)}."
  private def secondPara(i: Int): String =
    s"Second paragraph stays inline u: 中 glyphs ${accent(i)}."
  private def closing(i: Int): String = s"Closing line for memo $i."

  /** The table's ground-truth TSV (every third doc). */
  def tableTsv(i: Int): String = {
    val c00 = if (parInCell(i)) s"Name over two paragraphs" else "Name"
    s"$c00\tMemo m${n3(i)}\nSize\t${n4(i)} kb"
  }

  /** The picture payload (every second doc): PNG magic + one id byte. */
  def pictPayload(i: Int): Array[Byte] =
    Array(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte, (i % 256).toByte)

  def fileBytes(i: Int): Array[Byte] = {
    val sb = new StringBuilder
    sb.append("{\\rtf1\\ansi")
    if (cp1250(i)) sb.append("\\ansicpg1250") else sb.append("\\ansicpg1252")
    sb.append("\\deff0\n")
    sb.append("{\\fonttbl{\\f0\\fswiss Arial;}{\\f1\\froman Times New Roman;}}\n")
    sb.append("{\\colortbl;\\red255\\green0\\blue0;\\red0\\green0\\blue255;}\n")
    sb.append(s"{\\info{\\title Memo $i}{\\author generator}}\n")
    // title: \b consumes its delimiter space; \'e9 = é in both codepages
    sb.append(s"\\pard\\b Title: Memo $i \\'e9chantillon m${n1(i)}\\b0\\par\n")
    // em-dash keyword, \tab, \line — raw source newlines are ignored,
    // so each paragraph stays on one source line
    sb.append(s"First paragraph of memo $i \\emdash  with\\tab tab and\\line break m${n2(i)}.\\par\n")
    sb.append("{\\*\\nonsense skipped junk \\par with \\'ff bytes}\n")
    // inline group, \u fallback, codepage-dependent \'f5
    sb.append(s"Second paragraph {\\i stays} inline u: \\u20013? glyphs \\'f5.\\par\n")
    if (hasTbl(i)) {
      val c00 =
        if (parInCell(i)) "Name over\\par two paragraphs"
        else "Name"
      sb.append("\\trowd\\cellx3000\\cellx6000\n")
      sb.append(s"\\pard\\intbl $c00\\cell Memo m${n3(i)}\\cell\\row\n")
      sb.append("\\trowd\\cellx3000\\cellx6000\n")
      sb.append(s"\\pard\\intbl Size\\cell ${n4(i)} kb\\cell\\row\n")
      sb.append("\\pard\n")
    }
    if (hasPict(i)) {
      val hex = pictPayload(i).map(b => f"${b & 0xff}%02x").mkString
      if (binPict(i)) {
        // \binN raw bytes (ISO-8859-1-preserved through the generator)
        val raw = new String(pictPayload(i),
          java.nio.charset.StandardCharsets.ISO_8859_1)
        sb.append(s"{\\*\\shppict{\\pict\\pngblip\\picw5\\pich1\\bin${pictPayload(i).length} $raw}}")
      } else
        sb.append(s"{\\*\\shppict{\\pict\\pngblip\\picw5\\pich1 $hex}}")
      // the Word fallback pair: must NOT double-emit
      sb.append("{\\nonshppict{\\pict\\wmetafile8 010203}}\n")
    }
    sb.append(s"Closing line for memo $i.\\par\n")
    sb.append("}")
    sb.toString.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
  }

  def write(dir: String, n: Int): Unit =
    (0 until n).foreach { i =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, fileName(i)), fileBytes(i)): Unit
    }

  /** The in-doc ref [[graft.extract.RtfExtractor]] mints. */
  def pictRef(i: Int): String = "pict_0.png"

  def expected(n: Int): Seq[GtRow] = (0 until n).flatMap(expectedDoc)

  /** Ground truth (media_ref carries `<file>#<ref>` — the ex_mixed
    * path-tail reduction of the full `<path>#<ref>` span ref, matching
    * the PDF `doc.pdf#imgN:objM` convention).
    */
  def expectedDoc(i: Int): Seq[GtRow] = {
    val f = fileName(i)
    var ord = -1
    def next(): Int = { ord += 1; ord }
    Seq(
      Some(GtRow(f, "text", title(i), null, next())),
      Some(GtRow(f, "text", firstPara(i), null, next())),
      Some(GtRow(f, "text", secondPara(i), null, next())),
      if (hasTbl(i)) Some(GtRow(f, "text", tableTsv(i), null, next()))
      else None,
      if (hasPict(i))
        Some(GtRow(f, "image", null, s"$f#${pictRef(i)}", next()))
      else None,
      Some(GtRow(f, "text", closing(i), null, next()))).flatten
  }
}
