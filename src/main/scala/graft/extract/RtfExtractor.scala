package graft.extract

import scala.collection.mutable.ArrayBuffer
import Item.{Media, Text}

/** RTF front end: paragraph text, tables, and embedded pictures from
  * genuine `.rtf` bytes, in document order.
  *
  * [north-rule extension] — the reference ingests PDFs only
  * (/root/reference/setup.sql:44-45); RTF is the dominant legacy
  * word-processing interchange format in enterprise corpora. Like DOCX
  * ([[DocxExtractor]]), RTF decodes AT THE INGEST BOUNDARY into the
  * spec's existing span vocabulary — paragraphs as verbatim "text"
  * spans, pictures as by-reference media spans, tables as TSV text
  * blocks — so [[graft.core.ExtractionSpec]] and both its independent
  * implementations stay untouched.
  *
  * == Exact spec (shared with the test-side token-fold twin) ==
  *
  * A payload is RTF iff it starts with the 5 bytes `{\rtf` (magic at
  * byte 0 only — the [[RealPdf.isPdf]] rule; a mid-file `{\rtf` is
  * content). The byte stream reads as ISO-8859-1 (byte-preserving);
  * 8-bit characters and `\'hh` escapes decode through windows-1252
  * (`\ansicpgN` selects `windows-N` when the JDK has it, else 1252).
  *
  * Group machine: `{` pushes the current state (unicode-fallback count
  * `\ucN`, skip flag, in-table flag), `}` pops it. Control words are
  * `\[a-z]+` with an optional signed numeric parameter and one
  * optional trailing space (consumed). Raw CR/LF bytes are formatting
  * and ignored; a raw TAB reads as `\tab`.
  *
  * Text:
  *  - `\par` / `\sect` / `\page` end the paragraph → one [[Item.Text]] item
  *    iff the accumulated text has a non-whitespace char (VERBATIM).
  *    `\line` appends a newline, `\tab` a tab.
  *  - `\'hh` appends the codepage byte; `\uN` appends the char
  *    (negative N + 65536), then skips `\ucN` fallback character
  *    equivalents (a `\'hh`, a control word, or one plain char each
  *    count as one; a brace stops the skip). `\\ \{ \}` are literal;
  *    `\~`→space (the HtmlExtractor &nbsp; rule), `\_`→`-`, `\-` optional hyphen →nothing;
  *    `\emdash \endash \lquote \rquote \ldblquote \rdblquote \bullet`
  *    append their Unicode chars.
  *  - Destination groups `\fonttbl \colortbl \stylesheet \info
  *    \header* \footer* \footnote \nonshppict` and every `{\*\...}`
  *    ignorable destination EXCEPT `\*\shppict` skip wholesale (so the
  *    Word `{\*\shppict{\pict…}}{\nonshppict{\pict…}}` pair emits its
  *    picture exactly once; `{\field{\*\fldinst…}{\fldrslt text}}`
  *    naturally reads as its display text).
  *  - `\binN` consumes N raw bytes wherever it appears (binary data
  *    must never be scanned as text).
  *
  * Tables (the engine's TSV vocabulary — [[XlsxExtractor]] sheets,
  * markdown pipes, HTML/PPTX tables): `\cell` closes a cell (the
  * accumulated paragraph text, whitespace-collapsed + trimmed — empty
  * cells keep grid shape), `\row` closes a row (kept iff ≥1 cell),
  * `\intbl` marks the current paragraph as in-table so a `\par` inside
  * a cell reads as one space (`\pard` clears the mark). Consecutive
  * rows join one table; the pending table emits as ONE [[Item.Text]] item —
  * cells tab-joined, rows newline-joined, iff ≥1 cell is nonempty — at
  * the next out-of-table paragraph flush, at a picture emission, or at
  * end of input, so it PRECEDES the following item, matching its
  * source position (a picture inside a table cell therefore closes the
  * table — declared, not hit by honest writers).
  *
  * Pictures: `{\pict …}` hex data (or `\binN` raw data) becomes one
  * [[Item.Media]] item (kind "image") at the pict group's position, ref
  * minted as `pict_<idx>.<ext>` (per-doc occurrence index; ext png/jpg
  * from `\pngblip`/`\jpegblip`, else the wmf/emf family tag, else
  * `bin`). [[mediaPayload]] re-parses the document and returns the
  * idx-th picture's decoded bytes — the RTF share of the
  * media-by-reference contract.
  */
object RtfExtractor {

  def isRtf(bytes: Array[Byte]): Boolean =
    bytes.length >= 5 && bytes(0) == '{' && bytes(1) == '\\' &&
      bytes(2) == 'r' && bytes(3) == 't' && bytes(4) == 'f'

  private val SkipDests = Set(
    "fonttbl", "colortbl", "stylesheet", "info", "header", "footer",
    "headerl", "headerr", "headerf", "footerl", "footerr", "footerf",
    "footnote", "nonshppict", "themedata", "generator", "pntext")

  /** Parse one RTF payload into its ordered item stream. */
  def items(bytes: Array[Byte]): Vector[Item] = parse(bytes)._1

  /** Resolve one media ref (`pict_<idx>.<ext>` minted by [[items]])
    * back to the picture's decoded bytes.
    */
  def mediaPayload(bytes: Array[Byte], ref: String): Option[Array[Byte]] = {
    val m = "^pict_(\\d+)\\.[A-Za-z0-9]+$".r.findFirstMatchIn(ref)
    m.flatMap(_.group(1).toIntOption).flatMap(parse(bytes)._2.lift)
  }

  // group state: uc = \uc fallback count, skip = inside a skipped
  // destination, intbl = paragraph marked \intbl, pict = inside \pict
  private final case class GState(uc: Int, skip: Boolean, intbl: Boolean,
                                  pict: Boolean)

  private[graft] def parse(bytes: Array[Byte])
      : (Vector[Item], Vector[Array[Byte]]) = {
    if (!isRtf(bytes)) return (Vector.empty, Vector.empty)
    val s = new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1)
    val n = s.length
    var cs: java.nio.charset.Charset = charsetFor(1252)

    val out = ArrayBuffer.empty[Item]
    val picts = ArrayBuffer.empty[Array[Byte]]

    val para = new StringBuilder
    val tblRows = ArrayBuffer.empty[Vector[String]]
    val rowCells = ArrayBuffer.empty[String]

    // current pict collector (hex chars or \bin bytes)
    var pictHex: StringBuilder = null
    var pictBin: Array[Byte] = null
    var pictExt: String = null

    var st = GState(uc = 1, skip = false, intbl = false, pict = false)
    val stack = ArrayBuffer.empty[GState]
    var pendingStar = false

    def flushTable(): Unit = {
      if (rowCells.nonEmpty) { tblRows += rowCells.toVector; rowCells.clear() }
      if (tblRows.exists(_.exists(_.nonEmpty)))
        out += Text(tblRows.map(_.mkString("\t")).mkString("\n"))
      tblRows.clear()
    }
    def flushPara(): Unit = {
      flushTable()
      if (para.exists(!_.isWhitespace)) out += Text(para.toString)
      para.setLength(0)
    }
    def closePict(): Unit = {
      val data: Array[Byte] =
        if (pictBin != null) pictBin
        else if (pictHex != null) hexBytes(pictHex.toString)
        else Array.emptyByteArray
      if (data.nonEmpty) {
        flushTable() // a picture after table rows keeps source order
        val ext = if (pictExt != null) pictExt else "bin"
        out += Media("image", s"pict_${picts.length}.$ext", inFile = true)
        picts += data
      }
      pictHex = null; pictBin = null; pictExt = null
    }
    def appendText(t: String): Unit =
      if (!st.skip) { if (st.pict) () else para.append(t): Unit }

    // skip `count` character equivalents after \uN (the \uc protocol)
    def skipFallback(start: Int, count: Int): Int = {
      var i = start
      var left = count
      while (left > 0 && i < n) {
        val c = s.charAt(i)
        if (c == '{' || c == '}') left = 0
        else if (c == '\\') {
          if (i + 1 < n && s.charAt(i + 1) == '\'') {
            i = math.min(n, i + 4); left -= 1
          } else if (i + 1 < n && s.charAt(i + 1).isLetter) {
            var j = i + 1
            while (j < n && s.charAt(j).isLetter) j += 1
            if (j < n && (s.charAt(j) == '-' || s.charAt(j).isDigit)) {
              if (s.charAt(j) == '-') j += 1
              while (j < n && s.charAt(j).isDigit) j += 1
            }
            if (j < n && s.charAt(j) == ' ') j += 1
            i = j; left -= 1
          } else { i = math.min(n, i + 2); left -= 1 }
        } else if (c == '\r' || c == '\n') i += 1
        else { i += 1; left -= 1 }
      }
      i
    }

    var i = 1 // past the opening '{' (isRtf pinned it)
    // the opening group state is pushed by the leading '{' we skipped
    stack += st

    while (i < n) {
      val c = s.charAt(i)
      if (c == '{') { stack += st; pendingStar = false; i += 1 }
      else if (c == '}') {
        val wasPict = st.pict
        if (stack.nonEmpty) { st = stack.remove(stack.length - 1) }
        if (wasPict && !st.pict && !st.skip) closePict()
        pendingStar = false
        i += 1
      } else if (c == '\\') {
        if (i + 1 >= n) i = n
        else {
          val c1 = s.charAt(i + 1)
          if (c1.isLetter) {
            var j = i + 1
            while (j < n && s.charAt(j).isLetter) j += 1
            val word = s.substring(i + 1, j)
            var neg = false
            var num = -1L
            if (j < n && (s.charAt(j) == '-' || s.charAt(j).isDigit)) {
              if (s.charAt(j) == '-') { neg = true; j += 1 }
              num = 0
              while (j < n && s.charAt(j).isDigit) {
                num = math.min(num * 10 + (s.charAt(j) - '0'), Int.MaxValue)
                j += 1
              }
              if (neg) num = -num
            }
            if (j < n && s.charAt(j) == ' ') j += 1
            i = j
            val wasStar = pendingStar
            pendingStar = false
            if (wasStar && word != "shppict" && !st.skip)
              st = st.copy(skip = true)
            else word match {
              case "bin" =>
                val len = math.max(0L, num).toInt
                val end = math.min(n.toLong, i.toLong + len).toInt
                if (st.pict && !st.skip) {
                  pictBin = new Array[Byte](end - i)
                  var k = i
                  while (k < end) { pictBin(k - i) = s.charAt(k).toByte; k += 1 }
                }
                i = end
              case _ if st.skip => ()
              case "par" | "sect" | "page" =>
                if (st.intbl) appendText(" ") else flushPara()
              case "line" => appendText("\n")
              case "tab"  => appendText("\t")
              case "cell" =>
                rowCells += PptxExtractor.normalizeCell(para.toString)
                para.setLength(0)
              case "row" =>
                if (rowCells.nonEmpty) {
                  tblRows += rowCells.toVector; rowCells.clear()
                }
                para.setLength(0)
              case "intbl" => st = st.copy(intbl = true)
              case "pard"  => st = st.copy(intbl = false)
              case "uc"    => st = st.copy(uc = math.max(0, num).toInt)
              case "u" =>
                val cp = (if (num < 0) num + 65536 else num).toInt
                if (cp >= 0 && cp <= 0xFFFF) appendText(cp.toChar.toString)
                i = skipFallback(i, st.uc)
              case "ansicpg" =>
                cs = charsetFor(math.max(0L, num).toInt)
              case "pict" =>
                st = st.copy(pict = true)
                pictHex = new StringBuilder; pictBin = null; pictExt = null
              case "pngblip"  => if (st.pict) pictExt = "png"
              case "jpegblip" => if (st.pict) pictExt = "jpg"
              case "wmetafile" => if (st.pict && pictExt == null) pictExt = "wmf"
              case "emfblip"   => if (st.pict && pictExt == null) pictExt = "emf"
              case "emdash"    => appendText("—")
              case "endash"    => appendText("–")
              case "lquote"    => appendText("‘")
              case "rquote"    => appendText("’")
              case "ldblquote" => appendText("“")
              case "rdblquote" => appendText("”")
              case "bullet"    => appendText("•")
              case w if SkipDests(w) => st = st.copy(skip = true)
              case _ => ()
            }
          } else {
            // control symbol
            pendingStar = false
            c1 match {
              case '\'' =>
                if (i + 3 < n) {
                  val hv = hexVal(s.charAt(i + 2)) * 16 + hexVal(s.charAt(i + 3))
                  if (hv >= 0 && !st.skip && !st.pict)
                    para.append(new String(Array(hv.toByte), cs)): Unit
                  i += 4
                } else i = n
              case '*' => pendingStar = true; i += 2
              case '\\' | '{' | '}' => appendText(c1.toString); i += 2
              case '~' => appendText(" "); i += 2
              case '_' => appendText("-"); i += 2
              case '-' => i += 2 // optional hyphen: nothing
              case '\r' | '\n' => // escaped newline = \par
                if (!st.skip) { if (st.intbl) appendText(" ") else flushPara() }
                i += 2
              case _ => i += 2
            }
          }
        }
      } else {
        if (c == '\r' || c == '\n') i += 1
        else {
          if (!st.skip) {
            if (st.pict) {
              if (pictHex != null && !c.isWhitespace) pictHex.append(c): Unit
            } else para.append(c): Unit
          }
          i += 1
        }
      }
    }
    flushPara()
    (out.toVector, picts.toVector)
  }

  private def hexVal(c: Char): Int =
    if (c >= '0' && c <= '9') c - '0'
    else if (c >= 'a' && c <= 'f') c - 'a' + 10
    else if (c >= 'A' && c <= 'F') c - 'A' + 10
    else -1000 // poisons the pair → skipped

  private def hexBytes(h: String): Array[Byte] = {
    val out = new ArrayBuffer[Byte](h.length / 2)
    var i = 0
    while (i + 1 < h.length) {
      val v = hexVal(h.charAt(i)) * 16 + hexVal(h.charAt(i + 1))
      if (v >= 0) out += v.toByte
      i += 2
    }
    out.toArray
  }

  private def charsetFor(cp: Int): java.nio.charset.Charset =
    try java.nio.charset.Charset.forName("windows-" + cp)
    catch { case _: Exception =>
      java.nio.charset.Charset.forName("windows-1252") }
}
