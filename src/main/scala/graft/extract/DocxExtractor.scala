package graft.extract

import scala.collection.mutable.ArrayBuffer
import Item.{Media, Text}

/** DOCX (WordprocessingML) front end: paragraphs + embedded media from
  * genuine `.docx` bytes, in document order.
  *
  * [north-rule extension] — the reference ingests PDFs only (SURVEY.md
  * X8; /root/reference/setup.sql:44-45 suffix-filters `%.pdf`), but the
  * north rule's interleaved text+media documents cover office formats in
  * any web-scale corpus. Like the genuine-PDF path ([[RealPdf]] via
  * [[graft.sources.RawFiles.decodeAny]]), DOCX decodes AT THE INGEST
  * BOUNDARY into the spec's existing span vocabulary — paragraphs enter
  * as verbatim "text" spans, embedded images as by-reference media
  * spans — so [[graft.core.ExtractionSpec]] and both its independent
  * implementations stay untouched.
  *
  * == Exact spec (shared with the test-side DOM twin) ==
  *
  * A payload is DOCX iff it starts with the ZIP local-header magic
  * `PK\x03\x04` AND the archive contains an entry `word/document.xml`.
  * Parts are read by the one zip walk, [[Codecs.unzip]], under its
  * error rule ([[Codecs.Read]]): a part is the FIRST entry of its name,
  * present iff the walk read it before any zip-format error.
  * `document.xml` and its rels come from one walk.
  *
  * Relationships: entry `word/_rels/document.xml.rels`, if present, is
  * scanned for `<Relationship ...>` tags; each contributes Id → Target
  * from its `Id="..."`/`Target="..."` attributes (either quote char,
  * entity-decoded; missing attribute ⇒ tag ignored; duplicate Id ⇒ first
  * wins). Relationship `Type` is not consulted.
  *
  * `word/document.xml` is scanned left-to-right for tags; text between
  * tags is ignored unless inside an open `<w:t>`. The item stream:
  *
  *  - `<w:p>`/`<w:p ...>` opens a paragraph (an already-open paragraph
  *    is flushed first — defensive determinism; Word never nests);
  *    `</w:p>` closes it, emitting one [[Item.Text]] item iff the
  *    accumulated text contains a non-whitespace char (emitted
  *    VERBATIM — no trimming or collapsing; DOCX run text is literal,
  *    unlike HTML). Self-closing `<w:p/>` emits nothing.
  *  - `<w:t>`…`</w:t>` inside an open paragraph appends its character
  *    data entity-decoded: one left-to-right pass over `&lt; &gt;
  *    &quot; &apos; &amp;` and numeric `&#N;` / `&#xH;` (scalar in
  *    [1, 0x10FFFF] minus surrogates); anything else stays literal.
  *    Self-closing `<w:t/>` appends nothing. Text in `<w:t>` outside
  *    any paragraph is dropped. CDATA is not interpreted (Word never
  *    emits it).
  *  - `<w:tab/>` appends a tab, `<w:br/>` and `<w:cr/>` append a
  *    newline — inside an open paragraph only; closing forms ignored.
  *  - `<w:tbl>` opens a table (flushing any open paragraph): the grid
  *    emits at `</w:tbl>` as ONE [[Item.Text]] item holding the engine's
  *    TSV table vocabulary (tab-joined cells, newline-joined rows,
  *    ragged rows right-padded with empty cells — the same shape the
  *    PDF/markdown/HTML/XLSX/PPTX/ODT paths emit). `<w:tr>` closes a
  *    row at its end tag (kept iff it produced ≥1 cell); `<w:tc>`
  *    opens a cell, closed at `</w:tc>`. Cell text accumulates from
  *    the same `w:t`/`w:tab`/`w:br`/`w:cr` machinery; each `</w:p>`
  *    inside a cell appends a space (multi-paragraph cells space-join,
  *    the ODT rule), then the whole cell normalizes trim +
  *    whitespace-run-collapse (tabs and newlines are structural in
  *    TSV). NESTED tables (a `<w:tbl>` inside a cell) flatten into
  *    their host cell's text: their row/cell tags are non-structural,
  *    their character data flows. Character data inside a table but
  *    outside any cell drops. An all-whitespace grid emits nothing;
  *    an unclosed table at EOF emits what it accumulated. Blips
  *    inside a table emit at tag position — i.e. BEFORE the table's
  *    Text item (the grid materializes at its close).
  *  - `<a:blip ... r:embed="rIdN">` (self-closing or not) resolves rIdN
  *    through the relationship map and emits one [[Item.Media]] item with
  *    ref = the Target verbatim and kind = by Target extension
  *    (png/jpg/jpeg/gif/bmp/tiff → "image", mp3/wav/flac → "audio",
  *    mp4/mkv/webm → "video", anything else → "image" — drawings are
  *    images unless the part says otherwise). Unresolvable or absent
  *    `r:embed` ⇒ no emission. Emission happens AT TAG POSITION: a blip
  *    inside a not-yet-closed paragraph PRECEDES that paragraph's Text
  *    item (paragraphs materialize at `</w:p>`), mirroring
  *    [[HtmlExtractor]]'s media-at-tag-position rule.
  *  - Tag names are matched on the conventional prefixes Word writes
  *    (`w:`, `a:`, `r:`) — the ECMA-376 part 1 defaults our generator
  *    and real Word output share; arbitrary re-prefixed namespaces are
  *    out of scope (declared).
  *
  * Media payload recovery (the byte-fetch half of media-by-reference):
  * a ref `Target` resolves to zip entry `word/<Target>` (Target is
  * relative to `word/` per OPC part addressing; a leading `/` makes it
  * package-absolute).
  */
object DocxExtractor {

  def isDocx(bytes: Array[Byte]): Boolean =
    bytes.length > 4 && bytes(0) == 'P' && bytes(1) == 'K' &&
      bytes(2) == 3 && bytes(3) == 4 &&
      Codecs.zipPart(bytes, DocPath).isDefined

  private[extract] val DocPath = "word/document.xml"
  private val RelsPath = "word/_rels/document.xml.rels"

  /** Media kind by target extension: png/jpg/… and anything unknown →
    * "image", mp3/wav/flac → "audio", mp4/mkv/webm → "video".
    */
  private[extract] def mediaKind(target: String): String = {
    val dot = target.lastIndexOf('.')
    val e = if (dot < 0) "" else target.substring(dot + 1).toLowerCase
    e match {
      case "mp3" | "wav" | "flac" => "audio"
      case "mp4" | "mkv" | "webm" => "video"
      case _                      => "image"
    }
  }

  /** Parse one DOCX payload into its ordered item stream. Callers must
    * have checked [[isDocx]]; a non-archive here returns Vector.empty.
    */
  def items(bytes: Array[Byte]): Vector[Item] = {
    val parts = Codecs.zipParts(bytes, DocPath, RelsPath)
    val doc = parts.get(DocPath) match {
      case Some(b) => new String(b, java.nio.charset.StandardCharsets.UTF_8)
      case None    => return Vector.empty
    }
    val rels = relsOf(parts.get(RelsPath))

    val out = ArrayBuffer.empty[Item]
    val para = new StringBuilder
    var inPara = false
    var inT = false

    // table state (the `w:tbl` grid machine — ODT semantics)
    var tblDepth = 0
    val rows = ArrayBuffer.empty[Vector[String]]
    val cells = ArrayBuffer.empty[String]
    val cell = new StringBuilder
    var inCell = false

    def flush(): Unit = {
      if (inPara && para.exists(!_.isWhitespace))
        out += Text(para.toString)
      para.clear(); inPara = false; inT = false
    }
    def appendText(t: String): Unit =
      if (tblDepth > 0) { if (inCell) { cell.append(t); () } }
      else { para.append(t); () }
    def closeCell(): Unit = if (inCell) {
      cells += cell.toString.trim.replaceAll("\\s+", " ")
      cell.setLength(0); inCell = false
    }
    def closeRow(): Unit = {
      closeCell()
      if (cells.nonEmpty) rows += cells.toVector
      cells.clear()
    }
    def closeTable(): Unit = {
      closeRow()
      if (rows.nonEmpty) {
        val width = rows.map(_.length).max
        val tsv = rows.map(_.padTo(width, "").mkString("\t")).mkString("\n")
        if (tsv.exists(!_.isWhitespace)) out += Text(tsv)
      }
      rows.clear()
    }

    var i = 0
    while (i < doc.length) {
      val lt = doc.indexOf('<', i)
      if (lt < 0) { i = doc.length }
      else {
        if (inT && lt > i) appendText(decodeEntities(doc.substring(i, lt)))
        val gt = doc.indexOf('>', lt)
        if (gt < 0) { i = doc.length }
        else {
          val (name, closing, selfClosing) = tagOf(doc, lt, gt)
          name match {
            case "w:tbl" if !selfClosing =>
              if (closing) {
                if (tblDepth == 1) closeTable()
                tblDepth = math.max(0, tblDepth - 1)
              } else {
                if (tblDepth == 0) flush()
                tblDepth += 1
              }
            case "w:tr" if tblDepth == 1 && !selfClosing =>
              if (closing) closeRow()
            case "w:tc" if tblDepth == 1 && !selfClosing =>
              if (closing) closeCell()
              else { closeCell(); inCell = true }
            case "w:p" =>
              if (tblDepth > 0) {
                // cell paragraphs join with a space (structural TSV);
                // the close-side space collapses in cell normalization
                if (closing && inCell) { cell.append(' '); () }
                inT = false
              }
              else if (closing) flush()
              else if (!selfClosing) { flush(); inPara = true }
            case "w:t" =>
              if (closing || selfClosing) inT = false
              else if (inPara || (tblDepth > 0 && inCell)) inT = true
            case "w:tab" if !closing &&
                (inPara || (tblDepth > 0 && inCell)) => appendText("\t")
            case "w:br" | "w:cr" if !closing &&
                (inPara || (tblDepth > 0 && inCell)) => appendText("\n")
            case "a:blip" if !closing =>
              attrOf(doc, lt, gt, "r:embed").flatMap(rels.get).foreach(t =>
                out += Media(mediaKind(t), t, inFile = true))
            case _ => ()
          }
          i = gt + 1
        }
      }
    }
    flush()
    if (tblDepth > 0) { tblDepth = 1; closeTable() } // truncated table
    out.toVector
  }

  /** Resolve one media ref (a relationship Target) back to its part
    * bytes: `word/<target>`, or package-absolute when `/`-prefixed.
    */
  def mediaPayload(bytes: Array[Byte], target: String): Option[Array[Byte]] =
    Codecs.zipPart(bytes, if (target.startsWith("/")) target.substring(1)
                          else "word/" + target)

  // ---------- tag machinery ----------

  /** (name, isClosing, isSelfClosing) of the tag spanning [lt, gt]. */
  private[extract] def tagOf(doc: String, lt: Int, gt: Int)
      : (String, Boolean, Boolean) = {
    var s = lt + 1
    val closing = s < gt && doc.charAt(s) == '/'
    if (closing) s += 1
    var e = s
    while (e < gt && !doc.charAt(e).isWhitespace && doc.charAt(e) != '/')
      e += 1
    (doc.substring(s, e), closing, doc.charAt(gt - 1) == '/')
  }

  /** Value of `name="..."` / `name='...'` inside the tag, entity-decoded.
    * The match requires the attribute name to start at a word boundary
    * (after whitespace), so `foo:r:embed=` never matches `r:embed`.
    */
  private[extract] def attrOf(doc: String, lt: Int, gt: Int,
                              name: String): Option[String] = {
    val pat = name + "="
    var i = lt
    while (i < gt) {
      val j = doc.indexOf(pat, i)
      if (j < 0 || j >= gt) return None
      if (doc.charAt(j - 1).isWhitespace) {
        val q = j + pat.length
        if (q < gt && (doc.charAt(q) == '"' || doc.charAt(q) == '\'')) {
          val end = doc.indexOf(doc.charAt(q), q + 1)
          if (end > 0 && end <= gt)
            return Some(decodeEntities(doc.substring(q + 1, end)))
        }
        return None
      }
      i = j + 1
    }
    None
  }

  /** An OPC rels part, if read: its Id → Target map (empty without it). */
  private[extract] def relsOf(part: Option[Array[Byte]]): Map[String, String] =
    part.fold(Map.empty[String, String])(b =>
      parseRels(new String(b, java.nio.charset.StandardCharsets.UTF_8)))

  private def parseRels(xml: String): Map[String, String] = {
    val m = Map.newBuilder[String, String]
    val seen = scala.collection.mutable.Set.empty[String]
    var i = 0
    while (i < xml.length) {
      val lt = xml.indexOf("<Relationship", i)
      if (lt < 0) i = xml.length
      else {
        val gt = xml.indexOf('>', lt)
        if (gt < 0) i = xml.length
        else {
          // guard against <Relationships> (the container) — the tag name
          // must end right after "Relationship"
          val after = xml.charAt(lt + "<Relationship".length)
          if (after.isWhitespace || after == '/') {
            for (id <- attrOf(xml, lt, gt, "Id");
                 t <- attrOf(xml, lt, gt, "Target"))
              if (seen.add(id)) m += id -> t
          }
          i = gt + 1
        }
      }
    }
    m.result()
  }

  /** XML entity decode, one left-to-right pass: the five predefined
    * entities + numeric refs; invalid forms stay literal. (Simpler than
    * [[HtmlExtractor]]'s two-pass HTML quirk chain — XML has no
    * order-dependent re-decode.)
    */
  private[extract] def decodeEntities(s: String): String = {
    if (s.indexOf('&') < 0) return s
    val b = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c != '&') { b.append(c); i += 1 }
      else {
        val semi = s.indexOf(';', i + 1)
        val body = if (semi < 0) null else s.substring(i + 1, semi)
        val rep: String = body match {
          case null     => null
          case "lt"     => "<"
          case "gt"     => ">"
          case "quot"   => "\""
          case "apos"   => "'"
          case "amp"    => "&"
          case num if num.startsWith("#") => decodeNumeric(num)
          case _        => null
        }
        if (rep == null) { b.append(c); i += 1 }
        else { b.append(rep); i = semi + 1 }
      }
    }
    b.toString
  }

  /** `#N` / `#xH` body → scalar string, or null when out of range /
    * malformed (surrogates excluded).
    */
  private def decodeNumeric(body: String): String = {
    val hex = body.length > 1 && (body.charAt(1) == 'x' || body.charAt(1) == 'X')
    val digits = if (hex) body.substring(2) else body.substring(1)
    val radix = if (hex) 16 else 10
    if (digits.isEmpty || digits.length > 7) return null
    var v = 0L
    var i = 0
    while (i < digits.length) {
      val d = Character.digit(digits.charAt(i), radix)
      if (d < 0) return null
      v = v * radix + d
      if (v > 0x10FFFFL) return null
      i += 1
    }
    if (v < 1 || (v >= 0xD800 && v <= 0xDFFF)) null
    else new String(Character.toChars(v.toInt))
  }
}
