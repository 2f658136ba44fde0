package graft.extract

import scala.collection.mutable.ArrayBuffer
import Item.Text

/** OpenDocument Text (ODF 1.2, the LibreOffice/OpenOffice `.odt`
  * format — a public OASIS standard) front end: the package is a zip
  * whose `mimetype` member declares the document class and whose
  * `content.xml` holds the body. Decodes at the ingest boundary into
  * the engine's one span vocabulary:
  *
  *  - `text:p` / `text:h` → one verbatim "text" span per paragraph/
  *    heading, in document order. ODF puts character data DIRECTLY
  *    inside these elements (unlike OOXML's `w:t` leaves); nested
  *    `text:span` styling runs flow through. `text:s` expands to its
  *    `text:c` space count (default 1), `text:tab` → TAB,
  *    `text:line-break` → newline.
  *  - `table:table` → ONE "text" span holding the grid as TSV
  *    (tab-joined cells, newline-joined rows — the same table
  *    vocabulary the PDF/markdown/HTML/XLSX/PPTX paths emit), at the
  *    table's document position. `table:number-columns-repeated`
  *    expands (capped); cell paragraphs join with a space (tabs and
  *    newlines are structural in TSV). Nested tables flatten into
  *    their host cell's text.
  *  - `draw:image xlink:href` → one media span at tag position; an
  *    in-archive target (`Pictures/…`) is byte-fetchable via
  *    [[mediaPayload]], http(s)/external hrefs pass through verbatim
  *    upstream.
  *  - `text:note` (foot/endnotes) interiors are SKIPPED — annotation
  *    apparatus, not main content (the same posture the HTML
  *    boilerplate gate takes); declared, not silent.
  *
  * Tolerance: any malformed zip/XML degrades to the items already
  * parsed — never throws. Shares the tag/attr/entity machinery with
  * [[DocxExtractor]] (one XML pull grammar across the OOXML and ODF
  * families).
  *
  * Scale: one file = one scan row, in-memory walk inside the ingest
  * flatMap. Reference context: the reference's upload list is
  * PDF-only (streamlit_app.py:655-678); ODT is the open-standard
  * sibling a mixed corpus carries.
  */
object OdtExtractor {

  /** The whole ODF document family: text (.odt), spreadsheet (.ods —
    * every sheet is a top-level `table:table`, so the same walk emits
    * one TSV span per non-empty sheet, the XLSX semantics), and
    * presentation (.odp — slide text lives in framed `text:p`s the
    * same paragraph handler reads, `draw:image`s emit as usual).
    */
  private val OdfMimes = Set(
    "application/vnd.oasis.opendocument.text",
    "application/vnd.oasis.opendocument.spreadsheet",
    "application/vnd.oasis.opendocument.presentation")

  def isOdt(bytes: Array[Byte]): Boolean =
    bytes.length > 4 && bytes(0) == 'P' && bytes(1) == 'K' &&
      bytes(2) == 3 && bytes(3) == 4 &&
      Codecs.zipPart(bytes, MimePath).exists(isOdfMime)

  private[extract] val MimePath = "mimetype"

  /** A `mimetype` entry naming one of the ODF document types. */
  private[extract] def isOdfMime(m: Array[Byte]): Boolean =
    OdfMimes.contains(new String(m, java.nio.charset.StandardCharsets.UTF_8).trim)

  private val MaxRepeat = 1000

  def items(bytes: Array[Byte]): Vector[Item] = {
    val doc = Codecs.zipPart(bytes, "content.xml") match {
      case Some(b) => new String(b, java.nio.charset.StandardCharsets.UTF_8)
      case None    => return Vector.empty
    }
    val out = ArrayBuffer.empty[Item]

    // paragraph state (outside tables)
    val para = new StringBuilder
    var paraDepth = 0 // text:p/text:h nesting (notes skipped separately)

    // table state
    var tableDepth = 0
    val rows = ArrayBuffer.empty[Vector[String]]
    val cells = ArrayBuffer.empty[String]
    val cell = new StringBuilder
    var cellRepeat = 1
    var inCell = false

    var noteDepth = 0

    def flushPara(): Unit = {
      if (para.exists(!_.isWhitespace)) out += Text(para.toString)
      para.setLength(0)
    }
    def appendText(t: String): Unit =
      if (noteDepth == 0) {
        if (tableDepth > 0) { if (inCell) { cell.append(t); () } }
        else if (paraDepth > 0) { para.append(t); () }
      }
    def closeCell(): Unit = if (inCell) {
      val norm = cell.toString.trim.replaceAll("\\s+", " ")
      val rep = math.min(math.max(cellRepeat, 1), MaxRepeat)
      (0 until rep).foreach(_ => cells += norm)
      cell.setLength(0); cellRepeat = 1; inCell = false
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
        val tsv = rows.map(r => r.padTo(width, "").mkString("\t"))
          .mkString("\n")
        if (tsv.exists(!_.isWhitespace)) out += Text(tsv)
      }
      rows.clear()
    }

    var i = 0
    while (i < doc.length) {
      val lt = doc.indexOf('<', i)
      if (lt < 0) i = doc.length
      else {
        if (lt > i) appendText(DocxExtractor.decodeEntities(
          doc.substring(i, lt)))
        val gt = doc.indexOf('>', lt)
        if (gt < 0) i = doc.length
        else {
          val (name, closing, selfClosing) = DocxExtractor.tagOf(doc, lt, gt)
          name match {
            case "text:note" =>
              if (closing) noteDepth = math.max(0, noteDepth - 1)
              else if (!selfClosing) noteDepth += 1
            case _ if noteDepth > 0 => () // note interior skipped
            case "text:p" | "text:h" =>
              if (tableDepth > 0) {
                // cell paragraphs join with a single space
                if (closing && inCell && cell.nonEmpty &&
                    !cell.charAt(cell.length - 1).isWhitespace)
                  cell.append(' ')
              } else if (closing) {
                paraDepth = math.max(0, paraDepth - 1)
                if (paraDepth == 0) flushPara()
              } else if (!selfClosing) {
                if (paraDepth == 0) flushPara()
                paraDepth += 1
              }
            case "table:table" =>
              if (closing) {
                tableDepth = math.max(0, tableDepth - 1)
                if (tableDepth == 0) closeTable()
                // nested tables flatten: interior content already
                // accumulated into the host cell
              } else if (!selfClosing) {
                if (tableDepth == 0) { flushPara(); () }
                tableDepth += 1
              }
            case "table:table-row" if tableDepth == 1 =>
              if (closing) closeRow()
            case "table:table-cell" if tableDepth == 1 =>
              if (closing) closeCell()
              else {
                closeCell() // implicit close of a dangling open cell
                inCell = true
                cellRepeat = DocxExtractor
                  .attrOf(doc, lt, gt, "table:number-columns-repeated")
                  .flatMap(_.toIntOption).getOrElse(1)
                // a self-closing cell is an (often repeated) empty cell
                if (selfClosing) closeCell()
              }
            case "text:s" if !closing =>
              val n = DocxExtractor.attrOf(doc, lt, gt, "text:c")
                .flatMap(_.toIntOption).getOrElse(1)
              appendText(" " * math.min(math.max(n, 1), MaxRepeat))
            case "text:tab" if !closing => appendText("\t")
            case "text:line-break" if !closing => appendText("\n")
            case "draw:image" if !closing =>
              DocxExtractor.attrOf(doc, lt, gt, "xlink:href").foreach {
                href =>
                  val ref = if (href.startsWith("./")) href.substring(2)
                            else href
                  if (ref.nonEmpty) out += Item.packaged(mediaKind(ref), ref)
              }
            case _ => ()
          }
          i = gt + 1
        }
      }
    }
    flushPara()
    if (tableDepth > 0) { tableDepth = 1; closeTable() } // truncated doc
    out.toVector
  }

  private def mediaKind(target: String): String = {
    val q = target.indexOf('?')
    val clean = if (q >= 0) target.substring(0, q) else target
    val dot = clean.lastIndexOf('.')
    val e = if (dot < 0) "" else clean.substring(dot + 1).toLowerCase
    e match {
      case "mp3" | "wav" | "flac" => "audio"
      case "mp4" | "mkv" | "webm" => "video"
      case _                      => "image"
    }
  }

  /** Byte-fetch for an in-archive media target (`Pictures/…`). */
  def mediaPayload(bytes: Array[Byte], target: String): Option[Array[Byte]] =
    Codecs.zipPart(bytes,
      if (target.startsWith("/")) target.substring(1) else target)
}
