package graft.extract

import scala.collection.mutable.ArrayBuffer
import Item.Text

/** PPTX (PresentationML) front end: slide text + embedded media from
  * genuine `.pptx` bytes, in deck order.
  *
  * [north-rule extension] — the reference ingests PDFs only
  * (/root/reference/setup.sql:44-45); slide decks are a major
  * enterprise-corpus class. Like DOCX ([[DocxExtractor]]), PPTX decodes
  * AT THE INGEST BOUNDARY into the spec's existing span vocabulary —
  * paragraphs as verbatim "text" spans, pictures as by-reference media
  * spans — so [[graft.core.ExtractionSpec]] and both its independent
  * implementations stay untouched.
  *
  * == Exact spec (shared with the test-side DOM twin) ==
  *
  * A payload is PPTX iff it starts with the ZIP local-header magic AND
  * the archive contains `ppt/presentation.xml` (the [[DocxExtractor]]
  * part rules; the required entry makes DOCX/XLSX/PPTX/EPUB
  * classification mutually exclusive on honest files). The
  * presentation and its rels come from one walk, each slide and its
  * rels from one more.
  *
  * Slide order: `ppt/presentation.xml` is scanned for `<p:sldId ...>`
  * tags in document order; each one's `r:id` resolves through
  * `ppt/_rels/presentation.xml.rels` (Id → Target, first-wins, the OPC
  * rels grammar) to a part at `ppt/<Target>` (package-absolute when
  * `/`-prefixed, `.`/`..` segments normalized). Unresolvable ids and
  * absent parts skip silently (the EPUB ghost rule).
  *
  * Per slide, a left-to-right tag scan (char data ignored except inside
  * an open `<a:t>`):
  *  - `<a:p>` opens a paragraph, `</a:p>` closes it, emitting one
  *    [[Item.Text]] item iff the accumulated text has a non-whitespace char
  *    (VERBATIM — DrawingML run text is literal). Self-closing
  *    `<a:p/>` emits nothing; an unclosed paragraph flushes at
  *    end-of-part.
  *  - `<a:t>`…`</a:t>` inside an open paragraph appends its character
  *    data entity-decoded (the [[DocxExtractor]] XML entity pass);
  *    `<a:br/>` appends a newline inside an open paragraph.
  *  - `<a:blip ... r:embed="rIdN">` resolves rIdN through the SLIDE's
  *    own rels part (`ppt/slides/_rels/<slide>.rels`) and emits one
  *    [[Item.Media]] item AT TAG POSITION (a picture inside a not-yet-closed
  *    paragraph precedes that paragraph's Text item). The media ref is
  *    the IN-ARCHIVE path: Target resolved against the slide's
  *    directory (`../media/x.png` → `ppt/media/x.png`), or
  *    package-absolute when `/`-prefixed; http(s)/data Targets pass
  *    through verbatim (linked, not embedded). kind by Target extension
  *    (the [[DocxExtractor]] table).
  *  - `<a:tbl>` (a DrawingML table inside a `<p:graphicFrame>`) reads
  *    as ONE [[Item.Text]] item in the engine's table vocabulary — cells
  *    tab-joined, rows newline-joined — emitted at `</a:tbl>` position,
  *    matching the XLSX sheet / markdown pipe / HTML `<table>` TSV
  *    forms. Inside a table the paragraph machine is suppressed: cell
  *    text accumulates from `<a:t>` runs (entity-decoded), each
  *    `<a:p>` boundary and `<a:br/>` inside a cell reads as one space
  *    (the [[HtmlExtractor.tables]] in-cell rule — a newline would
  *    break the TSV row), and cell text normalizes at close
  *    (whitespace collapse + trim; empty cells keep grid shape).
  *    `<a:tr>` opens a row (implicitly closing an open one); `<a:tc>`
  *    opens a cell (a cell outside any row opens an implicit row). A
  *    row is kept iff it has ≥1 cell; the table emits iff ≥1 row has a
  *    nonempty cell. A stray nested `<a:tbl>` (invalid PML — `a:tc`
  *    cannot hold a graphicFrame) merges into the open collector via a
  *    depth counter, never a crash. `<a:blip>` inside a cell still
  *    emits at tag position, i.e. BEFORE the table's Text item.
  *
  * Media payload recovery: [[mediaPayload]] fetches the in-archive path
  * minted above — the PPTX quarter of the media-by-reference contract.
  */
object PptxExtractor {

  private[extract] val PresPath = "ppt/presentation.xml"
  private val PresRels = "ppt/_rels/presentation.xml.rels"

  def isPptx(bytes: Array[Byte]): Boolean =
    bytes.length > 4 && bytes(0) == 'P' && bytes(1) == 'K' &&
      bytes(2) == 3 && bytes(3) == 4 &&
      Codecs.zipPart(bytes, PresPath).isDefined

  /** `.`/`..` segment normalization for OPC part paths. */
  private[graft] def normalizePath(path: String): String = {
    val out = ArrayBuffer.empty[String]
    path.split("/", -1).foreach {
      case "" | "." => ()
      case ".."     => if (out.nonEmpty) out.remove(out.length - 1): Unit
      case seg      => out += seg
    }
    out.mkString("/")
  }

  private def utf8(b: Array[Byte]): String =
    new String(b, java.nio.charset.StandardCharsets.UTF_8)

  /** Slide part paths in presentation order (normalized, in-archive). */
  private[extract] def slideParts(bytes: Array[Byte]): Vector[String] = {
    val parts = Codecs.zipParts(bytes, PresPath, PresRels)
    val pres = parts.get(PresPath) match {
      case Some(b) => utf8(b)
      case None    => return Vector.empty
    }
    val rels = DocxExtractor.relsOf(parts.get(PresRels))
    val out = ArrayBuffer.empty[String]
    var i = 0
    while (i < pres.length) {
      val lt = pres.indexOf("<p:sldId", i)
      if (lt < 0) i = pres.length
      else {
        val gt = pres.indexOf('>', lt)
        if (gt < 0) i = pres.length
        else {
          val after = pres.charAt(lt + "<p:sldId".length)
          if (after.isWhitespace || after == '/') {
            DocxExtractor.attrOf(pres, lt, gt, "r:id")
              .flatMap(rels.get).foreach { target =>
                out += normalizePath(
                  if (target.startsWith("/")) target.substring(1)
                  else "ppt/" + target)
              }
          }
          i = gt + 1
        }
      }
    }
    out.toVector
  }

  /** Parse one PPTX payload into its ordered item stream. */
  def items(bytes: Array[Byte]): Vector[Item] = {
    val out = ArrayBuffer.empty[Item]
    slideParts(bytes).foreach { part =>
      val dir = part.substring(0, part.lastIndexOf('/') + 1)
      val relsPath = dir + "_rels/" +
        part.substring(part.lastIndexOf('/') + 1) + ".rels"
      val parts = Codecs.zipParts(bytes, part, relsPath)
      parts.get(part).foreach { slideBytes =>
        slideItems(utf8(slideBytes), dir,
          DocxExtractor.relsOf(parts.get(relsPath)), out)
      }
    }
    out.toVector
  }

  /** Whitespace collapse + trim — the shared cell-normal form. */
  private[extract] def normalizeCell(s: String): String = {
    val sb = new StringBuilder
    var ws = false
    s.foreach { c =>
      if (c.isWhitespace) ws = true
      else { if (ws && sb.nonEmpty) sb.append(' '); ws = false; sb.append(c) }
    }
    sb.toString
  }

  private def slideItems(doc: String, dir: String,
                         rels: Map[String, String],
                         out: ArrayBuffer[Item]): Unit = {
    val para = new StringBuilder
    var inPara = false
    var inT = false

    // table collector (tblDepth > 0 suppresses the paragraph machine)
    var tblDepth = 0
    val tblRows = ArrayBuffer.empty[Vector[String]]
    val rowCells = ArrayBuffer.empty[String]
    val cell = new StringBuilder
    var inRow = false
    var inCell = false

    def flush(): Unit = {
      if (inPara && para.exists(!_.isWhitespace))
        out += Text(para.toString)
      para.clear(); inPara = false; inT = false
    }

    def closeCell(): Unit = if (inCell) {
      rowCells += normalizeCell(cell.toString)
      cell.setLength(0); inCell = false
    }
    def closeRow(): Unit = {
      closeCell()
      if (inRow && rowCells.nonEmpty) tblRows += rowCells.toVector
      rowCells.clear(); inRow = false
    }
    def closeTable(): Unit = {
      closeRow()
      if (tblRows.exists(_.exists(_.nonEmpty)))
        out += Text(tblRows.map(_.mkString("\t")).mkString("\n"))
      tblRows.clear()
    }

    var i = 0
    while (i < doc.length) {
      val lt = doc.indexOf('<', i)
      if (lt < 0) { i = doc.length }
      else {
        if (inT && lt > i) {
          val t = DocxExtractor.decodeEntities(doc.substring(i, lt))
          if (tblDepth > 0) { if (inCell) cell.append(t): Unit }
          else para.append(t): Unit
        }
        val gt = doc.indexOf('>', lt)
        if (gt < 0) { i = doc.length }
        else {
          val (name, closing, selfClosing) =
            DocxExtractor.tagOf(doc, lt, gt)
          name match {
            case "a:tbl" =>
              if (closing) {
                if (tblDepth > 0) { tblDepth -= 1; if (tblDepth == 0) closeTable() }
              } else if (!selfClosing) {
                if (tblDepth == 0) flush()
                tblDepth += 1
              }
            case "a:tr" if tblDepth > 0 =>
              if (closing) closeRow()
              else if (!selfClosing) { closeRow(); inRow = true }
            case "a:tc" if tblDepth > 0 =>
              if (closing) closeCell()
              else if (!selfClosing) {
                closeCell()
                if (!inRow) inRow = true // cell outside a row: implicit row
                inCell = true
              }
            case "a:p" =>
              if (tblDepth > 0) {
                // a paragraph boundary inside a cell reads as one space
                if (inCell && !closing && cell.nonEmpty) cell.append(' '): Unit
                inT = false
              } else if (closing) flush()
              else if (!selfClosing) { flush(); inPara = true }
            case "a:t" =>
              if (closing || selfClosing) inT = false
              else if (tblDepth > 0) { if (inCell) inT = true }
              else if (inPara) inT = true
            case "a:br" if !closing =>
              if (tblDepth > 0) { if (inCell) cell.append(' '): Unit }
              else if (inPara) para.append('\n'): Unit
            case "a:blip" if !closing =>
              DocxExtractor.attrOf(doc, lt, gt, "r:embed")
                .flatMap(rels.get).foreach { t =>
                  val ref =
                    if (Item.isWebUrl(t)) t
                    else normalizePath(
                      if (t.startsWith("/")) t.substring(1) else dir + t)
                  out += Item.packaged(DocxExtractor.mediaKind(t), ref)
                }
            case _ => ()
          }
          i = gt + 1
        }
      }
    }
    if (tblDepth > 0) closeTable()
    flush()
  }

  /** Resolve one media ref (an in-archive path minted by [[items]])
    * back to its part bytes.
    */
  def mediaPayload(bytes: Array[Byte], ref: String): Option[Array[Byte]] =
    Codecs.zipPart(bytes, ref)
}
