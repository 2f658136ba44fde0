package graft.extract

import scala.collection.mutable.ArrayBuffer

/** XLSX (SpreadsheetML) front end: each worksheet's used range recovered
  * as ONE TSV block — the engine's table vocabulary (positional-PDF
  * grids via [[Tables]], markdown pipe tables via [[MdExtractor]], HTML
  * `<table>` via [[HtmlExtractor.tables]] all serialize the same way:
  * cells tab-joined, rows newline-joined).
  *
  * [north-rule extension] — the reference ingests PDFs only
  * (/root/reference/setup.sql:44-45 suffix-filters `%.pdf`), but
  * spreadsheets are the dominant TABULAR container in any office corpus;
  * like DOCX/EPUB, XLSX decodes AT THE INGEST BOUNDARY into the spec's
  * existing span vocabulary (one "text" span per non-empty sheet), so
  * [[graft.core.ExtractionSpec]] and both its independent
  * implementations stay untouched.
  *
  * == Exact spec (shared with the test-side DOM twin) ==
  *
  * A payload is XLSX iff it starts with the ZIP local-header magic
  * `PK\x03\x04` AND the archive contains an entry `xl/workbook.xml`
  * (the [[DocxExtractor]] part rules; `word/document.xml` vs
  * `xl/workbook.xml` makes the two classifications mutually exclusive
  * on honest files). The workbook, its rels and the shared strings come
  * from one walk; each sheet part from one more.
  *
  * Workbook order: `xl/workbook.xml` is scanned left-to-right for
  * `<sheet ...>` tags (exact tag name — `<sheets>` the container never
  * matches); each with BOTH a `name` and an `r:id` attribute
  * contributes one sheet, in document order. `r:id` resolves through
  * `xl/_rels/workbook.xml.rels` (`Id` → `Target`, first-wins, the OPC
  * rels grammar of [[DocxExtractor]]); the part path is `xl/<Target>`,
  * or package-absolute when `/`-prefixed. An unresolvable id or absent
  * part skips the sheet silently (the EPUB ghost-chapter rule).
  *
  * Shared strings: entry `xl/sharedStrings.xml`, if present, is split
  * on `<si>`…`</si>` items; item N's string is the concatenation of the
  * character data of EVERY `<t>`…`</t>` inside it, entity-decoded
  * (plain items carry one `<t>`; rich-text items carry one per run —
  * concatenation is exactly Excel's display string). Phonetic `<rPh>`
  * runs are not excluded (declared: our corpora don't carry furigana).
  *
  * Worksheet grammar (left-to-right tag scan, char data ignored except
  * inside an open `<v>`/`<t>`):
  *  - `<row r="N">` sets the current row to N (malformed/absent `r` ⇒
  *    previous row + 1; rows start at 1).
  *  - `<c r="A7" t="...">` opens a cell: column parsed from the letter
  *    prefix of `r` (A=1, Z=26, AA=27); absent/malformed `r` ⇒ previous
  *    column + 1 in this row. The cell's rendered value by its `t`:
  *      `s`         → sharedStrings(v.toInt), out-of-range/malformed ⇒ "";
  *      `b`         → `TRUE` when v trims to "1", else `FALSE`;
  *      `inlineStr` → concatenated `<t>` runs inside the cell's `<is>`;
  *      `str`, `e`, absent (numeric) → the raw `<v>` character data
  *                    verbatim, entity-decoded (numbers keep the file's
  *                    own lexical form — no float re-formatting, so the
  *                    TSV is deterministic across locales/JVMs).
  *    Formulas (`<f>`) are never evaluated — the cached `<v>` is the
  *    value, matching what Excel itself last computed.
  *  - A later cell at the same (row, column) overwrites (last wins —
  *    files from honest writers never collide).
  *
  * TSV serialization: the sheet's USED RANGE (Excel's own convention) —
  * rows minRow..maxRow × columns minCol..maxCol over all parsed cells;
  * absent cells render as empty strings, so grid shape survives sparse
  * holes and fully-blank gap rows become empty lines. Cell text is
  * TSV-normalized: runs of `[\t\n\r]` collapse to one space (the
  * `<br>`-as-space rule of [[HtmlExtractor.tables]]). A sheet with no
  * cells yields the empty string (callers drop it from the span
  * stream).
  */
object XlsxExtractor {

  private[extract] val WorkbookPath = "xl/workbook.xml"
  private val RelsPath = "xl/_rels/workbook.xml.rels"
  private val SstPath = "xl/sharedStrings.xml"

  def isXlsx(bytes: Array[Byte]): Boolean =
    bytes.length > 4 && bytes(0) == 'P' && bytes(1) == 'K' &&
      bytes(2) == 3 && bytes(3) == 4 &&
      Codecs.zipPart(bytes, WorkbookPath).isDefined

  /** (sheetName, tsv) in workbook order — empty sheets keep their slot
    * with tsv = "" so callers can decide (the ingest layer drops them).
    */
  def sheets(bytes: Array[Byte]): Vector[(String, String)] = {
    val parts = Codecs.zipParts(bytes, WorkbookPath, RelsPath, SstPath)
    val wb = parts.get(WorkbookPath) match {
      case Some(b) => new String(b, java.nio.charset.StandardCharsets.UTF_8)
      case None    => return Vector.empty
    }
    val rels = DocxExtractor.relsOf(parts.get(RelsPath))
    val sst = parts.get(SstPath)
      .map(b => parseSst(
        new String(b, java.nio.charset.StandardCharsets.UTF_8)))
      .getOrElse(Vector.empty)

    sheetList(wb).flatMap { case (name, rid) =>
      rels.get(rid).flatMap { target =>
        val path = if (target.startsWith("/")) target.substring(1)
                   else "xl/" + target
        Codecs.zipPart(bytes, path).map(part =>
          name -> sheetTsv(
            new String(part, java.nio.charset.StandardCharsets.UTF_8), sst))
      }
    }
  }

  // ---------- workbook / rels ----------

  /** `<sheet name=".." r:id="..">` tags of workbook.xml, in order. */
  private[extract] def sheetList(xml: String): Vector[(String, String)] = {
    val out = ArrayBuffer.empty[(String, String)]
    var i = 0
    while (i < xml.length) {
      val lt = xml.indexOf("<sheet", i)
      if (lt < 0) i = xml.length
      else {
        val gt = xml.indexOf('>', lt)
        if (gt < 0) i = xml.length
        else {
          val after = xml.charAt(lt + "<sheet".length)
          if (after.isWhitespace || after == '/') {
            for (n <- DocxExtractor.attrOf(xml, lt, gt, "name");
                 r <- DocxExtractor.attrOf(xml, lt, gt, "r:id"))
              out += n -> r
          }
          i = gt + 1
        }
      }
    }
    out.toVector
  }

  // ---------- shared strings ----------

  /** `<si>` items → display strings (all `<t>` runs concatenated). */
  private[extract] def parseSst(xml: String): Vector[String] = {
    val out = ArrayBuffer.empty[String]
    var i = 0
    while (i < xml.length) {
      val si = xml.indexOf("<si>", i)
      val siEnd = if (si < 0) -1 else xml.indexOf("</si>", si)
      if (si < 0 || siEnd < 0) i = xml.length
      else {
        out += tRuns(xml, si + 4, siEnd)
        i = siEnd + 5
      }
    }
    out.toVector
  }

  /** Concatenated entity-decoded char data of every `<t ...>`…`</t>`
    * inside [from, to).
    */
  private def tRuns(xml: String, from: Int, to: Int): String = {
    val b = new StringBuilder
    var i = from
    while (i < to) {
      val lt = xml.indexOf("<t", i)
      if (lt < 0 || lt >= to) i = to
      else {
        val after = xml.charAt(lt + 2)
        if (after == '>' || after.isWhitespace || after == '/') {
          val gt = xml.indexOf('>', lt)
          if (gt < 0 || gt >= to) i = to
          else if (xml.charAt(gt - 1) == '/') i = gt + 1 // <t/>
          else {
            val end = xml.indexOf("</t>", gt)
            if (end < 0 || end > to) i = to
            else {
              b.append(DocxExtractor.decodeEntities(xml.substring(gt + 1, end)))
              i = end + 4
            }
          }
        } else i = lt + 2
      }
    }
    b.toString
  }

  // ---------- worksheet ----------

  /** `A1`-style reference → 1-based column, or -1 when malformed. */
  private[extract] def colOf(ref: String): Int = {
    var c = 0
    var i = 0
    while (i < ref.length && ref.charAt(i).isLetter) {
      val d = ref.charAt(i).toUpper - 'A'
      if (d < 0 || d > 25 || c > 500000) return -1
      c = c * 26 + d + 1
      i += 1
    }
    if (i == 0) -1 else c
  }

  /** Runs of tab/CR/LF in a cell → one space (TSV-safe cell text). */
  private[extract] def tsvSafe(s: String): String =
    if (s.exists(ch => ch == '\t' || ch == '\n' || ch == '\r'))
      s.replaceAll("[\\t\\n\\r]+", " ")
    else s

  private[extract] def sheetTsv(xml: String, sst: Vector[String]): String = {
    val cells = scala.collection.mutable.Map.empty[(Int, Int), String]
    var row = 0
    var colPrev = 0
    // per-cell state
    var cellCol = -1
    var cellT = ""
    var inCell = false
    val cellBuf = new StringBuilder

    def closeCell(): Unit = {
      if (inCell && cellCol > 0 && row > 0) {
        val raw = cellBuf.toString
        val rendered = cellT match {
          case "s" =>
            raw.trim.toIntOption.filter(sst.indices.contains)
              .map(sst).getOrElse("")
          case "b" => if (raw.trim == "1") "TRUE" else "FALSE"
          case "inlineStr" => raw
          case _ => raw // str / e / numeric: the file's lexical form
        }
        // value-less cells (styled-but-empty `<c/>`) still claim their
        // slot — Excel's used range counts them, and so do we
        cells((row, cellCol)) = tsvSafe(rendered)
      }
      inCell = false; cellCol = -1; cellT = ""; cellBuf.clear()
    }

    var i = 0
    var inV = false
    var inT = false
    while (i < xml.length) {
      val lt = xml.indexOf('<', i)
      if (lt < 0) i = xml.length
      else {
        if (lt > i) {
          if (inV && inCell) cellBuf.append(
            DocxExtractor.decodeEntities(xml.substring(i, lt)))
          else if (inT && inCell && cellT == "inlineStr") cellBuf.append(
            DocxExtractor.decodeEntities(xml.substring(i, lt)))
        }
        val gt = xml.indexOf('>', lt)
        if (gt < 0) i = xml.length
        else {
          val (name, closing, selfClosing) = DocxExtractor.tagOf(xml, lt, gt)
          name match {
            case "row" if !closing =>
              closeCell()
              row = DocxExtractor.attrOf(xml, lt, gt, "r")
                .flatMap(_.toIntOption).filter(_ > 0).getOrElse(row + 1)
              colPrev = 0
            case "c" if !closing =>
              closeCell()
              inCell = true
              cellT = DocxExtractor.attrOf(xml, lt, gt, "t").getOrElse("")
              cellCol = DocxExtractor.attrOf(xml, lt, gt, "r")
                .map(colOf).filter(_ > 0).getOrElse(colPrev + 1)
              colPrev = cellCol
              if (selfClosing) closeCell()
            case "c" if closing => closeCell()
            case "v" => inV = !closing && !selfClosing
            case "t" => inT = !closing && !selfClosing
            case _ => ()
          }
          i = gt + 1
        }
      }
    }
    closeCell()

    usedRange(cells)
  }

  /** A sparse (row, column) → cell map as TSV over its used range: rows
    * min..max × columns min..max, absent cells empty; "" without cells.
    */
  private[extract] def usedRange(
      cells: scala.collection.Map[(Int, Int), String]): String = {
    if (cells.isEmpty) return ""
    val rMin = cells.keysIterator.map(_._1).min
    val rMax = cells.keysIterator.map(_._1).max
    val cMin = cells.keysIterator.map(_._2).min
    val cMax = cells.keysIterator.map(_._2).max
    (rMin to rMax).map { r =>
      (cMin to cMax).map(c => cells.getOrElse((r, c), "")).mkString("\t")
    }.mkString("\n")
  }
}
