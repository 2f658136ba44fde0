package graft.gen

/** Deterministic DOCX generator with TABLES — ground truth for
  * `ex_docx` (the WordprocessingML member of the engine's table
  * family, alongside q_table_tsv / _md / _html / _xlsx / _pptx /
  * _xls / _doc / _csv and the ODT grids inside ex_odt).
  *
  * The generator commits to each document's expected item stream
  * FIRST (paragraph strings, table grids as cell matrices, media
  * tails) and then renders the WordprocessingML XML from them —
  * escaping entities, splitting cell paragraphs, nesting the
  * flattened inner grid — so the expected rows are independent of
  * [[graft.extract.DocxExtractor]]'s scanner (which never sees the
  * cell matrices, only the rendered XML).
  *
  * Reference context: the reference ingests PDFs only
  * (/root/reference/setup.sql:44-45); office tables are a north-rule
  * extension in the same interleaved span vocabulary.
  */
object DocxGen {

  def fileName(i: Int): String = f"report_$i%04d.docx"

  // ---------- ground truth (chosen before any XML exists) ----------

  private def grid(i: Int): Vector[Vector[String]] = Vector(
    Vector("metric", "value", "unit"),
    Vector(s"rows_$i", s"${i * 37 + 5}", "count"),
    Vector(s"lat p${50 + i % 50}", s"${i % 9}.${i % 97}", "ms"))

  private def raggedGrid(i: Int): Vector[Vector[String]] = Vector(
    Vector("k", "v", "note"),
    Vector(s"alpha $i", s"${i + 1}", ""),
    Vector(s"omega $i", ""))

  private def tsvOf(rows: Vector[Vector[String]]): String = {
    val width = rows.map(_.length).max
    rows.map(_.padTo(width, "").mkString("\t")).mkString("\n")
  }

  /** Expected item stream per document — the oracle rows. */
  def expectedDoc(i: Int): Seq[GtRow] = {
    val f = fileName(i)
    val items: Seq[(String, String, String)] = (i % 8) match {
      case 0 => Seq(
        ("text", s"Report $i introduces the quarterly metrics table.", null),
        ("text", tsvOf(grid(i)), null),
        ("text", s"Report $i closes after the table.", null))
      case 1 => Seq( // ragged rows pad right
        ("text", tsvOf(raggedGrid(i)), null),
        ("text", s"Footnote paragraph for report $i.", null))
      case 2 => Seq( // multi-paragraph + tab/br cells space-join
        ("text", s"first half $i second half\tx $i y z\tplain", null))
      case 3 => Seq( // nested table flattens into its host cell
        ("text", s"host $i inner${i}a inner${i}b\tsibling cell", null))
      case 4 => Seq( // entities + a blip inside a cell: media BEFORE grid
        ("image", null, "figure1.png"),
        ("text", s"café & barn°$i\tsecond", null))
      case 5 => Seq( // two tables, paragraph between — order pins
        ("text", tsvOf(grid(i)), null),
        ("text", s"Between the grids of report $i.", null),
        ("text", tsvOf(raggedGrid(i)), null))
      case 6 => Seq( // no table at all
        ("text", s"Plain paragraph one of report $i.", null),
        ("text", s"Plain paragraph two of report $i.", null))
      case _ => Seq( // whitespace-only grid is silent
        ("text", s"Only this paragraph survives in report $i.", null))
    }
    items.zipWithIndex.map { case ((k, t, m), ord) =>
      GtRow(f, k, t, m, ord)
    }
  }

  def expected(n: Int): Seq[GtRow] = (0 until n).flatMap(expectedDoc)

  // ---------- XML rendering (from the ground truth) ----------

  private def esc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  private def p(text: String): String =
    s"<w:p><w:pPr/><w:r><w:t>${esc(text)}</w:t></w:r></w:p>"

  private def cell(paras: String*): String =
    s"<w:tc><w:tcPr/>${paras.map(p).mkString}</w:tc>"

  private def rowOf(cells: String*): String =
    s"<w:tr><w:trPr/>${cells.mkString}</w:tr>"

  private def tableOf(rows: Vector[Vector[String]]): String =
    "<w:tbl><w:tblPr/><w:tblGrid/>" +
      rows.map(r => rowOf(r.map(c => cell(c)): _*)).mkString + "</w:tbl>"

  private def blip(id: String): String =
    "<w:r><w:drawing><a:graphic><a:graphicData>" +
      s"""<a:blip r:embed="$id"/>""" +
      "</a:graphicData></a:graphic></w:drawing></w:r>"

  private def bodyXml(i: Int): String = (i % 8) match {
    case 0 =>
      p(s"Report $i introduces the quarterly metrics table.") +
        tableOf(grid(i)) +
        p(s"Report $i closes after the table.")
    case 1 => tableOf(raggedGrid(i)) + p(s"Footnote paragraph for report $i.")
    case 2 => // cells rendered with structure the normalization folds
      "<w:tbl><w:tblPr/>" + rowWrap(
        cell(s"first half $i", "second half") +
        ("<w:tc><w:p><w:r><w:t>x</w:t><w:tab/><w:t>" + esc(s"$i y") +
          "</w:t><w:br/><w:t>z</w:t></w:r></w:p></w:tc>") +
        cell("  plain  ")) + "</w:tbl>"
    case 3 =>
      val inner = tableOf(Vector(Vector(s"inner${i}a", s"inner${i}b")))
      "<w:tbl><w:tblPr/>" + rowWrap(
        s"<w:tc><w:tcPr/>${p(s"host $i")}$inner</w:tc>" +
        cell("sibling cell")) + "</w:tbl>"
    case 4 =>
      "<w:tbl><w:tblPr/>" + rowWrap(
        ("<w:tc><w:p><w:r><w:t>caf&#233; &amp; bar" +
          s"n&#176;$i</w:t></w:r>${blip("rId1")}</w:p></w:tc>") +
        cell("second")) + "</w:tbl>"
    case 5 =>
      tableOf(grid(i)) + p(s"Between the grids of report $i.") +
        tableOf(raggedGrid(i))
    case 6 =>
      p(s"Plain paragraph one of report $i.") +
        p(s"Plain paragraph two of report $i.")
    case _ =>
      tableOf(Vector(Vector("   ", ""), Vector("", " "))) +
        p(s"Only this paragraph survives in report $i.")
  }

  private def rowWrap(cells: String): String = s"<w:tr>$cells</w:tr>"

  def fileBytes(i: Int): Array[Byte] = {
    val documentXml =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<w:document xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main"""" +
        """ xmlns:a="http://schemas.openxmlformats.org/drawingml/2006/main"""" +
        """ xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">""" +
        s"<w:body>${bodyXml(i)}</w:body></w:document>"
    val relsXml =
      """<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
        """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/image" Target="media/figure1.png"/>""" +
        "</Relationships>"
    val contentTypes =
      """<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
        """<Default Extension="xml" ContentType="application/xml"/>""" +
        """<Default Extension="png" ContentType="image/png"/></Types>"""
    MixedGen.zipStored(
      "[Content_Types].xml" -> contentTypes.getBytes("UTF-8"),
      "word/document.xml" -> documentXml.getBytes("UTF-8"),
      "word/_rels/document.xml.rels" -> relsXml.getBytes("UTF-8"),
      "word/media/figure1.png" ->
        Array.tabulate[Byte](24)(k => ((k * 7 + i) % 127).toByte))
  }

  def write(dir: String, n: Int): Unit =
    (0 until n).foreach { i =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, fileName(i)), fileBytes(i)): Unit
    }
}
