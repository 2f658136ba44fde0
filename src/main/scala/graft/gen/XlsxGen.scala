package graft.gen

/** Deterministic XLSX fixtures + generator ground truth — the fixture
  * behind `q_table_tsv_xlsx`: genuine SpreadsheetML zips exercising the
  * shapes [[graft.extract.XlsxExtractor]] must handle — shared strings
  * (plain, entity-bearing, rich-text runs), inline strings, numerics
  * kept in their lexical form, cached formula strings, booleans, a
  * sparse hole + a styled-empty cell, a fully-absent gap row inside the
  * used range (every fourth file), a second sheet starting at B2 (used
  * range must not assume A1; every third file), and a workbook-listed
  * sheet whose part is ABSENT from the archive (skipped silently; every
  * sixth). Cells/rows with and without explicit `r` refs.
  *
  * The reference ingests PDFs only (/root/reference/setup.sql:44-45);
  * spreadsheets are the dominant tabular container in office corpora —
  * a north-rule extension like DOCX/EPUB, landing in the engine's ONE
  * table vocabulary (tab-joined cells, newline-joined rows).
  */
object XlsxGen {

  def fileName(i: Int): String = f"sheet_$i%04d.xlsx"

  private def twoSheets(i: Int): Boolean = i % 3 == 0
  private def ghost(i: Int): Boolean = i % 6 == 5
  private def gapRow(i: Int): Boolean = i % 4 == 1

  private def note(i: Int): String = s"note & m${(i * 13) % 883}"
  private def qty(i: Int): String = ((i * 7) % 100).toString

  def fileBytes(i: Int): Array[Byte] = {
    val contentTypes =
      """<?xml version="1.0"?><Types """ +
        """xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
        """<Default Extension="xml" ContentType="application/xml"/>""" +
        "</Types>"
    val workbook =
      """<?xml version="1.0"?><workbook """ +
        """xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" """ +
        """xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">""" +
        "<sheets>" +
        """<sheet name="Data" sheetId="1" r:id="rId1"/>""" +
        (if (twoSheets(i))
           """<sheet name="Extra" sheetId="2" r:id="rId2"/>""" else "") +
        (if (ghost(i))
           """<sheet name="Ghost" sheetId="3" r:id="rId9"/>""" else "") +
        "</sheets></workbook>"
    val rels =
      """<?xml version="1.0"?><Relationships """ +
        """xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
        """<Relationship Id="rId1" Type="http://sheet" Target="worksheets/sheet1.xml"/>""" +
        """<Relationship Id="rId2" Type="http://sheet" Target="worksheets/sheet2.xml"/>""" +
        """<Relationship Id="rId9" Type="http://sheet" Target="worksheets/ghost.xml"/>""" +
        """<Relationship Id="rId8" Type="http://sst" Target="sharedStrings.xml"/>""" +
        "</Relationships>"
    val sst =
      """<?xml version="1.0"?><sst """ +
        """xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" """ +
        """count="4" uniqueCount="4">""" +
        "<si><t>name</t></si>" +
        "<si><t>qty</t></si>" +
        s"<si><t>note &amp; m${(i * 13) % 883}</t></si>" +
        // rich-text item: two runs concatenate to the display string
        s"<si><r><rPr><b/></rPr><t>alpha </t></r><r><t>$i</t></r></si>" +
        "</sst>"
    val row3 =
      if (gapRow(i)) "" // rows 1,2,4 present — row 3 must render blank
      else """<row r="3">""" +
        s"""<c r="A3" t="str"><f>CONCATENATE("calc ",A2)</f>""" +
        s"<v>calc $i</v></c>" +
        """<c r="C3"/></row>""" // B3 hole + styled-empty C3
    val sheet1 =
      """<?xml version="1.0"?><worksheet """ +
        """xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">""" +
        "<sheetData>" +
        """<row r="1">""" +
        """<c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c>""" +
        """<c r="C1" t="s"><v>2</v></c></row>""" +
        // row + middle cell both WITHOUT r= (previous+1 rules)
        "<row>" +
        """<c r="A2" t="s"><v>3</v></c>""" +
        s"""<c t="n"><v>${qty(i)}</v></c>""" +
        s"""<c r="C2" t="inlineStr"><is><t>inline $i&amp;co</t></is></c>""" +
        "</row>" +
        row3 +
        """<row r="4">""" +
        s"""<c r="A4" t="b"><v>${i % 2}</v></c>""" +
        """<c r="B4"><v>3.25</v></c>""" +
        s"""<c r="C4"><v>${i}000</v></c></row>""" +
        "</sheetData></worksheet>"
    val sheet2 =
      """<?xml version="1.0"?><worksheet """ +
        """xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">""" +
        "<sheetData>" +
        """<row r="2">""" +
        s"""<c r="B2" t="inlineStr"><is><t>extra $i</t></is></c>""" +
        s"""<c r="C2"><v>$i</v></c></row>""" +
        "</sheetData></worksheet>"
    MixedGen.zipStored(Seq(
      "[Content_Types].xml" -> contentTypes.getBytes("UTF-8"),
      "xl/workbook.xml" -> workbook.getBytes("UTF-8"),
      "xl/_rels/workbook.xml.rels" -> rels.getBytes("UTF-8"),
      "xl/sharedStrings.xml" -> sst.getBytes("UTF-8"),
      "xl/worksheets/sheet1.xml" -> sheet1.getBytes("UTF-8")) ++
      (if (twoSheets(i))
         Seq("xl/worksheets/sheet2.xml" -> sheet2.getBytes("UTF-8"))
       else Seq.empty): _*)
  }

  def write(dir: String, n: Int): Unit =
    (0 until n).foreach { i =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, fileName(i)), fileBytes(i)): Unit
    }

  /** Ground truth: (sheetName, tsv) per workbook, in workbook order —
    * computed from the DATA the generator wrote, independent of every
    * parser.
    */
  def expectedSheets(i: Int): Vector[(String, String)] = {
    val r1 = s"name\tqty\t${note(i)}"
    val r2 = s"alpha $i\t${qty(i)}\tinline $i&co"
    val r3 = if (gapRow(i)) "\t\t" else s"calc $i\t\t"
    val r4 = s"${if (i % 2 == 1) "TRUE" else "FALSE"}\t3.25\t${i}000"
    val data = Seq(r1, r2, r3, r4).mkString("\n")
    Vector("Data" -> data) ++
      (if (twoSheets(i)) Vector("Extra" -> s"extra $i\t$i") else Vector.empty)
  }

  /** One row per sheet TSV, in workbook order. */
  def expected(n: Int): Seq[TsvRow] = (0 until n).flatMap { i =>
    expectedSheets(i).zipWithIndex.map { case ((_, tsv), k) =>
      TsvRow(fileName(i), k, tsv)
    }
  }
}
