package graft

import graft.extract.XlsxExtractor
import org.scalatest.funsuite.AnyFunSuite

import java.io.ByteArrayOutputStream
import java.util.zip.{ZipEntry, ZipOutputStream}

/** XLSX front-end spec: pinned behaviors + dual-implementation parity.
  *
  * The twin ([[XlsxSpec.domSheets]]) re-implements the XlsxExtractor
  * scaladoc spec INDEPENDENTLY on top of the JDK's namespace-aware DOM
  * parser — a different XML machine entirely (real parser vs hand
  * scanner), so agreement pins the spec, not the implementation.
  */
class XlsxSpec extends AnyFunSuite with TempDirs {

  // ---------- xlsx builder (test-local, deterministic) ----------

  def zip(entries: (String, Array[Byte])*): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val z = new ZipOutputStream(bos)
    entries.foreach { case (name, bytes) =>
      val e = new ZipEntry(name)
      e.setTime(0L)
      z.putNextEntry(e); z.write(bytes); z.closeEntry()
    }
    z.close()
    bos.toByteArray
  }

  /** Minimal workbook: one sheet named per entry, rIdN in order. */
  def xlsx(sheets: Seq[(String, String)], sst: String = null,
           extraRels: Seq[(String, String)] = Nil): Array[Byte] = {
    val wb =
      """<?xml version="1.0"?><workbook xmlns="http://x" xmlns:r="http://r"><sheets>""" +
        sheets.zipWithIndex.map { case ((n, _), k) =>
          s"""<sheet name="$n" sheetId="${k + 1}" r:id="rId${k + 1}"/>"""
        }.mkString + "</sheets></workbook>"
    val rels =
      """<?xml version="1.0"?><Relationships xmlns="http://p">""" +
        (sheets.zipWithIndex.map { case (_, k) =>
          s"rId${k + 1}" -> s"worksheets/s${k + 1}.xml"
        } ++ extraRels).map { case (id, t) =>
          s"""<Relationship Id="$id" Type="http://sheet" Target="$t"/>"""
        }.mkString + "</Relationships>"
    zip((Seq(
      "xl/workbook.xml" -> wb.getBytes("UTF-8"),
      "xl/_rels/workbook.xml.rels" -> rels.getBytes("UTF-8")) ++
      Option(sst).map(s => "xl/sharedStrings.xml" -> s.getBytes("UTF-8")) ++
      sheets.zipWithIndex.map { case ((_, xml), k) =>
        s"xl/worksheets/s${k + 1}.xml" -> xml.getBytes("UTF-8")
      }): _*)
  }

  def ws(rows: String): String =
    s"""<?xml version="1.0"?><worksheet xmlns="http://x"><sheetData>$rows</sheetData></worksheet>"""

  // ---------- the DOM twin ----------

  /** Spec re-implementation over javax.xml DOM (namespace-aware). */
  def domSheets(bytes: Array[Byte]): Vector[(String, String)] = {
    import org.w3c.dom.{Element, Node}
    def parse(b: Array[Byte]): Element = {
      val f = javax.xml.parsers.DocumentBuilderFactory.newInstance()
      f.setNamespaceAware(true)
      f.newDocumentBuilder()
        .parse(new java.io.ByteArrayInputStream(b)).getDocumentElement
    }
    def unzip(name: String): Option[Array[Byte]] = {
      val z = new java.util.zip.ZipInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try Iterator.continually(z.getNextEntry).takeWhile(_ != null)
        .collectFirst { case e if e.getName == name => z.readAllBytes() }
      finally z.close()
    }
    def children(n: Node, local: String): Vector[Element] = {
      val out = Vector.newBuilder[Element]
      var c = n.getFirstChild
      while (c != null) {
        c match {
          case e: Element if e.getLocalName == local => out += e
          case _ => ()
        }
        c = c.getNextSibling
      }
      out.result()
    }
    def descendants(n: Node, local: String): Vector[Element] = {
      val out = Vector.newBuilder[Element]
      def go(x: Node): Unit = {
        var c = x.getFirstChild
        while (c != null) {
          c match {
            case e: Element =>
              if (e.getLocalName == local) out += e
              go(e)
            case _ => ()
          }
          c = c.getNextSibling
        }
      }
      go(n)
      out.result()
    }

    val wb = parse(unzip("xl/workbook.xml").get)
    val rels: Map[String, String] =
      unzip("xl/_rels/workbook.xml.rels").map { rb =>
        val ns = parse(rb).getElementsByTagNameNS("*", "Relationship")
        (0 until ns.getLength).map(ns.item(_).asInstanceOf[Element])
          .filter(e => e.hasAttribute("Id") && e.hasAttribute("Target"))
          .map(e => e.getAttribute("Id") -> e.getAttribute("Target"))
          .reverse.toMap // first Id wins
      }.getOrElse(Map.empty)
    val sst: Vector[String] =
      unzip("xl/sharedStrings.xml").map { sb =>
        children(parse(sb), "si").map(si =>
          descendants(si, "t").map(_.getTextContent).mkString)
      }.getOrElse(Vector.empty)

    def colOf(ref: String): Int = {
      val letters = ref.takeWhile(_.isLetter)
      if (letters.isEmpty || !letters.forall(c => c.isLetter)) -1
      else letters.foldLeft(0)((a, c) => a * 26 + (c.toUpper - 'A') + 1)
    }
    def tsvSafe(s: String): String = s.replaceAll("[\\t\\n\\r]+", " ")

    def sheetTsv(xml: Array[Byte]): String = {
      val root = parse(xml)
      val cells = scala.collection.mutable.Map.empty[(Int, Int), String]
      var row = 0
      children(root, "sheetData").foreach { sd =>
        children(sd, "row").foreach { r =>
          row = Option(r.getAttribute("r")).filter(_.nonEmpty)
            .flatMap(_.toIntOption).filter(_ > 0).getOrElse(row + 1)
          var col = 0
          children(r, "c").foreach { c =>
            col = Option(c.getAttribute("r")).filter(_.nonEmpty)
              .map(colOf).filter(_ > 0).getOrElse(col + 1)
            val t = c.getAttribute("t")
            val v = children(c, "v").headOption.map(_.getTextContent)
              .getOrElse("")
            val rendered = t match {
              case "s" => v.trim.toIntOption.filter(sst.indices.contains)
                .map(sst).getOrElse("")
              case "b" => if (v.trim == "1") "TRUE" else "FALSE"
              case "inlineStr" =>
                children(c, "is").flatMap(is => descendants(is, "t"))
                  .map(_.getTextContent).mkString
              case _ => v
            }
            cells((row, col)) = tsvSafe(rendered)
          }
        }
      }
      if (cells.isEmpty) ""
      else {
        val rs = cells.keysIterator.map(_._1).toVector
        val cs = cells.keysIterator.map(_._2).toVector
        (rs.min to rs.max).map { r =>
          (cs.min to cs.max).map(c => cells.getOrElse((r, c), ""))
            .mkString("\t")
        }.mkString("\n")
      }
    }

    children(children(wb, "sheets").head, "sheet").flatMap { s =>
      val name = s.getAttribute("name")
      val rid = s.getAttributeNS("http://r", "id") match {
        case "" => s.getAttribute("r:id")
        case x  => x
      }
      if (name.isEmpty || rid.isEmpty) None
      else rels.get(rid).flatMap { target =>
        val path = if (target.startsWith("/")) target.substring(1)
                   else "xl/" + target
        unzip(path).map(part => name -> sheetTsv(part))
      }
    }
  }

  // ---------- pinned behaviors ----------

  test("value rendering: shared, rich-run, inline, numeric, bool, str") {
    val sst = "<sst><si><t>plain</t></si>" +
      "<si><r><t>ri</t></r><r><t>ch</t></r></si></sst>"
    val b = xlsx(Seq("S" -> ws(
      """<row r="1"><c r="A1" t="s"><v>0</v></c>""" +
        """<c r="B1" t="s"><v>1</v></c>""" +
        """<c r="C1" t="inlineStr"><is><t>in</t><t>line</t></is></c></row>""" +
        """<row r="2"><c r="A2"><v>3.250</v></c>""" +
        """<c r="B2" t="b"><v>1</v></c>""" +
        """<c r="C2" t="str"><f>A1&amp;B1</f><v>calc &amp; out</v></c></row>""")),
      sst)
    val got = XlsxExtractor.sheets(b)
    assert(got == Vector("S" ->
      "plain\trich\tinline\n3.250\tTRUE\tcalc & out"))
    assert(got == domSheets(b))
  }

  test("bad shared index, bool 0, empty cell slot, last-wins overwrite") {
    val b = xlsx(Seq("S" -> ws(
      """<row r="1"><c r="A1" t="s"><v>7</v></c>""" +
        """<c r="B1" t="b"><v>0</v></c><c r="C1"/></row>""" +
        """<row r="2"><c r="A2"><v>first</v></c>""" +
        """<c r="A2"><v>second</v></c></row>""")),
      "<sst><si><t>only</t></si></sst>")
    assert(XlsxExtractor.sheets(b) ==
      Vector("S" -> "\tFALSE\t\nsecond\t\t"))
    assert(XlsxExtractor.sheets(b) == domSheets(b))
  }

  test("missing r attrs: rows and cells advance by previous+1") {
    val b = xlsx(Seq("S" -> ws(
      "<row><c><v>a</v></c><c><v>b</v></c></row>" +
        "<row><c><v>c</v></c><c><v>d</v></c></row>")))
    assert(XlsxExtractor.sheets(b) == Vector("S" -> "a\tb\nc\td"))
    assert(XlsxExtractor.sheets(b) == domSheets(b))
  }

  test("used range: B2 start, gap row inside range renders blank line") {
    val b = xlsx(Seq("S" -> ws(
      """<row r="2"><c r="B2"><v>x</v></c></row>""" +
        """<row r="4"><c r="C4"><v>y</v></c></row>""")))
    assert(XlsxExtractor.sheets(b) == Vector("S" -> "x\t\n\t\n\ty"))
    assert(XlsxExtractor.sheets(b) == domSheets(b))
  }

  test("sheet order from workbook; absent part skipped; empty sheet empty") {
    val b = xlsx(Seq(
      "Two" -> ws("""<row r="1"><c r="A1"><v>2</v></c></row>"""),
      "One" -> ws("""<row r="1"><c r="A1"><v>1</v></c></row>"""),
      "Empty" -> ws("")))
    assert(XlsxExtractor.sheets(b) ==
      Vector("Two" -> "2", "One" -> "1", "Empty" -> ""))
    // ghost: workbook lists a sheet whose rels target is not in the zip
    val g = zip(
      "xl/workbook.xml" ->
        ("""<workbook xmlns:r="http://r"><sheets><sheet name="G" r:id="rId1"/>""" +
          """<sheet name="K" r:id="rId2"/></sheets></workbook>""")
          .getBytes("UTF-8"),
      "xl/_rels/workbook.xml.rels" ->
        ("""<Relationships><Relationship Id="rId1" Target="worksheets/none.xml"/>""" +
          """<Relationship Id="rId2" Target="worksheets/k.xml"/></Relationships>""")
          .getBytes("UTF-8"),
      "xl/worksheets/k.xml" ->
        ws("""<row r="1"><c r="A1"><v>k</v></c></row>""").getBytes("UTF-8"))
    assert(XlsxExtractor.sheets(g) == Vector("K" -> "k"))
    assert(XlsxExtractor.sheets(g) == domSheets(g))
  }

  test("tsv safety: tabs/newlines inside cell text collapse to one space") {
    val b = xlsx(Seq("S" -> ws(
      """<row r="1"><c r="A1" t="inlineStr">""" +
        "<is><t>a\tb\nc</t></is></c></row>")))
    assert(XlsxExtractor.sheets(b) == Vector("S" -> "a b c"))
    assert(XlsxExtractor.sheets(b) == domSheets(b))
  }

  test("classification: isXlsx vs isDocx vs isEpub are mutually exclusive") {
    val x = graft.gen.XlsxGen.fileBytes(3)
    assert(XlsxExtractor.isXlsx(x))
    assert(!graft.extract.DocxExtractor.isDocx(x))
    assert(!graft.extract.EpubExtractor.isEpub(x))
    assert(!XlsxExtractor.isXlsx("plain text".getBytes("UTF-8")))
    assert(!XlsxExtractor.isXlsx(zip("other.xml" -> Array[Byte](1))))
  }

  test("XlsxGen ground truth == extractor == DOM twin on every fixture") {
    (0 until 48).foreach { i =>
      val b = graft.gen.XlsxGen.fileBytes(i)
      val got = XlsxExtractor.sheets(b)
      assert(got == graft.gen.XlsxGen.expectedSheets(i), s"doc $i")
      assert(got == domSheets(b), s"doc $i twin")
    }
  }

  test("mutation storm: corrupted workbooks degrade, never throw") {
    var seed = 0x9E3779B97F4A7C15L
    def next(n: Int): Int = {
      seed ^= seed << 13; seed ^= seed >>> 7; seed ^= seed << 17
      (((seed % n) + n) % n).toInt
    }
    (0 until 150).foreach { i =>
      val b = graft.gen.XlsxGen.fileBytes(i % 24)
      (0 until 1 + next(30)).foreach { _ =>
        b(next(b.length)) = next(256).toByte
      }
      if (XlsxExtractor.isXlsx(b)) XlsxExtractor.sheets(b): Unit
    }
  }

  test("ingest e2e: .xlsx files and a lying-extension .txt route to TSVs") {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").appName("xlsx-e2e")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", false).getOrCreate()
    try {
      val tmp = tempDir("xlsx-e2e").toString
      graft.gen.XlsxGen.write(tmp, 6)
      // content magic: a workbook served with a .txt name still decodes
      java.nio.file.Files.write(
        java.nio.file.Paths.get(tmp, "mislabeled.txt"),
        graft.gen.XlsxGen.fileBytes(3))
      val rows = graft.sources.RawFiles.read(spark, tmp)
        .collect().map(d => d.doc_id ->
          d.spans.map(s => (s.kind, s.text, s.offset))).toMap
      (0 until 6).foreach { i =>
        val exp = graft.gen.XlsxGen.expectedSheets(i).zipWithIndex
          .map { case ((_, tsv), k) => ("text", tsv, k) }
        assert(rows(graft.gen.XlsxGen.fileName(i)) == exp, s"doc $i")
      }
      assert(rows("mislabeled.txt") ==
        graft.gen.XlsxGen.expectedSheets(3).zipWithIndex
          .map { case ((_, tsv), k) => ("text", tsv, k) })
    } finally spark.stop()
  }
}
