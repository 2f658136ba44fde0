package graft.gen

import java.nio.file.{Files, Paths}

/** Deterministic ODT corpus: the ground-truth side of the
  * [[graft.extract.OdtExtractor]] front end. Every content.xml is
  * assembled HERE by hand (element nesting, entities, repeat
  * attributes written by the generator, never the parser) so
  * `expected` is independent of the code under test. Ten variants
  * cycle (8/9 exercise the ODS/ODP siblings of the ODF family —
  * same content.xml grammar, different mimetype + suffix):
  *
  *   0  heading + two paragraphs
  *   1  text:s space runs, text:tab, text:line-break, entities
  *   2  2×3 table between paragraphs → one TSV block at table position
  *   3  in-archive image (Pictures/…) between paragraphs
  *   4  footnote inside a paragraph — note interior dropped
  *   5  number-columns-repeated empty cells + a ragged row (padded)
  *   6  styled text:span runs flowing into one paragraph + an external
  *      https image (ref verbatim)
  *   7  multi-paragraph cell (space-joined) in a two-column table
  *   8  .ods spreadsheet: two sheets → one TSV span each (XLSX
  *      semantics), empty third sheet vanishes
  *   9  .odp presentation: framed slide paragraphs + an image
  */
object OdtGen {

  def fileName(i: Int): String = {
    val sfx = (i % 10) match {
      case 8 => "ods"
      case 9 => "odp"
      case _ => "odt"
    }
    f"doc$i%05d_v${i % 10}.$sfx"
  }

  private val PngBytes: Array[Byte] =
    Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A,
      7, 7, 7, 7)

  private def wrap(body: String): String =
    """<?xml version="1.0" encoding="UTF-8"?>""" +
      """<office:document-content xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0" """ +
      """xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0" """ +
      """xmlns:table="urn:oasis:names:tc:opendocument:xmlns:table:1.0" """ +
      """xmlns:draw="urn:oasis:names:tc:opendocument:xmlns:drawing:1.0" """ +
      """xmlns:xlink="http://www.w3.org/1999/xlink">""" +
      s"<office:body><office:text>$body</office:text></office:body>" +
      "</office:document-content>"

  private def contentXml(i: Int): String = (i % 10) match {
    case 0 => wrap(
      s"<text:h text:outline-level=\"1\">Report $i overview</text:h>" +
      s"<text:p>First paragraph of document $i with plain prose.</text:p>" +
      s"<text:p>Second paragraph closes the narrative for $i.</text:p>")
    case 1 => wrap(
      s"<text:p>gap<text:s text:c=\"3\"/>wide\tno, a real" +
      "<text:tab/>tab &amp; then<text:line-break/>a break " +
      s"&lt;kept&gt; $i</text:p>")
    case 2 => wrap(
      s"<text:p>Before the measurement table $i.</text:p>" +
      "<table:table table:name=\"T1\">" +
      "<table:table-row>" +
      "<table:table-cell><text:p>name</text:p></table:table-cell>" +
      "<table:table-cell><text:p>qty</text:p></table:table-cell>" +
      "<table:table-cell><text:p>note</text:p></table:table-cell>" +
      "</table:table-row>" +
      "<table:table-row>" +
      s"<table:table-cell><text:p>alpha $i</text:p></table:table-cell>" +
      s"<table:table-cell><text:p>${(i * 7) % 100}</text:p></table:table-cell>" +
      "<table:table-cell><text:p>fine &amp; good</text:p></table:table-cell>" +
      "</table:table-row>" +
      "</table:table>" +
      s"<text:p>After the table, document $i continues.</text:p>")
    case 3 => wrap(
      s"<text:p>Picture follows in document $i.</text:p>" +
      "<text:p><draw:frame><draw:image xlink:href=\"Pictures/img.png\"/>" +
      "</draw:frame>caption-adjacent prose line</text:p>" +
      s"<text:p>Prose after the image for $i.</text:p>")
    case 4 => wrap(
      s"<text:p>Main claim $i stands" +
      "<text:note text:note-class=\"footnote\"><text:note-citation>1" +
      "</text:note-citation><text:note-body><text:p>dropped footnote " +
      "apparatus</text:p></text:note-body></text:note>" +
      " with its evidence inline.</text:p>")
    case 5 => wrap(
      "<table:table>" +
      "<table:table-row>" +
      s"<table:table-cell><text:p>k$i</text:p></table:table-cell>" +
      "<table:table-cell table:number-columns-repeated=\"2\"/>" +
      "<table:table-cell><text:p>end</text:p></table:table-cell>" +
      "</table:table-row>" +
      "<table:table-row>" +
      s"<table:table-cell><text:p>short $i</text:p></table:table-cell>" +
      "</table:table-row>" +
      "</table:table>")
    case 6 => wrap(
      s"<text:p><text:span>Styled </text:span><text:span>runs flow " +
      s"</text:span>into one paragraph $i.</text:p>" +
      "<text:p><draw:image xlink:href=\"https://cdn.example/ext.png\"/>" +
      "external reference stays verbatim</text:p>")
    case 7 => wrap(
      "<table:table>" +
      "<table:table-row>" +
      s"<table:table-cell><text:p>first para</text:p><text:p>second " +
      s"para $i</text:p></table:table-cell>" +
      "<table:table-cell><text:p>single</text:p></table:table-cell>" +
      "</table:table-row>" +
      "</table:table>")
    case 8 => wrapIn("office:spreadsheet",
      "<table:table table:name=\"Data\">" +
      "<table:table-row>" +
      "<table:table-cell><text:p>name</text:p></table:table-cell>" +
      "<table:table-cell><text:p>qty</text:p></table:table-cell>" +
      "</table:table-row>" +
      "<table:table-row>" +
      s"<table:table-cell><text:p>beta $i</text:p></table:table-cell>" +
      s"<table:table-cell><text:p>${(i * 3) % 50}</text:p></table:table-cell>" +
      "</table:table-row>" +
      "</table:table>" +
      "<table:table table:name=\"Extra\">" +
      "<table:table-row>" +
      s"<table:table-cell><text:p>extra $i</text:p></table:table-cell>" +
      "</table:table-row>" +
      "</table:table>" +
      "<table:table table:name=\"Empty\"><table:table-row>" +
      "<table:table-cell/></table:table-row></table:table>")
    case _ => wrapIn("office:presentation",
      "<draw:page draw:name=\"page1\">" +
      s"<draw:frame><draw:text-box><text:p>Slide title $i opens the " +
      "deck.</text:p></draw:text-box></draw:frame>" +
      s"<draw:frame><draw:text-box><text:p>Bullet body line for " +
      s"presentation $i.</text:p></draw:text-box></draw:frame>" +
      "</draw:page>" +
      "<draw:page draw:name=\"page2\">" +
      "<draw:frame><draw:image xlink:href=\"Pictures/slide.png\"/>" +
      "</draw:frame>" +
      s"<draw:frame><draw:text-box><text:p>Closing slide note $i." +
      "</text:p></draw:text-box></draw:frame>" +
      "</draw:page>")
  }

  /** Like [[wrap]] but with the given office body element (the ODS /
    * ODP content roots).
    */
  private def wrapIn(bodyElem: String, body: String): String =
    """<?xml version="1.0" encoding="UTF-8"?>""" +
      """<office:document-content xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0" """ +
      """xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0" """ +
      """xmlns:table="urn:oasis:names:tc:opendocument:xmlns:table:1.0" """ +
      """xmlns:draw="urn:oasis:names:tc:opendocument:xmlns:drawing:1.0" """ +
      """xmlns:xlink="http://www.w3.org/1999/xlink">""" +
      s"<office:body><$bodyElem>$body</$bodyElem></office:body>" +
      "</office:document-content>"

  def fileBytes(i: Int): Array[Byte] = {
    val mime = (i % 10) match {
      case 8 => "application/vnd.oasis.opendocument.spreadsheet"
      case 9 => "application/vnd.oasis.opendocument.presentation"
      case _ => "application/vnd.oasis.opendocument.text"
    }
    val entries = Seq(
      "mimetype" -> mime.getBytes("UTF-8"),
      "content.xml" -> contentXml(i).getBytes("UTF-8")) ++
      (if (i % 10 == 3)
         Seq("Pictures/img.png" -> PngBytes)
       else if (i % 10 == 9)
         Seq("Pictures/slide.png" -> PngBytes)
       else Seq.empty)
    MixedGen.zipStored(entries: _*)
  }

  def write(dir: String, n: Int): Unit = {
    Files.createDirectories(Paths.get(dir))
    (0 until n).foreach { i =>
      Files.write(Paths.get(dir, fileName(i)), fileBytes(i)): Unit
    }
  }

  /** Ground truth rows for ex_odt: (doc_id, kind, text, media_ref
    * TAIL, ord), in span order — what the generator put into each
    * document, independent of the parser.
    */
  def expected(n: Int): Seq[GtRow] = (0 until n).flatMap(expectedDoc)

  /** Ground truth rows for ONE package. */
  def expectedDoc(i: Int): Seq[GtRow] = {
    val f = fileName(i)
    def t(s: String, k: Int) = GtRow(f, "text", s, null, k)
    (i % 10) match {
      case 0 => Seq(
        t(s"Report $i overview", 0),
        t(s"First paragraph of document $i with plain prose.", 1),
        t(s"Second paragraph closes the narrative for $i.", 2))
      case 1 => Seq(
        t(s"gap   wide\tno, a real\ttab & then\na break <kept> $i", 0))
      case 2 => Seq(
        t(s"Before the measurement table $i.", 0),
        t(s"name\tqty\tnote\nalpha $i\t${(i * 7) % 100}\tfine & good", 1),
        t(s"After the table, document $i continues.", 2))
      case 3 => Seq(
        t(s"Picture follows in document $i.", 0),
        // tail reduction: the span ref `<path>#Pictures/img.png` splits
        // on '/' — the DOCX `media/image1.png` convention
        GtRow(f, "image", null, "img.png", 1),
        t("caption-adjacent prose line", 2),
        t(s"Prose after the image for $i.", 3))
      case 4 => Seq(
        t(s"Main claim $i stands with its evidence inline.", 0))
      case 5 => Seq(
        t(s"k$i\t\t\tend\nshort $i\t\t\t", 0))
      case 6 => Seq(
        t(s"Styled runs flow into one paragraph $i.", 0),
        // media_ref already reduced to the path tail, the ex_* query
        // convention (full ref in the engine is the verbatim URL)
        GtRow(f, "image", null, "ext.png", 1),
        t("external reference stays verbatim", 2))
      case 7 => Seq(
        t(s"first para second para $i\tsingle", 0))
      case 8 => Seq(
        t(s"name\tqty\nbeta $i\t${(i * 3) % 50}", 0),
        t(s"extra $i", 1))
      case _ => Seq(
        t(s"Slide title $i opens the deck.", 0),
        t(s"Bullet body line for presentation $i.", 1),
        GtRow(f, "image", null, "slide.png", 2),
        t(s"Closing slide note $i.", 3))
    }
  }
}
