package graft.gen

/** Deterministic PPTX fixtures + generator ground truth — the fixture
  * behind `ex_pptx`: genuine PresentationML zips exercising the shapes
  * [[graft.extract.PptxExtractor]] must handle — multi-run title
  * paragraphs (runs concatenate), `<a:br/>` line breaks, empty
  * paragraphs (dropped), a picture slide on every second deck whose
  * `../media/` Target pins the OPC path normalization (with the blip
  * INSIDE the caption's open paragraph on every fourth deck — media
  * must still precede the caption text), a presentation-listed
  * slide whose part is absent from the archive on every fifth (skipped
  * silently), and a DrawingML table slide on every third deck (one
  * TSV text block: multi-run cells, entity `&`, a two-paragraph cell,
  * `<a:br/>`-in-cell, an empty cell kept for grid shape, a ragged
  * final row on every sixth — [[tableTsv]] is the ground truth).
  *
  * The reference ingests PDFs only (/root/reference/setup.sql:44-45);
  * slide decks are a major enterprise-corpus class — a north-rule
  * extension like DOCX/EPUB/XLSX.
  */
object PptxGen {

  def fileName(i: Int): String = f"deck_$i%04d.pptx"

  private def hasPic(i: Int): Boolean = i % 2 == 0
  private def blipInPara(i: Int): Boolean = i % 4 == 0
  private def ghost(i: Int): Boolean = i % 5 == 4
  private def hasTbl(i: Int): Boolean = i % 3 == 0
  private def raggedTbl(i: Int): Boolean = i % 6 == 0

  private def title(i: Int): String = s"Deck $i title & m${(i * 17) % 883}"
  private def body(i: Int): String =
    s"Agenda line one for deck $i\nagenda line two m${(i * 5) % 883}"
  private def b1(i: Int): String = s"First bullet point of deck $i."
  private def b2(i: Int): String = s"Second bullet m${(i * 29) % 883} wraps."
  private def caption(i: Int): String = s"Figure caption for deck $i"
  private def picName(i: Int): String = s"pic_$i.png"
  private def tblCaption(i: Int): String = s"Table notes for deck $i"

  /** The table slide's ground-truth TSV: cells tab-joined, rows
    * newline-joined — multi-run header cell, an `&` that travels
    * entity-encoded, an `<a:br/>`-in-cell space, one EMPTY cell kept
    * for grid shape, and (every sixth deck) a short final row.
    */
  def tableTsv(i: Int): String = {
    val r1 = Seq("Metric", s"Q$i 2026", s"Delta & note")
    val r2 = Seq(s"docs ${(i * 7) % 883}", "", s"up m${(i * 11) % 883} pts")
    val r3 = Seq(s"tokens ${(i * 13) % 883}")
    (Seq(r1, r2) ++ (if (raggedTbl(i)) Seq(r3) else Seq.empty))
      .map(_.mkString("\t")).mkString("\n")
  }

  private def run(t: String): String = s"<a:r><a:rPr/><a:t>$t</a:t></a:r>"
  private def sp(paras: String): String =
    s"<p:sp><p:txBody><a:bodyPr/>$paras</p:txBody></p:sp>"
  private def wrapSlide(body: String): String =
    """<?xml version="1.0"?><p:sld """ +
      """xmlns:p="http://schemas.openxmlformats.org/presentationml/2006/main" """ +
      """xmlns:a="http://schemas.openxmlformats.org/drawingml/2006/main" """ +
      """xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">""" +
      s"<p:cSld><p:spTree>$body</p:spTree></p:cSld></p:sld>"

  def fileBytes(i: Int): Array[Byte] = {
    val pres =
      """<?xml version="1.0"?><p:presentation """ +
        """xmlns:p="http://schemas.openxmlformats.org/presentationml/2006/main" """ +
        """xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">""" +
        "<p:sldIdLst>" +
        """<p:sldId id="256" r:id="rId2"/>""" +
        (if (ghost(i)) """<p:sldId id="259" r:id="rId9"/>""" else "") +
        """<p:sldId id="257" r:id="rId3"/>""" +
        (if (hasPic(i)) """<p:sldId id="258" r:id="rId4"/>""" else "") +
        (if (hasTbl(i)) """<p:sldId id="260" r:id="rId5"/>""" else "") +
        "</p:sldIdLst></p:presentation>"
    val presRels =
      """<?xml version="1.0"?><Relationships xmlns="http://p">""" +
        """<Relationship Id="rId2" Type="http://slide" Target="slides/slide1.xml"/>""" +
        """<Relationship Id="rId3" Type="http://slide" Target="slides/slide2.xml"/>""" +
        """<Relationship Id="rId4" Type="http://slide" Target="slides/slide3.xml"/>""" +
        """<Relationship Id="rId5" Type="http://slide" Target="slides/slide4.xml"/>""" +
        """<Relationship Id="rId9" Type="http://slide" Target="slides/ghost.xml"/>""" +
        "</Relationships>"
    // title: two runs concatenate; & arrives entity-encoded
    val titleXml = "<a:p>" +
      run(s"Deck $i ") + run(s"title &amp; m${(i * 17) % 883}") + "</a:p>"
    val bodyXml = "<a:p>" +
      run(s"Agenda line one for deck $i") + "<a:br/>" +
      run(s"agenda line two m${(i * 5) % 883}") + "</a:p>" +
      "<a:p><a:r><a:rPr/><a:t>   </a:t></a:r></a:p>" // ws-only: dropped
    val slide1 = wrapSlide(sp(titleXml + bodyXml))
    val slide2 = wrapSlide(sp(s"<a:p>${run(b1(i))}</a:p>") +
      sp(s"<a:p>${run(b2(i))}</a:p>"))
    val blip = """<p:pic><p:blipFill>""" +
      """<a:blip r:embed="rId2"/></p:blipFill></p:pic>"""
    val slide3 =
      if (blipInPara(i))
        // the blip sits INSIDE the caption's open paragraph — emission
        // at tag position must still put the media before the text
        wrapSlide(sp(s"<a:p>${run(caption(i))}$blip</a:p>"))
      else wrapSlide(blip + sp(s"<a:p>${run(caption(i))}</a:p>"))
    val slide3Rels =
      """<?xml version="1.0"?><Relationships xmlns="http://p">""" +
        s"""<Relationship Id="rId2" Type="http://image" Target="../media/${picName(i)}"/>""" +
        "</Relationships>"
    // table slide: graphicFrame a:tbl — multi-run header cell, entity
    // &, two-paragraph cell, a:br-in-cell, EMPTY cell, ragged last row
    def tc(inner: String): String =
      s"<a:tc><a:txBody><a:bodyPr/>$inner</a:txBody></a:tc>"
    val tblXml = "<a:tbl><a:tblPr/><a:tblGrid/>" +
      "<a:tr>" +
      tc("<a:p>" + run("Met") + run("ric") + "</a:p>") +
      tc(s"<a:p>${run(s"Q$i 2026")}</a:p>") +
      tc(s"<a:p>${run("Delta &amp; note")}</a:p>") + "</a:tr>" +
      "<a:tr>" +
      tc("<a:p>" + run("docs") + "</a:p><a:p>" +
        run(s"${(i * 7) % 883}") + "</a:p>") +
      tc("<a:p/>") +
      tc("<a:p>" + run("up") + "<a:br/>" +
        run(s"m${(i * 11) % 883} pts") + "</a:p>") + "</a:tr>" +
      (if (raggedTbl(i))
        s"<a:tr>${tc(s"<a:p>${run(s"tokens ${(i * 13) % 883}")}</a:p>")}</a:tr>"
       else "") +
      "</a:tbl>"
    val slide4 = wrapSlide(
      "<p:graphicFrame><a:graphic><a:graphicData>" + tblXml +
        "</a:graphicData></a:graphic></p:graphicFrame>" +
        sp(s"<a:p>${run(tblCaption(i))}</a:p>"))
    MixedGen.zipStored(Seq(
      "ppt/presentation.xml" -> pres.getBytes("UTF-8"),
      "ppt/_rels/presentation.xml.rels" -> presRels.getBytes("UTF-8"),
      "ppt/slides/slide1.xml" -> slide1.getBytes("UTF-8"),
      "ppt/slides/slide2.xml" -> slide2.getBytes("UTF-8")) ++
      (if (hasPic(i)) Seq(
        "ppt/slides/slide3.xml" -> slide3.getBytes("UTF-8"),
        "ppt/slides/_rels/slide3.xml.rels" -> slide3Rels.getBytes("UTF-8"),
        s"ppt/media/${picName(i)}" -> Array[Byte](0x89.toByte, 'P'.toByte,
          'N'.toByte, 'G'.toByte, i.toByte))
       else Seq.empty) ++
      (if (hasTbl(i)) Seq(
        "ppt/slides/slide4.xml" -> slide4.getBytes("UTF-8"))
       else Seq.empty): _*)
  }

  def write(dir: String, n: Int): Unit =
    (0 until n).foreach { i =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, fileName(i)), fileBytes(i)): Unit
    }

  /** The resolved in-archive image path the extractor must mint. */
  def picPath(i: Int): String = s"ppt/media/${picName(i)}"

  /** Ground truth (media_ref carries the bare image name — the driver
    * query reduces refs to their path tail, as in ex_epub/ex_mixed).
    */
  def expected(n: Int): Seq[GtRow] = (0 until n).flatMap(expectedDoc)

  def expectedDoc(i: Int): Seq[GtRow] = {
    val f = fileName(i)
    val base = Seq(
      GtRow(f, "text", title(i), null, 0),
      GtRow(f, "text", body(i), null, 1),
      GtRow(f, "text", b1(i), null, 2),
      GtRow(f, "text", b2(i), null, 3)) ++
      (if (hasPic(i)) Seq(
        GtRow(f, "image", null, picName(i), 4),
        GtRow(f, "text", caption(i), null, 5))
       else Seq.empty)
    if (!hasTbl(i)) base
    else base ++ Seq(
      GtRow(f, "text", tableTsv(i), null, base.length),
      GtRow(f, "text", tblCaption(i), null, base.length + 1))
  }
}
