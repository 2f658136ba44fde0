package graft.gen

/** Deterministic mixed-format raw-file corpus + its GENERATOR ground
  * truth — the fixture behind the driver's `ex_mixed` query: one
  * directory holding genuine PDFs (text-only, image-bearing, and
  * form-XObject variants), HTML pages with known boilerplate, plain
  * text notes, and standalone media files, covering every suffix class
  * [[graft.sources.RawFiles]] classifies (the reference's staged-
  * directory entry point, /root/reference/setup.sql:44-45 +
  * streamlit_app.py:655-678, widened to the north rule's interleaved
  * text+media documents).
  *
  * The expected span sequences come from what the generator WROTE —
  * page text lines, kept HTML blocks, embedded-image paint order — not
  * from any parser, so the oracle is fully independent of
  * [[graft.extract.RealPdf]] / [[graft.extract.HtmlExtractor]] /
  * [[graft.extract.Extractor]].
  *
  * File kinds by `i % 22`:
  *   0 → `doc_NNNN.pdf`   Flate text-only (PdfGen variant 1);
  *   1 → `doc_NNNN.pdf`   one page of text + two image XObjects
  *                        (raw /DeviceGray samples) painted after the
  *                        text block, then a BI…EI inline image;
  *   2 → `doc_NNNN.pdf`   page text, then a form XObject holding the
  *                        continuation lines AND an image painted from
  *                        inside the form (recursion ground truth);
  *   3 → `page_NNNN.html` title + content paragraphs (kept) around
  *                        nav/footer/link-farm/short-block boilerplate
  *                        (dropped), a lazy-load `data-src` image
  *                        (kept as media), and a negative-class
  *                        comments thread whose long paragraphs,
  *                        nested reply div, and avatar image must ALL
  *                        drop (the class gate, not the length rule);
  *   4 → `note_NNNN.txt`  plain UTF-8 note (one text span, verbatim);
  *   5 → `img_NNNN.png`   standalone media file (passes by reference —
  *                        the bytes are never read, so a deterministic
  *                        stub payload suffices);
  *   6 → `scan_NNNN.pdf`  scanned-style: one caption text line + a
  *                        full-page CCITT Group-4 1-bit image
  *                        ([[CcittGen.makeScanPdf]] — the reference's
  *                        titular scan/OCR corpus class);
  *   7 → `jbig_NNNN.pdf`  scanned-style with a JBIG2-coded full-page
  *                        image ([[Jbig2Gen.makeScanPdf]] — template/
  *                        TPGDON/MMR mix varies by index);
  *   8 → `memo_NNNN.docx` genuine WordprocessingML zip: known
  *                        paragraphs (one entity- and tab-bearing),
  *                        an embedded image blip inside the second
  *                        paragraph (emits BEFORE that paragraph's
  *                        text, [[graft.extract.DocxExtractor]]
  *                        tag-position rule), a dangling r:embed
  *                        that must stay silent, and a closing
  *                        `w:tbl` metrics grid (ONE TSV span in the
  *                        table vocabulary).
  *   9 → `post_NNNN.md`   markdown post: ATX heading, soft-wrapped
  *                        paragraph with an inline link, a figure image
  *                        (emits at tag position, alt text reads as its
  *                        own block), a two-item list run, a GitHub
  *                        pipe table (reads as ONE TSV block), a fenced
  *                        code block (verbatim), a blockquote
  *                        ([[graft.extract.MdExtractor]]);
  *   10 → `book_NNNN.epub` genuine OCF book ([[EpubGen.fileBytes]]):
  *                        nav + two XHTML chapters + image, nested
  *                        `../` hrefs and absent-chapter skips by
  *                        index ([[graft.extract.EpubExtractor]]);
  *   11 → `grid_NNNN.xlsx` genuine SpreadsheetML workbook
  *                        ([[XlsxGen.fileBytes]]): shared/rich/inline
  *                        strings, holes, gap rows, ghost sheets —
  *                        each sheet one used-range TSV text span
  *                        ([[graft.extract.XlsxExtractor]]);
  *   12 → `deck_NNNN.pptx` genuine PresentationML deck
  *                        ([[PptxGen.fileBytes]]): multi-run titles,
  *                        a:br breaks, tag-position pictures with
  *                        `../media/` Targets, ghost slides
  *                        ([[graft.extract.PptxExtractor]]);
  *   13 → `memo_NNNN.rtf` genuine RTF memo ([[RtfGen.fileBytes]]):
  *                        skipped header destinations, codepage
  *                        escapes, \u fallbacks, shppict/nonshppict
  *                        picture pairs, \cell/\row tables
  *                        ([[graft.extract.RtfExtractor]]);
  *   14 → `docNNNNN_vM.odt` genuine OpenDocument Text package
  *                        ([[OdtGen.fileBytes]]): paragraph/heading
  *                        spans, TSV tables, footnote drops,
  *                        in-archive images
  *                        ([[graft.extract.OdtExtractor]]);
  *   15 → `msgNNNNN_vM.eml` genuine RFC 5322/MIME message
  *                        ([[EmlGen.fileBytes]]): encoded-word
  *                        subjects, qp/base64 bodies, multipart
  *                        machine, cid images, document attachments
  *                        fanning out as their own InputDocs
  *                        ([[graft.extract.EmlExtractor]]);
  *   16 → `memo_NNNN.doc` genuine Word 97–2003 CFB binary
  *                        ([[DocGen.fileBytes]]): piece-table text,
  *                        field/cell/break control machine, encrypted
  *                        drops ([[graft.extract.DocExtractor]]);
  *   17 → `sheet_NNNN.xls` genuine BIFF8 workbook
  *                        ([[XlsGen.fileBytes]]): SST/CONTINUE, RK/
  *                        MULRK/FORMULA cells — per-sheet TSV spans
  *                        ([[graft.extract.XlsExtractor]]);
  *   18 → `deck_NNNN.ppt` genuine PowerPoint 97–2003 CFB binary
  *                        ([[PptGen.fileBytes]]): text atoms + BLIP-
  *                        store pictures at shape position
  *                        ([[graft.extract.PptExtractor]]);
  *   19 → `nb_NNNN.ipynb` genuine Jupyter notebook ([[NbGen]]):
  *                        markdown/code cells, attachment + output
  *                        images ([[graft.extract.IpynbExtractor]]);
  *   20 → `*_NNNN.xml`    generic schema-less XML ([[XmlGen]]): block
  *                        rule over mixed content, CDATA/entities,
  *                        decl-encoding + BOM, apparatus-only husks
  *                        vanish ([[graft.extract.XmlExtractor]]);
  *   21 → `export_NNNN.json` HF-style whole-file JSON array export:
  *                        retained elements fan out positionally
  *                        (`<file>#r<idx>:<id>`), junk elements
  *                        (scalar, text-less object) at pinned
  *                        indexes drop ([[graft.extract.JsonlExtractor]]
  *                        `valueRecords`).
  *
  * Text geometry matches [[PdfGen.makePdf]] (11 pt
  * font, x=72, leading 14 from y=760): every page's lines cluster into
  * ONE text box whose text is the newline-terminated line join —
  * pdfminer `get_text()` semantics, the same ground-truth shape
  * `ex_realpdf` pins.
  */
object MixedGen {

  def fileName(i: Int): String = (i % 22: @unchecked) match {
    case 0 | 1 | 2 => f"doc_$i%04d.pdf"
    case 3         => f"page_$i%04d.html"
    case 4         => f"note_$i%04d.txt"
    case 5         => f"img_$i%04d.png"
    case 6         => f"scan_$i%04d.pdf"
    case 7         => f"jbig_$i%04d.pdf"
    case 8         => f"memo_$i%04d.docx"
    case 9         => f"post_$i%04d.md"
    case 10        => f"book_$i%04d.epub"
    case 11        => f"grid_$i%04d.xlsx"
    case 12        => f"deck_$i%04d.pptx"
    case 13        => f"memo_$i%04d.rtf"
    case 14        => OdtGen.fileName(i)
    case 15        => EmlGen.fileName(i)
    case 16        => DocGen.fileName(i)
    case 17        => XlsGen.fileName(i)
    case 18        => PptGen.fileName(i)
    case 19        => NbGen.fileName(i)
    case 20        => XmlGen.fileName(i)
    case 21        => f"export_$i%04d.json"
  }

  // ---------- shared text ----------

  /** Deterministic content lines — pure index formula, no RNG state. */
  private def lines(i: Int, tag: String, n: Int): Seq[String] =
    (0 until n).map { j =>
      val words = (0 to 3 + (i + j) % 4)
        .map(k => s"m${(i * 13 + j * 31 + k * 7) % 883}").mkString(" ")
      s"$tag $j: $words"
    }

  private def nPage(i: Int): Int = 6 + i % 5  // page text lines
  private def nForm(i: Int): Int = 3 + i % 3  // form continuation lines

  private[gen] def joined(ls: Seq[String]): String = ls.map(_ + "\n").mkString

  // ---------- PDF writers ----------

  private def render(ls: Seq[String], startY: Int): Array[Byte] = {
    val c = new StringBuilder(s"BT /F1 11 Tf 72 $startY Td ")
    ls.foreach(l => c.append(s"($l) Tj 0 -14 Td "))
    c.append("ET\n")
    c.toString.getBytes("ISO-8859-1")
  }

  private def imgDims(i: Int, which: Int): (Int, Int) =
    (16 + ((i + which) % 5) * 8, 8 + ((i + 2 * which) % 3) * 8)

  /** Raw /DeviceGray 8-bit sample stream — deterministic gradient. */
  private def imgSamples(i: Int, which: Int): Array[Byte] = {
    val (w, h) = imgDims(i, which)
    Array.tabulate(w * h)(k => ((k * 7 + i + which * 31) % 256).toByte)
  }

  private def imageObj(num: Int, i: Int, which: Int): String = {
    val (w, h) = imgDims(i, which)
    val data = imgSamples(i, which)
    s"$num 0 obj\n<< /Type /XObject /Subtype /Image /Width $w " +
      s"/Height $h /ColorSpace /DeviceGray /BitsPerComponent 8 " +
      s"/Length ${data.length} >>\nstream\n" +
      new String(data, "ISO-8859-1") + "\nendstream\nendobj\n"
  }

  /** Inline-image payload: lowercase letters only, so the whitespace-
    * delimited `EI` scan can never misfire inside it.
    */
  private def inlineData(i: Int): String =
    (0 until 12).map(k => ('a' + (k * 5 + i) % 26).toChar).mkString

  /** variant 1: text block, two image-XObject paints (`/Im0 Do /Im1
    * Do`), then a BI…EI inline image (4×3 /DeviceGray).
    */
  private def makeImagePdf(i: Int): Array[Byte] = {
    val content = new String(render(lines(i, "Pic", nPage(i)), 760),
        "ISO-8859-1") +
      "q 200 0 0 100 300 80 cm /Im0 Do Q q 120 0 0 60 64 40 cm /Im1 Do Q\n" +
      s"q 4 0 0 3 500 100 cm BI /W 4 /H 3 /CS /G /BPC 8 ID " +
      s"${inlineData(i)} EI Q\n"
    val sb = new StringBuilder
    sb.append("%PDF-1.5\n")
    sb.append(s"4 0 obj\n<< /Length ${content.length} >>\nstream\n")
      .append(content).append("\nendstream\nendobj\n")
    sb.append("1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n")
    sb.append("2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 " +
      "/MediaBox [0 0 612 792] >>\nendobj\n")
    sb.append("3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R " +
      "/Resources << /XObject << /Im0 5 0 R /Im1 6 0 R >> >> >>\nendobj\n")
    sb.append(imageObj(5, i, 0)).append(imageObj(6, i, 1))
    sb.append("startxref\n0\n%%EOF\n")
    sb.toString.getBytes("ISO-8859-1")
  }

  /** variant 2: page text, then a form XObject that draws the
    * continuation lines on the same -14 grid and paints /Im0 itself.
    */
  private def makeFormPdf(i: Int): Array[Byte] = {
    val np = nPage(i)
    val pageContent = new String(render(lines(i, "Main", np), 760),
      "ISO-8859-1") + "/Fm0 Do\n"
    val formContent = new String(
      render(lines(i, "Form", nForm(i)), 760 - 14 * np), "ISO-8859-1") +
      "q 90 0 0 90 400 600 cm /Im0 Do Q\n"
    val sb = new StringBuilder
    sb.append("%PDF-1.5\n")
    sb.append(s"4 0 obj\n<< /Length ${pageContent.length} >>\nstream\n")
      .append(pageContent).append("\nendstream\nendobj\n")
    sb.append(s"5 0 obj\n<< /Type /XObject /Subtype /Form " +
      s"/BBox [0 0 612 792] /Resources << /XObject << /Im0 6 0 R >> >> " +
      s"/Length ${formContent.length} >>\nstream\n")
      .append(formContent).append("\nendstream\nendobj\n")
    sb.append(imageObj(6, i, 0))
    sb.append("1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n")
    sb.append("2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 " +
      "/MediaBox [0 0 612 792] >>\nendobj\n")
    sb.append("3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R " +
      "/Resources << /XObject << /Fm0 5 0 R >> >> >>\nendobj\n")
    sb.append("startxref\n0\n%%EOF\n")
    sb.toString.getBytes("ISO-8859-1")
  }

  // ---------- HTML ----------

  /** Kept blocks AFTER extraction: title + two content paragraphs
    * (each ≥ 25 chars, pre-normalized — single spaces, no links). The
    * second paragraph is written with a numeric entity (`caf&#233;`)
    * that the extractor must decode — the ground truth here carries
    * the decoded form.
    */
  private[gen] def htmlKept(i: Int): Seq[String] = Seq(
    s"Mixed fixture document $i reference title block",
    s"First content paragraph of document $i: " +
      lines(i, "Body", 1).head,
    s"Second content paragraph of document $i visits the café " +
      s"m${(i * 17) % 883} m${(i * 19) % 883} and closes the article.")

  /** Media the HTML page visibly embeds, in document order — the
    * decoded refs the extractor must interleave between the kept
    * blocks: figure img (entity-bearing src) after the first
    * paragraph, a video `<source>`, then a trailing audio. The nav
    * logo (boilerplate) and the script-interior img never emit.
    */
  private[gen] def htmlFig(i: Int): String = s"fig_$i.png?w=320&h=240"
  private[gen] def htmlClip(i: Int): String = s"clip_$i.mp4"
  private[gen] def htmlPod(i: Int): String = s"pod_$i.mp3"
  private[gen] def htmlLazy(i: Int): String = s"lazy_$i.webp"

  private[gen] def makeHtml(i: Int): String = {
    val k = htmlKept(i)
    val rawSecond = s"Second content paragraph of document $i visits " +
      s"the caf&#233; m${(i * 17) % 883} m${(i * 19) % 883} " +
      s"and closes the article."
    val rawFig = s"fig_$i.png?w=320&amp;h=240" // decodes to htmlFig(i)
    s"""<html><head><title>${k(0)}</title>
       |<style>p { margin: 0; } /* </p> inside style is raw */</style>
       |</head><body>
       |<nav><a href="/">Home</a> <a href="/about">About</a> menu
       |<img src="logo_$i.png" alt="site logo"></nav>
       |<header>site banner $i</header>
       |<article>
       |<p>${k(1)}</p>
       |<img src="$rawFig" alt="figure $i">
       |<script>var tricks = "</p><p>injected paragraph from script";
       |var ghost = "<img src='ghost_$i.png'>";
       |if (tricks<42) { track($i); }</script>
       |<p>short $i</p>
       |<p><a href="/a">one long navigation link farm row</a>
       |<a href="/b">another equally long link here</a></p>
       |<video controls><source src="${htmlClip(i)}" type="video/mp4">
       |</video>
       |<p>$rawSecond</p>
       |<img data-src="${htmlLazy(i)}" class="lazyload">
       |<div class="comments-section" id="comments">
       |<p>User comment $i long enough that only the negative-class
       |gate keeps it out of the corpus, not the length rule.</p>
       |<div><p>A nested reply $i also long enough to pass the length
       |gate; the inner div must not end the comments block.</p>
       |<img src="avatar_$i.png"></div>
       |</div>
       |<audio src="${htmlPod(i)}"></audio>
       |</article>
       |<footer>copyright $i all rights reserved footer</footer>
       |</body></html>
       |""".stripMargin
  }

  // ---------- DOCX ----------

  private def nParas(i: Int): Int = 3 + i % 3

  /** Paragraph texts AS EXTRACTED (entities decoded, tab literal) — the
    * ground truth; [[makeDocx]] writes the XML-escaped forms.
    */
  private def docxParas(i: Int): Seq[String] =
    (s"Docx memo $i overview paragraph for the mixed corpus." +:
      lines(i, "Memo", nParas(i))) :+
      s"Closing café note m${(i * 23) % 883}\twith a literal tab."

  private def docxImage(i: Int): String = "media/image1.png"

  /** The memo's closing metrics grid — expected TSV form (ground
    * truth); [[makeDocx]] renders the `w:tbl` XML from the same cells.
    */
  private def docxGrid(i: Int): Vector[Vector[String]] = Vector(
    Vector("metric", "value"),
    Vector(s"memo $i rows", s"${(i * 13) % 101}"))

  private def docxTsv(i: Int): String =
    docxGrid(i).map(_.mkString("\t")).mkString("\n")

  /** Genuine WordprocessingML zip. Deterministic: fixed entry times,
    * STORED method (no deflate-implementation dependence in the bytes).
    */
  private def makeDocx(i: Int): Array[Byte] = {
    val paras = docxParas(i)
    val bodyParas = paras.zipWithIndex.map { case (t, j) =>
      val runs = new StringBuilder("<w:pPr><w:jc w:val=\"left\"/></w:pPr>")
      if (j == 1) // blip INSIDE the second paragraph → emits before it
        runs.append("<w:r><w:drawing><a:graphic><a:graphicData>" +
          "<a:blip r:embed=\"rId1\"/>" +
          "</a:graphicData></a:graphic></w:drawing></w:r>")
      if (j == paras.length - 1) {
        // written escaped + via w:tab; decodes back to docxParas form
        val Array(pre, post) = t.split('\t')
        runs.append(s"<w:r><w:t>${pre.replace("café", "caf&#233;")}" +
          "</w:t><w:tab/><w:t>" + post + "</w:t></w:r>")
        // a dangling relationship id — must never emit
        runs.append("<w:r><w:drawing><a:blip r:embed=\"rId404\"/>" +
          "</w:drawing></w:r>")
      } else runs.append(s"<w:r><w:t>$t</w:t></w:r>")
      s"<w:p>$runs</w:p>"
    }
    val documentXml =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<w:document xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main"""" +
        """ xmlns:a="http://schemas.openxmlformats.org/drawingml/2006/main"""" +
        """ xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">""" +
        s"<w:body>${bodyParas.mkString}${docxTableXml(i)}<w:p/></w:body></w:document>"
    val relsXml =
      """<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
        s"""<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/image" Target="${docxImage(i)}"/>""" +
        "</Relationships>"
    val contentTypes =
      """<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
        """<Default Extension="xml" ContentType="application/xml"/>""" +
        """<Default Extension="png" ContentType="image/png"/></Types>"""
    zipStored(
      "[Content_Types].xml" -> contentTypes.getBytes("UTF-8"),
      "word/document.xml" -> documentXml.getBytes("UTF-8"),
      "word/_rels/document.xml.rels" -> relsXml.getBytes("UTF-8"),
      s"word/${docxImage(i)}" -> makePng(i))
  }

  private def docxTableXml(i: Int): String =
    "<w:tbl><w:tblPr/><w:tblGrid/>" + docxGrid(i).map(row =>
      "<w:tr>" + row.map(c =>
        s"<w:tc><w:tcPr/><w:p><w:r><w:t>$c</w:t></w:r></w:p></w:tc>")
        .mkString + "</w:tr>").mkString + "</w:tbl>"

  private[graft] def zipStored(entries: (String, Array[Byte])*): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.ZipOutputStream(bos)
    entries.foreach { case (name, bytes) =>
      val e = new java.util.zip.ZipEntry(name)
      e.setTime(0L)
      e.setMethod(java.util.zip.ZipEntry.STORED)
      e.setSize(bytes.length.toLong)
      val crc = new java.util.zip.CRC32(); crc.update(bytes)
      e.setCrc(crc.getValue)
      z.putNextEntry(e); z.write(bytes); z.closeEntry()
    }
    z.close()
    bos.toByteArray
  }

  // ---------- markdown ----------

  private def mdFig(i: Int): String = s"fig_$i.png"

  /** Blocks AS EXTRACTED (markers stripped, soft wraps joined, image
    * read as alt text, code verbatim) — the ground truth; [[makeMd]]
    * writes the marked-up form.
    */
  private def mdBlocks(i: Int): Seq[String] = Seq(
    s"Post $i heading m${(i * 31) % 883}",
    s"Intro paragraph of post $i with a useful link in it " +
      s"soft-wrapped for m${(i * 7) % 883}.",
    s"figure chart $i",
    s"item one m${(i * 11) % 883} item two continues the run",
    s"name\tqty\nalpha $i\t${i % 9}\nbeta row\t${(i * 3) % 7}",
    s"val x$i = ${i * 3} // verbatim code for post $i",
    s"Quoted closing thought m${(i * 13) % 883} for post $i.")

  /** The pipe-table TSV block (index 4 of [[mdBlocks]]) for one md doc
    * — the ground truth behind `q_table_tsv_md`.
    */
  def mdTableTsv(i: Int): String = mdBlocks(i)(4)

  private def makeMd(i: Int): String = {
    val b = mdBlocks(i)
    // Jekyll-style YAML front matter: metadata apparatus, never text
    s"""---
       |title: Post $i front-matter title (apparatus)
       |date: 2026-01-${1 + i % 28}
       |tags: [web, corpus]
       |---
       |# ${b(0)}
       |
       |Intro paragraph of post $i with a [useful link](https://ex${i % 5}.example/p$i) in it
       |soft-wrapped for m${(i * 7) % 883}.
       |
       |![${b(2)}](${mdFig(i)} "Figure")
       |
       |- item one m${(i * 11) % 883}
       |- item two continues the run
       |
       || name | qty |
       || :--- | ---: |
       || alpha $i | ${i % 9} |
       || beta row | ${(i * 3) % 7} |
       |
       |```scala
       |${b(5)}
       |```
       |
       |> ${b(6)}
       |""".stripMargin
  }

  // ---------- txt / media ----------

  private def makeTxt(i: Int): String =
    s"Plain note $i.\n" + lines(i, "Note", 2).mkString("\n") + "\n"

  private def makePng(i: Int): Array[Byte] =
    Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a) ++
      Array.tabulate(64)(k => ((k * 11 + i) % 256).toByte)

  // ---------- public surface ----------

  def fileBytes(i: Int): Array[Byte] = (i % 22: @unchecked) match {
    case 0 => PdfGen.makePdf(i.toLong, 1)
    case 1 => makeImagePdf(i)
    case 2 => makeFormPdf(i)
    case 3 => makeHtml(i).getBytes("UTF-8")
    case 4 => makeTxt(i).getBytes("UTF-8")
    case 5 => makePng(i)
    case 6 => CcittGen.makeScanPdf(i)
    case 7 => Jbig2Gen.makeScanPdf(i, template = (i / 8) % 4,
      tpgdon = i % 2 == 0, mmr = i % 5 == 0)
    case 8 => makeDocx(i)
    case 9 => makeMd(i).getBytes("UTF-8")
    case 10 => EpubGen.fileBytes(i)
    case 11 => XlsxGen.fileBytes(i)
    case 12 => PptxGen.fileBytes(i)
    case 13 => RtfGen.fileBytes(i)
    case 14 => OdtGen.fileBytes(i)
    case 15 => EmlGen.fileBytes(i)
    case 16 => DocGen.fileBytes(i)
    case 17 => XlsGen.fileBytes(i)
    case 18 => PptGen.fileBytes(i)
    case 19 => NbGen.fileBytes(i)
    case 20 => XmlGen.fileBytes(i)
    case 21 => makeJsonExport(i).getBytes("UTF-8")
  }

  // ---------- whole-file JSON export ----------

  private def jsonText(i: Int, k: Int): String =
    s"Json export $i record $k carries m${(i * (67 + 4 * k)) % 883} onward."

  /** Pretty-printed HF-style array: retained objects at indexes 0 and
    * 3, a scalar and a text-less object between them (dropped).
    */
  private def makeJsonExport(i: Int): String =
    s"""[
       |  {"id": "mx-$i-0", "text": "${jsonText(i, 0)}"},
       |  ${i % 97},
       |  {"note": "no text key in export $i"},
       |  {"url": "https://example.org/mx/$i", "content": "${jsonText(i, 1)}"}
       |]""".stripMargin

  def write(dir: String, n: Int): Unit =
    (0 until n).foreach { i =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, fileName(i)), fileBytes(i)): Unit
    }

  /** Ground-truth `ex_mixed` rows for the first `n` files — what the
    * generator wrote, expressed in ExtractionSpec's output terms.
    */
  def expected(n: Int): Seq[GtRow] = (0 until n).flatMap { i =>
    val f = fileName(i)
    (i % 22: @unchecked) match {
      case 0 =>
        PdfGen.pagesOf(i.toLong, 1).zipWithIndex.map {
          case (ls, k) => GtRow(f, "pdf", joined(ls), null, k)
        }
      case 1 => Seq(
        GtRow(f, "pdf", joined(lines(i, "Pic", nPage(i))), null, 0),
        GtRow(f, "image", null, s"$f#img0:obj5", 1),
        GtRow(f, "image", null, s"$f#img1:obj6", 2),
        GtRow(f, "image", null, s"$f#img2:inline", 3))
      case 2 => Seq(
        // form text continues the page's -14 grid → one box, one row
        GtRow(f, "pdf",
          joined(lines(i, "Main", nPage(i)) ++ lines(i, "Form", nForm(i))),
          null, 0),
        GtRow(f, "image", null, s"$f#img0:obj6", 1))
      case 3 =>
        // interleaved text + media, document order: title, first
        // paragraph, figure img, video source, second paragraph,
        // lazy-load image (data-src fallback chain), audio
        val k = htmlKept(i)
        Seq(
          GtRow(f, "html", k(0), null, 0),
          GtRow(f, "html", k(1), null, 1),
          GtRow(f, "image", null, htmlFig(i), 2),
          GtRow(f, "video", null, htmlClip(i), 3),
          GtRow(f, "html", k(2), null, 4),
          GtRow(f, "image", null, htmlLazy(i), 5),
          GtRow(f, "audio", null, htmlPod(i), 6))
      case 4 => Seq(GtRow(f, "text", makeTxt(i), null, 0))
      case 5 => Seq(GtRow(f, "image", null, f, 0))
      case 6 => Seq(
        // one caption run box + the full-page CCITT image occurrence
        GtRow(f, "pdf", s"Scan $i caption\n", null, 0),
        GtRow(f, "image", null, s"$f#img0:obj5", 1))
      case 7 => Seq(
        GtRow(f, "pdf", s"Jbig $i caption\n", null, 0),
        GtRow(f, "image", null, s"$f#img0:obj5", 1))
      case 8 =>
        // paragraphs as verbatim "text" rows; the blip sits inside the
        // SECOND paragraph, so its media row precedes that text row
        // (ex_mixed's media_ref tail reduction turns
        // `memo.docx#media/image1.png` into `image1.png`)
        val ps = docxParas(i)
        (GtRow(f, "text", ps.head, null, 0) +:
          GtRow(f, "image", null, "image1.png", 1) +:
          ps.tail.zipWithIndex.map { case (t, k) =>
            GtRow(f, "text", t, null, k + 2) }) :+
          // the closing w:tbl grid enters as ONE TSV span (table
          // vocabulary) after the last paragraph
          GtRow(f, "text", docxTsv(i), null, ps.length + 1)
      case 9 =>
        // markdown blocks as "text" rows; the figure image emits at tag
        // position — before its own alt-text paragraph block (external
        // URL refs pass through verbatim, like HTML src); the pipe
        // table reads as ONE TSV block
        val b = mdBlocks(i)
        Seq(
          GtRow(f, "text", b(0), null, 0),
          GtRow(f, "text", b(1), null, 1),
          GtRow(f, "image", null, mdFig(i), 2),
          GtRow(f, "text", b(2), null, 3),
          GtRow(f, "text", b(3), null, 4),
          GtRow(f, "text", b(4), null, 5),
          GtRow(f, "text", b(5), null, 6),
          GtRow(f, "text", b(6), null, 7))
      case 10 =>
        // EPUB: spine-ordered chapter blocks + the tag-position image —
        // EpubGen owns the ground truth (media_ref already the bare
        // image name, matching the path-tail reduction ex_mixed applies)
        EpubGen.expectedDoc(i).map(r =>
          GtRow(f, r.kind, r.text, r.media_ref, r.ord))
      case 11 =>
        // XLSX: one used-range TSV text span per sheet, workbook order —
        // XlsxGen owns the ground truth
        XlsxGen.expectedSheets(i).zipWithIndex.map {
          case ((_, tsv), k) => GtRow(f, "text", tsv, null, k)
        }
      case 12 =>
        // PPTX: slide-ordered paragraphs + tag-position pictures —
        // PptxGen owns the ground truth (media_ref already the bare
        // picture name, matching the path-tail reduction)
        PptxGen.expectedDoc(i).map(r =>
          GtRow(f, r.kind, r.text, r.media_ref, r.ord))
      case 13 =>
        // RTF: paragraphs + TSV tables + pictures — RtfGen owns the
        // ground truth (media_ref already `<file>#pict_N.<ext>`, the
        // PDF-convention path-tail reduction)
        RtfGen.expectedDoc(i).map(r =>
          GtRow(f, r.kind, r.text, r.media_ref, r.ord))
      case 14 =>
        // ODT: paragraphs + TSV tables + images — OdtGen owns the
        // ground truth (media_ref already path-tail reduced)
        OdtGen.expectedDoc(i).map(r =>
          GtRow(r.doc_id, r.kind, r.text, r.media_ref, r.ord))
      case 15 =>
        // EML: subject + decoded parts + media + ATTACHMENT DOCS (the
        // fan-out rows carry their own `<file>#a<idx>:<name>` doc_ids)
        // — EmlGen owns the ground truth
        EmlGen.expectedDoc(i).map(r =>
          GtRow(r.doc_id, r.kind, r.text, r.media_ref, r.ord))
      case 16 =>
        // legacy .doc: piece-table paragraphs + anchor-position
        // pictures (encrypted variants drop whole; media_ref already
        // `<file>#pic<n>`) — DocGen owns the ground truth
        DocGen.expectedDoc(i).map(r =>
          GtRow(f, r.kind, r.text, r.media_ref, r.ord))
      case 17 =>
        // legacy .xls: one used-range TSV text span per non-empty
        // sheet, workbook order — XlsGen owns the ground truth
        XlsGen.expectedSheets(i).zipWithIndex.map {
          case ((_, tsv), k) => GtRow(f, "text", tsv, null, k)
        }
      case 18 =>
        // legacy .ppt: text atoms + shape-position pictures (media_ref
        // already `<file>#pic<pib>`, matching the path-tail reduction)
        // — PptGen owns the ground truth
        PptGen.expectedDoc(i).map(r =>
          GtRow(f, r.kind, r.text, r.media_ref, r.ord))
      case 19 =>
        // Jupyter notebook: markdown/code cells + attachment/output
        // images (refs already path-tail-reduced) — NbGen owns the
        // ground truth
        NbGen.expectedDoc(i).map(r =>
          GtRow(f, r.kind, r.text, r.media_ref, r.ord))
      case 20 =>
        // generic XML: one text block per text-bearing element —
        // XmlGen owns the ground truth (apparatus-only husks vanish)
        XmlGen.expectedDoc(i).zipWithIndex.map { case ((_, t), k) =>
          GtRow(f, "text", t, null, k)
        }
      case 21 =>
        // whole-file JSON array export: retained elements fan out as
        // their own documents at their physical array indexes
        Seq(
          GtRow(s"$f#r0:mx-$i-0", "text", jsonText(i, 0), null, 0),
          GtRow(s"$f#r3:https://example.org/mx/$i", "text",
            jsonText(i, 1), null, 0))
    }
  }
}
