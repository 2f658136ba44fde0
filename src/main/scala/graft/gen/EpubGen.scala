package graft.gen

/** Deterministic EPUB fixtures + generator ground truth — the fixture
  * behind `ex_epub`: genuine OCF zips whose package carries the shapes
  * [[graft.extract.EpubExtractor]] must handle — a spine-first nav
  * document that the HTML link-density gate must drop, two XHTML
  * chapters (entity-bearing heading/paragraphs, an inline image at tag
  * position), subdirectory layout with a `../` image href on every
  * third book (path normalization), a manifest-listed-but-absent
  * chapter entry on every fourth (skipped silently), and a below-gate
  * short paragraph (dropped).
  *
  * The reference ingests PDFs only (/root/reference/setup.sql:44-45);
  * books are a core LLM-training corpus class — a north-rule extension
  * like DOCX/markdown.
  */
object EpubGen {

  def fileName(i: Int): String = f"book_$i%04d.epub"

  /** Every third book nests chapters under `text/` with the image one
    * directory up — pins `../` normalization.
    */
  private def nested(i: Int): Boolean = i % 3 == 0
  /** Every fourth book's first chapter is manifest-listed but ABSENT
    * from the archive — the spine entry must skip silently.
    */
  private def ch1Missing(i: Int): Boolean = i % 4 == 3

  private def h1(i: Int): String =
    s"Book $i title heading rock & roll m${(i * 31) % 883}"
  private def p1(i: Int): String =
    s"First chapter paragraph of book $i long enough to pass the " +
      s"block gate m${(i * 7) % 883}."
  private def p2(i: Int): String =
    s"Second chapter opens with an image inline and keeps going " +
      s"for book $i m${(i * 11) % 883}."
  private def imgName(i: Int): String = s"fig_$i.png"

  private def chDir(i: Int): String = if (nested(i)) "text/" else ""
  private def imgHref(i: Int): String =
    if (nested(i)) s"../images/${imgName(i)}" else s"images/${imgName(i)}"
  /** The resolved in-archive image path the extractor must mint. */
  def imgPath(i: Int): String = s"OEBPS/images/${imgName(i)}"

  def fileBytes(i: Int): Array[Byte] = {
    val container =
      """<?xml version="1.0"?><container version="1.0" """ +
        """xmlns="urn:oasis:names:tc:opendocument:xmlns:container">""" +
        """<rootfiles><rootfile full-path="OEBPS/content.opf" """ +
        """media-type="application/oebps-package+xml"/></rootfiles>""" +
        "</container>"
    val nav =
      "<html><body><nav><ul>" +
        "<li><a href=\"ch1.xhtml\">Chapter one link text goes here</a></li>" +
        "<li><a href=\"ch2.xhtml\">Chapter two link text goes here</a></li>" +
        "</ul></nav></body></html>"
    val ch1 =
      "<html><body>" +
        s"<h1>Book $i title heading rock &amp; roll m${(i * 31) % 883}</h1>" +
        s"<p>${p1(i)}</p><p>short</p></body></html>"
    val ch2 =
      "<html><body>" +
        s"<p>Second chapter opens with an image inline " +
        s"<img src=\"${imgHref(i)}\"/>and keeps going for book $i " +
        s"m${(i * 11) % 883}.</p></body></html>"
    val opf =
      """<?xml version="1.0"?><package version="3.0" """ +
        """xmlns="http://www.idpf.org/2007/opf" unique-identifier="u">""" +
        "<manifest>" +
        """<item id="nav" href="nav.xhtml" properties="nav" """ +
        """media-type="application/xhtml+xml"/>""" +
        s"""<item id="c1" href="${chDir(i)}ch1.xhtml" """ +
        """media-type="application/xhtml+xml"/>""" +
        s"""<item id="c2" href="${chDir(i)}ch2.xhtml" """ +
        """media-type="application/xhtml+xml"/>""" +
        s"""<item id="im" href="images/${imgName(i)}" """ +
        """media-type="image/png"/>""" +
        "</manifest><spine>" +
        """<itemref idref="nav"/><itemref idref="c1"/>""" +
        """<itemref idref="c2"/><itemref idref="ghost"/>""" +
        "</spine></package>"
    val base = Seq(
      "mimetype" -> "application/epub+zip".getBytes("UTF-8"),
      "META-INF/container.xml" -> container.getBytes("UTF-8"),
      "OEBPS/content.opf" -> opf.getBytes("UTF-8"),
      "OEBPS/nav.xhtml" -> nav.getBytes("UTF-8")) ++
      (if (ch1Missing(i)) Seq.empty
       else Seq(s"OEBPS/${chDir(i)}ch1.xhtml" -> ch1.getBytes("UTF-8"))) ++
      Seq(
        s"OEBPS/${chDir(i)}ch2.xhtml" -> ch2.getBytes("UTF-8"),
        imgPath(i) -> Array[Byte](0x89.toByte, 'P'.toByte, 'N'.toByte,
          'G'.toByte, i.toByte))
    MixedGen.zipStored(base: _*)
  }

  def write(dir: String, n: Int): Unit =
    (0 until n).foreach { i =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, fileName(i)), fileBytes(i)): Unit
    }

  /** Ground truth, media_ref as its in-archive path (the ingest layer
    * prefixes the file path; the driver query reduces to the last `/`
    * segment, so rows here carry the bare image name for `ex_epub`).
    */
  def expected(n: Int): Seq[GtRow] = (0 until n).flatMap(expectedDoc)

  /** Ground truth for ONE book index (also feeds the MixedGen
    * 11th-variant rows).
    */
  def expectedDoc(i: Int): Seq[GtRow] = {
    val f = fileName(i)
    val ch1Rows =
      if (ch1Missing(i)) Seq.empty
      else Seq(GtRow(f, "text", h1(i), null, 0),
               GtRow(f, "text", p1(i), null, 1))
    val k = ch1Rows.length
    ch1Rows ++ Seq(
      GtRow(f, "image", null, imgName(i), k),
      GtRow(f, "text", p2(i), null, k + 1))
  }
}
