package graft.gen

/** Deterministic PDF embedded-file fixtures + generator ground truth —
  * the fixture behind `ex_pdf_attach`. PDFs are assembled as raw text
  * (the LinkGen/FormGen style; streams embedded latin-1) and the
  * `expected*` rows are written from the contents this generator
  * chose, never computed by the parser.
  *
  * Variant mix (`i % 4`):
  *   0 — catalog /EmbeddedFiles name tree with two files: a plain
  *       `.txt` stream and a FLATE-COMPRESSED `.md` stream (the /EF
  *       stream runs the full filter chain) — the md attachment fans
  *       out through the markdown front end;
  *   1 — a /FileAttachment annotation whose filespec is ALSO in the
  *       name tree (must fan out ONCE), plus an annotation-only
  *       second file, a NAME-LESS filespec (drops) and an
  *       unsupported-suffix `.xyz` file (drops); the name tree goes
  *       through an interior /Kids node;
  *   2 — /UF beats /F: the filespec carries both, /UF as a UTF-16BE
  *       hex string with an accented name;
  *   3 — the attachment is itself a PDF: one fan-out level — the
  *       inner document's page text extracts, its own attachments
  *       would not.
  */
object AttachGen {

  private val Lat1 = java.nio.charset.StandardCharsets.ISO_8859_1

  def fileName(i: Int): String = f"report_$i%04d.pdf"

  private def pageLines(i: Int): Seq[String] = Seq(
    s"Cover page of report $i",
    s"Attachments follow m${(i * 97) % 883}")

  /** The expected "pdf" row text: each line + `\n` (the MixedGen
    * convention for extracted page text).
    */
  private def joined(ls: Seq[String]): String = ls.map(_ + "\n").mkString

  private def noteTxt(i: Int) =
    s"Attached note $i carries m${(i * 101) % 883}."
  private def readmeMd(i: Int) =
    s"# Readme $i\n\nBody para m${(i * 103) % 883} closes."
  private def sharedTxt(i: Int) =
    s"Shared attachment $i must fan out once."
  private def memoTxt(i: Int) =
    s"Annotation-only memo $i."
  private def plainTxt(i: Int) =
    s"UF-named payload $i."
  private def innerLine(i: Int) = s"Inner doc $i line."

  private def deflate(data: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    d.setInput(data); d.finish()
    val buf = new Array[Byte](data.length * 2 + 64)
    val n = d.deflate(buf)
    d.end()
    java.util.Arrays.copyOf(buf, n)
  }

  private def contentObj(num: Int, lines: Seq[String]): String = {
    val c = new StringBuilder("BT /F1 11 Tf 72 760 Td ")
    lines.foreach(l => c.append(s"($l) Tj 0 -14 Td "))
    c.append("ET\n")
    s"$num 0 obj\n<< /Length ${c.length} >>\nstream\n$c\nendstream\nendobj\n"
  }

  private def streamObj(num: Int, data: Array[Byte],
                        filter: String = ""): String =
    s"$num 0 obj\n<< /Length ${data.length}$filter >>\nstream\n" +
      new String(data, Lat1) + "\nendstream\nendobj\n"

  /** A minimal inner PDF used as a variant-3 attachment. */
  private[graft] def innerPdf(i: Int): Array[Byte] = {
    val sb = new StringBuilder("%PDF-1.5\n")
    sb.append(contentObj(4, Seq(innerLine(i))))
    sb.append("1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n")
    sb.append("2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 " +
      "/MediaBox [0 0 612 792] >>\nendobj\n")
    sb.append("3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>" +
      "\nendobj\n")
    sb.append("startxref\n0\n%%EOF\n")
    sb.toString.getBytes(Lat1)
  }

  private def utf16Hex(s: String): String =
    "FEFF" + s.flatMap(c => f"${c.toInt}%04X")

  def fileBytes(i: Int): Array[Byte] = {
    val sb = new StringBuilder("%PDF-1.5\n")
    sb.append(contentObj(4, pageLines(i)))
    sb.append("2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 " +
      "/MediaBox [0 0 612 792] >>\nendobj\n")
    (i % 4) match {
      case 0 =>
        sb.append("1 0 obj\n<< /Type /Catalog /Pages 2 0 R " +
          "/Names << /EmbeddedFiles 10 0 R >> >>\nendobj\n")
        sb.append("3 0 obj\n<< /Type /Page /Parent 2 0 R " +
          "/Contents 4 0 R >>\nendobj\n")
        sb.append("10 0 obj\n<< /Names [(note) 11 0 R (readme) 13 0 R] " +
          ">>\nendobj\n")
        sb.append(s"11 0 obj\n<< /Type /Filespec /F (notes_$i.txt) " +
          "/EF << /F 12 0 R >> >>\nendobj\n")
        sb.append(streamObj(12, noteTxt(i).getBytes(Lat1)))
        sb.append(s"13 0 obj\n<< /Type /Filespec /F (readme_$i.md) " +
          "/EF << /F 14 0 R >> >>\nendobj\n")
        sb.append(streamObj(14,
          deflate(readmeMd(i).getBytes(
            java.nio.charset.StandardCharsets.UTF_8)),
          " /Filter /FlateDecode"))
      case 1 =>
        sb.append("1 0 obj\n<< /Type /Catalog /Pages 2 0 R " +
          "/Names << /EmbeddedFiles 10 0 R >> >>\nendobj\n")
        // the shared filespec rides BOTH the tree and the annotation
        sb.append("3 0 obj\n<< /Type /Page /Parent 2 0 R " +
          "/Contents 4 0 R /Annots [ " +
          "<< /Type /Annot /Subtype /FileAttachment " +
          "/Rect [500 700 520 720] /FS 11 0 R >> " +
          "<< /Type /Annot /Subtype /FileAttachment " +
          "/Rect [500 650 520 670] /FS 15 0 R >> ] >>\nendobj\n")
        // interior /Kids node exercises the two-level tree walk; the
        // name-less filespec (17) and .xyz file (18) must drop
        sb.append("10 0 obj\n<< /Kids [20 0 R] >>\nendobj\n")
        sb.append("20 0 obj\n<< /Names [(shared) 11 0 R (ghost) 17 0 R " +
          "(blob) 18 0 R] >>\nendobj\n")
        sb.append(s"11 0 obj\n<< /Type /Filespec /F (shared_$i.txt) " +
          "/EF << /F 12 0 R >> >>\nendobj\n")
        sb.append(streamObj(12, sharedTxt(i).getBytes(Lat1)))
        sb.append(s"15 0 obj\n<< /Type /Filespec /F (memo_$i.txt) " +
          "/EF << /F 16 0 R >> >>\nendobj\n")
        sb.append(streamObj(16, memoTxt(i).getBytes(Lat1)))
        sb.append("17 0 obj\n<< /Type /Filespec " +
          "/EF << /F 12 0 R >> >>\nendobj\n")
        sb.append(s"18 0 obj\n<< /Type /Filespec /F (data_$i.xyz) " +
          "/EF << /F 12 0 R >> >>\nendobj\n")
      case 2 =>
        sb.append("1 0 obj\n<< /Type /Catalog /Pages 2 0 R " +
          "/Names << /EmbeddedFiles 10 0 R >> >>\nendobj\n")
        sb.append("3 0 obj\n<< /Type /Page /Parent 2 0 R " +
          "/Contents 4 0 R >>\nendobj\n")
        sb.append("10 0 obj\n<< /Names [(uf) 11 0 R] >>\nendobj\n")
        sb.append(s"11 0 obj\n<< /Type /Filespec /F (plain_$i.txt) " +
          s"/UF <${utf16Hex(s"unicodé_$i.txt")}> " +
          "/EF << /F 12 0 R >> >>\nendobj\n")
        sb.append(streamObj(12, plainTxt(i).getBytes(Lat1)))
      case _ =>
        sb.append("1 0 obj\n<< /Type /Catalog /Pages 2 0 R " +
          "/Names << /EmbeddedFiles 10 0 R >> >>\nendobj\n")
        sb.append("3 0 obj\n<< /Type /Page /Parent 2 0 R " +
          "/Contents 4 0 R >>\nendobj\n")
        sb.append("10 0 obj\n<< /Names [(inner) 11 0 R] >>\nendobj\n")
        sb.append(s"11 0 obj\n<< /Type /Filespec /F (inner_$i.pdf) " +
          "/EF << /F 12 0 R >> >>\nendobj\n")
        sb.append(streamObj(12, innerPdf(i)))
    }
    sb.append("startxref\n0\n%%EOF\n")
    sb.toString.getBytes(Lat1)
  }

  def write(dir: String, n: Int): Unit =
    (0 until n).foreach { i =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, fileName(i)), fileBytes(i)): Unit
    }

  /** Hand-written ground truth per variant: the main document's page
    * row plus one doc per fanned-out attachment.
    */
  def expectedDoc(i: Int): Seq[GtRow] = {
    val f = fileName(i)
    val main = Seq(GtRow(f, "pdf", joined(pageLines(i)), null, 0))
    val att: Seq[GtRow] = (i % 4) match {
      case 0 => Seq(
        GtRow(s"$f#a0:notes_$i.txt", "text", noteTxt(i), null, 0),
        GtRow(s"$f#a1:readme_$i.md", "text", s"Readme $i", null, 0),
        GtRow(s"$f#a1:readme_$i.md", "text",
          s"Body para m${(i * 103) % 883} closes.", null, 1))
      case 1 => Seq(
        // idx 1 is the .xyz file: discovered, but dropped at routing
        GtRow(s"$f#a0:shared_$i.txt", "text", sharedTxt(i), null, 0),
        GtRow(s"$f#a2:memo_$i.txt", "text", memoTxt(i), null, 0))
      case 2 => Seq(
        GtRow(s"$f#a0:unicodé_$i.txt", "text", plainTxt(i), null, 0))
      case _ => Seq(
        GtRow(s"$f#a0:inner_$i.pdf", "pdf", innerLine(i) + "\n", null, 0))
    }
    main ++ att
  }

  def expected(n: Int): Seq[GtRow] = (0 until n).flatMap(expectedDoc)
}
