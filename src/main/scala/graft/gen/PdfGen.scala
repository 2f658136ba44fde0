package graft.gen

/** Genuine single-file PDFs in seven variants (`variant = i % 7` in
  * [[write]]): classic uncompressed, Flate content, ObjStm dicts, LZW
  * content, two Flate pages, RC4-encrypted and CJK predefined-CMap.
  * The ground truth is the generator's own text lines ([[pagesOf]]),
  * independent of the parser; other generators embed these PDFs
  * (MixedGen, WarcGen, ArchiveGen).
  */
object PdfGen {

  def fileName(i: Int): String = f"doc_$i%04d.pdf"

  def write(dir: String, n: Int): Unit =
    (0 until n).foreach { i =>
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, fileName(i)),
        makePdf(i.toLong, i % 7)): Unit
    }

  /** One row per page: ExtractionSpec emits one span per page, every
    * reading-order line newline-terminated (pdfminer get_text()).
    */
  def expected(n: Int): Seq[GtRow] = (0 until n).flatMap { i =>
    pagesOf(i.toLong, i % 7).zipWithIndex.map { case (lines, k) =>
      GtRow(fileName(i), "pdf", lines.map(_ + "\n").mkString, null, k)
    }
  }

  /** PDF LZW encoder (ISO 32000 §7.4.4 semantics: 9-12 bit MSB-first
    * codes, Clear=256, EOD=257, EarlyChange via `early`) — test/bench
    * fixture generation only; the decoder under test is RealPdf's.
    */
  def lzwEncode(data: Array[Byte], early: Int = 1): Array[Byte] = {
    val dict = scala.collection.mutable.HashMap.empty[List[Byte], Int]
    (0 until 256).foreach(i => dict(List(i.toByte)) = i)
    var nextIdx = 258
    var width = 9
    val out = new java.io.ByteArrayOutputStream
    var bitBuf = 0L; var bitCnt = 0
    def put(code: Int): Unit = {
      bitBuf = (bitBuf << width) | code; bitCnt += width
      while (bitCnt >= 8) {
        out.write(((bitBuf >> (bitCnt - 8)) & 0xff).toInt); bitCnt -= 8
      }
    }
    put(256) // clear
    var w = List.empty[Byte]
    data.foreach { b =>
      val wb = w :+ b
      if (dict.contains(wb)) w = wb
      else {
        put(dict(w))
        if (nextIdx < 4096) {
          dict(wb) = nextIdx; nextIdx += 1
          if (nextIdx + early - 1 >= (1 << width) && width < 12) width += 1
        }
        w = List(b)
      }
    }
    if (w.nonEmpty) put(dict(w))
    put(257) // EOD
    if (bitCnt > 0) out.write(((bitBuf << (8 - bitCnt)) & 0xff).toInt)
    out.toByteArray
  }

  /** Ground-truth text lines of [[makePdf]]'s page, in reading order —
    * the GENERATOR's knowledge of what it wrote, used as the
    * parser-independent oracle for the driver's ex_realpdf query.
    */
  def contentLines(docId: Long, variant: Int): Seq[String] = {
    val rnd = new scala.util.Random(docId * 7919 + variant)
    val nLines = 8 + rnd.nextInt(25)
    // variant 6 (CJK predefined-CMap) carries actual CJK text: the codes
    // in the content stream ARE these chars' UTF-16BE units
    val prefix = if (variant == 6) "文档 " else ""
    (0 until nLines).map { i =>
      val words = (0 until 4 + rnd.nextInt(9))
        .map(j => s"w${(docId + i * 31 + j * 7) % 997}").mkString(" ")
      s"${prefix}Line $i: $words"
    }
  }

  /** The per-page line split: variants 0-3, 5 and 6 put every line on
    * one page; variant 4 splits them across two pages at the midpoint
    * (page sequencing through a real /Kids array).
    */
  def pagesOf(docId: Long, variant: Int): Seq[Seq[String]] = {
    val lines = contentLines(docId, variant)
    if (variant == 4) {
      val mid = lines.length / 2
      Seq(lines.take(mid), lines.drop(mid))
    } else Seq(lines)
  }

  // ---- ENCRYPTION side of the ISO 32000 §7.6 standard handler (the
  // ---- generator's half; RealPdf implements the decrypt half
  // ---- independently): V2/R3 128-bit RC4, empty user password.

  private val EncPad: Array[Byte] = Array(
    0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41, 0x64, 0x00, 0x4E,
    0x56, 0xFF, 0xFA, 0x01, 0x08, 0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68,
    0x3E, 0x80, 0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A)
    .map(_.toByte)

  private[graft] def rc4(key: Array[Byte], data: Array[Byte])
      : Array[Byte] = {
    val st = Array.tabulate(256)(_.toByte)
    var j = 0
    var i = 0
    while (i < 256) {
      j = (j + st(i) + key(i % key.length)) & 0xff
      val t = st(i); st(i) = st(j); st(j) = t
      i += 1
    }
    val out = new Array[Byte](data.length)
    var x = 0; var y = 0; var k = 0
    while (k < data.length) {
      x = (x + 1) & 0xff
      y = (y + st(x)) & 0xff
      val t = st(x); st(x) = st(y); st(y) = t
      out(k) = (data(k) ^ st((st(x) + st(y)) & 0xff)).toByte
      k += 1
    }
    out
  }

  private[graft] def md5(parts: Array[Byte]*): Array[Byte] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    parts.foreach(md.update)
    md.digest()
  }

  /** Encrypted-variant internals for one doc: (id0, O, U, fileKey). */
  private[graft] def encMaterial(docId: Long)
      : (Array[Byte], Array[Byte], Array[Byte], Array[Byte]) = {
    val perm = -3904
    val pLe = Array[Byte](
      (perm & 0xff).toByte, ((perm >> 8) & 0xff).toByte,
      ((perm >> 16) & 0xff).toByte, ((perm >> 24) & 0xff).toByte)
    val id0 = Array.tabulate(16)(i => ((docId * 37 + i * 11) & 0xff)
      .toByte)
    var h = md5(EncPad)
    (0 until 50).foreach(_ => h = md5(h))
    val keyO = java.util.Arrays.copyOf(h, 16)
    var o = rc4(keyO, EncPad)
    (1 to 19).foreach { i =>
      o = rc4(keyO.map(b => (b ^ i).toByte), o)
    }
    var fk = md5(EncPad, o, pLe, id0)
    (0 until 50).foreach(_ =>
      fk = md5(java.util.Arrays.copyOf(fk, 16)))
    val fileKey = java.util.Arrays.copyOf(fk, 16)
    var u16 = rc4(fileKey, md5(EncPad, id0))
    (1 to 19).foreach { i =>
      u16 = rc4(fileKey.map(b => (b ^ i).toByte), u16)
    }
    (id0, o, u16 ++ new Array[Byte](16), fileKey)
  }

  /** Variant 5: classic single-page layout, content stream RC4-
    * encrypted under the blank user password, real /Encrypt + trailer
    * /ID. The DRIVER-VISIBLE proof that decryption sits on the
    * production ingest path, not just in fixture tests.
    */
  def makeEncryptedPdf(docId: Long): Array[Byte] = {
    val (id0, o, u, fileKey) = encMaterial(docId)
    val content = new StringBuilder("BT /F1 11 Tf 72 760 Td ")
    contentLines(docId, 5).foreach(line =>
      content.append(s"($line) Tj 0 -14 Td "))
    content.append("ET\n")
    val objKey = java.util.Arrays.copyOf(
      md5(fileKey, Array[Byte](4, 0, 0, 0, 0)), 16)
    val enc = rc4(objKey, content.toString.getBytes("ISO-8859-1"))
    def hex(b: Array[Byte]): String =
      "<" + b.map(x => f"${x & 0xff}%02X").mkString + ">"
    val out = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes("ISO-8859-1"))
    w("%PDF-1.4\n")
    w(s"4 0 obj\n<< /Length ${enc.length} >>\nstream\n")
    out.write(enc)
    w("\nendstream\nendobj\n")
    Seq(
      1 -> "<< /Type /Catalog /Pages 2 0 R >>",
      2 -> ("<< /Type /Pages /Kids [3 0 R] /Count 1 " +
        "/MediaBox [0 0 612 792] >>"),
      3 -> "<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>",
      6 -> ("<< /Filter /Standard /V 2 /R 3 /Length 128 /P -3904 /O " +
        hex(o) + " /U " + hex(u) + " >>"))
      .foreach { case (n, b) => w(s"$n 0 obj\n$b\nendobj\n") }
    w("trailer\n<< /Size 7 /Root 1 0 R /Encrypt 6 0 R /ID [" +
      hex(id0) + " " + hex(id0) + "] >>\nstartxref\n0\n%%EOF\n")
    out.toByteArray
  }

  /** Deterministic minimal PDF writer (test/bench-side only): `variant`
    * 0 = classic uncompressed, 1 = Flate content, 2 = ObjStm dicts,
    * 3 = LZWDecode content (the old-toolchain filter added in r04),
    * 4 = TWO Flate pages (multi-kid page tree), 5 = RC4-encrypted
    * (empty user password, [[makeEncryptedPdf]]), 6 = CJK-locale Type0
    * font under the predefined /UniGB-UCS2-H CMap (hex-string content
    * whose 2-byte codes are the text's UTF-16BE units — the shape
    * pdfminer resolves via its cmap resources, reference
    * setup.sql:72-91).
    */
  def makePdf(docId: Long, variant: Int): Array[Byte] = {
    if (variant == 5) return makeEncryptedPdf(docId)
    if (variant == 6) {
      val out = new java.io.ByteArrayOutputStream()
      def w(s: String): Unit = out.write(s.getBytes("ISO-8859-1"))
      val content = new StringBuilder("BT /F1 11 Tf 72 760 Td ")
      contentLines(docId, 6).foreach { line =>
        val hex = line.flatMap(ch => f"${ch.toInt}%04X")
        content.append(s"<$hex> Tj 0 -14 Td ")
      }
      content.append("ET\n")
      val cBytes = content.toString.getBytes("ISO-8859-1")
      w("%PDF-1.5\n")
      w(s"4 0 obj\n<< /Length ${cBytes.length} >>\nstream\n")
      out.write(cBytes)
      w("\nendstream\nendobj\n")
      Seq(
        1 -> "<< /Type /Catalog /Pages 2 0 R >>",
        2 -> ("<< /Type /Pages /Kids [3 0 R] /Count 1 " +
          "/MediaBox [0 0 612 792] >>"),
        3 -> ("<< /Type /Page /Parent 2 0 R /Contents 4 0 R " +
          "/Resources << /Font << /F1 5 0 R >> >> >>"),
        5 -> ("<< /Type /Font /Subtype /Type0 /BaseFont /STSong-Light " +
          "/Encoding /UniGB-UCS2-H /DescendantFonts [6 0 R] >>"),
        6 -> ("<< /Type /Font /Subtype /CIDFontType0 " +
          "/BaseFont /STSong-Light /DW 1000 >>"))
        .foreach { case (n, b) => w(s"$n 0 obj\n$b\nendobj\n") }
      w("startxref\n0\n%%EOF\n")
      return out.toByteArray
    }
    def render(lines: Seq[String]): Array[Byte] = {
      val content = new StringBuilder("BT /F1 11 Tf 72 760 Td ")
      lines.foreach(line => content.append(s"($line) Tj 0 -14 Td "))
      content.append("ET\n")
      content.toString.getBytes("ISO-8859-1")
    }
    def flate(bytes: Array[Byte]): Array[Byte] = {
      val d = new java.util.zip.Deflater()
      d.setInput(bytes); d.finish()
      val buf = new Array[Byte](bytes.length * 2 + 64)
      val n = d.deflate(buf); d.end()
      java.util.Arrays.copyOf(buf, n)
    }
    val out = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes("ISO-8859-1"))

    if (variant == 4) {
      val Seq(p1, p2) = pagesOf(docId, variant)
      w("%PDF-1.5\n")
      Seq(4 -> p1, 7 -> p2).foreach { case (n, lines) =>
        val c = flate(render(lines))
        w(s"$n 0 obj\n<< /Length ${c.length} /Filter /FlateDecode >>" +
          "\nstream\n")
        out.write(c)
        w("\nendstream\nendobj\n")
      }
      Seq(
        1 -> "<< /Type /Catalog /Pages 2 0 R >>",
        2 -> ("<< /Type /Pages /Kids [3 0 R 6 0 R] /Count 2 " +
          "/MediaBox [0 0 612 792] >>"),
        3 -> "<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>",
        6 -> "<< /Type /Page /Parent 2 0 R /Contents 7 0 R >>")
        .foreach { case (n, b) => w(s"$n 0 obj\n$b\nendobj\n") }
      w("startxref\n0\n%%EOF\n")
      return out.toByteArray
    }

    val cBytes = render(contentLines(docId, variant))
    val (cData, cFilter) =
      if (variant == 1) (flate(cBytes), " /Filter /FlateDecode")
      else if (variant == 3) (lzwEncode(cBytes), " /Filter /LZWDecode")
      else (cBytes, "")

    w("%PDF-1.5\n")
    w(s"4 0 obj\n<< /Length ${cData.length}$cFilter >>\nstream\n")
    out.write(cData)
    w("\nendstream\nendobj\n")
    val dicts = Seq(
      1 -> "<< /Type /Catalog /Pages 2 0 R >>",
      2 -> "<< /Type /Pages /Kids [3 0 R] /Count 1 /MediaBox [0 0 612 792] >>",
      3 -> "<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>")
    if (variant == 2) {
      // modern layout: the three dicts live in a Flate object stream
      var data = ""
      val offs = dicts.map { case (n, b) =>
        val o = data.length; data += b + " "; (n, o)
      }
      val header = offs.map { case (n, o) => s"$n $o" }.mkString(" ") + " "
      val plain = (header + data).getBytes("ISO-8859-1")
      val d = new java.util.zip.Deflater()
      d.setInput(plain); d.finish()
      val buf = new Array[Byte](plain.length * 2 + 64)
      val n = d.deflate(buf); d.end()
      w(s"5 0 obj\n<< /Type /ObjStm /N ${dicts.length} /First " +
        s"${header.length} /Length $n /Filter /FlateDecode >>\nstream\n")
      out.write(buf, 0, n)
      w("\nendstream\nendobj\n")
    } else dicts.foreach { case (n, b) => w(s"$n 0 obj\n$b\nendobj\n") }
    w("startxref\n0\n%%EOF\n")
    out.toByteArray
  }
}
