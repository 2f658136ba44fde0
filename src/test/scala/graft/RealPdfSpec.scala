package graft

import graft.extract.{PdfTokenizer, RealPdf}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** Byte-level genuine-PDF front end: the committed fixture
  * (src/test/resources/fixture_real.pdf — 2 pages, uncompressed + Flate
  * content; Td, TD, Tm, TL, T-star, Tj, TJ, quote, escapes, hex,
  * UTF-16BE) must extract the expected text at the expected positions,
  * and the PG/TX serialization
  * must round-trip through PdfTokenizer exactly.
  */
class RealPdfSpec extends AnyFunSuite {

  private lazy val fixture: Array[Byte] =
    Files.readAllBytes(Paths.get(
      getClass.getResource("/fixture_real.pdf").toURI))

  test("magic detection") {
    assert(RealPdf.isPdf(fixture))
    assert(!RealPdf.isPdf("PG 612 792\nTX 1 2 3 4 x".getBytes))
    assert(!RealPdf.isPdf(Array.emptyByteArray))
    assert(!RealPdf.isPdf("%PDF".getBytes)) // truncated magic
  }

  test("fixture: pages, dims, text, and positions") {
    val pages = RealPdf.parse(fixture)
    assert(pages.length == 2)

    val p1 = pages(0)
    assert(p1.page == 1)
    assert((p1.width, p1.height) == (612.0, 792.0)) // inherited MediaBox
    assert(p1.runs.map(_.text).toList == List(
      "Hello, world!",
      "Kerned", " pair",
      "Escapes: (paren) \\ octal A", // \( \) \\ and octal \101 = 'A'
      "Hi"))                         // UTF-16BE hex string with BOM
    // run 1: 12pt at (72, 720) — Helvetica built-in AFM widths (the
    // r04 standard-14 tables): Σ(Hello, world!) = 5501/1000 em
    val r1 = p1.runs(0)
    assert(r1.x0 == 72.0 && r1.y0 == 720.0 && r1.y1 == 732.0)
    assert(math.abs(r1.x1 - 138.012) < 1e-9)
    // TJ kerning: -120/1000 * 10pt = +1.2pt gap between the two pieces
    // (Kerned = 3224/1000 em at 10pt = 32.24pt)
    val (k1, k2) = (p1.runs(1), p1.runs(2))
    assert(k1.x0 == 72.0 && math.abs(k1.x1 - 104.24) < 1e-9)
    assert(math.abs(k2.x0 - 105.44) < 1e-9)
    assert(k1.y0 == 700.0 && k2.y0 == 700.0)
    // Tm scale 14: origin exact, height = fontSize * |d-column|
    val tm = p1.runs(3)
    assert(tm.x0 == 72.0 && tm.y0 == 680.0)
    assert(tm.y1 - tm.y0 == 12.0 * 14.0)
    // UTF-16BE advance counts glyphs, not bytes: H 722 + i 222 at 11pt
    val hi = p1.runs(4)
    assert(math.abs((hi.x1 - hi.x0) - 10.384) < 1e-9)

    val p2 = pages(1)
    assert(p2.page == 2) // document-global counter continues
    assert((p2.width, p2.height) == (300.0, 400.0)) // own MediaBox
    assert(p2.runs.map(_.text).toList == List(
      "Second page line one", "line two via quote"))
    val (s1, s2) = (p2.runs(0), p2.runs(1))
    assert(s1.x0 == 20.0 && s1.y0 == 380.0)
    assert(s2.x0 == 20.0 && s2.y0 == 368.0) // ' applied TL 12 leading
  }

  test("PG/TX serialization round-trips through PdfTokenizer exactly") {
    val pages = RealPdf.parse(fixture)
    val payload = RealPdf.toContentStream(pages)
    val back = PdfTokenizer.tokenize(payload, firstPage = 1)
    assert(back.length == pages.length)
    pages.zip(back).foreach { case (a, b) =>
      assert(a.page == b.page)
      assert(a.width == b.width && a.height == b.height)
      assert(a.runs.toList == b.runs.toList)
    }
  }

  test("malformed inputs never throw: garbage, truncation, bad stream") {
    assert(RealPdf.parse(Array.emptyByteArray) == Vector.empty)
    assert(RealPdf.parse("%PDF-1.4\njunk and nothing else".getBytes)
      == Vector.empty)
    // truncated mid-object: parse what scans, never throw
    for (cut <- Seq(20, 100, 300, 700, fixture.length - 30))
      RealPdf.parse(fixture.take(cut)) // must not throw
    // a page whose content stream is corrupt Flate ⇒ page kept, no runs
    val idx = fixture.indexOfSlice("FlateDecode".getBytes)
    val broken = fixture.clone()
    val streamAt = fixture.indexOfSlice("stream".getBytes, idx)
    for (i <- streamAt + 8 until math.min(streamAt + 24, broken.length))
      broken(i) = 0x00
    val pages = RealPdf.parse(broken)
    assert(pages.length == 2)
    assert(pages(1).runs.isEmpty)
    assert(pages(0).runs.nonEmpty) // page 1 unaffected
  }

  test("modern layout: catalog/page dicts inside a Flate /ObjStm") {
    val bytes = Files.readAllBytes(Paths.get(
      getClass.getResource("/fixture_objstm.pdf").toURI))
    val pages = RealPdf.parse(bytes)
    assert(pages.length == 1)
    assert((pages(0).width, pages(0).height) == (500.0, 600.0))
    assert(pages(0).runs.map(_.text).toList ==
      List("Modern layout via ObjStm"))
    assert(pages(0).runs.head.x0 == 40.0 && pages(0).runs.head.y0 == 560.0)
  }

  test("serialization round-trip property: 200 random page sets survive exactly") {
    // deterministic pseudo-random generator (no external RNG): page dims
    // positive, runs ordered bboxes, texts non-empty incl. specials the
    // escape layer must carry (backslash, newline, spaces, unicode)
    var seed = 0x9e3779b97f4a7c15L
    def next(n: Int): Int = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      (((seed >>> 33) % n + n) % n).toInt
    }
    val alphabets = Vector("word", "a b", "x\\y", "line\nbreak", "中文",
      "t  t", "\\n", "(p)", " lead", "trail ")
    (0 until 200).foreach { _ =>
      val pages = (0 until 1 + next(4)).map { pi =>
        val runs = new scala.collection.mutable.ArrayBuffer[graft.core.Run]
        (0 until next(6)).foreach { _ =>
          val x0 = next(600).toDouble / (1 + next(7))
          val y0 = next(700).toDouble / (1 + next(3))
          runs += graft.core.Run(pi + 1, x0, y0,
            x0 + next(300).toDouble / 2, y0 + next(40).toDouble,
            (0 until 1 + next(3)).map(_ => alphabets(next(alphabets.size)))
              .mkString("·"))
        }
        PdfTokenizer.Page(pi + 1, 1 + next(1000).toDouble,
          1 + next(1200).toDouble, runs)
      }.toVector
      val back = PdfTokenizer.tokenize(RealPdf.toContentStream(pages), 1)
      assert(back.length == pages.length)
      pages.zip(back).foreach { case (a, b) =>
        assert(a.page == b.page && a.width == b.width &&
               a.height == b.height)
        assert(a.runs.toList == b.runs.toList,
          s"run mismatch:\n  in : ${a.runs}\n  out: ${b.runs}")
      }
    }
  }

  test("/Contents array: multiple streams concatenate as one content stream") {
    // real writers split page content across streams; ISO 32000 §7.8.2
    // says treat the array as a single stream. A text object can even
    // span the boundary (BT in one stream, ET in the next).
    def obj(n: Int, body: String) = s"$n 0 obj\n$body\nendobj\n"
    def stream(n: Int, data: String) =
      s"$n 0 obj\n<< /Length ${data.length} >>\nstream\n${data}\nendstream\nendobj\n"
    val pdf = ("%PDF-1.4\n" +
      obj(1, "<< /Type /Catalog /Pages 2 0 R >>") +
      obj(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 /MediaBox [0 0 612 792] >>") +
      obj(3, "<< /Type /Page /Parent 2 0 R /Contents [4 0 R 5 0 R] >>") +
      stream(4, "BT /F1 12 Tf 72 700 Td (part one) Tj") +
      stream(5, "0 -20 Td (part two) Tj ET") +
      "%%EOF\n").getBytes("ISO-8859-1")
    val pages = RealPdf.parse(pdf)
    assert(pages.length == 1)
    assert(pages(0).runs.map(_.text).toList == List("part one", "part two"))
    // text state carried across the stream boundary: Td applied
    assert(pages(0).runs(1).y0 == 680.0)
  }

  test("filter chains: ASCIIHexDecode, ASCII85Decode, and Hex-over-Flate") {
    def obj(n: Int, body: String) = s"$n 0 obj\n$body\nendobj\n"
    def mk(filterSpec: String, data: Array[Byte]): Array[Byte] = {
      val head = ("%PDF-1.4\n" +
        obj(1, "<< /Type /Catalog /Pages 2 0 R >>") +
        obj(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 /MediaBox [0 0 612 792] >>") +
        obj(3, "<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>") +
        s"4 0 obj\n<< /Length ${data.length} $filterSpec >>\nstream\n")
        .getBytes("ISO-8859-1")
      head ++ data ++ "\nendstream\nendobj\n%%EOF\n".getBytes("ISO-8859-1")
    }
    val content = "BT /F1 12 Tf 72 700 Td (filtered text) Tj ET"
      .getBytes("ISO-8859-1")
    def texts(pdf: Array[Byte]): List[String] =
      RealPdf.parse(pdf).flatMap(_.runs.map(_.text)).toList

    // ASCIIHexDecode, with whitespace and > terminator
    val hex = content.map(b => f"${b & 0xff}%02x").mkString(" ") + " >"
    assert(texts(mk("/Filter /ASCIIHexDecode",
      hex.getBytes("ISO-8859-1"))) == List("filtered text"))

    // ASCII85Decode (encode here in the test, decode in the parser)
    def a85(bs: Array[Byte]): String = {
      val sb = new StringBuilder
      bs.grouped(4).foreach { g =>
        val padded = g.padTo(4, 0.toByte)
        var t = 0L
        padded.foreach(b => t = (t << 8) | (b & 0xff))
        if (t == 0 && g.length == 4) sb.append('z')
        else {
          val cs = new Array[Char](5)
          var x = t
          (4 to 0 by -1).foreach { i => cs(i) = ('!' + (x % 85)).toChar
            x /= 85 }
          sb.appendAll(cs, 0, g.length + 1)
        }
      }
      sb.append("~>").toString
    }
    assert(texts(mk("/Filter /ASCII85Decode",
      a85(content).getBytes("ISO-8859-1"))) == List("filtered text"))

    // chain: Flate compressed, then hex-armored; decode hex THEN flate
    val d = new java.util.zip.Deflater()
    d.setInput(content); d.finish()
    val buf = new Array[Byte](content.length * 2 + 64)
    val n = d.deflate(buf); d.end()
    val flated = java.util.Arrays.copyOf(buf, n)
    val hexOverFlate = flated.map(b => f"${b & 0xff}%02x").mkString + ">"
    assert(texts(mk("/Filter [/ASCIIHexDecode /FlateDecode]",
      hexOverFlate.getBytes("ISO-8859-1"))) == List("filtered text"))

    // unknown filter in the chain: page survives, no text
    val p = RealPdf.parse(mk("/Filter /DCTDecode", content))
    assert(p.length == 1 && p(0).runs.isEmpty)
  }

  private def onePagePdf(filterSpec: String, data: Array[Byte])
      : Array[Byte] = {
    def obj(n: Int, body: String) = s"$n 0 obj\n$body\nendobj\n"
    val head = ("%PDF-1.4\n" +
      obj(1, "<< /Type /Catalog /Pages 2 0 R >>") +
      obj(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 /MediaBox [0 0 612 792] >>") +
      obj(3, "<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>") +
      s"4 0 obj\n<< /Length ${data.length} $filterSpec >>\nstream\n")
      .getBytes("ISO-8859-1")
    head ++ data ++ "\nendstream\nendobj\n%%EOF\n".getBytes("ISO-8859-1")
  }

  /** Spec-side LZW encoder (9→12-bit variable width, clear + EOD codes,
    * encoder widens at nextIdx+early-1 — one entry before the decoder,
    * matching its one-add lag). Independent of the production decoder.
    */
  // shared with the PDF corpus generator (graft.gen.PdfGen) so the LZW
  // quarter of PdfGen's mix uses the identical encoder
  private def lzwEncode(data: Array[Byte], early: Int = 1): Array[Byte] =
    graft.gen.PdfGen.lzwEncode(data, early)

  test("LZWDecode: old-toolchain streams extract (incl. width growth past 511 entries)") {
    val content = "BT /F1 12 Tf 72 700 Td (lzw encoded text) Tj ET"
      .getBytes("ISO-8859-1")
    def texts(pdf: Array[Byte]): List[String] =
      RealPdf.parse(pdf).flatMap(_.runs.map(_.text)).toList
    assert(texts(onePagePdf("/Filter /LZWDecode", lzwEncode(content)))
      == List("lzw encoded text"))

    // force the 9->10-bit width transition: >253 distinct-pair adds.
    // 600 two-byte pairs over a 25-symbol alphabet learn ~625 entries
    var seed = 12345L
    def next(n: Int): Int = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      (((seed >>> 33) % n + n) % n).toInt
    }
    val big = ("BT /F1 12 Tf 72 700 Td (" +
      (0 until 600).map(_ => ('a' + next(25)).toChar.toString * 2)
        .mkString + ") Tj ET").getBytes("ISO-8859-1")
    val got = texts(onePagePdf("/Filter /LZWDecode", lzwEncode(big)))
    assert(got == List(new String(big, "ISO-8859-1")
      .split("[()]")(1)))

    // EarlyChange 0 via DecodeParms round-trips with an early=0 encoder
    assert(texts(onePagePdf(
      "/Filter /LZWDecode /DecodeParms << /EarlyChange 0 >>",
      lzwEncode(big, early = 0))) == List(new String(big, "ISO-8859-1")
      .split("[()]")(1)))

    // truncated stream: decodes the prefix, never throws
    val enc = lzwEncode(content)
    RealPdf.parse(onePagePdf("/Filter /LZWDecode",
      enc.take(enc.length / 2)))
  }

  test("RunLengthDecode: literal and repeat runs, EOD honored") {
    val content = ("BT /F1 12 Tf 72 700 Td (run" + "n" * 40 +
      " length) Tj ET").getBytes("ISO-8859-1")
    // encode: literal chunks of <=128, long 'n' run as a repeat
    val out = new java.io.ByteArrayOutputStream
    var i = 0
    while (i < content.length) {
      var runLen = 1
      while (i + runLen < content.length && runLen < 128 &&
             content(i + runLen) == content(i)) runLen += 1
      if (runLen >= 3) {
        out.write(257 - runLen); out.write(content(i)); i += runLen
      } else {
        val lit = math.min(128, content.length - i)
        // stop a literal chunk early if a 3-repeat starts inside it
        var take = 0
        var stop = false
        while (take < lit && !stop) {
          if (take + 2 < content.length - i &&
              content(i + take) == content(i + take + 1) &&
              content(i + take) == content(i + take + 2)) stop = true
          else take += 1
        }
        if (take == 0) take = 1
        out.write(take - 1); out.write(content, i, take); i += take
      }
    }
    out.write(128) // EOD
    out.write('X') // trailing garbage after EOD must be ignored
    val got = RealPdf.parse(onePagePdf("/Filter /RunLengthDecode",
      out.toByteArray)).flatMap(_.runs.map(_.text)).toList
    assert(got == List("run" + "n" * 40 + " length"))
  }

  test("RC4 empty-user-password decryption: per-object keys, decrypt before inflate") {
    // fixture_rc4.pdf (tools/make_rc4_fixture.py): V2/R3 128-bit, /O /U
    // from the real algorithms, one plain-RC4 stream + one RC4-over-
    // Flate stream with different object numbers
    val bytes = Files.readAllBytes(Paths.get(
      getClass.getResource("/fixture_rc4.pdf").toURI))
    val pages = RealPdf.parse(bytes)
    assert(pages.length == 1)
    assert(pages(0).runs.map(_.text).toList ==
      List("rc4 plain stream", "rc4 over flate"))
    assert(pages(0).runs(0).y0 == 700.0 && pages(0).runs(1).y0 == 680.0)

    // tampered /U (wrong password check) ⇒ no decryption ⇒ honest
    // empty page, never garbage text
    val s = new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1)
    val uAt = s.indexOf("/U <") + 4
    val broken = bytes.clone()
    broken(uAt) = (if (broken(uAt) == '0') '1' else '0').toByte
    val locked = RealPdf.parse(broken)
    assert(locked.length == 1 && locked(0).runs.isEmpty)
  }

  test("AES-128 (V4/R4 /AESV2) empty-password decryption") {
    // fixture_aes.pdf (tools/make_aes_fixture.py): /CF /StdCF /CFM
    // /AESV2, sAlT-extended per-object keys, IV-prefixed CBC payloads
    // with PKCS#7 padding; one plain-AES stream + one AES-over-Flate
    val bytes = Files.readAllBytes(Paths.get(
      getClass.getResource("/fixture_aes.pdf").toURI))
    val pages = RealPdf.parse(bytes)
    assert(pages.length == 1)
    assert(pages(0).runs.map(_.text).toList ==
      List("aes plain stream", "aes over flate"))
    assert(pages(0).runs(0).y0 == 700.0 && pages(0).runs(1).y0 == 680.0)

    // tampered /U ⇒ key check fails ⇒ honest empty page
    val s = new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1)
    val uAt = s.indexOf("/U <") + 4
    val broken = bytes.clone()
    broken(uAt) = (if (broken(uAt) == '0') '1' else '0').toByte
    val locked = RealPdf.parse(broken)
    assert(locked.length == 1 && locked(0).runs.isEmpty)
    // corrupted ciphertext must not throw (and never yields text runs
    // that the tokenizer would mistake for valid operators crashing)
    val mangled = bytes.clone()
    val streamAt = s.indexOf("stream\n") + 7
    mangled(streamAt + 20) = 0x7f
    RealPdf.parse(mangled)
  }

  test("/DecodeParms /Predictor: PNG row filters and TIFF differencing") {
    val content = ("BT /F1 12 Tf 72 700 Td (predictor protected text " +
      "with enough bytes to span many rows) Tj ET").getBytes("ISO-8859-1")
    def texts(pdf: Array[Byte]): List[String] =
      RealPdf.parse(pdf).flatMap(_.runs.map(_.text)).toList
    val want = List("predictor protected text with enough bytes to " +
      "span many rows")

    // PNG predictors, Columns=16: rows tagged Up(2) except row 0 Sub(1)
    val cols = 16
    val nRows = (content.length + cols - 1) / cols
    val padded = java.util.Arrays.copyOf(content, nRows * cols)
    val png = new java.io.ByteArrayOutputStream()
    for (r <- 0 until nRows) {
      val tag = if (r == 0) 1 else 2
      png.write(tag)
      for (i <- 0 until cols) {
        val cur = padded(r * cols + i) & 0xff
        val ref =
          if (tag == 1) { if (i > 0) padded(r * cols + i - 1) & 0xff else 0 }
          else padded((r - 1) * cols + i) & 0xff
        png.write((cur - ref) & 0xff)
      }
    }
    val deflated = {
      val d = new java.util.zip.Deflater()
      d.setInput(png.toByteArray); d.finish()
      val buf = new Array[Byte](png.size() * 2 + 64)
      val n = d.deflate(buf); d.end()
      java.util.Arrays.copyOf(buf, n)
    }
    // trailing NUL padding decodes to empty-operand noise the
    // interpreter skips; the text run must come through intact
    assert(texts(onePagePdf(
      "/Filter /FlateDecode /DecodeParms << /Predictor 12 " +
        s"/Columns $cols >>", deflated)) == want)

    // TIFF predictor 2: horizontal differencing, one row
    val tiff = content.clone()
    var i = tiff.length - 1
    while (i >= 1) {
      tiff(i) = ((tiff(i) - tiff(i - 1)) & 0xff).toByte
      i -= 1
    }
    val deflated2 = {
      val d = new java.util.zip.Deflater()
      d.setInput(tiff); d.finish()
      val buf = new Array[Byte](tiff.length * 2 + 64)
      val n = d.deflate(buf); d.end()
      java.util.Arrays.copyOf(buf, n)
    }
    assert(texts(onePagePdf(
      "/Filter /FlateDecode /DecodeParms << /Predictor 2 " +
        s"/Columns ${content.length} >>", deflated2)) == want)
  }

  test("named base encodings: WinAnsi smart quotes, MacRoman upper half") {
    def onePageFont(encoding: String, bytes: Array[Byte]): Array[Byte] = {
      def obj(n: Int, body: String) = s"$n 0 obj\n$body\nendobj\n"
      val hexContent = "BT /F1 10 Tf 50 700 Td <" +
        bytes.map(b => f"${b & 0xff}%02X").mkString + "> Tj ET"
      ("%PDF-1.4\n" +
        obj(1, "<< /Type /Catalog /Pages 2 0 R >>") +
        obj(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 " +
          "/MediaBox [0 0 612 792] >>") +
        obj(3, "<< /Type /Page /Parent 2 0 R /Contents 4 0 R " +
          "/Resources << /Font << /F1 5 0 R >> >> >>") +
        obj(4, s"<< /Length ${hexContent.length} >>\nstream\n" +
          hexContent + "\nendstream") +
        obj(5, "<< /Type /Font /Subtype /Type1 /BaseFont /Custom1 " +
          s"/FirstChar 32 /Widths [500] /Encoding $encoding >>") +
        "%%EOF\n").getBytes("ISO-8859-1")
    }
    def text(pdf: Array[Byte]): String =
      RealPdf.parse(pdf).flatMap(_.runs.map(_.text)).mkString
    // WinAnsi: 93 94 = double quotes, 97 = em dash, 80 = euro
    assert(text(onePageFont("/WinAnsiEncoding",
      Array(0x93, 0x48, 0x94, 0x97, 0x80).map(_.toByte))) == "“H”—€")
    // MacRoman: 8E=eacute, A5=bullet, D5=quoteright, F5=dotlessi
    assert(text(onePageFont("/MacRomanEncoding",
      Array(0x8E, 0xA5, 0xD5, 0xF5).map(_.toByte))) == "é•’ı")
    // dict form with /BaseEncoding
    assert(text(onePageFont(
      "<< /Type /Encoding /BaseEncoding /MacRomanEncoding >>",
      Array(0x87).map(_.toByte))) == "á")
    // no named encoding: Latin-1 byte identity as before
    assert(text(onePageFont("/StandardEncoding",
      Array(0xE9).map(_.toByte))) == "é") // Latin-1 fallback path
  }

  test("font-aware: /Encoding /Differences remaps codes via the AGL") {
    // codes 65..68 remapped to eacute, emdash, uni0171, and an unknown
    // glyph name (falls back to the Latin-1 byte 'D'); widths by CODE
    def obj(n: Int, body: String) = s"$n 0 obj\n$body\nendobj\n"
    val content = "BT /F1 10 Tf 50 700 Td (ABCD) Tj ET"
    val pdf = ("%PDF-1.4\n" +
      obj(1, "<< /Type /Catalog /Pages 2 0 R >>") +
      obj(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 " +
        "/MediaBox [0 0 612 792] >>") +
      obj(3, "<< /Type /Page /Parent 2 0 R /Contents 4 0 R " +
        "/Resources << /Font << /F1 5 0 R >> >> >>") +
      obj(4, s"<< /Length ${content.length} >>\nstream\n$content" +
        "\nendstream") +
      obj(5, "<< /Type /Font /Subtype /Type1 /BaseFont /Custom1 " +
        "/FirstChar 65 /Widths [500 600 700 800] /Encoding << " +
        "/Type /Encoding /Differences [65 /eacute /emdash /uni0171 " +
        "/glyph9999] >> >>") +
      "%%EOF\n").getBytes("ISO-8859-1")
    val pages = RealPdf.parse(pdf)
    assert(pages(0).runs.map(_.text).toList == List("é—űD"))
    // widths still index by code: (500+600+700+800)/1000 * 10 = 26
    val r = pages(0).runs(0)
    assert(r.x0 == 50.0 && math.abs(r.x1 - 76.0) < 1e-9)
  }

  test("AES-256 (V5/R6 /AESV3) empty-password decryption") {
    // fixture_aes256.pdf (tools/make_aes256_fixture.py): the modern
    // Acrobat-X+ scheme — R6 Algorithm-2.B password hash validates /U,
    // the file key unwraps from /UE (AES-256-CBC, zero IV), and
    // objects decrypt with the FILE key directly (no per-object mix)
    val bytes = Files.readAllBytes(Paths.get(
      getClass.getResource("/fixture_aes256.pdf").toURI))
    val pages = RealPdf.parse(bytes)
    assert(pages.length == 1)
    assert(pages(0).runs.map(_.text).toList ==
      List("aes256 plain stream", "aes256 over flate"))

    // tampered /U hash ⇒ password check fails ⇒ honest empty page
    val s = new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1)
    val uAt = s.indexOf("/U <") + 4
    val broken = bytes.clone()
    broken(uAt) = (if (broken(uAt) == '0') '1' else '0').toByte
    val locked = RealPdf.parse(broken)
    assert(locked.length == 1 && locked(0).runs.isEmpty)
  }

  test("fuzz: mutated fixture bytes and nesting bombs never throw") {
    var seed = 0x2545f4914f6cdd1dL
    def next(n: Int): Int = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      (((seed >>> 33) % n + n) % n).toInt
    }
    (0 until 300).foreach { _ =>
      val b = fixture.clone()
      (0 until 1 + next(40)).foreach { _ =>
        b(next(b.length)) = next(256).toByte
      }
      RealPdf.parse(b) // must not throw, whatever came out
    }
    // deep-nesting bomb: bounded recursion, not StackOverflowError
    val bomb = ("%PDF-1.4\n1 0 obj " + "[" * 100000 +
      " /Type /Catalog ").getBytes
    assert(RealPdf.parse(bomb) == Vector.empty)
    val dictBomb = ("%PDF-1.4\n1 0 obj " + "<< /A " * 50000).getBytes
    assert(RealPdf.parse(dictBomb) == Vector.empty)
    // the seven ex_realpdf generator variants (classic/Flate/ObjStm/
    // LZW/two-page/RC4/CJK-CMap) under the same mutation storm — these bytes feed a
    // driver query, so crash-robustness is contract, not nicety
    (0 until 180).foreach { i =>
      val b = graft.gen.PdfGen.makePdf(i % 10L, i % 7)
      (0 until 1 + next(30)).foreach { _ =>
        b(next(b.length)) = next(256).toByte
      }
      RealPdf.parse(b)
    }
    // the r04 media/form/rotation paths under the same storm: MixedGen's
    // image-XObject (incl. inline) and form-recursion variants — these
    // also feed a driver query (ex_mixed)
    (0 until 120).foreach { i =>
      val b = graft.gen.MixedGen.fileBytes(22 * (i % 17) + 1 + (i % 2))
      // file kinds 1 (image pdf) and 2 (form pdf) across varying docs
      (0 until 1 + next(30)).foreach { _ =>
        b(next(b.length)) = next(256).toByte
      }
      RealPdf.parseDoc(RealPdf.open(b))
    }
    // the scanned codecs under the storm: CCITT (kind 6) and JBIG2
    // (kind 7, incl. the MQ decoder + segment parser) — corrupt
    // segment headers / coded data must degrade, never throw or hang
    (0 until 80).foreach { i =>
      val b = graft.gen.MixedGen.fileBytes(19 * (i % 13) + 6 + (i % 2))
      (0 until 1 + next(30)).foreach { _ =>
        b(next(b.length)) = next(256).toByte
      }
      RealPdf.parseDoc(RealPdf.open(b))
      RealPdf.imageCodecBytes(RealPdf.open(b), 5)
    }
  }

  test("encrypted ObjStm: streams decrypt BEFORE object-stream expansion") {
    // the §7.5.7 interplay every modern encrypted PDF exercises: the
    // catalog/pages/page dicts live in an ObjStm whose bytes are
    // Flate-compressed THEN RC4-encrypted; the content stream is
    // encrypted independently under its own object key
    import graft.gen.PdfGen.{rc4, encMaterial, md5}
    val (id0, o, u, fileKey) = encMaterial(99L)
    def objKey(num: Int): Array[Byte] = java.util.Arrays.copyOf(
      md5(fileKey, Array[Byte](num.toByte, 0, 0, 0, 0)), 16)
    def hex(b: Array[Byte]): String =
      "<" + b.map(x => f"${x & 0xff}%02X").mkString + ">"
    def flate(b: Array[Byte]): Array[Byte] = {
      val d = new java.util.zip.Deflater()
      d.setInput(b); d.finish()
      val buf = new Array[Byte](b.length * 2 + 64)
      val n = d.deflate(buf); d.end()
      java.util.Arrays.copyOf(buf, n)
    }
    val content = "BT /F1 12 Tf 72 700 Td (inside encrypted objstm) Tj ET"
      .getBytes("ISO-8859-1")
    val encContent = rc4(objKey(4), content)
    val dicts = Seq(
      1 -> "<< /Type /Catalog /Pages 2 0 R >>",
      2 -> "<< /Type /Pages /Kids [3 0 R] /Count 1 /MediaBox [0 0 612 792] >>",
      3 -> "<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>")
    var data = ""
    val offs = dicts.map { case (n, b) =>
      val off = data.length; data += b + " "; (n, off) }
    val header = offs.map { case (n, off) => s"$n $off" }.mkString(" ") + " "
    val objStmPlain = (header + data).getBytes("ISO-8859-1")
    val encObjStm = rc4(objKey(7), flate(objStmPlain))

    val out = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes("ISO-8859-1"))
    w("%PDF-1.5\n")
    w(s"4 0 obj\n<< /Length ${encContent.length} >>\nstream\n")
    out.write(encContent)
    w("\nendstream\nendobj\n")
    w(s"7 0 obj\n<< /Type /ObjStm /N ${dicts.length} /First " +
      s"${header.length} /Length ${encObjStm.length} " +
      "/Filter /FlateDecode >>\nstream\n")
    out.write(encObjStm)
    w("\nendstream\nendobj\n")
    w("6 0 obj\n<< /Filter /Standard /V 2 /R 3 /Length 128 /P -3904 " +
      "/O " + hex(o) + " /U " + hex(u) + " >>\nendobj\n")
    w("trailer\n<< /Size 8 /Root 1 0 R /Encrypt 6 0 R /ID [" +
      hex(id0) + " " + hex(id0) + "] >>\nstartxref\n0\n%%EOF\n")

    val pages = RealPdf.parse(out.toByteArray)
    assert(pages.length == 1)
    assert(pages(0).runs.map(_.text).toList ==
      List("inside encrypted objstm"))
  }

  test("generator RC4 variant decrypts to its ground-truth lines") {
    val pdf = graft.gen.PdfGen.makePdf(7L, 5)
    val pages = RealPdf.parse(pdf)
    assert(pages.length == 1)
    assert(pages(0).runs.map(_.text).toList ==
      graft.gen.PdfGen.contentLines(7L, 5).toList)
  }

  test("generator variant 6: CJK predefined-CMap docs decode to exact ground truth") {
    // the driver-visible seventh of the ex_realpdf mix: UniGB-UCS2-H
    // hex-string content with a real CJK prefix on every line
    (0 until 5).foreach { i =>
      val pdf = graft.gen.PdfGen.makePdf(i.toLong, 6)
      val pages = RealPdf.parse(pdf)
      assert(pages.length == 1)
      val want = graft.gen.PdfGen.contentLines(i.toLong, 6)
      assert(pages(0).runs.map(_.text).toList == want.toList, s"doc $i")
      assert(want.head.startsWith("文档 "))
    }
  }

  test("font-aware: simple font /Widths + /ToUnicode give exact text and widths") {
    // fixture_font.pdf (tools/make_font_fixtures.py): /FirstChar 65,
    // /Widths [600 700 800], /MissingWidth 350, ToUnicode bfrange
    // <41><43>-><0061> + bfchar <44>->U+20AC — the §9.6.2 simple-font
    // shape the reference's pdfminer resolves (setup.sql:72-91)
    val bytes = Files.readAllBytes(Paths.get(
      getClass.getResource("/fixture_font.pdf").toURI))
    val pages = RealPdf.parse(bytes)
    assert(pages.length == 1)
    assert(pages(0).runs.map(_.text).toList == List("abc€", "a b"))
    val r1 = pages(0).runs(0)
    // exact per-glyph advances: (600+700+800+350)/1000 * 10pt = 24.5
    assert(r1.x0 == 50.0 && r1.y0 == 700.0)
    assert(math.abs(r1.x1 - 74.5) < 1e-9)
    assert(r1.y1 - r1.y0 == 10.0)
    // word spacing on code 32 + MissingWidth for the unlisted space:
    // 6.0 + (3.5 + Tw 5) + 7.0 = 21.5
    val r2 = pages(0).runs(1)
    assert(r2.x0 == 50.0 && r2.y0 == 650.0)
    assert(math.abs(r2.x1 - 71.5) < 1e-9)
  }

  test("font-aware: Type0 Identity-H CID font — /W + /DW widths, CMap text, inherited resources") {
    // fixture_cid.pdf: the embedded-subset shape (LaTeX/Chrome/Word),
    // /Resources inherited from the /Pages node, Flate ToUnicode,
    // /W [1 [500 600 700] 5 6 800], /DW 1000, dummy /FontFile2
    val bytes = Files.readAllBytes(Paths.get(
      getClass.getResource("/fixture_cid.pdf").toURI))
    val pages = RealPdf.parse(bytes)
    assert(pages.length == 1)
    assert((pages(0).width, pages(0).height) == (400.0, 600.0))
    // 2-byte CIDs decode through the CMap: bfchar, scalar bfrange,
    // array bfrange, a two-unit "fi" mapping, and U+FFFD for CID 7
    // which the CMap does not cover
    assert(pages(0).runs.map(_.text).toList ==
      List("Hel", "lo", "fi", "�"))
    val Seq(hel, lo, fi, bad) = pages(0).runs.toSeq
    // (500+600+700)/1000 * 12 = 21.6
    assert(hel.x0 == 40.0 && hel.y0 == 560.0)
    assert(math.abs(hel.x1 - 61.6) < 1e-9)
    // CID 4 -> /DW 1000, CID 5 -> range width 800: (1000+800)/1000*12
    assert(lo.x0 == 40.0 && math.abs(lo.x1 - 61.6) < 1e-9)
    // TJ kern -250 => +3pt gap, then CID 6 at range width 800
    assert(math.abs(fi.x0 - 64.6) < 1e-9)
    assert(math.abs(fi.x1 - 74.2) < 1e-9)
    // unmapped CID: default width applies, text is the replacement char
    assert(bad.x0 == 40.0 && math.abs(bad.x1 - 52.0) < 1e-9)
    // and the new characters survive the PG/TX round-trip exactly
    val back = PdfTokenizer.tokenize(RealPdf.toContentStream(pages), 1)
    assert(back.head.runs.toList == pages(0).runs.toList)
  }

  test("font-aware: standard-14 Helvetica uses built-in AFM widths") {
    // fixture_real.pdf's /F1 is Helvetica with no /Widths and no
    // /ToUnicode — r04 resolves it to the built-in Adobe Core AFM
    // table (pdfminer ships the same metrics), so advances are exact:
    // Σwidths("Hello, world!") = 5501/1000 em x 12pt = 66.012
    val pages = RealPdf.parse(fixture)
    val r1 = pages(0).runs(0)
    assert(r1.x0 == 72.0 && math.abs(r1.x1 - 138.012) < 1e-9)
    // a font OUTSIDE the standard 14 still takes the estimate path
    val s = new String(fixture,
      java.nio.charset.StandardCharsets.ISO_8859_1)
    val odd = s.replace("/BaseFont /Helvetica", "/BaseFont /Oddball12")
      .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    val est = RealPdf.parse(odd)(0).runs(0)
    assert((est.x0, est.x1) == (72.0, 150.0)) // 13 glyphs x 6pt
  }

  test("fallback page order without a catalog (document-order /Type/Page)") {
    // strip the catalog object so the tree walk fails
    val s = new String(fixture,
      java.nio.charset.StandardCharsets.ISO_8859_1)
    val noCat = s.replace("/Type /Catalog", "/Type /NotACat")
      .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    val pages = RealPdf.parse(noCat)
    assert(pages.length == 2)
    // inheritance is lost without the tree: page 1 falls to the default
    assert((pages(0).width, pages(0).height) == (612.0, 792.0))
    assert((pages(1).width, pages(1).height) == (300.0, 400.0))
    assert(pages(0).runs.map(_.text).contains("Hello, world!"))
  }

  test("obj-in-stream poison: scan never reads stream interiors") {
    // the content STREAM's bytes contain a fake `3 0 obj` page
    // redefinition and a fake `4 0 obj` — a scanner that matches inside
    // stream bodies fabricates objects that overwrite the real page /
    // content (the classic endobj-in-string misfire); the scan must
    // resume after `endstream` instead and extract the text intact
    val poison = "keep endobj 3 0 obj << /Type /Page >> endobj " +
      "4 0 obj << /Length 1 >> all of it"
    val content =
      s"BT /F1 12 Tf 72 700 Td ($poison) Tj ET".getBytes("ISO-8859-1")
    val texts = RealPdf.parse(onePagePdf("", content))
      .flatMap(_.runs.map(_.text)).toList
    assert(texts == List(poison))
  }

  test("XObjects: image paints record media occurrences in order; text unaffected") {
    // MixedGen variant-1 doc (i=1): text block then /Im0 (obj 5) and
    // /Im1 (obj 6) — dims are the generator's formula values
    val bytes = graft.gen.MixedGen.fileBytes(1)
    val (pages, images) = RealPdf.parseDoc(RealPdf.open(bytes))
    assert(pages.length == 1)
    assert(images == Vector(
      RealPdf.PdfImage(page = 1, seq = 0, objNum = 5, width = 24, height = 16),
      RealPdf.PdfImage(page = 1, seq = 1, objNum = 6, width = 32, height = 8),
      // the BI…EI inline image: objNum 0 (no object identity), /W /H dims
      RealPdf.PdfImage(page = 1, seq = 2, objNum = 0, width = 4, height = 3)))
    assert(pages(0).runs.nonEmpty &&
      pages(0).runs.forall(_.text.startsWith("Pic ")))
    // the raw /DeviceGray payload comes back sample-exact
    val px = RealPdf.imageBytes(RealPdf.open(bytes), 5)
    assert(px.exists(_.length == 24 * 16))
  }

  test("XObjects: form content executes recursively — text AND its image paint") {
    val bytes = graft.gen.MixedGen.fileBytes(2) // variant-2 doc (i=2)
    val (pages, images) = RealPdf.parseDoc(RealPdf.open(bytes))
    assert(pages.length == 1)
    val texts = pages(0).runs.map(_.text)
    assert(texts.count(_.startsWith("Main ")) == 8)  // nPage(2) = 6+2
    assert(texts.count(_.startsWith("Form ")) == 5)  // nForm(2) = 3+2
    // the image painted INSIDE the form is obj 6, first occurrence
    assert(images == Vector(RealPdf.PdfImage(1, 0, 6, 32, 24)))
  }

  test("form recursion bomb: self-referencing form terminates at the depth cap") {
    def obj(n: Int, body: String) = s"$n 0 obj\n$body\nendobj\n"
    val form = "BT /F1 11 Tf 72 700 Td (in form) Tj ET /Fm0 Do"
    val content = "/Fm0 Do".getBytes("ISO-8859-1")
    val pdf = (("%PDF-1.4\n" +
      obj(1, "<< /Type /Catalog /Pages 2 0 R >>") +
      obj(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 /MediaBox [0 0 612 792] >>") +
      obj(3, "<< /Type /Page /Parent 2 0 R /Contents 4 0 R " +
        "/Resources << /XObject << /Fm0 5 0 R >> >> >>") +
      s"4 0 obj\n<< /Length ${content.length} >>\nstream\n")
      .getBytes("ISO-8859-1")) ++ content ++
      "\nendstream\nendobj\n".getBytes("ISO-8859-1") ++
      (s"5 0 obj\n<< /Type /XObject /Subtype /Form /Resources " +
        s"<< /XObject << /Fm0 5 0 R >> >> /Length ${form.length} >>\nstream\n" +
        form + "\nendstream\nendobj\n%%EOF\n").getBytes("ISO-8859-1")
    val (pages, images) = RealPdf.parseDoc(RealPdf.open(pdf))
    assert(pages.length == 1)
    // depth cap 8: page-level Do is depth 0→1, so 8 executions emit text
    assert(pages(0).runs.count(_.text == "in form") == 8)
    assert(images.isEmpty)
  }

  test("/Rotate 90: page dims swap and text maps through the display transform") {
    def obj(n: Int, body: String) = s"$n 0 obj\n$body\nendobj\n"
    val content = "BT /F1 10 Tf 100 200 Td (turned) Tj ET"
      .getBytes("ISO-8859-1")
    def pdfWithRotate(rot: String) = (("%PDF-1.4\n" +
      obj(1, "<< /Type /Catalog /Pages 2 0 R >>") +
      obj(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 " +
        s"/MediaBox [0 0 612 792]$rot >>") +
      obj(3, "<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>") +
      s"4 0 obj\n<< /Length ${content.length} >>\nstream\n")
      .getBytes("ISO-8859-1")) ++ content ++
      "\nendstream\nendobj\n%%EOF\n".getBytes("ISO-8859-1")

    // /Rotate 90 inherited from the Pages node: (x,y) -> (y, w - x),
    // dims (h, w) = (792, 612)
    val p90 = RealPdf.parse(pdfWithRotate(" /Rotate 90")).head
    assert((p90.width, p90.height) == (792.0, 612.0))
    val r = p90.runs.head
    assert(r.text == "turned")
    // origin (100,200) -> (200, 512); advance 6*0.5em*10=30 along +x in
    // text space maps to -y; height 10 maps to +x
    assert(r.x0 == 200.0 && math.abs(r.x1 - 210.0) < 1e-9)
    assert(math.abs(r.y0 - 482.0) < 1e-9 && r.y1 == 512.0)

    // /Rotate 180: (x,y) -> (w-x, h-y), dims unchanged
    val p180 = RealPdf.parse(pdfWithRotate(" /Rotate 180")).head
    assert((p180.width, p180.height) == (612.0, 792.0))
    val r180 = p180.runs.head
    assert(math.abs(r180.x1 - 512.0) < 1e-9 &&
           math.abs(r180.x0 - 482.0) < 1e-9)
    assert(math.abs(r180.y1 - 592.0) < 1e-9)
    // negative / wrapped values normalize: -90 == 270
    val p270 = RealPdf.parse(pdfWithRotate(" /Rotate -90")).head
    assert((p270.width, p270.height) == (792.0, 612.0))
    // unrotated output is bit-identical to the pre-/Rotate rounds
    val p0 = RealPdf.parse(pdfWithRotate("")).head
    val r0 = p0.runs.head
    assert(r0.x0 == 100.0 && r0.y0 == 200.0 && r0.y1 == 210.0)
  }

  test("UTF-16LE BOM'd strings decode like their BE twins") {
    // <FFFE 4800 6900> = "Hi" little-endian; the BE form is already
    // pinned by the committed fixture
    val content = ("BT /F1 11 Tf 72 650 Td <FFFE48006900> Tj ET")
      .getBytes("ISO-8859-1")
    val pages = RealPdf.parse(onePagePdf("", content))
    val r = pages.head.runs.head
    assert(r.text == "Hi")
    // estimate path: 2 decoded glyphs (not 6 bytes) * 0.5em * 11pt
    assert(math.abs((r.x1 - r.x0) - 11.0) < 1e-9)
  }

  test("non-zero MediaBox origin translates to page-local coordinates") {
    def obj(n: Int, body: String) = s"$n 0 obj\n$body\nendobj\n"
    val content = "BT /F1 10 Tf 100 700 Td (offset) Tj ET"
      .getBytes("ISO-8859-1")
    def pdf(box: String, rot: String) = (("%PDF-1.4\n" +
      obj(1, "<< /Type /Catalog /Pages 2 0 R >>") +
      obj(2, s"<< /Type /Pages /Kids [3 0 R] /Count 1 " +
        s"/MediaBox [$box]$rot >>") +
      obj(3, "<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>") +
      s"4 0 obj\n<< /Length ${content.length} >>\nstream\n")
      .getBytes("ISO-8859-1")) ++ content ++
      "\nendstream\nendobj\n%%EOF\n".getBytes("ISO-8859-1")
    // cropped-scan box [30 40 642 832]: dims 612x792, origin subtracted
    val p = RealPdf.parse(pdf("30 40 642 832", "")).head
    assert((p.width, p.height) == (612.0, 792.0))
    val r = p.runs.head
    assert(r.x0 == 70.0 && r.y0 == 660.0 && r.y1 == 670.0)
    // origin composes with /Rotate 90: (x,y) -> (y - lly, w - (x - llx))
    val p90 = RealPdf.parse(pdf("30 40 642 832", " /Rotate 90")).head
    assert((p90.width, p90.height) == (792.0, 612.0))
    val r90 = p90.runs.head
    assert(r90.x0 == 660.0 && r90.y1 == 542.0) // y-oy=660; w-(x-ox)=542
  }

  test("Tz horizontal scaling and Ts rise shape the emitted run box") {
    val content = ("BT /F1 10 Tf 50 700 Td (one) Tj " +
      "200 Tz (two) Tj ET " + // doubled advances from here
      "BT /F1 10 Tf 50 600 Td 5 Ts (up) Tj ET").getBytes("ISO-8859-1")
    val pages = RealPdf.parse(onePagePdf("", content))
    val runs = pages.head.runs
    assert(runs.map(_.text).toList == List("one", "two", "up"))
    val one = runs(0); val two = runs(1); val up = runs(2)
    // "one": 3 glyphs * 0.5em * 10pt = 15pt at default 100 Tz
    assert(math.abs((one.x1 - one.x0) - 15.0) < 1e-9)
    // "two": same glyph count, 200 Tz doubles the displacement, and it
    // starts where "one" ended
    assert(math.abs(two.x0 - 65.0) < 1e-9)
    assert(math.abs((two.x1 - two.x0) - 30.0) < 1e-9)
    // "up": Ts 5 lifts the baseline by 5 in text space
    assert(up.y0 == 605.0 && up.y1 == 615.0)
  }

  test("form /Matrix: placed and scaled form text lands at true page coordinates") {
    def obj(n: Int, body: String) = s"$n 0 obj\n$body\nendobj\n"
    // inner form: 12pt text at (10, 20); outer page places it with
    // /Matrix [2 0 0 2 100 50] — expect origin (120, 90), width and
    // height doubled
    val form = "BT /F1 12 Tf 10 20 Td (scaled) Tj ET"
    val content = "/Fm0 Do".getBytes("ISO-8859-1")
    val pdf = (("%PDF-1.4\n" +
      obj(1, "<< /Type /Catalog /Pages 2 0 R >>") +
      obj(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 /MediaBox [0 0 612 792] >>") +
      obj(3, "<< /Type /Page /Parent 2 0 R /Contents 4 0 R " +
        "/Resources << /XObject << /Fm0 5 0 R >> >> >>") +
      s"4 0 obj\n<< /Length ${content.length} >>\nstream\n")
      .getBytes("ISO-8859-1")) ++ content ++
      "\nendstream\nendobj\n".getBytes("ISO-8859-1") ++
      (s"5 0 obj\n<< /Type /XObject /Subtype /Form " +
        s"/Matrix [2 0 0 2 100 50] /BBox [0 0 612 792] " +
        s"/Length ${form.length} >>\nstream\n" +
        form + "\nendstream\nendobj\n%%EOF\n").getBytes("ISO-8859-1")
    val pages = RealPdf.parse(pdf)
    val r = pages(0).runs.head
    assert(r.text == "scaled")
    assert(r.x0 == 120.0 && r.y0 == 90.0)
    // "scaled" = 6 glyphs × 0.5 em × 12 pt = 36 pt, doubled to 72
    assert(math.abs((r.x1 - r.x0) - 72.0) < 1e-9)
    assert(math.abs((r.y1 - r.y0) - 24.0) < 1e-9) // 12 pt × scale 2
  }

  test("form /Matrix: nested forms compose translations in order") {
    def obj(n: Int, body: String) = s"$n 0 obj\n$body\nendobj\n"
    val inner = "BT /F1 10 Tf 0 0 Td (deep) Tj ET"
    val outer = "/Fi0 Do"
    val content = "/Fm0 Do".getBytes("ISO-8859-1")
    val pdf = (("%PDF-1.4\n" +
      obj(1, "<< /Type /Catalog /Pages 2 0 R >>") +
      obj(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 /MediaBox [0 0 612 792] >>") +
      obj(3, "<< /Type /Page /Parent 2 0 R /Contents 4 0 R " +
        "/Resources << /XObject << /Fm0 5 0 R >> >> >>") +
      s"4 0 obj\n<< /Length ${content.length} >>\nstream\n")
      .getBytes("ISO-8859-1")) ++ content ++
      "\nendstream\nendobj\n".getBytes("ISO-8859-1") ++
      (s"5 0 obj\n<< /Type /XObject /Subtype /Form " +
        s"/Matrix [1 0 0 1 50 60] " +
        s"/Resources << /XObject << /Fi0 6 0 R >> >> " +
        s"/Length ${outer.length} >>\nstream\n" + outer +
        "\nendstream\nendobj\n").getBytes("ISO-8859-1") ++
      (s"6 0 obj\n<< /Type /XObject /Subtype /Form " +
        s"/Matrix [1 0 0 1 7 8] /Length ${inner.length} >>\nstream\n" +
        inner + "\nendstream\nendobj\n%%EOF\n").getBytes("ISO-8859-1")
    val pages = RealPdf.parse(pdf)
    val r = pages(0).runs.head
    assert(r.text == "deep")
    assert(r.x0 == 57.0 && r.y0 == 68.0) // (7+50, 8+60)
  }

  test("inline image: dict dims recorded, EI bytes inside the payload don't derail") {
    // payload contains a bare "EI" NOT delimited by whitespace — the
    // skip must pass it and resume at the real ` EI `, so the trailing
    // text still extracts and exactly one occurrence is recorded
    val content = ("BT /F1 12 Tf 72 700 Td (before) Tj ET " +
      "BI /W 6 /H 2 /CS /G /BPC 8 ID xxEIxxyyzzww EI " +
      "BT /F1 12 Tf 72 680 Td (after) Tj ET").getBytes("ISO-8859-1")
    val (pages, images) = RealPdf.parseDoc(RealPdf.open(onePagePdf("", content)))
    assert(pages(0).runs.map(_.text).toList == List("before", "after"))
    assert(images == Vector(RealPdf.PdfImage(1, 0, 0, 6, 2)))
  }

  test("inline-image nesting bomb between BI and ID degrades to EI skip, page text intact") {
    // 200 nested '[' in the param region would blow the parser's depth
    // guard — the handler must swallow it and resume at EI, keeping the
    // page's other text (review finding r04)
    val content = ("BT /F1 12 Tf 72 700 Td (before bomb) Tj ET " +
      "BI /W " + "[" * 200 + " ID xx EI " +
      "BT /F1 12 Tf 72 680 Td (after bomb) Tj ET").getBytes("ISO-8859-1")
    val (pages, _) = RealPdf.parseDoc(RealPdf.open(onePagePdf("", content)))
    val texts = pages.head.runs.map(_.text).toList
    assert(texts.contains("before bomb") && texts.contains("after bomb"),
      s"got $texts")
  }

  test("imageBytes: DCTDecode passes the embedded JPEG through to a real codec") {
    // a genuine JPEG via javax.imageio, wrapped as a /DCTDecode image
    // XObject — imageBytes must return the JFIF bytes unchanged, and a
    // standard codec must read back the true dimensions
    val img = new java.awt.image.BufferedImage(13, 7,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    (0 until 7).foreach(y => (0 until 13).foreach(x =>
      img.setRGB(x, y, (x * 19 + y * 41) << 8)))
    val jout = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", jout)
    val jpeg = jout.toByteArray
    def obj(n: Int, body: String) = s"$n 0 obj\n$body\nendobj\n"
    val content = "q 13 0 0 7 10 10 cm /Im0 Do Q".getBytes("ISO-8859-1")
    val pdf = (("%PDF-1.4\n" +
      obj(1, "<< /Type /Catalog /Pages 2 0 R >>") +
      obj(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 /MediaBox [0 0 612 792] >>") +
      obj(3, "<< /Type /Page /Parent 2 0 R /Contents 4 0 R " +
        "/Resources << /XObject << /Im0 5 0 R >> >> >>") +
      s"4 0 obj\n<< /Length ${content.length} >>\nstream\n")
      .getBytes("ISO-8859-1")) ++ content ++
      "\nendstream\nendobj\n".getBytes("ISO-8859-1") ++
      (s"5 0 obj\n<< /Type /XObject /Subtype /Image /Width 13 /Height 7 " +
        s"/ColorSpace /DeviceRGB /BitsPerComponent 8 /Filter /DCTDecode " +
        s"/Length ${jpeg.length} >>\nstream\n").getBytes("ISO-8859-1") ++
      jpeg ++ "\nendstream\nendobj\n%%EOF\n".getBytes("ISO-8859-1")
    val (_, images) = RealPdf.parseDoc(RealPdf.open(pdf))
    assert(images == Vector(RealPdf.PdfImage(1, 0, 5, 13, 7)))
    val bytes = RealPdf.imageBytes(RealPdf.open(pdf), 5).get
    assert(bytes.sameElements(jpeg))
    val back = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(bytes))
    assert(back.getWidth == 13 && back.getHeight == 7)
  }

  // ---------- CCITT Group 4 (scanned-document filter) ----------

  test("CCITT G4 tables: printed-spec anchors, prefix-free, complete") {
    import graft.extract.Ccitt
    // anchors straight from the printed T.4 tables (§2, tables 1-3)
    assert(Ccitt.whiteEncode(0) == "00110101")
    assert(Ccitt.whiteEncode(1) == "000111")
    assert(Ccitt.whiteEncode(2) == "0111")
    assert(Ccitt.whiteEncode(63) == "00110100")
    assert(Ccitt.whiteEncode(64) == "11011")
    assert(Ccitt.whiteEncode(1728) == "010011011")
    assert(Ccitt.whiteEncode(2560) == "000000011111")
    assert(Ccitt.blackEncode(0) == "0000110111")
    assert(Ccitt.blackEncode(1) == "010")
    assert(Ccitt.blackEncode(2) == "11")
    assert(Ccitt.blackEncode(63) == "000001100111")
    assert(Ccitt.blackEncode(64) == "0000001111")
    assert(Ccitt.blackEncode(1728) == "0000001100101")
    assert(Ccitt.blackEncode(2560) == "000000011111")
    for (enc <- Seq(Ccitt.whiteEncode, Ccitt.blackEncode)) {
      assert(enc.size == 64 + 27 + 13) // terminating + makeup + extended
      assert((0 to 63).forall(enc.contains))
      assert((1 to 40).forall(k => enc.contains(k * 64)))
      val codes = enc.values.toSeq
      assert(codes.distinct.size == codes.size)
      for (a <- codes; b <- codes if a != b)
        assert(!b.startsWith(a), s"prefix violation: $a < $b")
    }
  }

  private def bitsToBytes(bits: String): Array[Byte] = {
    val padded = bits + "0" * ((8 - bits.length % 8) % 8)
    padded.grouped(8).map(g => Integer.parseInt(g, 2).toByte).toArray
  }

  test("CCITT G4: hand-assembled streams decode per the spec (no encoder)") {
    import graft.extract.Ccitt
    // two all-white 8-wide rows: V0, V0, EOFB
    val allWhite = bitsToBytes("1" + "1" + "000000000001" * 2)
    val w2 = Ccitt.g4Decode(allWhite, 8, 2, blackIs1 = false,
      byteAlign = false)
    assert(w2.length == 2 && w2.forall(b => (b & 0xff) == 0xff))
    // one row, black pixels 0-3 of 8: H + white-0 + black-4, then V0
    val row = bitsToBytes("001" + "00110101" + "011" + "1" +
      "000000000001" * 2)
    val r = Ccitt.g4Decode(row, 8, 1, blackIs1 = false, byteAlign = false)
    assert(r.length == 1 && (r(0) & 0xff) == 0x0f, f"got ${r(0)}%02x")
    // same stream under /BlackIs1 true: sample bits flip
    val r1 = Ccitt.g4Decode(row, 8, 1, blackIs1 = true, byteAlign = false)
    assert(r1.length == 1 && (r1(0) & 0xff) == 0xf0)
  }

  test("CCITT G4 round-trip: decoder reconstructs encoder bitmaps exactly") {
    import graft.extract.Ccitt
    import graft.gen.CcittGen
    val shapes: Seq[Array[Array[Boolean]]] = Seq(
      CcittGen.scanBitmap(0, 200, 120),
      CcittGen.scanBitmap(3, 100, 37), // width not a byte multiple
      Array.tabulate(20, 64)((_, _) => false),          // all white
      Array.tabulate(20, 64)((_, _) => true),           // all black
      Array.tabulate(33, 97)((y, x) => (x + y) % 2 == 0), // 1-px checker
      Array.tabulate(15, 1728)((y, x) => x > 400 && x < 1500 && y % 3 != 0))
    for (bmp <- shapes) {
      val w = bmp(0).length; val h = bmp.length
      val enc = CcittGen.g4Encode(bmp)
      val want = CcittGen.packed(bmp)
      assert(Ccitt.g4Decode(enc, w, h, false, false).sameElements(want),
        s"w=$w h=$h")
      // BlackIs1 flips the sample semantics
      assert(Ccitt.g4Decode(enc, w, h, true, false)
        .sameElements(CcittGen.packed(bmp, blackIs1 = true)))
      // EncodedByteAlign: every row starts on a byte boundary
      assert(Ccitt.g4Decode(CcittGen.g4Encode(bmp, byteAlign = true),
        w, h, false, true).sameElements(want))
      // Rows absent (0): decode runs to EOFB
      assert(Ccitt.g4Decode(enc, w, 0, false, false).sameElements(want))
    }
    // garbage data: no crash, empty or partial output only
    val junk = Array.tabulate[Byte](64)(i => (i * 37 + 11).toByte)
    assert(Ccitt.g4Decode(junk, 64, 8, false, false).length % 8 == 0)
  }

  test("CCITT G3 round-trip: 1-D and mixed modes reconstruct exactly") {
    import graft.extract.Ccitt
    import graft.gen.CcittGen
    val shapes: Seq[Array[Array[Boolean]]] = Seq(
      CcittGen.scanBitmap(0, 200, 120),
      CcittGen.scanBitmap(5, 100, 37),
      Array.tabulate(20, 64)((_, _) => false),
      Array.tabulate(20, 64)((_, _) => true),
      Array.tabulate(33, 97)((y, x) => (x + y) % 2 == 0),
      Array.tabulate(15, 1728)((y, x) => x > 400 && x < 1500 && y % 3 != 0))
    for (bmp <- shapes) {
      val w = bmp(0).length; val h = bmp.length
      val want = CcittGen.packed(bmp)
      // K=0 pure 1-D, EOL-prefixed rows
      assert(Ccitt.g3Decode(CcittGen.g3Encode(bmp, 0), 0, w, h,
        false, false).sameElements(want), s"1-D EOL w=$w h=$h")
      // K=0 with EOLs omitted (the EncodedByteAlign writer shape)
      assert(Ccitt.g3Decode(
        CcittGen.g3Encode(bmp, 0, byteAlign = true, withEol = false),
        0, w, h, false, true).sameElements(want), s"1-D bare w=$w h=$h")
      // K>0 mixed: 1-D key rows + 2-D delta rows, tag-bit selected
      for (k <- Seq(1, 2, 4)) {
        assert(Ccitt.g3Decode(CcittGen.g3Encode(bmp, k), k, w, h,
          false, false).sameElements(want), s"mixed k=$k w=$w h=$h")
      }
      // dispatcher routes by K
      assert(Ccitt.decode(CcittGen.g3Encode(bmp, 2), 2, w, h, false, false)
        .sameElements(want))
      assert(Ccitt.decode(CcittGen.g4Encode(bmp), -1, w, h, false, false)
        .sameElements(want))
      // BlackIs1 flips samples in 1-D too
      assert(Ccitt.g3Decode(CcittGen.g3Encode(bmp, 0), 0, w, h,
        true, false).sameElements(CcittGen.packed(bmp, blackIs1 = true)))
    }
    // hand-assembled 1-D row (no encoder): white 4, black 4 of 8 wide
    // white-4 = 1011, black-4 = 011; EOL-prefixed
    val oneD = bitsToBytes("000000000001" + "1011" + "011")
    val r = Ccitt.g3Decode(oneD, 0, 8, 1, false, false)
    assert(r.length == 1 && (r(0) & 0xff) == 0xf0, f"got ${r(0)}%02x")
    // garbage: no crash, whole rows only
    val junk = Array.tabulate[Byte](64)(i => (i * 53 + 7).toByte)
    assert(Ccitt.g3Decode(junk, 0, 64, 8, false, false).length % 8 == 0)
    assert(Ccitt.g3Decode(junk, 4, 64, 8, false, false).length % 8 == 0)
  }

  test("scanned G3 fixture: K=0 and K=2 payloads recover as codec-ready PNG") {
    for (k <- Seq(0, 2)) {
      val pdf = graft.gen.CcittGen.makeScanPdf(3, k = k)
      val (pages, images) = RealPdf.parseDoc(RealPdf.open(pdf))
      assert(images == Vector(RealPdf.PdfImage(1, 0, 5, 200, 120)))
      assert(pages.head.runs.exists(_.text.startsWith("Scan 3")))
      val png = RealPdf.imageCodecBytes(RealPdf.open(pdf), 5).get
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(png))
      assert(img.getWidth == 200 && img.getHeight == 120)
      val bmp = graft.gen.CcittGen.scanBitmap(3, 200, 120)
      for (y <- 0 until 120; x <- 0 until 200)
        assert((img.getRaster.getSample(x, y, 0) == 0) == bmp(y)(x),
          s"k=$k pixel ($x,$y)")
    }
  }

  test("scanned-style fixture: CCITT payload recovers as codec-ready PNG") {
    val pdf = graft.gen.CcittGen.makeScanPdf(1)
    val (pages, images) = RealPdf.parseDoc(RealPdf.open(pdf))
    assert(images == Vector(RealPdf.PdfImage(1, 0, 5, 200, 120)))
    assert(pages.head.runs.exists(_.text.startsWith("Scan 1")))
    val png = RealPdf.imageCodecBytes(RealPdf.open(pdf), 5).get
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(png))
    assert(img.getWidth == 200 && img.getHeight == 120)
    val bmp = graft.gen.CcittGen.scanBitmap(1, 200, 120)
    for (y <- 0 until 120; x <- 0 until 200)
      assert((img.getRaster.getSample(x, y, 0) == 0) == bmp(y)(x),
        s"pixel ($x,$y)")
  }

  test("Flate+PNG-predictor image: samples recovered, wrapped as PNG") {
    // 23x9 8-bit gray gradient, predictor 12 (PNG Up) applied by the
    // TEST (the encode side), then deflated — imageCodecBytes must undo
    // inflate + predictor and wrap the samples losslessly
    val w = 23; val h = 9
    val samples = Array.tabulate(h, w)((y, x) => ((x * 5 + y * 11) % 256).toByte)
    val pre = new java.io.ByteArrayOutputStream()
    for (y <- 0 until h) {
      pre.write(2) // PNG Up filter tag
      for (x <- 0 until w)
        pre.write((samples(y)(x) - (if (y > 0) samples(y - 1)(x) else 0)) & 0xff)
    }
    val d = new java.util.zip.Deflater()
    d.setInput(pre.toByteArray); d.finish()
    val zbuf = new Array[Byte](4096)
    val zn = d.deflate(zbuf); d.end()
    val data = zbuf.take(zn)
    val pdf = (("%PDF-1.5\n" +
      "1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n" +
      "2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 " +
      "/MediaBox [0 0 612 792] >>\nendobj\n" +
      "3 0 obj\n<< /Type /Page /Parent 2 0 R /Resources " +
      "<< /XObject << /Im0 5 0 R >> >> >>\nendobj\n" +
      s"5 0 obj\n<< /Type /XObject /Subtype /Image /Width $w /Height $h " +
      s"/ColorSpace /DeviceGray /BitsPerComponent 8 /Filter /FlateDecode " +
      s"/DecodeParms << /Predictor 12 /Colors 1 /BitsPerComponent 8 " +
      s"/Columns $w >> /Length ${data.length} >>\nstream\n")
      .getBytes("ISO-8859-1")) ++ data ++
      "\nendstream\nendobj\n%%EOF\n".getBytes("ISO-8859-1")
    val png = RealPdf.imageCodecBytes(RealPdf.open(pdf), 5).get
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(png))
    assert(img.getWidth == w && img.getHeight == h)
    for (y <- 0 until h; x <- 0 until w)
      assert(img.getRaster.getSample(x, y, 0) == (samples(y)(x) & 0xff))
  }

  /** One-page PDF with a Type0 font using a PREDEFINED CMap `encoding`
    * (no embedded CMap stream — the reader must know the name), optional
    * /W runs on the descendant CIDFont, and a hex-string Tj of raw
    * 2-byte codes. Mirrors the CJK-locale shape pdfminer resolves via
    * its cmap resources (reference setup.sql:72-91).
    */
  private def cjkPdf(encoding: String, hexCodes: String,
                     w: String = "", dw: Int = 1000): Array[Byte] = {
    def obj(n: Int, body: String) = s"$n 0 obj\n$body\nendobj\n"
    val content = s"BT /F0 12 Tf 50 700 Td <$hexCodes> Tj ET"
    ("%PDF-1.4\n" +
      obj(1, "<< /Type /Catalog /Pages 2 0 R >>") +
      obj(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 /MediaBox [0 0 612 792] >>") +
      obj(3, "<< /Type /Page /Parent 2 0 R /Contents 4 0 R " +
        "/Resources << /Font << /F0 5 0 R >> >> >>") +
      s"4 0 obj\n<< /Length ${content.length} >>\nstream\n$content\nendstream\nendobj\n" +
      obj(5, s"<< /Type /Font /Subtype /Type0 /BaseFont /STSong-Light " +
        s"/Encoding /$encoding /DescendantFonts [6 0 R] >>") +
      obj(6, s"<< /Type /Font /Subtype /CIDFontType0 /BaseFont /STSong-Light " +
        s"/DW $dw$w >>") +
      "%%EOF\n").getBytes("ISO-8859-1")
  }

  test("predefined CJK CMaps: UniGB-UCS2-H codes decode as UTF-16BE identity") {
    // "中文测试" — UTF-16BE code units ARE the codes under the Unicode
    // predefined CMaps, so extraction needs no Unicode→CID tables
    val pages = RealPdf.parse(cjkPdf("UniGB-UCS2-H", "4E2D65876D4B8BD5"))
    assert(pages.length == 1)
    assert(pages(0).runs.map(_.text).toList == List("中文测试"))
    // every glyph advances at /DW (CIDs are unknowable without the
    // Unicode→CID table): 4 × 1000/1000 × 12pt = 48
    val r = pages(0).runs.head
    assert(r.x0 == 50.0 && r.y0 == 700.0 && math.abs(r.x1 - 98.0) < 1e-9)
  }

  test("predefined CJK CMaps: /W runs are ignored (code≠CID), /DW rules; ToUnicode still wins") {
    // UniJIS-UCS2-H "日本語" with a /W run that WOULD apply if codes were
    // CIDs — it must not: codes under a predefined Unicode CMap are not
    // CIDs, so per-CID widths are meaningless and every glyph takes /DW
    val p1 = RealPdf.parse(cjkPdf("UniJIS-UCS2-H", "65E5672C8A9E",
      w = " /W [20069 [100] 26412 [100] 35486 [100]]", dw = 900))
    assert(p1(0).runs.map(_.text).toList == List("日本語"))
    val r1 = p1(0).runs.head
    // 3 × 900/1000 × 12 = 32.4
    assert(math.abs(r1.x1 - r1.x0 - 32.4) < 1e-9)
    // an explicit /ToUnicode CMap takes precedence over the identity
    def obj(n: Int, body: String) = s"$n 0 obj\n$body\nendobj\n"
    val cmap = "begincmap\n1 beginbfchar\n<65E5> <0041>\nendbfchar\nendcmap"
    val content = "BT /F0 12 Tf 50 700 Td <65E5672C> Tj ET"
    val pdf2 = ("%PDF-1.4\n" +
      obj(1, "<< /Type /Catalog /Pages 2 0 R >>") +
      obj(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 /MediaBox [0 0 612 792] >>") +
      obj(3, "<< /Type /Page /Parent 2 0 R /Contents 4 0 R " +
        "/Resources << /Font << /F0 5 0 R >> >> >>") +
      s"4 0 obj\n<< /Length ${content.length} >>\nstream\n$content\nendstream\nendobj\n" +
      obj(5, "<< /Type /Font /Subtype /Type0 /BaseFont /STSong-Light " +
        "/Encoding /UniJIS-UCS2-H /DescendantFonts [6 0 R] /ToUnicode 7 0 R >>") +
      obj(6, "<< /Type /Font /Subtype /CIDFontType0 /BaseFont /STSong-Light /DW 1000 >>") +
      s"7 0 obj\n<< /Length ${cmap.length} >>\nstream\n$cmap\nendstream\nendobj\n" +
      "%%EOF\n").getBytes("ISO-8859-1")
    // <65E5> remapped to "A" by ToUnicode; <672C> falls to the identity
    assert(RealPdf.parse(pdf2)(0).runs.map(_.text).toList == List("A本"))
  }

  test("charset CMaps: GBK/RKSJ/UHC/EUC-JP codes decode through the locale charset") {
    // GBK-EUC-H: GBK bytes D6D0 CEC4 = 中文, mixed with a 1-byte ASCII
    // code (lead < 0x81) — variable-length code extraction
    val gbk = RealPdf.parse(cjkPdf("GBK-EUC-H", "41D6D0CEC4"))
    assert(gbk(0).runs.map(_.text).toList == List("A中文"))
    // 3 codes × /DW 1000 × 12pt = 36 (widths are /DW-only: CIDs unknown)
    val r = gbk(0).runs.head
    assert(math.abs(r.x1 - r.x0 - 36.0) < 1e-9)
    // 90ms-RKSJ-H: Shift_JIS 93FA 967B 8CEA = 日本語 plus the 1-byte
    // halfwidth katakana B1 = ｱ (the SJIS single-byte 0xA1-0xDF range)
    val sjis = RealPdf.parse(cjkPdf("90ms-RKSJ-H", "93FA967B8CEAB1"))
    assert(sjis(0).runs.map(_.text).toList == List("日本語ｱ"))
    // KSCms-UHC-H: MS949 C7D1 = 한
    val uhc = RealPdf.parse(cjkPdf("KSCms-UHC-H", "C7D1"))
    assert(uhc(0).runs.map(_.text).toList == List("한"))
    // EUC-H (Adobe-Japan1 EUC-JP): C6FC = 日
    val euc = RealPdf.parse(cjkPdf("EUC-H", "C6FC"))
    assert(euc(0).runs.map(_.text).toList == List("日"))
    // B5pc-H: Big5 A4A4 = 中
    val b5 = RealPdf.parse(cjkPdf("B5pc-H", "A4A4"))
    assert(b5(0).runs.map(_.text).toList == List("中"))
  }

  test("predefined CJK CMaps: UniKS-UTF16-H surrogate pairs recompose; code 0 is U+FFFD") {
    // U+20BB7 (𠮷) is D842 DFB7 in UTF-16BE — two 2-byte codes whose raw
    // chars recompose the supplementary character in the extracted text
    val p = RealPdf.parse(cjkPdf("UniKS-UTF16-H", "D842DFB7AC00"))
    assert(p(0).runs.map(_.text).toList == List("𠮷가"))
    assert(p(0).runs.head.text.codePointAt(0) == 0x20BB7)
    // code 0000 has no text identity even under the identity CMaps
    val z = RealPdf.parse(cjkPdf("UniGB-UCS2-H", "00004E2D"))
    assert(z(0).runs.map(_.text).toList == List("�中"))
    // a predefined CMap outside BOTH supported families (Unicode
    // identity, locale charset) must not take the identity path: codes
    // are neither UTF-16 nor a JDK charset — U+FFFD (CNS-EUC is the
    // EUC-TW family, deliberately unmapped: its 4-byte SS2 planes have
    // no safe DBCS collapse)
    val g = RealPdf.parse(cjkPdf("CNS-EUC-H", "D6D0"))
    assert(g(0).runs.map(_.text).toList == List("�"))
  }

  test("link annotations: URI links with display-mapped rects; decoys skipped") {
    // unrotated doc (i=0, even → INDIRECT /A object): identity mapping;
    // the GoTo (/Dest), /Square, and action-less decoys never emit
    val l0 = RealPdf.links(RealPdf.open(graft.gen.LinkGen.fileBytes(0)))
    assert(l0 == Vector(
      RealPdf.PdfLink(1, "https://site0.example/page0?ref=a0",
        72, 700, 200, 714),
      RealPdf.PdfLink(1, "http://blog0.example/post0",
        72, 650, 260, 664)))
    // rotated doc (i=2, /Rotate 90 on 612×792): (x,y) → (y, 612−x),
    // normalized corners — matches LinkGen's independent hand mapping
    val l2 = RealPdf.links(RealPdf.open(graft.gen.LinkGen.fileBytes(2)))
    assert(l2 == Vector(
      RealPdf.PdfLink(1, "https://site2.example/page2?ref=a2",
        700, 412, 714, 540),
      RealPdf.PdfLink(1, "http://blog2.example/post2",
        650, 352, 664, 540)))
    // text extraction is unaffected by the annotation army
    val pages = RealPdf.parse(graft.gen.LinkGen.fileBytes(0))
    assert(pages.length == 1 &&
      pages(0).runs.forall(_.text.startsWith("Link doc 0")))
  }

  test("outline: preorder walk, /Dest and /GoTo targets, cycles terminate") {
    // LinkGen doc 0: chapter (Dest) → child section → chapter 2 (GoTo
    // action); Latin-1 accents in the title decode via PDFDocEncoding
    val o0 = RealPdf.outline(RealPdf.open(graft.gen.LinkGen.fileBytes(0)))
    assert(o0 == Vector(
      RealPdf.PdfOutline(0, 0, "Chapter 1 of doc 0", 1),
      RealPdf.PdfOutline(1, 1, "Section 1.1 m0", 1),
      RealPdf.PdfOutline(2, 0, "Chapter 2 résumé 0", 1)))
    // doc 3 (i % 4 == 3) carries no /Outlines
    assert(RealPdf.outline(RealPdf.open(graft.gen.LinkGen.fileBytes(3))).isEmpty)
    // a crafted /Next cycle must terminate, keeping the pre-cycle items
    def obj(n: Int, body: String) = s"$n 0 obj\n$body\nendobj\n"
    val cyclic = ("%PDF-1.4\n" +
      obj(1, "<< /Type /Catalog /Pages 2 0 R /Outlines 5 0 R >>") +
      obj(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 >>") +
      obj(3, "<< /Type /Page /Parent 2 0 R >>") +
      obj(5, "<< /Type /Outlines /First 8 0 R >>") +
      obj(8, "<< /Title (loop a) /Next 9 0 R >>") +
      obj(9, "<< /Title (loop b) /Next 8 0 R >>") +
      "%%EOF\n").getBytes("ISO-8859-1")
    assert(RealPdf.outline(RealPdf.open(cyclic)).map(_.title) ==
      Vector("loop a", "loop b"))
    // mutation storm: outline() degrades, never throws or hangs
    var seed = 777
    def next(n: Int): Int = { seed = seed * 1103515245 + 12347; math.abs(seed) % n }
    (0 until 150).foreach { i =>
      val b = graft.gen.LinkGen.fileBytes(i % 9)
      (0 until 1 + next(25)).foreach(_ => b(next(b.length)) = next(256).toByte)
      RealPdf.outline(RealPdf.open(b))
    }
  }

  test("outline: target pages use the text's numbering when the page tree is missing") {
    // the catalog's /Pages names an object that does not exist, so the
    // pages come from the document-order /Type /Page fallback; the
    // outline must number its target the same way the text does
    def obj(n: Int, body: String) = s"$n 0 obj\n$body\nendobj\n"
    def content(t: String) = s"BT /F1 12 Tf 72 700 Td ($t) Tj ET"
    val pdf = ("%PDF-1.4\n" +
      obj(1, "<< /Type /Catalog /Pages 99 0 R /Outlines 5 0 R >>") +
      obj(3, "<< /Type /Page /Contents 6 0 R >>") +
      obj(4, "<< /Type /Page /Contents 7 0 R >>") +
      obj(5, "<< /Type /Outlines /First 8 0 R >>") +
      obj(6, s"<< /Length ${content("one").length} >>\nstream\n" +
        content("one") + "\nendstream") +
      obj(7, s"<< /Length ${content("two").length} >>\nstream\n" +
        content("two") + "\nendstream") +
      obj(8, "<< /Title (Second) /Dest [4 0 R /XYZ 0 792 0] >>") +
      "%%EOF\n").getBytes("ISO-8859-1")
    val doc = RealPdf.open(pdf)
    val pages = RealPdf.parseDoc(doc)._1
    assert(pages.map(p => (p.page, p.runs.map(_.text).toList)) ==
      Vector((1, List("one")), (2, List("two"))))
    assert(RealPdf.outline(doc) == Vector(RealPdf.PdfOutline(0, 0, "Second", 2)))
  }

  test("link annotations: UTF-16BE /URI decodes; malformed bytes degrade") {
    // a hex-string URI with BOM — PDFDocEncoding's UTF-16 escape hatch
    def obj(n: Int, body: String) = s"$n 0 obj\n$body\nendobj\n"
    val uri16 = "FEFF" + "http://é.example/a".map(c => f"${c.toInt}%04X").mkString
    val pdf = ("%PDF-1.4\n" +
      obj(1, "<< /Type /Catalog /Pages 2 0 R >>") +
      obj(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 /MediaBox [0 0 612 792] >>") +
      obj(3, "<< /Type /Page /Parent 2 0 R /Annots [ " +
        s"<< /Subtype /Link /Rect [1 2 3 4] /A << /S /URI /URI <$uri16> >> >> " +
        "<< /Subtype /Link /Rect [9] /A << /S /URI /URI (short rect) >> >> ] >>") +
      "%%EOF\n").getBytes("ISO-8859-1")
    assert(RealPdf.links(RealPdf.open(pdf)) ==
      Vector(RealPdf.PdfLink(1, "http://é.example/a", 1, 2, 3, 4)))
    // mutation storm over the LinkGen fixtures: links() degrades, never
    // throws — these bytes feed the q_pdf_links driver query
    var seed = 424242
    def next(n: Int): Int = { seed = seed * 1103515245 + 12347; math.abs(seed) % n }
    (0 until 150).foreach { i =>
      val b = graft.gen.LinkGen.fileBytes(i % 9)
      (0 until 1 + next(25)).foreach(_ => b(next(b.length)) = next(256).toByte)
      RealPdf.links(RealPdf.open(b))
    }
  }

  test("AcroForm fields: qualified names, inheritance, UTF-16 values, sig decoys, rotation") {
    import graft.gen.FormGen
    // every fixture matches the generator's ground truth exactly —
    // incl. /Rotate 90 thirds (independent hand mapping) and the
    // form-less quarters (empty)
    val want = FormGen.expected(36).groupBy(_.doc_id)
    (0 until 36).foreach { i =>
      val f = FormGen.fileName(i)
      val got = RealPdf.formFields(RealPdf.open(FormGen.fileBytes(i))).map(ff =>
        FormGen.GtField(f, ff.pos, ff.page, ff.name, ff.ftype, ff.value,
          ff.x0, ff.y0, ff.x1, ff.y1))
      assert(got == want.getOrElse(f, Seq.empty).toVector, s"doc $i")
    }
    // pin the load-bearing decodes explicitly
    val f2 = RealPdf.formFields(RealPdf.open(FormGen.fileBytes(2)))
    assert(f2.find(_.name == "memo").get.value == "Memo № 2 ✓")
    assert(f2.find(_.name == "addr.line2").get.value == "inherited 2")
    assert(f2.find(_.name == "fullname").get.value == "José Müller 2")
    assert(!f2.exists(_.ftype == "sig"))
    // page text is unaffected by the form machinery
    val pages = RealPdf.parse(FormGen.fileBytes(0))
    assert(pages.length == 1 &&
      pages(0).runs.forall(_.text.startsWith("Form doc 0")))
    // a /Kids cycle terminates; the self-reference is skipped while the
    // legitimate kid still emits with its inherited value
    def obj(n: Int, body: String) = s"$n 0 obj\n$body\nendobj\n"
    val cyclic = ("%PDF-1.4\n" +
      obj(1, "<< /Type /Catalog /Pages 2 0 R " +
        "/AcroForm << /Fields [6 0 R] >> >>") +
      obj(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 " +
        "/MediaBox [0 0 612 792] >>") +
      obj(3, "<< /Type /Page /Parent 2 0 R /Annots [7 0 R] >>") +
      obj(6, "<< /FT /Tx /T (a) /V (v) /Kids [7 0 R 6 0 R] >>") +
      obj(7, "<< /Subtype /Widget /T (b) /Rect [1 2 3 4] >>") +
      "%%EOF\n").getBytes("ISO-8859-1")
    assert(RealPdf.formFields(RealPdf.open(cyclic)) ==
      Vector(RealPdf.PdfFormField(0, 1, "a.b", "text", "v", 1, 2, 3, 4)))
    // mutation storm: formFields() degrades, never throws or hangs —
    // these bytes feed the q_pdf_formfields driver query
    var seed = 31337
    def next(n: Int): Int = { seed = seed * 1103515245 + 12347; math.abs(seed) % n }
    (0 until 150).foreach { i =>
      val b = FormGen.fileBytes(i % 9)
      (0 until 1 + next(25)).foreach(_ => b(next(b.length)) = next(256).toByte)
      RealPdf.formFields(RealPdf.open(b))
    }
  }
}
