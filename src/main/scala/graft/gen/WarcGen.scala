package graft.gen

/** Deterministic WARC crawl-segment fixtures + generator ground truth
  * — the fixture behind `ex_warc`: genuine web-archive files exercising
  * the shapes [[graft.extract.WarcExtractor]] must handle. Each segment
  * carries, in order: a warcinfo record and a request record (both
  * skipped), an HTTP 200 `text/html` response (the [[MixedGen]]
  * boilerpipe-stressor page — nav/script/footer junk, entity-bearing
  * media srcs), an HTTP 200 `application/pdf` response (a genuine
  * [[PdfGen.makePdf]] document, dropped on every
  * third segment so retained-record indices shift), an HTTP 404
  * (skipped — non-2xx carries no content), an HTTP 200 `text/plain`
  * with `Transfer-Encoding: chunked` (two chunks, an extension on the
  * first size line), a WET-style `conversion` record, an HTTP 200
  * `text/plain; charset=ISO-8859-1` whose body is really windows-1252
  * (the transport-charset decode path), a `resource` record with
  * `image/png` (media by reference), and a metadata record
  * (skipped). Odd segments are `.warc.gz` with the standard one-gzip-
  * member-per-record layout.
  *
  * The reference ingests a directory of PDFs
  * (/root/reference/setup.sql:44-45); crawl archives are the web-scale
  * generalization of that directory — a north-rule extension like
  * DOCX/EPUB/RTF.
  */
object WarcGen {

  def fileName(i: Int): String =
    if (i % 2 == 1) f"crawl_$i%04d.warc.gz" else f"crawl_$i%04d.warc"

  private def hasPdf(i: Int): Boolean = i % 3 != 2

  private def htmlUri(i: Int) = s"https://example.org/$i/page"
  private def pdfUri(i: Int) = s"https://example.org/$i/doc.pdf"
  private def chunkedUri(i: Int) = s"https://example.org/$i/live"
  private def wetUri(i: Int) = s"https://example.org/$i/page"
  private def imgUri(i: Int) = s"https://cdn.example.org/$i/banner.png"

  private def chunkedText(i: Int): String =
    s"Chunked record for crawl $i carries m${(i * 23) % 883} " +
      s"and m${(i * 29) % 883} across two chunks."
  private def wetText(i: Int): String =
    s"WET conversion rendition of page $i: m${(i * 31) % 883} plain " +
      s"text only."
  private def legacyUri(i: Int) = s"https://example.org/$i/legacy"
  private def legacyText(i: Int): String =
    s"Legacy charset page $i: caf\u00e9 \u2014 \u20ac${(i * 3) % 90} fee."
  def imgPayload(i: Int): Array[Byte] =
    Array(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte,
      ((i * 7) % 256).toByte)

  private val CRLF = "\r\n"

  private def bytes(s: String): Array[Byte] =
    s.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)

  /** One WARC record: headers + Content-Length'd payload + separator. */
  private def record(warcType: String, uri: String, contentType: String,
                     payload: Array[Byte]): Array[Byte] = {
    val sb = new StringBuilder
    sb.append("WARC/1.0").append(CRLF)
    sb.append(s"WARC-Type: $warcType").append(CRLF)
    if (uri != null)
      sb.append(s"WARC-Target-URI: $uri").append(CRLF)
    sb.append(s"WARC-Record-ID: <urn:uuid:rec-$warcType-${payload.length}>")
      .append(CRLF)
    sb.append(s"Content-Type: $contentType").append(CRLF)
    sb.append(s"Content-Length: ${payload.length}").append(CRLF)
    sb.append(CRLF)
    bytes(sb.toString) ++ payload ++ bytes(CRLF + CRLF)
  }

  private def httpResponse(status: String, headers: Seq[String],
                           body: Array[Byte]): Array[Byte] =
    bytes((s"HTTP/1.1 $status" +: headers).mkString("", CRLF, CRLF) +
      CRLF) ++ body

  /** Two-chunk chunked encoding with an extension on the first size
    * line — the wire shape [[graft.extract.WarcExtractor.dechunk]]
    * must invert.
    */
  private def chunked(body: Array[Byte]): Array[Byte] = {
    val cut = body.length / 2
    bytes(f"$cut%x;ext=1" + CRLF) ++ body.slice(0, cut) ++ bytes(CRLF) ++
      bytes(f"${body.length - cut}%x" + CRLF) ++
      body.slice(cut, body.length) ++ bytes(CRLF) ++
      bytes("0" + CRLF + CRLF)
  }

  /** All records of segment `i`, file order (pre-gzip). */
  private def recordsOf(i: Int): Seq[Array[Byte]] = {
    val warcinfo = record("warcinfo", null,
      "application/warc-fields",
      bytes(s"software: graft-gen/1.0${CRLF}isPartOf: crawl-$i$CRLF"))
    val request = record("request", htmlUri(i),
      "application/http; msgtype=request",
      bytes(s"GET /$i/page HTTP/1.1${CRLF}Host: example.org$CRLF$CRLF"))
    val htmlResp = record("response", htmlUri(i),
      "application/http; msgtype=response",
      httpResponse("200 OK",
        Seq("Content-Type: text/html; charset=utf-8", "Server: gen"),
        MixedGen.makeHtml(i).getBytes("UTF-8")))
    val pdfResp = record("response", pdfUri(i),
      "application/http; msgtype=response",
      httpResponse("200 OK", Seq("Content-Type: application/pdf"),
        PdfGen.makePdf(i.toLong, 1)))
    val notFound = record("response", s"https://example.org/$i/gone",
      "application/http; msgtype=response",
      httpResponse("404 Not Found", Seq("Content-Type: text/html"),
        bytes(s"<html><body>not here $i</body></html>")))
    val chunkedResp = record("response", chunkedUri(i),
      "application/http; msgtype=response",
      httpResponse("200 OK",
        Seq("Content-Type: text/plain; charset=utf-8",
            "Transfer-Encoding: chunked"),
        chunked(chunkedText(i).getBytes("UTF-8"))))
    val wet = record("conversion", wetUri(i), "text/plain",
      wetText(i).getBytes("UTF-8"))
    // declared ISO-8859-1, really windows-1252 (the em-dash and the
    // euro live at 0x97/0x80) — the WHATWG transport-label upgrade in
    // CharsetSniff is the only correct decode
    val legacy = record("response", legacyUri(i),
      "application/http; msgtype=response",
      httpResponse("200 OK",
        Seq("Content-Type: text/plain; charset=ISO-8859-1"),
        legacyText(i).getBytes(
          java.nio.charset.Charset.forName("windows-1252"))))
    val img = record("resource", imgUri(i), "image/png", imgPayload(i))
    val metadata = record("metadata", htmlUri(i),
      "application/warc-fields",
      bytes(s"fetchTimeMs: ${100 + i}$CRLF"))
    Seq(warcinfo, request, htmlResp) ++
      (if (hasPdf(i)) Seq(pdfResp) else Nil) ++
      Seq(notFound, chunkedResp, wet, legacy, img, metadata)
  }

  private def gzipMember(b: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream(b.length)
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(b); gz.close()
    bos.toByteArray
  }

  def fileBytes(i: Int): Array[Byte] = {
    val recs = recordsOf(i)
    if (i % 2 == 1) recs.map(gzipMember).reduce(_ ++ _)
    else recs.reduce(_ ++ _)
  }

  def write(dir: String, n: Int): Unit =
    (0 until n).foreach { i =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, fileName(i)), fileBytes(i)): Unit
    }

  /** Ground truth after ingest fan-out + extraction: doc ids are
    * `<file>#r<idx>:<uri>` over RETAINED records (html r0, pdf r1 when
    * present, then chunked/wet/img), media_ref already path-tail
    * reduced as the ex_* queries select it.
    */
  def expectedDoc(i: Int): Seq[GtRow] = {
    val f = fileName(i)
    var r = -1
    def nextId(uri: String): String = { r += 1; s"$f#r$r:$uri" }

    val html = {
      val id = nextId(htmlUri(i))
      val k = MixedGen.htmlKept(i)
      Seq(
        GtRow(id, "html", k(0), null, 0),
        GtRow(id, "html", k(1), null, 1),
        GtRow(id, "image", null, MixedGen.htmlFig(i), 2),
        GtRow(id, "video", null, MixedGen.htmlClip(i), 3),
        GtRow(id, "html", k(2), null, 4),
        GtRow(id, "image", null, MixedGen.htmlLazy(i), 5),
        GtRow(id, "audio", null, MixedGen.htmlPod(i), 6))
    }
    val pdf = if (!hasPdf(i)) Nil else {
      val id = nextId(pdfUri(i))
      PdfGen.pagesOf(i.toLong, 1).zipWithIndex.map {
        case (ls, k) => GtRow(id, "pdf", MixedGen.joined(ls), null, k)
      }
    }
    val chunkedDoc =
      Seq(GtRow(nextId(chunkedUri(i)), "text", chunkedText(i), null, 0))
    val wetDoc =
      Seq(GtRow(nextId(wetUri(i)), "text", wetText(i), null, 0))
    val legacyDoc =
      Seq(GtRow(nextId(legacyUri(i)), "text", legacyText(i), null, 0))
    val imgDoc = {
      val id = nextId(imgUri(i))
      Seq(GtRow(id, "image", null, s"$f#r$r", 0))
    }
    html ++ pdf ++ chunkedDoc ++ wetDoc ++ legacyDoc ++ imgDoc
  }

  def expected(n: Int): Seq[GtRow] = (0 until n).flatMap(expectedDoc)
}
