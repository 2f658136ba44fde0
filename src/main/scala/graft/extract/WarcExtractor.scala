package graft.extract

import scala.collection.mutable.ArrayBuffer

/** WARC (ISO 28500 web-archive) front end: the container format web
  * crawls ship in — Common Crawl's WARC/WET segments, Heritrix /
  * wget --warc output. One `.warc` (or `.warc.gz`) file holds a
  * sequence of records; the ones that carry content become DOCUMENTS
  * of their own (a crawled page is the corpus unit, not the archive
  * file), each routed through the engine's existing per-format front
  * ends by payload MIME + content magic.
  *
  * [north-rule extension] — the reference ingests a directory of PDFs
  * (/root/reference/setup.sql:44-45); at web scale the input is crawl
  * archives, and "a directory of files" generalizes to "a directory of
  * WARC segments". Decode happens AT THE INGEST BOUNDARY like
  * DOCX/EPUB/RTF, so [[graft.core.ExtractionSpec]] and both its
  * implementations stay untouched.
  *
  * == Exact record semantics (shared with the test-side twin) ==
  *
  * A payload is WARC iff it starts with the 5 bytes `WARC/` at byte 0
  * (the [[RealPdf.isPdf]] rule); `.warc.gz` payloads start with the
  * gzip magic `1f 8b` and their INFLATED stream starts with `WARC/`
  * (the standard layout is one gzip member per record — Java's
  * GZIPInputStream reads concatenated members natively, so the whole
  * file inflates in one pass of [[Codecs.drain]]; a corrupt tail keeps
  * the records already decoded).
  *
  * Records parse as: version line `WARC/x.y`, CRLF header lines
  * `Name: value` (names case-insensitive, LF-only tolerated) up to an
  * empty line, then exactly `Content-Length` payload bytes, then the
  * record separator (any run of CR/LF). A record without a valid
  * Content-Length ends the parse (degrade, never throw).
  *
  * Retained records, in file order — [[records]] returns ONLY these,
  * and `r<idx>` in minted ids/refs indexes into this vector:
  *  - `WARC-Type: response` whose record Content-Type is
  *    `application/http` — the payload is an HTTP response: status
  *    line + headers parse off; kept iff the status is 2xx (the
  *    CCNet/C4 rule — redirects and errors carry no content); a
  *    `Transfer-Encoding: chunked` body is de-chunked (hex size lines,
  *    extensions after `;` ignored, malformed chunking keeps the bytes
  *    decoded so far); an HTTP `Content-Length` shorter than the
  *    remaining bytes truncates. The HTTP `Content-Type`'s
  *    mime (lowercased, before any `;`) is the record's mime. A
  *    response record whose record Content-Type is NOT application/http
  *    keeps its body verbatim with that Content-Type as mime.
  *  - `WARC-Type: conversion` (WET text renditions) and
  *    `WARC-Type: resource` — body verbatim, record Content-Type as
  *    mime.
  * Everything else (warcinfo, request, metadata, revisit,
  * continuation) is skipped. `WARC-Target-URI` (empty string when
  * absent) travels with each retained record — it becomes part of the
  * minted per-record doc id.
  *
  * A record payload that is itself WARC reads as content (no recursive
  * archive expansion — archives arrive as files, not as records).
  *
  * Scale: one WARC segment = one `binaryFile` row, decoded streamwise
  * inside the scan task; the crawl convention of ~1 GB segments bounds
  * per-task memory, and a 100 TB crawl is ~100k segments — far more
  * split granularity than executor cores, no skew (segments are
  * size-balanced by the crawler itself).
  */
object WarcExtractor {

  /** One retained record: WARC type, target URI ("" if absent),
    * payload mime (lowercased, no parameters, "" if absent), body,
    * and the transport-declared charset label (the `charset=`
    * Content-Type parameter, "" if absent) — the second-priority
    * signal in [[CharsetSniff]]'s WHATWG decode chain.
    */
  final case class Rec(warcType: String, targetUri: String,
                       mime: String, body: Array[Byte],
                       charset: String = "")

  def isWarc(bytes: Array[Byte]): Boolean =
    bytes.length >= 5 && bytes(0) == 'W' && bytes(1) == 'A' &&
      bytes(2) == 'R' && bytes(3) == 'C' && bytes(4) == '/'

  /** Gzip magic at byte 0 AND the inflated stream starts `WARC/` —
    * checked by actually inflating the first handful of bytes, so a
    * plain `.gz` of something else never misroutes.
    */
  def isWarcGz(bytes: Array[Byte]): Boolean =
    bytes.length >= 2 && (bytes(0) & 0xff) == 0x1f &&
      (bytes(1) & 0xff) == 0x8b && isWarc(Codecs.inflate("gz", bytes, 5))

  /** Parse a `.warc` / `.warc.gz` payload into its RETAINED records,
    * file order. Not WARC → empty.
    */
  def records(bytes: Array[Byte]): Vector[Rec] = {
    val raw =
      if (isWarc(bytes)) bytes
      else if (isWarcGz(bytes)) Codecs.inflate("gz", bytes)
      else return Vector.empty
    val out = ArrayBuffer.empty[Rec]
    var pos = 0
    val n = raw.length
    var ok = true
    while (ok && pos < n) {
      // skip the inter-record CR/LF run
      while (pos < n && (raw(pos) == '\r' || raw(pos) == '\n')) pos += 1
      if (pos + 5 > n || raw(pos) != 'W' || raw(pos + 1) != 'A' ||
          raw(pos + 2) != 'R' || raw(pos + 3) != 'C' ||
          raw(pos + 4) != '/') ok = false
      else {
        val hdrEnd = headerEnd(raw, pos)
        if (hdrEnd < 0) ok = false
        else {
          val headers = parseHeaders(raw, pos, hdrEnd)
          headers.get("content-length").flatMap(_.toLongOption) match {
            case Some(len) if len >= 0 =>
              val bodyEnd = math.min(n.toLong, hdrEnd + len).toInt
              val body = java.util.Arrays.copyOfRange(raw, hdrEnd, bodyEnd)
              pos = bodyEnd
              val wt = headers.getOrElse("warc-type", "").toLowerCase
              val uri = headers.getOrElse("warc-target-uri", "")
              val ct = headers.getOrElse("content-type", "")
              wt match {
                case "response" =>
                  if (ct.toLowerCase.contains("application/http"))
                    httpPayload(body).foreach { case (mime, cs, b) =>
                      out += Rec(wt, uri, mime, b, cs)
                    }
                  else out += Rec(wt, uri, mimeOf(ct), body, charsetOf(ct))
                case "conversion" | "resource" =>
                  out += Rec(wt, uri, mimeOf(ct), body, charsetOf(ct))
                case _ => () // warcinfo / request / metadata / revisit
              }
            case _ => ok = false
          }
        }
      }
    }
    out.toVector
  }

  // ---------- internals ----------

  /** Index just past the blank line ending a header block starting at
    * `from`, or -1. Accepts CRLF and bare-LF line ends.
    */
  private def headerEnd(b: Array[Byte], from: Int): Int = {
    var i = from
    while (i < b.length) {
      if (b(i) == '\n') {
        if (i + 1 < b.length && b(i + 1) == '\n') return i + 2
        if (i + 2 < b.length && b(i + 1) == '\r' && b(i + 2) == '\n')
          return i + 3
      }
      i += 1
    }
    -1
  }

  /** `Name: value` lines (first line — WARC version / HTTP status —
    * carries no colon-name and is skipped by the `idx > 0` guard on
    * colon position; header names lowercased, first occurrence wins).
    */
  private def parseHeaders(b: Array[Byte], from: Int,
                           to: Int): Map[String, String] = {
    val block = new String(b, from, to - from,
      java.nio.charset.StandardCharsets.ISO_8859_1)
    val m = scala.collection.mutable.Map.empty[String, String]
    block.split('\n').foreach { line0 =>
      val line = line0.stripSuffix("\r")
      val c = line.indexOf(':')
      if (c > 0) {
        val k = line.substring(0, c).trim.toLowerCase
        if (!m.contains(k)) m(k) = line.substring(c + 1).trim
      }
    }
    m.toMap
  }

  private def mimeOf(contentType: String): String = {
    val semi = contentType.indexOf(';')
    (if (semi >= 0) contentType.substring(0, semi)
     else contentType).trim.toLowerCase
  }

  /** The `charset=` parameter of a Content-Type value, "" if absent.
    * Quotes stripped; the label is NOT validated here — that is
    * [[CharsetSniff.label]]'s job at decode time.
    */
  private def charsetOf(contentType: String): String =
    "(?i)charset\\s*=\\s*(\"[^\"]*\"|'[^']*'|[^\\s;\"']+)".r
      .findFirstMatchIn(contentType)
      .map(_.group(1).stripPrefix("\"").stripSuffix("\"")
        .stripPrefix("'").stripSuffix("'").trim)
      .getOrElse("")

  /** Strip the HTTP response envelope: None iff the status is not 2xx
    * or the envelope is malformed.
    */
  private def httpPayload(body: Array[Byte])
      : Option[(String, String, Array[Byte])] = {
    val hdrEnd = headerEnd(body, 0)
    if (hdrEnd < 0) return None
    val firstNl = idxOf(body, '\n', 0)
    val status = new String(body, 0, math.max(0, firstNl),
      java.nio.charset.StandardCharsets.ISO_8859_1)
    val code = "^HTTP/\\d\\.\\d +(\\d{3})".r
      .findFirstMatchIn(status).map(_.group(1).toInt)
    if (!code.exists(c => c >= 200 && c < 300)) return None
    val headers = parseHeaders(body, 0, hdrEnd)
    val ct = headers.getOrElse("content-type", "")
    val mime = mimeOf(ct)
    var payload = java.util.Arrays.copyOfRange(body, hdrEnd, body.length)
    if (headers.get("transfer-encoding")
          .exists(_.toLowerCase.contains("chunked")))
      payload = dechunk(payload)
    else headers.get("content-length").flatMap(_.toLongOption)
      .foreach { cl =>
        if (cl >= 0 && cl < payload.length)
          payload = java.util.Arrays.copyOf(payload,
            math.min(cl, payload.length.toLong).toInt)
      }
    Some((mime, charsetOf(ct), payload))
  }

  /** De-chunk a `Transfer-Encoding: chunked` body: hex size line
    * (extensions after `;` ignored) + CRLF + data + CRLF, terminated
    * by a 0 chunk. Malformed input keeps the chunks decoded so far.
    */
  private[graft] def dechunk(b: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(b.length)
    var i = 0
    var done = false
    while (!done && i < b.length) {
      val nl = idxOf(b, '\n', i)
      if (nl < 0) done = true
      else {
        val line = new String(b, i, nl - i,
          java.nio.charset.StandardCharsets.ISO_8859_1).stripSuffix("\r")
        val hex = line.takeWhile(c => c != ';').trim
        val size = try java.lang.Long.parseLong(hex, 16)
                   catch { case _: Exception => -1L }
        if (size <= 0 || nl + 1 + size > b.length) done = true
        else {
          out.write(b, nl + 1, size.toInt)
          i = nl + 1 + size.toInt
          // skip the trailing CRLF after the chunk data
          if (i < b.length && b(i) == '\r') i += 1
          if (i < b.length && b(i) == '\n') i += 1
        }
      }
    }
    out.toByteArray
  }

  private def idxOf(b: Array[Byte], c: Char, from: Int): Int = {
    var i = from
    while (i < b.length && b(i) != c) i += 1
    if (i < b.length) i else -1
  }
}
