package graft.extract

import java.nio.charset.StandardCharsets.ISO_8859_1
import scala.collection.mutable.ArrayBuffer
import Item.{Media, Text}

/** RFC 5322 / MIME (RFC 2045-2047) email front end: a `.eml` message
  * (or one member of an `.mbox` spool) decodes at the ingest boundary
  * into the engine's interleaved span vocabulary —
  *
  *  - the Subject (RFC 2047 encoded-words decoded) as the first
  *    "text" span;
  *  - `text/plain` body parts as one verbatim "text" span each
  *    (transfer-encoding and charset decoded through the same
  *    [[CharsetSniff]] chain the HTML/WARC paths use — the MIME
  *    `charset=` parameter IS a transport declaration);
  *  - `text/html` body parts through [[HtmlExtractor]] WHOLESALE
  *    (boilerplate gate, entities, tag-position media), `cid:` image
  *    references resolved to their attached parts;
  *  - `image/…`, `audio/…`, `video/…` parts as by-reference media
  *    spans (`p<idx>:<name>` — decoded payloads recoverable via
  *    [[mediaPayload]], the byte-fetch half of the contract);
  *  - document attachments (filename suffix in the ingest text-kind
  *    family: pdf/docx/html/txt/md/…) surfaced to the caller so
  *    [[graft.sources.RawFiles]] can FAN THEM OUT as their own
  *    InputDocs through the matching front ends — an email with an
  *    attached PDF yields the PDF's positioned spans, same as a WARC
  *    pdf record or an archive member.
  *
  * MIME semantics implemented: header unfolding (continuation lines),
  * nested multipart subtypes with exact `--boundary` delimiter lines
  * (preamble/epilogue dropped, depth-capped), `multipart/alternative`
  * picking ONE branch (text/plain preferred, then text/html, then the
  * first part — the alternatives are by definition the same content),
  * Content-Transfer-Encoding base64 (MIME-lenient) and
  * quoted-printable (soft line breaks, invalid escapes kept literal),
  * RFC 2047 `=?charset?B/Q?…?=` subject words (adjacent words joined,
  * `_` = space in Q), Content-ID ↔ `cid:` resolution, quoted and
  * unquoted header parameters. Declared non-goals (documented, not
  * silent): RFC 2231 extended parameters, `message/rfc822` forwarded
  * bodies (dropped), signature verification.
  *
  * Everything is tolerant: malformed headers/boundaries degrade to
  * the parts already parsed, never throw — a 10^12-doc corpus WILL
  * contain every possible corruption.
  *
  * Scale: one message = one scan row; the whole parse is in-memory
  * string walking inside the ingest flatMap, no extra I/O, nothing
  * shuffles. Reference context: the reference ingests curated PDFs
  * only (setup.sql:44-45); email is a crawl-corpus reality its
  * pipeline never faces.
  */
object EmlExtractor {

  /** A document attachment to fan out at ingest: `idx` is the leaf
    * part index (stable across re-parses), `body` the CTE-decoded
    * payload.
    */
  final case class Attachment(idx: Int, filename: String,
                              body: Array[Byte])

  final case class Message(subject: String, items: Vector[Item],
                           attachments: Vector[Attachment])

  /** Conservative content magic: a CRLF/LF header block starting at
    * byte 0 whose first line is a valid RFC 5322 header, containing a
    * `From:` line AND one machine-generated header (Message-ID /
    * MIME-Version / Received / Return-Path) — prose that happens to
    * start with "From: …" does not carry those. Used only where a
    * suffix already said "mail-ish" (.eml/.mbox routing is primary).
    */
  def isEml(bytes: Array[Byte]): Boolean = {
    if (bytes.length < 16) return false
    val n = math.min(bytes.length, 8192)
    val head = new String(bytes, 0, n, ISO_8859_1)
    val hdrEnd = headerBlockEnd(head)
    val block = head.substring(0, hdrEnd).toLowerCase
    val firstOk = "^[!-9;-~]+:".r.findFirstIn(block).isDefined
    firstOk && block.contains("from:") &&
      (block.contains("message-id:") || block.contains("mime-version:") ||
       block.contains("received:") || block.contains("return-path:"))
  }

  /** mbox spool magic: the mboxo/mboxrd member separator at byte 0. */
  def isMbox(bytes: Array[Byte]): Boolean =
    bytes.length >= 5 && bytes(0) == 'F' && bytes(1) == 'r' &&
      bytes(2) == 'o' && bytes(3) == 'm' && bytes(4) == ' '

  /** Split an mbox spool into member messages: a separator is a line
    * starting `From ` at file start or after a blank line (mboxo);
    * `>From ` body escapes are unescaped one level (mboxrd).
    */
  def mboxMessages(bytes: Array[Byte]): Vector[Array[Byte]] = {
    if (!isMbox(bytes)) return Vector.empty
    val s = new String(bytes, ISO_8859_1)
    val starts = ArrayBuffer(0)
    var i = s.indexOf('\n')
    while (i >= 0 && i + 1 < s.length) {
      // separator must follow a blank line (mbox framing)
      val prevBlank = i >= 1 && (s.charAt(i - 1) == '\n' ||
        (i >= 2 && s.charAt(i - 1) == '\r' && s.charAt(i - 2) == '\n'))
      if (prevBlank && s.startsWith("From ", i + 1)) starts += (i + 1)
      i = s.indexOf('\n', i + 1)
    }
    starts.toVector.zipAll(starts.toVector.drop(1), 0, s.length)
      .map { case (a, b) =>
        val chunk = s.substring(a, b)
        // drop the "From …" separator line itself
        val nl = chunk.indexOf('\n')
        val msg = if (nl < 0) "" else chunk.substring(nl + 1)
        unescapeMboxrd(msg).getBytes(ISO_8859_1)
      }
      .filter(_.nonEmpty)
  }

  private def unescapeMboxrd(msg: String): String =
    msg.split("\n", -1).map { line =>
      val core = line.stripSuffix("\r")
      if (core.startsWith(">") &&
          core.dropWhile(_ == '>').startsWith("From "))
        line.substring(1)
      else line
    }.mkString("\n")

  // ---------------------------------------------------------------- parse

  private[graft] final case class Leaf(idx: Int, mime: String,
      charset: String, disposition: String, filename: String,
      cid: String, body: Array[Byte])

  private val MaxDepth = 8

  def parse(bytes: Array[Byte]): Message = {
    val s = new String(bytes, ISO_8859_1)
    val hdrEnd = headerBlockEnd(s)
    val headers = parseHeaders(s.substring(0, hdrEnd))
    val body = s.substring(skipBlank(s, hdrEnd))
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    val leaves = walkEntity(headers, body, 0, counter)
    val subject = decodeWords(headers.getOrElse("subject", ""))

    // cid → media ref for inline <img src="cid:…"> resolution
    val cidMap: Map[String, (String, String)] = leaves.flatMap { l =>
      mediaKind(l.mime).flatMap { k =>
        val id = l.cid.stripPrefix("<").stripSuffix(">")
        if (id.isEmpty) None else Some(id -> (k, mediaRef(l)))
      }
    }.toMap

    // phase 1: per-leaf items, collecting which cids the html parts
    // actually reference — a cid-referenced media part is INLINE and
    // must appear exactly once, at its reference position, never also
    // as a standalone media item at its part position
    val referenced = scala.collection.mutable.Set.empty[String]
    val atts = Vector.newBuilder[Attachment]
    val perLeaf: Vector[Vector[Item]] = leaves.map { l =>
      mediaKind(l.mime) match {
        case Some(k) => Vector(Media(k, mediaRef(l), inFile = true))
        case None =>
          val isAttachment = l.disposition == "attachment" &&
            l.filename.nonEmpty
          if (isAttachment && docSuffix(l.filename)) {
            atts += Attachment(l.idx, l.filename, l.body)
            Vector.empty
          } else if (l.mime == "text/html") {
            HtmlExtractor.items(
                CharsetSniff.decode(l.body, html = true, l.charset))
              .map {
                case Media(k, src, _) =>
                  val id = src.stripPrefix("cid:")
                  if (src.startsWith("cid:") && cidMap.contains(id)) {
                    referenced += id
                    val (mk, ref) = cidMap(id)
                    Media(mk, ref, inFile = true)
                  } else Item.mailed(k, src)
                case t => t
              }
          } else if (l.mime.startsWith("text/") || l.mime.isEmpty) {
            val t = CharsetSniff.decode(l.body, html = false, l.charset)
            val trimmed = t.replaceAll("[\r\n\\s]+$", "")
            if (trimmed.isEmpty) Vector.empty else Vector(Text(trimmed))
          } else Vector.empty // other application subtypes without a doc filename
      }
    }

    val items = Vector.newBuilder[Item]
    if (subject.nonEmpty) items += Text("Subject: " + subject)
    leaves.zip(perLeaf).foreach { case (l, its) =>
      val cidId = l.cid.stripPrefix("<").stripSuffix(">")
      val inlinedElsewhere = mediaKind(l.mime).isDefined &&
        cidId.nonEmpty && referenced.contains(cidId)
      if (!inlinedElsewhere) its.foreach(items += _)
    }
    Message(subject, items.result(), atts.result())
  }

  /** Ingest-facing item view (subject + body + media). */
  def items(bytes: Array[Byte]): Vector[Item] = parse(bytes).items

  /** Decoded payload of the part a media span references: the
    * `p<idx>:…` tail indexes the leaf walk, which is deterministic —
    * re-parse and return that leaf's CTE-decoded body.
    */
  def mediaPayload(bytes: Array[Byte], ref: String): Option[Array[Byte]] = {
    val m = "^p(\\d+):".r.findFirstMatchIn(ref)
    m.flatMap(_.group(1).toIntOption).flatMap { idx =>
      val s = new String(bytes, ISO_8859_1)
      val hdrEnd = headerBlockEnd(s)
      val headers = parseHeaders(s.substring(0, hdrEnd))
      val body = s.substring(skipBlank(s, hdrEnd))
      val counter = new java.util.concurrent.atomic.AtomicInteger(0)
      walkEntity(headers, body, 0, counter).find(_.idx == idx).map(_.body)
    }
  }

  private def mediaRef(l: Leaf): String = {
    val name =
      if (l.filename.nonEmpty) l.filename
      else {
        val slash = l.mime.indexOf('/')
        val sub = if (slash >= 0) l.mime.substring(slash + 1) else "bin"
        s"part.$sub"
      }
    s"p${l.idx}:$name"
  }

  private def mediaKind(mime: String): Option[String] =
    Seq("image", "audio", "video").find(k => mime.startsWith(k + "/"))

  /** Does the filename's suffix belong to the ingest text-kind family
    * (so the attachment can fan out through a front end)?
    */
  private def docSuffix(filename: String): Boolean = {
    val lp = filename.toLowerCase
    val dot = lp.lastIndexOf('.')
    dot >= 0 && DocExts.contains(lp.substring(dot + 1))
  }

  // container kinds (warc/zip/tar/jsonl/eml) excluded: one fan-out
  // level, the same rule archives apply to nested archives
  private val DocExts = Set("pdf", "html", "htm", "txt", "text", "docx",
    "md", "markdown", "epub", "xlsx", "pptx", "rtf", "odt", "ods",
    "odp", "tex")

  /** Depth-first leaf walk. multipart/alternative contributes ONE
    * branch; other multiparts contribute all parts in order; a leaf
    * entity contributes itself with its CTE decoded.
    */
  private def walkEntity(headers: Map[String, String], body: String,
      depth: Int,
      counter: java.util.concurrent.atomic.AtomicInteger): Vector[Leaf] = {
    val ct = headers.getOrElse("content-type", "")
    val mime = mimeOf(ct)
    if (mime.startsWith("multipart/") && depth < MaxDepth) {
      val boundary = param(ct, "boundary")
      if (boundary.isEmpty) return Vector.empty
      val parts = splitParts(body, boundary)
      val parsed = parts.map { p =>
        val he = headerBlockEnd(p)
        (parseHeaders(p.substring(0, he)), p.substring(skipBlank(p, he)))
      }
      if (mime == "multipart/alternative") {
        // pick the canonical alternative: plain > html > first
        def mt(h: Map[String, String]) =
          mimeOf(h.getOrElse("content-type", ""))
        val pick = parsed.find(p => mt(p._1) == "text/plain")
          .orElse(parsed.find(p => mt(p._1) == "text/html"))
          .orElse(parsed.headOption)
        pick.toVector.flatMap { case (h, b) =>
          walkEntity(h, b, depth + 1, counter) }
      } else parsed.flatMap { case (h, b) =>
        walkEntity(h, b, depth + 1, counter) }
    } else if (mime.startsWith("multipart/")) Vector.empty // depth bomb
    else if (mime == "message/rfc822") Vector.empty // declared non-goal
    else {
      val cte = headers.getOrElse("content-transfer-encoding", "")
        .trim.toLowerCase
      val decoded = decodeCte(body, cte)
      val disp = headers.getOrElse("content-disposition", "")
      val filename = param(disp, "filename") match {
        case "" => param(ct, "name")
        case f => f
      }
      Vector(Leaf(counter.getAndIncrement(), mime, param(ct, "charset"),
        mimeOf(disp), filename,
        headers.getOrElse("content-id", "").trim, decoded))
    }
  }

  /** Exact multipart split: delimiter lines are `--boundary` (and the
    * closing `--boundary--`) at line start; preamble before the first
    * delimiter and epilogue after the close are dropped. The CRLF (or
    * LF) before a delimiter belongs to the delimiter, not the part.
    */
  private[graft] def splitParts(body: String,
                                  boundary: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    val delim = "--" + boundary
    var partStart = -1
    var lineStart = 0
    var closed = false
    while (lineStart <= body.length && !closed) {
      val nl = body.indexOf('\n', lineStart)
      val lineEnd = if (nl < 0) body.length else nl
      val line = body.substring(lineStart,
        if (lineEnd > lineStart && body.charAt(lineEnd - 1) == '\r')
          lineEnd - 1 else lineEnd)
      if (line == delim || line == delim + "--" ||
          (line.startsWith(delim) && line.drop(delim.length).trim.isEmpty) ||
          (line.startsWith(delim + "--") &&
           line.drop(delim.length + 2).trim.isEmpty)) {
        if (partStart >= 0) {
          // strip the newline that precedes the delimiter
          var pe = lineStart
          if (pe > partStart && body.charAt(pe - 1) == '\n') pe -= 1
          if (pe > partStart && body.charAt(pe - 1) == '\r') pe -= 1
          out += body.substring(partStart, pe)
        }
        closed = line.startsWith(delim + "--")
        partStart = if (nl < 0) body.length else nl + 1
      }
      lineStart = if (nl < 0) body.length + 1 else nl + 1
    }
    // unterminated multipart: keep the final part as-is (tolerance)
    if (!closed && partStart >= 0 && partStart <= body.length)
      out += body.substring(partStart)
    out.result()
  }

  // --------------------------------------------------------- primitives

  /** End of the header block (exclusive of the blank line). */
  private def headerBlockEnd(s: String): Int = {
    val crlf = s.indexOf("\r\n\r\n")
    val lf = s.indexOf("\n\n")
    if (crlf < 0 && lf < 0) s.length
    else if (crlf < 0) lf
    else if (lf < 0) crlf
    else math.min(crlf, lf)
  }

  private def skipBlank(s: String, hdrEnd: Int): Int =
    if (s.startsWith("\r\n\r\n", hdrEnd)) hdrEnd + 4
    else if (s.startsWith("\n\n", hdrEnd)) hdrEnd + 2
    else s.length min (hdrEnd + 1)

  /** Unfold + parse a header block: names lowercased, first
    * occurrence wins, continuation lines (leading WSP) joined with one
    * space.
    */
  private[graft] def parseHeaders(block: String): Map[String, String] = {
    val m = scala.collection.mutable.LinkedHashMap.empty[String, String]
    var name: String = null
    var value: StringBuilder = null
    def flush(): Unit = if (name != null && !m.contains(name)) {
      m(name) = value.toString.trim; ()
    }
    block.split("\n", -1).foreach { raw =>
      val line = raw.stripSuffix("\r")
      if (line.nonEmpty && (line.charAt(0) == ' ' || line.charAt(0) == '\t')) {
        if (value != null) { value.append(' ').append(line.trim); () }
      } else {
        val c = line.indexOf(':')
        if (c > 0) {
          flush()
          name = line.substring(0, c).trim.toLowerCase
          value = new StringBuilder(line.substring(c + 1).trim)
        }
      }
    }
    flush()
    m.toMap
  }

  /** The value before any `;` — lowercased (mime type, disposition). */
  private def mimeOf(headerValue: String): String = {
    val semi = headerValue.indexOf(';')
    (if (semi >= 0) headerValue.substring(0, semi)
     else headerValue).trim.toLowerCase
  }

  /** A `name=value` parameter: quoted or unquoted, case-insensitive
    * name, "" if absent. RFC 2231 `name*=` continuations are a
    * declared non-goal.
    */
  private[graft] def param(headerValue: String, name: String): String =
    ("(?i)[;\\s]" + java.util.regex.Pattern.quote(name) +
      "\\s*=\\s*(\"[^\"]*\"|[^\\s;]+)").r
      .findFirstMatchIn(" " + headerValue)
      .map(_.group(1).stripPrefix("\"").stripSuffix("\""))
      .getOrElse("")

  /** RFC 2047 encoded-word decode for Subject lines: adjacent encoded
    * words join (inter-word whitespace dropped per spec), `Q` maps
    * `_`→space and `=XX`, `B` is base64; unknown charsets leave the
    * word literal (honest degradation).
    */
  private[graft] def decodeWords(s: String): String = {
    val joined = "(?<=\\?=)[ \\t]+(?==\\?)".r.replaceAllIn(s, "")
    EncodedWordRe.replaceAllIn(joined, m => {
      val csLabel = m.group(1)
      val enc = m.group(2).toLowerCase
      val payload = m.group(3)
      val cs = CharsetSniff.label(csLabel)
        .orElse(try {
          if (java.nio.charset.Charset.isSupported(csLabel))
            Some(java.nio.charset.Charset.forName(csLabel))
          else None
        } catch { case _: Exception => None })
      cs match {
        case None => java.util.regex.Matcher.quoteReplacement(m.matched)
        case Some(charset) =>
          val bytes =
            if (enc == "b")
              try java.util.Base64.getMimeDecoder.decode(payload)
              catch { case _: Exception => Array.empty[Byte] }
            else qDecode(payload)
          java.util.regex.Matcher.quoteReplacement(
            new String(bytes, charset))
      }
    })
  }

  private val EncodedWordRe =
    "=\\?([^?\\s]+)\\?([bBqQ])\\?([^?\\s]*)\\?=".r

  /** RFC 2047 Q decoding: `_` = space, `=XX` = byte, else literal. */
  private def qDecode(s: String): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '_') { out.write(' '); i += 1 }
      else if (c == '=' && i + 2 < s.length &&
               isHex(s.charAt(i + 1)) && isHex(s.charAt(i + 2))) {
        out.write(Integer.parseInt(s.substring(i + 1, i + 3), 16))
        i += 3
      } else { out.write(c.toInt & 0xff); i += 1 }
    }
    out.toByteArray
  }

  private def isHex(c: Char): Boolean =
    (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') ||
      (c >= 'A' && c <= 'F')

  /** Content-Transfer-Encoding decode. Bodies arrive as ISO-8859-1
    * strings (byte-transparent), leave as bytes.
    */
  private[graft] def decodeCte(body: String, cte: String): Array[Byte] =
    cte match {
      case "base64" =>
        try java.util.Base64.getMimeDecoder.decode(
          body.filter(c => !c.isWhitespace))
        catch { case _: Exception => Array.empty[Byte] }
      case "quoted-printable" => qpDecode(body)
      case _ => body.getBytes(ISO_8859_1)
    }

  /** Quoted-printable: `=XX` → byte, `=`+line break = soft break
    * (removed), invalid escapes kept literal.
    */
  private def qpDecode(body: String): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var i = 0
    val n = body.length
    while (i < n) {
      val c = body.charAt(i)
      if (c == '=') {
        if (i + 1 < n && body.charAt(i + 1) == '\n') i += 2 // soft LF
        else if (i + 2 < n && body.charAt(i + 1) == '\r' &&
                 body.charAt(i + 2) == '\n') i += 3 // soft CRLF
        else if (i + 2 < n && isHex(body.charAt(i + 1)) &&
                 isHex(body.charAt(i + 2))) {
          out.write(Integer.parseInt(body.substring(i + 1, i + 3), 16))
          i += 3
        } else { out.write('='); i += 1 }
      } else { out.write(c.toInt & 0xff); i += 1 }
    }
    out.toByteArray
  }
}
