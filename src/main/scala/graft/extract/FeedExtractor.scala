package graft.extract

import scala.collection.mutable.ArrayBuffer
import Item.{Media, Text}

/** RSS 2.0 / Atom feed front end — syndication XML is how a crawl
  * discovers and often FIRST receives article content (description/
  * content payloads carry the full text long before the page itself
  * is fetched). A feed is a container: each `<item>` (RSS) or
  * `<entry>` (Atom) becomes ITS OWN document at the ingest boundary
  * (`<relpath>#e<idx>:<guid-or-link>`), the same fan-out shape WARC
  * records and JSONL lines take. Per entry:
  *
  *  - the `<title>` as the first "text" span;
  *  - the body — RSS `<description>`, Atom `<content>` falling back
  *    to `<summary>` — XML-unescaped (CDATA or entity-escaped HTML
  *    both yield markup), then through [[HtmlExtractor.items]]
  *    WHOLESALE when it contains markup: kept blocks become "text"
  *    spans, inline `<img>`s media spans at tag position. Because
  *    feed bodies are main content BY CONSTRUCTION (there is no
  *    boilerplate to strip), a body whose every block fails the
  *    boilerpipe length gate falls back to ONE span holding the
  *    tag-stripped normalized text — short descriptions survive;
  *  - `<enclosure url type>` / `<media:content url>` (RSS) and
  *    `<link rel="enclosure" href>` (Atom) as by-reference media
  *    spans, URL verbatim (kind from the type attribute, falling to
  *    the URL suffix) — the podcast/image syndication path.
  *
  * Entry identity: `<guid>`, else `<id>`, else the entry link, else
  * the ordinal. Channel-level metadata (feed title, pubDates,
  * generator tags) is apparatus and drops. Entries with neither
  * title nor body nor media drop. Malformed XML degrades to the
  * entries already parsed — never throws.
  *
  * Detection: `.rss`/`.atom` by suffix; `.xml` routes here ONLY when
  * the content magic confirms a feed root (`<rss`, `<feed`,
  * `<rdf:RDF`) — a non-feed `.xml` drops, the reference's
  * suffix-filter posture.
  *
  * Scale: one feed = one scan row; entry fan-out happens inside the
  * ingest flatMap, zero extra shuffle — identical to the WARC path.
  */
object FeedExtractor {

  final case class Entry(idx: Int, id: String, items: Vector[Item])

  /** Content magic: an rss/feed/rdf root element within the head
    * (after optional XML declaration / comments / whitespace).
    */
  def isFeed(bytes: Array[Byte]): Boolean = {
    val n = math.min(bytes.length, 1024)
    val head = new String(bytes, 0, n,
      java.nio.charset.StandardCharsets.ISO_8859_1)
    val body = head.replaceAll("(?s)<\\?.*?\\?>", " ")
      .replaceAll("(?s)<!--.*?(?:-->|$)", " ").trim
    body.startsWith("<rss") || body.startsWith("<feed") ||
      body.startsWith("<rdf:RDF")
  }

  def entries(bytes: Array[Byte]): Vector[Entry] = {
    if (!isFeed(bytes)) return Vector.empty
    val xml = CharsetSniff.decode(bytes, html = false)
    val out = ArrayBuffer.empty[Entry]
    var idx = 0
    segments(xml, "item").foreach { seg =>
      entryOf(seg, idx, rss = true).foreach { e => out += e; idx += 1 }
    }
    segments(xml, "entry").foreach { seg =>
      entryOf(seg, idx, rss = false).foreach { e => out += e; idx += 1 }
    }
    out.toVector
  }

  private def entryOf(seg: String, idx: Int, rss: Boolean): Option[Entry] = {
    val title = elemText(seg, "title").map(t =>
      HtmlExtractor.normalize(stripTags(t))).filter(_.nonEmpty)
    val bodyRaw =
      if (rss) elemText(seg, "description")
      else elemText(seg, "content").orElse(elemText(seg, "summary"))
    val items = Vector.newBuilder[Item]
    title.foreach(t => items += Text(t))
    bodyRaw.foreach { b =>
      if (b.indexOf('<') >= 0) {
        val sub = HtmlExtractor.items(b)
        items ++= sub
        if (!sub.exists(_.isInstanceOf[Text])) {
          // no block cleared the boilerpipe length gate — feed bodies
          // are main content by construction, so keep the stripped text
          val t = HtmlExtractor.normalize(stripTags(b))
          if (t.nonEmpty) items += Text(t)
        }
      } else {
        val t = HtmlExtractor.normalize(b)
        if (t.nonEmpty) items += Text(t)
      }
    }
    // RSS enclosures + media:content; Atom enclosure links
    def enclosure(at: Map[String, String], url: Option[String]): Unit =
      url.filter(_.nonEmpty).foreach(u => items +=
        Media(mediaKind(at.getOrElse("type", ""), u), u, inFile = false))
    tagAttrs(seg, "enclosure").foreach(at => enclosure(at, at.get("url")))
    tagAttrs(seg, "media:content").foreach(at =>
      enclosure(at, at.get("url")))
    if (!rss) tagAttrs(seg, "link").foreach { at =>
      if (at.get("rel").contains("enclosure")) enclosure(at, at.get("href"))
    }
    val its = items.result()
    if (its.isEmpty) None
    else {
      val id = elemText(seg, "guid").orElse(elemText(seg, "id"))
        .map(t => stripTags(t).trim).filter(_.nonEmpty)
        .orElse(linkOf(seg, rss))
        .getOrElse(idx.toString)
      Some(Entry(idx, id, its))
    }
  }

  private def linkOf(seg: String, rss: Boolean): Option[String] =
    if (rss) elemText(seg, "link").map(_.trim).filter(_.nonEmpty)
    else tagAttrs(seg, "link")
      .find(at => !at.contains("rel") || at.get("rel").contains("alternate"))
      .flatMap(_.get("href")).filter(_.nonEmpty)

  /** The `<name …>…</name>` segments at any depth, in document
    * order; tolerant of attributes on the open tag.
    */
  private def segments(xml: String, name: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    val open = "<" + name
    val close = s"</$name>"
    while (i < xml.length) {
      val a = xml.indexOf(open, i)
      if (a < 0) i = xml.length
      else {
        val afterName = a + open.length
        val nc = if (afterName < xml.length) xml.charAt(afterName) else ' '
        if (nc != '>' && !nc.isWhitespace && nc != '/') i = afterName
        else {
          val gt = xml.indexOf('>', a)
          if (gt < 0) i = xml.length
          else {
            val b = xml.indexOf(close, gt)
            if (b < 0) i = xml.length
            else {
              out += xml.substring(gt + 1, b)
              i = b + close.length
            }
          }
        }
      }
    }
    out.result()
  }

  /** Text content of the FIRST `<name>` element in the segment:
    * CDATA unwrapped verbatim, otherwise XML entities decoded (which
    * turns escaped HTML back into markup). None if absent or the
    * element is attribute-only/self-closing.
    */
  private[graft] def elemText(seg: String, name: String): Option[String] =
    segments(seg, name).headOption.map { raw =>
      val t = raw.trim
      if (t.startsWith("<![CDATA[")) {
        val e = t.indexOf("]]>")
        if (e >= 0) t.substring(9, e) else t.substring(9)
      } else DocxExtractor.decodeEntities(t)
    }

  /** Attribute maps of every `<name …>` tag in the segment. */
  private[graft] def tagAttrs(seg: String,
                              name: String): Vector[Map[String, String]] = {
    val out = Vector.newBuilder[Map[String, String]]
    var i = 0
    val open = "<" + name
    while (i < seg.length) {
      val a = seg.indexOf(open, i)
      if (a < 0) i = seg.length
      else {
        val afterName = a + open.length
        val nc = if (afterName < seg.length) seg.charAt(afterName) else ' '
        if (nc != '>' && !nc.isWhitespace && nc != '/') i = afterName
        else {
          val gt = seg.indexOf('>', a)
          if (gt < 0) i = seg.length
          else {
            val m = Map.newBuilder[String, String]
            for (att <- Seq("url", "type", "rel", "href", "length"))
              DocxExtractor.attrOf(seg, a, gt, att)
                .foreach(v => m += att -> v)
            out += m.result()
            i = gt + 1
          }
        }
      }
    }
    out.result()
  }

  private def stripTags(s: String): String =
    DocxExtractor.decodeEntities(s.replaceAll("(?s)<[^>]*>", " "))

  private def mediaKind(mime: String, url: String): String = {
    val m = mime.trim.toLowerCase
    if (m.startsWith("audio/")) "audio"
    else if (m.startsWith("video/")) "video"
    else if (m.startsWith("image/")) "image"
    else {
      val clean = url.replaceAll("[?#].*$", "").toLowerCase
      val dot = clean.lastIndexOf('.')
      val e = if (dot < 0) "" else clean.substring(dot + 1)
      e match {
        case "mp3" | "wav" | "flac" => "audio"
        case "mp4" | "mkv" | "webm" => "video"
        case _                      => "image"
      }
    }
  }
}
