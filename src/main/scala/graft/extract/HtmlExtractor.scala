package graft.extract

import scala.collection.mutable.ArrayBuffer
import Item.{Media, Text}

/** HTML main-content extraction via text-density / link-density
  * boilerplate heuristics.
  *
  * [north-rule extension] — the reference processes PDFs only (SURVEY.md
  * X8); this implements the published block-level heuristics of
  * boilerpipe (Kohlschütter et al., WSDM 2010) and jusText (Pomikálek,
  * 2011) in simplified, deterministic form over a DOM-lite token walk.
  *
  * Exact spec (shared with the test oracle):
  *
  *  - Tokenize: `<tag ...>`, `</tag>`, `<tag .../>`, comments
  *    `<!-- ... -->`, and text. Tag names case-insensitive. A `<` not
  *    starting a well-formed tag is literal text.
  *  - BLOCK tags (open or close flushes the current block): p, div, h1-h6,
  *    li, td, th, tr, table, ul, ol, article, section, main, title,
  *    blockquote, pre, body, br.
  *  - BOILERPLATE containers: nav, header, footer, aside, script, style,
  *    form, noscript — a depth counter; text accumulated at depth > 0
  *    marks its block as boilerplate.
  *  - NEGATIVE CLASS/ID gate ([[NegClassTags]] × [[NegClassTokens]]):
  *    an opening, non-self-closing `div`/`section` whose FIRST `class`
  *    or `id` attribute value (same attribute grammar as media refs)
  *    contains a junk token — value lowercased, split on runs of
  *    non-[a-z0-9] chars, tokens matched EXACTLY — raises the same
  *    boiler depth until its MATCHING close tag, paired by a per-name
  *    LIFO stack of flags (every open pushes, every close pops its own
  *    name's stack — so nested plain `<div>`s inside a comments block
  *    don't end the gate early, and cross-name mis-nested markup
  *    degrades to the same pairing in extractor, oracle and test
  *    twin). Media inside the gate is dropped
  *    like text, and [[tables]] suppresses grids inside it.
  *  - LINK: `<a>` depth; non-whitespace chars accumulated at link depth
  *    > 0 count as link chars.
  *  - RAW-TEXT elements (HTML5 §13.2.5.1 script/style data states):
  *    after an opening `<script ...>` or `<style ...>` tag that is not
  *    self-closing, everything up to the next case-insensitive
  *    occurrence of `</script` resp. `</style` is raw data — not
  *    tokenized, not added to any block, and not counted for
  *    link/boiler/content (scripts are invisible, not boilerplate
  *    text). Missing close ⇒ raw to end of input. The closing tag
  *    itself then tokenizes normally.
  *  - Entities decoded in text, two passes: (1) one left-to-right scan
  *    replaces numeric references — `&#` + 1-7 decimal digits + `;`,
  *    or `&#x`/`&#X` + 1-6 hex digits + `;`, when the value is a
  *    Unicode scalar in [1, 0x10FFFF] minus surrogates; anything else
  *    stays literal — then (2) the named chain &lt; &gt; &quot; &#39;
  *    &nbsp; (nbsp → space) with &amp; LAST. Consequence (documented
  *    quirk of the pass order): `&#38;lt;` → `<`, while `&amp;lt;` →
  *    `&lt;`. Unknown entities kept literally.
  *  - A block is KEPT iff: not boilerplate-marked, AND its normalized
  *    text (whitespace runs collapsed to one space, trimmed) has length
  *    >= 25, AND linkChars * 3 <= contentChars (contentChars =
  *    non-whitespace char count of the accumulated text).
  *  - MEDIA: a visible media occurrence emits one external
  *    [[Item.Media]] (`inFile` false) —
  *    `<img>` → kind "image"; `<video>`/`<audio>` with a direct src →
  *    their own kind; `<source>` → "video" when inside an open
  *    `<video>` element, else "audio" when inside an open `<audio>`,
  *    else ignored (video wins on malformed double nesting). The ref
  *    follows the LAZY-LOAD FALLBACK CHAIN: the first non-empty of the
  *    tag's `src`, `data-src`, first-candidate URL of `srcset`, then
  *    of `data-srcset` (a srcset candidate is the first
  *    comma-separated entry's leading non-whitespace run — `2x`/`480w`
  *    descriptors drop; per attribute name the FIRST occurrence wins).
  *    Attribute grammar: attributes scanned left to
  *    right: name = maximal run of chars not in {whitespace, '=', '/'};
  *    '/' and whitespace skipped between attributes; after optional
  *    `= value` the value is `"…"`/`'…'` (to the matching quote, or the
  *    tag end when unterminated) or a maximal unquoted non-whitespace
  *    run — so `<img src=a.png/>` keeps the trailing slash, as HTML5's
  *    unquoted-value state does. The selected ref is entity-decoded
  *    with the same two-pass decode as text. All four empty/absent ⇒
  *    no emission. Media at boilerplate depth > 0 or inside raw-text
  *    interiors is dropped; link depth is irrelevant. Emission happens
  *    at tag position: a media tag inside a not-yet-flushed block
  *    PRECEDES that block's text in the item sequence (blocks
  *    materialize at their closing flush). `<video>`/`<audio>` open/
  *    close maintain the context depth exactly like `<a>` does for
  *    links (self-closing tags don't nest).
  *  - Output: kept blocks' normalized texts and media items,
  *    interleaved in document order.
  */
object HtmlExtractor {

  val BlockTags: Set[String] = Set(
    "p", "div", "h1", "h2", "h3", "h4", "h5", "h6", "li", "td", "th", "tr",
    "table", "ul", "ol", "article", "section", "main", "title",
    "blockquote", "pre", "body", "br")

  val BoilerTags: Set[String] = Set(
    "nav", "header", "footer", "aside", "script", "style", "form",
    "noscript")

  /** Tags the negative class/id gate applies to — the generic
    * containers CMSes hang non-content off (comment threads, share
    * bars, cookie banners live in `<div>`/`<section>`, not in the
    * semantic [[BoilerTags]]). The readability/trafilatura negative-
    * class heuristic, reduced to an exact-token rule.
    */
  val NegClassTags: Set[String] = Set("div", "section")

  /** Junk tokens: a div/section whose `class` or `id` value contains
    * one of these as an EXACT token (value lowercased, split on runs
    * of chars outside [a-z0-9] — so `comment-section`, `Comments`,
    * `social_share` hit, while `commentary` and `badge` do not)
    * enters the boilerplate gate until its matching close tag.
    */
  val NegClassTokens: Set[String] = Set(
    "comment", "comments", "sidebar", "related", "share", "social",
    "cookie", "cookies", "advert", "ads", "ad", "promo", "popup",
    "breadcrumb", "breadcrumbs")

  val MinBlockLen = 25

  /** Kept text blocks only (media items dropped) — the text view. */
  def extract(html: String): Vector[String] =
    items(html).collect { case Text(t) => t }

  def items(html: String): Vector[Item] = {
    if (html == null) return Vector.empty
    val out = Vector.newBuilder[Item]
    val buf = new java.lang.StringBuilder
    var contentChars = 0
    var linkChars = 0
    var boilerMarked = false
    var boilerDepth = 0
    var linkDepth = 0
    var videoDepth = 0
    var audioDepth = 0
    // negative-class gate state: one LIFO stack of boiler flags PER tag
    // name (same pairing rule as RefOracle.htmlItems — every open pushes
    // its flag, every close pops its own name's stack, so cross-name
    // mis-nesting degrades identically in all three implementations)
    val negStacks = scala.collection.mutable.Map(
      "div" -> List.empty[Boolean], "section" -> List.empty[Boolean])

    def flush(): Unit = {
      val norm = normalize(buf.toString)
      if (!boilerMarked && norm.length >= MinBlockLen &&
          linkChars * 3 <= contentChars) out += Text(norm)
      buf.setLength(0); contentChars = 0; linkChars = 0; boilerMarked = false
    }

    def mediaKind(name: String): String = name match {
      case "img" => "image"
      case "video" | "audio" => name
      case "source" =>
        if (videoDepth > 0) "video" else if (audioDepth > 0) "audio" else null
      case _ => null
    }

    def addText(t: String): Unit = {
      var i = 0
      while (i < t.length) {
        val c = t.charAt(i)
        buf.append(c)
        if (!Character.isWhitespace(c)) {
          contentChars += 1
          if (linkDepth > 0) linkChars += 1
        }
        i += 1
      }
      if (boilerDepth > 0 && t.exists(!Character.isWhitespace(_)))
        boilerMarked = true
    }

    var i = 0
    val n = html.length
    while (i < n) {
      val c = html.charAt(i)
      if (c == '<') {
        if (html.startsWith("<!--", i)) {
          val e = html.indexOf("-->", i + 4)
          i = if (e < 0) n else e + 3
        } else {
          val gt = html.indexOf('>', i + 1)
          val parsed = if (gt > i) parseTag(html, i, gt) else None
          parsed match {
            case Some((name, closing, nameEnd)) =>
              val selfClosing = isSelfClosing(html, i, gt)
              if (BlockTags(name)) flush()
              if (BoilerTags(name)) {
                flush() // boilerplate containers also delimit blocks
                if (closing) { if (boilerDepth > 0) boilerDepth -= 1 }
                else if (!selfClosing) boilerDepth += 1
              }
              if (NegClassTags(name)) {
                // negative class/id gate: a div/section whose class or
                // id carries a junk token enters the boiler gate until
                // its MATCHING close (per-name LIFO pairing — nested
                // plain divs don't end it, and cross-name mis-nesting
                // degrades the same way in extractor/oracle/twin)
                if (!closing && !selfClosing) {
                  val neg = negClassAt(html, nameEnd, gt)
                  if (neg) boilerDepth += 1
                  negStacks(name) = neg :: negStacks(name)
                } else if (closing) {
                  negStacks(name) match {
                    case flag :: rest =>
                      if (flag && boilerDepth > 0) boilerDepth -= 1
                      negStacks(name) = rest
                    case Nil => ()
                  }
                }
              }
              if (name == "a") {
                if (closing) { if (linkDepth > 0) linkDepth -= 1 }
                else if (!selfClosing) linkDepth += 1
              }
              if (!closing && boilerDepth == 0 && MediaTags(name)) {
                val kind = mediaKind(name)
                if (kind != null) mediaRefOf(html, nameEnd, gt).foreach { raw =>
                  val ref = decodeEntities(raw)
                  if (ref.nonEmpty) out += Media(kind, ref, inFile = false)
                }
              }
              if (name == "video" || name == "audio") {
                if (closing) {
                  if (name == "video") { if (videoDepth > 0) videoDepth -= 1 }
                  else { if (audioDepth > 0) audioDepth -= 1 }
                } else if (!selfClosing) {
                  if (name == "video") videoDepth += 1 else audioDepth += 1
                }
              }
              i = gt + 1
              if (!closing && !selfClosing && RawTextTags(name)) {
                // raw-text interior: skip silently to the closing tag
                i = rawTextEnd(html, i, name)
              }
            case None =>
              // malformed: literal '<'
              addText("<"); i += 1
          }
        }
      } else {
        val next = html.indexOf('<', i)
        val end = if (next < 0) n else next
        addText(decodeEntities(html.substring(i, end)))
        i = end
      }
    }
    flush()
    out.result()
  }

  /** Structured `<table>` recovery — the HTML half of the engine's
    * table family (positional-PDF grids → [[graft.extract.Tables]],
    * markdown pipe tables → [[MdExtractor]]). The block machine above
    * correctly treats table CELLS as boilerplate-length prose (they
    * almost never clear MinBlockLen), so data tables are invisible to
    * [[items]]; this walk recovers them as rows of cells instead.
    *
    * Exact spec (shared with the test twin):
    *  - Same token grammar as [[items]]: tags / comments / raw-text
    *    interiors (script/style) are skipped identically; a malformed
    *    `<` is literal text.
    *  - Boilerplate containers ([[BoilerTags]]) suppress tables inside
    *    them entirely (nav/footer layout junk) — a `<table>` at boiler
    *    depth > 0 and everything in it is dropped.
    *  - `<table>` opens a collector (NESTED tables collect separately,
    *    ids by OPEN order — a nested table's cells belong to it, not
    *    the outer cell); `</table>` closes the innermost.
    *  - `<tr>` opens a row (closing an open one — implicit close);
    *    `</tr>` closes it. `<td>`/`<th>` opens a cell (closing an open
    *    one; a cell outside any row opens an implicit row);
    *    `</td>`/`</th>` closes it.
    *  - Text accumulates into the open cell only (caption / between-row
    *    text is dropped), entity-decoded like [[items]]; any OTHER
    *    block tag ([[BlockTags]] minus the table family) inside an open
    *    cell reads as one space (`<br>`, nested `<p>`). Cell text
    *    normalizes at close (whitespace collapse + trim); empty cells
    *    are KEPT (grid shape survives).
    *  - A row is kept iff it has ≥1 cell; a table is kept iff it has
    *    ≥1 row with ≥1 nonempty cell. Unclosed tables/rows/cells close
    *    at end of input.
    *
    * Output: one entry per kept table in OPEN order — the rows of
    * normalized cell texts.
    */
  def tables(html: String): Vector[Vector[Vector[String]]] = {
    if (html == null) return Vector.empty
    final class Ctx(val id: Int) {
      val rows = ArrayBuffer.empty[Vector[String]]
      val cells = ArrayBuffer.empty[String]
      val cell = new java.lang.StringBuilder
      var cellOpen = false
      var rowOpen = false
      def closeCell(): Unit = if (cellOpen) {
        cells += normalize(cell.toString); cell.setLength(0)
        cellOpen = false
      }
      def closeRow(): Unit = {
        closeCell()
        if (rowOpen && cells.nonEmpty) rows += cells.toVector
        cells.clear(); rowOpen = false
      }
    }
    val done = scala.collection.mutable.TreeMap
      .empty[Int, Vector[Vector[String]]]
    val stack = scala.collection.mutable.Stack.empty[Ctx]
    var nextId = 0
    var suppressed = 0 // boiler-depth <table> opens awaiting their close
    var boilerDepth = 0
    val TableFamily = Set("table", "tr", "td", "th")
    // negative class/id gate — same per-name LIFO rule as [[items]]: a
    // junk-classed div/section suppresses tables inside it
    val negStacks = scala.collection.mutable.Map(
      "div" -> List.empty[Boolean], "section" -> List.empty[Boolean])

    def closeTable(): Unit = if (stack.nonEmpty) {
      val t = stack.pop()
      t.closeRow()
      if (t.rows.exists(_.exists(_.nonEmpty))) done(t.id) = t.rows.toVector
    }
    def addText(t: String): Unit =
      if (boilerDepth == 0 && suppressed == 0 && stack.nonEmpty &&
          stack.top.cellOpen) stack.top.cell.append(t): Unit

    var i = 0
    val n = html.length
    while (i < n) {
      val c = html.charAt(i)
      if (c == '<') {
        if (html.startsWith("<!--", i)) {
          val e = html.indexOf("-->", i + 4)
          i = if (e < 0) n else e + 3
        } else {
          val gt = html.indexOf('>', i + 1)
          val parsed = if (gt > i) parseTag(html, i, gt) else None
          parsed match {
            case Some((name, closing, nameEnd)) =>
              val selfClosing = isSelfClosing(html, i, gt)
              if (NegClassTags(name)) {
                if (!closing && !selfClosing) {
                  val neg = negClassAt(html, nameEnd, gt)
                  if (neg) boilerDepth += 1
                  negStacks(name) = neg :: negStacks(name)
                } else if (closing) {
                  negStacks(name) match {
                    case flag :: rest =>
                      if (flag && boilerDepth > 0) boilerDepth -= 1
                      negStacks(name) = rest
                    case Nil => ()
                  }
                }
              }
              if (BoilerTags(name)) {
                if (closing) { if (boilerDepth > 0) boilerDepth -= 1 }
                else if (!selfClosing) boilerDepth += 1
              } else if (name == "table") {
                if (!closing) {
                  if (boilerDepth > 0) suppressed += 1
                  else { stack.push(new Ctx(nextId)); nextId += 1 }
                } else {
                  if (suppressed > 0) suppressed -= 1 else closeTable()
                }
              } else if (suppressed == 0 && boilerDepth == 0 &&
                         stack.nonEmpty) {
                val t = stack.top
                name match {
                  case "tr" => if (closing) t.closeRow()
                               else { t.closeRow(); t.rowOpen = true }
                  case "td" | "th" =>
                    if (closing) t.closeCell()
                    else {
                      t.closeCell()
                      if (!t.rowOpen) t.rowOpen = true
                      t.cellOpen = true
                    }
                  case _ =>
                    if (t.cellOpen && BlockTags(name) &&
                        !TableFamily(name)) t.cell.append(' '): Unit
                }
              }
              i = gt + 1
              if (!closing && !selfClosing && RawTextTags(name))
                i = rawTextEnd(html, i, name)
            case None =>
              addText("<"); i += 1
          }
        }
      } else {
        val next = html.indexOf('<', i)
        val end = if (next < 0) n else next
        addText(decodeEntities(html.substring(i, end)))
        i = end
      }
    }
    while (stack.nonEmpty) closeTable()
    done.values.toVector
  }

  /** Returns (lowercased tag name, isClosing, index just past the name)
    * if html(start..gt) is a well-formed tag, else None.
    */
  private def parseTag(html: String, start: Int, gt: Int)
      : Option[(String, Boolean, Int)] = {
    var p = start + 1
    var closing = false
    if (p < gt && html.charAt(p) == '/') { closing = true; p += 1 }
    val nameStart = p
    while (p < gt && (Character.isLetterOrDigit(html.charAt(p)))) p += 1
    if (p == nameStart) None
    else Some((html.substring(nameStart, p).toLowerCase(java.util.Locale.ROOT),
               closing, p))
  }

  /** Tags that can carry a visible media reference. */
  val MediaTags: Set[String] = Set("img", "video", "audio", "source")

  /** Media ref of a tag per the lazy-load fallback chain (raw, not yet
    * entity-decoded): first non-empty of `src`, `data-src`,
    * first-candidate URL of `srcset`, then of `data-srcset` — the
    * attributes real lazy-loading pages put the payload URL under.
    * Per name the FIRST occurrence wins; attribute grammar per the
    * object scaladoc. None when the whole chain is empty/absent.
    */
  private def mediaRefOf(html: String, from: Int, gt: Int)
      : Option[String] = {
    var src: String = null
    var dataSrc: String = null
    var srcset: String = null
    var dataSrcset: String = null
    var p = from
    while (p < gt) {
      val c = html.charAt(p)
      if (Character.isWhitespace(c) || c == '/') { p += 1 }
      else {
        val nameStart = p
        while (p < gt && !Character.isWhitespace(html.charAt(p)) &&
               html.charAt(p) != '=' && html.charAt(p) != '/') p += 1
        val name = html.substring(nameStart, p)
          .toLowerCase(java.util.Locale.ROOT)
        if (p == nameStart) p += 1 // stray '=' with no name: skip it
        else {
          while (p < gt && Character.isWhitespace(html.charAt(p))) p += 1
          var value = ""
          if (p < gt && html.charAt(p) == '=') {
            p += 1
            while (p < gt && Character.isWhitespace(html.charAt(p))) p += 1
            if (p < gt && (html.charAt(p) == '"' || html.charAt(p) == '\'')) {
              val q = html.charAt(p)
              val end = html.indexOf(q, p + 1)
              val vEnd = if (end < 0 || end > gt) gt else end
              value = html.substring(p + 1, vEnd)
              p = if (vEnd == gt) gt else vEnd + 1
            } else {
              val vStart = p
              while (p < gt && !Character.isWhitespace(html.charAt(p))) p += 1
              value = html.substring(vStart, p)
            }
          }
          name match {
            case "src" if src == null                 => src = value
            case "data-src" if dataSrc == null        => dataSrc = value
            case "srcset" if srcset == null           => srcset = value
            case "data-srcset" if dataSrcset == null  => dataSrcset = value
            case _                                    => ()
          }
        }
      }
    }
    Seq(src, dataSrc, srcsetCandidate(srcset),
        srcsetCandidate(dataSrcset))
      .find(v => v != null && v.nonEmpty)
  }

  /** True iff the tag spanning (from..gt) carries a negative class/id:
    * the FIRST `class` and `id` attribute values (same grammar as
    * [[mediaRefOf]]) lowercased and split on runs of non-[a-z0-9]
    * chars; any resulting token in [[NegClassTokens]] hits.
    */
  private def negClassAt(html: String, from: Int, gt: Int): Boolean = {
    var cls: String = null
    var id: String = null
    var p = from
    while (p < gt && (cls == null || id == null)) {
      val c = html.charAt(p)
      if (Character.isWhitespace(c) || c == '/') { p += 1 }
      else {
        val nameStart = p
        while (p < gt && !Character.isWhitespace(html.charAt(p)) &&
               html.charAt(p) != '=' && html.charAt(p) != '/') p += 1
        val name = html.substring(nameStart, p)
          .toLowerCase(java.util.Locale.ROOT)
        if (p == nameStart) p += 1
        else {
          while (p < gt && Character.isWhitespace(html.charAt(p))) p += 1
          var value = ""
          if (p < gt && html.charAt(p) == '=') {
            p += 1
            while (p < gt && Character.isWhitespace(html.charAt(p))) p += 1
            if (p < gt && (html.charAt(p) == '"' || html.charAt(p) == '\'')) {
              val q = html.charAt(p)
              val end = html.indexOf(q, p + 1)
              val vEnd = if (end < 0 || end > gt) gt else end
              value = html.substring(p + 1, vEnd)
              p = if (vEnd == gt) gt else vEnd + 1
            } else {
              val vStart = p
              while (p < gt && !Character.isWhitespace(html.charAt(p))) p += 1
              value = html.substring(vStart, p)
            }
          }
          name match {
            case "class" if cls == null => cls = value
            case "id" if id == null    => id = value
            case _                     => ()
          }
        }
      }
    }
    def hit(v: String): Boolean = v != null &&
      v.toLowerCase(java.util.Locale.ROOT)
        .split("[^a-z0-9]+").exists(NegClassTokens)
    hit(cls) || hit(id)
  }

  /** First candidate URL of a srcset value: the first comma-separated
    * entry's leading non-whitespace run (its `2x`/`480w` descriptor
    * drops). Null in, null out; empty-URL entries yield "".
    */
  private def srcsetCandidate(srcset: String): String =
    if (srcset == null) null
    else srcset.takeWhile(_ != ',')
      .dropWhile(Character.isWhitespace)
      .takeWhile(!Character.isWhitespace(_))

  private def isSelfClosing(html: String, start: Int, gt: Int): Boolean =
    gt > start && html.charAt(gt - 1) == '/'

  /** HTML5 raw-text/script-data elements: interiors are data, not
    * markup, and scripts/styles render nothing.
    */
  val RawTextTags: Set[String] = Set("script", "style")

  /** Index just past the raw interior: the position of the next
    * case-insensitive `</name` (the closing tag then tokenizes
    * normally), or end-of-input when unclosed.
    */
  private def rawTextEnd(html: String, from: Int, name: String): Int = {
    val needle = "</" + name
    var i = from
    val last = html.length - needle.length
    while (i <= last) {
      var k = 0
      while (k < needle.length && Character.toLowerCase(
               html.charAt(i + k)) == needle.charAt(k)) k += 1
      if (k == needle.length) return i
      i += 1
    }
    html.length
  }

  def normalize(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    var pendingSpace = false
    var started = false
    while (i < s.length) {
      val c = s.charAt(i)
      if (Character.isWhitespace(c)) { if (started) pendingSpace = true }
      else {
        if (pendingSpace) { sb.append(' '); pendingSpace = false }
        sb.append(c); started = true
      }
      i += 1
    }
    sb.toString
  }

  def decodeEntities(s: String): String = {
    if (s.indexOf('&') < 0) return s
    // pass 1: numeric character references, one left-to-right scan
    val t = decodeNumeric(s)
    // pass 2: named chain, &amp; decoded LAST so "&amp;lt;" yields
    // "&lt;", not "<".
    t.replace("&lt;", "<").replace("&gt;", ">").replace("&quot;", "\"")
      .replace("&#39;", "'").replace("&nbsp;", " ").replace("&amp;", "&")
  }

  /** `&#NNN;` (1-7 decimal digits) and `&#xHH;`/`&#XHH;` (1-6 hex
    * digits) → the code point, when it is a Unicode scalar value in
    * [1, 0x10FFFF] excluding surrogates; anything else stays literal.
    */
  private def decodeNumeric(s: String): String = {
    if (s.indexOf("&#") < 0) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    val n = s.length
    while (i < n) {
      val c = s.charAt(i)
      if (c == '&' && i + 2 < n && s.charAt(i + 1) == '#') {
        val hex = s.charAt(i + 2) == 'x' || s.charAt(i + 2) == 'X'
        val digStart = if (hex) i + 3 else i + 2
        var p = digStart
        def isDig(ch: Char): Boolean =
          if (hex) (ch >= '0' && ch <= '9') || (ch >= 'a' && ch <= 'f') ||
                   (ch >= 'A' && ch <= 'F') // ASCII only — the twin's
                                            // regex class, NOT the
                                            // Unicode-digit Character API
          else ch >= '0' && ch <= '9'
        val maxDigits = if (hex) 6 else 7
        while (p < n && p - digStart < maxDigits + 1 && isDig(s.charAt(p)))
          p += 1
        val nd = p - digStart
        val ok = nd >= 1 && nd <= maxDigits && p < n && s.charAt(p) == ';'
        if (ok) {
          val v = java.lang.Long.parseLong(
            s.substring(digStart, p), if (hex) 16 else 10)
          if (v >= 1 && v <= 0x10FFFF && !(v >= 0xD800 && v <= 0xDFFF)) {
            sb.appendCodePoint(v.toInt)
            i = p + 1
          } else { sb.append(c); i += 1 } // out-of-range: literal
        } else { sb.append(c); i += 1 }   // malformed: literal
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }
}
