package graft.extract

import scala.collection.mutable.ArrayBuffer
import Item.{Media, Text}

/** Markdown front end: blocks + referenced media from `.md` text, in
  * document order.
  *
  * [north-rule extension] — the reference ingests PDFs only
  * (/root/reference/setup.sql:44-45); markdown is the third most common
  * authored-text format in web/code corpora (READMEs, docs sites, wiki
  * dumps). Like DOCX, markdown decodes at the ingest boundary
  * ([[graft.sources.RawFiles.decodeAny]]) into the spec's existing span
  * vocabulary: text blocks as "text" spans, image references as media
  * spans — [[graft.core.ExtractionSpec]] unchanged.
  *
  * == Exact spec (shared with the test-side regex twin) ==
  *
  * Input is split into lines on `\n` (a trailing `\r` per line is
  * dropped; a final `\n` TERMINATES the last line rather than opening
  * an empty one — so an unclosed fence in a newline-terminated file
  * does not pick up a phantom blank line).
  *
  * YAML FRONT MATTER (the Jekyll/Hugo/Pandoc static-site convention):
  * iff the FIRST line trimmed is exactly `---`, the block through the
  * next line whose trimmed form is `---` or `...` is metadata
  * apparatus and DROPS (keys never become corpus text). No closing
  * line → not front matter, the `---` reads as content (degrade). A
  * `---` anywhere after line 0 is ordinary content.
  *
  * The item stream:
  *
  *  - FENCED CODE: a line whose trimmed form starts with three or more
  *    backticks opens a fence (the info string after the backticks is
  *    dropped); lines accumulate VERBATIM until a line whose trimmed
  *    form is backticks-only with at least the opening count (then the
  *    fence closes) or end of input. The interior emits as ONE block,
  *    lines joined with `\n`, kept iff it contains a non-whitespace
  *    char. No inline processing applies inside a fence.
  *  - ATX HEADING: a line whose trimmed form matches `#{1,6}` + space →
  *    its own block (markers + the one space stripped, inline-processed,
  *    normalized). Trailing closing `#` runs are NOT stripped
  *    (declared simplification).
  *  - PIPE TABLE (GitHub form): a maximal run of consecutive lines
  *    whose trimmed form starts with `|` is a table iff it has ≥2
  *    lines and line 2 is a DELIMITER row (after outer-pipe strip and
  *    split on `|`, ≥1 cell, every cell trimmed matches `:?-+:?`).
  *    The open paragraph flushes first; the table then emits as ONE
  *    block — each non-delimiter line a row, cells inline-processed
  *    and normalized, joined with TAB, rows joined with `\n` (the
  *    engine's table-TSV vocabulary, same as the positional-PDF
  *    `q_table_tsv` shape; ragged rows stay ragged, `\|` escapes are
  *    not interpreted — declared). Cell media emit at tag position,
  *    before the table block. A `|` run that is NOT a table (no
  *    delimiter second line) reads as ordinary paragraph lines.
  *  - BLANK line (whitespace-only) outside a fence: paragraph boundary.
  *  - Any other line joins the open paragraph after per-line stripping:
  *    leading blockquote markers (`>` optionally followed by one
  *    space, repeatedly), then ONE list marker (`-`/`*`/`+` or
  *    `1.`-style ordinal, with trailing whitespace) — list items
  *    therefore read as soft-wrapped prose inside their run (declared:
  *    items are not separate blocks unless blank-line separated).
  *  - INLINE, applied to heading/paragraph lines: `![alt](url)` emits
  *    one [[Item.Media]] AT TAG POSITION (kind by url extension —
  *    png/jpg/jpeg/gif/bmp/tiff → "image", mp3/wav/flac → "audio",
  *    mp4/mkv/webm → "video", default "image"; extension read before
  *    any `?`/`#`) and reads as its alt text; `[text](url)` reads as
  *    its text. An empty url emits nothing and keeps the alt/text. An
  *    optional `"title"` after the url is dropped. Nested brackets are
  *    not interpreted (declared). Media inside a not-yet-flushed
  *    paragraph PRECEDES that paragraph's text item — paragraphs
  *    materialize at their boundary, the [[HtmlExtractor]]/
  *    [[DocxExtractor]] tag-position rule.
  *  - A paragraph emits its lines joined with a single space, then
  *    whitespace runs collapsed and trimmed; kept iff nonempty. (No
  *    HTML-style length/link-density gate: markdown is authored
  *    content, not template boilerplate — declared.)
  *  - Emphasis/inline-code markers stay literal (declared).
  */
object MdExtractor {

  private val Heading = "^(#{1,6}) (.*)$".r
  private val ListMarker = "^\\s*(?:[-*+]|\\d{1,9}\\.)\\s+".r
  private val DelimCell = "^:?-+:?$".r
  // group 1 = optional bang, 2 = alt/text, 3 = url, optional "title"
  private val InlineRef =
    "(!?)\\[([^\\]]*)\\]\\(\\s*([^)\\s]*)(?:\\s+\"[^\"]*\")?\\s*\\)".r

  private[graft] def mediaKind(url: String): String = {
    val cut = url.indexWhere(c => c == '?' || c == '#') match {
      case -1 => url
      case k  => url.substring(0, k)
    }
    val dot = cut.lastIndexOf('.')
    val e = if (dot < 0) "" else cut.substring(dot + 1).toLowerCase
    e match {
      case "mp3" | "wav" | "flac" => "audio"
      case "mp4" | "mkv" | "webm" => "video"
      case _                      => "image"
    }
  }

  def items(md: String): Vector[Item] = {
    val out = ArrayBuffer.empty[Item]
    val para = ArrayBuffer.empty[String]

    def normalize(s: String): String =
      s.replaceAll("\\s+", " ").trim

    def inline(s: String): String =
      InlineRef.replaceAllIn(s, m => {
        val url = m.group(3)
        if (m.group(1) == "!") {
          if (url.nonEmpty) out += Media(mediaKind(url), url, inFile = false)
          java.util.regex.Matcher.quoteReplacement(m.group(2))
        } else java.util.regex.Matcher.quoteReplacement(m.group(2))
      })

    def flushPara(): Unit = {
      if (para.nonEmpty) {
        val t = normalize(para.mkString(" "))
        if (t.nonEmpty) out += Text(t)
        para.clear()
      }
    }

    def stripMarkers(line: String): String = {
      var s = line
      var go = true
      while (go) {
        val t = s.dropWhile(_ == ' ')
        if (t.startsWith(">")) {
          val rest = t.substring(1)
          s = if (rest.startsWith(" ")) rest.substring(1) else rest
        } else go = false
      }
      ListMarker.replaceFirstIn(s, "")
    }

    def cellsOf(line: String): Vector[String] = {
      var t = line.trim
      if (t.startsWith("|")) t = t.substring(1)
      if (t.endsWith("|")) t = t.substring(0, t.length - 1)
      t.split("\\|", -1).toVector
    }
    def isDelimRow(line: String): Boolean = {
      val cs = cellsOf(line).map(_.trim)
      cs.nonEmpty && cs.forall(c => DelimCell.matches(c))
    }

    // candidate pipe-table run: buffered until a non-`|` line decides
    val tbl = ArrayBuffer.empty[String]
    def flushTable(): Unit = {
      if (tbl.isEmpty) return
      val run = tbl.toVector
      tbl.clear()
      if (run.length >= 2 && isDelimRow(run(1))) {
        flushPara()
        val rows = (run.head +: run.drop(2))
          .map(l => cellsOf(l).map(c => normalize(inline(c)))
            .mkString("\t"))
        out += Text(rows.mkString("\n"))
      } else run.foreach(l => para += inline(stripMarkers(l)))
    }

    val split = md.split("\n", -1)
    val lines0 = (if (split.nonEmpty && split.last.isEmpty) split.init
                  else split).toVector.map(_.stripSuffix("\r"))
    // YAML front matter: first line `---` + a closing `---`/`...` line
    val lines = (if (lines0.nonEmpty && lines0.head.trim == "---") {
      val close = lines0.indexWhere(
        l => l.trim == "---" || l.trim == "...", 1)
      if (close > 0) lines0.drop(close + 1) else lines0
    } else lines0).iterator
    var fenceLen = 0
    val fence = ArrayBuffer.empty[String]
    def closeFence(): Unit = {
      if (fence.exists(_.exists(!_.isWhitespace)))
        out += Text(fence.mkString("\n"))
      fence.clear(); fenceLen = 0
    }
    lines.foreach { line =>
      val trimmed = line.trim
      if (fenceLen > 0) {
        val ticks = trimmed.takeWhile(_ == '`').length
        if (ticks >= fenceLen && trimmed.drop(ticks).isEmpty) closeFence()
        else fence += line
      } else if (trimmed.startsWith("|")) {
        tbl += line
      } else if (trimmed.startsWith("```")) {
        flushTable(); flushPara()
        fenceLen = trimmed.takeWhile(_ == '`').length
      } else {
        flushTable()
        trimmed match {
          case "" => flushPara()
          case Heading(_, text) =>
            flushPara()
            val t = normalize(inline(text))
            if (t.nonEmpty) out += Text(t)
          case _ =>
            para += inline(stripMarkers(line))
        }
      }
    }
    flushTable()
    if (fenceLen > 0) closeFence() else flushPara()
    out.toVector
  }
}
