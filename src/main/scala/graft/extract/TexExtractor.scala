package graft.extract

import scala.collection.mutable.ArrayBuffer
import Item.{Media, Text}

/** LaTeX front end — the arXiv-corpus format, a first-class source
  * for LLM pretraining sets. A `.tex` source decodes at the ingest
  * boundary into the engine's one span vocabulary (detex-style: keep
  * the human text, drop the markup):
  *
  *  - PREAMBLE DROPPED: content starts after `\begin{document}` (a
  *    fragment without one reads whole — tolerance for arXiv source
  *    pieces included via `\input`).
  *  - COMMENTS: an unescaped `%` kills the rest of its line (`\%` is
  *    a literal percent).
  *  - BLOCKS: blank-line-separated paragraphs; `\section` /
  *    `\subsection` / `\subsubsection` / `\title` / `\chapter` /
  *    `\paragraph` braces-arguments and `\caption`s are their own
  *    blocks; `\item` text flows into its list paragraph.
  *  - INLINE: formatting wrappers keep their argument text (`\emph`,
  *    `\textbf`, `\textit`, `\texttt`, `\textsc`, `\underline`,
  *    `\mbox`, `\text`); reference/citation apparatus drops with its
  *    argument (`\cite`, `\ref`, `\eqref`, `\label`, `\url` keeps its
  *    argument — a URL is content, `\footnote` drops — same posture
  *    as ODT notes); escapes `\%` `\&` `\$` `\_` `\#` `\{` `\}`
  *    are literals, `~` is a space, `\\` breaks a line, `--`/`---`
  *    become en/em dashes, ``` `` ``` / `''` become curly quotes;
  *    common accent forms compose (`\'e` → é, `\"u` → ü, `\~n` → ñ,
  *    …). Any other `\command` drops (its brace argument, if any,
  *    stays — detex semantics: `\alpha` → "", `\unknown{kept}` →
  *    "kept").
  *  - MATH: `$…$` / `$$…$$` / `\[…\]` / `\(…\)` interiors pass
  *    through the same inline machine (so `$E = mc^2$` reads
  *    "E = mc^2"), delimiters dropped.
  *  - ENVIRONMENTS: `verbatim`/`lstlisting` bodies are verbatim
  *    blocks (comment stripping runs BEFORE environment scanning, so a
  *    bare `%` inside verbatim still comments its line — declared
  *    limitation); `tabular` reads as ONE TSV block (cells on unescaped
  *    `&`, rows on `\\`, `\hline` dropped — the engine's table
  *    vocabulary, same as PDF/markdown/HTML/XLSX/PPTX/RTF/ODT);
  *    `figure`/`table` wrappers contribute their captions and
  *    graphics; `equation`/`align` wrappers are
  *    transparent (display math flows through the inline machine with
  *    its paragraph); `comment` bodies drop.
  *  - MEDIA: `\includegraphics[opts]{path}` emits one media span at
  *    tag position, ref verbatim (external reference, like markdown).
  *
  * Tolerance: unbalanced braces/environments degrade to the text
  * already read; nothing throws.
  *
  * Scale: one file = one scan row, single-pass char machine inside
  * the ingest flatMap. Reference context: the reference ingests
  * curated PDFs only (streamlit_app.py:655-678); arXiv-style source
  * is a crawl-corpus reality its pipeline never faces.
  */
object TexExtractor {

  /** Conservative content magic: a documentclass/begin{document} at
    * the head of the file (comments/blank lines allowed before it).
    */
  def isTex(bytes: Array[Byte]): Boolean = {
    val n = math.min(bytes.length, 2048)
    val head = new String(bytes, 0, n,
      java.nio.charset.StandardCharsets.ISO_8859_1)
    val noComments = head.split("\n", -1)
      .map(stripComment).mkString("\n").trim
    noComments.startsWith("\\documentclass") ||
      noComments.startsWith("\\begin{document}")
  }

  private def stripComment(line: String): String = {
    var i = 0
    while (i < line.length) {
      if (line.charAt(i) == '%' && (i == 0 || line.charAt(i - 1) != '\\'))
        return line.substring(0, i)
      i += 1
    }
    line
  }

  private val HeadingCmds = Set("section", "subsection", "subsubsection",
    "title", "chapter", "paragraph", "subparagraph", "caption")
  private val KeepArgCmds = Set("emph", "textbf", "textit", "texttt",
    "textsc", "textrm", "textsf", "underline", "mbox", "text", "url")
  private val DropArgCmds = Set("cite", "citep", "citet", "ref", "eqref",
    "pageref", "label", "footnote", "bibliography", "bibliographystyle",
    "documentclass", "usepackage", "input", "include", "author", "date",
    "vspace", "hspace")
  private val Accents: Map[(Char, Char), Char] = Map(
    ('\'', 'e') -> 'é', ('\'', 'a') -> 'á', ('\'', 'o') -> 'ó',
    ('\'', 'i') -> 'í', ('\'', 'u') -> 'ú', ('`', 'a') -> 'à',
    ('`', 'e') -> 'è', ('^', 'o') -> 'ô', ('^', 'e') -> 'ê',
    ('"', 'u') -> 'ü', ('"', 'o') -> 'ö', ('"', 'a') -> 'ä',
    ('~', 'n') -> 'ñ')

  def items(src: String): Vector[Item] = {
    if (src == null) return Vector.empty
    // comments off first (line-structure preserved)
    val s0 = src.split("\n", -1).map(stripComment).mkString("\n")
    // body = after \begin{document} when present
    val bd = s0.indexOf("\\begin{document}")
    val ed = s0.indexOf("\\end{document}")
    val s =
      if (bd >= 0)
        s0.substring(bd + "\\begin{document}".length,
          if (ed > bd) ed else s0.length)
      else s0

    val out = ArrayBuffer.empty[Item]
    val para = new StringBuilder

    def flush(): Unit = {
      val t = normWs(para.toString)
      if (t.nonEmpty) out += Text(t)
      para.setLength(0)
    }

    /** Reads a balanced {...} group starting at `i` (s(i)=='{');
      * returns (interior, indexAfter). Unbalanced → to end.
      */
    def group(i: Int): (String, Int) = {
      var depth = 0
      var j = i
      while (j < s.length) {
        val c = s.charAt(j)
        if (c == '\\' && j + 1 < s.length) j += 1
        else if (c == '{') depth += 1
        else if (c == '}') {
          depth -= 1
          if (depth == 0) return (s.substring(i + 1, j), j + 1)
        }
        j += 1
      }
      (s.substring(math.min(i + 1, s.length)), s.length)
    }

    /** Optional [...] skipped. */
    def skipOpt(i: Int): Int =
      if (i < s.length && s.charAt(i) == '[') {
        val e = s.indexOf(']', i)
        if (e < 0) s.length else e + 1
      } else i

    def cmdName(i: Int): (String, Int) = {
      var j = i
      while (j < s.length && s.charAt(j).isLetter) j += 1
      (s.substring(i, j), j)
    }

    /** Inline-process a string through a fresh recursion (used for
      * heading/caption arguments).
      */
    def inlineOf(t: String): String = {
      val sub = items("\\begin{document}" + t + "\n\n\\end{document}")
      normWs(sub.collect { case Text(b) => b }.mkString(" "))
    }

    def findEnvEnd(from: Int, env: String): Int = {
      val token = s"\\end{$env}"
      val e = s.indexOf(token, from)
      if (e < 0) s.length else e
    }

    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\') {
        if (i + 1 >= s.length) i += 1
        else {
          val n = s.charAt(i + 1)
          if (n == '\\') { para.append('\n'); i += 2 }
          else if ("%&$_#{}".indexOf(n) >= 0) { para.append(n); i += 2 }
          else if (n == '[' || n == ']' || n == '(' || n == ')') {
            // display/inline math delimiters — interiors flow through
            i += 2
          } else if (!n.isLetter) {
            // accent forms \'e \"u \`a \^o \~n (+ \c{c})
            val acc = n
            var j = i + 2
            var done = false
            if (j < s.length && s.charAt(j) == '{') {
              val (g, after) = group(j)
              if (g.length == 1 && Accents.contains((acc, g.charAt(0)))) {
                para.append(Accents((acc, g.charAt(0)))); i = after
                done = true
              }
            } else if (j < s.length &&
                       Accents.contains((acc, s.charAt(j)))) {
              para.append(Accents((acc, s.charAt(j)))); i = j + 1
              done = true
            }
            if (!done) i += 2 // unknown symbol command drops
          } else {
            val (name, after0) = cmdName(i + 1)
            name match {
              case "begin" =>
                if (after0 < s.length && s.charAt(after0) == '{') {
                  val (env, after) = group(after0)
                  env match {
                    case "verbatim" | "lstlisting" =>
                      flush()
                      val e = findEnvEnd(after, env)
                      val body = s.substring(after, e)
                        .stripPrefix("\n").stripSuffix("\n")
                      if (body.exists(!_.isWhitespace)) out += Text(body)
                      i = math.min(s.length,
                        e + s"\\end{$env}".length)
                    case "comment" =>
                      val e = findEnvEnd(after, env)
                      i = math.min(s.length, e + "\\end{comment}".length)
                    case "tabular" | "tabularx" =>
                      flush()
                      var a = skipOpt(after)
                      if (a < s.length && s.charAt(a) == '{')
                        a = group(a)._2 // column spec
                      val e = findEnvEnd(a, env)
                      emitTabular(s.substring(a, e), out, inlineOf)
                      i = math.min(s.length, e + s"\\end{$env}".length)
                    case _ => i = after // transparent wrapper
                  }
                } else i = after0
              case "end" =>
                if (after0 < s.length && s.charAt(after0) == '{')
                  i = group(after0)._2
                else i = after0
                flush()
              case "item" =>
                if (para.nonEmpty &&
                    !para.charAt(para.length - 1).isWhitespace)
                  para.append(' ')
                i = skipOpt(after0)
              case h if HeadingCmds.contains(h) =>
                flush()
                var a = after0
                if (a < s.length && s.charAt(a) == '*') a += 1
                a = skipOpt(a)
                if (a < s.length && s.charAt(a) == '{') {
                  val (arg, after) = group(a)
                  val t = inlineOf(arg)
                  if (t.nonEmpty) out += Text(t)
                  i = after
                } else i = a
              case "includegraphics" =>
                val a = skipOpt(after0)
                if (a < s.length && s.charAt(a) == '{') {
                  val (arg, after) = group(a)
                  val ref = arg.trim
                  if (ref.nonEmpty)
                    out += Media(DocxExtractor.mediaKind(ref), ref,
                      inFile = false)
                  i = after
                } else i = a
              case k if KeepArgCmds.contains(k) =>
                val a = skipOpt(after0)
                if (a < s.length && s.charAt(a) == '{') {
                  // recurse into the argument inline (nested wrappers)
                  val (arg, after) = group(a)
                  para.append(inlineText(arg, inlineOf))
                  i = after
                } else i = a
              case d if DropArgCmds.contains(d) =>
                var a = skipOpt(after0)
                if (a < s.length && s.charAt(a) == '{') a = group(a)._2
                i = a
              case _ =>
                // unknown command: drops itself; a following brace
                // group is CONTENT (detex posture)
                i = skipOpt(after0)
            }
          }
        }
      } else if (c == '$') {
        // math delimiters drop; interiors flow
        if (i + 1 < s.length && s.charAt(i + 1) == '$') i += 2 else i += 1
      } else if (c == '~') { para.append(' '); i += 1 }
      else if (c == '{' || c == '}') i += 1 // bare groups transparent
      else if (c == '\n') {
        // blank line = paragraph break
        var j = i + 1
        while (j < s.length && (s.charAt(j) == ' ' || s.charAt(j) == '\t'))
          j += 1
        if (j < s.length && s.charAt(j) == '\n') { flush(); i = j + 1 }
        else { para.append(' '); i += 1 }
      } else if (c == '-' && i + 1 < s.length && s.charAt(i + 1) == '-') {
        if (i + 2 < s.length && s.charAt(i + 2) == '-') {
          para.append('—'); i += 3
        } else { para.append('–'); i += 2 }
      } else if (c == '`' && i + 1 < s.length && s.charAt(i + 1) == '`') {
        para.append('“'); i += 2
      } else if (c == '\'' && i + 1 < s.length && s.charAt(i + 1) == '\'') {
        para.append('”'); i += 2
      } else { para.append(c); i += 1 }
    }
    flush()
    out.toVector
  }

  /** One tabular body → one TSV block: rows on unescaped `\\`, cells
    * on unescaped `&`, `\hline`/`\toprule`/`\midrule`/`\bottomrule`
    * dropped, cell text through the inline machine.
    */
  private def emitTabular(body: String, out: ArrayBuffer[Item],
                          inlineOf: String => String): Unit = {
    val rows = ArrayBuffer.empty[Vector[String]]
    val cells = ArrayBuffer.empty[String]
    val cell = new StringBuilder
    def closeCell(): Unit = {
      // clean at close so the row-emptiness test sees the FINAL text —
      // a rules-only row (\hline …) must vanish, not pad the grid
      cells += inlineOf(cell.toString.replace("\\hline", " ")
        .replace("\\toprule", " ").replace("\\midrule", " ")
        .replace("\\bottomrule", " "))
      cell.setLength(0)
    }
    def closeRow(): Unit = {
      closeCell()
      if (cells.exists(_.nonEmpty)) rows += cells.toVector
      cells.clear()
    }
    var i = 0
    while (i < body.length) {
      val c = body.charAt(i)
      if (c == '\\' && i + 1 < body.length && body.charAt(i + 1) == '\\') {
        closeRow(); i += 2
      } else if (c == '\\' && i + 1 < body.length &&
                 body.charAt(i + 1) == '&') {
        cell.append("\\&"); i += 2 // keep escape for the inline pass
      } else if (c == '&') { closeCell(); i += 1 }
      else { cell.append(c); i += 1 }
    }
    closeRow()
    if (rows.nonEmpty) {
      val width = rows.map(_.length).max
      val tsv = rows.map(_.padTo(width, "").mkString("\t"))
        .mkString("\n")
      if (tsv.exists(!_.isWhitespace)) { out += Text(tsv); () }
    }
  }

  /** Inline-only processing for a keep-arg command argument. */
  private def inlineText(arg: String, inlineOf: String => String): String =
    inlineOf(arg)

  private def normWs(t: String): String =
    t.split("\n", -1).map(_.trim.replaceAll("[ \\t]+", " "))
      .mkString("\n").trim
}
