package graft.gen

/** Deterministic Jupyter-notebook fixtures + generator ground truth —
  * the fixture behind `ex_ipynb`. JSON is assembled by HAND (string
  * building + a local escaper, like [[JsonlGen]]) — the reader parses
  * with Jackson, so the two sides share no serialization code — and
  * the `expected*` rows are written from the cell contents this
  * generator chose, never computed by the parser.
  *
  * Variant mix (`i % 8`):
  *   0 — v4 basics: markdown heading+paragraph, code cell with an
  *       ARRAY source, a `stream` output that must DROP;
  *   1 — markdown attachment image (genuine PNG, MIME base64 with an
  *       embedded newline) at tag position + a pipe table (the md
  *       table vocabulary applies inside notebooks);
  *   2 — code outputs: an `execute_result` text/plain repr (kept as a
  *       verbatim block) and a `display_data` carrying BOTH image/png
  *       and text/plain (the image wins);
  *   3 — a `raw` cell (drops) + an EXTERNAL image URL passing
  *       verbatim;
  *   4 — nbformat 3: `worksheets[0].cells`, code source under
  *       `input`, `pyout` outputs with bare `png`/`text` keys;
  *   5 — malformed JSON: the notebook must yield NOTHING;
  *   6 — JSON `\u00e9` escapes decode; an empty code cell and an
  *       `error` output vanish;
  *   7 — a ghost `attachment:` ref (no matching attachment) drops its
  *       media span but keeps the alt text (the `.doc` ghost-anchor
  *       rule).
  */
object NbGen {

  def fileName(i: Int): String = f"nb_$i%04d.ipynb"

  private def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  /** MIME base64 with a newline mid-stream — the on-disk notebook
    * convention (nbformat wraps long payloads).
    */
  private def b64(bytes: Array[Byte]): String = {
    val full = java.util.Base64.getEncoder.encodeToString(bytes)
    if (full.length > 16) full.substring(0, 16) + "\\n" + full.substring(16)
    else full
  }

  /** One cell object; `source` is emitted as an ARRAY of line strings
    * when `arraySource` (lines re-split on `\n`, terminators kept).
    */
  private def srcJson(src: String, arraySource: Boolean): String =
    if (!arraySource) "\"" + esc(src) + "\""
    else {
      val parts = src.split("(?<=\n)", -1).filter(_.nonEmpty)
      parts.map(p => "\"" + esc(p) + "\"").mkString("[", ", ", "]")
    }

  private def mdCell(src: String, arraySource: Boolean = false,
                     attachments: String = ""): String = {
    val att = if (attachments.isEmpty) ""
      else s""", "attachments": {$attachments}"""
    s"""{"cell_type": "markdown", "metadata": {}, "source": ${
      srcJson(src, arraySource)}$att}"""
  }

  private def codeCell(src: String, arraySource: Boolean = false,
                       outputs: Seq[String] = Nil): String =
    s"""{"cell_type": "code", "execution_count": 1, "metadata": {}, """ +
      s""""source": ${srcJson(src, arraySource)}, "outputs": [${
        outputs.mkString(", ")}]}"""

  private def nb4(cells: Seq[String]): String =
    s"""{"nbformat": 4, "nbformat_minor": 5, "metadata": {"kernelspec": """ +
      s"""{"name": "python3"}}, "cells": [${cells.mkString(",\n")}]}"""

  // ---------- per-variant content ----------

  private def md0(i: Int) =
    s"# Notebook $i\n\nIntro paragraph mentions m${(i * 67) % 883}."
  private def code0(i: Int) =
    s"import math\nprint(math.pi * $i)"

  private def tsv1(i: Int) =
    s"a\tb\n$i\tm${(i * 71) % 883}"

  private def code2(i: Int) = s"x = $i\nx * 2"

  private def url3(i: Int) = s"https://img.example.org/c$i.png"

  def fileBytes(i: Int): Array[Byte] = {
    val json = (i % 8) match {
      case 0 =>
        nb4(Seq(
          mdCell(md0(i)),
          codeCell(code0(i) + "\n", arraySource = true, outputs = Seq(
            s"""{"output_type": "stream", "name": "stdout", "text": ["${
              esc(s"${math.Pi * i}\n")}"]}"""))))
      case 1 =>
        nb4(Seq(
          mdCell(s"Plot for run $i:\n\n![curve](attachment:plot.png)",
            attachments =
              s""""plot.png": {"image/png": "${b64(PptGen.pngPayload(i))}"}"""),
          mdCell(s"| a | b |\n| - | - |\n| $i | m${(i * 71) % 883} |",
            arraySource = true)))
      case 2 =>
        nb4(Seq(
          codeCell(code2(i), arraySource = true, outputs = Seq(
            s"""{"output_type": "execute_result", "execution_count": 1, """ +
              s""""metadata": {}, "data": {"text/plain": ["${i * 2}"]}}""",
            s"""{"output_type": "display_data", "metadata": {}, "data": """ +
              s"""{"image/png": "${b64(PptGen.pngPayload(i))}", """ +
              s""""text/plain": ["<Figure>"]}}"""))))
      case 3 =>
        nb4(Seq(
          s"""{"cell_type": "raw", "metadata": {}, "source": "$$x_$i$$"}""",
          mdCell(s"See ![chart $i](${url3(i)}) inline.")))
      case 4 =>
        s"""{"nbformat": 3, "nbformat_minor": 0, "metadata": {}, """ +
          s""""worksheets": [{"cells": [""" +
          s"""{"cell_type": "markdown", "source": ["Legacy *sheet* $i."]}, """ +
          s"""{"cell_type": "code", "language": "python", "input": """ +
          s"""["print($i)"], "outputs": [""" +
          s"""{"output_type": "pyout", "png": "${b64(PptGen.pngPayload(i))}", """ +
          s""""text": ["<img>"]}, """ +
          s"""{"output_type": "pyout", "text": ["$i"]}]}]}]}"""
      case 5 =>
        s"""{"cells": [{"cell_type": "markdown", "source": "trunc $i"""
      case 6 =>
        // the markdown source is authored as a raw JSON \u escape (one
        // backslash on disk) — hand-built, NOT through esc/srcJson,
        // which would double-escape it
        nb4(Seq(
          "{\"cell_type\": \"markdown\", \"metadata\": {}, " +
            "\"source\": \"Caf\\u00e9 notes " + i + ".\"}",
          codeCell("", outputs = Seq(
            s"""{"output_type": "error", "ename": "ValueError", """ +
              s""""evalue": "bad $i", "traceback": ["tb"]}""")),
          codeCell(" \n")))
      case _ =>
        nb4(Seq(
          mdCell(s"Missing ![ghost](attachment:gone.png) stays text $i."),
          codeCell(s"y = $i")))
    }
    json.getBytes(java.nio.charset.StandardCharsets.UTF_8)
  }

  def write(dir: String, n: Int): Unit =
    (0 until n).foreach { i =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, fileName(i)), fileBytes(i)): Unit
    }

  /** Hand-written ground truth per variant. In-file media refs carry
    * the `<file>#<ref>` shape; the driver query reduces full refs to
    * their `/`-tail, so EXTERNAL url refs appear as their last path
    * segment (the ex_eml/ex_mixed convention).
    */
  def expectedDoc(i: Int): Seq[GtRow] = {
    val f = fileName(i)
    def txt(t: String) = (("text", t, null): (String, String, String))
    def img(ref: String) = (("image", null, ref): (String, String, String))
    val blocks: Seq[(String, String, String)] = (i % 8) match {
      case 0 => Seq(
        txt(s"Notebook $i"),
        txt(s"Intro paragraph mentions m${(i * 67) % 883}."),
        txt(code0(i)))
      case 1 => Seq(
        txt(s"Plot for run $i:"),
        img(s"$f#att0:plot.png"),
        txt("curve"),
        txt(tsv1(i)))
      case 2 => Seq(
        txt(code2(i)),
        txt(s"${i * 2}"),
        img(s"$f#out0:1"))
      case 3 => Seq(
        img(s"c$i.png"), // external url reduced to its /-tail
        txt(s"See chart $i inline."))
      case 4 => Seq(
        txt(s"Legacy *sheet* $i."),
        txt(s"print($i)"),
        img(s"$f#out1:0"),
        txt(s"$i"))
      case 5 => Nil // malformed: dropped
      case 6 => Seq(txt(s"Café notes $i."))
      case _ => Seq(
        txt(s"Missing ghost stays text $i."),
        txt(s"y = $i"))
    }
    blocks.zipWithIndex.map { case ((k, t, m), o) => GtRow(f, k, t, m, o) }
  }

  def expected(n: Int): Seq[GtRow] = (0 until n).flatMap(expectedDoc)
}
