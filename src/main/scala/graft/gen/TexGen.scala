package graft.gen

import java.nio.file.{Files, Paths}

/** Deterministic LaTeX corpus: the ground-truth side of the
  * [[graft.extract.TexExtractor]] front end (the arXiv source class).
  * Every document is assembled HERE with its markup written out by
  * hand, so `expected` is independent of the parser. Eight variants
  * cycle:
  *
  *   0  title + section + paragraphs with \emph/\textbf, comments,
  *      ties, em-dashes, curly quotes
  *   1  inline + display math (delimiters dropped, \alpha dropped),
  *      escapes
  *   2  table environment: caption + tabular → one TSV block
  *   3  figure: \includegraphics media at tag position + caption
  *   4  verbatim block kept raw
  *   5  itemize flowing into one block; footnote dropped
  *   6  accents + \url kept
  *   7  bare fragment without \begin{document} (tolerance path)
  */
object TexGen {

  def fileName(i: Int): String = f"paper$i%05d_v${i % 8}.tex"

  private def pre(i: Int): String =
    s"\\documentclass{article}\n\\usepackage{graphicx}\n% preamble comment $i\n"

  private def contentOf(i: Int): String = (i % 8) match {
    case 0 =>
      pre(i) +
      s"\\begin{document}\n\\title{The Study $i}\n" +
      s"\\section{Introduction}\n" +
      s"We \\emph{carefully} study system~$i. % trailing comment\n" +
      s"It improves --- dramatically -- on ``prior'' work.\n\n" +
      s"\\textbf{Second} paragraph of paper $i stands alone.\n" +
      "\\end{document}\n"
    case 1 =>
      pre(i) +
      s"\\begin{document}\nEnergy is $$E = mc^2$$ and \\(x_1 < y\\) " +
      "holds with 50\\% margin \\& cost \\$" + i + s", index x\\_$i.\n\n" +
      s"The value \\alpha vanishes but \\unknowncmd{kept text $i} stays.\n" +
      "\\end{document}\n"
    case 2 =>
      pre(i) +
      s"\\begin{document}\n\\begin{table}\n\\caption{Results table $i}\n" +
      "\\begin{tabular}{lrr}\n\\hline\n" +
      s"name & qty & note \\\\\nalpha $i & ${(i * 7) % 100} & fine \\\\\n" +
      "\\hline\n\\end{tabular}\n\\end{table}\n\n" +
      s"Discussion paragraph follows the table in paper $i.\n" +
      "\\end{document}\n"
    case 3 =>
      pre(i) +
      s"\\begin{document}\nBefore the figure in paper $i.\n\n" +
      "\\begin{figure}\n\\includegraphics[width=0.8\\textwidth]" +
      s"{plots/fig$i.png}\n\\caption{Training curve $i}\n\\end{figure}\n\n" +
      s"After the figure, analysis continues for $i.\n\\end{document}\n"
    case 4 =>
      pre(i) +
      s"\\begin{document}\nCode listing for run $i:\n\n" +
      s"\\begin{verbatim}\ndef f(x): # raw $i\n  return x * 2\n\\end{verbatim}\n\n" +
      s"Prose resumes after the listing $i.\n\\end{document}\n"
    case 5 =>
      pre(i) +
      s"\\begin{document}\n\\begin{itemize}\n\\item first point $i\n" +
      s"\\item second point\\footnote{dropped note $i} continues\n" +
      "\\end{itemize}\n" +
      s"Closing remark\\footnote{also dropped} for paper $i.\n" +
      "\\end{document}\n"
    case 6 =>
      pre(i) +
      s"\\begin{document}\nCaf\\'e r\\'esum\\'e na\\~na stra\\ss? " +
      s"Details at \\url{https://example.org/p$i} today.\n\\end{document}\n"
    case _ =>
      s"A bare fragment paragraph of source $i without a document " +
      "wrapper.\n\n" +
      s"\\section{Fragment Head $i}\nTail paragraph reads too.\n"
  }

  def fileBytes(i: Int): Array[Byte] =
    contentOf(i).getBytes(java.nio.charset.StandardCharsets.UTF_8)

  def write(dir: String, n: Int): Unit = {
    Files.createDirectories(Paths.get(dir))
    (0 until n).foreach { i =>
      Files.write(Paths.get(dir, fileName(i)), fileBytes(i)): Unit
    }
  }

  /** Ground truth rows for ex_tex, in span order. */
  def expected(n: Int): Seq[GtRow] = (0 until n).flatMap(expectedDoc)

  def expectedDoc(i: Int): Seq[GtRow] = {
    val f = fileName(i)
    def t(s: String, k: Int) = GtRow(f, "text", s, null, k)
    (i % 8) match {
      case 0 => Seq(
        t(s"The Study $i", 0),
        t("Introduction", 1),
        t(s"We carefully study system $i. It improves — dramatically – on “prior” work.", 2),
        t(s"Second paragraph of paper $i stands alone.", 3))
      case 1 => Seq(
        t(s"Energy is E = mc^2 and x_1 < y holds with 50% margin & cost $$$i, index x_$i.", 0),
        t(s"The value vanishes but kept text $i stays.", 1))
      case 2 => Seq(
        t(s"Results table $i", 0),
        t(s"name\tqty\tnote\nalpha $i\t${(i * 7) % 100}\tfine", 1),
        t(s"Discussion paragraph follows the table in paper $i.", 2))
      case 3 => Seq(
        t(s"Before the figure in paper $i.", 0),
        GtRow(f, "image", null, s"plots/fig$i.png", 1),
        t(s"Training curve $i", 2),
        t(s"After the figure, analysis continues for $i.", 3))
      case 4 => Seq(
        t(s"Code listing for run $i:", 0),
        t(s"def f(x): # raw $i\n  return x * 2", 1),
        t(s"Prose resumes after the listing $i.", 2))
      case 5 => Seq(
        t(s"first point $i second point continues", 0),
        t(s"Closing remark for paper $i.", 1))
      case 6 => Seq(
        t(s"Café résumé naña stra? Details at https://example.org/p$i today.", 0))
      case _ => Seq(
        t(s"A bare fragment paragraph of source $i without a document wrapper.", 0),
        t(s"Fragment Head $i", 1),
        t("Tail paragraph reads too.", 2))
    }
  }
}
