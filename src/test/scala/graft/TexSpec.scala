package graft

import graft.extract.TexExtractor
import graft.extract.Item.{Media, Text}
import graft.gen.TexGen
import graft.sources.RawFiles
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** LaTeX front end: the detex machine (comments, groups, commands,
  * math, environments, tabular TSV, accents) against TexGen's
  * hand-assembled ground truth, plus pins and the corruption storm.
  */
class TexSpec extends AnyFunSuite with BeforeAndAfterAll with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def tex(body: String): String =
    s"\\documentclass{article}\n\\begin{document}\n$body\n\\end{document}\n"

  test("pins: comments, escapes, math, dashes, quotes, unknown commands") {
    assert(TexExtractor.items(tex("half % comment\nkept line")) ==
      Vector(Text("half kept line")))
    assert(TexExtractor.items(tex("""50\% \& \$5 \_x \{y\} \#2""")) ==
      Vector(Text("50% & $5 _x {y} #2")))
    assert(TexExtractor.items(tex("$a+b$ then \\[c=d\\] end")) ==
      Vector(Text("a+b then c=d end")))
    assert(TexExtractor.items(tex("x --- y -- z ``q'' w")) ==
      Vector(Text("x — y – z “q” w")))
    assert(TexExtractor.items(tex("\\alpha\\beta{kept} \\cite{x} tail")) ==
      Vector(Text("kept tail")))
    assert(TexExtractor.items(tex("a~b\\\\c")) ==
      Vector(Text("a b\nc")))
    // preamble text never leaks
    assert(TexExtractor.items(
      "\\documentclass{article}\nleaky preamble\n\\begin{document}\nbody only\n\\end{document}") ==
      Vector(Text("body only")))
  }

  test("pins: headings, nested wrappers, tabular, verbatim, accents") {
    assert(TexExtractor.items(tex("\\section*{Star Head}\npara")) ==
      Vector(Text("Star Head"), Text("para")))
    assert(TexExtractor.items(tex("\\emph{\\textbf{deep} nest} flat")) ==
      Vector(Text("deep nest flat")))
    val tab = tex("\\begin{tabular}{ll}\na & b \\\\\nc \\& d & e \\\\\n\\end{tabular}")
    assert(TexExtractor.items(tab) ==
      Vector(Text("a\tb\nc & d\te")))
    assert(TexExtractor.items(tex(
      "\\begin{verbatim}\nraw \\emph{not} processed\n\\end{verbatim}")) ==
      Vector(Text("raw \\emph{not} processed")))
    assert(TexExtractor.items(tex("Caf\\'e \\\"o \\~n")) ==
      Vector(Text("Café ö ñ")))
    // unterminated environment degrades, never throws
    assert(TexExtractor.items(tex("\\begin{tabular}{l}\nx & y"))
      .nonEmpty)
  }

  test("isTex magic: documentclass head required; prose stays text; misnamed .txt reroutes") {
    assert(TexExtractor.isTex(TexGen.fileBytes(0)))
    assert(!TexExtractor.isTex("plain words".getBytes("UTF-8")))
    assert(!TexExtractor.isTex(
      "prose mentioning \\documentclass later".getBytes("UTF-8")))
    // comments before the documentclass are fine
    assert(TexExtractor.isTex(
      "% arXiv header\n\\documentclass{article}".getBytes("UTF-8")))
    val docs = RawFiles.decodeAny("paper.txt", TexGen.fileBytes(0), "")
    assert(docs.head.spans.head.text == "The Study 0")
    val prose = RawFiles.decodeAny("note.txt", "just words".getBytes("UTF-8"), "")
    assert(prose.head.spans.head.text == "just words")
  }

  test("ingest e2e: 24 generated papers match TexGen ground truth exactly") {
    val dir = tempDir("graft-tex-spec")
    TexGen.write(dir.toString, 24)
    val got = RawFiles.read(spark, dir.toString).collect()
      .flatMap(d => d.spans.map(sp => (d.doc_id, sp.kind,
        Option(sp.text).orNull, Option(sp.media_ref).orNull, sp.offset)))
      .sortBy(r => (r._1, r._5))
    val want = TexGen.expected(24)
      .map(r => (r.doc_id, r.kind, r.text, r.media_ref, r.ord))
      .sortBy(r => (r._1, r._5))
    assert(got.length == want.length,
      got.take(10).mkString("\n") + "\n---\n" + want.take(10).mkString("\n"))
    got.zip(want).foreach { case (g, w) => assert(g == w, s"\ngot  $g\nwant $w") }
    dir.toFile.listFiles.foreach(_.delete()); dir.toFile.delete(): Unit
  }

  test("mutation storm: corruption and truncation never crash the detex machine") {
    val rnd = new scala.util.Random(20260821L)
    val seeds = (0 until 8).map(TexGen.fileBytes)
    (0 until 300).foreach { k =>
      val base = seeds(k % seeds.length).clone()
      (0 until 1 + rnd.nextInt(8)).foreach { _ =>
        base(rnd.nextInt(base.length)) = rnd.nextInt(256).toByte
      }
      val _ = RawFiles.decodeAny("f.tex", base, "")
    }
    val whole = new String(TexGen.fileBytes(2), "UTF-8")
    (1 until whole.length by 17).foreach { n =>
      val _ = TexExtractor.items(whole.substring(0, n))
    }
  }
}
