package graft

import graft.extract.MdExtractor
import graft.extract.Item
import graft.extract.Item.{Media, Text}
import org.scalatest.funsuite.AnyFunSuite

/** Markdown front-end spec: pinned behaviors + dual-implementation
  * parity. The twin ([[MdSpec.twinItems]]) re-implements the
  * MdExtractor scaladoc spec with a different machine — string-level
  * fence scanning + functional block folding + findAllMatchIn media
  * collection, vs the production line-state loop.
  */
class MdSpec extends AnyFunSuite {

  // ---------- the twin ----------

  def twinItems(md: String): Vector[Item] = {
    def kindOf(url: String): String = {
      val base = url.split("[?#]", 2)(0)
      val e = if (base.contains('.')) base.split('.').last.toLowerCase else ""
      Map("mp3" -> "audio", "wav" -> "audio", "flac" -> "audio",
        "mp4" -> "video", "mkv" -> "video", "webm" -> "video")
        .getOrElse(e, "image")
    }
    val ref = "(!?)\\[([^\\]]*)\\]\\(\\s*([^)\\s]*)(?:\\s+\"[^\"]*\")?\\s*\\)".r
    // segment the line list into (isFence, lines) groups first
    val split0 = md.split("\n", -1).toVector
    val linesAll = (if (split0.nonEmpty && split0.last.isEmpty) split0.init
                    else split0).map(_.stripSuffix("\r"))
    // front matter: independent re-derivation of the drop rule
    val lines =
      if (linesAll.headOption.exists(_.trim == "---")) {
        val close = linesAll.zipWithIndex.drop(1).find { case (l, _) =>
          l.trim == "---" || l.trim == "..."
        }
        close match {
          case Some((_, at)) => linesAll.drop(at + 1)
          case None          => linesAll
        }
      } else linesAll
    final case class Seg(fence: Boolean, lines: Vector[String])
    val segs = Vector.newBuilder[Seg]
    var i = 0
    while (i < lines.length) {
      val t = lines(i).trim
      if (t.startsWith("```")) {
        val n = t.takeWhile(_ == '`').length
        var j = i + 1
        val buf = Vector.newBuilder[String]
        var closed = false
        while (j < lines.length && !closed) {
          val tj = lines(j).trim
          val ticks = tj.takeWhile(_ == '`').length
          if (ticks >= n && tj.forall(_ == '`')) closed = true
          else { buf += lines(j); j += 1 }
        }
        segs += Seg(fence = true, buf.result())
        i = j + 1
      } else {
        var j = i
        val buf = Vector.newBuilder[String]
        while (j < lines.length && !lines(j).trim.startsWith("```")) {
          buf += lines(j); j += 1
        }
        segs += Seg(fence = false, buf.result())
        i = j
      }
    }
    val out = Vector.newBuilder[Item]
    def emitProse(line: String): String = {
      // media first (document order within the line), then the text form
      ref.findAllMatchIn(line).foreach { m =>
        if (m.group(1) == "!" && m.group(3).nonEmpty)
          out += Media(kindOf(m.group(3)), m.group(3), false)
      }
      ref.replaceAllIn(line,
        m => java.util.regex.Matcher.quoteReplacement(m.group(2)))
    }
    @annotation.tailrec
    def dropQuote(s: String): String = {
      val t = s.dropWhile(_ == ' ')
      if (!t.startsWith(">")) s
      else {
        val r = t.substring(1)
        dropQuote(if (r.startsWith(" ")) r.substring(1) else r)
      }
    }
    def strip(line: String): String =
      dropQuote(line).replaceFirst("^\\s*(?:[-*+]|\\d{1,9}\\.)\\s+", "")
    segs.result().foreach { seg =>
      if (seg.fence) {
        if (seg.lines.exists(_.exists(!_.isWhitespace)))
          out += Text(seg.lines.mkString("\n"))
      } else {
        // fold prose lines into paragraphs split on blanks/headings;
        // group `|` runs first and test the GitHub delimiter row
        val para = Vector.newBuilder[String]
        def flush(): Unit = {
          val t = para.result().mkString(" ").replaceAll("\\s+", " ").trim
          if (t.nonEmpty) out += Text(t)
          para.clear()
        }
        def cells(s: String): Vector[String] = {
          val x = s.trim.stripPrefix("|")
          val y = if (x.endsWith("|")) x.dropRight(1) else x
          y.split("\\|", -1).toVector
        }
        val ls = seg.lines
        var li = 0
        while (li < ls.length) {
          val line = ls(li)
          val t = line.trim
          if (t.startsWith("|")) {
            var j = li
            while (j < ls.length && ls(j).trim.startsWith("|")) j += 1
            val run = ls.slice(li, j)
            val isTable = run.length >= 2 &&
              cells(run(1)).forall(_.trim.matches(":?-+:?"))
            if (isTable) {
              flush()
              val tsv = (run.head +: run.drop(2)).map(l =>
                cells(l).map(c => emitProse(c).replaceAll("\\s+", " ")
                  .trim).mkString("\t")).mkString("\n")
              out += Text(tsv)
            } else run.foreach(l => para += emitProse(strip(l)))
            li = j
          } else {
            val h = "^(#{1,6}) (.*)$".r.findFirstMatchIn(t)
            if (t.isEmpty) flush()
            else if (h.isDefined) {
              flush()
              val txt = emitProse(h.get.group(2))
                .replaceAll("\\s+", " ").trim
              if (txt.nonEmpty) out += Text(txt)
            } else para += emitProse(strip(line))
            li += 1
          }
        }
        flush()
      }
    }
    out.result()
  }

  // ---------- pinned behaviors ----------

  test("headings, soft wrap, blank separation, markers stripped") {
    val md =
      """# Title here
        |
        |First paragraph line one
        |line two joins with a space.
        |
        |> quoted line m1
        |> and its continuation
        |
        |- item one
        |- item two joins the run
        |2. ordinal item too
        |
        |###### deep heading
        |####### seven hashes is prose""".stripMargin
    assert(MdExtractor.items(md) == Vector(
      Text("Title here"),
      Text("First paragraph line one line two joins with a space."),
      Text("quoted line m1 and its continuation"),
      Text("item one item two joins the run ordinal item too"),
      Text("deep heading"),
      Text("####### seven hashes is prose")))
  }

  test("images emit at tag position and read as alt; links read as text") {
    val md =
      """Intro with a [useful link](https://a.example/p "Title") kept.
        |
        |Before ![chart one](fig1.png) after ![clip](v.mp4?t=3) done.
        |
        |![](noalt.gif) and [no-url]() stays text, ![alt-only]() too.""".stripMargin
    assert(MdExtractor.items(md) == Vector(
      Text("Intro with a useful link kept."),
      Media("image", "fig1.png", false),
      Media("video", "v.mp4?t=3", false),
      Text("Before chart one after clip done."),
      Media("image", "noalt.gif", false),
      Text("and no-url stays text, alt-only too.")))
  }

  test("fences: verbatim interior, count-matched closing, unclosed to EOF") {
    val md =
      "para before\n\n" +
        "````md\n```\ninner ![not](a.png) stays\n\n   literal  spacing\n````\n" +
        "after\n\n```\nunclosed tail\n"
    assert(MdExtractor.items(md) == Vector(
      Text("para before"),
      Text("```\ninner ![not](a.png) stays\n\n   literal  spacing"),
      Text("after"),
      Text("unclosed tail")))
  }

  test("pipe tables: TSV block, delimiter row dropped, non-tables stay prose") {
    val md =
      """Intro para before the table
        || name | qty |
        || :--- | ---: |
        || alpha [a link](http://x.example/p) | 3 |
        || beta ![pic](t.png) | 4 | extra |
        |after para
        |
        || no | delimiter |
        || just | prose |
        |
        || lone pipe line""".stripMargin
    assert(MdExtractor.items(md) == Vector(
      Text("Intro para before the table"),
      Media("image", "t.png", false),
      Text("name\tqty\nalpha a link\t3\nbeta pic\t4\textra"),
      Text("after para"),
      Text("| no | delimiter | | just | prose |"),
      Text("| lone pipe line")))
    // ragged + outer-pipe-free rows, table at EOF
    assert(MdExtractor.items("a | b\n| h1 | h2 |\n|---|---|\n| x |") ==
      Vector(Text("a | b"), Text("h1\th2\nx")))
  }

  test("media kind by extension; crlf input") {
    assert(MdExtractor.mediaKind("a/b.JPEG?x=1") == "image")
    assert(MdExtractor.mediaKind("pod.mp3#t") == "audio")
    assert(MdExtractor.mediaKind("bare") == "image")
    assert(MdExtractor.items("# A\r\n\r\nline one\r\nline two\r\n") ==
      Vector(Text("A"), Text("line one line two")))
  }

  test("YAML front matter drops; unclosed or mid-file --- stays content") {
    // closed front matter: keys never become text
    assert(MdExtractor.items(
      "---\ntitle: X\ntags: [a]\n---\nBody text here.\n") ==
      Vector(Text("Body text here.")))
    // `...` closes too (the Pandoc form)
    assert(MdExtractor.items("---\nkey: v\n...\nAfter.\n") ==
      Vector(Text("After.")))
    // unclosed: the --- reads as content (degrade, don't eat the doc)
    assert(MdExtractor.items("---\njust: maybe\nprose line\n") ==
      Vector(Text("--- just: maybe prose line")))
    // a --- after line 0 is ordinary content
    assert(MdExtractor.items("lead\n---\nkey: v\n---\ntail\n") ==
      Vector(Text("lead --- key: v --- tail")))
    // front-matter-only file vanishes
    assert(MdExtractor.items("---\nonly: meta\n---\n").isEmpty)
  }

  // ---------- dual-impl parity ----------

  test("line machine == segment/regex twin on random and generator docs") {
    var seed = 246813579
    def next(n: Int): Int = { seed = seed * 1103515245 + 12347; math.abs(seed) % n }
    val frags = Vector("plain words here", "# Head {}", "## Two ##",
      "- item m", "1. ordinal", "> quote line", "```", "````scala",
      "code interior ![x](y.png)", "", "   ", "soft wrap tail",
      "with ![alt text](img_0.png) inline", "a [link](http://x.example/q) here",
      "![clip](v.webm) lead", "mixed > not a quote",
      "| c1 | c2 |", "| --- | :-: |", "| v1 | ![t](u.png) v2 |",
      "| lone", "|-|", "---", "title: Random Post", "...")
    (0 until 80).foreach { _ =>
      val doc = (0 until 3 + next(18)).map(_ => frags(next(frags.size)))
        .mkString("\n")
      assert(MdExtractor.items(doc) == twinItems(doc), s"doc:\n$doc")
    }
    // the MixedGen driver-visible variant, exactly as written to disk
    (0 until 30).foreach { k =>
      val i = 22 * k + 9
      val md = new String(graft.gen.MixedGen.fileBytes(i), "UTF-8")
      assert(MdExtractor.items(md) == twinItems(md))
      assert(MdExtractor.items(md).nonEmpty)
    }
  }
}
