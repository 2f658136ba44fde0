package graft

import graft.extract.DocxExtractor
import graft.extract.Item
import graft.extract.Item.{Media, Text}
import org.scalatest.funsuite.AnyFunSuite

import java.io.ByteArrayOutputStream
import java.util.zip.{ZipEntry, ZipOutputStream}

/** DOCX front-end spec: pinned behaviors + dual-implementation parity.
  *
  * The twin ([[DocxSpec.domItems]]) re-implements the DocxExtractor
  * scaladoc spec INDEPENDENTLY on top of the JDK's namespace-aware DOM
  * parser — a different XML machine entirely (real parser vs hand
  * scanner), so agreement pins the spec, not the implementation.
  */
class DocxSpec extends AnyFunSuite {

  // ---------- docx builder (test-local, deterministic) ----------

  def zip(entries: (String, Array[Byte])*): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val z = new ZipOutputStream(bos)
    entries.foreach { case (name, bytes) =>
      val e = new ZipEntry(name)
      e.setTime(0L)
      z.putNextEntry(e); z.write(bytes); z.closeEntry()
    }
    z.close()
    bos.toByteArray
  }

  def docx(documentXml: String, relsXml: String = null,
           media: Seq[(String, Array[Byte])] = Nil): Array[Byte] = {
    val base = Seq(
      "[Content_Types].xml" ->
        ("""<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
         """<Default Extension="xml" ContentType="application/xml"/></Types>""").getBytes("UTF-8"),
      "word/document.xml" -> documentXml.getBytes("UTF-8"))
    val rels = Option(relsXml).map(r =>
      "word/_rels/document.xml.rels" -> r.getBytes("UTF-8")).toSeq
    zip((base ++ rels ++ media.map { case (n, b) => s"word/$n" -> b }): _*)
  }

  def wrap(body: String): String =
    """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
      """<w:document xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main"""" +
      """ xmlns:a="http://schemas.openxmlformats.org/drawingml/2006/main"""" +
      """ xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">""" +
      s"<w:body>$body</w:body></w:document>"

  def relsOf(pairs: (String, String)*): String =
    """<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
      pairs.map { case (id, t) =>
        s"""<Relationship Id="$id" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/image" Target="$t"/>"""
      }.mkString + "</Relationships>"

  def p(runs: String*): String =
    s"<w:p><w:pPr><w:jc w:val='left'/></w:pPr>${runs.mkString}</w:p>"
  def r(t: String): String = s"<w:r><w:rPr/><w:t>$t</w:t></w:r>"
  def blip(id: String): String =
    "<w:r><w:drawing><a:graphic><a:graphicData>" +
      s"""<a:blip r:embed="$id"/>""" +
      "</a:graphicData></a:graphic></w:drawing></w:r>"

  def tc(paras: String*): String = s"<w:tc><w:tcPr/>${paras.mkString}</w:tc>"
  def tr(cells: String*): String = s"<w:tr><w:trPr/>${cells.mkString}</w:tr>"
  def tbl(rows: String*): String =
    s"<w:tbl><w:tblPr/><w:tblGrid/>${rows.mkString}</w:tbl>"

  // ---------- the DOM twin ----------

  /** Spec re-implementation over javax.xml DOM (namespace-aware). */
  def domItems(bytes: Array[Byte]): Vector[Item] = {
    import org.w3c.dom.{Element, Node}
    def parse(b: Array[Byte]): Element = {
      val f = javax.xml.parsers.DocumentBuilderFactory.newInstance()
      f.setNamespaceAware(true)
      f.newDocumentBuilder()
        .parse(new java.io.ByteArrayInputStream(b)).getDocumentElement
    }
    def unzip(name: String): Option[Array[Byte]] = {
      val z = new java.util.zip.ZipInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try Iterator.continually(z.getNextEntry).takeWhile(_ != null)
        .collectFirst { case e if e.getName == name => z.readAllBytes() }
      finally z.close()
    }
    val doc = parse(unzip("word/document.xml").get)
    val rels: Map[String, String] =
      unzip("word/_rels/document.xml.rels").map { rb =>
        val root = parse(rb)
        val ns = root.getElementsByTagNameNS("*", "Relationship")
        (0 until ns.getLength).map(ns.item(_).asInstanceOf[Element])
          .filter(e => e.hasAttribute("Id") && e.hasAttribute("Target"))
          .map(e => e.getAttribute("Id") -> e.getAttribute("Target"))
          .reverse.toMap // first Id wins
      }.getOrElse(Map.empty)

    def kindOf(t: String): String = t.split('.').last.toLowerCase match {
      case "mp3" | "wav" | "flac" => "audio"
      case "mp4" | "mkv" | "webm" => "video"
      case _                      => "image"
    }
    val out = Vector.newBuilder[Item]
    def emitBlip(e: Element): Unit = {
      val id = e.getAttribute("r:embed")
      if (id.nonEmpty) rels.get(id).foreach(t => out += Media(kindOf(t), t, true))
    }
    // walk in document order; inside a w:p, accumulate text and emit the
    // Text item at its close (blips inside emit immediately = before it)
    def walkPara(n: Node, sb: StringBuilder): Unit = {
      var c = n.getFirstChild
      while (c != null) {
        c match {
          case e: Element => e.getNodeName match {
            case "w:t" => sb.append(e.getTextContent)
            case "w:tab" => sb.append('\t')
            case "w:br" | "w:cr" => sb.append('\n')
            case "a:blip" => emitBlip(e); walkPara(e, sb)
            case _ => walkPara(e, sb)
          }
          case _ => ()
        }
        c = c.getNextSibling
      }
    }
    // table machinery (the w:tbl spec): cell text flows from the whole
    // w:tc subtree (nested tables flatten), each w:p close appends a
    // space, cells normalize trim+collapse; text outside cells drops
    // but blips anywhere still emit at position.
    def cellWalk(n: Node, sb: StringBuilder): Unit = {
      var c = n.getFirstChild
      while (c != null) {
        c match {
          case e: Element => e.getNodeName match {
            case "w:t" => sb.append(e.getTextContent)
            case "w:tab" => sb.append('\t')
            case "w:br" | "w:cr" => sb.append('\n')
            case "a:blip" => emitBlip(e); cellWalk(e, sb)
            case "w:p" => cellWalk(e, sb); sb.append(' ')
            case _ => cellWalk(e, sb)
          }
          case _ => ()
        }
        c = c.getNextSibling
      }
    }
    def blipOnly(n: Node): Unit = {
      var c = n.getFirstChild
      while (c != null) {
        c match {
          case e: Element if e.getNodeName == "a:blip" =>
            emitBlip(e); blipOnly(e)
          case e: Element => blipOnly(e)
          case _ => ()
        }
        c = c.getNextSibling
      }
    }
    def tableWalk(tbl: Element): Unit = {
      val rows = Vector.newBuilder[Vector[String]]
      var any = false
      var c = tbl.getFirstChild
      while (c != null) {
        c match {
          case tr: Element if tr.getNodeName == "w:tr" =>
            val cells = Vector.newBuilder[String]
            var nc = 0
            var cc = tr.getFirstChild
            while (cc != null) {
              cc match {
                case tc: Element if tc.getNodeName == "w:tc" =>
                  val sb = new StringBuilder
                  cellWalk(tc, sb)
                  cells += sb.toString.trim.replaceAll("\\s+", " ")
                  nc += 1
                case e: Element => blipOnly(e)
                case _ => ()
              }
              cc = cc.getNextSibling
            }
            if (nc > 0) { rows += cells.result(); any = true }
          case e: Element => blipOnly(e)
          case _ => ()
        }
        c = c.getNextSibling
      }
      if (any) {
        val rs = rows.result()
        val width = rs.map(_.length).max
        val tsv = rs.map(_.padTo(width, "").mkString("\t")).mkString("\n")
        if (tsv.exists(!_.isWhitespace)) out += Text(tsv)
      }
    }
    def walk(n: Node): Unit = {
      var c = n.getFirstChild
      while (c != null) {
        c match {
          case e: Element if e.getNodeName == "w:p" =>
            val sb = new StringBuilder
            walkPara(e, sb)
            if (sb.exists(!_.isWhitespace)) out += Text(sb.toString)
          case e: Element if e.getNodeName == "w:tbl" =>
            tableWalk(e)
          case e: Element if e.getNodeName == "a:blip" =>
            emitBlip(e); walk(e)
          case e: Element => walk(e)
          case _ => ()
        }
        c = c.getNextSibling
      }
    }
    walk(doc)
    out.result()
  }

  // ---------- pinned behaviors ----------

  test("paragraph text verbatim; empty and whitespace-only paragraphs skipped") {
    val b = docx(wrap(
      p(r("First paragraph with several words.")) +
      "<w:p/>" + p(r("   ")) + p() +
      p(r("Second "), r("paragraph "), r("from three runs."))))
    assert(DocxExtractor.isDocx(b))
    assert(DocxExtractor.items(b) == Vector(
      Text("First paragraph with several words."),
      Text("Second paragraph from three runs.")))
  }

  test("entities decode; tab/br/cr append; self-closing w:t empty") {
    val b = docx(wrap(
      p(r("caf&#233; &amp; bar &lt;tag&gt; &#x41;"),
        "<w:r><w:tab/><w:t>after tab</w:t><w:br/><w:t/></w:r>") +
      p(r("&unknown; stays &#xD800; literal &#0; too"))))
    assert(DocxExtractor.items(b) == Vector(
      Text("café & bar <tag> A\tafter tab\n"),
      Text("&unknown; stays &#xD800; literal &#0; too")))
  }

  test("blip at tag position precedes its paragraph's text; unresolved rId silent") {
    val b = docx(wrap(
      p(r("Intro paragraph.")) +
      p(r("Figure caption "), blip("rId7"), r("continues after image.")) +
      p(blip("rId404"), r("No image here."))),
      relsOf("rId7" -> "media/image1.png"),
      media = Seq("media/image1.png" -> Array[Byte](1, 2, 3)))
    assert(DocxExtractor.items(b) == Vector(
      Text("Intro paragraph."),
      Media("image", "media/image1.png", true),
      Text("Figure caption continues after image."),
      Text("No image here.")))
  }

  test("media kind by target extension; duplicate rel Id first-wins") {
    val rels = relsOf("rId1" -> "media/clip1.mp4", "rId2" -> "media/pod.mp3",
      "rId3" -> "media/chart.jpeg", "rId1" -> "media/SHADOWED.png")
    val b = docx(wrap(
      p(blip("rId1"), r("v")) + p(blip("rId2"), r("a")) +
      p(blip("rId3"), r("i"))), rels)
    assert(DocxExtractor.items(b).collect { case m: Media => m } == Vector(
      Media("video", "media/clip1.mp4", true), Media("audio", "media/pod.mp3", true),
      Media("image", "media/chart.jpeg", true)))
  }

  test("text outside w:t or outside paragraphs never leaks") {
    val b = docx(wrap(
      "loose body text<w:instrText>FIELD CODE</w:instrText>" +
      "<w:t>orphan w:t outside any paragraph</w:t>" +
      p("<w:pPr><w:t>inside pPr still counts? yes — spec: inside open w:p</w:t></w:pPr>",
        r("real text"))))
    // the spec is positional, not schema-aware: any w:t inside an open
    // paragraph accumulates — pPr interiors included (Word never puts
    // w:t there, so the simplification is unobservable on real files)
    assert(DocxExtractor.items(b) == Vector(
      Text("inside pPr still counts? yes — spec: inside open w:p" +
        "real text")))
  }

  test("w:tbl → one TSV text item at table position; ragged rows pad") {
    val b = docx(wrap(
      p(r("Before the table.")) +
      tbl(tr(tc(p(r("h1"))), tc(p(r("h2"))), tc(p(r("h3")))),
          tr(tc(p(r("a"))), tc(p(r("b"))))) +
      p(r("After the table."))))
    val want = Vector(
      Text("Before the table."),
      Text("h1\th2\th3\na\tb\t"),
      Text("After the table."))
    assert(DocxExtractor.items(b) == want)
    assert(domItems(b) == want)
  }

  test("cells: multi-paragraph space-join, tab/br collapse, entities; empty grid silent") {
    val b = docx(wrap(
      tbl(tr(
        tc(p(r("first")), p(r("second"))),                   // two paras
        tc("<w:p><w:r><w:t>x</w:t><w:tab/><w:t>y</w:t><w:br/><w:t>z</w:t></w:r></w:p>"),
        tc(p(r("caf&#233; &amp; co"))),
        tc(p(r("   "))))) +                                   // ws-only cell
      tbl(tr(tc(p(r("  "))), tc(p())))))                      // all-ws grid
    val want = Vector(Text("first second\tx y z\tcafé & co\t"))
    assert(DocxExtractor.items(b) == want)
    assert(domItems(b) == want)
  }

  test("nested table flattens into host cell; blip in cell precedes the grid; stray text outside cells drops") {
    val inner = tbl(tr(tc(p(r("n1"))), tc(p(r("n2")))))
    val b = docx(wrap(
      tbl("<w:tblPr><w:t>STRAY</w:t></w:tblPr>",
        tr(tc(p(r("host"), blip("rId1")), inner),
           tc(p(r("plain")))))),
      relsOf("rId1" -> "media/fig.png"),
      media = Seq("media/fig.png" -> Array[Byte](7)))
    val want = Vector(
      Media("image", "media/fig.png", true),
      Text("host n1 n2\tplain"))
    assert(DocxExtractor.items(b) == want)
    assert(domItems(b) == want)
  }

  test("unclosed table at EOF emits what it accumulated (scanner degrade)") {
    val b = docx(wrap(
      p(r("intro")) +
      "<w:tbl><w:tr><w:tc><w:p><w:r><w:t>partial</w:t></w:r></w:p></w:tc>"))
    assert(DocxExtractor.items(b) == Vector(
      Text("intro"), Text("partial")))
  }

  test("media payload recovery: word-relative and package-absolute targets") {
    val payload = Array.tabulate[Byte](32)(k => (k * 3).toByte)
    val b = docx(wrap(p(blip("rId1"), r("x"))),
      relsOf("rId1" -> "media/image1.png"),
      media = Seq("media/image1.png" -> payload))
    assert(DocxExtractor.mediaPayload(b, "media/image1.png")
      .get.toSeq == payload.toSeq)
    assert(DocxExtractor.mediaPayload(b, "/word/media/image1.png")
      .get.toSeq == payload.toSeq)
    assert(DocxExtractor.mediaPayload(b, "media/missing.png").isEmpty)
  }

  test("non-docx and corrupted payloads degrade, never throw") {
    assert(!DocxExtractor.isDocx(Array[Byte]()))
    assert(!DocxExtractor.isDocx("plain text".getBytes))
    // a genuine zip WITHOUT word/document.xml is not docx
    assert(!DocxExtractor.isDocx(zip("other.txt" -> "hi".getBytes)))
    // mutation storm over a real docx: isDocx/items must degrade
    val good = docx(wrap(p(r("stable text for the mutation storm")) +
      p(blip("rId1"), r("second"))), relsOf("rId1" -> "media/i.png"),
      media = Seq("media/i.png" -> Array[Byte](9)))
    var seed = 12345
    def next(n: Int): Int = { seed = seed * 1103515245 + 12347; math.abs(seed) % n }
    (0 until 300).foreach { _ =>
      val b = good.clone()
      (0 until 1 + next(20)).foreach(_ => b(next(b.length)) = next(256).toByte)
      if (DocxExtractor.isDocx(b)) DocxExtractor.items(b)
      DocxExtractor.mediaPayload(b, "media/i.png")
    }
  }

  // ---------- dual-impl parity ----------

  test("hand scanner == DOM twin on the generator corpus and random docs") {
    var seed = 987654321
    def next(n: Int): Int = { seed = seed * 1103515245 + 12347; math.abs(seed) % n }
    val words = Vector("alpha", "bravo", "caf&#233;", "&amp;", "delta",
      "x&lt;y", "tabé", "omega")
    (0 until 60).foreach { _ =>
      val nRel = next(3)
      val rels = (0 until nRel).map(k =>
        s"rId$k" -> s"media/part$k.${Vector("png", "mp4", "mp3")(next(3))}")
      val paras = (0 until 1 + next(6)).map { _ =>
        val runs = (0 until next(4)).map { _ =>
          next(5) match {
            case 0 if nRel > 0 => blip(s"rId${next(nRel + 1)}") // may dangle
            case 1 => "<w:r><w:tab/><w:br/></w:r>"
            case _ => r((0 until 1 + next(5)).map(_ => words(next(words.size)))
              .mkString(" "))
          }
        }
        p(runs: _*)
      }
      val tables = (0 until next(3)).map { _ =>
        tbl((0 until 1 + next(3)).map { _ =>
          tr((0 until 1 + next(4)).map { _ =>
            tc((0 until next(3)).map(_ =>
              p(r(words(next(words.size))))): _*)
          }: _*)
        }: _*)
      }
      val body = (paras ++ tables).mkString
      val b = docx(wrap(body),
        if (rels.isEmpty) null else relsOf(rels: _*),
        media = rels.map { case (_, t) =>
          t.stripPrefix("word/") -> Array[Byte](1) })
      assert(DocxExtractor.items(b) == domItems(b))
    }
    // the MixedGen driver-visible variant, exactly as written to disk
    (0 until 30).foreach { k =>
      val i = 22 * k + 8
      val b = graft.gen.MixedGen.fileBytes(i)
      assert(DocxExtractor.isDocx(b))
      assert(DocxExtractor.items(b) == domItems(b))
    }
  }

  test("DocxGen ground truth round-trips through the scanner AND the DOM twin") {
    (0 until 24).foreach { i =>
      val b = graft.gen.DocxGen.fileBytes(i)
      assert(DocxExtractor.isDocx(b))
      val got = DocxExtractor.items(b).map {
        case Text(t) => ("text", t, null: String)
        case Media(k, ref, _) => (k, null: String, ref.split('/').last)
      }
      val want = graft.gen.DocxGen.expectedDoc(i)
        .map(r => (r.kind, r.text, r.media_ref))
      assert(got == want, s"variant $i")
      assert(DocxExtractor.items(b) == domItems(b), s"twin variant $i")
    }
  }
}
