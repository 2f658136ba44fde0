package graft

import graft.extract.PptxExtractor
import graft.extract.Item
import graft.extract.Item.{Media, Text}
import org.scalatest.funsuite.AnyFunSuite

/** PPTX front-end spec: pinned behaviors + dual-implementation parity.
  *
  * The twin ([[PptxSpec.domItems]]) re-implements the PptxExtractor
  * scaladoc spec INDEPENDENTLY: javax.xml namespace-aware DOM for all
  * XML plus java.nio path normalization — different machinery from the
  * hand scanner, so agreement pins the spec.
  */
class PptxSpec extends AnyFunSuite with TempDirs {

  // ---------- the DOM twin ----------

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
    def relsOf(path: String): Map[String, String] =
      unzip(path).map { rb =>
        val ns = parse(rb).getElementsByTagNameNS("*", "Relationship")
        (0 until ns.getLength).map(ns.item(_).asInstanceOf[Element])
          .filter(e => e.hasAttribute("Id") && e.hasAttribute("Target"))
          .map(e => e.getAttribute("Id") -> e.getAttribute("Target"))
          .reverse.toMap
      }.getOrElse(Map.empty)
    def norm(p: String): String =
      java.nio.file.Paths.get(p).normalize.toString
        .split('/').filter(s => s.nonEmpty && s != "..").mkString("/")
    def kindOf(t: String): String = t.split('.').last.toLowerCase match {
      case "mp3" | "wav" | "flac" => "audio"
      case "mp4" | "mkv" | "webm" => "video"
      case _                      => "image"
    }

    val presRels = relsOf("ppt/_rels/presentation.xml.rels")
    val pres = parse(unzip("ppt/presentation.xml").get)
    val slideIds = pres.getElementsByTagNameNS("*", "sldId")
    val parts = (0 until slideIds.getLength)
      .map(slideIds.item(_).asInstanceOf[Element])
      .flatMap { e =>
        val rid = Option(e.getAttributeNS(
          "http://schemas.openxmlformats.org/officeDocument/2006/relationships",
          "id")).filter(_.nonEmpty).getOrElse(e.getAttribute("r:id"))
        presRels.get(rid).map(t =>
          norm(if (t.startsWith("/")) t.substring(1) else "ppt/" + t))
      }

    val out = Vector.newBuilder[Item]
    parts.foreach { part =>
      unzip(part).foreach { sb =>
        val dir = part.substring(0, part.lastIndexOf('/') + 1)
        val rels = relsOf(dir + "_rels/" +
          part.substring(part.lastIndexOf('/') + 1) + ".rels")
        def emitBlip(e: Element): Unit = {
          val id = Option(e.getAttributeNS(
            "http://schemas.openxmlformats.org/officeDocument/2006/relationships",
            "embed")).filter(_.nonEmpty).getOrElse(e.getAttribute("r:embed"))
          if (id.nonEmpty) rels.get(id).foreach { t =>
            val ref = if (t.matches("(?i)^(https?|data):.*")) t
                      else norm(if (t.startsWith("/")) t.substring(1)
                                else dir + t)
            out += Media(kindOf(t), ref,
              !ref.matches("(?i)^(https?|data):.*"))
          }
        }
        def walkPara(n: Node, acc: StringBuilder): Unit = {
          var c = n.getFirstChild
          while (c != null) {
            c match {
              case e: Element => e.getLocalName match {
                case "t"    => acc.append(e.getTextContent)
                case "br"   => acc.append('\n')
                case "blip" => emitBlip(e); walkPara(e, acc)
                case _      => walkPara(e, acc)
              }
              case _ => ()
            }
            c = c.getNextSibling
          }
        }
        // table cell: every a:t concatenates, a:br and paragraph
        // boundaries read as spaces, then an independent normal form
        // (split on whitespace, single-space join)
        def cellText(tc: Element): String = {
          val acc = new StringBuilder
          def w(n: Node): Unit = {
            var c = n.getFirstChild
            while (c != null) {
              c match {
                case e: Element => e.getLocalName match {
                  case "t"    => acc.append(e.getTextContent)
                  case "br"   => acc.append(' ')
                  case "p"    => acc.append(' '); w(e)
                  case "blip" => emitBlip(e); w(e)
                  case _      => w(e)
                }
                case _ => ()
              }
              c = c.getNextSibling
            }
          }
          w(tc)
          acc.toString.split("\\s+").filter(_.nonEmpty).mkString(" ")
        }
        def walk(n: Node): Unit = {
          var c = n.getFirstChild
          while (c != null) {
            c match {
              case e: Element if e.getLocalName == "tbl" =>
                val trN = e.getElementsByTagNameNS("*", "tr")
                val rows = (0 until trN.getLength)
                  .map(trN.item(_).asInstanceOf[Element]).map { tr =>
                    val tcN = tr.getElementsByTagNameNS("*", "tc")
                    (0 until tcN.getLength)
                      .map(tcN.item(_).asInstanceOf[Element])
                      .map(cellText).toVector
                  }.filter(_.nonEmpty)
                if (rows.exists(_.exists(_.nonEmpty)))
                  out += Text(rows.map(_.mkString("\t")).mkString("\n"))
              case e: Element if e.getLocalName == "p" =>
                val acc = new StringBuilder
                walkPara(e, acc)
                if (acc.exists(!_.isWhitespace)) out += Text(acc.toString)
              case e: Element if e.getLocalName == "blip" =>
                emitBlip(e); walk(e)
              case e: Element => walk(e)
              case _ => ()
            }
            c = c.getNextSibling
          }
        }
        walk(parse(sb))
      }
    }
    out.result()
  }

  // ---------- pinned behaviors ----------

  test("PptxGen ground truth == extractor == DOM twin on every fixture") {
    (0 until 48).foreach { i =>
      val b = graft.gen.PptxGen.fileBytes(i)
      val got = PptxExtractor.items(b)
      val exp = graft.gen.PptxGen.expectedDoc(i).map { r =>
        if (r.kind == "text") Text(r.text)
        else Media(r.kind, graft.gen.PptxGen.picPath(i), true)
      }
      assert(got == exp, s"deck $i")
      assert(got == domItems(b), s"deck $i twin")
    }
  }

  test("slide order, ghost slide skip, run concatenation, a:br, blanks") {
    val b = graft.gen.PptxGen.fileBytes(4) // ghost deck (4 % 5 == 4)
    val texts = PptxExtractor.items(b).collect { case Text(t) => t }
    assert(texts.head.startsWith("Deck 4 title & m"))
    assert(texts(1).contains("\n")) // a:br inside the agenda paragraph
    assert(texts.forall(_.exists(!_.isWhitespace))) // ws-only para gone
  }

  test("media at tag position: blip inside the caption's open paragraph") {
    // decks 4 and 2: pic slide is last (no table slide — i % 3 != 0)
    val inPara = PptxExtractor.items(graft.gen.PptxGen.fileBytes(4))
    val outPara = PptxExtractor.items(graft.gen.PptxGen.fileBytes(2))
    def tail(items: Vector[Item]) = items.takeRight(2)
    // both shapes end (media, caption-text) — emission order identical
    assert(tail(inPara).head.isInstanceOf[Media])
    assert(tail(outPara).head.isInstanceOf[Media])
    assert(tail(inPara).last == Text("Figure caption for deck 4"))
    assert(tail(outPara).last == Text("Figure caption for deck 2"))
    // ../media Target normalized to the in-archive path
    assert(tail(inPara).head == Media("image", "ppt/media/pic_4.png", true))
    // payload recoverable through the by-reference contract
    assert(PptxExtractor.mediaPayload(graft.gen.PptxGen.fileBytes(4),
      "ppt/media/pic_4.png").get.take(4).map(_ & 0xff).toSeq ==
      Seq(0x89, 'P'.toInt, 'N'.toInt, 'G'.toInt))
  }

  // one-slide deck around a raw spTree body, for table edge pins
  private def miniDeck(body: String): Array[Byte] =
    graft.gen.MixedGen.zipStored(
      "ppt/presentation.xml" ->
        ("""<p:presentation xmlns:p="p" xmlns:r="r"><p:sldIdLst>""" +
          """<p:sldId id="256" r:id="rId2"/>""" +
          "</p:sldIdLst></p:presentation>").getBytes("UTF-8"),
      "ppt/_rels/presentation.xml.rels" ->
        ("""<Relationships><Relationship Id="rId2" Type="s" """ +
          """Target="slides/slide1.xml"/></Relationships>""").getBytes("UTF-8"),
      "ppt/slides/slide1.xml" ->
        (s"""<p:sld xmlns:p="p" xmlns:a="a"><p:cSld><p:spTree>$body""" +
          "</p:spTree></p:cSld></p:sld>").getBytes("UTF-8"))

  test("a:tbl reads as ONE TSV text block, fixtures pin the vocabulary") {
    // deck 0: hasTbl + ragged final row
    val items = PptxExtractor.items(graft.gen.PptxGen.fileBytes(0))
    val tsv = graft.gen.PptxGen.tableTsv(0)
    assert(tsv ==
      "Metric\tQ0 2026\tDelta & note\ndocs 0\t\tup m0 pts\ntokens 0")
    assert(items.contains(Text(tsv)))
    // the table precedes its caption paragraph, both on the last slide
    assert(items.takeRight(2) ==
      Vector(Text(tsv), Text("Table notes for deck 0")))
    // deck 3: table, not ragged — two rows only
    val t3 = graft.gen.PptxGen.tableTsv(3)
    assert(t3.count(_ == '\n') == 1)
    assert(PptxExtractor.items(graft.gen.PptxGen.fileBytes(3)).contains(Text(t3)))
    // deck 1: no table — no tab anywhere
    assert(PptxExtractor.items(graft.gen.PptxGen.fileBytes(1))
      .collect { case Text(t) => t }.forall(!_.contains('\t')))
  }

  test("table edges: implicit row, all-empty drop, stray nest, unclosed") {
    def texts(body: String): Vector[String] =
      PptxExtractor.items(miniDeck(body)).collect { case Text(t) => t }
    def tc(s: String) = s"<a:tc><a:txBody><a:p><a:r><a:t>$s</a:t></a:r></a:p></a:txBody></a:tc>"
    // a cell outside any row opens an implicit row
    assert(texts(s"<a:tbl>${tc("x")}<a:tr>${tc("y")}</a:tr></a:tbl>") ==
      Vector("x\ny"))
    // a table whose every cell is empty emits nothing
    assert(texts("<a:tbl><a:tr><a:tc><a:txBody><a:p/></a:txBody></a:tc>" +
      "</a:tr></a:tbl>") == Vector.empty)
    // a stray nested a:tbl merges into the open collector (no crash)
    assert(texts(s"<a:tbl><a:tr>${tc("a")}<a:tbl/><a:tr>${tc("b")}</a:tr>" +
      "</a:tr></a:tbl>") == Vector("a\nb"))
    // unclosed table flushes at end-of-part; paragraph machine resumes
    // after a closed one
    assert(texts(s"<a:tbl><a:tr>${tc("q")}</a:tr></a:tbl>" +
      "<p:sp><p:txBody><a:p><a:r><a:t>after</a:t></a:r></a:p></p:txBody></p:sp>") ==
      Vector("q", "after"))
    assert(texts(s"<a:tbl><a:tr>${tc("open")}") == Vector("open"))
  }

  test("classification is mutually exclusive across the OPC formats") {
    val p = graft.gen.PptxGen.fileBytes(1)
    assert(PptxExtractor.isPptx(p))
    assert(!graft.extract.DocxExtractor.isDocx(p))
    assert(!graft.extract.XlsxExtractor.isXlsx(p))
    assert(!graft.extract.EpubExtractor.isEpub(p))
    assert(!PptxExtractor.isPptx(graft.gen.XlsxGen.fileBytes(1)))
    assert(!PptxExtractor.isPptx("text".getBytes("UTF-8")))
  }

  test("path normalization pins") {
    assert(PptxExtractor.normalizePath("ppt/slides/../media/a.png") ==
      "ppt/media/a.png")
    assert(PptxExtractor.normalizePath("ppt/./slides//x.xml") ==
      "ppt/slides/x.xml")
    assert(PptxExtractor.normalizePath("../../a.png") == "a.png")
  }

  test("mutation storm: corrupted decks degrade, never throw") {
    var seed = 0x2545F4914F6CDD1DL
    def next(n: Int): Int = {
      seed ^= seed << 13; seed ^= seed >>> 7; seed ^= seed << 17
      (((seed % n) + n) % n).toInt
    }
    (0 until 150).foreach { i =>
      val b = graft.gen.PptxGen.fileBytes(i % 24)
      (0 until 1 + next(30)).foreach { _ =>
        b(next(b.length)) = next(256).toByte
      }
      if (PptxExtractor.isPptx(b)) PptxExtractor.items(b): Unit
    }
  }

  test("ingest e2e: .pptx and a lying-extension .html route to slides") {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").appName("pptx-e2e")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", false).getOrCreate()
    try {
      val tmp = tempDir("pptx-e2e").toString
      graft.gen.PptxGen.write(tmp, 4)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(tmp, "mislabeled.html"),
        graft.gen.PptxGen.fileBytes(2))
      val rows = graft.sources.RawFiles.read(spark, tmp)
        .collect().map(d => d.doc_id ->
          d.spans.map(s => (s.kind, s.text,
            Option(s.media_ref).map(_.split('#').last).orNull,
            s.offset))).toMap
      (0 until 4).foreach { i =>
        val exp = graft.gen.PptxGen.expectedDoc(i).map(r =>
          (if (r.kind == "text") "text" else r.kind, r.text,
            if (r.media_ref == null) null else graft.gen.PptxGen.picPath(i),
            r.ord))
        assert(rows(graft.gen.PptxGen.fileName(i)) == exp, s"deck $i")
      }
      assert(rows("mislabeled.html").count(_._1 == "image") == 1)
    } finally spark.stop()
  }
}
