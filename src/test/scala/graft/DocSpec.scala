package graft

import graft.extract.{Cfb, DocExtractor, Item}
import graft.extract.Item.Text
import graft.gen.DocGen
import graft.sources.RawFiles
import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.UTF_8

/** Word 97–2003 binary front end: CFB container walk (v3/v4 sectors,
  * FAT chains, miniFAT/mini stream), FIB + piece-table reassembly
  * (mixed cp1252/UTF-16 pieces, mid-paragraph boundaries), the
  * control-character machine (fields, cell marks, breaks), encrypted
  * drop, subdocument exclusion — against DocGen's hand-assembled
  * containers and hand-written ground truth.
  */
class DocSpec extends AnyFunSuite {

  test("generator round trip: all 10 variants extract their hand-written blocks") {
    for (i <- 0 until 20) {
      val got = DocExtractor.items(DocGen.fileBytes(i)).map {
        case Text(t) => ("text", t, null)
        case Item.Media(mk, ref, _) =>
          (mk, null, s"${DocGen.fileName(i)}#$ref")
      }
      val exp = DocGen.expectedDoc(i).map(r => (r.kind, r.text, r.media_ref))
      assert(got == exp, s"variant $i")
    }
  }

  test("picture anchors pair with Data-stream BLIPs; payloads resolve") {
    val b = DocGen.fileBytes(8)
    // anchor 1 → PNG at its scanned offset; anchor 2 → double-UID JPEG
    val p1 = RawFiles.mediaPayload(b, s"${DocGen.fileName(8)}#pic1")
    assert(p1.exists(_.sameElements(graft.gen.PptGen.pngPayload(8))))
    assert(javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(p1.get)).getWidth == 3)
    val p2 = RawFiles.mediaPayload(b, s"${DocGen.fileName(8)}#pic2")
    assert(p2.exists(_.sameElements(graft.gen.PptGen.jpegPayload(8))))
    // the third anchor exceeds the stored-bitmap count: no media span,
    // no payload
    assert(DocExtractor.items(b)
      .collect { case m: Item.Media => m }.size == 2)
    assert(DocExtractor.mediaPayload(b, "pic3").isEmpty)
    // a pictureless variant resolves nothing
    assert(DocExtractor.mediaPayload(DocGen.fileBytes(0), "pic1").isEmpty)
  }

  test("cfb reader: stream lookup, v4 sectors, mini-stream residency") {
    val v3 = DocGen.fileBytes(0) // big streams, 512-byte sectors
    assert(Cfb.isCfb(v3))
    assert(Cfb.hasStream(v3, "WordDocument"))
    assert(Cfb.hasStream(v3, "1Table"))
    assert(!Cfb.hasStream(v3, "0Table"))
    val v4 = DocGen.fileBytes(1) // 4096-byte sectors
    assert(Cfb.stream(v4, "WordDocument").exists(_.length >= 4096))
    val mini = DocGen.fileBytes(7) // 1Table under the 4096 cutoff
    val tbl = Cfb.stream(mini, "1Table")
    assert(tbl.exists(_.length < 4096))
    // declared size is exact, not mini-sector-rounded
    assert(tbl.exists(_.length % 64 != 0) ||
      tbl.exists(t => Cfb.streams(mini)
        .exists(e => e.name == "1Table" && e.size == t.length)))
  }

  test("0Table variant resolves through the clear fWhichTblStm flag") {
    val b = DocGen.fileBytes(5)
    assert(Cfb.hasStream(b, "0Table"))
    assert(!Cfb.hasStream(b, "1Table"))
    assert(DocExtractor.items(b).nonEmpty)
  }

  test("encrypted documents drop whole; footnote CPs stay excluded") {
    assert(DocExtractor.items(DocGen.fileBytes(6)).isEmpty)
    val blocks = DocExtractor.items(DocGen.fileBytes(7))
      .collect { case Text(t) => t }
    assert(blocks.nonEmpty)
    assert(!blocks.exists(_.contains("Footnote")))
  }

  test("itemize: field nesting, breaks, hyphens, anchors") {
    def blocks(raw: String): Vector[String] =
      DocExtractor.itemize(raw).collect { case Text(t) => t }
    val (fb, fs, fe) = ("\u0013", "\u0014", "\u0015")
    // nested field: outer code swallows the inner field entirely
    assert(blocks(s"A ${fb}IF ${fb}DATE${fs}x${fe} code${fs}kept${fe} B\r")
      == Vector("A kept B"))
    // unbalanced field bytes never throw
    assert(blocks(s"$fs$fe text\r") == Vector("text"))
    assert(blocks(s"open${fb}code never closed") == Vector("open"))
    // breaks and hyphens
    assert(blocks("a\u000bb\rc\u001ed\re\u001ff\r")
      == Vector("a\nb", "c-d", "ef"))
    // anchor/object bytes vanish
    assert(blocks("pic\u0001 note\u0002 draw\u0008 end\r")
      == Vector("pic note draw end"))
  }

  test("PAPX tables: cell vs row marks resolve; TSV block; degradation without PlcBtePapx") {
    // variant 9: 2-column grid with a multi-paragraph cell and an
    // empty cell → ONE TSV block between its neighbor paragraphs
    val got = DocExtractor.items(DocGen.fileBytes(9))
      .collect { case Text(t) => t }
    assert(got.size == 3, got)
    assert(got(0) == "Table memo 9 follows:")
    val tsv = got(1)
    val rows = tsv.split("\n", -1).toVector
    assert(rows.size == 3)
    assert(rows(0) == "Item\tQty")
    assert(rows(1).startsWith("Widget m") && rows(1).endsWith("\t27"))
    // multi-paragraph cell space-joined; empty trailing cell keeps
    // grid shape (a bare tab pads the row to width 2)
    assert(rows(2) == "Long cell 9 first part. second part\t")
    assert(got(2) == "After table 9.")
    // variant 4 carries the same 0x07 marks but NO PlcBtePapx: the
    // declared degradation — every cell its own block, no TSV
    val degraded = DocExtractor.items(DocGen.fileBytes(4))
      .collect { case Text(t) => t }
    assert(degraded.size == 5 && !degraded.exists(_.contains("\t")))
  }

  test("itemize with props: row grouping, stray text before a row mark, truncated table") {
    import DocExtractor.itemize
    val C = '\u0007'
    val cellMarks = s"A${C}B$C${C}C${C}D$C${C}tail\r"
    // every 0x07 reads in-table; the bare marks at indices 4 and 9
    // (their own empty paragraphs) are the TTP row marks
    def props(i: Int): (Boolean, Boolean) =
      if (i == cellMarks.length - 1) (false, false)
      else (true, i == 4 || i == 9)
    assert(itemize(cellMarks, props) ==
      Vector(Text("A\tB\nC\tD"), Text("tail")))
    // stray text directly before a row mark folds into a trailing cell
    val stray = s"A${C}x$C"
    def props2(i: Int): (Boolean, Boolean) = (true, i == 3)
    assert(itemize(stray, props2) == Vector(Text("A\tx")))
    // a table cut off mid-cell still flushes what it has, in order
    val cut = s"A${C}B"
    assert(itemize(cut, (_: Int) => (true, false)) ==
      Vector(Text("A"), Text("B")))
  }

  test("content magic: a CFB .doc lying as .txt reroutes; non-Word CFB drops") {
    val doc = DocGen.fileBytes(0)
    val viaTxt = RawFiles.decodeAny("memo.txt", doc, "")
    assert(viaTxt.nonEmpty)
    assert(viaTxt.head.spans.map(_.text) ==
      DocGen.expectedDoc(0).map(_.text))
    // a CFB container with no WordDocument stream must yield NOTHING
    // (never mojibake text) under both .doc and .txt suffixes
    val alien = DocGen.cfbBytes(Seq(
      "Workbook" -> Array.fill[Byte](5000)(0x42)))
    assert(RawFiles.decodeAny("sheet.doc", alien, "")
      .forall(_.spans.isEmpty))
    assert(RawFiles.decodeAny("sheet.txt", alien, "")
      .forall(_.spans.isEmpty))
    // honest text keeps its suffix classification
    val prose = "Plain prose stays text.".getBytes(UTF_8)
    assert(RawFiles.decodeAny("memo.doc", prose, "")
      .exists(_.spans.head.text.contains("Plain prose")))
  }

  test("mutation storm: corruption and truncation never crash the reader") {
    val rnd = new scala.util.Random(20260818L)
    val base = DocGen.fileBytes(2)
    for (_ <- 0 until 300) {
      val b = base.clone()
      for (_ <- 0 until 8)
        b(rnd.nextInt(b.length)) = rnd.nextInt(256).toByte
      DocExtractor.items(b) // must not throw
      Cfb.streams(b)
    }
    for (_ <- 0 until 100) {
      val cut = rnd.nextInt(base.length)
      DocExtractor.items(java.util.Arrays.copyOf(base, cut))
    }
    val tiny = Array[Byte](0xD0.toByte, 0xCF.toByte, 0x11.toByte)
    assert(DocExtractor.items(tiny).isEmpty)
  }
}
