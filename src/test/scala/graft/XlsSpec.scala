package graft

import graft.extract.{Item, XlsExtractor}
import graft.gen.XlsGen
import graft.sources.RawFiles
import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.UTF_8

/** Excel 97–2003 binary front end: BIFF8 record walk, SST CONTINUE
  * spill with encoding flip, the RK menagerie, cached formula
  * results, sheet-type filtering, used-range TSVs — against XlsGen's
  * hand-assembled workbooks and hand-written ground truth.
  */
class XlsSpec extends AnyFunSuite {

  test("generator round trip: all 6 variants yield their hand-written TSVs") {
    for (i <- 0 until 12) {
      val got = XlsExtractor.sheets(XlsGen.fileBytes(i))
        .filter(_._2.exists(!_.isWhitespace))
      assert(got == XlsGen.expectedSheets(i), s"variant $i")
    }
  }

  test("SST character data crossing a CONTINUE flips encoding mid-string") {
    val got = XlsExtractor.sheets(XlsGen.fileBytes(2))
    assert(got.exists(_._2.contains("Bridge-中文字串 2")))
  }

  test("RK menagerie: int, x100, truncated float, MULRK") {
    val tsv = XlsExtractor.sheets(XlsGen.fileBytes(1)).head._2
    val rows = tsv.split("\n").toVector.map(_.split("\t", -1).toVector)
    assert(rows(0)(0) == "8") // rkInt(7+1)
    assert(rows(0)(1) == "2.54") // (250+4)/100
    assert(rows(1) == Vector("1.5", "12", "23"))
  }

  test("empty and chart sheets vanish from the span stream; hidden sheets stay") {
    val spans0 = RawFiles.decodeAny(XlsGen.fileName(0),
      XlsGen.fileBytes(0), "").head.spans
    assert(spans0.length == 2) // Data + Notes; Empty gone
    val spans4 = RawFiles.decodeAny(XlsGen.fileName(4),
      XlsGen.fileBytes(4), "").head.spans
    assert(spans4.length == 2) // CJK-named + hidden; chart gone
    assert(spans4.exists(_.text == "数据 4"))
    assert(spans4.exists(_.text == "hidden payload 4"))
  }

  test("FILEPASS-encrypted workbooks yield nothing") {
    val b = XlsGen.encryptedBytes(3)
    assert(XlsExtractor.isXls(b))
    assert(XlsExtractor.sheets(b).isEmpty)
    assert(RawFiles.decodeAny("locked.xls", b, "")
      .forall(_.spans.isEmpty))
  }

  test("content magic: CFB routing by contained stream, not extension") {
    val xls = XlsGen.fileBytes(0)
    // an .xls lying as .txt (or as .doc) still reads as a workbook
    for (name <- Seq("sheet.txt", "sheet.doc")) {
      val spans = RawFiles.decodeAny(name, xls, "").head.spans
      assert(spans.exists(_.text.startsWith("Item\tWidget")), name)
    }
    // and a Word container under an .xls suffix reads as Word
    val doc = graft.gen.DocGen.fileBytes(0)
    val viaXls = RawFiles.decodeAny("memo.xls", doc, "").head.spans
    assert(viaXls.map(_.text) ==
      graft.gen.DocGen.expectedDoc(0).map(_.text))
    // honest prose under .xls stays text
    val prose = "Plain prose stays text.".getBytes(UTF_8)
    assert(RawFiles.decodeAny("sheet.xls", prose, "")
      .exists(_.spans.head.text.contains("Plain prose")))
  }

  test("embedded pictures: FOPT pibs resolve through the CONTINUE-split BLIP store") {
    val b = XlsGen.pictureBytes(3)
    val items = XlsExtractor.items(b)
    // TSV first, then the two resolvable pictures; the ghost pib 9 and
    // the decoy FOPT property stay silent
    assert(items == Vector(
      Item.Text(XlsGen.pictureTsv(3)),
      Item.Media("image", "pic1", true),
      Item.Media("image", "pic2", true)))
    // payloads: PNG via the first FBSE (split across the CONTINUE),
    // double-UID JPEG via the second — byte-exact, imageio-decodable
    val p1 = RawFiles.mediaPayload(b, "plates_0003.xls#pic1")
    assert(p1.exists(_.sameElements(graft.gen.PptGen.pngPayload(3))))
    assert(javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(p1.get)) != null)
    val p2 = RawFiles.mediaPayload(b, "plates_0003.xls#pic2")
    assert(p2.exists(_.sameElements(graft.gen.PptGen.jpegPayload(3))))
    assert(XlsExtractor.mediaPayload(b, "pic9").isEmpty)
    assert(XlsExtractor.mediaPayload(b, "pic0").isEmpty)
    // picture-free variants emit TSV-only items and resolve nothing
    assert(XlsExtractor.items(XlsGen.fileBytes(0))
      .forall(_.isInstanceOf[Item.Text]))
    assert(XlsExtractor.mediaPayload(XlsGen.fileBytes(0), "pic1").isEmpty)
  }

  test("mutation storm: corruption and truncation never crash the reader") {
    val rnd = new scala.util.Random(20260819L)
    for (v <- 0 until 6) {
      val base = XlsGen.fileBytes(v)
      for (_ <- 0 until 60) {
        val b = base.clone()
        for (_ <- 0 until 8)
          b(rnd.nextInt(b.length)) = rnd.nextInt(256).toByte
        XlsExtractor.sheets(b) // must not throw
      }
      for (_ <- 0 until 20)
        XlsExtractor.sheets(
          java.util.Arrays.copyOf(base, rnd.nextInt(base.length)))
    }
    // the picture fixture under the same storms, items + payload path
    val base = XlsGen.pictureBytes(1)
    for (_ <- 0 until 100) {
      val b = base.clone()
      for (_ <- 0 until 8)
        b(rnd.nextInt(b.length)) = rnd.nextInt(256).toByte
      XlsExtractor.items(b)
      XlsExtractor.mediaPayload(b, "pic1")
    }
    for (_ <- 0 until 40)
      XlsExtractor.items(
        java.util.Arrays.copyOf(base, rnd.nextInt(base.length)))
  }
}
