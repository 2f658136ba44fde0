package graft

import graft.extract.{Item, PptExtractor}
import graft.gen.PptGen
import graft.sources.RawFiles
import org.scalatest.funsuite.AnyFunSuite

/** PowerPoint 97–2003 binary front end: record-tree walk, both text
  * atom kinds, container nesting, decoy skipping, paragraph/soft-break
  * semantics, encryption drop — against PptGen's hand-assembled decks.
  */
class PptSpec extends AnyFunSuite {

  test("generator round trip: all 4 variants yield their hand-written blocks") {
    for (i <- 0 until 12) {
      val got = PptExtractor.items(PptGen.fileBytes(i)).map {
        case Item.Text(t) => ("text", t, null)
        case Item.Media(mk, ref, _) =>
          (mk, null, s"${PptGen.fileName(i)}#$ref")
      }
      val want = PptGen.expectedDoc(i).map(r => (r.kind, r.text, r.media_ref))
      assert(got == want, s"variant $i")
    }
  }

  test("picture payloads resolve through the BLIP store, both paths") {
    // variant 0: single-UID PNG at foDelay 0 in the Pictures stream
    val b0 = PptGen.fileBytes(0)
    val p0 = RawFiles.mediaPayload(b0, s"${PptGen.fileName(0)}#pic1")
    assert(p0.exists(_.sameElements(PptGen.pngPayload(0))))
    // a genuine PNG: decodes via the real codec to the generator dims
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(p0.get))
    assert(img.getWidth == 3 && img.getHeight == 2)
    // variant 1: double-UID JPEG embedded inline in its FBSE
    val b1 = PptGen.fileBytes(1)
    val p1 = RawFiles.mediaPayload(b1, s"${PptGen.fileName(1)}#pic2")
    assert(p1.exists(_.sameElements(PptGen.jpegPayload(1))))
    val jm = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(p1.get))
    assert(jm.getWidth == 3 && jm.getHeight == 2)
    // out-of-range and decoy refs resolve to None, never throw
    assert(RawFiles.mediaPayload(b0, "x.ppt#pic9").isEmpty)
    assert(RawFiles.mediaPayload(b1, "x.ppt#pic1").isEmpty) // decoy slot
    assert(PptExtractor.mediaPayload(b0, "bogus").isEmpty)
  }

  test("a decoy FOPT without pib emits no media span") {
    assert(PptExtractor.items(PptGen.fileBytes(2))
      .collect { case m: Item.Media => m }.isEmpty)
  }

  test("soft break stays inside its block; CR splits; decoys skipped") {
    val v1 = PptExtractor.items(PptGen.fileBytes(1))
      .collect { case Item.Text(t) => t }
    assert(v1.exists(_.contains("\n")))
    val v2 = PptExtractor.items(PptGen.fileBytes(2))
      .collect { case Item.Text(t) => t }
    assert(!v2.exists(_.contains("decoy")))
  }

  test("encrypted decks drop whole") {
    assert(PptExtractor.items(PptGen.fileBytes(3)).isEmpty)
    assert(RawFiles.decodeAny("deck.ppt", PptGen.fileBytes(3), "")
      .forall(_.spans.isEmpty))
  }

  test("content magic: a .ppt lying as .txt or .doc routes by stream name") {
    val ppt = PptGen.fileBytes(0)
    for (name <- Seq("deck.txt", "deck.doc", "deck.xls")) {
      val spans = RawFiles.decodeAny(name, ppt, "").head.spans
      assert(spans.map(_.text) == PptGen.expectedDoc(0).map(_.text),
        name)
    }
  }

  test("mutation storm: corruption and truncation never crash the walker") {
    val rnd = new scala.util.Random(20260820L)
    for (v <- 0 until 3) {
      val base = PptGen.fileBytes(v)
      for (_ <- 0 until 80) {
        val b = base.clone()
        for (_ <- 0 until 8)
          b(rnd.nextInt(b.length)) = rnd.nextInt(256).toByte
        PptExtractor.items(b) // must not throw
      }
      for (_ <- 0 until 30)
        PptExtractor.items(
          java.util.Arrays.copyOf(base, rnd.nextInt(base.length)))
    }
  }
}
