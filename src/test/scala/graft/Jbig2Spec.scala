package graft

import graft.extract.{Ccitt, Jbig2, RealPdf}
import graft.gen.{CcittGen, Jbig2Gen}
import org.scalatest.funsuite.AnyFunSuite

class Jbig2Spec extends AnyFunSuite {

  test("MQ coder round-trip: random bit streams under shared contexts") {
    // the arithmetic coder pair, exercised across carries/stuffing:
    // deterministic pseudo-random bits + contexts, encoder flowcharts
    // vs decoder flowcharts (independent implementations of T.88 E.2/E.3)
    var seed = 0x2545F4914F6CDD1DL
    def next(n: Int): Int = {
      seed ^= seed << 13; seed ^= seed >>> 7; seed ^= seed << 17
      (((seed >>> 33) % n + n) % n).toInt
    }
    for (trial <- 0 until 20) {
      val nBits = 500 + next(3000)
      val nCx = 1 + next(8)
      val bits = Array.fill(nBits)(
        // skewed bit streams keep the coder in low-entropy states where
        // renorm/carry paths differ most
        if (next(10) < (trial % 9) + 1) 1 else 0)
      val cxids = Array.fill(nBits)(next(nCx))
      val encCx = new Array[Short](nCx)
      val enc = new Jbig2Gen.MqEncoder
      (0 until nBits).foreach(i => enc.encode(encCx, cxids(i), bits(i)))
      val data = enc.finish()
      val decCx = new Array[Short](nCx)
      val dec = new Jbig2.MqDecoder(data, 0, data.length)
      (0 until nBits).foreach { i =>
        assert(dec.decode(decCx, cxids(i)) == bits(i),
          s"trial $trial bit $i of $nBits")
      }
    }
  }

  test("generic region round-trip: all templates, TPGDON on/off") {
    val shapes = Seq((0, 64, 40), (3, 100, 37), (5, 200, 120))
    for ((i, w, h) <- shapes; template <- 0 to 3;
         tpgdon <- Seq(false, true)) {
      val bmp = Jbig2Gen.scanBytes(i, w, h)
      val at = Jbig2.NominalAt(template)
      val coded = Jbig2Gen.encodeGenericMq(bmp, w, h, template, at, tpgdon)
      val got = Jbig2.decodeGenericMq(coded, 0, coded.length, w, h,
        template, at, tpgdon)
      assert(got.sameElements(bmp), s"i=$i t=$template tpgdon=$tpgdon")
    }
    // all-white and all-black pages (TPGDON's favorite case)
    for (fill <- Seq(0, 1); tpgdon <- Seq(false, true)) {
      val bmp = Array.fill(80 * 30)(fill.toByte)
      val coded = Jbig2Gen.encodeGenericMq(bmp, 80, 30, 0,
        Jbig2.NominalAt(0), tpgdon)
      assert(Jbig2.decodeGenericMq(coded, 0, coded.length, 80, 30, 0,
        Jbig2.NominalAt(0), tpgdon).sameElements(bmp), s"fill=$fill")
    }
  }

  test("embedded segment stream: page info + generic region, MQ and MMR") {
    for ((w, h) <- Seq((200, 120), (97, 33)); mmr <- Seq(false, true)) {
      val bmp = Jbig2Gen.scanBytes(2, w, h)
      val data = Jbig2Gen.stream(bmp, w, h, mmr = mmr)
      val got = Jbig2.decode(data, Array.emptyByteArray, w, h)
      // expected: packed rows, white = 1 (PDF filter convention)
      val bitmap = Array.tabulate(h, w)((y, x) => bmp(y * w + x) == 1)
      assert(got.sameElements(CcittGen.packed(bitmap)),
        s"w=$w h=$h mmr=$mmr")
    }
  }

  test("JBIG2Globals: page info arrives via the globals stream") {
    val w = 120; val h = 50
    val bmp = Jbig2Gen.scanBytes(4, w, h)
    val globals = Jbig2Gen.segment(0, 48, Jbig2Gen.pageInfo(w, h))
    val data = Jbig2Gen.segment(1, 39,
      Jbig2Gen.genericRegion(bmp, w, h, 0, 0))
    val got = Jbig2.decode(data, globals, w, h)
    val bitmap = Array.tabulate(h, w)((y, x) => bmp(y * w + x) == 1)
    assert(got.sameElements(CcittGen.packed(bitmap)))
  }

  test("region placement, unknown segments skipped, garbage tolerated") {
    // a 30x20 region composited at (8, 4) on a 64x32 page
    val rw = 30; val rh = 20; val w = 64; val h = 32
    val bmp = Array.tabulate(rw * rh)(k =>
      (if ((k / rw + k % rw) % 3 == 0) 1 else 0).toByte)
    val data = Jbig2Gen.segment(0, 48, Jbig2Gen.pageInfo(w, h)) ++
      Jbig2Gen.segment(1, 50, Array[Byte](1, 2, 3)) ++ // end-of-stripe: skip
      Jbig2Gen.segment(2, 39, Jbig2Gen.genericRegion(bmp, rw, rh, 8, 4))
    val got = Jbig2.decode(data, Array.emptyByteArray, w, h)
    val rowBytes = (w + 7) / 8
    for (y <- 0 until h; x <- 0 until w) {
      val in = x >= 8 && x < 8 + rw && y >= 4 && y < 4 + rh
      val black = in && bmp((y - 4) * rw + (x - 8)) == 1
      val bit = (got(y * rowBytes + (x >> 3)) >> (7 - (x & 7))) & 1
      assert((bit == 0) == black, s"($x,$y)")
    }
    // garbage bytes: empty result, no crash
    val junk = Array.tabulate[Byte](100)(i => (i * 41 + 3).toByte)
    assert(Jbig2.decode(junk, Array.emptyByteArray, 64, 32).isEmpty)
    assert(Jbig2.decode(Array.emptyByteArray, Array.emptyByteArray,
      64, 32).isEmpty)
  }

  test("scanned JBIG2 fixture PDF: payload recovers as codec-ready PNG") {
    for ((template, tpgdon, mmr) <- Seq((0, false, false),
        (2, true, false), (0, false, true))) {
      val pdf = Jbig2Gen.makeScanPdf(7, template = template,
        tpgdon = tpgdon, mmr = mmr)
      val (pages, images) = RealPdf.parseDoc(RealPdf.open(pdf))
      assert(images == Vector(RealPdf.PdfImage(1, 0, 5, 200, 120)))
      assert(pages.head.runs.exists(_.text.startsWith("Jbig 7")))
      val png = RealPdf.imageCodecBytes(RealPdf.open(pdf), 5).get
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(png))
      assert(img.getWidth == 200 && img.getHeight == 120)
      val bmp = CcittGen.scanBitmap(7, 200, 120)
      for (y <- 0 until 120; x <- 0 until 200)
        assert((img.getRaster.getSample(x, y, 0) == 0) == bmp(y)(x),
          s"t=$template tpgdon=$tpgdon mmr=$mmr pixel ($x,$y)")
    }
  }
}
