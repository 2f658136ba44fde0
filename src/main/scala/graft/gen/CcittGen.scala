package graft.gen

import graft.extract.Ccitt
import scala.collection.mutable.ArrayBuffer

/** Test-side ITU-T T.6 Group-4 ENCODER + scanned-style PDF fixture
  * maker — the encode half of the round-trip discipline PdfGen
  * already applies to RC4/AES (one side encrypts/encodes, the production
  * side decodes; changing either alone breaks the spec round-trip).
  * The modified-Huffman CODE TABLES are shared data with
  * [[graft.extract.Ccitt]] (published constants, not re-derived twice,
  * same policy as the TrigramLangId seed lists); the ALGORITHMS are
  * independent — this side makes T.6 coding decisions over per-row
  * run-length/transition scans, the decoder reconstructs rows from
  * reference-line transition arithmetic. RealPdfSpec additionally pins
  * anchor codes against the printed T.4 table and checks the whole
  * table is prefix-free.
  */
object CcittGen {

  private final class BitWriter {
    private val buf = new ArrayBuffer[Byte]()
    private var acc = 0
    private var nb = 0
    def put(bits: String): Unit = {
      var i = 0
      while (i < bits.length) {
        acc = (acc << 1) | (bits.charAt(i) - '0'); nb += 1
        if (nb == 8) { buf += acc.toByte; acc = 0; nb = 0 }
        i += 1
      }
    }
    def align(): Unit =
      if (nb > 0) { buf += (acc << (8 - nb)).toByte; acc = 0; nb = 0 }
    def bytes: Array[Byte] = { align(); buf.toArray }
  }

  /** Modified-Huffman encoding of one run: makeup chain (greedy, capped
    * at 2560 per T.4) + terminating code.
    */
  private def mh(run0: Int, white: Boolean): String = {
    val enc = if (white) Ccitt.whiteEncode else Ccitt.blackEncode
    val sb = new StringBuilder
    var run = run0
    while (run >= 64) {
      val mk = math.min((run / 64) * 64, 2560)
      sb ++= enc(mk); run -= mk
    }
    sb ++= enc(run)
    sb.toString
  }

  private def transitionsOf(row: Array[Boolean], w: Int): Array[Int] = {
    val t = new ArrayBuffer[Int]()
    var prev = false // rows notionally start white
    var x = 0
    while (x < w) {
      if (row(x) != prev) { t += x; prev = row(x) }
      x += 1
    }
    t.toArray
  }

  // first changing element of `arr` right of `from` whose index
  // parity matches the color (white runs end at even-index w→b
  // transitions, black at odd)
  private def nextT(arr: Array[Int], from: Int, white: Boolean): Int = {
    var i = 0
    while (i < arr.length && arr(i) <= from) i += 1
    if ((i % 2 == 0) != white) i += 1
    i
  }

  /** One 2-D (T.6 mode) coded row against the reference transitions. */
  private def encode2DRow(bw: BitWriter, curT: Array[Int],
                          refT: Array[Int], w: Int): Unit = {
    def at(arr: Array[Int], i: Int): Int = if (i < arr.length) arr(i) else w
    var a0 = -1
    var white = true
    while (a0 < w) {
      val a1i = nextT(curT, a0, white)
      val a1 = at(curT, a1i)
      val b1i = nextT(refT, a0, white)
      val b1 = at(refT, b1i)
      val b2 = at(refT, b1i + 1)
      if (b2 < a1) {
        bw.put("0001") // pass
        a0 = b2
      } else if (math.abs(a1 - b1) <= 3) {
        bw.put(a1 - b1 match {
          case 0 => "1"
          case 1 => "011"; case -1 => "010"
          case 2 => "000011"; case -2 => "000010"
          case 3 => "0000011"; case _ => "0000010"
        })
        a0 = a1; white = !white
      } else { // horizontal: two runs from max(a0, 0)
        val a2 = at(curT, a1i + 1)
        bw.put("001")
        bw.put(mh(a1 - math.max(a0, 0), white))
        bw.put(mh(a2 - a1, !white))
        a0 = a2
      }
    }
  }

  /** One 1-D modified-Huffman row: alternating runs starting white. */
  private def encode1DRow(bw: BitWriter, curT: Array[Int], w: Int): Unit = {
    var pos = 0
    var white = true
    var i = 0
    while (pos < w) {
      val next = if (i < curT.length) curT(i) else w
      bw.put(mh(next - pos, white))
      pos = next
      white = !white
      i += 1
    }
  }

  /** Encode a bitmap (true = BLACK pixel) as G4 (K < 0) data ending in
    * EOFB. All rows must share bitmap(0).length columns.
    */
  def g4Encode(bitmap: Array[Array[Boolean]],
               byteAlign: Boolean = false): Array[Byte] = {
    val h = bitmap.length
    val w = if (h == 0) 0 else bitmap(0).length
    val bw = new BitWriter
    var refT = Array.empty[Int] // imaginary all-white row above the first
    var y = 0
    while (y < h) {
      if (byteAlign) bw.align()
      val curT = transitionsOf(bitmap(y), w)
      encode2DRow(bw, curT, refT, w)
      refT = curT
      y += 1
    }
    bw.put("000000000001"); bw.put("000000000001") // EOFB
    bw.bytes
  }

  /** Encode a bitmap as G3 (T.4): K=0 → 1-D rows (EOL-prefixed when
    * `withEol`; PDF writers often omit EOLs under /EncodedByteAlign);
    * K>0 → mixed: every row EOL+tag-bit prefixed, 1-D on every K-th row
    * and 2-D against the previous row otherwise (the T.4 "at most K−1
    * 2-D lines after each 1-D line" shape).
    */
  def g3Encode(bitmap: Array[Array[Boolean]], k: Int,
               byteAlign: Boolean = false,
               withEol: Boolean = true): Array[Byte] = {
    require(k >= 0, s"g3Encode wants K >= 0, got $k")
    val h = bitmap.length
    val w = if (h == 0) 0 else bitmap(0).length
    val bw = new BitWriter
    var refT = Array.empty[Int]
    var y = 0
    while (y < h) {
      if (byteAlign) bw.align()
      val curT = transitionsOf(bitmap(y), w)
      val is1D = k == 0 || y % k == 0
      if (k > 0) {
        bw.put("000000000001")
        bw.put(if (is1D) "1" else "0")
      } else if (withEol) bw.put("000000000001")
      if (is1D) encode1DRow(bw, curT, w)
      else encode2DRow(bw, curT, refT, w)
      refT = curT
      y += 1
    }
    bw.bytes
  }

  /** Pack a bitmap the way [[Ccitt.g4Decode]] emits rows: 1 bpp,
    * MSB-first, rows byte-padded; bit 1 = white under /BlackIs1 false.
    */
  def packed(bitmap: Array[Array[Boolean]],
             blackIs1: Boolean = false): Array[Byte] = {
    val h = bitmap.length
    val w = if (h == 0) 0 else bitmap(0).length
    val rowBytes = (w + 7) / 8
    val out = new Array[Byte](h * rowBytes)
    for (y <- 0 until h; x <- 0 until w) {
      val bit = if (bitmap(y)(x) == blackIs1) 1 else 0 // black ⇒ !whiteBit
      if (bit == 1)
        out(y * rowBytes + (x >> 3)) =
          (out(y * rowBytes + (x >> 3)) | (0x80 >> (x & 7))).toByte
    }
    out
  }

  /** Deterministic text-like scan bitmap: ruled text-line dashes plus
    * sparse vertical strokes (run lengths exercise terminating + makeup
    * codes and all three T.6 modes).
    */
  def scanBitmap(i: Int, w: Int, h: Int): Array[Array[Boolean]] =
    Array.tabulate(h, w) { (y, x) =>
      (y % 9 == 4 && x % 97 < 60) ||
      (((x + (i % 7) * 13) % 31) < 2 && y % 5 != 0)
    }

  /** A scanned-style one-page PDF: a caption text line plus one
    * full-page CCITT Group-4 image XObject (/BitsPerComponent 1,
    * /DeviceGray) — the shape a scanner/OCR pipeline stages (the
    * reference's titular corpus class, /root/reference/README.md:1).
    */
  def makeScanPdf(i: Int, w: Int = 200, h: Int = 120,
                  k: Int = -1): Array[Byte] = {
    val data = if (k < 0) g4Encode(scanBitmap(i, w, h))
               else g3Encode(scanBitmap(i, w, h), k)
    val content = s"BT /F1 11 Tf 72 760 Td (Scan $i caption) Tj ET\n" +
      s"q $w 0 0 $h 72 ${700 - h} cm /Im0 Do Q\n"
    val sb = new StringBuilder
    sb.append("%PDF-1.5\n")
    sb.append(s"4 0 obj\n<< /Length ${content.length} >>\nstream\n")
      .append(content).append("\nendstream\nendobj\n")
    sb.append("1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n")
    sb.append("2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 " +
      "/MediaBox [0 0 612 792] >>\nendobj\n")
    sb.append("3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R " +
      "/Resources << /XObject << /Im0 5 0 R >> >> >>\nendobj\n")
    sb.append(s"5 0 obj\n<< /Type /XObject /Subtype /Image /Width $w " +
      s"/Height $h /ColorSpace /DeviceGray /BitsPerComponent 1 " +
      s"/Filter /CCITTFaxDecode /DecodeParms << /K $k /Columns $w " +
      s"/Rows $h >> /Length ${data.length} >>\nstream\n")
    sb.append(new String(data, "ISO-8859-1"))
    sb.append("\nendstream\nendobj\nstartxref\n0\n%%EOF\n")
    sb.toString.getBytes("ISO-8859-1")
  }
}
