package graft.extract

import Item.{Media, Text}

/** PowerPoint 97–2003 binary (`.ppt`, [MS-PPT]) front end — slide text
  * AND embedded-picture recovery from the `PowerPoint Document` /
  * `Pictures` streams inside a [[Cfb]] container. The reference
  * pipeline is PDF-only (/root/reference/setup.sql:60-110); decks are
  * a standing share of any web crawl's Office payload.
  *
  * The PPT record grammar is an 8-byte-header tree (recVer 0xF marks a
  * container; atoms are leaves). Text lives in exactly two atom kinds:
  * `TextCharsAtom` (0x0FA0, UTF-16LE) and `TextBytesAtom` (0x0FA8, one
  * byte per character — the low byte of UTF-16, decoded windows-1252
  * like every other 8-bit Office surface). This walk collects them in
  * STREAM order, which for files written by PowerPoint follows the
  * document order of the SlideListWithText and per-slide drawing
  * containers — a declared approximation: exact slide order would need
  * the UserEditAtom/PersistDirectory indirection, which reorders
  * nothing in practice for linear saves (fast-saved decks may
  * interleave; acceptable for corpus text). Paragraphs split on CR
  * (the PPT paragraph mark), 0x0B soft breaks stay inside as `\n`.
  *
  * Pictures ([MS-ODRAW]): a picture shape carries an OfficeArtFOPT
  * property table (recType 0xF00B) whose `pib` property (propId
  * 0x0104, fBid set → wire id 0x4104) is a 1-based index into the
  * BLIP store — the array of OfficeArtFBSE records (recType 0xF007)
  * in the document's drawing-group container. Each FBSE's `foDelay`
  * is the byte offset of the picture's BLIP record inside the
  * `Pictures` stream (or the BLIP is embedded in the FBSE itself).
  * The walk emits a [[Item.Media]] item AT SHAPE POSITION in stream order
  * — the interleaved `(kind, text, media_ref, order)` invariant for
  * legacy decks, mirroring PPTX's tag-position media. Payloads
  * resolve by reference via [[mediaPayload]] (JPEG/PNG/DIB/TIFF
  * bitmap BLIPs; compressed metafile BLIPs are skipped — vector
  * formats, not corpus images).
  *
  * Declared limits: decks carrying a `DocumentEncryptionAtom`
  * (0x2F14) drop whole; `CString` metadata atoms (names, URLs) are
  * skipped as non-content.
  */
object PptExtractor {

  private def u16(b: Array[Byte], off: Int): Int =
    if (off < 0 || off + 2 > b.length) -1
    else (b(off) & 0xFF) | ((b(off + 1) & 0xFF) << 8)

  private def i32(b: Array[Byte], off: Int): Int =
    if (off < 0 || off + 4 > b.length) -1
    else (b(off) & 0xFF) | ((b(off + 1) & 0xFF) << 8) |
      ((b(off + 2) & 0xFF) << 16) | ((b(off + 3) & 0xFF) << 24)

  /** A CFB container carrying a `PowerPoint Document` stream. */
  def isPpt(b: Array[Byte]): Boolean =
    Cfb.isCfb(b) && Cfb.hasStream(b, "PowerPoint Document")

  /** One interleaved-walk event: a text atom (pre-split), a picture
    * reference, or the encryption marker. */
  private sealed trait Ev
  private final case class EvText(s: String) extends Ev
  private final case class EvPic(pib: Int) extends Ev
  private case object EvEnc extends Ev

  /** Record-tree walk of the `PowerPoint Document` stream: text atoms
    * and FOPT pib properties in stream order, FBSE payloads in BLIP-
    * store order, and the encryption flag.
    */
  private def walkDoc(doc: Array[Byte]): (Vector[Ev], Vector[Array[Byte]]) = {
    val evs = Vector.newBuilder[Ev]
    val fbse = Vector.newBuilder[Array[Byte]]
    var encrypted = false
    def walk(from: Int, to: Int, depth: Int): Unit = {
      var pos = from
      while (pos + 8 <= to && !encrypted) {
        val verInst = u16(doc, pos)
        val typ = u16(doc, pos + 2)
        val len = i32(doc, pos + 4)
        if (len < 0 || pos + 8 + len > to) pos = to
        else {
          typ match {
            case 0x2F14 =>
              encrypted = true; evs += EvEnc
            case _ if (verInst & 0x000F) == 0x000F && depth < 16 =>
              walk(pos + 8, pos + 8 + len, depth + 1)
            case 0x0FA0 => // TextCharsAtom: UTF-16LE
              evs += EvText(new String(doc, pos + 8, len & ~1,
                java.nio.charset.StandardCharsets.UTF_16LE))
            case 0x0FA8 => // TextBytesAtom: low-byte chars
              evs += EvText(new String(doc, pos + 8, len,
                java.nio.charset.Charset.forName("windows-1252")))
            case 0xF007 => // OfficeArtFBSE: BLIP-store entry
              fbse += java.util.Arrays.copyOfRange(doc, pos + 8,
                pos + 8 + len)
            case 0xF00B => // OfficeArtFOPT: property table
              val n = (verInst >> 4) & 0xFFF
              var j = 0
              while (j < n && pos + 8 + 6 * (j + 1) <= pos + 8 + len) {
                val pid = u16(doc, pos + 8 + 6 * j)
                val v = i32(doc, pos + 8 + 6 * j + 2)
                // pib: propId 0x0104, fBid set, not complex
                if ((pid & 0xBFFF) == 0x0104 && v > 0) evs += EvPic(v)
                j += 1
              }
            case _ => ()
          }
          pos += 8 + len
        }
      }
    }
    walk(0, doc.length, 0)
    (evs.result(), fbse.result())
  }

  /** Ordered text + media items; empty when unreadable or encrypted. */
  def items(b: Array[Byte]): Vector[Item] = {
    val docOpt = Cfb.stream(b, "PowerPoint Document")
    if (docOpt.isEmpty) return Vector.empty
    val (evs, _) = walkDoc(docOpt.get)
    if (evs.contains(EvEnc)) return Vector.empty
    evs.flatMap {
      case EvText(atom) =>
        atom.split('\r').toVector
          .map(_.replace('\u000B', '\n'))
          .map(_.trim).filter(_.nonEmpty)
          .map(Text.apply)
      // always "image": PPT BLIPs are raster/vector pictures;
      // sounds/videos live behind ExOleObj links, out of scope
      case EvPic(pib) => Vector(Media("image", s"pic$pib", inFile = true))
      case EvEnc => Vector.empty
    }
  }

  /** Resolve one media ref minted by [[items]] (`pic<pib>`) to its
    * picture bytes: pib → FBSE[pib-1] → foDelay into the `Pictures`
    * stream (or the BLIP embedded in the FBSE record itself). None for
    * out-of-range refs, metafile BLIPs, or corrupt stores. BLIP record
    * decoding is shared with the `.doc` path ([[Blip]]).
    */
  def mediaPayload(b: Array[Byte], ref: String): Option[Array[Byte]] = {
    if (!ref.startsWith("pic")) return None
    val pib = ref.drop(3).toIntOption.getOrElse(return None)
    val doc = Cfb.stream(b, "PowerPoint Document").getOrElse(return None)
    val (_, fbse) = walkDoc(doc)
    if (pib < 1 || pib > fbse.length) return None
    val e = fbse(pib - 1)
    if (e.length < 36) return None
    val cbName = e(33) & 0xFF
    // BLIP embedded directly after the 36-byte FBSE header + name?
    if (e.length > 36 + cbName + 8) Blip.payload(e, 36 + cbName)
    else {
      val foDelay = i32(e, 28)
      val pics = Cfb.stream(b, "Pictures").getOrElse(return None)
      if (foDelay < 0 || foDelay + 8 > pics.length) None
      else Blip.payload(pics, foDelay)
    }
  }
}
