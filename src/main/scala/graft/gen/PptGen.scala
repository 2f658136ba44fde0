package graft.gen

/** Deterministic PowerPoint-97 binary (`.ppt`) fixtures + generator
  * ground truth — the fixture behind `ex_ppt`. ENCODER twin of
  * [[graft.extract.PptExtractor]]: the record tree (containers, text
  * atoms, picture shapes, BLIP store, decoys) is assembled by hand
  * here, wrapped in [[DocGen]]'s hand-written CFB container; expected
  * blocks are the strings/refs this generator chose.
  *
  * Variant mix (`i % 4`):
  *   0 — TextBytesAtom (8-bit) title, then a PICTURE SHAPE (FOPT
  *       pib=1 → FBSE[0] → foDelay 0 into the `Pictures` stream, a
  *       genuine single-UID PNG BLIP), then bullets; cp1252 accents;
  *   1 — TextCharsAtom (UTF-16) CJK/Cyrillic across nested Slide
  *       containers, a picture shape with pib=2 whose FBSE EMBEDS a
  *       double-UID JPEG BLIP inline (no Pictures offset), one 0x0B
  *       soft break kept as `\n`;
  *   2 — decoys: CString atom, an unknown atom, and an FOPT carrying
  *       only a fill-color property (NOT pib) — all skipped; empty
  *       paragraphs (consecutive CRs) dropped;
  *   3 — DocumentEncryptionAtom: the deck must DROP whole.
  */
object PptGen {

  private val Utf16 = java.nio.charset.StandardCharsets.UTF_16LE
  private val Cp1252 = java.nio.charset.Charset.forName("windows-1252")

  private def hdr(verInst: Int, typ: Int, len: Int): Array[Byte] =
    Array((verInst & 0xFF).toByte, ((verInst >> 8) & 0xFF).toByte,
      (typ & 0xFF).toByte, ((typ >> 8) & 0xFF).toByte,
      (len & 0xFF).toByte, ((len >> 8) & 0xFF).toByte,
      ((len >> 16) & 0xFF).toByte, ((len >> 24) & 0xFF).toByte)

  private def atom(typ: Int, payload: Array[Byte]): Array[Byte] =
    hdr(0x0000, typ, payload.length) ++ payload

  private def container(typ: Int, children: Array[Byte]): Array[Byte] =
    hdr(0x000F, typ, children.length) ++ children

  private def charsAtom(s: String): Array[Byte] =
    atom(0x0FA0, s.getBytes(Utf16))

  private def bytesAtom(s: String): Array[Byte] =
    atom(0x0FA8, s.getBytes(Cp1252))

  private def cstring(s: String): Array[Byte] =
    atom(0x0FBA, s.getBytes(Utf16))

  // ---------- OfficeArt (pictures) ----------

  private def i32b(v: Int): Array[Byte] =
    Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte,
      ((v >> 16) & 0xFF).toByte, ((v >> 24) & 0xFF).toByte)

  /** Genuine PNG picture payload (javax.imageio, 3×2, per-deck pixels). */
  def pngPayload(i: Int): Array[Byte] = imgPayload(i, "png")

  /** Genuine JPEG picture payload (3×2, per-deck pixels). */
  def jpegPayload(i: Int): Array[Byte] = imgPayload(i, "jpg")

  private def imgPayload(i: Int, fmt: String): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(3, 2,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 2; x <- 0 until 3)
      img.setRGB(x, y, ((i * 37 + x * 11 + y * 53) % 255) * 0x010101)
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.setUseCache(false)
    javax.imageio.ImageIO.write(img, fmt, out)
    out.toByteArray
  }

  /** A bitmap BLIP record: header, UID(s), tag byte, picture data.
    * Shared with [[DocGen]]'s Data-stream picture variant. */
  private[gen] def blip(typ: Int, instance: Int, uids: Int,
                        payload: Array[Byte]): Array[Byte] =
    hdr(instance << 4, typ, 16 * uids + 1 + payload.length) ++
      Array.tabulate[Byte](16 * uids)(k => (k * 7 + 3).toByte) ++
      Array(0xFF.toByte) ++ payload

  /** An OfficeArtFBSE (recType 0xF007, recVer 2): 36-byte fixed part
    * (+ optionally an embedded BLIP after it).
    */
  private def fbse(foDelay: Int, size: Int,
                   embedded: Array[Byte]): Array[Byte] = {
    val fixed =
      Array[Byte](6, 6) ++ // btWin32/btMacOS (PNG)
        Array.tabulate[Byte](16)(k => (k + 1).toByte) ++ // rgbUid
        Array[Byte](0xFF.toByte, 0) ++ // tag
        i32b(size) ++ i32b(1) ++ i32b(foDelay) ++ // size, cRef, foDelay
        Array[Byte](0, 0, 0, 0) // usage, cbName, unused
    hdr((0 << 12) | (0 << 4) | 2, 0xF007, fixed.length + embedded.length) ++
      fixed ++ embedded
  }

  /** OfficeArtFOPT (recType 0xF00B, recVer 3, instance = #props)
    * holding exactly the given (propId, value) pairs.
    */
  private def fopt(props: (Int, Int)*): Array[Byte] =
    hdr((props.length << 4) | 3, 0xF00B, 6 * props.length) ++
      props.toArray.flatMap { case (pid, v) =>
        Array((pid & 0xFF).toByte, ((pid >> 8) & 0xFF).toByte) ++ i32b(v)
      }

  /** A picture shape: SpContainer wrapping an FOPT with pib set. */
  private def picShape(pib: Int): Array[Byte] =
    container(0xF004, fopt(0x4104 -> pib))

  /** PPDrawingGroup → OfficeArtDggContainer → BStore of these FBSEs. */
  private def drawingGroup(fbses: Array[Byte]): Array[Byte] =
    container(0x040B, container(0xF000, container(0xF001, fbses)))

  def fileName(i: Int): String = f"deck_$i%04d.ppt"

  private def t0(i: Int) = s"Deck $i title"
  private def t1(i: Int) = s"First bullet of deck $i"
  private def t2(i: Int) = s"Second bullet é $i"
  private def c0(i: Int) = s"幻灯片 $i 标题"
  private def c1a(i: Int) = s"Документ слайда $i"
  private def c1b(i: Int) = s"soft second line $i"
  private def d0(i: Int) = s"Visible text of deck $i"
  private def d1(i: Int) = s"Closing remark $i"

  def fileBytes(i: Int): Array[Byte] = {
    val pics: Option[Array[Byte]] = (i % 4) match {
      case 0 => Some(blip(0xF01E, 0x6E0, 1, pngPayload(i))) // PNG, 1 UID
      case _ => None
    }
    val stream: Array[Byte] = (i % 4) match {
      case 0 =>
        drawingGroup(fbse(0, pics.get.length, Array.emptyByteArray)) ++
          container(0x03E8, // Document
            container(0x0FF0, // SlideListWithText
              bytesAtom(s"${t0(i)}\r") ++
                picShape(1) ++
                bytesAtom(s"${t1(i)}\r${t2(i)}\r")))
      case 1 =>
        val emb = blip(0xF01D, 0x46B, 2, jpegPayload(i)) // JPEG, 2 UIDs
        drawingGroup(
          fbse(0x7FFFFFF0, 0, Array.emptyByteArray) ++ // decoy slot 1
            fbse(0, emb.length, emb)) ++ // pib=2: embedded
          container(0x03E8,
            container(0x03EE, charsAtom(c0(i)) ++ picShape(2)) ++ // Slide
              container(0x03EE,
                charsAtom(s"${c1a(i)}\u000B${c1b(i)}\r")))
      case 2 =>
        container(0x03E8,
          cstring(s"decoy name $i") ++
            atom(0x0BAD, Array[Byte](1, 2, 3)) ++
            container(0xF004, fopt(0x0181 -> 0xC0FFEE)) ++ // fill, no pib
            container(0x0FF0,
              bytesAtom(s"\r\r${d0(i)}\r\r")) ++
            bytesAtom(s"${d1(i)}\r"))
      case _ =>
        container(0x03E8,
          atom(0x2F14, new Array[Byte](12)) ++
            bytesAtom(s"hidden secret $i\r"))
    }
    val streams = Seq("Current User" -> Array.fill[Byte](24)(0x11),
      "PowerPoint Document" -> stream) ++
      pics.map("Pictures" -> _)
    DocGen.cfbBytes(streams)
  }

  /** A minimal well-formed `.ppt` whose one text atom carries exactly
    * these paragraphs — the cross-format fixture writer
    * ([[CrossGen]]). ASCII/cp1252 text only.
    */
  def simpleDeckBytes(paragraphs: Seq[String]): Array[Byte] =
    DocGen.cfbBytes(Seq(
      "Current User" -> Array.fill[Byte](24)(0x11),
      "PowerPoint Document" -> container(0x03E8,
        container(0x0FF0, bytesAtom(paragraphs.map(_ + "\r").mkString)))))

  def write(dir: String, n: Int): Unit =
    (0 until n).foreach { i =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, fileName(i)), fileBytes(i)): Unit
    }

  /** Hand-written ground truth per variant (media refs as the ingest
    * path mints them: `<file>#pic<pib>`).
    */
  def expectedDoc(i: Int): Seq[GtRow] = {
    val f = fileName(i)
    def txt(t: String) = (("text", t, null): (String, String, String))
    def pic(p: Int) = (("image", null, s"$f#pic$p"): (String, String, String))
    val blocks: Seq[(String, String, String)] = (i % 4) match {
      case 0 => Seq(txt(t0(i)), pic(1), txt(t1(i)), txt(t2(i)))
      case 1 => Seq(txt(c0(i)), pic(2), txt(s"${c1a(i)}\n${c1b(i)}"))
      case 2 => Seq(txt(d0(i)), txt(d1(i)))
      case _ => Nil // encrypted: dropped
    }
    blocks.zipWithIndex.map { case ((k, t, m), o) => GtRow(f, k, t, m, o) }
  }

  def expected(n: Int): Seq[GtRow] = (0 until n).flatMap(expectedDoc)
}
