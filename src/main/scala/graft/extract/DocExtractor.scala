package graft.extract

import Item.{Media, Text}

/** Word 97–2003 binary (`.doc`, [MS-DOC]) front end — text extraction
  * from the WordDocument/Table stream pair inside a [[Cfb]] container.
  * The reference pipeline never reads these (PDF-only,
  * /root/reference/setup.sql:60-110); a web crawl carries pre-2007
  * Word in volume, so the ingest boundary decodes them into the same
  * interleaved span vocabulary as every other front end.
  *
  * What is implemented (and how it maps to [MS-DOC]):
  *   - FIB sanity: `wIdent` 0xA5EC at offset 0; the flag word at 0x0A
  *     supplies `fEncrypted` (0x0100 — encrypted documents drop, no
  *     empty-password cracking here) and `fWhichTblStm` (0x0200 —
  *     selects `1Table` vs `0Table`).
  *   - The piece table: `fcClx/lcbClx` at 0x01A2/0x01A6 locate the CLX
  *     in the Table stream; `clxt=1` Prc property blocks skip by their
  *     declared length; the `clxt=2` Pcdt holds the PlcPcd — n+1 CPs
  *     then n 8-byte PCDs. Each PCD's fc word encodes `fCompressed`
  *     (bit 30): set → one byte per character at fc/2 decoded as
  *     windows-1252, clear → UTF-16LE at fc. Documents saved by Word
  *     routinely mix both piece kinds, and piece boundaries fall
  *     mid-paragraph — reassembly is CP-ordered, not piece-ordered.
  *   - Only the MAIN document text range [0, ccpText) is emitted
  *     (ccpText at 0x4C): footnote/header/annotation subdocuments
  *     sit after it in CP space and are excluded, matching the
  *     main-content posture of the HTML boilerplate gate.
  *   - Control-character semantics: 0x0D paragraph mark, 0x07 cell/row
  *     mark, 0x0C page break and 0x0E column break all end a block;
  *     0x0B (line break) stays inside its block as `\n`; 0x1E
  *     non-breaking hyphen → `-`; 0x1F optional hyphen drops; field
  *     machinery 0x13/0x14/0x15 keeps the field RESULT and drops the
  *     field CODE (nesting-correct — a HYPERLINK inside an IF keeps
  *     only the visible text); 0x02 footnote-ref, 0x05 annotation-ref
  *     and 0x08 drawn-object anchors drop.
  *   - Picture anchors (0x01) emit [[Item.Media]] items AT ANCHOR POSITION
  *     (before the enclosing paragraph's text flushes — the DOCX
  *     tag-position rule). The n-th anchor pairs with the n-th bitmap
  *     BLIP in the `Data` stream ([[Blip.scan]] — a declared
  *     approximation; exact pairing needs sprmCPicLocation in the
  *     CHPX layer). Anchors beyond the stored-picture count (OLE
  *     objects share 0x01) stay silent; payloads resolve by reference
  *     via [[mediaPayload]].
  *   - Tables, via the PAPX layer: the PlcBtePapx (FIB 0x0102/0x0106)
  *     maps each paragraph-mark FC to its PAPX FKP page (pn·512 in
  *     the WordDocument stream); the paragraph grpprl's
  *     `sprmPFInTable` (0x2416) / `sprmPFTtp` (0x2417) tell a CELL
  *     mark from a ROW mark — both are the 0x07 character, the only
  *     reason tables need this layer at all. In-table content folds
  *     to ONE "text" span holding the grid as TSV (cells trimmed +
  *     whitespace-collapsed, rows padded to the widest, tab-joined,
  *     newline-joined — the table vocabulary every other front end
  *     emits); multi-paragraph cells space-join; empty cells keep
  *     grid shape. Documents without a readable PlcBtePapx degrade
  *     to the old posture: every 0x07 ends a block (each cell its
  *     own span) — never silence, never mojibake.
  *
  * Declared limits: Word 6/95 (`nFib` < 0x0065 era, fc-based text) is
  * out of scope and degrades to empty; nested tables (sprmPFInnerTable,
  * Word 2000+) flatten into the outer grid's cells.
  */
object DocExtractor {

  private def u16(b: Array[Byte], off: Int): Int =
    if (off < 0 || off + 2 > b.length) -1
    else (b(off) & 0xFF) | ((b(off + 1) & 0xFF) << 8)

  private def i32(b: Array[Byte], off: Int): Int =
    if (off < 0 || off + 4 > b.length) -1
    else (b(off) & 0xFF) | ((b(off + 1) & 0xFF) << 8) |
      ((b(off + 2) & 0xFF) << 16) | ((b(off + 3) & 0xFF) << 24)

  /** A CFB container whose directory carries a WordDocument stream. */
  def isDoc(b: Array[Byte]): Boolean =
    Cfb.isCfb(b) && Cfb.hasStream(b, "WordDocument")

  /** Main-document text plus everything the PAPX layer needs to map a
    * character back to its file position: per-piece CP→FC records and
    * the two streams. `pieces` rows are (cpLo, cpHi-exclusive, fcByte,
    * compressed) over the EMITTED raw string (string index == CP).
    */
  private[graft] final case class Main(
      raw: String, pieces: Vector[(Int, Int, Int, Boolean)],
      wd: Array[Byte], tbl: Array[Byte]) {
    /** WordDocument byte position of the character at string index cp. */
    def fcOfCp(cp: Int): Int = {
      val p = pieces.find(r => cp >= r._1 && cp < r._2)
      p match {
        case Some((cpLo, _, fc, compressed)) =>
          if (compressed) fc + (cp - cpLo) else fc + 2 * (cp - cpLo)
        case None => -1
      }
    }
  }

  /** Main-document text with Word's control characters still inline
    * (the itemizer's input); None when the container, FIB, or piece
    * table is unusable or the document is encrypted.
    */
  private[graft] def rawMainText(b: Array[Byte]): Option[String] =
    mainText(b).map(_.raw)

  private[graft] def mainText(b: Array[Byte]): Option[Main] = {
    // one container parse for both streams — the FAT/directory walk is
    // O(file) and must not repeat per stream on the ingest hot path
    val entries = Cfb.streams(b)
    def get(name: String): Option[Array[Byte]] =
      entries.collectFirst { case e if e.name == name => e.bytes }
    val wdOpt = get("WordDocument")
    if (wdOpt.isEmpty) return None
    val wd = wdOpt.get
    if (u16(wd, 0) != 0xA5EC) return None
    val flags = u16(wd, 0x0A)
    if ((flags & 0x0100) != 0) return None // fEncrypted
    val tblName = if ((flags & 0x0200) != 0) "1Table" else "0Table"
    val tblOpt = get(tblName)
      .orElse(get(if (tblName == "1Table") "0Table" else "1Table"))
    if (tblOpt.isEmpty) return None
    val tbl = tblOpt.get
    val ccpText = i32(wd, 0x4C)
    val fcClx = i32(wd, 0x01A2)
    val lcbClx = i32(wd, 0x01A6)
    if (ccpText <= 0 || fcClx < 0 || lcbClx <= 0 ||
        fcClx.toLong + lcbClx > tbl.length) return None
    // CLX walk: skip clxt=1 Prc blocks, land on the clxt=2 Pcdt
    var pos = fcClx
    val end = fcClx + lcbClx
    var plcOff = -1
    var plcLen = 0
    while (pos < end && plcOff < 0) {
      (tbl(pos) & 0xFF) match {
        case 1 =>
          val cb = u16(tbl, pos + 1)
          if (cb < 0) pos = end else pos += 3 + cb
        case 2 =>
          plcLen = i32(tbl, pos + 1)
          plcOff = pos + 5
        case _ => pos = end
      }
    }
    if (plcOff < 0 || plcLen < 12 + 4 ||
        plcOff.toLong + plcLen > tbl.length) return None
    val n = (plcLen - 4) / 12
    if (n <= 0) return None
    val cps = Array.tabulate(n + 1)(k => i32(tbl, plcOff + 4 * k))
    val sb = new java.lang.StringBuilder()
    val cp1252 = java.nio.charset.Charset.forName("windows-1252")
    val pieceRecs = Vector.newBuilder[(Int, Int, Int, Boolean)]
    var k = 0
    var emitted = 0
    while (k < n && emitted < ccpText) {
      val cpLo = cps(k)
      val cpHi = cps(k + 1)
      val take = math.min(cpHi, ccpText) - cpLo
      if (take > 0 && cpLo >= 0 && cpHi > cpLo) {
        val pcd = plcOff + 4 * (n + 1) + 8 * k
        val fcWord = i32(tbl, pcd + 2)
        val compressed = (fcWord & 0x40000000) != 0
        val fc = fcWord & 0x3FFFFFFF
        if (compressed) {
          val off = fc / 2
          if (off >= 0 && off + take <= wd.length)
            sb.append(new String(wd, off, take, cp1252))
          else return None
          pieceRecs += ((emitted, emitted + take, off, true))
        } else {
          if (fc >= 0 && fc.toLong + 2L * take <= wd.length)
            sb.append(new String(wd, fc, 2 * take,
              java.nio.charset.StandardCharsets.UTF_16LE))
          else return None
          pieceRecs += ((emitted, emitted + take, fc, false))
        }
        emitted += take
      }
      k += 1
    }
    if (emitted <= 0) None
    else Some(Main(sb.toString, pieceRecs.result(), wd, tbl))
  }

  // ---------------------------------------------------------------
  // PAPX layer: paragraph-mark FC → (fInTable, fTtp)
  // ---------------------------------------------------------------

  /** Paragraph-property lookup from the PlcBtePapx + PAPX FKP layer;
    * None when the document carries no readable PlcBtePapx (pre-table
    * degradation: every 0x07 ends a block). The returned function maps
    * a paragraph-mark FC to (sprmPFInTable, sprmPFTtp).
    */
  private def paraProps(wd: Array[Byte],
                        tbl: Array[Byte]): Option[Int => (Boolean, Boolean)] = {
    val fcB = i32(wd, 0x0102)
    val lcbB = i32(wd, 0x0106)
    if (fcB < 0 || lcbB < 12 || fcB.toLong + lcbB > tbl.length) return None
    val n = (lcbB - 4) / 8
    if (n <= 0) return None
    val aFc = Array.tabulate(n + 1)(k => i32(tbl, fcB + 4 * k))
    val aPn = Array.tabulate(n)(k =>
      i32(tbl, fcB + 4 * (n + 1) + 4 * k) & 0x3FFFFF)
    Some { fc =>
      var i = 0
      var out = (false, false)
      while (i < n) {
        if (fc >= aFc(i) && fc < aFc(i + 1)) { out = fkpProps(wd, aPn(i), fc); i = n }
        else i += 1
      }
      out
    }
  }

  /** Walk one 512-byte PAPX FKP page for the paragraph covering `fc`
    * and scan its grpprl for sprmPFInTable (0x2416) / sprmPFTtp
    * (0x2417). Operand sizes follow the sprm's spra bits; both PapxInFkp
    * size forms (cb != 0 → 2·cb−1 bytes, cb == 0 → next byte · 2) are
    * handled. Defensive on every bound — garbage degrades to defaults.
    */
  private def fkpProps(wd: Array[Byte], pn: Int, fc: Int): (Boolean, Boolean) = {
    val off = pn * 512
    if (pn < 0 || off + 512 > wd.length) return (false, false)
    val cpara = wd(off + 511) & 0xFF
    if (cpara == 0 || 4 * (cpara + 1) + 13 * cpara > 511) return (false, false)
    var k = -1
    var j = 0
    while (j < cpara && k < 0) {
      if (fc >= i32(wd, off + 4 * j) && fc < i32(wd, off + 4 * (j + 1))) k = j
      j += 1
    }
    if (k < 0) return (false, false)
    val bOffset = wd(off + 4 * (cpara + 1) + 13 * k) & 0xFF
    if (bOffset == 0) return (false, false) // no PAPX: stock defaults
    val p = off + 2 * bOffset
    if (p + 2 > off + 512) return (false, false)
    val cb = wd(p) & 0xFF
    // grpprlInPapx = istd (2 bytes) then the sprm list
    val (gStart, gLen) =
      if (cb != 0) (p + 1 + 2, 2 * cb - 1 - 2)
      else (p + 2 + 2, 2 * (wd(p + 1) & 0xFF) - 2)
    val gEnd = math.min(gStart + math.max(gLen, 0), off + 512)
    var fInTable = false
    var fTtp = false
    var q = gStart
    while (q + 2 <= gEnd) {
      val sprm = u16(wd, q)
      if (sprm == 0x2416 && q + 3 <= gEnd) fInTable = wd(q + 2) != 0
      if (sprm == 0x2417 && q + 3 <= gEnd) fTtp = wd(q + 2) != 0
      val opLen = ((sprm >> 13) & 7) match {
        case 0 | 1 => 1
        case 2 | 4 | 5 => 2
        case 3 => 4
        case 6 => 1 + (if (q + 3 <= gEnd) wd(q + 2) & 0xFF else 0)
        case _ => 3
      }
      q += 2 + opLen
    }
    (fInTable, fTtp)
  }

  /** Word control-character machine → trimmed text blocks (+ one TSV
    * block per table when `props` can tell cell marks from row marks).
    * `props` maps the string index of a 0x0D/0x07 mark to its
    * paragraph's (fInTable, fTtp); the default — used by documents
    * with no readable PlcBtePapx and by the synthetic-raw-text tests —
    * reads every mark as a plain block end. Shared by the real parse
    * and by tests that feed synthetic raw text.
    */
  private[graft] def itemize(
      raw: String,
      props: Int => (Boolean, Boolean) = _ => (false, false)): Vector[Item] = {
    val blocks = Vector.newBuilder[Item]
    val sb = new java.lang.StringBuilder()
    // field nesting: one Boolean per open field — true while in the
    // CODE part (0x13..0x14), false in the RESULT part (0x14..0x15)
    var fieldStack: List[Boolean] = Nil
    var anchors = 0 // running 0x01 picture-anchor count (1-based refs)
    // table state: rows of normalized cells, same vocabulary as the
    // ODT/XLS front ends (trim + whitespace collapse, pad to widest)
    val rows = scala.collection.mutable.ArrayBuffer.empty[Vector[String]]
    val cells = scala.collection.mutable.ArrayBuffer.empty[String]
    def closeCell(): Unit = {
      cells += sb.toString.trim.replaceAll("\\s+", " ")
      sb.setLength(0)
    }
    def closeRow(): Unit = {
      // a well-formed row mark is its own empty paragraph; defensively
      // fold any stray text before it into a trailing cell
      if (!sb.toString.isBlank) closeCell() else sb.setLength(0)
      if (cells.nonEmpty) { rows += cells.toVector; () }
      cells.clear()
    }
    def flushTable(): Unit = {
      if (cells.nonEmpty) { rows += cells.toVector; () } // truncated row
      cells.clear()
      if (rows.nonEmpty) {
        val width = rows.map(_.length).max
        val tsv = rows.map(_.padTo(width, "").mkString("\t"))
          .mkString("\n")
        if (tsv.exists(!_.isWhitespace)) blocks += Text(tsv)
        rows.clear()
      }
    }
    def flush(): Unit = {
      val t = sb.toString.trim
      if (t.nonEmpty) blocks += Text(t)
      sb.setLength(0)
    }
    var i = 0
    while (i < raw.length) {
      val c = raw.charAt(i)
      c.toInt match {
        case 0x13 => fieldStack = true :: fieldStack
        case 0x14 =>
          if (fieldStack.nonEmpty) fieldStack = false :: fieldStack.tail
        case 0x15 =>
          if (fieldStack.nonEmpty) fieldStack = fieldStack.tail
        case _ if fieldStack.contains(true) => () // inside field code
        case 0x0D =>
          // a paragraph mark INSIDE a cell space-joins (multi-paragraph
          // cells, the ODT rule); outside tables it ends the block —
          // and closes any table the document just walked out of
          if (props(i)._1 && (cells.nonEmpty || rows.nonEmpty ||
              !sb.toString.isBlank)) sb.append(' ')
          else { flushTable(); flush() }
        case 0x07 =>
          val (inTable, ttp) = props(i)
          if (ttp) closeRow() // row terminator (TTP paragraph)
          else if (inTable) closeCell() // cell mark
          else { flushTable(); flush() } // degraded: block end
        case 0x0C | 0x0E => flushTable(); flush()
        case 0x0B => sb.append('\n')
        case 0x1E => sb.append('-')
        case 0x1F => ()
        case 0x09 => sb.append('\t')
        case _ if c >= ' ' => sb.append(c)
        case 0x01 => // picture/OLE anchor: media at anchor position
          anchors += 1
          // always "image": Word inline pictures are raster BLIPs;
          // sounds/OLE objects never pair with a stored bitmap
          blocks += Media("image", s"pic$anchors", inFile = true)
        case _ => () // 0x02/0x05/0x08 anchors + stray controls
      }
      i += 1
    }
    flushTable()
    flush()
    blocks.result()
  }

  /** The document as ordered items (text blocks + anchor-position
    * pictures, see above); empty on anything unparseable. Anchors
    * beyond the Data stream's stored-bitmap count drop — an OLE
    * object's 0x01 must not mint an unresolvable media ref.
    */
  def items(b: Array[Byte]): Vector[Item] = {
    val main = mainText(b).getOrElse(return Vector.empty)
    val props = paraProps(main.wd, main.tbl)
      .map(lk => (cp: Int) => {
        val fc = main.fcOfCp(cp)
        if (fc < 0) (false, false) else lk(fc)
      })
      .getOrElse((_: Int) => (false, false))
    val its = itemize(main.raw, props)
    lazy val nPics = Cfb.stream(b, "Data")
      .map(d => Blip.scan(d).length).getOrElse(0)
    its.filter {
      case Media(_, ref, _) => ref.drop(3).toInt <= nPics
      case _ => true
    }
  }

  /** Resolve one media ref minted by [[items]] (`pic<n>`) to its
    * picture bytes: the n-th bitmap BLIP of the `Data` stream.
    */
  def mediaPayload(b: Array[Byte], ref: String): Option[Array[Byte]] = {
    if (!ref.startsWith("pic")) return None
    val n = ref.drop(3).toIntOption.getOrElse(return None)
    val data = Cfb.stream(b, "Data").getOrElse(return None)
    val offs = Blip.scan(data)
    if (n < 1 || n > offs.length) None
    else Blip.payload(data, offs(n - 1))
  }
}
