package graft.gen

/** Deterministic Word-97 binary (`.doc`) fixtures + generator ground
  * truth — the fixture behind `ex_doc`. This file is the ENCODER twin
  * of [[graft.extract.Cfb]]/[[graft.extract.DocExtractor]]: it writes
  * real CFB containers (header, DIFAT→FAT, directory, miniFAT/mini
  * stream) and real Word FIB + piece tables by hand, sharing no code
  * with the reader, and its `expected*` rows are written from the
  * paragraph strings it chose — the parser never sees them.
  *
  * Variant mix (`i % 10`):
  *   0 — single windows-1252 (compressed) piece, three paragraphs
  *       with cp1252-only accents/dashes;
  *   1 — single UTF-16LE piece in a VERSION-4 container (4096-byte
  *       sectors): CJK + Cyrillic + a surrogate pair (2 CPs);
  *   2 — three pieces with boundaries MID-paragraph and mixed
  *       encodings (cp1252 → utf-16 → cp1252) — reassembly is
  *       CP-ordered;
  *   3 — field machinery: a HYPERLINK (code dropped, result kept) and
  *       a nested field (outer code containing an inner field —
  *       everything inside the outer code vanishes);
  *   4 — table cell/row marks (0x07) WITHOUT a PlcBtePapx: the
  *       degradation pin — each cell its own block;
  *   5 — 0Table variant (fWhichTblStm clear) + line break 0x0B kept
  *       as `\n` inside its block + page break 0x0C + a tab;
  *   6 — fEncrypted set: the document must DROP (no spans);
  *   7 — small 1Table stream (< 4096 → lives in the MINI stream), a
  *       clxt=1 Prc block before the Pcdt, junk bytes before fcClx,
  *       and trailing footnote text past ccpText that must be
  *       EXCLUDED;
  *   8 — embedded pictures: three 0x01 anchors in the text (one
  *       mid-paragraph), a `Data` stream holding a genuine PNG BLIP
  *       and a double-UID JPEG BLIP behind junk prefixes — anchors 1
  *       and 2 emit media at anchor position, the THIRD anchor (an
  *       OLE object, say) exceeds the stored-picture count and stays
  *       silent;
  *   9 — a real table through the PAPX layer (PlcBtePapx + a
  *       hand-built 512-byte PAPX FKP, sprmPFInTable/sprmPFTtp in
  *       both PapxInFkp size forms): 2×3 grid with a multi-paragraph
  *       cell and an empty cell — folds to ONE TSV block, unlike
  *       variant 4's PAPX-less degradation.
  */
object DocGen {

  // ---------------------------------------------------------------
  // CFB writer (independent of graft.extract.Cfb)
  // ---------------------------------------------------------------

  private val FREE = 0xFFFFFFFF
  private val EOC = 0xFFFFFFFE
  private val FATSECT = 0xFFFFFFFD

  private def putU16(b: Array[Byte], off: Int, v: Int): Unit = {
    b(off) = (v & 0xFF).toByte
    b(off + 1) = ((v >> 8) & 0xFF).toByte
  }

  private def putI32(b: Array[Byte], off: Int, v: Int): Unit = {
    b(off) = (v & 0xFF).toByte
    b(off + 1) = ((v >> 8) & 0xFF).toByte
    b(off + 2) = ((v >> 16) & 0xFF).toByte
    b(off + 3) = ((v >> 24) & 0xFF).toByte
  }

  /** Assemble a CFB container holding `streams` in directory order.
    * Streams under 4096 bytes go to the mini stream (miniFAT-chained
    * 64-byte sectors inside the root entry's chain); the rest get
    * regular FAT chains. v3 = 512-byte sectors, v4 = 4096.
    */
  private[graft] def cfbBytes(streams: Seq[(String, Array[Byte])],
                            v4: Boolean = false): Array[Byte] = {
    val shift = if (v4) 12 else 9
    val ss = 1 << shift
    val cutoff = 4096

    // mini stream assembly: 64-byte mini sectors, chained per stream
    val miniBuf = new java.io.ByteArrayOutputStream()
    val miniFat = scala.collection.mutable.ArrayBuffer.empty[Int]
    val miniStart = scala.collection.mutable.Map.empty[Int, Int]
    streams.zipWithIndex.foreach { case ((_, data), idx) =>
      if (data.length < cutoff) {
        val nMini = math.max(1, (data.length + 63) / 64)
        val start = miniFat.length
        miniStart(idx) = start
        var k = 0
        while (k < nMini) {
          miniFat += (if (k == nMini - 1) EOC else start + k + 1)
          k += 1
        }
        miniBuf.write(data)
        val pad = nMini * 64 - data.length
        if (pad > 0) miniBuf.write(new Array[Byte](pad))
      }
    }
    val miniBytes = miniBuf.toByteArray

    val nDirEntries = 1 + streams.size
    val perDir = ss / 128
    val nDirSectors = (nDirEntries + perDir - 1) / perDir
    val nMiniFatSectors = (miniFat.length * 4 + ss - 1) / ss
    val nMiniStreamSectors = (miniBytes.length + ss - 1) / ss
    val bigLens = streams.map { case (_, d) =>
      if (d.length < cutoff) 0 else (d.length + ss - 1) / ss }
    val payload =
      nDirSectors + nMiniFatSectors + nMiniStreamSectors + bigLens.sum
    val perFat = ss / 4
    var nFat = 1
    while ((nFat + payload + perFat - 1) / perFat > nFat) nFat += 1

    val dirStart = nFat
    val miniFatStart =
      if (nMiniFatSectors > 0) dirStart + nDirSectors else EOC
    val miniStreamStart =
      if (nMiniStreamSectors > 0)
        dirStart + nDirSectors + nMiniFatSectors
      else EOC
    var next = dirStart + nDirSectors + nMiniFatSectors +
      nMiniStreamSectors
    val bigStart = streams.indices.map { idx =>
      if (bigLens(idx) == 0) -1
      else { val s = next; next += bigLens(idx); s }
    }
    val total = nFat + payload

    val fat = Array.fill(total)(FREE)
    var k = 0
    while (k < nFat) { fat(k) = FATSECT; k += 1 }
    def linkChain(start: Int, len: Int): Unit = {
      var j = 0
      while (j < len) {
        fat(start + j) = if (j == len - 1) EOC else start + j + 1
        j += 1
      }
    }
    linkChain(dirStart, nDirSectors)
    if (nMiniFatSectors > 0)
      linkChain(dirStart + nDirSectors, nMiniFatSectors)
    if (nMiniStreamSectors > 0) linkChain(miniStreamStart,
      nMiniStreamSectors)
    streams.indices.foreach { idx =>
      if (bigLens(idx) > 0) linkChain(bigStart(idx), bigLens(idx))
    }

    val out = new Array[Byte]((total + 1) * ss)
    // header (512 bytes of content; v4 pads the rest of sector -1)
    val sigBytes = Array(0xD0, 0xCF, 0x11, 0xE0, 0xA1, 0xB1, 0x1A,
      0xE1).map(_.toByte)
    System.arraycopy(sigBytes, 0, out, 0, 8)
    putU16(out, 0x18, 0x003E)
    putU16(out, 0x1A, if (v4) 4 else 3)
    putU16(out, 0x1C, 0xFFFE)
    putU16(out, 0x1E, shift)
    putU16(out, 0x20, 6)
    putI32(out, 0x28, if (v4) nDirSectors else 0)
    putI32(out, 0x2C, nFat)
    putI32(out, 0x30, dirStart)
    putI32(out, 0x38, cutoff)
    putI32(out, 0x3C, miniFatStart)
    putI32(out, 0x40, nMiniFatSectors)
    putI32(out, 0x44, EOC)
    putI32(out, 0x48, 0)
    var d = 0
    while (d < 109) {
      putI32(out, 0x4C + 4 * d, if (d < nFat) d else FREE)
      d += 1
    }

    def sectorOff(id: Int): Int = (id + 1) * ss
    // FAT sectors
    var f = 0
    while (f < total) {
      putI32(out, sectorOff(f / perFat) + 4 * (f % perFat), fat(f))
      f += 1
    }
    var pad = total
    while (pad < nFat.toLong * perFat) {
      putI32(out, sectorOff((pad / perFat).toInt) +
        4 * (pad % perFat).toInt, FREE)
      pad += 1
    }

    // directory entries
    def dirEntry(slot: Int, name: String, typ: Int, left: Int,
                 right: Int, child: Int, start: Int, size: Int): Unit = {
      val base = sectorOff(dirStart) + 128 * slot
      val nb = name.getBytes(java.nio.charset.StandardCharsets.UTF_16LE)
      System.arraycopy(nb, 0, out, base, math.min(nb.length, 62))
      putU16(out, base + 0x40, nb.length + 2)
      out(base + 0x42) = typ.toByte
      out(base + 0x43) = 1 // black
      putI32(out, base + 0x44, left)
      putI32(out, base + 0x48, right)
      putI32(out, base + 0x4C, child)
      putI32(out, base + 0x74, start)
      putI32(out, base + 0x78, size)
    }
    dirEntry(0, "Root Entry", 5, -1, -1,
      if (streams.nonEmpty) 1 else -1, miniStreamStart,
      miniBytes.length)
    streams.zipWithIndex.foreach { case ((name, data), idx) =>
      val start =
        if (data.length < cutoff) miniStart(idx) else bigStart(idx)
      dirEntry(1 + idx, name, 2, -1,
        if (idx == streams.size - 1) -1 else idx + 2, -1, start,
        data.length)
    }

    // miniFAT sectors
    if (nMiniFatSectors > 0) {
      val base = sectorOff(dirStart + nDirSectors)
      var m = 0
      while (m < nMiniFatSectors * perFat) {
        putI32(out, base + 4 * m,
          if (m < miniFat.length) miniFat(m) else FREE)
        m += 1
      }
    }
    // mini stream payload
    if (nMiniStreamSectors > 0)
      System.arraycopy(miniBytes, 0, out, sectorOff(miniStreamStart),
        miniBytes.length)
    // big stream payloads
    streams.zipWithIndex.foreach { case ((_, data), idx) =>
      if (bigLens(idx) > 0)
        System.arraycopy(data, 0, out, sectorOff(bigStart(idx)),
          data.length)
    }
    out
  }

  // ---------------------------------------------------------------
  // Word 97 assembly: FIB + text pieces + CLX piece table
  // ---------------------------------------------------------------

  private val Utf16 = java.nio.charset.StandardCharsets.UTF_16LE
  private val Cp1252 = java.nio.charset.Charset.forName("windows-1252")

  /** One text piece: its CP-length slice of the document text and the
    * storage encoding Word would have chosen for it.
    */
  private final case class Piece(text: String, compressed: Boolean)

  /** Build (WordDocument bytes, Table-stream bytes). `mainText` is the
    * [0, ccpText) range; `trailing` (footnote-style) text appends CPs
    * past ccpText that a correct reader must exclude. `prcBlock`
    * prepends a clxt=1 property block to the CLX; `tableJunk`
    * left-pads the Table stream so fcClx > 0. The piece CP split is
    * `pieces` in order. `papx` (single-compressed-piece variants only:
    * FC = textStart + cp) writes the table layer — one PAPX FKP page
    * appended to WordDocument at a 512 boundary plus a one-entry
    * PlcBtePapx after the CLX; rows are (cpEndExclusive, code) per
    * paragraph with code 0 = default, 1 = sprmPFInTable, 2 = row mark
    * (sprmPFInTable + sprmPFTtp). Codes 1/2 exercise BOTH PapxInFkp
    * size forms (cb != 0 and cb == 0).
    */
  private def wordStreams(pieces: Seq[Piece], trailing: Seq[Piece],
                          whichTbl1: Boolean, encrypted: Boolean,
                          prcBlock: Boolean, tableJunk: Int,
                          wdPad: Int,
                          papx: Seq[(Int, Int)] = Nil): (Array[Byte], Array[Byte]) = {
    val fibSize = 0x5C0
    val textStart = 0x800
    val wdBuf = new java.io.ByteArrayOutputStream()
    wdBuf.write(new Array[Byte](textStart))
    var fc = textStart
    val all = pieces ++ trailing
    val plc = all.map { p =>
      val cpLen = p.text.length
      val (bytes, fcWord) =
        if (p.compressed) (p.text.getBytes(Cp1252), (fc * 2) | 0x40000000)
        else (p.text.getBytes(Utf16), fc)
      wdBuf.write(bytes)
      fc += bytes.length
      (cpLen, fcWord)
    }
    if (wdPad > 0) wdBuf.write(new Array[Byte](wdPad))
    val pnOpt: Option[Int] =
      if (papx.isEmpty) None
      else {
        require(pieces.sizeIs == 1 && pieces.head.compressed && trailing.isEmpty)
        val pad = (512 - wdBuf.size() % 512) % 512
        if (pad > 0) wdBuf.write(new Array[Byte](pad))
        val pn = wdBuf.size() / 512
        val fkp = new Array[Byte](512)
        val nP = papx.length
        putI32(fkp, 0, textStart)
        papx.zipWithIndex.foreach { case ((cpEnd, _), k) =>
          putI32(fkp, 4 * (k + 1), textStart + cpEnd)
        }
        // PapxInFkp A — fInTable, cb!=0 form — at page offset 490
        // (bOffset 245); B — fInTable+fTtp, cb==0 form — at 498
        // (bOffset 249). istd zero in both.
        val A = Array[Byte](3, 0, 0, 0x16, 0x24, 1)
        System.arraycopy(A, 0, fkp, 490, A.length)
        val B = Array[Byte](0, 4, 0, 0, 0x16, 0x24, 1, 0x17, 0x24, 1)
        System.arraycopy(B, 0, fkp, 498, B.length)
        papx.zipWithIndex.foreach { case ((_, code), k) =>
          fkp(4 * (nP + 1) + 13 * k) =
            (if (code == 1) 245 else if (code == 2) 249 else 0).toByte
        }
        fkp(511) = nP.toByte
        wdBuf.write(fkp)
        Some(pn)
      }
    val wd = wdBuf.toByteArray
    val ccpText = pieces.map(_.text.length).sum
    val ccpFtn = trailing.map(_.text.length).sum
    putU16(wd, 0, 0xA5EC)
    putU16(wd, 2, 0x00C1) // nFib: Word 97
    var flags = 0
    if (whichTbl1) flags |= 0x0200
    if (encrypted) flags |= 0x0100
    putU16(wd, 0x0A, flags)
    putI32(wd, 0x4C, ccpText)
    putI32(wd, 0x50, ccpFtn)

    // CLX: optional Prc block, then Pcdt with the PlcPcd
    val n = plc.length
    val plcLen = 4 * (n + 1) + 8 * n
    val clxBuf = new java.io.ByteArrayOutputStream()
    if (prcBlock) {
      clxBuf.write(1)
      val grpprl = Array[Byte](0x12, 0x34, 0x56, 0x78, 0x11)
      val cb = new Array[Byte](2)
      putU16(cb, 0, grpprl.length)
      clxBuf.write(cb)
      clxBuf.write(grpprl)
    }
    clxBuf.write(2)
    val lcb = new Array[Byte](4)
    putI32(lcb, 0, plcLen)
    clxBuf.write(lcb)
    var cp = 0
    val cpsBytes = new Array[Byte](4 * (n + 1))
    plc.zipWithIndex.foreach { case ((cpLen, _), idx) =>
      putI32(cpsBytes, 4 * idx, cp)
      cp += cpLen
    }
    putI32(cpsBytes, 4 * n, cp)
    clxBuf.write(cpsBytes)
    plc.foreach { case (_, fcWord) =>
      val pcd = new Array[Byte](8)
      putI32(pcd, 2, fcWord)
      clxBuf.write(pcd)
    }
    val clx = clxBuf.toByteArray

    val tblBuf = new java.io.ByteArrayOutputStream()
    if (tableJunk > 0) {
      val junk = Array.tabulate(tableJunk)(j => ((j * 37 + 5) & 0xFF)
        .toByte)
      tblBuf.write(junk)
    }
    tblBuf.write(clx)
    pnOpt.foreach { pn =>
      val plcOff = tableJunk + clx.length
      val bte = new Array[Byte](12)
      putI32(bte, 0, textStart)
      putI32(bte, 4, textStart + papx.last._1)
      putI32(bte, 8, pn)
      tblBuf.write(bte)
      putI32(wd, 0x0102, plcOff)
      putI32(wd, 0x0106, 12)
    }
    val tbl = tblBuf.toByteArray
    putI32(wd, 0x01A2, tableJunk)
    putI32(wd, 0x01A6, clx.length)
    val _ = fibSize
    (wd, tbl)
  }

  // ---------------------------------------------------------------
  // variants
  // ---------------------------------------------------------------

  def fileName(i: Int): String = f"memo_$i%04d.doc"

  private def para0(i: Int) =
    s"Memo $i opens at the café with touché remarks " +
      s"— m${(i * 31) % 883} noted."
  private def para1(i: Int) =
    s"Second paragraph of memo $i cites m${(i * 37) % 883} and " +
      "closes plainly."
  private def para2(i: Int) =
    s"Final line $i carries ± tolerances for m${(i * 41) % 883}."

  private def cjk0(i: Int) =
    s"文書 $i は位置情報を保" +
      s"持する m${(i * 43) % 883}。"
  private def cjk1(i: Int) =
    s"Документ $i с " +
      s"m${(i * 47) % 883} внутри."
  private def cjk2(i: Int) =
    s"Math set 𝕊 closes memo $i."

  private def mixA(i: Int) =
    s"Mixed memo $i begins in cp1252 and the sentence keeps going"
  private def mixB(i: Int) =
    s" across a piece boundary into 中文 runs, m${(i * 53) % 883}."
  private def mixC(i: Int) =
    s"Trailer paragraph $i back in single-byte text."

  private val FldB = "\u0013" // field begin
  private val FldS = "\u0014" // field separator (code | result)
  private val FldE = "\u0015" // field end
  private val Cell = "\u0007" // cell/row mark
  private val LineBrk = "\u000B"
  private val PageBrk = "\u000C"

  private def fieldsRaw(i: Int): String =
    s"Visit ${FldB}HYPERLINK \"http://ex$i.example.org/\"${FldS}" +
      s"Example $i site${FldE} today.\r" +
      s"${FldB}IF 1 = 1 ${FldB}DATE${FldS}code${FldE}${FldS}" +
      s"Result $i kept${FldE} after fields.\r"
  private def fieldsBlocks(i: Int): Seq[String] = Seq(
    s"Visit Example $i site today.",
    s"Result $i kept after fields.")

  private def tableRaw(i: Int): String =
    s"Name${Cell}Value${Cell}${Cell}Alpha $i${Cell}${i * 7}${Cell}" +
      s"${Cell}After the table $i.\r"
  private def tableBlocks(i: Int): Seq[String] = Seq(
    "Name", "Value", s"Alpha $i", s"${i * 7}", s"After the table $i.")

  private def breaksRaw(i: Int): String =
    s"Line one of $i${LineBrk}line two stays inside.\r" +
      s"Page break next $i.${PageBrk}Tab\there $i.\r"
  private def breaksBlocks(i: Int): Seq[String] = Seq(
    s"Line one of $i\nline two stays inside.",
    s"Page break next $i.", s"Tab\there $i.")

  private def ministreamRaw(i: Int): String =
    s"Mini-table memo $i with m${(i * 59) % 883} inside.\r" +
      s"Second mini paragraph $i.\r"
  private def ministreamBlocks(i: Int): Seq[String] = Seq(
    s"Mini-table memo $i with m${(i * 59) % 883} inside.",
    s"Second mini paragraph $i.")

  private def picRaw(i: Int): String =
    s"Figure memo $i shows two plates:\r" +
      "\u0001" + s"First plate caption $i.\r" +
      s"Mid text $i. " + "\u0001" + s"Second plate follows $i.\r" +
      "\u0001" + s"Ghost anchor stays silent $i.\r"

  // variant 9 — a real table through the PAPX layer: 2-column grid,
  // row marks as their own TTP paragraphs, one multi-paragraph cell
  // (0x0D inside a cell), one EMPTY cell keeping grid shape
  private def papxTableRaw(i: Int): String =
    s"Table memo $i follows:\r" +
      s"Item${Cell}Qty${Cell}${Cell}" +
      s"Widget m${(i * 61) % 883}${Cell}${i * 3}${Cell}${Cell}" +
      s"Long cell $i first part.\rsecond part${Cell}${Cell}${Cell}" +
      s"After table $i.\r"
  // per-paragraph PAPX codes, in mark order (0 plain, 1 in-table,
  // 2 row mark) — the \r inside the long cell is paragraph 8
  private val papxTableCodes = Seq(0, 1, 1, 2, 1, 1, 2, 1, 1, 1, 2, 0)
  private def papxTableTsv(i: Int): String =
    s"Item\tQty\n" +
      s"Widget m${(i * 61) % 883}\t${i * 3}\n" +
      s"Long cell $i first part. second part\t"

  /** (cpEndExclusive, code) rows for [[wordStreams]]' papx parameter:
    * paragraph boundaries fall AFTER each 0x0D/0x07 mark.
    */
  private def papxOf(raw: String, codes: Seq[Int]): Seq[(Int, Int)] = {
    val ends = raw.zipWithIndex.collect {
      case (c, idx) if c == '\r' || c == '\u0007' => idx + 1
    }
    require(ends.length == codes.length, s"${ends.length} vs ${codes.length}")
    ends.zip(codes)
  }

  /** The `Data` stream for the picture variant: junk prefixes (no 0xF0
    * bytes — cannot scan as BLIP headers) around a genuine PNG BLIP
    * and a double-UID JPEG BLIP.
    */
  private def dataStream(i: Int): Array[Byte] = {
    val junk1 = Array.tabulate[Byte](40)(k => ((k * 13 + 7) & 0x7F).toByte)
    val junk2 = Array.tabulate[Byte](24)(k => ((k * 29 + 3) & 0x7F).toByte)
    junk1 ++ PptGen.blip(0xF01E, 0x6E0, 1, PptGen.pngPayload(i)) ++
      junk2 ++ PptGen.blip(0xF01D, 0x46B, 2, PptGen.jpegPayload(i))
  }

  def fileBytes(i: Int): Array[Byte] = {
    val v = i % 10
    val (pieces, trailing, tbl1, enc, prc, junk, wdPad, v4) = v match {
      case 0 =>
        val raw = s"${para0(i)}\r${para1(i)}\r${para2(i)}\r"
        (Seq(Piece(raw, compressed = true)), Nil, true, false, false,
          0, 4096, false)
      case 1 =>
        val raw = s"${cjk0(i)}\r${cjk1(i)}\r${cjk2(i)}\r"
        (Seq(Piece(raw, compressed = false)), Nil, true, false, false,
          0, 4096, true)
      case 2 =>
        (Seq(Piece(mixA(i), compressed = true),
          Piece(mixB(i) + "\r", compressed = false),
          Piece(mixC(i) + "\r", compressed = true)), Nil, true, false,
          false, 0, 4096, false)
      case 3 =>
        (Seq(Piece(fieldsRaw(i), compressed = true)), Nil, true, false,
          false, 0, 4096, false)
      case 4 =>
        (Seq(Piece(tableRaw(i), compressed = true)), Nil, true, false,
          false, 0, 4096, false)
      case 5 =>
        (Seq(Piece(breaksRaw(i), compressed = true)), Nil, false,
          false, false, 0, 4096, false)
      case 6 =>
        val raw = s"Encrypted memo $i must not leak.\r"
        (Seq(Piece(raw, compressed = true)), Nil, true, true, false,
          0, 4096, false)
      case 7 =>
        (Seq(Piece(ministreamRaw(i), compressed = true)),
          Seq(Piece(s"Footnote $i stays out of the main range.\r",
            compressed = true)), true, false, true, 64, 4096, false)
      case 8 =>
        (Seq(Piece(picRaw(i), compressed = true)), Nil, true, false,
          false, 0, 4096, false)
      case _ =>
        (Seq(Piece(papxTableRaw(i), compressed = true)), Nil, true,
          false, false, 0, 4096, false)
    }
    val papx =
      if (v == 9) papxOf(papxTableRaw(i), papxTableCodes) else Nil
    val (wd, tblBytes) = wordStreams(pieces, trailing, tbl1, enc, prc,
      junk, wdPad, papx)
    val tblName = if (tbl1) "1Table" else "0Table"
    // variant 7 keeps the Table stream SMALL (mini stream); others pad
    // it into the regular-FAT range
    val tblOut =
      if (v == 7) tblBytes
      else {
        val padded = new Array[Byte](math.max(4096, tblBytes.length))
        System.arraycopy(tblBytes, 0, padded, 0, tblBytes.length)
        padded
      }
    val dataOpt = if (v == 8) Seq("Data" -> dataStream(i)) else Nil
    cfbBytes(Seq("WordDocument" -> wd, tblName -> tblOut) ++ dataOpt, v4)
  }

  /** A minimal well-formed `.doc` carrying exactly these paragraphs
    * (one compressed piece, 1Table) — the cross-format fixture writer
    * ([[CrossGen]]). ASCII/cp1252 text only.
    */
  def simpleDocBytes(paragraphs: Seq[String]): Array[Byte] = {
    val raw = paragraphs.map(_ + "\r").mkString
    val (wd, tbl) = wordStreams(Seq(Piece(raw, compressed = true)), Nil,
      whichTbl1 = true, encrypted = false, prcBlock = false,
      tableJunk = 0, wdPad = 4096)
    val padded = new Array[Byte](math.max(4096, tbl.length))
    System.arraycopy(tbl, 0, padded, 0, tbl.length)
    cfbBytes(Seq("WordDocument" -> wd, "1Table" -> padded))
  }

  def write(dir: String, n: Int): Unit =
    (0 until n).foreach { i =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, fileName(i)), fileBytes(i)): Unit
    }

  /** Table-variant-only corpus (every file a variant 9) + its ground
    * truth — the fixture behind `q_table_tsv_doc`.
    */
  def writeTables(dir: String, n: Int): Unit =
    (0 until n).foreach { k =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, fileName(10 * k + 9)),
        fileBytes(10 * k + 9)): Unit
    }

  def expectedTables(n: Int): Seq[GtRow] =
    (0 until n).flatMap(k => expectedDoc(10 * k + 9))

  /** Hand-written ground truth per variant — the block lists the
    * control-character semantics imply, never computed by the parser.
    */
  def expectedDoc(i: Int): Seq[GtRow] = {
    val f = fileName(i)
    def txt(t: String) = (("text", t, null): (String, String, String))
    def pic(p: Int) = (("image", null, s"$f#pic$p"): (String, String, String))
    val blocks: Seq[(String, String, String)] = (i % 10) match {
      case 0 => Seq(para0(i), para1(i), para2(i)).map(txt)
      case 1 => Seq(cjk0(i), cjk1(i), cjk2(i)).map(txt)
      case 2 => Seq(mixA(i) + mixB(i), mixC(i)).map(txt)
      case 3 => fieldsBlocks(i).map(txt)
      case 4 => tableBlocks(i).map(txt)
      case 5 => breaksBlocks(i).map(txt)
      case 6 => Nil // encrypted: dropped
      case 7 => ministreamBlocks(i).map(txt)
      case 8 => Seq(
        // anchor-position media: pic1 before its caption paragraph,
        // pic2 mid-paragraph (halves join), the third anchor silent
        // (only two bitmaps stored in the Data stream)
        txt(s"Figure memo $i shows two plates:"),
        pic(1),
        txt(s"First plate caption $i."),
        pic(2),
        txt(s"Mid text $i. Second plate follows $i."),
        txt(s"Ghost anchor stays silent $i."))
      case _ => Seq(
        // the PAPX table folds to ONE TSV block between its neighbors
        txt(s"Table memo $i follows:"),
        txt(papxTableTsv(i)),
        txt(s"After table $i."))
    }
    blocks.zipWithIndex.map { case ((k, t, m), o) => GtRow(f, k, t, m, o) }
  }

  def expected(n: Int): Seq[GtRow] = (0 until n).flatMap(expectedDoc)
}
