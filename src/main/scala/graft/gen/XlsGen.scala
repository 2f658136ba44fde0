package graft.gen

/** Deterministic Excel-97 binary (`.xls`) fixtures + generator ground
  * truth — the fixture behind `q_table_tsv_xls`. ENCODER twin of
  * [[graft.extract.XlsExtractor]]: BIFF8 record streams (BOF/
  * BOUNDSHEET/SST/CONTINUE/cell records/EOF) are assembled by hand
  * here, wrapped in the hand-written CFB container from [[DocGen]],
  * and the expected TSVs are written from the values this generator
  * chose — the parser never sees them.
  *
  * Variant mix (`i % 6`):
  *   0 — LABELSST + NUMBER cells over two sheets plus an EMPTY third
  *       sheet (must vanish from the span stream);
  *   1 — the RK menagerie: 30-bit int, ×0.01 int, truncated-double
  *       float, and a MULRK run;
  *   2 — SST character data crossing into a CONTINUE record WITH an
  *       encoding flip (compressed prefix → UTF-16 continuation
  *       carrying CJK);
  *   3 — BOOLERR booleans (error cells drop) + FORMULA cached
  *       results: inline number, STRING-record string, cached bool;
  *   4 — UTF-16 sheet NAME (CJK), a hidden-but-real worksheet
  *       (included), and a chart sheet (dropped);
  *   5 — sparse used range: holes and gap rows render as empty cells.
  */
object XlsGen {

  private val Utf16 = java.nio.charset.StandardCharsets.UTF_16LE
  private val Lat1 = java.nio.charset.StandardCharsets.ISO_8859_1

  // ---------------- BIFF8 record assembly ----------------

  private def u16b(v: Int): Array[Byte] =
    Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte)

  private def i32b(v: Int): Array[Byte] =
    Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte,
      ((v >> 16) & 0xFF).toByte, ((v >> 24) & 0xFF).toByte)

  private def f64b(d: Double): Array[Byte] = {
    val bits = java.lang.Double.doubleToLongBits(d)
    Array.tabulate(8)(k => ((bits >> (8 * k)) & 0xFF).toByte)
  }

  private def rec(typ: Int, payload: Array[Byte]): Array[Byte] =
    u16b(typ) ++ u16b(payload.length) ++ payload

  private def bof(dt: Int): Array[Byte] =
    rec(0x0809, u16b(0x0600) ++ u16b(dt) ++ u16b(0x0DBB) ++
      u16b(0x07CC) ++ i32b(0) ++ i32b(0))

  private val eof = rec(0x000A, Array.emptyByteArray)

  private def labelSst(r: Int, c: Int, isst: Int): Array[Byte] =
    rec(0x00FD, u16b(r) ++ u16b(c) ++ u16b(0) ++ i32b(isst))

  private def number(r: Int, c: Int, d: Double): Array[Byte] =
    rec(0x0203, u16b(r) ++ u16b(c) ++ u16b(0) ++ f64b(d))

  private def rkRec(r: Int, c: Int, rk: Int): Array[Byte] =
    rec(0x027E, u16b(r) ++ u16b(c) ++ u16b(0) ++ i32b(rk))

  private def mulRk(r: Int, colFirst: Int, rks: Seq[Int]): Array[Byte] =
    rec(0x00BD, u16b(r) ++ u16b(colFirst) ++
      rks.toArray.flatMap(rk => u16b(0) ++ i32b(rk)) ++
      u16b(colFirst + rks.length - 1))

  private def label(r: Int, c: Int, s: String): Array[Byte] =
    rec(0x0204, u16b(r) ++ u16b(c) ++ u16b(0) ++
      u16b(s.length) ++ Array(0.toByte) ++ s.getBytes(Lat1))

  private def boolErr(r: Int, c: Int, v: Int, isErr: Boolean): Array[Byte] =
    rec(0x0205, u16b(r) ++ u16b(c) ++ u16b(0) ++
      Array(v.toByte, (if (isErr) 1 else 0).toByte))

  private def formulaNum(r: Int, c: Int, d: Double): Array[Byte] =
    rec(0x0006, u16b(r) ++ u16b(c) ++ u16b(0) ++ f64b(d) ++
      u16b(0) ++ i32b(0) ++ u16b(0))

  private def formulaCached(r: Int, c: Int, kind: Int,
                            boolVal: Int): Array[Byte] = {
    // cached non-numeric result: byte0 = kind (0 str, 1 bool, 3 empty),
    // byte2 = bool value, bytes 6-7 = 0xFFFF
    val cache = Array(kind.toByte, 0.toByte, boolVal.toByte, 0.toByte,
      0.toByte, 0.toByte, 0xFF.toByte, 0xFF.toByte)
    rec(0x0006, u16b(r) ++ u16b(c) ++ u16b(0) ++ cache ++
      u16b(0) ++ i32b(0) ++ u16b(0))
  }

  private def stringRec(s: String): Array[Byte] =
    rec(0x0207, u16b(s.length) ++ Array(0.toByte) ++ s.getBytes(Lat1))

  private def dimensions: Array[Byte] =
    rec(0x0200, i32b(0) ++ i32b(8) ++ u16b(0) ++ u16b(8) ++ u16b(0))

  /** Plain single-record SST, compressed (Latin-1) strings. */
  private def sstSimple(strings: Seq[String]): Array[Byte] =
    rec(0x00FC, i32b(strings.length) ++ i32b(strings.length) ++
      strings.toArray.flatMap(s =>
        u16b(s.length) ++ Array(0.toByte) ++ s.getBytes(Lat1)))

  /** SST whose SECOND string's character data crosses into a CONTINUE
    * record and flips to UTF-16 there: `pre` (compressed, in the SST
    * record) + `post` (uncompressed, in the CONTINUE after a fresh
    * 0x01 flag byte).
    */
  private def sstSplit(s0: String, pre: String,
                       post: String): Array[Byte] = {
    val cch1 = pre.length + post.length
    val sstPayload = i32b(2) ++ i32b(2) ++
      u16b(s0.length) ++ Array(0.toByte) ++ s0.getBytes(Lat1) ++
      u16b(cch1) ++ Array(0.toByte) ++ pre.getBytes(Lat1)
    val contPayload = Array(1.toByte) ++ post.getBytes(Utf16)
    rec(0x00FC, sstPayload) ++ rec(0x003C, contPayload)
  }

  private def boundsheet(lbPlyPos: Int, name: String, dt: Int,
                         hidden: Boolean): Array[Byte] = {
    val ascii = name.forall(_ < 0x100)
    val nameBytes = if (ascii) name.getBytes(Lat1) else name.getBytes(Utf16)
    rec(0x0085, i32b(lbPlyPos) ++
      Array((if (hidden) 1 else 0).toByte, dt.toByte,
        name.length.toByte, (if (ascii) 0 else 1).toByte) ++ nameBytes)
  }

  /** Assemble the Workbook stream: globals (BOF + BOUNDSHEETs + SST +
    * EOF) then the sheet substreams, lbPlyPos patched by construction.
    */
  private def workbook(sst: Array[Byte],
                       sheetDefs: Seq[(String, Int, Boolean, Array[Byte])])
      : Array[Byte] = {
    val bofG = bof(0x0005)
    val bsLens = sheetDefs.map { case (name, _, _, _) =>
      val ascii = name.forall(_ < 0x100)
      4 + 4 + 4 + (if (ascii) name.length else name.length * 2)
    }
    val globalsLen = bofG.length + bsLens.sum + sst.length + eof.length
    val offsets = sheetDefs.map(_._4.length)
      .scanLeft(globalsLen)(_ + _).init
    val bss = sheetDefs.zip(offsets).map {
      case ((name, dt, hidden, _), at) => boundsheet(at, name, dt, hidden)
    }
    bofG ++ bss.flatten ++ sst ++ eof ++
      sheetDefs.flatMap(_._4)
  }

  private def sheetStream(cellRecs: Array[Byte]): Array[Byte] =
    bof(0x0010) ++ dimensions ++ cellRecs ++ eof

  /** The documented RK encodings. */
  private def rkInt(v: Int): Int = (v << 2) | 2
  private def rkInt100(v100: Int): Int = (v100 << 2) | 3
  private def rkFloat(d: Double): Int = {
    val hi = (java.lang.Double.doubleToLongBits(d) >>> 32).toInt
    hi & ~3
  }

  // ---------------- variants ----------------

  def fileName(i: Int): String = f"sheet_$i%04d.xls"

  private def render(d: Double): String =
    if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def fileBytes(i: Int): Array[Byte] = {
    val wb: Array[Byte] = (i % 6) match {
      case 0 =>
        val sst = sstSimple(Seq("Item", s"Widget $i", "Total é"))
        val data = sheetStream(labelSst(0, 0, 0) ++ labelSst(0, 1, 1) ++
          labelSst(1, 0, 2) ++ number(1, 1, 1234.25 + i))
        val notes = sheetStream(label(0, 0, s"note row $i"))
        val empty = sheetStream(Array.emptyByteArray)
        workbook(sst, Seq(("Data", 0, false, data),
          ("Notes", 0, false, notes), ("Empty", 0, false, empty)))
      case 1 =>
        val cells = rkRec(0, 0, rkInt(7 + i)) ++
          rkRec(0, 1, rkInt100(250 + 4 * i)) ++
          rkRec(1, 0, rkFloat(1.5)) ++
          mulRk(1, 1, Seq(rkInt(11 + i), rkInt(22 + i)))
        workbook(sstSimple(Nil), Seq(("RK", 0, false,
          sheetStream(cells))))
      case 2 =>
        val sst = sstSplit(s"Alpha $i", "Bridge-", s"中文字串 $i")
        val cells = labelSst(0, 0, 0) ++ labelSst(1, 0, 1)
        workbook(sst, Seq(("Split", 0, false, sheetStream(cells))))
      case 3 =>
        val cells = boolErr(0, 0, 1, isErr = false) ++
          boolErr(0, 1, 0, isErr = false) ++
          boolErr(0, 2, 0x07, isErr = true) ++ // #DIV/0! drops
          formulaNum(1, 0, 42 + i) ++
          formulaCached(1, 1, 0, 0) ++ stringRec(s"calc $i") ++
          formulaCached(2, 0, 1, 1)
        workbook(sstSimple(Nil), Seq(("Calc", 0, false,
          sheetStream(cells))))
      case 4 =>
        val sst = sstSimple(Seq(s"值 $i".map(c =>
          if (c < 0x100) c else '?'), s"hidden payload $i"))
        // a real CJK cell needs a 16-bit SST string: hand-build one
        val cjk = s"数据 $i"
        val sstCjk = rec(0x00FC, i32b(2) ++ i32b(2) ++
          u16b(cjk.length) ++ Array(1.toByte) ++ cjk.getBytes(Utf16) ++
          u16b(s"hidden payload $i".length) ++ Array(0.toByte) ++
          s"hidden payload $i".getBytes(Lat1))
        val s1 = sheetStream(labelSst(0, 0, 0))
        val s2 = sheetStream(labelSst(0, 0, 1))
        val chart = sheetStream(Array.emptyByteArray)
        val _ = sst
        workbook(sstCjk, Seq((s"数据表", 0, false, s1),
          (s"Hidden $i", 0, true, s2), ("Chart", 2, false, chart)))
      case _ =>
        val cells = label(2, 1, s"X$i") ++ number(4, 3, 9 + i)
        workbook(sstSimple(Nil), Seq(("Sparse", 0, false,
          sheetStream(cells))))
    }
    DocGen.cfbBytes(Seq("Workbook" -> wb))
  }

  def write(dir: String, n: Int): Unit =
    (0 until n).foreach { i =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, fileName(i)), fileBytes(i)): Unit
    }

  // ---------------- embedded pictures (Escher) ----------------

  private def escherRec(verInst: Int, typ: Int,
                        payload: Array[Byte]): Array[Byte] =
    u16b(verInst) ++ u16b(typ) ++ i32b(payload.length) ++ payload

  /** OfficeArtFBSE with the BLIP embedded after the 36-byte header
    * (cbName 0, foDelay 0 — the embedded form Excel writes).
    */
  private def fbse(blipType: Int, blip: Array[Byte]): Array[Byte] = {
    val head = new Array[Byte](36)
    head(0) = blipType.toByte // btWin32
    head(1) = blipType.toByte // btMacOS
    (0 until 16).foreach(k => head(2 + k) = ((k * 17 + 3) & 0xFF).toByte)
    putI32h(head, 20, blip.length) // size
    putI32h(head, 24, 1) // cRef
    escherRec((blipType << 4) | 2, 0xF007, head ++ blip)
  }

  private def putI32h(b: Array[Byte], off: Int, v: Int): Unit = {
    b(off) = (v & 0xFF).toByte
    b(off + 1) = ((v >> 8) & 0xFF).toByte
    b(off + 2) = ((v >> 16) & 0xFF).toByte
    b(off + 3) = ((v >> 24) & 0xFF).toByte
  }

  /** One FOPT property table (recVer 3, instance = entry count). */
  private def fopt(props: Seq[(Int, Int)]): Array[Byte] =
    escherRec((props.length << 4) | 3, 0xF00B,
      props.toArray.flatMap { case (pid, v) => u16b(pid) ++ i32b(v) })

  /** A picture-bearing workbook: the drawing-group BLIP store (a PNG
    * FBSE and a double-UID JPEG FBSE) split across MsoDrawingGroup +
    * CONTINUE mid-FBSE; one sheet with cells and THREE picture shapes
    * whose FOPTs carry pib 1, pib 2 (+ a decoy property), and a GHOST
    * pib 9 that must stay silent — the DgContainer itself split across
    * two MsoDrawing records with an OBJ between (how Excel really
    * writes shapes).
    */
  private[graft] def pictureBytes(i: Int): Array[Byte] = {
    val bstore = escherRec(0xF | (2 << 4), 0xF001,
      fbse(6, PptGen.blip(0xF01E, 0x6E0, 1, PptGen.pngPayload(i))) ++
        fbse(5, PptGen.blip(0xF01D, 0x46B, 2, PptGen.jpegPayload(i))))
    val dggC = escherRec(0xF, 0xF000, bstore)
    val cut = dggC.length / 2 // splits inside the first FBSE
    val drawGroup = rec(0x00EB, dggC.slice(0, cut)) ++
      rec(0x003C, dggC.slice(cut, dggC.length))
    val sp1 = escherRec(0xF, 0xF004,
      fopt(Seq(0x007F -> 1, 0x4104 -> 1))) // decoy prop + pib 1
    val sp2 = escherRec(0xF, 0xF004, fopt(Seq(0x4104 -> 2)))
    val sp3 = escherRec(0xF, 0xF004, fopt(Seq(0x4104 -> 9))) // ghost
    val dgC = escherRec(0xF, 0xF002,
      escherRec(0xF, 0xF003, sp1 ++ sp2 ++ sp3))
    val dcut = dgC.length / 2
    val drawing = rec(0x00EC, dgC.slice(0, dcut)) ++
      rec(0x005D, u16b(8) ++ u16b(1)) ++ // OBJ interleaves
      rec(0x00EC, dgC.slice(dcut, dgC.length))
    val sst = sstSimple(Seq("Plate", s"Figure $i"))
    val cells = labelSst(0, 0, 0) ++ labelSst(0, 1, 1) ++
      number(1, 0, 3 + i)
    val sheet = bof(0x0010) ++ dimensions ++ cells ++ drawing ++ eof
    val globals = bof(0x0005) ++ Array.emptyByteArray
    // assemble by hand: globals = BOF + BOUNDSHEET + drawGroup + SST +
    // EOF (lbPlyPos computed directly)
    val bsLen = 4 + 4 + 4 + "Plates".length
    val globalsLen = globals.length + bsLen + drawGroup.length +
      sst.length + eof.length
    val bs = boundsheet(globalsLen, "Plates", 0, hidden = false)
    DocGen.cfbBytes(Seq("Workbook" ->
      (globals ++ bs ++ drawGroup ++ sst ++ eof ++ sheet)))
  }

  private[graft] def pictureTsv(i: Int): String =
    s"Plate\tFigure $i\n${3 + i}\t"

  def writePictures(dir: String, n: Int): Unit =
    (0 until n).foreach { k =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, f"plates_$k%04d.xls"),
        pictureBytes(k)): Unit
    }

  /** Ground truth for the picture fixture: the sheet TSV then the two
    * resolvable pictures (the ghost pib stays silent).
    */
  def expectedPictures(n: Int): Seq[GtRow] =
    (0 until n).flatMap { k =>
      val f = f"plates_$k%04d.xls"
      Seq(
        GtRow(f, "text", pictureTsv(k), null, 0),
        GtRow(f, "image", null, s"$f#pic1", 1),
        GtRow(f, "image", null, s"$f#pic2", 2))
    }

  /** A FILEPASS-protected workbook (RC4 header junk): readers must
    * yield nothing rather than mojibake.
    */
  private[graft] def encryptedBytes(i: Int): Array[Byte] = {
    val wb = bof(0x0005) ++
      rec(0x002F, u16b(1) ++ u16b(1) ++ Array.fill[Byte](48)(0x5A)) ++
      boundsheet(0, "Data", 0, hidden = false) ++ eof ++
      sheetStream(label(0, 0, s"secret $i"))
    DocGen.cfbBytes(Seq("Workbook" -> wb))
  }

  /** Hand-written per-sheet TSVs in workbook order (empty sheets and
    * chart sheets absent — they never reach the span stream).
    */
  def expectedSheets(i: Int): Seq[(String, String)] = (i % 6) match {
    case 0 => Seq(
      "Data" -> s"Item\tWidget $i\nTotal é\t${1234.25 + i}",
      "Notes" -> s"note row $i")
    case 1 => Seq(
      "RK" -> (s"${7 + i}\t${(250 + 4 * i) / 100.0}\t\n" +
        s"1.5\t${11 + i}\t${22 + i}"))
    case 2 => Seq(
      "Split" -> s"Alpha $i\nBridge-中文字串 $i")
    case 3 => Seq(
      "Calc" -> (s"TRUE\tFALSE\n${42 + i}\tcalc $i\nTRUE\t"))
    case 4 => Seq(
      "数据表" -> s"数据 $i",
      s"Hidden $i" -> s"hidden payload $i")
    case _ => Seq(
      "Sparse" -> (s"X$i\t\t\n\t\t\n\t\t${9 + i}"))
  }

  def expected(n: Int): Seq[TsvRow] = (0 until n).flatMap { i =>
    expectedSheets(i).zipWithIndex.map { case ((_, tsv), k) =>
      TsvRow(fileName(i), k, tsv)
    }
  }
}
