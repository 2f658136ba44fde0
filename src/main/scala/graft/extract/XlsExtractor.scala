package graft.extract

import Item.{Media, Text}

/** Excel 97–2003 binary (`.xls`, [MS-XLS] BIFF8) front end — worksheet
  * text recovery from the `Workbook` stream inside a [[Cfb]]
  * container, emitting the same per-sheet used-range TSVs as
  * [[XlsxExtractor]] so both spreadsheet generations land in the one
  * table vocabulary. The reference pipeline is PDF-only
  * (/root/reference/setup.sql:60-110); web crawls carry BIFF
  * spreadsheets in volume.
  *
  * BIFF8 surface implemented:
  *   - record walk (u16 type, u16 length) over the globals substream:
  *     BOUNDSHEET (sheet order, substream offsets, worksheet-vs-chart
  *     type), SST with CONTINUE spill — the continuation segment
  *     re-declares the compression flag byte when character data
  *     crosses the record boundary, and compressed (Latin-1) /
  *     uncompressed (UTF-16LE) segments may alternate within ONE
  *     string;
  *   - per-sheet cell records: LABELSST (SST ref), NUMBER (f64), RK
  *     (packed 30-bit int/float with the ×0.01 flag), MULRK, LABEL
  *     (inline string), BOOLERR (booleans kept as TRUE/FALSE, error
  *     cells dropped), FORMULA cached results (numeric inline;
  *     string results from the trailing STRING record; cached bools);
  *   - number rendering is deterministic and locale-free: integral
  *     values under 1e15 print as longs, everything else as
  *     `Double.toString` — the generator twin commits to the same
  *     convention, and [[XlsxExtractor]]'s lexical-form posture does
  *     not apply because BIFF stores binary doubles, not text.
  *
  *   - embedded pictures ([MS-ODRAW]): the workbook-global
  *     MsoDrawingGroup records (0x00EB + CONTINUE spill) hold the
  *     BLIP store (OfficeArtFBSE array); each sheet's MsoDrawing
  *     records (0x00EC, concatenated — the DgContainer splits across
  *     them with OBJ records interleaved) carry OfficeArtFOPT `pib`
  *     properties indexing that store. [[items]] emits one media span
  *     per pib AFTER its sheet's TSV block; payloads resolve via
  *     [[mediaPayload]] through the shared [[Blip]] decoder.
  *
  * Declared limits: BIFF5/7 (`Book` stream, byte-string records) is
  * out of scope and yields nothing; chart sheets (BOUNDSHEET dt ≠ 0)
  * drop; formats/styles are ignored (raw values, not rendered
  * formatting); encrypted workbooks (FILEPASS) yield nothing.
  */
object XlsExtractor {

  private def u16(b: Array[Byte], off: Int): Int =
    if (off < 0 || off + 2 > b.length) -1
    else (b(off) & 0xFF) | ((b(off + 1) & 0xFF) << 8)

  private def i32(b: Array[Byte], off: Int): Int =
    if (off < 0 || off + 4 > b.length) -1
    else (b(off) & 0xFF) | ((b(off + 1) & 0xFF) << 8) |
      ((b(off + 2) & 0xFF) << 16) | ((b(off + 3) & 0xFF) << 24)

  private def f64(b: Array[Byte], off: Int): Double = {
    var bits = 0L
    var k = 7
    while (k >= 0) { bits = (bits << 8) | (b(off + k) & 0xFFL); k -= 1 }
    java.lang.Double.longBitsToDouble(bits)
  }

  /** A CFB container carrying a BIFF8 `Workbook` stream. */
  def isXls(b: Array[Byte]): Boolean =
    Cfb.isCfb(b) && Cfb.hasStream(b, "Workbook")

  /** Deterministic, locale-free rendering shared with the generator
    * twin's ground truth.
    */
  private[graft] def renderNum(d: Double): String =
    if (d == math.rint(d) && math.abs(d) < 1e15 && !d.isNaN)
      d.toLong.toString
    else d.toString

  private def rkValue(rk: Int): Double = {
    val base =
      if ((rk & 2) != 0) (rk >> 2).toDouble
      else java.lang.Double.longBitsToDouble((rk.toLong & 0xFFFFFFFCL)
        << 32)
    if ((rk & 1) != 0) base / 100.0 else base
  }

  /** (sheetName, tsv) in workbook order — empty sheets keep their slot
    * with tsv = "" (the ingest layer drops them), mirroring
    * [[XlsxExtractor.sheets]].
    */
  def sheets(b: Array[Byte]): Vector[(String, String)] = {
    val wbOpt = Cfb.stream(b, "Workbook")
    if (wbOpt.isEmpty) return Vector.empty
    val wb = wbOpt.get
    try {
      globals(wb) match {
        case None => Vector.empty // encrypted
        case Some((bounds, sst, _)) =>
          bounds.collect { case Bound(name, at, true) =>
            name -> sheetTsv(wb, at, sst)
          }
      }
    } catch { case _: Exception => Vector.empty }
  }

  /** The workbook as ordered items: per worksheet, its used-range TSV
    * (non-blank sheets only) followed by the sheet's embedded pictures
    * in drawing order — one [[Item.Media]] per OfficeArtFOPT `pib`
    * resolving into the drawing-group BLIP store (`pic<pib>`, payloads
    * via [[mediaPayload]]; a pib past the store count stays silent,
    * the `.doc` ghost rule). Empty on anything unreadable/encrypted.
    */
  def items(b: Array[Byte]): Vector[Item] = {
    val wbOpt = Cfb.stream(b, "Workbook")
    if (wbOpt.isEmpty) return Vector.empty
    val wb = wbOpt.get
    try {
      globals(wb) match {
        case None => Vector.empty
        case Some((bounds, sst, dgg)) =>
          val nPics = fbseOf(dgg).length
          bounds.collect { case Bound(name, at, true) =>
            val _ = name
            val tsv = sheetTsv(wb, at, sst)
            val head: Vector[Item] =
              if (tsv.exists(!_.isWhitespace)) Vector(Text(tsv))
              else Vector.empty
            head ++ sheetPibs(wb, at)
              .filter(pib => pib >= 1 && pib <= nPics)
              // always "image": sheet pictures are raster/vector BLIPs
              .map(pib => Media("image", s"pic$pib", inFile = true))
          }.flatten
      }
    } catch { case _: Exception => Vector.empty }
  }

  /** Resolve one media ref minted by [[items]] (`pic<pib>`) to its
    * picture bytes: pib → FBSE[pib-1] of the MsoDrawingGroup BLIP
    * store → the BLIP embedded in the FBSE itself, or (foDelay form)
    * a BLIP at that offset of the Workbook delay stream. None for
    * out-of-range refs, metafile BLIPs, or corrupt stores — the same
    * contract as the `.ppt` path, through the shared [[Blip]] decoder.
    */
  def mediaPayload(b: Array[Byte], ref: String): Option[Array[Byte]] = {
    if (!ref.startsWith("pic")) return None
    val pib = ref.drop(3).toIntOption.getOrElse(return None)
    val wb = Cfb.stream(b, "Workbook").getOrElse(return None)
    val g = try globals(wb) catch { case _: Exception => None }
    g.flatMap { case (_, _, dgg) =>
      val fbse = fbseOf(dgg)
      if (pib < 1 || pib > fbse.length) None
      else {
        val e = fbse(pib - 1)
        if (e.length < 36) None
        else {
          val cbName = e(33) & 0xFF
          if (e.length > 36 + cbName + 8) Blip.payload(e, 36 + cbName)
          else {
            val foDelay = i32(e, 28)
            if (foDelay < 0 || foDelay + 8 > wb.length) None
            else Blip.payload(wb, foDelay)
          }
        }
      }
    }
  }

  private final case class Bound(name: String, pos: Int, worksheet: Boolean)

  /** Globals substream walk: BOUNDSHEETs, the SST (with CONTINUEs),
    * and the concatenated MsoDrawingGroup Escher bytes (0x00EB records
    * plus their CONTINUE spill — the BLIP store lives here). None when
    * the workbook is FILEPASS-encrypted.
    */
  private def globals(wb: Array[Byte])
      : Option[(Vector[Bound], Vector[String], Array[Byte])] = {
    val bounds = Vector.newBuilder[Bound]
    var sst = Vector.empty[String]
    val dgg = new java.io.ByteArrayOutputStream()
    var pos = 0
    var stop = false
    while (!stop && pos + 4 <= wb.length) {
      val typ = u16(wb, pos)
      val len = u16(wb, pos + 2)
      if (len < 0 || pos + 4 + len > wb.length) stop = true
      else {
        typ match {
          case 0x0085 => // BOUNDSHEET
            val dt = wb(pos + 4 + 5) & 0xFF
            val cch = wb(pos + 4 + 6) & 0xFF
            val hi = (wb(pos + 4 + 7) & 0x01) != 0
            val name =
              if (hi) new String(wb, pos + 4 + 8, cch * 2,
                java.nio.charset.StandardCharsets.UTF_16LE)
              else new String(wb, pos + 4 + 8, cch,
                java.nio.charset.StandardCharsets.ISO_8859_1)
            bounds += Bound(name, i32(wb, pos + 4), dt == 0)
          case 0x00FC => // SST + trailing CONTINUEs
            val segs = scala.collection.mutable.ArrayBuffer(
              java.util.Arrays.copyOfRange(wb, pos + 4, pos + 4 + len))
            var cpos = pos + 4 + len
            while (cpos + 4 <= wb.length && u16(wb, cpos) == 0x003C) {
              val clen = u16(wb, cpos + 2)
              if (clen < 0 || cpos + 4 + clen > wb.length) cpos = wb.length
              else {
                segs += java.util.Arrays.copyOfRange(wb, cpos + 4,
                  cpos + 4 + clen)
                cpos += 4 + clen
              }
            }
            sst = parseSst(segs.toVector)
          case 0x00EB => // MsoDrawingGroup + trailing CONTINUEs
            dgg.write(wb, pos + 4, len)
            var cpos = pos + 4 + len
            while (cpos + 4 <= wb.length && u16(wb, cpos) == 0x003C) {
              val clen = u16(wb, cpos + 2)
              if (clen < 0 || cpos + 4 + clen > wb.length) cpos = wb.length
              else {
                dgg.write(wb, cpos + 4, clen)
                cpos += 4 + clen
              }
            }
          case 0x002F => return None // FILEPASS: encrypted
          case 0x000A => stop = true // EOF of globals
          case _ => ()
        }
        pos += 4 + len
      }
    }
    Some((bounds.result(), sst, dgg.toByteArray))
  }

  /** Leaf walk over an Escher record tree (recVer 0xF = container);
    * the callback receives (verInst, typ, payloadStart, payloadLen).
    */
  private def escherWalk(buf: Array[Byte], from: Int, to: Int, depth: Int)(
      f: (Int, Int, Int, Int) => Unit): Unit = {
    var pos = from
    while (pos + 8 <= to) {
      val verInst = u16(buf, pos)
      val typ = u16(buf, pos + 2)
      val len = i32(buf, pos + 4)
      if (len < 0 || pos + 8 + len > to) return
      if ((verInst & 0x000F) == 0x000F && depth < 16)
        escherWalk(buf, pos + 8, pos + 8 + len, depth + 1)(f)
      else f(verInst, typ, pos + 8, len)
      pos += 8 + len
    }
  }

  /** OfficeArtFBSE records of the drawing-group container, store order. */
  private def fbseOf(dgg: Array[Byte]): Vector[Array[Byte]] = {
    val out = Vector.newBuilder[Array[Byte]]
    escherWalk(dgg, 0, dgg.length, 0) { (_, typ, d, len) =>
      if (typ == 0xF007)
        out += java.util.Arrays.copyOfRange(dgg, d, d + len)
    }
    out.result()
  }

  /** `pib` properties of one sheet's MsoDrawing records (0x00EC
    * payloads concatenated — the OfficeArtDgContainer splits across
    * them, with OBJ records interleaved), drawing order.
    */
  private def sheetPibs(wb: Array[Byte], at: Int): Vector[Int] = {
    val buf = new java.io.ByteArrayOutputStream()
    var pos = at
    var stop = false
    var sawBof = false
    while (!stop && pos + 4 <= wb.length) {
      val typ = u16(wb, pos)
      val len = u16(wb, pos + 2)
      if (len < 0 || pos + 4 + len > wb.length) stop = true
      else {
        typ match {
          case 0x0809 => if (sawBof) stop = true else sawBof = true
          case 0x000A => stop = true
          case 0x00EC => buf.write(wb, pos + 4, len)
          case _ => ()
        }
        pos += 4 + len
      }
    }
    val esc = buf.toByteArray
    val out = Vector.newBuilder[Int]
    escherWalk(esc, 0, esc.length, 0) { (verInst, typ, d, len) =>
      if (typ == 0xF00B) {
        // the instance field counts the fixed 6-byte entries; complex
        // property DATA trails the array and must not scan as entries
        val n = (verInst >> 4) & 0xFFF
        var j = 0
        while (j < n && d + 6 * (j + 1) <= d + len) {
          val pid = u16(esc, d + 6 * j)
          val v = i32(esc, d + 6 * j + 2)
          if ((pid & 0xBFFF) == 0x0104 && v > 0) out += v
          j += 1
        }
      }
    }
    out.result()
  }

  /** SST strings across the record/CONTINUE segment list. A crossing
    * inside character data re-reads the flag byte at the continuation
    * start; fixed-width fields read byte-wise across boundaries.
    */
  private def parseSst(segs: Vector[Array[Byte]]): Vector[String] = {
    var seg = 0
    var off = 0
    def remaining: Boolean =
      seg < segs.length && (off < segs(seg).length || seg < segs.length - 1)
    def nextByte(): Int = {
      while (seg < segs.length && off >= segs(seg).length) {
        seg += 1; off = 0
      }
      if (seg >= segs.length) return -1
      val v = segs(seg)(off) & 0xFF
      off += 1
      v
    }
    def rdU16(): Int = {
      val a = nextByte(); val b = nextByte()
      if (a < 0 || b < 0) -1 else a | (b << 8)
    }
    def rdI32(): Int = {
      val a = rdU16(); val b = rdU16()
      if (a < 0 || b < 0) -1 else a | (b << 16)
    }
    val cstUnique = { rdI32(); rdI32() } // cstTotal skipped
    if (cstUnique < 0) return Vector.empty
    val out = Vector.newBuilder[String]
    var s = 0
    while (s < cstUnique && remaining) {
      val cch = rdU16()
      var flags = nextByte()
      if (cch < 0 || flags < 0) return out.result()
      val rich = (flags & 0x08) != 0
      val ext = (flags & 0x04) != 0
      val cRun = if (rich) rdU16() else 0
      val cbExt = if (ext) rdI32() else 0
      val sb = new java.lang.StringBuilder(cch)
      var got = 0
      while (got < cch && seg < segs.length) {
        if (off >= segs(seg).length) {
          // character data crosses into the next CONTINUE: fresh flag
          seg += 1; off = 0
          if (seg < segs.length && off < segs(seg).length) {
            flags = segs(seg)(off) & 0xFF
            off += 1
          }
        } else if ((flags & 0x01) != 0) {
          val a = nextByte(); val b = nextByte()
          if (b < 0) got = cch
          else { sb.append((a | (b << 8)).toChar); got += 1 }
        } else {
          val a = nextByte()
          if (a < 0) got = cch
          else { sb.append(a.toChar); got += 1 }
        }
      }
      var skip = 4 * cRun + math.max(0, cbExt)
      while (skip > 0 && nextByte() >= 0) skip -= 1
      out += sb.toString
      s += 1
    }
    out.result()
  }

  /** Inline XLUnicodeString at a fixed record offset (no CONTINUE
    * crossing — LABEL/STRING payloads in real files fit one record).
    */
  private def inlineString(b: Array[Byte], off: Int, end: Int): String = {
    val cch = u16(b, off)
    if (cch < 0) return ""
    val flags = if (off + 2 < end) b(off + 2) & 0xFF else 0
    val rich = (flags & 0x08) != 0
    val ext = (flags & 0x04) != 0
    var p = off + 3
    if (rich) p += 2
    if (ext) p += 4
    if ((flags & 0x01) != 0) {
      val n = math.min(cch * 2, end - p)
      if (n <= 0) "" else new String(b, p, n,
        java.nio.charset.StandardCharsets.UTF_16LE)
    } else {
      val n = math.min(cch, end - p)
      if (n <= 0) "" else new String(b, p, n,
        java.nio.charset.StandardCharsets.ISO_8859_1)
    }
  }

  private def sheetTsv(wb: Array[Byte], at: Int,
                       sst: Vector[String]): String = {
    val cells = scala.collection.mutable.Map.empty[(Int, Int), String]
    def put(r: Int, c: Int, v: String): Unit =
      if (r >= 0 && c >= 0) cells((r, c)) = XlsxExtractor.tsvSafe(v)
    var pos = at
    var stop = false
    var sawBof = false
    // a FORMULA whose cached result is a string: the value arrives in
    // the next STRING record
    var pendingStr: Option[(Int, Int)] = None
    while (!stop && pos + 4 <= wb.length) {
      val typ = u16(wb, pos)
      val len = u16(wb, pos + 2)
      if (len < 0 || pos + 4 + len > wb.length) stop = true
      else {
        val d = pos + 4
        typ match {
          case 0x0809 =>
            if (sawBof) stop = true else sawBof = true
          case 0x000A => stop = true // EOF of this substream
          case 0x00FD => // LABELSST
            val isst = i32(wb, d + 6)
            if (isst >= 0 && isst < sst.length)
              put(u16(wb, d), u16(wb, d + 2), sst(isst))
          case 0x0203 => // NUMBER
            put(u16(wb, d), u16(wb, d + 2), renderNum(f64(wb, d + 6)))
          case 0x027E => // RK
            put(u16(wb, d), u16(wb, d + 2),
              renderNum(rkValue(i32(wb, d + 6))))
          case 0x00BD => // MULRK
            val row = u16(wb, d)
            val colFirst = u16(wb, d + 2)
            val nCells = (len - 6) / 6
            var k = 0
            while (k < nCells) {
              put(row, colFirst + k,
                renderNum(rkValue(i32(wb, d + 4 + 6 * k + 2))))
              k += 1
            }
          case 0x0204 => // LABEL (inline string cell)
            put(u16(wb, d), u16(wb, d + 2),
              inlineString(wb, d + 6, d + len))
          case 0x0205 => // BOOLERR
            if ((wb(d + 7) & 0xFF) == 0) // bools only; error cells drop
              put(u16(wb, d), u16(wb, d + 2),
                if ((wb(d + 6) & 0xFF) != 0) "TRUE" else "FALSE")
          case 0x0006 => // FORMULA cached result
            val row = u16(wb, d)
            val col = u16(wb, d + 2)
            if (u16(wb, d + 12) == 0xFFFF) {
              (wb(d + 6) & 0xFF) match {
                case 0 => pendingStr = Some((row, col))
                case 1 => put(row, col,
                  if ((wb(d + 8) & 0xFF) != 0) "TRUE" else "FALSE")
                case 3 => put(row, col, "")
                case _ => () // cached error drops
              }
            } else put(row, col, renderNum(f64(wb, d + 6)))
          case 0x0207 => // STRING (cached string formula result)
            pendingStr.foreach { case (r, c) =>
              put(r, c, inlineString(wb, d, d + len))
            }
            pendingStr = None
          case _ => ()
        }
        pos += 4 + len
      }
    }
    XlsxExtractor.usedRange(cells)
  }
}
