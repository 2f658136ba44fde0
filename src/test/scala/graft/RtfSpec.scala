package graft

import graft.extract.RtfExtractor
import graft.extract.Item
import graft.extract.Item.{Media, Text}
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable.ArrayBuffer

/** RTF front-end spec: pinned behaviors + dual-implementation parity.
  *
  * The twin ([[RtfSpec.twinItems]]) re-implements the RtfExtractor
  * scaladoc spec INDEPENDENTLY: a regex lexer producing a typed token
  * stream, then a token fold — different machinery from the
  * index-walking char machine, so agreement pins the spec.
  */
class RtfSpec extends AnyFunSuite with TempDirs {

  // ---------- the token-fold twin ----------

  private sealed trait Tok
  private case class Word(w: String, num: Option[Long]) extends Tok
  private case class Sym(c: Char) extends Tok
  private case class Hex(v: Int) extends Tok
  private case class Txt(t: String) extends Tok
  private case object Open extends Tok
  private case object Close extends Tok
  private case class Bin(data: Array[Byte]) extends Tok

  private def lex(s: String): Vector[Tok] = {
    val pat = java.util.regex.Pattern.compile(
      "\\\\'[0-9a-fA-F]{2}|\\\\[a-zA-Z]+(?:-?[0-9]+)? ?|\\\\[^a-zA-Z]" +
        "|[{}]|(?s)[^\\\\{}]+")
    val m = pat.matcher(s)
    val out = ArrayBuffer.empty[Tok]
    var pos = 0
    while (pos < s.length) {
      m.region(pos, s.length)
      if (!m.lookingAt()) pos = s.length
      else {
        val g = m.group()
        var next = m.end()
        if (g.startsWith("\\'")) out += Hex(Integer.parseInt(g.substring(2), 16))
        else if (g.length >= 2 && g.charAt(0) == '\\' &&
                 g.charAt(1).isLetter) {
          val body = g.stripSuffix(" ").substring(1)
          val d = body.indexWhere(c => c == '-' || c.isDigit)
          val (w, num) =
            if (d < 0) (body, None)
            else (body.substring(0, d), Some(body.substring(d).toLong))
          if (w == "bin") {
            val len = math.max(0L, num.getOrElse(0L)).toInt
            val end = math.min(s.length.toLong, next.toLong + len).toInt
            out += Bin(s.substring(next, end).toCharArray.map(_.toByte))
            next = end
          } else out += Word(w, num)
        } else if (g.charAt(0) == '\\') out += Sym(g.charAt(1))
        else if (g == "{") out += Open
        else if (g == "}") out += Close
        else out += Txt(g)
        pos = next
      }
    }
    out.toVector
  }

  private case class St(uc: Int, skip: Boolean, intbl: Boolean,
                        pict: Boolean)

  private val SkipDests = Set(
    "fonttbl", "colortbl", "stylesheet", "info", "header", "footer",
    "headerl", "headerr", "headerf", "footerl", "footerr", "footerf",
    "footnote", "nonshppict", "themedata", "generator", "pntext")

  def twinItems(bytes: Array[Byte]): Vector[Item] = twinParse(bytes)._1

  def twinParse(bytes: Array[Byte]): (Vector[Item], Vector[Array[Byte]]) = {
    if (!RtfExtractor.isRtf(bytes)) return (Vector.empty, Vector.empty)
    val s = new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1)
    var toks = lex(s).drop(1) // past the opening '{'
    var cs = java.nio.charset.Charset.forName("windows-1252")

    val out = ArrayBuffer.empty[Item]
    val picts = ArrayBuffer.empty[Array[Byte]]
    val para = new StringBuilder
    val rows = ArrayBuffer.empty[Vector[String]]
    val cells = ArrayBuffer.empty[String]
    var pictHex: StringBuilder = null
    var pictBin: Array[Byte] = null
    var pictExt: String = null
    var st = St(1, false, false, false)
    val stack = ArrayBuffer[St](st)
    var star = false

    def normCell(t: String): String =
      t.split("\\s+").filter(_.nonEmpty).mkString(" ")
    def flushTbl(): Unit = {
      if (cells.nonEmpty) { rows += cells.toVector; cells.clear() }
      if (rows.exists(_.exists(_.nonEmpty)))
        out += Text(rows.map(_.mkString("\t")).mkString("\n"))
      rows.clear()
    }
    def flushPara(): Unit = {
      flushTbl()
      if (para.exists(!_.isWhitespace)) out += Text(para.toString)
      para.setLength(0)
    }
    def parBreak(): Unit =
      if (st.intbl) { if (!st.skip && !st.pict) para.append(' '): Unit }
      else flushPara()
    def closePict(): Unit = {
      val data =
        if (pictBin != null) pictBin
        else if (pictHex != null)
          pictHex.toString.grouped(2).filter(_.length == 2)
            .flatMap(h => scala.util.Try(
              Integer.parseInt(h, 16).toByte).toOption).toArray
        else Array.emptyByteArray
      if (data.nonEmpty) {
        flushTbl()
        val ext = Option(pictExt).getOrElse("bin")
        out += Media("image", s"pict_${picts.length}.$ext", true)
        picts += data
      }
      pictHex = null; pictBin = null; pictExt = null
    }
    def put(t: String): Unit =
      if (!st.skip && !st.pict) para.append(t): Unit

    while (toks.nonEmpty) {
      val t = toks.head
      toks = toks.tail
      t match {
        case Open  => stack += st; star = false
        case Close =>
          val was = st.pict
          if (stack.nonEmpty) st = stack.remove(stack.length - 1)
          if (was && !st.pict && !st.skip) closePict()
          star = false
        case Bin(d) => if (st.pict && !st.skip) pictBin = d
        case Hex(v) =>
          if (!st.skip && !st.pict)
            para.append(new String(Array(v.toByte), cs)): Unit
        case Sym(c) =>
          val wasStar = star; star = false
          c match {
            case '*'             => star = true
            case '\\' | '{' | '}' => put(c.toString)
            case '~'             => put(" ")
            case '_'             => put("-")
            case '\r' | '\n'     => if (!st.skip) parBreak()
            case _               => ()
          }
          if (wasStar) () // a symbol after \* is not a destination word
        case Word(w, num) =>
          val wasStar = star; star = false
          if (wasStar && w != "shppict" && !st.skip)
            st = st.copy(skip = true)
          else if (w == "bin") () // handled at lex time
          else if (st.skip) ()
          else w match {
            case "par" | "sect" | "page" => parBreak()
            case "line"   => put("\n")
            case "tab"    => put("\t")
            case "cell"   => cells += normCell(para.toString); para.setLength(0)
            case "row" =>
              if (cells.nonEmpty) { rows += cells.toVector; cells.clear() }
              para.setLength(0)
            case "intbl"  => st = st.copy(intbl = true)
            case "pard"   => st = st.copy(intbl = false)
            case "uc"     => st = st.copy(uc = math.max(0L, num.getOrElse(1L)).toInt)
            case "u" =>
              val cp = num.getOrElse(-1L) match {
                case v if v < 0 => v + 65536
                case v          => v
              }
              if (cp >= 0 && cp <= 0xFFFF) put(cp.toChar.toString)
              // \uc fallback skipping over the TOKEN stream
              var left = st.uc
              while (left > 0 && toks.nonEmpty) {
                toks.head match {
                  case Open | Close => left = 0
                  case Txt(tx) =>
                    val keep = tx.dropWhile(c => c == '\r' || c == '\n')
                    if (keep.isEmpty) toks = toks.tail
                    else {
                      val drop = math.min(left, keep.length)
                      val rest = keep.substring(drop)
                      left -= drop
                      toks =
                        (if (rest.nonEmpty) Txt(rest) +: toks.tail
                         else toks.tail)
                    }
                  case _ => toks = toks.tail; left -= 1
                }
              }
            case "ansicpg" =>
              cs = try java.nio.charset.Charset
                .forName("windows-" + num.getOrElse(1252L))
              catch { case _: Exception => cs }
            case "pict" =>
              st = st.copy(pict = true)
              pictHex = new StringBuilder; pictBin = null; pictExt = null
            case "pngblip"   => if (st.pict) pictExt = "png"
            case "jpegblip"  => if (st.pict) pictExt = "jpg"
            case "wmetafile" => if (st.pict && pictExt == null) pictExt = "wmf"
            case "emfblip"   => if (st.pict && pictExt == null) pictExt = "emf"
            case "emdash"    => put("—")
            case "endash"    => put("–")
            case "lquote"    => put("‘")
            case "rquote"    => put("’")
            case "ldblquote" => put("“")
            case "rdblquote" => put("”")
            case "bullet"    => put("•")
            case w2 if SkipDests(w2) => st = st.copy(skip = true)
            case _ => ()
          }
        case Txt(tx) =>
          val kept = tx.filter(c => c != '\r' && c != '\n')
          if (st.pict) {
            if (!st.skip && pictHex != null)
              pictHex.append(kept.filterNot(_.isWhitespace)): Unit
          } else if (!st.skip) para.append(kept): Unit
      }
    }
    flushPara()
    (out.toVector, picts.toVector)
  }

  // ---------- pinned behaviors ----------

  test("RtfGen ground truth == extractor == token-fold twin, 48 docs") {
    (0 until 48).foreach { i =>
      val b = graft.gen.RtfGen.fileBytes(i)
      val got = RtfExtractor.items(b)
      val exp = graft.gen.RtfGen.expectedDoc(i).map { r =>
        if (r.kind == "text") Text(r.text)
        else Media(r.kind, graft.gen.RtfGen.pictRef(i), true)
      }
      assert(got == exp, s"memo $i")
      assert(got == twinItems(b), s"memo $i twin")
    }
  }

  test("magic at byte 0 only") {
    assert(RtfExtractor.isRtf("{\\rtf1\\ansi hello}".getBytes))
    assert(!RtfExtractor.isRtf(" {\\rtf1 x}".getBytes))
    assert(!RtfExtractor.isRtf("plain text with {\\rtf inside".getBytes))
    assert(!RtfExtractor.isRtf(Array[Byte]('{', '\\')))
  }

  test("escapes, keywords, and codepages decode exactly") {
    def texts(src: String): Vector[String] =
      RtfExtractor.items(src.getBytes("ISO-8859-1"))
        .collect { case Text(t) => t }
    assert(texts("{\\rtf1 a\\~b \\{x\\} \\\\y\\par}") ==
      Vector("a b {x} \\y"))
    assert(texts("{\\rtf1 q\\emdash w\\endash e\\bullet r\\par}") ==
      Vector("q—w–e•r"))
    // \'hh through the declared codepage: 0xF5 is õ in 1252, ő in 1250
    assert(texts("{\\rtf1\\ansicpg1252 x\\'f5\\par}") == Vector("xõ"))
    assert(texts("{\\rtf1\\ansicpg1250 x\\'f5\\par}") == Vector("xő"))
    // \uN with \uc2: two fallback chars skipped
    assert(texts("{\\rtf1\\uc2 a\\u20013??b\\par}") == Vector("a中b"))
    // negative \u: 65536 + (-1048) = 64488... use -26414 -> 39122? pin
    // the documented +65536 rule with a round-trip value
    assert(texts("{\\rtf1 \\u-252?\\par}") ==
      Vector((65536 - 252).toChar.toString))
    // escaped newline acts as \par
    assert(texts("{\\rtf1 one\\\ntwo\\par}") == Vector("one", "two"))
  }

  test("destination skipping: header junk invisible, field shows result") {
    def texts(src: String): Vector[String] =
      RtfExtractor.items(src.getBytes("ISO-8859-1"))
        .collect { case Text(t) => t }
    assert(texts("{\\rtf1{\\fonttbl{\\f0 Arial;}}{\\info{\\title T}}body\\par}") ==
      Vector("body"))
    assert(texts("{\\rtf1{\\*\\mystery \\par junk}kept\\par}") == Vector("kept"))
    assert(texts("{\\rtf1{\\field{\\*\\fldinst HYPERLINK \"u\"}" +
      "{\\fldrslt shown}} tail\\par}") == Vector("shown tail"))
  }

  test("tables: TSV vocabulary, par-in-cell, source order vs pict") {
    val b0 = graft.gen.RtfGen.fileBytes(0) // table + bin pict
    val items = RtfExtractor.items(b0)
    val tsv = graft.gen.RtfGen.tableTsv(0)
    assert(tsv.startsWith("Name over two paragraphs\t"))
    val ti = items.indexOf(Text(tsv))
    val mi = items.indexWhere(_.isInstanceOf[Media])
    assert(ti >= 0 && mi > ti, "table precedes its following picture")
    // cells with only whitespace keep grid shape
    def texts(src: String): Vector[String] =
      RtfExtractor.items(src.getBytes("ISO-8859-1"))
        .collect { case Text(t) => t }
    assert(texts("{\\rtf1\\trowd\\pard\\intbl a\\cell \\cell c\\cell\\row}") ==
      Vector("a\t\tc"))
    // all-empty table emits nothing
    assert(texts("{\\rtf1\\trowd\\pard\\intbl \\cell \\cell\\row}") ==
      Vector.empty)
  }

  test("shppict/nonshppict pair emits exactly once; payloads recover") {
    (0 until 8).foreach { i =>
      val b = graft.gen.RtfGen.fileBytes(i)
      val media = RtfExtractor.items(b).collect { case m: Media => m }
      if (i % 2 == 0) {
        assert(media == Vector(Media("image", "pict_0.png", true)), s"memo $i")
        val payload = RtfExtractor.mediaPayload(b, "pict_0.png").get
        assert(payload.toSeq == graft.gen.RtfGen.pictPayload(i).toSeq,
          s"memo $i payload (bin=${i % 4 == 0})")
      } else assert(media.isEmpty, s"memo $i")
    }
    // twin agrees on payloads too
    val (_, p) = twinParse(graft.gen.RtfGen.fileBytes(4))
    assert(p.head.toSeq == graft.gen.RtfGen.pictPayload(4).toSeq)
  }

  test("mutation storm: corrupted memos degrade, never throw") {
    var seed = 0x9E3779B97F4A7C15L
    def next(n: Int): Int = {
      seed ^= seed << 13; seed ^= seed >>> 7; seed ^= seed << 17
      (((seed % n) + n) % n).toInt
    }
    (0 until 200).foreach { i =>
      val b = graft.gen.RtfGen.fileBytes(i % 24)
      (0 until 1 + next(30)).foreach { _ =>
        b(next(b.length)) = next(256).toByte
      }
      if (RtfExtractor.isRtf(b)) RtfExtractor.items(b): Unit
    }
  }

  test("ingest e2e: .rtf and a lying-extension .txt route to the front end") {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").appName("rtf-e2e")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", false).getOrCreate()
    try {
      val tmp = tempDir("rtf-e2e").toString
      graft.gen.RtfGen.write(tmp, 4)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(tmp, "mislabeled.txt"),
        graft.gen.RtfGen.fileBytes(2))
      val rows = graft.sources.RawFiles.read(spark, tmp)
        .collect().map(d => d.doc_id ->
          d.spans.map(s => (s.kind, s.text,
            Option(s.media_ref).map(_.split('/').last).orNull,
            s.offset))).toMap
      (0 until 4).foreach { i =>
        val exp = graft.gen.RtfGen.expectedDoc(i)
          .map(r => (if (r.kind == "text") "text" else r.kind,
            r.text, r.media_ref, r.ord))
        assert(rows(graft.gen.RtfGen.fileName(i)) == exp, s"memo $i")
      }
      // the lying .txt decodes as RTF (content magic), not mojibake
      assert(rows("mislabeled.txt").head._2 ==
        "Title: Memo 2 échantillon m14")
    } finally spark.stop()
  }
}
