package graft

import graft.extract.CharsetSniff
import graft.gen.CharsetGen
import graft.sources.RawFiles
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.{Charset, StandardCharsets}
import java.nio.file.Files

/** Legacy-charset ingestion: the WHATWG decode chain (BOM > transport
  * > meta prescan > UTF-8 validity > windows-1252), its label-mapping
  * quirks, the strict UTF-8 validator, and the end-to-end ingest path
  * against CharsetGen's encoded ground truth.
  */
class CharsetSpec extends AnyFunSuite with BeforeAndAfterAll with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("label mapping: WHATWG quirks land on the superset charsets") {
    def n(l: String): Option[String] = CharsetSniff.label(l).map(_.name)
    assert(n("utf-8").contains("UTF-8"))
    assert(n("ISO-8859-1").contains("windows-1252")) // the latin-1 lie
    assert(n("ascii").contains("windows-1252"))
    assert(n("x-user-defined").contains("windows-1252"))
    assert(n("Shift_JIS").contains("windows-31j"))
    assert(n("gb2312").contains("GBK"))
    assert(n("big5").contains("Big5-HKSCS"))
    assert(n("euc-kr").contains("x-windows-949"))
    assert(n("'windows-1251'").contains("windows-1251")) // quoted label
    assert(n("\"koi8-r\"").contains("KOI8-R"))
    // a utf-16 label on BOM-less bytes is unsatisfiable → UTF-8
    assert(n("utf-16").contains("UTF-8"))
    assert(n("UTF-16LE").contains("UTF-8"))
    assert(n("no-such-charset").isEmpty)
    assert(n("").isEmpty)
  }

  test("strict UTF-8 validity: exact definition, not a heuristic") {
    def v(bs: Int*): Boolean = CharsetSniff.validUtf8(bs.map(_.toByte).toArray)
    assert(v()) // empty
    assert(CharsetSniff.validUtf8("Värld 世界 мир 🌍".getBytes("UTF-8")))
    assert(!v(0xC0, 0xAF))             // overlong 2-byte
    assert(!v(0xE0, 0x80, 0x80))       // overlong 3-byte
    assert(!v(0xED, 0xA0, 0x80))       // surrogate
    assert(!v(0xF4, 0x90, 0x80, 0x80)) // > U+10FFFF
    assert(!v(0xF5, 0x80, 0x80, 0x80)) // invalid lead
    assert(!v(0xE4, 0xB8))             // truncated tail
    assert(!v(0x80))                   // bare continuation
    assert(!v('c', 'a', 'f', 0xE9))    // windows-1252 é
  }

  test("meta prescan: bare/content/single-quoted forms, comment skip, window cap") {
    def m(s: String): Option[String] =
      CharsetSniff.metaPrescan(s.getBytes(StandardCharsets.ISO_8859_1))
        .map(_.name)
    assert(m("""<head><meta charset="koi8-r"></head>""").contains("KOI8-R"))
    assert(m("""<meta http-equiv="Content-Type" content="text/html; charset=shift_jis">""")
      .contains("windows-31j"))
    assert(m("""<meta charset='windows-1251'>""").contains("windows-1251"))
    // a commented-out declaration must not win over the live one
    assert(m("""<!-- <meta charset="big5"> --><meta charset="koi8-r">""")
      .contains("KOI8-R"))
    // an unresolvable label is skipped in favor of the next meta
    assert(m("""<meta charset="bogus-enc"><meta charset="gbk">""")
      .contains("GBK"))
    // beyond the 1024-byte prescan window the declaration is invisible
    val far = (" " * 1100) + """<meta charset="koi8-r">"""
    assert(m(far).isEmpty)
    assert(m("no meta here").isEmpty)
  }

  test("decode priority: BOM > transport > meta > validity > windows-1252") {
    val w1252 = Charset.forName("windows-1252")
    // BOM beats a lying meta
    val bomBytes = ("\uFEFF" + "<meta charset=\"shift_jis\">wide ✓")
      .getBytes(StandardCharsets.UTF_16LE)
    assert(CharsetSniff.decode(bomBytes, html = true) ==
      "<meta charset=\"shift_jis\">wide ✓")
    // transport beats meta
    val dual = "<meta charset=\"koi8-r\">café €".getBytes(w1252)
    assert(CharsetSniff.decode(dual, html = true, "windows-1252") ==
      "<meta charset=\"koi8-r\">café €")
    // meta when no transport
    val metaOnly = "<meta charset=\"windows-1252\">café €"
      .getBytes(w1252)
    assert(CharsetSniff.decode(metaOnly, html = true) ==
      "<meta charset=\"windows-1252\">café €")
    // valid UTF-8 with no declaration stays UTF-8
    assert(CharsetSniff.decode("中文 mixed ascii".getBytes("UTF-8"),
      html = true) == "中文 mixed ascii")
    // invalid UTF-8 with no declaration falls to windows-1252
    assert(CharsetSniff.decode("café – €".getBytes(w1252),
      html = false) == "café – €")
    // an unsupported transport label degrades to the sniff, not a crash
    assert(CharsetSniff.decode("plain".getBytes("UTF-8"), html = false,
      "x-bogus") == "plain")
  }

  test("generator self-check: every variant's bytes decode back to its expected text") {
    // guards the ground truth itself: if an encoder ever substituted
    // '?' for an unmappable char, expected and bytes would disagree
    (0 until 24).foreach { i =>
      val got = CharsetSniff.decode(CharsetGen.fileBytes(i),
        html = CharsetGen.fileName(i).endsWith(".html"))
      val want = CharsetGen.expected(24)(i).text
      assert(got == want, s"variant $i (${CharsetGen.fileName(i)})")
    }
  }

  test("ingest e2e: legacy-charset directory decodes to the generator's exact strings") {
    val dir = tempDir("graft-charset-spec")
    CharsetGen.write(dir.toString, 24)
    val docs = RawFiles.read(spark, dir.toString).collect()
      .map(d => d.doc_id -> d.spans).toMap
    val want = CharsetGen.expected(24)
    assert(docs.size == 24)
    want.foreach { r =>
      val spans = docs(r.doc_id)
      assert(spans.length == 1, r.doc_id)
      assert(spans.head.kind == r.kind, r.doc_id)
      assert(spans.head.text == r.text, r.doc_id)
    }
    dir.toFile.listFiles.foreach(_.delete()); dir.toFile.delete(): Unit
  }

  test("WARC transport charset: Content-Type charset param decodes a meta-less legacy page") {
    val CRLF = "\r\n"
    def b(s: String) = s.getBytes(StandardCharsets.ISO_8859_1)
    val body = "<html><body><p>café € legacy</p></body></html>"
      .getBytes(Charset.forName("windows-1252"))
    val httpMsg = b(("HTTP/1.1 200 OK" ::
      "Content-Type: text/html; charset=ISO-8859-1" :: Nil)
      .mkString("", CRLF, CRLF) + CRLF) ++ body
    val warc = b(("WARC/1.0" :: "WARC-Type: response" ::
      "WARC-Target-URI: http://legacy/x" ::
      "Content-Type: application/http; msgtype=response" ::
      s"Content-Length: ${httpMsg.length}" :: Nil)
      .mkString("", CRLF, CRLF) + CRLF) ++ httpMsg ++ b(CRLF + CRLF)
    val recs = graft.extract.WarcExtractor.records(warc)
    assert(recs.length == 1)
    assert(recs.head.charset == "ISO-8859-1")
    val docs = RawFiles.decodeAny("seg.warc", warc, "")
    assert(docs.length == 1)
    // iso-8859-1 transport label upgrades to windows-1252: € survives
    assert(docs.head.spans.head.text.contains("café € legacy"))
  }

  test("mutation storm: random corruption never crashes the decode chain") {
    val rnd = new scala.util.Random(20260818L)
    val seeds = (0 until 24).map(CharsetGen.fileBytes)
    (0 until 300).foreach { k =>
      val base = seeds(k % seeds.length).clone()
      (0 until 1 + rnd.nextInt(6)).foreach { _ =>
        base(rnd.nextInt(base.length)) = rnd.nextInt(256).toByte
      }
      val out = CharsetSniff.decode(base, html = k % 2 == 0,
        if (k % 3 == 0) "shift_jis" else "")
      assert(out != null)
    }
  }
}
