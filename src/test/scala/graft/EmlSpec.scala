package graft

import graft.extract.{EmlExtractor, Item}
import graft.gen.EmlGen
import graft.sources.RawFiles
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.nio.file.Files

/** EML/MIME front end: header unfolding, encoded words, transfer
  * encodings, multipart machine (alternative pick, nesting, cid
  * resolution), attachment fan-out, mbox spools, and the end-to-end
  * ingest path against EmlGen's hand-assembled ground truth.
  */
class EmlSpec extends AnyFunSuite with BeforeAndAfterAll with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val CRLF = "\r\n"
  private def b(s: String): Array[Byte] = s.getBytes(ISO_8859_1)

  test("header parse: unfolding, case-insensitive names, first wins") {
    val m = EmlExtractor.parseHeaders(
      "Subject: a very\r\n  folded subject\r\nFROM: x@y\r\nfrom: z@w\r\nBad line no colon\r\nX-Empty:\r\n")
    assert(m("subject") == "a very folded subject")
    assert(m("from") == "x@y") // first occurrence wins
    assert(m("x-empty") == "")
  }

  test("RFC 2047 encoded words: B, Q, underscore, adjacent join, unknown charset literal") {
    assert(EmlExtractor.decodeWords("=?utf-8?B?5pel5pys6Kqe?=") == "日本語")
    assert(EmlExtractor.decodeWords("=?iso-8859-1?Q?caf=E9_au_lait?=") ==
      "café au lait")
    // adjacent encoded words join with inter-word whitespace dropped
    assert(EmlExtractor.decodeWords("=?utf-8?Q?one?= =?utf-8?Q?_two?=") ==
      "one two")
    // unknown charset: word left literal, not dropped
    val lit = "=?x-martian?Q?abc?="
    assert(EmlExtractor.decodeWords(lit) == lit)
    // plain text untouched
    assert(EmlExtractor.decodeWords("plain subject") == "plain subject")
  }

  test("transfer encodings: base64 MIME-lenient, quoted-printable soft breaks and literals") {
    assert(EmlExtractor.decodeCte("aGVs\r\nbG8=", "base64").toSeq ==
      "hello".getBytes(UTF_8).toSeq)
    assert(new String(EmlExtractor.decodeCte(
      "caf=E9=\r\n au lait =3D ok =ZZ raw", "quoted-printable"),
      ISO_8859_1) == "café au lait = ok =ZZ raw")
    assert(new String(EmlExtractor.decodeCte("as is", "7bit"),
      ISO_8859_1) == "as is")
    // corrupt base64 degrades to empty, never throws
    assert(EmlExtractor.decodeCte("!!!not=base64###", "base64").isEmpty)
  }

  test("multipart split: preamble/epilogue drop, exact delimiter lines, unterminated tolerance") {
    val body = s"pre${CRLF}--b${CRLF}part one$CRLF--b${CRLF}part two$CRLF--b--${CRLF}epilogue"
    assert(EmlExtractor.splitParts(body, "b") ==
      Vector("part one", "part two"))
    // a line that merely STARTS with --b is not a delimiter
    val tricky = s"--b${CRLF}has --bogus inside$CRLF--b--"
    assert(EmlExtractor.splitParts(tricky, "b") ==
      Vector("has --bogus inside"))
    // unterminated: final part kept
    assert(EmlExtractor.splitParts(s"--b${CRLF}only part", "b") ==
      Vector("only part"))
  }

  test("parse: alternative picks plain; cid image emits once, at its reference position") {
    val alt = EmlExtractor.parse(EmlGen.fileBytes(3))
    assert(alt.items.count { case Item.Text(_) => true
                             case _ => false } == 2) // subject + plain
    assert(alt.items.collect { case Item.Text(t) => t }
      .exists(_.startsWith("Quarterly report")))

    val rel = EmlExtractor.parse(EmlGen.fileBytes(5))
    val kinds = rel.items.map {
      case Item.Text(_) => "t"
      case Item.Media(_, _, _) => "m"
    }
    // subject, block, media AT TAG POSITION, block — and no trailing
    // standalone emission of the cid part
    assert(kinds == Vector("t", "t", "m", "t"))
    val refs = rel.items.collect { case Item.Media(_, r, _) => r }
    assert(refs == Vector("p1:part.jpeg"))
  }

  test("attachment fan-out + media payload byte-fetch against generator truth") {
    val docs = RawFiles.decodeAny("msg00008_v8.eml", EmlGen.fileBytes(8), "")
    assert(docs.map(_.doc_id).toSet ==
      Set("msg00008_v8.eml", "msg00008_v8.eml#a1:notes8.md"))
    val md = docs.find(_.doc_id.endsWith(".md")).get
    assert(md.spans.head.text == "Notes 8")

    // byte-fetch: every generator media payload is recoverable
    Seq(4, 5, 10, 11).foreach { i =>
      val bytes = EmlGen.fileBytes(i)
      EmlGen.mediaBytes(i).foreach { case (tail, want) =>
        val got = EmlExtractor.mediaPayload(bytes, tail)
        assert(got.exists(_.sameElements(want)), s"variant $i $tail")
      }
    }
  }

  test("mbox spool: member fan-out, separator framing, mboxrd unescape") {
    val m0 = new String(EmlGen.fileBytes(0), ISO_8859_1)
    val m6 = new String(EmlGen.fileBytes(6), ISO_8859_1)
    val withEscape = m0.replace("Quarterly report",
      ">From the desk\r\nQuarterly report")
    val spool = b(s"From a@b Mon Aug 17 10:00:00 2026$CRLF$withEscape$CRLF$CRLF" +
      s"From c@d Mon Aug 17 11:00:00 2026$CRLF$m6")
    val msgs = EmlExtractor.mboxMessages(spool)
    assert(msgs.length == 2)
    // mboxrd one-level unescape restored the body line
    assert(new String(msgs(0), ISO_8859_1).contains("From the desk"))
    val docs = RawFiles.decodeAny("inbox.mbox", spool, "")
    assert(docs.map(_.doc_id) == Seq("inbox.mbox#m0", "inbox.mbox#m1"))
    assert(docs(1).spans.head.text == "Subject: 約束状態 6")
  }

  test("isEml magic: machine headers required; misnamed .txt email reroutes; prose does not") {
    assert(EmlExtractor.isEml(EmlGen.fileBytes(0)))
    val prose = b("From: my friend\r\nTo: you\r\n\r\nDear reader, this is just a letter-shaped text file.")
    assert(!EmlExtractor.isEml(prose)) // no machine-generated header
    assert(!EmlExtractor.isEml(b("plain words")))
    val docs = RawFiles.decodeAny("saved-mail.txt", EmlGen.fileBytes(2), "")
    assert(docs.head.spans.head.text == "Subject: Chinese memo 2")
    // honest prose .txt stays a text doc
    val proseDocs = RawFiles.decodeAny("letter.txt", prose, "")
    assert(proseDocs.head.spans.head.kind == "text")
    assert(proseDocs.head.spans.head.text.startsWith("From: my friend"))
  }

  test("ingest e2e: 24 generated emails match EmlGen ground truth exactly") {
    val dir = tempDir("graft-eml-spec")
    EmlGen.write(dir.toString, 24)
    val got = RawFiles.read(spark, dir.toString).collect()
      .flatMap(d => d.spans.map(sp => (d.doc_id, sp.kind,
        Option(sp.text).orNull,
        Option(sp.media_ref).map(r => r.substring(r.lastIndexOf('/') + 1))
          .orNull,
        sp.offset)))
      .sortBy(r => (r._1, r._5))
    val want = EmlGen.expected(24)
      .map(r => (r.doc_id, r.kind, r.text, r.media_ref, r.ord))
      .sortBy(r => (r._1, r._5))
    assert(got.length == want.length,
      s"got=${got.length} want=${want.length}\n" +
        got.take(8).mkString("\n"))
    got.zip(want).foreach { case (g, w) => assert(g == w, s"\ngot  $g\nwant $w") }
    dir.toFile.listFiles.foreach(_.delete()); dir.toFile.delete(): Unit
  }

  test("mutation storm: random corruption never crashes the MIME machine") {
    val rnd = new scala.util.Random(20260819L)
    val seeds = (0 until 12).map(EmlGen.fileBytes)
    (0 until 300).foreach { k =>
      val base = seeds(k % seeds.length).clone()
      (0 until 1 + rnd.nextInt(8)).foreach { _ =>
        base(rnd.nextInt(base.length)) = rnd.nextInt(256).toByte
      }
      val msg = EmlExtractor.parse(base)
      assert(msg != null)
      val _ = RawFiles.decodeAny("f.eml", base, "")
    }
    // truncation storm
    val whole = EmlGen.fileBytes(5)
    (1 until whole.length by 37).foreach { n =>
      val _ = EmlExtractor.parse(java.util.Arrays.copyOf(whole, n))
    }
  }
}
