package graft

import graft.extract.WarcExtractor
import graft.gen.WarcGen
import graft.sources.RawFiles
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** WARC front end: the record machine (version line, CRLF headers,
  * Content-Length'd payloads, HTTP envelope strip, de-chunking, per-
  * record gzip members) plus the ingest fan-out contract — one crawl
  * record = one InputDoc, routed by MIME through the existing front
  * ends, identical through the batch scan and the streaming decode.
  */
class WarcSpec extends AnyFunSuite with BeforeAndAfterAll with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val CRLF = "\r\n"
  private def b(s: String): Array[Byte] =
    s.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
  private def rec(headers: Seq[String], payload: Array[Byte]): Array[Byte] =
    b(("WARC/1.0" +: headers :+ s"Content-Length: ${payload.length}")
        .mkString("", CRLF, CRLF) + CRLF) ++ payload ++ b(CRLF + CRLF)
  private def http(status: String, headers: Seq[String],
                   body: Array[Byte]): Array[Byte] =
    b((s"HTTP/1.1 $status" +: headers).mkString("", CRLF, CRLF) + CRLF) ++
      body

  test("record machine: retained types, HTTP strip, non-2xx drop, Content-Length truncation") {
    val keep = rec(
      Seq("WARC-Type: response", "WARC-Target-URI: http://a/x",
          "Content-Type: application/http; msgtype=response"),
      http("200 OK", Seq("Content-Type: text/html; charset=utf-8"),
        b("<p>kept</p>")))
    val redirect = rec(
      Seq("WARC-Type: response", "WARC-Target-URI: http://a/y",
          "Content-Type: application/http"),
      http("301 Moved", Seq("Location: http://a/x"), b("gone")))
    val truncated = rec(
      Seq("WARC-Type: response", "WARC-Target-URI: http://a/z",
          "Content-Type: application/http"),
      http("200 OK",
        Seq("Content-Type: text/plain", "Content-Length: 4"),
        b("fourEXTRA")))
    val info = rec(
      Seq("WARC-Type: warcinfo", "Content-Type: application/warc-fields"),
      b("software: x"))
    val wet = rec(
      Seq("WARC-Type: conversion", "WARC-Target-URI: http://a/x",
          "Content-Type: text/plain"),
      b("wet text"))
    val recs = WarcExtractor.records(keep ++ redirect ++ truncated ++
      info ++ wet)
    assert(recs.map(r => (r.warcType, r.targetUri, r.mime,
      new String(r.body, "UTF-8"))) == Vector(
      ("response", "http://a/x", "text/html", "<p>kept</p>"),
      ("response", "http://a/z", "text/plain", "four"),
      ("conversion", "http://a/x", "text/plain", "wet text")))
  }

  test("record machine: bare-LF headers parse; missing Content-Length degrades to the records already read") {
    val lfOnly = ("WARC/1.0\nWARC-Type: resource\n" +
      "WARC-Target-URI: http://a/r\nContent-Type: image/gif\n" +
      "Content-Length: 3\n\n").getBytes("ISO-8859-1") ++
      Array[Byte](1, 2, 3) ++ b("\n\n")
    val broken = b("WARC/1.0" + CRLF + "WARC-Type: resource" + CRLF +
      CRLF + "no length")
    val recs = WarcExtractor.records(lfOnly ++ broken)
    assert(recs.map(r => (r.warcType, r.mime, r.body.toSeq)) ==
      Vector(("resource", "image/gif", Seq[Byte](1, 2, 3))))
  }

  test("dechunk inverts chunked encoding; malformed tail keeps decoded chunks") {
    val body = b("5;ext=x" + CRLF) ++ b("hello") ++ b(CRLF) ++
      b("6" + CRLF) ++ b(" world") ++ b(CRLF) ++ b("0" + CRLF + CRLF)
    assert(new String(WarcExtractor.dechunk(body), "UTF-8") ==
      "hello world")
    val cut = body.slice(0, 14) // mid-second-size-line
    assert(new String(WarcExtractor.dechunk(cut), "UTF-8") == "hello")
    assert(WarcExtractor.dechunk(b("zz" + CRLF + "junk")).isEmpty)
  }

  test("magic: gzip of non-WARC is NOT warc.gz; gzip-member concatenation inflates fully") {
    val notWarc = {
      val bos = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(bos)
      gz.write(b("just text")); gz.close(); bos.toByteArray
    }
    assert(!WarcExtractor.isWarcGz(notWarc))
    assert(WarcExtractor.isWarc(b("WARC/1.0" + CRLF)))
    assert(!WarcExtractor.isWarc(b("WARX/1.0")))
    // WarcGen's odd segments are one-gzip-member-per-record: the same
    // retained records come back as from a hypothetical plain layout
    val gzBytes = WarcGen.fileBytes(1)
    assert(WarcExtractor.isWarcGz(gzBytes))
    val recs = WarcExtractor.records(gzBytes)
    assert(recs.map(_.warcType) ==
      Vector("response", "response", "response", "conversion",
        "response", "resource"))
    assert(recs.last.body.toSeq == WarcGen.imgPayload(1).toSeq)
  }

  test("ingest fan-out: one InputDoc per retained record, batch scan == streaming decode, misnamed WARC reroutes") {
    spark.sparkContext.setLogLevel("WARN")
    val dir = tempDir("graft-warcspec")
    WarcGen.write(dir.toString, 6)
    // a crawler's misnamed .txt that is really WARC still fans out
    Files.write(dir.resolve("mislabeled.txt"), WarcGen.fileBytes(2))

    // media_refs carry the scan's absolute path (file:/… from the
    // binaryFile scan, bare /… from the row-level decode) — strip the
    // scheme before comparing, identity otherwise
    def norm(spans: Seq[graft.core.Span]) = spans.toVector.map(s =>
      if (s.media_ref == null) s
      else s.copy(media_ref = s.media_ref.stripPrefix("file:")))
    val batch = RawFiles.read(spark, dir.toString).collect()
      .map(d => d.doc_id -> norm(d.spans)).toMap
    val stream = (0 until 6).map(i => dir.resolve(WarcGen.fileName(i))) :+
      dir.resolve("mislabeled.txt")
    val streamed = stream.flatMap { p =>
      RawFiles.decodeAny(p.toString, Files.readAllBytes(p),
        dir.toString + "/")
    }.map(d => d.doc_id -> norm(d.spans)).toMap
    assert(batch == streamed)

    // segment 0: html(r0) pdf(r1) chunked(r2) wet(r3) legacy(r4)
    // img(r5); segment 2 drops the pdf so indices shift
    val f0 = WarcGen.fileName(0)
    assert(batch.keys.count(_.startsWith(f0 + "#")) == 6)
    assert(batch.contains(s"$f0#r1:https://example.org/0/doc.pdf"))
    val f2 = WarcGen.fileName(2)
    assert(batch.keys.count(_.startsWith(f2 + "#")) == 5)
    assert(batch.contains(s"$f2#r1:https://example.org/2/live"))
    assert(batch.keys.count(_.startsWith("mislabeled.txt#")) == 5)
    // the transport-declared legacy charset decodes (ISO-8859-1 label
    // upgraded to windows-1252: the em-dash and the euro survive)
    assert(batch(s"$f0#r4:https://example.org/0/legacy").head.text
      .contains("café — €"))

    // the pdf record routed through RealPdf: its spans are pdf-kind
    val pdfSpans = batch(s"$f0#r1:https://example.org/0/doc.pdf")
    assert(pdfSpans.head.kind == "pdf" && pdfSpans.head.text != null)
    // the image resource record is media BY REFERENCE: bytes stay in
    // the archive, recoverable through warcRecordPayload
    val imgSpans = batch(s"$f0#r5:https://cdn.example.org/0/banner.png")
    assert(imgSpans.map(s => (s.kind, s.text)) ==
      Vector(("image", null)))
    val ref = imgSpans.head.media_ref
    assert(ref.endsWith(s"/$f0#r5"))
    val fetched = RawFiles.mediaPayload(
      Files.readAllBytes(dir.resolve(f0)), ref)
    assert(fetched.exists(_.sameElements(WarcGen.imgPayload(0))))
  }

  test("ex_warc query matches the generator ground truth end-to-end") {
    spark.sparkContext.setLogLevel("WARN")
    val got = SparkEntry.queries("ex_warc")(spark, "unused")
      .collect().map(_.toSeq).toSeq
    val want = SparkEntry.expected("ex_warc")(spark, "unused")
      .orderBy("doc_id", "ord").collect().map(_.toSeq).toSeq
    assert(got.size == want.size, s"${got.size} vs ${want.size}")
    got.zip(want).foreach { case (g, w) => assert(g == w) }
  }
}
