package graft

import graft.extract.Codecs
import graft.sources.RawFiles
import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.UTF_8

/** Compressed-at-rest ingest: zstd/xz/bz2 wrappers route by inner
  * extension through the same dispatch as `.gz`, concatenated frames
  * read through, corruption drops instead of throwing.
  */
class CodecsSpec extends AnyFunSuite {

  private def zst(raw: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val z = new org.apache.commons.compress.compressors.zstandard
      .ZstdCompressorOutputStream(bos)
    z.write(raw); z.close(); bos.toByteArray
  }
  private def xz(raw: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val x = new org.apache.commons.compress.compressors.xz
      .XZCompressorOutputStream(bos)
    x.write(raw); x.close(); bos.toByteArray
  }
  private def bz2(raw: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val b = new org.apache.commons.compress.compressors.bzip2
      .BZip2CompressorOutputStream(bos)
    b.write(raw); b.close(); bos.toByteArray
  }

  private def lz4(raw: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val l = new org.apache.commons.compress.compressors.lz4
      .FramedLZ4CompressorOutputStream(bos)
    l.write(raw); l.close(); bos.toByteArray
  }
  private def snappy(raw: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val s = new org.apache.commons.compress.compressors.snappy
      .FramedSnappyCompressorOutputStream(bos)
    s.write(raw); s.close(); bos.toByteArray
  }

  test("lz4 + framed snappy: magics, round trips, concatenated lz4 frames, routing, corruption") {
    val raw = ("fast codec payload line\n" * 50).getBytes(UTF_8)
    val l = lz4(raw)
    assert(Codecs.isLz4(l) && !Codecs.isLz4(raw))
    assert(Codecs.inflate("lz4", l).toSeq == raw.toSeq)
    assert(Codecs.inflate("lz4", l ++ lz4(raw)).toSeq == (raw ++ raw).toSeq)
    val s = snappy(raw)
    assert(Codecs.isSnappy(s) && !Codecs.isSnappy(l))
    assert(Codecs.inflate("sz", s).toSeq == raw.toSeq)
    assert(Codecs.inflate("snappy", s).toSeq == raw.toSeq)
    // routing by inner extension, exactly like .gz
    val txt = "lz4-wrapped note".getBytes(UTF_8)
    val d1 = RawFiles.decodeAny("note.txt.lz4", lz4(txt), "")
    assert(d1.head.spans.head.text == "lz4-wrapped note")
    val md = "# Sz Head\n\nsnappy body paragraph\n".getBytes(UTF_8)
    val d2 = RawFiles.decodeAny("post.md.sz", snappy(md), "")
    assert(d2.head.spans.map(_.text) ==
      Seq("Sz Head", "snappy body paragraph"))
    val d3 = RawFiles.decodeAny("note.txt.snappy", snappy(txt), "")
    assert(d3.head.spans.head.text == "lz4-wrapped note")
    // corrupt streams drop, never throw
    assert(Codecs.inflate("lz4", "junk".getBytes(UTF_8)).isEmpty)
    assert(Codecs.inflate("sz", Array[Byte](1, 2)).isEmpty)
    assert(RawFiles.decodeAny("x.html.lz4",
      "junk".getBytes(UTF_8), "").isEmpty)
  }

  test("magics + round trips, concatenated frames, corruption tolerance") {
    val raw = ("payload line one\n" * 40).getBytes(UTF_8)
    val z = zst(raw)
    assert(Codecs.isZstd(z) && !Codecs.isZstd(raw))
    assert(Codecs.inflate("zst", z).toSeq == raw.toSeq)
    val x = xz(raw)
    assert(Codecs.isXz(x) && !Codecs.isXz(z))
    assert(Codecs.inflate("xz", x).toSeq == raw.toSeq)
    val b = bz2(raw)
    assert(Codecs.isBz2(b) && !Codecs.isBz2(x))
    assert(Codecs.inflate("bz2", b).toSeq == raw.toSeq)
    // concatenated frames/members read through (web shards are
    // routinely produced by parallel appenders)
    assert(Codecs.inflate("zst", z ++ zst(raw)).toSeq ==
      (raw ++ raw).toSeq)
    assert(Codecs.inflate("xz", x ++ xz(raw)).toSeq == (raw ++ raw).toSeq)
    assert(Codecs.inflate("bz2", b ++ bz2(raw)).toSeq == (raw ++ raw).toSeq)
    // corrupt header → empty, never a throw
    assert(Codecs.inflate("zst", "garbage".getBytes(UTF_8)).isEmpty)
    assert(Codecs.inflate("xz", Array[Byte](1, 2, 3)).isEmpty)
    assert(Codecs.inflate("nope", z).isEmpty)
  }

  test("compressed wrappers route by inner extension, exactly like .gz") {
    val html = ("<html><body><p>A compressed page paragraph long " +
      "enough to clear the boilerplate gate.</p></body></html>")
      .getBytes(UTF_8)
    val docs = RawFiles.decodeAny("page.html.xz", xz(html), "")
    assert(docs.length == 1 && docs.head.spans.head.kind == "html")
    assert(docs.head.spans.head.text.contains("compressed page"))

    val txt = "plain bz2 note content".getBytes(UTF_8)
    val d2 = RawFiles.decodeAny("note.txt.bz2", bz2(txt), "")
    assert(d2.head.spans.head.text == "plain bz2 note content")

    // a zstd-compressed markdown doc still decodes its blocks
    val md = "# Zst Head\n\nzstd paragraph body here\n".getBytes(UTF_8)
    val d3 = RawFiles.decodeAny("post.md.zst", zst(md), "")
    assert(d3.head.spans.map(_.text) ==
      Seq("Zst Head", "zstd paragraph body here"))

    // inner extension outside the text family drops
    assert(RawFiles.decodeAny("blob.bin.zst", zst(txt), "").isEmpty)
    // corrupt stream drops
    assert(RawFiles.decodeAny("x.html.zst", "junk".getBytes(UTF_8), "")
      .isEmpty)
  }

  test("seg.warc.zst and dump.tar.zst fan out like their .gz twins") {
    val warcRaw = graft.gen.WarcGen.fileBytes(0) match {
      case bytes if graft.extract.WarcExtractor.isWarc(bytes) => bytes
      case bytes => Codecs.inflate("gz", bytes)
    }
    // the compressed name rides into doc_ids AND span media_refs (the
    // pseudo-path is the compressed file) — normalize both for compare
    def norm(docs: Seq[graft.core.InputDoc], a: String, b: String) =
      docs.map(d => (d.doc_id.replace(a, b), d.spans.map(sp =>
        (sp.kind, sp.text,
         Option(sp.media_ref).map(_.replace(a, b)).orNull, sp.offset))))
    val viaZst = RawFiles.decodeAny("seg.warc.zst", zst(warcRaw), "")
    val viaPlain = RawFiles.decodeAny("seg.warc", warcRaw, "")
    assert(norm(viaZst, ".warc.zst", ".warc") ==
      norm(viaPlain, ".warc", ".warc"))
    assert(viaZst.nonEmpty)

    val tarRaw = graft.gen.ArchiveGen.fileBytes(1) match {
      case bytes if graft.extract.ArchiveExtractor.isTar(bytes) => bytes
      case bytes => Codecs.inflate("gz", bytes)
    }
    if (graft.extract.ArchiveExtractor.isTar(tarRaw)) {
      val viaTz = RawFiles.decodeAny("dump.tar.zst", zst(tarRaw), "")
      val viaT = RawFiles.decodeAny("dump.tar", tarRaw, "")
      assert(norm(viaTz, ".tar.zst", ".tar") == norm(viaT, ".tar", ".tar"))
      assert(viaTz.nonEmpty)
    }
  }

  test("jsonl shard codecs: zst/xz/lz4/snappy shards fan out identically to plain") {
    // same logical shard content across the compressed suffix variants
    // (zst, xz, lz4, sz) modulo the per-index text differences — so
    // compare each against its OWN generator ground truth
    Seq(3, 4, 5, 6, 10, 11, 12, 13).foreach { i =>
      val docs = RawFiles.decodeAny(graft.gen.JsonlGen.fileName(i),
        graft.gen.JsonlGen.fileBytes(i), "")
      val want = graft.gen.JsonlGen.expectedDoc(i)
      assert(docs.map(_.doc_id) == want.map(_.doc_id), s"shard $i")
      assert(docs.map(_.spans.head.text) == want.map(_.text), s"shard $i")
    }
  }
}
