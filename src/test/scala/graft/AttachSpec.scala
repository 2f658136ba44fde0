package graft

import graft.extract.RealPdf
import graft.gen.AttachGen
import graft.sources.RawFiles
import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.UTF_8

/** PDF embedded files: name-tree + annotation discovery, dedup,
  * /UF-over-/F naming, /EF filter chain, attachment fan-out through
  * the front-end dispatch — against AttachGen's hand-assembled PDFs.
  */
class AttachSpec extends AnyFunSuite {

  test("generator round trip: all 4 variants fan out their hand-written docs") {
    for (i <- 0 until 8) {
      val got = RawFiles.decodeAny(AttachGen.fileName(i),
          AttachGen.fileBytes(i), "")
        .flatMap(d => graft.extract.Extractor.extractRows(d))
        .map(r => (r.doc_id, r.kind, r.text, r.order))
      val exp = AttachGen.expectedDoc(i).map(g => (g.doc_id, g.kind,
        g.text, g.ord))
      assert(got == exp, s"variant $i")
    }
  }

  test("attachments(): discovery order, dedup, naming, filters") {
    // variant 0: tree order, Flate-decoded body
    val a0 = RealPdf.attachments(RealPdf.open(AttachGen.fileBytes(0)))
    assert(a0.map(_.name) == Vector("notes_0.txt", "readme_0.md"))
    assert(new String(a0(1).body, UTF_8).startsWith("# Readme 0"))
    // variant 1: shared filespec once, ghost + .xyz follow their rules
    // (the name-less filespec never surfaces; the .xyz drops at the
    // ROUTING layer, so attachments() still reports it)
    val a1 = RealPdf.attachments(RealPdf.open(AttachGen.fileBytes(1)))
    assert(a1.map(_.name) ==
      Vector("shared_1.txt", "data_1.xyz", "memo_1.txt"))
    // variant 2: /UF (UTF-16BE) beats /F
    val a2 = RealPdf.attachments(RealPdf.open(AttachGen.fileBytes(2)))
    assert(a2.map(_.name) == Vector("unicodé_2.txt"))
    // variant 3: the inner PDF round-trips byte-exact
    val a3 = RealPdf.attachments(RealPdf.open(AttachGen.fileBytes(3)))
    assert(a3.size == 1 &&
      a3.head.body.sameElements(AttachGen.innerPdf(3)))
    // attachment-less PDFs: none
    assert(RealPdf.attachments(RealPdf.open(
      graft.gen.LinkGen.fileBytes(0))).isEmpty)
  }

  test("one fan-out level: a pdf attachment's own attachments stay put") {
    // wrap variant 0 (which HAS attachments) as an attachment itself
    val outer = {
      val inner = AttachGen.fileBytes(0)
      val sb = new StringBuilder("%PDF-1.5\n")
      sb.append("4 0 obj\n<< /Length 44 >>\nstream\n" +
        "BT /F1 11 Tf 72 760 Td (Outer page.) Tj ET\n" +
        "\nendstream\nendobj\n")
      sb.append("1 0 obj\n<< /Type /Catalog /Pages 2 0 R " +
        "/Names << /EmbeddedFiles 10 0 R >> >>\nendobj\n")
      sb.append("2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 " +
        "/MediaBox [0 0 612 792] >>\nendobj\n")
      sb.append("3 0 obj\n<< /Type /Page /Parent 2 0 R " +
        "/Contents 4 0 R >>\nendobj\n")
      sb.append("10 0 obj\n<< /Names [(x) 11 0 R] >>\nendobj\n")
      sb.append("11 0 obj\n<< /Type /Filespec /F (nested.pdf) " +
        "/EF << /F 12 0 R >> >>\nendobj\n")
      sb.append(s"12 0 obj\n<< /Length ${inner.length} >>\nstream\n")
      val head = sb.toString.getBytes(
        java.nio.charset.StandardCharsets.ISO_8859_1)
      val tail = "\nendstream\nendobj\nstartxref\n0\n%%EOF\n".getBytes(
        java.nio.charset.StandardCharsets.ISO_8859_1)
      head ++ inner ++ tail
    }
    val docs = RawFiles.decodeAny("outer.pdf", outer, "")
    val ids = docs.map(_.doc_id)
    assert(ids.contains("outer.pdf"))
    assert(ids.contains("outer.pdf#a0:nested.pdf"))
    // the nested PDF's OWN attachments did not fan out further
    assert(!ids.exists(_.contains("notes_0.txt")))
  }

  test("mutation storm: corruption and truncation never crash discovery") {
    val rnd = new scala.util.Random(20260818L)
    for (v <- 0 until 4; _ <- 0 until 60) {
      val b = AttachGen.fileBytes(v).clone()
      for (_ <- 0 until 8)
        b(rnd.nextInt(b.length)) = rnd.nextInt(256).toByte
      RealPdf.attachments(RealPdf.open(b)) // must not throw
    }
    val base = AttachGen.fileBytes(1)
    for (_ <- 0 until 40)
      RealPdf.attachments(RealPdf.open(java.util.Arrays.copyOf(base,
        rnd.nextInt(base.length))))
  }
}
