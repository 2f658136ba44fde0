package graft

import graft.extract.IpynbExtractor
import graft.extract.Item.{Media, Text}
import graft.gen.NbGen
import graft.sources.RawFiles
import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.UTF_8

/** Jupyter-notebook front end: nbformat 3/4 cell walks, markdown cells
  * through the MdExtractor semantics, verbatim code blocks, output
  * image/text handling, attachment resolution, base64 payload fetch —
  * against NbGen's hand-assembled JSON and hand-written ground truth.
  */
class NbSpec extends AnyFunSuite {

  test("generator round trip: all 8 variants extract their hand-written items") {
    for (i <- 0 until 16) {
      val got = IpynbExtractor.items(NbGen.fileBytes(i)).map {
        case Text(t) => ("text", t, null)
        case Media(mk, ref, inFile) =>
          val full = if (inFile) s"${NbGen.fileName(i)}#$ref" else ref
          // expected rows carry the /-tail (the driver-query reduction)
          (mk, null, full.substring(full.lastIndexOf('/') + 1))
      }
      val exp = NbGen.expectedDoc(i).map(r => (r.kind, r.text, r.media_ref))
      assert(got == exp, s"variant $i")
    }
  }

  test("attachment and output payloads base64-decode to the generator's images") {
    // variant 1: markdown attachment (MIME base64 with embedded \n)
    val b1 = NbGen.fileBytes(1)
    val p1 = RawFiles.mediaPayload(b1, s"${NbGen.fileName(1)}#att0:plot.png")
    assert(p1.exists(_.sameElements(graft.gen.PptGen.pngPayload(1))))
    assert(javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(p1.get)) != null)
    // variant 2: display_data output image
    val b2 = NbGen.fileBytes(2)
    val p2 = RawFiles.mediaPayload(b2, s"${NbGen.fileName(2)}#out0:1")
    assert(p2.exists(_.sameElements(graft.gen.PptGen.pngPayload(2))))
    // variant 4: nbformat-3 pyout bare png key
    val b4 = NbGen.fileBytes(4)
    val p4 = RawFiles.mediaPayload(b4, s"${NbGen.fileName(4)}#out1:0")
    assert(p4.exists(_.sameElements(graft.gen.PptGen.pngPayload(4))))
    // ghost refs resolve to nothing
    assert(IpynbExtractor.mediaPayload(b1, "att0:gone.png").isEmpty)
    assert(IpynbExtractor.mediaPayload(b2, "out0:9").isEmpty)
    assert(IpynbExtractor.mediaPayload(b2, "out9:0").isEmpty)
    assert(IpynbExtractor.mediaPayload(b2, "bogus").isEmpty)
  }

  test("cell semantics: stream/error/raw drop, image beats text/plain, ghosts stay silent") {
    // variant 0's stream output contributed nothing
    val v0 = IpynbExtractor.items(NbGen.fileBytes(0))
    assert(v0.size == 3 && v0.forall(_.isInstanceOf[Text]))
    // variant 2's display_data carried text/plain AND image/png: the
    // image wins, the <Figure> repr never appears
    val v2 = IpynbExtractor.items(NbGen.fileBytes(2))
    assert(v2.collect { case Text(t) => t }.forall(!_.contains("Figure")))
    assert(v2.count(_.isInstanceOf[Media]) == 1)
    // variant 7's attachment ref has no attachment: no media minted,
    // alt text kept
    val v7 = IpynbExtractor.items(NbGen.fileBytes(7))
    assert(v7.count(_.isInstanceOf[Media]) == 0)
    assert(v7.collect { case Text(t) => t }
      .exists(_ == "Missing ghost stays text 7."))
    // malformed JSON: nothing
    assert(IpynbExtractor.items(NbGen.fileBytes(5)).isEmpty)
    // non-object / cell-less roots: nothing
    assert(IpynbExtractor.items("[1, 2]".getBytes(UTF_8)).isEmpty)
    assert(IpynbExtractor.items("{\"a\": 1}".getBytes(UTF_8)).isEmpty)
  }

  test("ingest routing: .ipynb by suffix, archive members, .ipynb.gz inner extension") {
    val b = NbGen.fileBytes(0)
    val direct = RawFiles.decodeAny("nb_0000.ipynb", b, "")
    assert(direct.nonEmpty && direct.head.spans.map(_.text) ==
      NbGen.expectedDoc(0).map(_.text))
    // a notebook member inside a zip decodes through the same dispatch
    val zipped = graft.gen.ArchiveGen.zipBytes(Seq("work/nb.ipynb" -> b))
    val viaZip = RawFiles.decodeAny("dump.zip", zipped, "")
    assert(viaZip.exists(d => d.doc_id.endsWith("#work/nb.ipynb") &&
      d.spans.map(_.text) == NbGen.expectedDoc(0).map(_.text)))
    // gzip at rest routes by the inner extension
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(b); gz.close()
    val viaGz = RawFiles.decodeAny("nb_0000.ipynb.gz", bos.toByteArray, "")
    assert(viaGz.nonEmpty && viaGz.head.spans.map(_.text) ==
      NbGen.expectedDoc(0).map(_.text))
  }

  test("mutation storm: corruption and truncation never crash the reader") {
    val rnd = new scala.util.Random(20260818L)
    for (v <- Seq(1, 2, 4); _ <- 0 until 100) {
      val b = NbGen.fileBytes(v).clone()
      for (_ <- 0 until 6)
        b(rnd.nextInt(b.length)) = rnd.nextInt(256).toByte
      IpynbExtractor.items(b) // must not throw
      IpynbExtractor.mediaPayload(b, "att0:plot.png")
      IpynbExtractor.mediaPayload(b, "out0:1")
    }
    val base = NbGen.fileBytes(1)
    for (_ <- 0 until 60) {
      val cut = rnd.nextInt(base.length)
      IpynbExtractor.items(java.util.Arrays.copyOf(base, cut))
    }
  }
}
