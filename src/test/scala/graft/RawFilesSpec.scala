package graft

import graft.core.{InputDoc, Span}
import graft.extract.Extractor
import graft.gen.CorpusGen
import graft.oracle.RefOracle
import graft.sources.RawFiles
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

class RawFilesSpec extends AnyFunSuite with BeforeAndAfterAll with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("raw directory scan: suffix->kind classification, relative doc_id, media by reference") {
    spark.sparkContext.setLogLevel("WARN")
    val dir = tempDir("graft-raw")
    Files.createDirectories(dir.resolve("sub"))
    // a real content-stream payload from the corpus generator
    val pdfPayload = CorpusGen.doc(42L, 1L).spans.head.text
    Files.writeString(dir.resolve("a.pdf"), pdfPayload)
    Files.writeString(dir.resolve("sub/b.html"),
      "<p>long enough html body paragraph for the extractor</p>")
    Files.writeString(dir.resolve("c.txt"), "plain text body")
    Files.write(dir.resolve("d.png"), Array[Byte](1, 2, 3))
    Files.writeString(dir.resolve("skipme.exe"), "nope")

    val docs = RawFiles.read(spark, dir.toString).collect()
      .map(d => d.doc_id -> d).toMap
    assert(docs.keySet == Set("a.pdf", "sub/b.html", "c.txt", "d.png"))
    assert(docs("a.pdf").spans.head.kind == "pdf")
    assert(docs("a.pdf").spans.head.text == pdfPayload)
    assert(docs("sub/b.html").spans.head.kind == "html")
    assert(docs("c.txt").spans ==
      Vector(Span("text", "plain text body", null, 0)))
    assert(docs("d.png").spans.head.kind == "image")
    assert(docs("d.png").spans.head.text == null)
    assert(docs("d.png").spans.head.media_ref.endsWith("/d.png"))

    // widened media vocabulary: one by-reference span per suffix family
    for ((n, k) <- Seq("e.webp" -> "image", "f.tiff" -> "image",
        "g.svg" -> "image", "h.ogg" -> "audio", "i.opus" -> "audio",
        "j.mov" -> "video", "k.avi" -> "video")) {
      val one = RawFiles.decodeAny(n, Array[Byte](9, 9), "")
      assert(one.map(_.spans.map(s => (s.kind, s.text))) ==
        Seq(Vector((k, null))), n)
    }

    // the ingested pdf doc extracts identically to the same payload fed
    // directly — source adapter is transparent to the engine
    val got = Extractor.extract(docs("a.pdf"))
    val want = RefOracle.extract(
      InputDoc("a.pdf", Vector(Span("pdf", pdfPayload, null, 0))))
    assert(got.outSpans.map(o => (o.kind, o.text, o.order)) ==
           want.outSpans.map(o => (o.kind, o.text, o.order)))
  }

  test("a directory of GENUINE .pdf files produces positioned spans end-to-end") {
    spark.sparkContext.setLogLevel("WARN")
    val dir = tempDir("graft-realpdf")
    val fixture = Files.readAllBytes(Paths.get(
      getClass.getResource("/fixture_real.pdf").toURI))
    Files.write(dir.resolve("real.pdf"), fixture)

    val docs = RawFiles.read(spark, dir.toString).collect()
    assert(docs.length == 1 && docs.head.doc_id == "real.pdf")
    val extracted = Extractor.extract(docs.head)
    val texts = extracted.outSpans.map(_.text)
    assert(texts.exists(_.contains("Hello, world!")),
      s"expected fixture text in: $texts")
    assert(texts.exists(_.contains("Second page line one")))
    // positions survive: spans carry real page geometry from the PDF
    val chunks = extracted.chunks
    assert(chunks.exists(c => c.page == 2 && c.page_width == 300.0 &&
      c.page_height == 400.0),
      s"expected page-2 geometry in: ${chunks.map(c =>
        (c.page, c.page_width, c.page_height))}")
  }

  test("genuine PDF with embedded images yields interleaved text+media spans") {
    spark.sparkContext.setLogLevel("WARN")
    val dir = tempDir("graft-mixpdf")
    graft.gen.MixedGen.write(dir.toString, 3) // 0: text pdf, 1: image pdf,
                                              // 2: form pdf
    val docs = RawFiles.read(spark, dir.toString).collect()
      .map(d => d.doc_id -> d).toMap
    val img = docs("doc_0001.pdf").spans.sortBy(_.offset)
    assert(img.map(_.kind) == Vector("pdf", "image", "image", "image"))
    assert(img(1).media_ref.endsWith("doc_0001.pdf#img0:obj5"))
    assert(img(2).media_ref.endsWith("doc_0001.pdf#img1:obj6"))
    assert(img(3).media_ref.endsWith("doc_0001.pdf#img2:inline"))
    assert(img(1).text == null && img(1).offset == 1 && img(2).offset == 2)
    // the extraction output carries the media refs through, after text
    val rows = Extractor.extractRows(docs("doc_0001.pdf"))
    assert(rows.map(_.kind) == Vector("pdf", "image", "image", "image"))
    assert(rows.map(_.order) == Vector(0, 1, 2, 3))
    // the form variant's image (painted inside the form XObject) too
    val form = docs("doc_0002.pdf").spans.sortBy(_.offset)
    assert(form.map(_.kind) == Vector("pdf", "image"))
    assert(form(1).media_ref.endsWith("doc_0002.pdf#img0:obj6"))
    // a text-only genuine PDF is unchanged: exactly one span
    assert(docs("doc_0000.pdf").spans.map(_.kind) == Vector("pdf"))
    // the byte-fetch half of media-by-reference: the ref resolves back
    // to a CODEC-READY payload — the raw 24x16 /DeviceGray samples
    // wrapped as a PNG a standard codec reads directly
    val pdfBytes = Files.readAllBytes(dir.resolve("doc_0001.pdf"))
    val payload = RawFiles.mediaPayload(pdfBytes, img(1).media_ref)
    val png = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(payload.get))
    assert(png.getWidth == 24 && png.getHeight == 16)
    // generator gradient: imgSamples(1, 0)(k) = (k*7 + 1) % 256
    assert(png.getRaster.getSample(0, 0, 0) == 1)
    assert(png.getRaster.getSample(1, 0, 0) == 8)
    assert(png.getRaster.getSample(0, 1, 0) == (24 * 7 + 1) % 256)
    // inline refs are dims-only metadata: no recoverable object stream
    assert(RawFiles.mediaPayload(pdfBytes,
      "x.pdf#img2:inline").isEmpty)
    assert(RawFiles.mediaPayload(pdfBytes, "no-fragment.pdf").isEmpty)
  }

  test("genuine DOCX decodes to interleaved text+media spans at the ingest boundary") {
    spark.sparkContext.setLogLevel("WARN")
    val dir = tempDir("graft-docx")
    // MixedGen variant 8 (i=8): known paragraphs + one embedded image
    Files.write(dir.resolve("memo_0008.docx"), graft.gen.MixedGen.fileBytes(8))
    // a .docx that is NOT a zip falls back to a verbatim "text" span —
    // "docx" is an ingest classification, never a span kind
    Files.writeString(dir.resolve("fake.docx"), "just plain bytes")
    val docs = RawFiles.read(spark, dir.toString).collect()
      .map(d => d.doc_id -> d).toMap
    val memo = docs("memo_0008.docx").spans.sortBy(_.offset)
    // generator ground truth: para 0, image (inside para 1 → precedes
    // it), remaining paras — shape from MixedGen.expected, not a parser
    val gt = graft.gen.MixedGen.expected(9)
      .filter(_.doc_id == "memo_0008.docx")
    val wantKinds = gt.map(_.kind).toVector
    assert(wantKinds.take(3) == Vector("text", "image", "text"))
    assert(memo.map(_.kind) == wantKinds)
    assert(memo.map(s => Option(s.text)) == gt.map(r => Option(r.text)))
    assert(memo.head.text ==
      "Docx memo 8 overview paragraph for the mixed corpus.")
    assert(memo(1).media_ref.endsWith("memo_0008.docx#media/image1.png"))
    // second-to-last: the entity/tab paragraph; last: the w:tbl grid
    // as ONE TSV span (table vocabulary)
    assert(memo(memo.length - 2).text.contains("café") &&
      memo(memo.length - 2).text.contains("\t"))
    assert(memo.last.text == "metric\tvalue\nmemo 8 rows\t3")
    assert(memo.map(_.offset) == memo.indices.toVector)
    assert(docs("fake.docx").spans ==
      Vector(Span("text", "just plain bytes", null, 0)))
    // extraction passes the interleaved sequence through unchanged
    val rows = Extractor.extractRows(docs("memo_0008.docx"))
    assert(rows.map(_.kind) == wantKinds)
    assert(rows.map(_.order) == memo.indices.toVector)
    // …and RefOracle agrees (the dual-impl invariant covers docx docs)
    val oracleRows = RefOracle.extract(docs("memo_0008.docx"))
    assert(rows.map(r => (r.kind, r.text, r.media_ref, r.order)) ==
      oracleRows.outSpans.map(o => (o.kind, o.text, o.media_ref, o.order)))
    // byte-fetch half: the media ref resolves back to the stored part
    val bytes = Files.readAllBytes(dir.resolve("memo_0008.docx"))
    val payload = RawFiles.mediaPayload(bytes, memo(1).media_ref)
    assert(payload.exists(_.nonEmpty))
  }

  test("markdown decodes to text blocks + referenced media at the ingest boundary") {
    spark.sparkContext.setLogLevel("WARN")
    val dir = tempDir("graft-md")
    // MixedGen variant 9 (i=9): heading/para/figure/list/code/quote
    Files.write(dir.resolve("post_0009.md"), graft.gen.MixedGen.fileBytes(9))
    val docs = RawFiles.read(spark, dir.toString).collect()
      .map(d => d.doc_id -> d).toMap
    val post = docs("post_0009.md").spans.sortBy(_.offset)
    // shape from MixedGen.expected (generator ground truth, not a parser)
    val gt = graft.gen.MixedGen.expected(10)
      .filter(_.doc_id == "post_0009.md")
    assert(post.map(_.kind) == gt.map(_.kind).toVector)
    assert(post.map(s => Option(s.text)) == gt.map(r => Option(r.text)))
    // the image reference passes through VERBATIM — an external URL,
    // not an archive part (unlike DOCX blips)
    val img = post.find(_.kind == "image").get
    assert(img.media_ref == "fig_9.png")
    assert(post.map(_.offset) == post.indices.toVector)
    // extraction passes the interleaved sequence through unchanged,
    // and RefOracle agrees
    val rows = Extractor.extractRows(docs("post_0009.md"))
    val oracleRows = RefOracle.extract(docs("post_0009.md"))
    assert(rows.map(r => (r.kind, r.text, r.media_ref, r.order)) ==
      oracleRows.outSpans.map(o => (o.kind, o.text, o.media_ref, o.order)))
  }

  test("genuine EPUB decodes to spine-ordered text+media spans at the ingest boundary") {
    spark.sparkContext.setLogLevel("WARN")
    val dir = tempDir("graft-epub")
    Files.write(dir.resolve("book_0001.epub"), graft.gen.EpubGen.fileBytes(1))
    // an .epub that is NOT a zip falls back to a verbatim "text" span
    Files.writeString(dir.resolve("fake.epub"), "just plain bytes")
    // a genuine EPUB behind a lying .txt extension reroutes by magic
    Files.write(dir.resolve("really_a.txt"), graft.gen.EpubGen.fileBytes(2))
    val docs = RawFiles.read(spark, dir.toString).collect()
      .map(d => d.doc_id -> d).toMap
    val book = docs("book_0001.epub").spans.sortBy(_.offset)
    val gt = graft.gen.EpubGen.expected(2)
      .filter(_.doc_id == "book_0001.epub")
    assert(book.map(_.kind) == gt.map(_.kind).toVector)
    assert(book.map(s => Option(s.text)) == gt.map(r => Option(r.text)))
    val img = book.find(_.kind == "image").get
    assert(img.media_ref.endsWith(
      "book_0001.epub#" + graft.gen.EpubGen.imgPath(1)))
    // byte-fetch half: the ref resolves back to the stored entry
    val bytes = Files.readAllBytes(dir.resolve("book_0001.epub"))
    assert(RawFiles.mediaPayload(bytes, img.media_ref)
      .exists(_.length == 5))
    assert(docs("fake.epub").spans ==
      Vector(Span("text", "just plain bytes", null, 0)))
    assert(docs("really_a.txt").spans.count(_.kind == "text") >= 2)
    // RefOracle agrees on the ingested book (dual-impl invariant)
    val rows = Extractor.extractRows(docs("book_0001.epub"))
    val oracleRows = RefOracle.extract(docs("book_0001.epub"))
    assert(rows.map(r => (r.kind, r.text, r.media_ref, r.order)) ==
      oracleRows.outSpans.map(o => (o.kind, o.text, o.media_ref, o.order)))
  }

  test("BOM'd text payloads decode through their charset at ingest") {
    spark.sparkContext.setLogLevel("WARN")
    val dir = tempDir("graft-bom")
    Files.write(dir.resolve("win.txt"),
      ("\uFEFF" + "wide résumé ✓ text").getBytes("UTF-16LE"))
    Files.write(dir.resolve("be.txt"),
      ("\uFEFF" + "be text ✓").getBytes("UTF-16BE"))
    Files.write(dir.resolve("bom.md"),
      ("\uFEFF# Head md\n\npara text here\n").getBytes("UTF-8"))
    // a BOM that is not at byte 0 is content, not an encoding signal
    Files.writeString(dir.resolve("mid.txt"), "mid\uFEFFfile bom stays")
    val docs = RawFiles.read(spark, dir.toString).collect()
      .map(d => d.doc_id -> d).toMap
    assert(docs("win.txt").spans ==
      Vector(Span("text", "wide résumé ✓ text", null, 0)))
    assert(docs("be.txt").spans ==
      Vector(Span("text", "be text ✓", null, 0)))
    assert(docs("bom.md").spans.map(_.text) ==
      Vector("Head md", "para text here"))
    assert(docs("mid.txt").spans.head.text == "mid\uFEFFfile bom stays")
  }

  test("content magic overrides a lying extension within the text-kind family") {
    spark.sparkContext.setLogLevel("WARN")
    val dir = tempDir("graft-sniff")
    // a genuine PDF saved as .txt (crawler artifact) → positioned spans
    Files.write(dir.resolve("really_a.txt"),
      graft.gen.PdfGen.makePdf(7L, 0))
    // a genuine DOCX served as .html (CMS endpoint) → paragraph spans
    Files.write(dir.resolve("download.html"), graft.gen.MixedGen.fileBytes(8))
    // honest text stays text — even mentioning %PDF- mid-file
    Files.writeString(dir.resolve("notes.txt"),
      "the %PDF- magic only counts at byte 0 of the payload")
    val docs = RawFiles.read(spark, dir.toString).collect()
      .map(d => d.doc_id -> d).toMap
    assert(docs("really_a.txt").spans.head.kind == "pdf")
    assert(Extractor.extractRows(docs("really_a.txt"))
      .exists(r => r.text != null && r.text.nonEmpty && r.page.contains(1)))
    val memo = docs("download.html").spans.sortBy(_.offset)
    assert(memo.map(_.kind).take(3) == Vector("text", "image", "text"))
    assert(memo.head.text ==
      "Docx memo 8 overview paragraph for the mixed corpus.")
    assert(docs("notes.txt").spans ==
      Vector(Span("text",
        "the %PDF- magic only counts at byte 0 of the payload", null, 0)))
  }

  test("spans-table JSON + flat-CSV staging roundtrip to the parquet shape") {
    import spark.implicits._
    val docs = CorpusGen.corpus(42L, 30).filter(_.spans.nonEmpty)
    val ds = spark.createDataset(docs)
    val dir = tempDir("graft-fmt").toString

    // JSON lines roundtrip
    ds.write.mode("overwrite").json(s"$dir/json")
    val fromJson = RawFiles.readSpansJson(spark, s"$dir/json").collect()
      .map(d => d.doc_id -> d.spans.sortBy(_.offset)).toMap
    docs.foreach { d =>
      assert(fromJson(d.doc_id) == d.spans.sortBy(_.offset), d.doc_id)
    }

    // flat one-span-per-row staging (CSV-representable shape) roundtrip
    val flat = ds.flatMap(d => d.spans.map(s =>
        (d.doc_id, s.kind, s.text, s.media_ref, s.offset)))
      .toDF("doc_id", "kind", "text", "media_ref", "offset")
    val fromFlat = RawFiles.fromFlatSpans(flat).collect()
      .map(d => d.doc_id -> d.spans.sortBy(_.offset)).toMap
    docs.foreach { d =>
      assert(fromFlat(d.doc_id) == d.spans.sortBy(_.offset), d.doc_id)
    }
  }

  test("macro/template OOXML suffixes route to their front ends") {
    // .docm/.dotx, .xlsm, .pptm/.ppsx share the OOXML package
    // structure; the suffix aliases + the same content magics route
    // them identically to their canonical extensions
    val docx = graft.gen.MixedGen.fileBytes(8)
    val viaDocm = RawFiles.decodeAny("memo.docm", docx, "")
    val viaDocx = RawFiles.decodeAny("memo.docx", docx, "")
    assert(viaDocm.map(_.spans.map(s => (s.kind, s.text))) ==
      viaDocx.map(_.spans.map(s => (s.kind, s.text))))

    val xlsx = graft.gen.XlsxGen.fileBytes(0)
    assert(RawFiles.decodeAny("grid.xlsm", xlsx, "")
      .map(_.spans.map(_.text)) ==
      RawFiles.decodeAny("grid.xlsx", xlsx, "").map(_.spans.map(_.text)))

    val pptx = graft.gen.PptxGen.fileBytes(0)
    assert(RawFiles.decodeAny("deck.ppsx", pptx, "")
      .map(_.spans.map(s => (s.kind, s.text))) ==
      RawFiles.decodeAny("deck.pptx", pptx, "")
        .map(_.spans.map(s => (s.kind, s.text))))
  }

  test("media by reference: every in-file ref of the 22 suffix classes fetches back") {
    import graft.extract._
    import graft.gen.{MixedGen, OdtGen}
    // the item front end that minted a file's media, by suffix
    def frontEnd(name: String, b: Array[Byte]): Option[Vector[Item]] =
      name.substring(name.lastIndexOf('.') + 1) match {
        case "docx" => Some(DocxExtractor.items(b))
        case "md" => Some(MdExtractor.items(new String(b, "UTF-8")))
        case "epub" => Some(EpubExtractor.items(b))
        case "pptx" => Some(PptxExtractor.items(b))
        case "rtf" => Some(RtfExtractor.items(b))
        case "odt" | "ods" | "odp" => Some(OdtExtractor.items(b))
        case "eml" => Some(EmlExtractor.items(b))
        case "doc" => Some(DocExtractor.items(b))
        case "xls" => Some(XlsExtractor.items(b))
        case "ppt" => Some(PptExtractor.items(b))
        case "ipynb" => Some(IpynbExtractor.items(b))
        case _ => None
      }
    val files =
      (0 until 88).map(i => (MixedGen.fileName(i), MixedGen.fileBytes(i))) ++
      (0 until 12).map(i => (OdtGen.fileName(i), OdtGen.fileBytes(i)))
    var inFile = 0
    val fetchedBy = scala.collection.mutable.Map.empty[String, Int]
    files.foreach { case (name, b) =>
      val path = s"store/$name"
      val docs = RawFiles.decodeAny(path, b, "store/")
      val refs = docs.filter(_.doc_id == name).flatMap(_.spans)
        .sortBy(_.offset).map(_.media_ref).filter(_ != null)
      frontEnd(name, b) match {
        // the `<path>#` prefix exactly where the front end said in-file
        case Some(items) => assert(refs == items.collect {
          case Item.Media(_, ref, true) => s"$path#$ref"
          case Item.Media(_, ref, false) => ref
        }, name)
        case None => assert(refs.forall(r =>
          r.startsWith(s"$path#") || (name.endsWith(".png") && r == path)),
          name)
      }
      docs.flatMap(_.spans).map(_.media_ref)
        .filter(r => r != null && r.startsWith(s"$path#")).foreach { ref =>
          inFile += 1
          val got = RawFiles.mediaPayload(b, ref)
          // inline PDF images live in the content stream: None by design
          if (ref.endsWith(":inline")) assert(got.isEmpty, ref)
          else {
            assert(got.exists(_.nonEmpty), ref)
            val sfx = name.substring(name.lastIndexOf('.') + 1)
            fetchedBy(sfx) = fetchedBy.getOrElse(sfx, 0) + 1
          }
        }
    }
    assert(inFile == 45)
    assert(fetchedBy.values.sum == 41)
    assert(fetchedBy.keySet == Set("pdf", "docx", "epub", "pptx", "rtf",
      "odt", "odp", "eml", "doc", "ppt", "ipynb"))
  }

  test("mediaPayload peels the fan-out levels: archive member, compressed file, mbox message") {
    import graft.gen.{MixedGen, NbGen}
    val docx = MixedGen.fileBytes(8) // memo_0008.docx: one embedded image
    val direct = RawFiles.mediaPayload(docx, "memo_0008.docx#media/image1.png")
    assert(direct.exists(_.nonEmpty))
    val zip = MixedGen.zipStored("inner/memo.docx" -> docx,
      "notes/nb.ipynb" -> NbGen.fileBytes(1))
    val gz = {
      val bos = new java.io.ByteArrayOutputStream()
      val z = new java.util.zip.GZIPOutputStream(bos)
      z.write(docx); z.close(); bos.toByteArray
    }
    val mbox = "From a@b Sat Jan  1 00:00:00 2000\n".getBytes("ISO-8859-1") ++
      MixedGen.fileBytes(59) // msg00059_v11.eml: one inline jpeg part
    val want = Map(
      "store/bundle.zip#inner/memo.docx#media/image1.png" -> direct,
      "store/bundle.zip#notes/nb.ipynb#att0:plot.png" ->
        RawFiles.mediaPayload(NbGen.fileBytes(1), "nb.ipynb#att0:plot.png"),
      "store/memo.docx.gz#media/image1.png" -> direct,
      "store/spool.mbox#m0#p1:nested59.jpg" -> RawFiles.mediaPayload(
        MixedGen.fileBytes(59), "msg00059_v11.eml#p1:nested59.jpg"))
    assert(want.values.forall(_.exists(_.nonEmpty)))
    val got = Seq("bundle.zip" -> zip, "memo.docx.gz" -> gz,
        "spool.mbox" -> mbox).flatMap { case (name, b) =>
      RawFiles.decodeAny(s"store/$name", b, "store/").flatMap(_.spans)
        .map(_.media_ref).filter(r => r != null && r.contains("#"))
        .map(r => r -> RawFiles.mediaPayload(b, r))
    }
    assert(got.map(_._1).toSet == want.keySet)
    got.foreach { case (r, p) =>
      assert(p.map(_.toSeq) == want(r).map(_.toSeq), r) }
  }

  test("mediaPayload: an overlong index in a ref names nothing, never throws") {
    import graft.gen.{MixedGen, WarcGen}
    val eml = MixedGen.fileBytes(59)
    val rtf = MixedGen.fileBytes(13)
    val warc = WarcGen.fileBytes(0)
    val w = WarcGen.fileName(0)
    // the well-formed refs resolve…
    assert(RawFiles.mediaPayload(eml, "m.eml#p1:nested59.jpg").isDefined)
    assert(RawFiles.mediaPayload(rtf, "m.rtf#pict_0.png").isDefined)
    assert(RawFiles.mediaPayload(warc, s"$w#r5").isDefined)
    // …and an index past Int range is None, not a NumberFormatException
    assert(RawFiles.mediaPayload(eml, "m.eml#p99999999999:a.png").isEmpty)
    assert(RawFiles.mediaPayload(rtf, "m.rtf#pict_99999999999.png").isEmpty)
    assert(RawFiles.mediaPayload(warc, s"$w#r99999999999").isEmpty)
  }
}
