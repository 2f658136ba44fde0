package graft

import graft.extract.{ArchiveExtractor, Codecs}
import graft.gen.ArchiveGen
import graft.sources.RawFiles
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Archive front end: the zip/tar member walkers (512-byte ustar
  * headers, checksum gate, padding, zero-block termination, dup-name
  * first-wins, OOXML exclusion) plus the ingest fan-out contract —
  * one member file = one InputDoc routed by its own suffix, identical
  * through the batch scan and the streaming decode, nested archives
  * dropped.
  */
class ArchiveSpec extends AnyFunSuite with BeforeAndAfterAll with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def zipOf(ms: Seq[(String, Array[Byte])]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.ZipOutputStream(bos)
    ms.foreach { case (n, b) =>
      z.putNextEntry(new java.util.zip.ZipEntry(n))
      z.write(b); z.closeEntry()
    }
    z.close(); bos.toByteArray
  }

  test("tar walker: ustar members, subdir names, padding, zero-block stop; truncation keeps the prefix") {
    val tar = ArchiveGen.fileBytes(1) // i%4==1 → .tar
    assert(ArchiveExtractor.isTar(tar))
    val names = ArchiveExtractor.tarEntries(tar).map(_.name)
    assert(names == Vector("page_1.html", "docs/report_1.pdf",
      "notes_1.txt", "banner_1.png", "sub/deep_1.txt", "skip_1.exe",
      "inner_1.zip"))
    val bodies = ArchiveExtractor.tarEntries(tar)
    assert(bodies(3).body.toSeq == ArchiveGen.imgPayload(1).toSeq)
    // cut mid-third-member: the first two survive, degrade not throw
    val cut = java.util.Arrays.copyOf(tar, 512 * 9)
    val kept = ArchiveExtractor.tarEntries(cut).map(_.name)
    assert(kept.nonEmpty && kept.size < names.size &&
      kept == names.take(kept.size))
    // plain text of header size is NOT tar (checksum gate)
    assert(!ArchiveExtractor.isTar(("x" * 600).getBytes("UTF-8")))
  }

  test("tar.gz inflates then walks; gzip of non-tar is not an archive") {
    val tgz = ArchiveGen.fileBytes(2) // i%4==2 → .tar.gz
    assert(ArchiveExtractor.isTarGz(tgz))
    assert(ArchiveExtractor.entries(tgz).map(_.name).take(2) ==
      Vector("page_2.html", "docs/report_2.pdf"))
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(("y" * 600).getBytes("UTF-8")); gz.close()
    assert(!ArchiveExtractor.isTarGz(bos.toByteArray))
    assert(ArchiveExtractor.entries(bos.toByteArray).isEmpty)
  }

  test("zip walker: dup-name first occurrence wins; OOXML/EPUB zips are NOT plain archives") {
    // ZipOutputStream refuses dup names; mint one by renaming the
    // second entry in the raw bytes (same length, CRC untouched)
    val two = zipOf(Seq(
      "a.txt" -> "first".getBytes("UTF-8"),
      "b.txt" -> "second".getBytes("UTF-8")))
    val dup = new String(two,
      java.nio.charset.StandardCharsets.ISO_8859_1)
      .replace("b.txt", "a.txt")
      .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    val es = Codecs.unzip(dup, ArchiveExtractor.isFile).value
    assert(es.map(_.name) == Vector("a.txt"))
    assert(new String(es.head.body, "UTF-8") == "first")
    assert(ArchiveExtractor.isPlainZip(dup))
    // a zip claimed by the DOCX detector belongs to the DOCX front end
    val docxish = zipOf(Seq(
      "word/document.xml" -> "<w:document/>".getBytes("UTF-8")))
    assert(!ArchiveExtractor.isPlainZip(docxish))
    assert(ArchiveExtractor.entries(docxish).isEmpty)
  }

  test("7z walker: member order, bodies, dirs/dup/corruption semantics; misnamed 7z routes by magic") {
    val sz = ArchiveGen.fileBytes(3) // i%4==3 → .7z
    assert(ArchiveExtractor.isSevenZ(sz))
    assert(!ArchiveExtractor.isSevenZ("7zip is a program".getBytes("UTF-8")))
    val es = ArchiveExtractor.entries(sz)
    assert(es.map(_.name) == Vector("page_3.html", "docs/report_3.pdf",
      "notes_3.txt", "banner_3.png", "sub/deep_3.txt", "skip_3.exe",
      "inner_3.zip"))
    assert(es(3).body.toSeq == ArchiveGen.imgPayload(3).toSeq)
    assert(new String(es(2).body, "UTF-8").startsWith("Archive note 3"))
    // corruption/truncation degrade, never throw
    assert(ArchiveExtractor.sevenZEntries(
      java.util.Arrays.copyOf(sz, 16)).isEmpty)
    for (cut <- Seq(sz.length / 4, sz.length / 2, sz.length - 3))
      ArchiveExtractor.sevenZEntries(java.util.Arrays.copyOf(sz, cut))
    // a misnamed .txt that is really 7z still fans out (content magic)
    val docs = RawFiles.decodeAny("mislabeled7.txt", sz, "")
    assert(docs.map(_.doc_id).contains("mislabeled7.txt#notes_3.txt"))
    // a nested `.7z` member inside another archive drops
    val outer = zipOf(Seq("inner.7z" -> sz,
      "keep.txt" -> "kept".getBytes("UTF-8")))
    assert(RawFiles.decodeAny("outer.zip", outer, "").map(_.doc_id) ==
      Seq("outer.zip#keep.txt"))
  }

  test("ingest fan-out: one InputDoc per member, batch == streaming decode, nested archives and unknown suffixes drop") {
    spark.sparkContext.setLogLevel("WARN")
    val dir = tempDir("graft-archspec")
    ArchiveGen.write(dir.toString, 6)
    // a misnamed .txt that is really a zip still fans out (content magic)
    Files.write(dir.resolve("mislabeled.txt"), ArchiveGen.fileBytes(0))

    def norm(spans: Seq[graft.core.Span]) = spans.toVector.map(s =>
      if (s.media_ref == null) s
      else s.copy(media_ref = s.media_ref.stripPrefix("file:")))
    val batch = RawFiles.read(spark, dir.toString).collect()
      .map(d => d.doc_id -> norm(d.spans)).toMap
    val paths = (0 until 6).map(i => dir.resolve(ArchiveGen.fileName(i))) :+
      dir.resolve("mislabeled.txt")
    val streamed = paths.flatMap { p =>
      RawFiles.decodeAny(p.toString, Files.readAllBytes(p),
        dir.toString + "/")
    }.map(d => d.doc_id -> norm(d.spans)).toMap
    assert(batch == streamed)

    // archive 0 (zip, has pdf): html + pdf + note + png + deep = 5 docs;
    // skip_0.exe and inner_0.zip never surface
    val f0 = ArchiveGen.fileName(0)
    val k0 = batch.keys.filter(_.startsWith(f0 + "#")).toSet
    assert(k0 == Set(s"$f0#page_0.html", s"$f0#docs/report_0.pdf",
      s"$f0#notes_0.txt", s"$f0#banner_0.png", s"$f0#sub/deep_0.txt"))
    // archive 3 (7z, has pdf): 5 docs; archive 4 (zip, pdf dropped): 4
    val f3 = ArchiveGen.fileName(3)
    assert(f3.endsWith(".7z"))
    assert(batch.keys.count(_.startsWith(f3 + "#")) == 5)
    val f4 = ArchiveGen.fileName(4)
    assert(batch.keys.count(_.startsWith(f4 + "#")) == 4)
    assert(batch.keys.count(_.startsWith("mislabeled.txt#")) == 5)
    assert(!batch.keys.exists(_.contains("hidden_")))

    // pdf member routed through RealPdf; png member is media BY
    // REFERENCE with bytes recoverable from the archive
    assert(batch(s"$f0#docs/report_0.pdf").head.kind == "pdf")
    val img = batch(s"$f0#banner_0.png")
    assert(img.map(s => (s.kind, s.text)) == Vector(("image", null)))
    val fetched = RawFiles.mediaPayload(
      Files.readAllBytes(dir.resolve(f0)), img.head.media_ref)
    assert(fetched.exists(_.sameElements(ArchiveGen.imgPayload(0))))
  }

  test("ex_archive query matches the generator ground truth end-to-end") {
    spark.sparkContext.setLogLevel("WARN")
    val got = SparkEntry.queries("ex_archive")(spark, "unused")
      .collect().map(_.toSeq).toSeq
    val want = SparkEntry.expected("ex_archive")(spark, "unused")
      .orderBy("doc_id", "ord").collect().map(_.toSeq).toSeq
    assert(got.size == want.size, s"${got.size} vs ${want.size}")
    got.zip(want).foreach { case (g, w) => assert(g == w) }
  }
}
