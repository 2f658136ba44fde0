package graft

import graft.sources.RawFiles
import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.UTF_8

/** The container front ends' error rules, pinned by digest: each case is
  * a whole, truncated or single-byte-mutated payload of a package
  * generator (DOCX, XLSX, PPTX, ODF, EPUB, zip/tar/tar.gz/7z, WARC), raw
  * or wrapped in gz/zst/xz/bz2, and its digest covers the
  * [[RawFiles.decodeAny]] output plus [[RawFiles.mediaPayload]] of every
  * in-file ref of the whole payload, fetched against the damaged copy.
  * So prefix-versus-all-or-nothing, first-occurrence lookups and the
  * codec drains all show in the digest.
  *
  * The committed resource `damaged_packages.tsv` (one `case<TAB>sha256`
  * line per case) was written by [[DamagedPackages.main]]; regenerate it
  * only for a change that is meant to alter ingest output:
  * `sbt "Test/runMain graft.DamagedPackages src/test/resources/damaged_packages.tsv"`.
  */
class DamagedPackageSpec extends AnyFunSuite {

  test("whole, truncated and mutated packages decode to their committed digests") {
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/damaged_packages.tsv"), "UTF-8")
    val want = try src.getLines().map { l =>
      val t = l.indexOf('\t'); l.substring(0, t) -> l.substring(t + 1)
    }.toVector finally src.close()
    val got = DamagedPackages.digests
    assert(got.map(_._1) == want.map(_._1), "case list changed")
    val diff = got.zip(want).collect { case ((id, g), (_, w)) if g != w => id }
    assert(diff.isEmpty, s"${diff.size} of ${got.size} cases differ: " +
      diff.take(10).mkString(", "))
  }
}

/** The cases of [[DamagedPackageSpec]] and their digests. `main(path)`
  * writes them as the spec's resource.
  */
object DamagedPackages {

  /** (file name, whole payload) per generator variant. */
  private def sources: Seq[(String, Array[Byte])] = {
    import graft.gen._
    def of(n: Int, name: Int => String, bytes: Int => Array[Byte]) =
      (0 until n).map(i => name(i) -> bytes(i))
    of(8, DocxGen.fileName, DocxGen.fileBytes) ++
      of(6, XlsxGen.fileName, XlsxGen.fileBytes) ++
      of(6, PptxGen.fileName, PptxGen.fileBytes) ++
      of(10, OdtGen.fileName, OdtGen.fileBytes) ++
      of(6, EpubGen.fileName, EpubGen.fileBytes) ++
      of(8, ArchiveGen.fileName, ArchiveGen.fileBytes) ++
      of(6, WarcGen.fileName, WarcGen.fileBytes)
  }

  private def wrap(algo: String, raw: Array[Byte]): Array[Byte] = {
    import org.apache.commons.compress.compressors._
    val bos = new java.io.ByteArrayOutputStream()
    val out: java.io.OutputStream = algo match {
      case "gz" => new java.util.zip.GZIPOutputStream(bos)
      case "zst" => new zstandard.ZstdCompressorOutputStream(bos)
      case "xz" => new xz.XZCompressorOutputStream(bos)
      case "bz2" => new bzip2.BZip2CompressorOutputStream(bos)
    }
    out.write(raw); out.close(); bos.toByteArray
  }

  /** (case id, file name, payload, in-file refs of the whole payload)
    * for every case, in a fixed order: per payload the whole bytes, then
    * cuts, then single-byte mutations, at offsets from an LCG seeded by
    * the file name.
    */
  def cases: Seq[(String, String, Array[Byte], Seq[String])] =
    sources.flatMap { case (name, raw) =>
      (name, raw, 4) +: Seq("gz", "zst", "xz", "bz2").map(a =>
        (s"$name.$a", wrap(a, raw), 2))
    }.flatMap { case (name, whole, n) =>
      var s = name.hashCode.toLong
      def next(k: Int): Int = {
        s = s * 6364136223846793005L + 1442695040888963407L
        ((s >>> 33) % k).toInt
      }
      val cuts = (0 until n).map { _ =>
        val at = 1 + next(whole.length - 1)
        (s"$name|cut@$at", whole.take(at))
      }
      val muts = (0 until n).map { _ =>
        val at = next(whole.length)
        val b = whole.clone()
        b(at) = (b(at) ^ (1 + next(255))).toByte
        (s"$name|mut@$at=${b(at) & 0xff}", b)
      }
      val refs = RawFiles.decodeAny(name, whole, "").flatMap(_.spans)
        .map(_.media_ref).filter(r => r != null && r.startsWith(name + "#"))
      ((s"$name|whole", whole) +: (cuts ++ muts)).map { case (id, b) =>
        (id, name, b, refs)
      }
    }

  /** SHA-256 of one case: its docs (ids, then each span's kind, text,
    * ref and offset) and the payload each of `refs` (the in-file refs of
    * the whole payload) fetches from this case's bytes.
    */
  def digest(name: String, bytes: Array[Byte], refs: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def put(s: String): Unit = {
      md.update((if (s == null) "\u0001" else s).getBytes(UTF_8))
      md.update(0: Byte)
    }
    RawFiles.decodeAny(name, bytes, "").foreach { d =>
      put("doc"); put(d.doc_id)
      d.spans.foreach { sp =>
        put(sp.kind); put(sp.text); put(sp.media_ref); put(sp.offset.toString)
      }
    }
    refs.foreach { r =>
      put("ref"); put(r)
      RawFiles.mediaPayload(bytes, r) match {
        case Some(b) => put(b.length.toString); md.update(b)
        case None => put("none")
      }
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  def digests: Seq[(String, String)] =
    cases.map { case (id, name, b, refs) => id -> digest(name, b, refs) }

  def main(args: Array[String]): Unit = {
    val lines = digests.map { case (id, h) => s"$id\t$h\n" }
    java.nio.file.Files.write(java.nio.file.Paths.get(args(0)),
      lines.mkString.getBytes(UTF_8))
    println(s"${lines.size} cases -> ${args(0)}")
  }
}
