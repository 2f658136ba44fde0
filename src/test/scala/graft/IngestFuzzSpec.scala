package graft

import graft.sources.RawFiles
import org.scalatest.funsuite.AnyFunSuite

/** Unified ingest-ROUTING fuzz: every suffix the classifier knows,
  * driven through [[RawFiles.decodeAny]] (the one definition batch and
  * streaming share) with hostile payloads. The per-extractor suites
  * each storm their own parser; this suite storms the DISPATCH layer —
  * suffix routing, content-magic reroutes, compression inner-extension
  * resolution, container fan-out — where a payload of format A under
  * the suffix of format B must degrade (possibly to zero docs), never
  * throw, hang, or mojibake into the wrong decoder.
  *
  * Three payload classes per suffix, all deterministic (LCG seeds):
  *  1. pure random bytes (incl. empty and 1-byte);
  *  2. CROSS-MAGIC: a genuine payload of a *different* format under
  *     this suffix (zip-under-.txt, pdf-under-.xls, eml-under-.md …);
  *  3. TRUNCATIONS and single-byte mutations of a genuine payload of
  *     a matching generator where one exists.
  */
class IngestFuzzSpec extends AnyFunSuite {

  private val suffixes = Seq(
    "pdf", "html", "htm", "txt", "md", "docx", "epub", "xlsx", "pptx",
    "rtf", "odt", "ods", "odp", "tex", "eml", "mbox", "doc", "xls",
    "ppt", "ipynb", "xml", "rss", "atom", "srt", "vtt", "csv", "tsv",
    "json", "jsonl", "ndjson", "warc", "zip", "tar", "tgz", "7z",
    "gz", "zst", "xz", "bz2", "lz4", "sz",
    "png", "jpg", "mp3", "mp4", "bin" /* unknown suffix */)

  // genuine payloads from the generators (format varies with index)
  private def genuine(k: Int): Array[Byte] = (k % 6) match {
    case 0 => graft.gen.MixedGen.fileBytes(k % 44)        // 22 variants
    case 1 => graft.gen.JsonlGen.fileBytes(k % 20)        // 10 variants
    case 2 => graft.gen.ArchiveGen.fileBytes(k % 8)       // zip/tar/gz/7z
    case 3 => graft.gen.WarcGen.fileBytes(k % 6)
    case 4 => graft.gen.DocxGen.fileBytes(k % 8)
    case _ => graft.gen.EmlGen.fileBytes(k % 12)
  }

  test("decodeAny never throws: random bytes under every suffix") {
    var seed = 424242
    def next(n: Int): Int = {
      seed = seed * 1103515245 + 12347; math.abs(seed) % n
    }
    suffixes.foreach { sfx =>
      Seq(0, 1, 7, 64, 700).foreach { len =>
        val b = Array.tabulate[Byte](len)(_ => next(256).toByte)
        RawFiles.decodeAny(s"fuzz.$sfx", b, "")
        // double suffix through the compression router too
        RawFiles.decodeAny(s"fuzz.$sfx.gz", b, "")
      }
    }
  }

  test("decodeAny never throws: cross-magic payloads under every suffix") {
    suffixes.zipWithIndex.foreach { case (sfx, i) =>
      (0 until 4).foreach { k =>
        RawFiles.decodeAny(s"cross_$k.$sfx", genuine(i + k * 11), "")
      }
    }
  }

  test("decodeAny never throws: truncations and mutations of genuine payloads") {
    var seed = 31337
    def next(n: Int): Int = {
      seed = seed * 1103515245 + 12347; math.abs(seed) % n
    }
    (0 until 48).foreach { k =>
      val whole = genuine(k)
      val name = s"t_$k." + suffixes(k % suffixes.length)
      // the genuine payload's in-file media refs, fetched against every
      // damaged copy: Some or None, never a throw
      val refs = RawFiles.decodeAny(name, whole, "").flatMap(_.spans)
        .map(_.media_ref).filter(r => r != null && r.startsWith(name + "#"))
      def storm(b: Array[Byte]): Unit = {
        RawFiles.decodeAny(name, b, "")
        refs.foreach(r => assert(RawFiles.mediaPayload(b, r).forall(_ != null)))
      }
      // truncations at hostile offsets
      Seq(1, 2, 4, whole.length / 3, whole.length / 2,
          math.max(1, whole.length - 3)).foreach { cut =>
        storm(whole.take(math.min(cut, whole.length)))
      }
      // mutation storm
      (0 until 6).foreach { _ =>
        val b = whole.clone()
        (0 until 1 + next(24)).foreach(_ => b(next(b.length)) = next(256).toByte)
        storm(b)
      }
    }
  }
}
