package graft.extract

import scala.collection.mutable.ArrayBuffer

/** Archive front end: `.zip`, `.tar`, `.tar.gz`/`.tgz`, `.7z`
  * containers are "directories of documents in one file" — the
  * batch-dump shape web corpora actually arrive in (site exports,
  * dataset tarballs, bulk scrape deliveries). Each member file becomes
  * its own InputDoc, routed by ITS OWN extension through the engine's
  * per-format front ends, exactly like [[WarcExtractor]] fans crawl
  * records out.
  *
  * [north-rule extension] — the reference ingests a directory of PDFs
  * (/root/reference/setup.sql:44-45); an archive of PDFs is the same
  * directory with one less filesystem level. Decode happens AT THE
  * INGEST BOUNDARY, so [[graft.core.ExtractionSpec]] and both its
  * implementations stay untouched.
  *
  * == Exact member semantics (shared with the test-side twin) ==
  *
  *  - ZIP: the one zip walk, [[Codecs.unzip]], keeping the prefix
  *    under its error rule ([[Codecs.Read]]) — a truncated tail keeps
  *    the members already read. Directory entries skip ([[isFile]]);
  *    on duplicate names the FIRST occurrence wins. A zip that an
  *    OOXML/EPUB/ODF detector claims is NOT an archive — those formats
  *    are zips too and their front ends own them ([[isPlainZip]]).
  *  - TAR (POSIX ustar and pre-POSIX v7): 512-byte headers — NUL-
  *    terminated name at +0 (prefixed by the ustar `prefix` field at
  *    +345 when present), octal size at +124 (leading spaces/NULs
  *    tolerated), typeflag at +156 (regular = '0' or NUL; everything
  *    else — dirs, links, pax/gnu extension records — skips, its data
  *    blocks consumed). Data pads to the 512 boundary; two zero blocks
  *    (or running off the end) terminate. A malformed header ends the
  *    walk with the members already read.
  *  - `.tar.gz` / `.tgz`: gunzip (all members, through the one
  *    [[Codecs.drain]], so a corrupt tail keeps what inflated) then the
  *    tar walk.
  *  - 7z (`'7z'` BC AF 27 1C magic): LZMA/LZMA2 solid archives via the
  *    commons-compress `SevenZFile` already on Spark's classpath (the
  *    one container here whose compression spec — LZMA range coding —
  *    is out of scope for a from-scratch reader; the MEMBER semantics
  *    match the zip/tar walks: dirs skip, dup names first-wins, a
  *    corrupt tail keeps the members already inflated, encrypted
  *    archives yield nothing). Deterministic member ORDER is the
  *    archive's own entry order, like zip's local-record order.
  *
  * Nested archives do NOT recurse (an entry named `inner.zip` /
  * `inner.tar` / `inner.warc` is dropped by the ingest router): one
  * level of fan-out keeps per-task memory bounded and ids flat.
  *
  * Scale: one archive = one `binaryFile` row decoded streamwise inside
  * the scan task — same contract as WARC segments; dump conventions
  * keep archives in the 100 MB–1 GB band, far below executor memory,
  * and a 100 TB delivery is ~100k+ splits of natural parallelism.
  */
object ArchiveExtractor {

  final case class Entry(name: String, body: Array[Byte])

  def isZip(bytes: Array[Byte]): Boolean =
    bytes.length >= 4 && bytes(0) == 'P' && bytes(1) == 'K' &&
      bytes(2) == 3 && bytes(3) == 4

  /** Zip magic AND not claimed by an OOXML/EPUB/ODF front end — those
    * are zips whose decode belongs to their own extractor.
    */
  def isPlainZip(bytes: Array[Byte]): Boolean = zipKind(bytes) == "zip"

  /** The front end a payload with zip magic belongs to — "docx", "epub",
    * "xlsx", "pptx" or "odt", in that precedence, when the format's
    * marker entry is present (the `isDocx` … `isOdt` tests), else "zip";
    * "" without zip magic. One walk reads every marker entry.
    */
  def zipKind(bytes: Array[Byte]): String =
    if (!isZip(bytes)) ""
    else {
      val found = Codecs.zipParts(bytes, ZipMarkers.map(_._2): _*)
      ZipMarkers.collectFirst {
        case (k, m, ok) if found.get(m).exists(ok) => k
      }.getOrElse("zip")
    }

  /** Zip-packaged formats: marker entry and the test its bytes must pass,
    * in classification order.
    */
  private val ZipMarkers: Seq[(String, String, Array[Byte] => Boolean)] = Seq(
    ("docx", DocxExtractor.DocPath, _ => true),
    ("epub", EpubExtractor.ContainerPath, _ => true),
    ("xlsx", XlsxExtractor.WorkbookPath, _ => true),
    ("pptx", PptxExtractor.PresPath, _ => true),
    ("odt", OdtExtractor.MimePath, OdtExtractor.isOdfMime))

  /** `ustar` magic at +257 (POSIX), or a v7-style header: printable
    * NUL-terminated name + valid octal size + plausible checksum field.
    * The checksum verification keeps arbitrary text from misreading as
    * tar (tar has no leading magic, so SOME structural check must
    * gate the reroute).
    */
  def isTar(bytes: Array[Byte]): Boolean =
    if (bytes.length < 512) false
    else if (bytes(257) == 'u' && bytes(258) == 's' &&
             bytes(259) == 't' && bytes(260) == 'a' &&
             bytes(261) == 'r') true
    else checksumOk(bytes, 0)

  /** 7z signature: `'7' 'z' BC AF 27 1C` at byte 0. */
  def isSevenZ(bytes: Array[Byte]): Boolean =
    bytes.length >= 6 && bytes(0) == '7' && bytes(1) == 'z' &&
      (bytes(2) & 0xff) == 0xbc && (bytes(3) & 0xff) == 0xaf &&
      (bytes(4) & 0xff) == 0x27 && (bytes(5) & 0xff) == 0x1c

  def isTarGz(bytes: Array[Byte]): Boolean =
    bytes.length >= 2 && (bytes(0) & 0xff) == 0x1f &&
      (bytes(1) & 0xff) == 0x8b && isTar(Codecs.inflate("gz", bytes, 512))

  /** Header checksum: sum of all 512 header bytes with the checksum
    * field [148,156) read as spaces equals the octal value stored
    * there. Every tar writer maintains this invariant.
    */
  private def checksumOk(b: Array[Byte], off: Int): Boolean = {
    if (off + 512 > b.length) return false
    val stored = octal(b, off + 148, 8)
    if (stored < 0) return false
    var sum = 0L
    var i = 0
    while (i < 512) {
      sum += (if (i >= 148 && i < 156) ' '.toInt else b(off + i) & 0xff)
      i += 1
    }
    sum == stored && sum != 8 * ' ' // all-NUL block is not a header
  }

  /** Octal field parse: leading spaces/NULs skip, digits accumulate,
    * first non-digit ends. Empty → -1 (invalid).
    */
  private def octal(b: Array[Byte], off: Int, len: Int): Long = {
    var i = off
    val end = off + len
    while (i < end && (b(i) == ' ' || b(i) == 0)) i += 1
    var v = -1L
    while (i < end && b(i) >= '0' && b(i) <= '7') {
      v = math.max(v, 0) * 8 + (b(i) - '0')
      i += 1
    }
    v
  }

  private def str(b: Array[Byte], off: Int, len: Int): String = {
    var end = off
    val max = math.min(off + len, b.length)
    while (end < max && b(end) != 0) end += 1
    new String(b, off, end - off,
      java.nio.charset.StandardCharsets.ISO_8859_1)
  }

  /** A zip entry name that is not a directory: a plain zip's members. */
  def isFile(name: String): Boolean = !name.endsWith("/")

  def tarEntries(bytes: Array[Byte]): Vector[Entry] = {
    val out = ArrayBuffer.empty[Entry]
    val seen = scala.collection.mutable.Set.empty[String]
    var pos = 0
    var ok = true
    while (ok && pos + 512 <= bytes.length) {
      if (bytes(pos) == 0) ok = false // zero block terminates
      else if (!checksumOk(bytes, pos)) ok = false
      else {
        val size = octal(bytes, pos + 124, 12)
        if (size < 0) ok = false
        else {
          val name0 = str(bytes, pos, 100)
          val prefix = if (bytes(pos + 257) == 'u') str(bytes, pos + 345, 155)
                       else ""
          val name = if (prefix.isEmpty) name0 else s"$prefix/$name0"
          val flag = bytes(pos + 156)
          val dataEnd = pos + 512 + size
          if (dataEnd > bytes.length) ok = false
          else {
            if ((flag == '0' || flag == 0) && name.nonEmpty &&
                seen.add(name))
              out += Entry(name, java.util.Arrays.copyOfRange(
                bytes, pos + 512, dataEnd.toInt))
            pos = (pos + 512 + ((size + 511) / 512 * 512)).toInt
          }
        }
      }
    }
    out.toVector
  }

  /** Member files of any supported archive payload, archive order;
    * not an archive → empty.
    */
  def entries(bytes: Array[Byte]): Vector[Entry] =
    if (isPlainZip(bytes)) Codecs.unzip(bytes, isFile).value
    else if (isTarGz(bytes)) tarEntries(Codecs.inflate("gz", bytes))
    else if (isTar(bytes)) tarEntries(bytes)
    else if (isSevenZ(bytes)) sevenZEntries(bytes)
    else Vector.empty

  /** 7z member walk (commons-compress). Each entry is read through
    * [[Codecs.drain]]: the first entry whose read fails (corruption, or
    * a password-protected entry) ends the walk and is dropped; the
    * members already inflated are kept. Dirs skip; dup names
    * first-wins — the zip rule.
    */
  def sevenZEntries(bytes: Array[Byte]): Vector[Entry] = {
    val out = ArrayBuffer.empty[Entry]
    val seen = scala.collection.mutable.Set.empty[String]
    try {
      val f = org.apache.commons.compress.archivers.sevenz.SevenZFile
        .builder()
        .setSeekableByteChannel(
          new org.apache.commons.compress.utils.SeekableInMemoryByteChannel(
            bytes))
        .get()
      try {
        var e = f.getNextEntry
        var ok = true
        while (ok && e != null) {
          if (!e.isDirectory && seen.add(e.getName)) {
            // drain the CURRENT entry's stream (solid archives decode
            // sequentially; a failure poisons everything after it, and
            // the entry it hit is dropped whole)
            val body = Codecs.drain(new java.io.InputStream {
              def read(): Int = f.read()
              override def read(b: Array[Byte], o: Int, n: Int): Int =
                f.read(b, o, n)
            })
            if (body.failed) ok = false
            else out += Entry(e.getName, body.value)
          }
          if (ok) e = try f.getNextEntry catch {
            case _: Exception => null
          }
        }
      } finally f.close()
    } catch { case _: Exception => () }
    out.toVector
  }
}
