package graft.extract

import java.io.InputStream
import org.apache.commons.compress.compressors._
import scala.util.control.NonFatal

/** Whole-stream decompression for the crawl-at-rest codecs beyond
  * gzip: zstd (`.zst` — the Dolma/RedPajama shard codec), xz, bzip2
  * (both long-lived archive-dump codecs), LZ4 frame (`.lz4` — the
  * fast-path shard codec), and framed Snappy (`.sz`/`.snappy` — the
  * Hadoop-ecosystem at-rest codec). Backed by the commons-compress +
  * zstd-jni + xz jars already on Spark's runtime classpath — no new
  * dependency. Also home to the one stream [[drain]] and the one
  * [[unzip]] walk that every container front end (gzip, the codecs,
  * zip-packaged formats, plain zips) decodes through, under the one
  * error rule stated on [[Read]].
  *
  * Scale: one compressed file = one scan row, decompressed streamwise
  * inside the ingest task; the shard conventions of web corpora
  * (~100 MB-1 GB per shard) bound per-task memory exactly like WARC
  * segments do.
  */
object Codecs {

  /** zstd frame magic 28 B5 2F FD. */
  def isZstd(bytes: Array[Byte]): Boolean =
    bytes.length >= 4 && (bytes(0) & 0xff) == 0x28 &&
      (bytes(1) & 0xff) == 0xB5 && (bytes(2) & 0xff) == 0x2F &&
      (bytes(3) & 0xff) == 0xFD

  /** xz magic FD '7zXZ' 00. */
  def isXz(bytes: Array[Byte]): Boolean =
    bytes.length >= 6 && (bytes(0) & 0xff) == 0xFD && bytes(1) == '7' &&
      bytes(2) == 'z' && bytes(3) == 'X' && bytes(4) == 'Z' &&
      bytes(5) == 0

  /** bzip2 magic 'BZh' + level digit. */
  def isBz2(bytes: Array[Byte]): Boolean =
    bytes.length >= 4 && bytes(0) == 'B' && bytes(1) == 'Z' &&
      bytes(2) == 'h' && bytes(3) >= '1' && bytes(3) <= '9'

  /** LZ4 frame magic 04 22 4D 18. */
  def isLz4(bytes: Array[Byte]): Boolean =
    bytes.length >= 4 && (bytes(0) & 0xff) == 0x04 &&
      (bytes(1) & 0xff) == 0x22 && (bytes(2) & 0xff) == 0x4D &&
      (bytes(3) & 0xff) == 0x18

  /** Framed-snappy stream identifier FF 06 00 00 'sNaPpY'. */
  def isSnappy(bytes: Array[Byte]): Boolean =
    bytes.length >= 10 && (bytes(0) & 0xff) == 0xFF &&
      bytes(1) == 6 && bytes(2) == 0 && bytes(3) == 0 &&
      bytes(4) == 's' && bytes(5) == 'N' && bytes(6) == 'a' &&
      bytes(7) == 'P' && bytes(8) == 'p' && bytes(9) == 'Y'

  /** What one [[unzip]] walk or [[drain]] read, and whether an error
    * ended it. Both follow ONE rule, the one every container front end
    * inherits: read until the end of the stream or the first error, keep
    * what was read, and say which of the two happened. A front end that
    * wants all or nothing checks `failed`; the others keep the prefix.
    */
  final case class Read[A](value: A, failed: Boolean)

  /** The stream drain: the bytes of the stream `open` makes, up to its
    * end, `limit` bytes, or the first error (opening it included). The
    * stream is closed.
    */
  def drain(open: => java.io.InputStream,
            limit: Int = Int.MaxValue): Read[Array[Byte]] = {
    val out = new java.io.ByteArrayOutputStream()
    val failed = try {
      val in = open
      try {
        val buf = new Array[Byte](64 * 1024)
        var k = 1
        while (k > 0 && out.size < limit) {
          k = in.read(buf, 0, math.min(buf.length, limit - out.size))
          if (k > 0) out.write(buf, 0, k)
        }
      } finally in.close()
      false
    } catch { case NonFatal(_) => true }
    Read(out.toByteArray, failed)
  }

  private val Streams: Map[String, InputStream => InputStream] = Map(
    "gz" -> (new java.util.zip.GZIPInputStream(_)),
    "zst" -> (new zstandard.ZstdCompressorInputStream(_)),
    "xz" -> (new xz.XZCompressorInputStream(_, true)),
    "bz2" -> (new bzip2.BZip2CompressorInputStream(_, true)),
    "lz4" -> (new lz4.FramedLZ4CompressorInputStream(_, true)),
    "sz" -> (new snappy.FramedSnappyCompressorInputStream(_)),
    "snappy" -> (new snappy.FramedSnappyCompressorInputStream(_)))

  /** Inflate a stream by algorithm ("gz" | "zst" | "xz" | "bz2" | "lz4"
    * | "sz"/"snappy") through the [[drain]], up to `limit` bytes;
    * concatenated members/frames are read through. Unknown algo → empty.
    */
  def inflate(algo: String, bytes: Array[Byte],
              limit: Int = Int.MaxValue): Array[Byte] =
    Streams.get(algo).fold(Array.emptyByteArray)(s =>
      drain(s(new java.io.ByteArrayInputStream(bytes)), limit).value)

  /** The zip walk: local records in archive order (sequential, no
    * central-directory seek, so a cut archive keeps its head). It reads
    * the entries whose name `keep` accepts, the FIRST occurrence of each
    * name only, and ends at the end of the archive, at the first
    * zip-format error (an entry whose data fails is not kept), or once
    * `need` entries are read.
    */
  def unzip(bytes: Array[Byte], keep: String => Boolean,
            need: Int = Int.MaxValue): Read[Vector[ArchiveExtractor.Entry]] = {
    val out = Vector.newBuilder[ArchiveExtractor.Entry]
    val seen = scala.collection.mutable.Set.empty[String]
    val failed = try {
      val z = new java.util.zip.ZipInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        var e = if (need > 0) z.getNextEntry else null
        while (e != null) {
          if (keep(e.getName) && seen.add(e.getName))
            out += ArchiveExtractor.Entry(e.getName, z.readAllBytes())
          e = if (seen.size < need) z.getNextEntry else null
        }
      } finally z.close()
      false
    } catch { case NonFatal(_) => true }
    Read(out.result(), failed)
  }

  /** The first occurrence of each of `names`, from one [[unzip]] walk
    * that stops once all are read: a name is present iff the walk read
    * it before any error.
    */
  def zipParts(bytes: Array[Byte], names: String*): Map[String, Array[Byte]] = {
    val want = names.toSet
    unzip(bytes, want, want.size).value.iterator.map(e => e.name -> e.body).toMap
  }

  def zipPart(bytes: Array[Byte], name: String): Option[Array[Byte]] =
    zipParts(bytes, name).get(name)
}
