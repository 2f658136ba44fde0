package perfbench

import graft.core.{InputDoc, Span => DocSpan}
import graft.gen.{CorpusGen, MixedGen}
import graft.oracle.RefOracle
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{Callable, Executors}
import scala.jdk.CollectionConverters._

/** Per-document fingerprints: the engine's output and the independent
  * reference reduce to the same digest exactly when they agree.
  */
object Fp {
  private def md5(parts: Iterator[String]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    parts.foreach { p =>
      md.update((if (p == null) "\u0000null" else p).getBytes(UTF_8))
      md.update(0x1f.toByte)
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  /** (kind, text, media_ref, order) in order, then (chunk_id, text) by id. */
  def of(spans: Seq[(String, String, String, Int)],
         chunks: Seq[(String, String)]): String =
    md5(spans.sortBy(_._4).iterator.flatMap { case (k, t, m, o) =>
      Iterator(k, t, m, o.toString) } ++ Iterator("#chunks") ++
      chunks.sortBy(_._1).iterator.flatMap { case (c, t) => Iterator(c, t) })

  def ofOracle(d: InputDoc): String = {
    val r = RefOracle.extract(d)
    of(r.outSpans.map(s => (s.kind, s.text, s.media_ref, s.order)),
       r.chunks.map(c => (c.chunk_id, c.text)))
  }

  /** The path-independent media_ref tail the ex_mixed query compares. */
  def tail(ref: String): String =
    if (ref == null) null else ref.substring(ref.lastIndexOf('/') + 1)
}

/** Plain parallel map over a driver-side range (reference computations). */
object Par {
  def map[A](n: Int, threads: Int)(f: Int => A): IndexedSeq[A] = {
    val pool = Executors.newFixedThreadPool(threads)
    try {
      val step = math.max(1, (n + threads * 4 - 1) / (threads * 4))
      val futs = (0 until n by step).map { lo =>
        pool.submit(new Callable[IndexedSeq[A]] {
          def call(): IndexedSeq[A] = (lo until math.min(n, lo + step)).map(f)
        })
      }
      futs.flatMap(_.get())
    } finally pool.shutdownNow()
  }
}

/** Seeded workload inputs. The engine only ever sees what these write. */
object Inputs {

  /** CorpusGen doc `i`, or a monster at the seeded monster positions. */
  final case class Corpus(seed: Long, n: Int, monsters: Set[Int],
                          monsterSpans: Int) {
    def doc(i: Int): InputDoc =
      if (monsters(i)) monster(i) else CorpusGen.doc(seed, i.toLong)

    /** A document well over bigDocBytes: the pdf payloads of
      * `monsterSpans` CorpusGen many-page documents in one input row.
      */
    def monster(i: Int): InputDoc = {
      val spans = (0 until monsterSpans).map { k =>
        val src = CorpusGen.doc(seed ^ (i.toLong << 20), 503L * (k + 1))
        val pdf = src.spans.find(_.kind == "pdf").get
        DocSpan("pdf", pdf.text, null, k)
      }
      InputDoc(f"doc_$i%08d", spans.toVector)
    }
  }

  def corpus(seed: Long, n: Int, nMonsters: Int = 0,
             monsterSpans: Int = 0): Corpus = {
    val r = new scala.util.Random(seed * 7919L + 11)
    val pos = Iterator.continually(r.nextInt(n)).distinct.take(nMonsters).toSet
    Corpus(seed, n, pos, monsterSpans)
  }

  /** Parquet spans table, `parts` files; contiguous index ranges per file,
    * so a document's position in the table follows from its index.
    */
  def writeTable(spark: org.apache.spark.sql.SparkSession, c: Corpus,
                 parts: Int, dir: String): Unit = {
    import spark.implicits._
    spark.range(0, c.n.toLong, 1, parts).map(i => c.doc(i.toInt))
      .write.mode("overwrite").parquet(dir)
  }

  // ---------- raw mixed-format files ----------

  /** Seeded window of MixedGen file indices: every one of the 22 suffix
    * classes appears once per 22 consecutive indices.
    */
  def rawBase(seed: Long): Int = 22 * (math.floorMod(seed, 40L).toInt * 3)

  def writeRaw(dir: String, base: Int, n: Int): Unit =
    (base until base + n).foreach { i =>
      java.nio.file.Files.write(java.nio.file.Paths.get(dir,
        MixedGen.fileName(i)), MixedGen.fileBytes(i)): Unit
    }

  /** Ground truth per doc_id for files [base, base+n): MixedGen's own rows
    * (what the generator wrote), reduced to fingerprints.
    */
  def rawExpected(base: Int, n: Int): Map[String, String] = {
    val names = (base until base + n).map(MixedGen.fileName).toSet
    MixedGen.expected(base + n)
      .filter(r => names(r.doc_id.takeWhile(_ != '#')))
      .groupBy(_.doc_id).map { case (id, rs) =>
        id -> Fp.of(rs.map(r => (r.kind, r.text, r.media_ref, r.ord)), Nil)
      }
  }

  /** Ground-truth row count per file name, for the empty-decode count. */
  def rawRowsPerFile(base: Int, n: Int): Map[String, Int] = {
    val names = (base until base + n).map(MixedGen.fileName).toSet
    MixedGen.expected(base + n).map(_.doc_id.takeWhile(_ != '#'))
      .filter(names).groupBy(identity).map { case (k, v) => k -> v.size }
  }

  /** MixedGen's 22 suffix classes, by file index modulo 22. */
  val RawClasses: IndexedSeq[String] = IndexedSeq("pdf_text", "pdf_image",
    "pdf_form", "html", "txt", "png", "pdf_ccitt", "pdf_jbig2", "docx", "md",
    "epub", "xlsx", "pptx", "rtf", "odf", "eml", "doc", "xls", "ppt", "ipynb",
    "xml", "json")

  def dirBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)
    else f.length

  def fileCount(f: java.io.File, ext: String): Int =
    if (f.isDirectory) Option(f.listFiles).map(_.map(fileCount(_, ext)).sum)
      .getOrElse(0)
    else if (f.getName.endsWith(ext)) 1 else 0

  def deleteRec(f: java.io.File): Unit = {
    if (f.isDirectory && !java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles).foreach(_.foreach(deleteRec))
    f.delete(): Unit
  }

  def asJava[A](xs: Seq[A]): java.util.List[A] = xs.asJava
}
