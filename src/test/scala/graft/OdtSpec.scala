package graft

import graft.extract.OdtExtractor
import graft.extract.Item
import graft.extract.Item.{Media, Text}
import graft.gen.OdtGen
import graft.sources.RawFiles
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import javax.xml.parsers.DocumentBuilderFactory
import org.w3c.dom.{Element, Node}
import scala.collection.mutable.ArrayBuffer

/** ODT front end: pull-parse vs an independent DOM twin (javax.xml,
  * non-namespace-aware, recursive walk — a second implementation of
  * the scaladoc'd semantics), generator ground truth end-to-end, and
  * the usual corruption storm.
  */
class OdtSpec extends AnyFunSuite with BeforeAndAfterAll with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  // ---------- DOM twin ----------

  private def domItems(odt: Array[Byte]): Vector[Item] = {
    val xmlBytes = {
      val z = new java.util.zip.ZipInputStream(
        new java.io.ByteArrayInputStream(odt))
      Iterator.continually(z.getNextEntry).takeWhile(_ != null)
        .collectFirst { case e if e.getName == "content.xml" =>
          z.readAllBytes() }
        .getOrElse(return Vector.empty)
    }
    val dbf = DocumentBuilderFactory.newInstance()
    dbf.setNamespaceAware(false)
    val doc = dbf.newDocumentBuilder()
      .parse(new java.io.ByteArrayInputStream(xmlBytes))
    val out = ArrayBuffer.empty[Item]

    def children(n: Node): Vector[Node] = {
      val l = n.getChildNodes
      (0 until l.getLength).map(l.item).toVector
    }
    def byName(n: Node, name: String): Vector[Element] =
      children(n).collect { case e: Element if e.getNodeName == name => e }

    def emitImage(e: Element): Unit = {
      val href = e.getAttribute("xlink:href")
      if (href != null && href.nonEmpty) {
        val ref = if (href.startsWith("./")) href.substring(2) else href
        val kind = ref.toLowerCase.replaceAll("\\?.*$", "") match {
          case r if r.endsWith(".mp3") || r.endsWith(".wav") ||
                    r.endsWith(".flac") => "audio"
          case r if r.endsWith(".mp4") || r.endsWith(".mkv") ||
                    r.endsWith(".webm") => "video"
          case _ => "image"
        }
        out += Media(kind, ref, !ref.matches("(?i)^(https?|data):.*")): Unit
      }
    }

    /** Paragraph-interior text in doc order; media emitted to `out` at
      * tag position; text:note skipped.
      */
    def paraText(n: Node, sb: StringBuilder): Unit = children(n).foreach {
      case t if t.getNodeType == Node.TEXT_NODE ||
                t.getNodeType == Node.CDATA_SECTION_NODE =>
        sb.append(t.getNodeValue): Unit
      case e: Element => e.getNodeName match {
        case "text:note" => ()
        case "text:s" =>
          val c = Option(e.getAttribute("text:c")).filter(_.nonEmpty)
            .flatMap(_.toIntOption).getOrElse(1)
          sb.append(" " * math.max(c, 1)): Unit
        case "text:tab" => sb.append('\t'): Unit
        case "text:line-break" => sb.append('\n'): Unit
        case "draw:image" =>
          emitImage(e)
          paraText(e, sb)
        case _ => paraText(e, sb)
      }
      case _ => ()
    }

    def cellText(cell: Element, sb: StringBuilder): Unit =
      children(cell).foreach {
        case e: Element if e.getNodeName == "text:p" ||
                           e.getNodeName == "text:h" =>
          paraText(e, sb)
          if (sb.nonEmpty && !sb.charAt(sb.length - 1).isWhitespace)
            sb.append(' '): Unit
        case e: Element if e.getNodeName == "table:table" =>
          // nested table flattens into the host cell
          byName(e, "table:table-row").foreach(r =>
            byName(r, "table:table-cell").foreach(c => cellText(c, sb)))
        case e: Element => cellText(e, sb)
        case _ => ()
      }

    def walkBody(n: Node): Unit = children(n).foreach {
      case e: Element => e.getNodeName match {
        case "text:p" | "text:h" =>
          val sb = new StringBuilder
          paraText(e, sb)
          if (sb.exists(!_.isWhitespace)) out += Text(sb.toString): Unit
        case "draw:image" =>
          // media outside any paragraph (ODP slide frames)
          emitImage(e)
        case "table:table" =>
          val rows = byName(e, "table:table-row").map { r =>
            byName(r, "table:table-cell").flatMap { c =>
              val rep = Option(c.getAttribute(
                "table:number-columns-repeated")).filter(_.nonEmpty)
                .flatMap(_.toIntOption).getOrElse(1)
              val sb = new StringBuilder
              cellText(c, sb)
              val norm = sb.toString.trim.replaceAll("\\s+", " ")
              Vector.fill(math.max(rep, 1))(norm)
            }
          }.filter(_.nonEmpty)
          if (rows.nonEmpty) {
            val w = rows.map(_.length).max
            val tsv = rows.map(_.padTo(w, "").mkString("\t"))
              .mkString("\n")
            if (tsv.exists(!_.isWhitespace)) out += Text(tsv): Unit
          }
        case _ => walkBody(e)
      }
      case _ => ()
    }
    walkBody(doc.getDocumentElement)
    out.toVector
  }

  // ---------- tests ----------

  test("pull parse == DOM twin on every generator fixture") {
    (0 until 32).foreach { i =>
      val bytes = OdtGen.fileBytes(i)
      assert(OdtExtractor.items(bytes) == domItems(bytes),
        s"variant $i (${OdtGen.fileName(i)})")
    }
  }

  test("pins: entity decode, space runs, note drop, repeat expansion, ragged pad") {
    val v1 = OdtExtractor.items(OdtGen.fileBytes(1))
    assert(v1 == Vector(
      Text("gap   wide\tno, a real\ttab & then\na break <kept> 1")))
    val v4 = OdtExtractor.items(OdtGen.fileBytes(4))
    assert(v4 == Vector(Text("Main claim 4 stands with its evidence inline.")))
    val v5 = OdtExtractor.items(OdtGen.fileBytes(5))
    assert(v5 == Vector(Text("k5\t\t\tend\nshort 5\t\t\t")))
    val v7 = OdtExtractor.items(OdtGen.fileBytes(7))
    assert(v7 == Vector(Text("first para second para 7\tsingle")))
  }

  test("media: in-archive payload byte-fetch; external href verbatim; magic routing") {
    val b3 = OdtGen.fileBytes(3)
    val media = OdtExtractor.items(b3).collect { case Media(k, r, _) => (k, r) }
    assert(media == Vector(("image", "Pictures/img.png")))
    val payload = OdtExtractor.mediaPayload(b3, "Pictures/img.png")
    assert(payload.exists(_.length == 12))
    val b6 = OdtGen.fileBytes(6)
    assert(OdtExtractor.items(b6).collect { case Media(_, r, _) => r } ==
      Vector("https://cdn.example/ext.png"))
    // content magic: a lying .docx extension still routes to ODT
    assert(OdtExtractor.isOdt(b3))
    assert(!graft.extract.DocxExtractor.isDocx(b3))
    val docs = RawFiles.decodeAny("fake.docx", b3, "")
    assert(docs.head.spans.head.text == "Picture follows in document 3.")
  }

  test("ingest e2e: 24 generated packages match OdtGen ground truth") {
    val dir = tempDir("graft-odt-spec")
    OdtGen.write(dir.toString, 24)
    val got = RawFiles.read(spark, dir.toString).collect()
      .flatMap(d => d.spans.map(sp => (d.doc_id, sp.kind,
        Option(sp.text).orNull,
        Option(sp.media_ref).map(r => r.substring(r.lastIndexOf('/') + 1))
          .orNull,
        sp.offset)))
      .sortBy(r => (r._1, r._5))
    val want = OdtGen.expected(24)
      .map(r => (r.doc_id, r.kind, r.text, r.media_ref, r.ord))
      .sortBy(r => (r._1, r._5))
    assert(got.toSeq == want)
    dir.toFile.listFiles.foreach(_.delete()); dir.toFile.delete(): Unit
  }

  test("mutation storm: corruption and truncation never crash, never misroute honest text") {
    val rnd = new scala.util.Random(20260820L)
    val seeds = (0 until 8).map(OdtGen.fileBytes)
    (0 until 200).foreach { k =>
      val base = seeds(k % seeds.length).clone()
      (0 until 1 + rnd.nextInt(8)).foreach { _ =>
        base(rnd.nextInt(base.length)) = rnd.nextInt(256).toByte
      }
      val _ = OdtExtractor.items(base)
      val __ = RawFiles.decodeAny("f.odt", base, "")
    }
    val whole = OdtGen.fileBytes(2)
    (1 until whole.length by 23).foreach { n =>
      val _ = OdtExtractor.items(java.util.Arrays.copyOf(whole, n))
    }
    // an ODT-suffixed file that is NOT an ODT degrades to a text span
    val notOdt = RawFiles.decodeAny("x.odt", "plain words".getBytes("UTF-8"), "")
    assert(notOdt.head.spans.head.kind == "text")
  }
}
