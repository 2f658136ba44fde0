package graft

import graft.extract.{EpubExtractor, HtmlExtractor, Item}
import org.scalatest.funsuite.AnyFunSuite

/** EPUB front-end spec: pinned behaviors + a DOM twin for the OCF/OPF
  * packaging walk — javax.xml DocumentBuilder over container.xml and
  * the package document, java.nio path normalization for hrefs; a
  * genuinely different machine from the production regex scans. Both
  * sides share [[HtmlExtractor]] for chapter bodies, whose own spec
  * (ExtractorSpec pins + HtmlTableSpec twin) carries that guarantee.
  */
class EpubSpec extends AnyFunSuite {

  // ---------- the DOM twin ----------

  private def zipMapFirstWins(bytes: Array[Byte])
      : Map[String, Array[Byte]] = {
    val z = new java.util.zip.ZipInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try Iterator.continually(z.getNextEntry).takeWhile(_ != null)
      .foldLeft(Map.empty[String, Array[Byte]]) { (m, e) =>
        if (m.contains(e.getName)) m
        else m + (e.getName -> z.readAllBytes())
      }
    finally z.close()
  }

  private def dom(xml: Array[Byte]): org.w3c.dom.Document = {
    val f = javax.xml.parsers.DocumentBuilderFactory.newInstance()
    f.setNamespaceAware(true)
    f.newDocumentBuilder().parse(new java.io.ByteArrayInputStream(xml))
  }

  private def norm(dir: String, href: String): String = {
    val cutAt = href.indexWhere(c => c == '#' || c == '?')
    val cut = if (cutAt < 0) href else href.substring(0, cutAt)
    val p = if (dir.isEmpty) java.nio.file.Paths.get(cut)
            else java.nio.file.Paths.get(dir).resolve(cut)
    p.normalize().toString
  }

  def twinItems(bytes: Array[Byte]): Vector[Item] = {
    val entries = zipMapFirstWins(bytes)
    val container = dom(entries("META-INF/container.xml"))
    val roots = container.getElementsByTagNameNS("*", "rootfile")
    val opfPath = roots.item(0).getAttributes
      .getNamedItem("full-path").getNodeValue
    val opf = dom(entries(opfPath))
    val opfDir = {
      val sl = opfPath.lastIndexOf('/')
      if (sl < 0) "" else opfPath.substring(0, sl)
    }
    val items = opf.getElementsByTagNameNS("*", "item")
    val manifest = (0 until items.getLength).map { k =>
      val a = items.item(k).getAttributes
      a.getNamedItem("id").getNodeValue ->
        a.getNamedItem("href").getNodeValue
    }.toMap
    val refs = opf.getElementsByTagNameNS("*", "itemref")
    val spine = (0 until refs.getLength).map(k =>
      refs.item(k).getAttributes.getNamedItem("idref").getNodeValue)
    spine.toVector.flatMap { id =>
      manifest.get(id).toVector.flatMap { href =>
        val path = norm(opfDir, href)
        val chDir = {
          val sl = path.lastIndexOf('/')
          if (sl < 0) "" else path.substring(0, sl)
        }
        entries.get(path).toVector.flatMap { ch =>
          HtmlExtractor.items(new String(ch, "UTF-8")).map {
            case Item.Text(t) => Item.Text(t)
            case Item.Media(k, src, _) =>
              val ref = if (src.matches("(?i)^(https?|data):.*")) src
                        else norm(chDir, src)
              Item.Media(k, ref, !ref.matches("(?i)^(https?|data):.*"))
          }
        }
      }
    }
  }

  // ---------- pinned behaviors ----------

  test("generator fixtures decode to spine-ordered ground truth") {
    import graft.gen.EpubGen
    val want = EpubGen.expected(24).groupBy(_.doc_id)
    (0 until 24).foreach { i =>
      val f = EpubGen.fileName(i)
      val got = EpubExtractor.items(EpubGen.fileBytes(i)).zipWithIndex
        .map {
          case (Item.Text(t), k) => ("text", t, null, k)
          case (Item.Media(mk, ref, _), k) =>
            // ground truth carries the bare image name; the extractor
            // mints the full in-archive path
            assert(ref == EpubGen.imgPath(i), s"doc $i ref $ref")
            (mk, null, ref.substring(ref.lastIndexOf('/') + 1), k)
        }
      val exp = want.getOrElse(f, Seq.empty)
        .map(r => (r.kind, r.text, r.media_ref, r.ord))
      assert(got == exp.toVector, s"doc $i")
    }
  }

  test("nav drops via link density; absent chapter skips; media payload fetches") {
    import graft.gen.EpubGen
    val b0 = EpubGen.fileBytes(0)
    val texts = EpubExtractor.items(b0).collect {
      case Item.Text(t) => t }
    assert(!texts.exists(_.contains("link text")))
    // i=3: ch1 manifest-listed but absent from the archive
    val i3 = EpubExtractor.items(EpubGen.fileBytes(3))
    assert(i3.length == 2 && i3.head.isInstanceOf[Item.Media])
    // byte-fetch half of media-by-reference
    val ref = EpubExtractor.items(b0).collectFirst {
      case Item.Media(_, r, _) => r }.get
    val payload = EpubExtractor.mediaPayload(b0, ref)
    assert(payload.exists(p => p.length == 5 && p(1) == 'P'.toByte))
  }

  test("isEpub and isDocx are mutually exclusive classifiers") {
    val epub = graft.gen.EpubGen.fileBytes(1)
    val docx = graft.gen.MixedGen.fileBytes(8)
    assert(EpubExtractor.isEpub(epub))
    assert(!graft.extract.DocxExtractor.isDocx(epub))
    assert(graft.extract.DocxExtractor.isDocx(docx))
    assert(!EpubExtractor.isEpub(docx))
    assert(!EpubExtractor.isEpub("not a zip at all".getBytes("UTF-8")))
  }

  test("path resolution: dot segments, fragments, queries") {
    assert(EpubExtractor.resolvePath("OEBPS/text", "../images/a.png") ==
      "OEBPS/images/a.png")
    assert(EpubExtractor.resolvePath("", "ch1.xhtml#frag") == "ch1.xhtml")
    assert(EpubExtractor.resolvePath("a/b", "./c.xhtml?x=1") == "a/b/c.xhtml")
    assert(EpubExtractor.resolvePath("a", "../../up.png") == "up.png")
  }

  test("mutation storm: items() degrades on corrupt archives, never throws") {
    var seed = 8675309
    def next(n: Int): Int = { seed = seed * 1103515245 + 12347; math.abs(seed) % n }
    (0 until 120).foreach { i =>
      val b = graft.gen.EpubGen.fileBytes(i % 7)
      (0 until 1 + next(25)).foreach(_ => b(next(b.length)) = next(256).toByte)
      if (EpubExtractor.isEpub(b)) EpubExtractor.items(b)
    }
  }

  // ---------- dual-impl parity ----------

  test("regex packaging walk == DOM twin on every generator fixture") {
    (0 until 24).foreach { i =>
      val b = graft.gen.EpubGen.fileBytes(i)
      assert(EpubExtractor.items(b) == twinItems(b), s"doc $i")
    }
  }
}
