package graft.extract

import Item.Media

/** EPUB front end: spine-ordered chapter blocks + referenced media
  * from an EPUB (OCF zip) payload, in reading order.
  *
  * [north-rule extension] — the reference ingests PDFs only
  * (/root/reference/setup.sql:44-45); EPUB is the dominant ebook
  * container and books are a core LLM-training corpus class. An EPUB
  * is a zip (OCF) of XHTML chapters: `META-INF/container.xml` names
  * the package (OPF) document, whose `<manifest>` maps ids to hrefs
  * and whose `<spine>` orders the reading sequence. Chapters reuse
  * [[HtmlExtractor]] WHOLESALE — boilerplate gating, entity decode,
  * media at tag position — so EPUB inherits the exact HTML block spec;
  * a nav document in the spine is naturally dropped by the
  * link-density gate (it is a list of links).
  *
  * == Exact spec (shared with the test-side DOM twin) ==
  *
  *  - [[isEpub]]: zip local-header magic AND a
  *    `META-INF/container.xml` entry (checked AFTER
  *    [[DocxExtractor.isDocx]] in ingestion — the two cannot clash,
  *    each requires its own marker entry).
  *  - Zip entries read in one pass of the one zip walk,
  *    [[Codecs.unzip]]: on duplicate names the FIRST wins. EPUB is the
  *    all-or-nothing case of its error rule ([[Codecs.Read]]): a walk
  *    that ended at a zip-format error yields no items, never throws.
  *  - container.xml: the FIRST `<rootfile>`'s `full-path` attribute
  *    (entity-decoded) names the OPF. Missing/unreadable → no items.
  *  - OPF: manifest `<item>` `id` → `href`; spine `<itemref>` `idref`s
  *    in document order. Hrefs entity-decoded, resolved against the
  *    OPF's directory with `.`/`..` segment normalization and any
  *    `#fragment`/`?query` dropped; percent-escapes are NOT decoded
  *    (declared). Idrefs missing from the manifest, and hrefs whose
  *    entry is absent, are skipped silently. No media-type filter:
  *    a non-XHTML spine item degrades through the HTML tokenizer
  *    (declared).
  *  - Each chapter decodes via the BOM-tolerant UTF-8 rule
  *    ([[graft.sources.RawFiles.decodeTextPayload]] semantics) and
  *    runs through [[HtmlExtractor.items]]: text blocks pass as they
  *    are; a media src becomes an [[Item.Media]] ref resolved against
  *    the CHAPTER's directory (an in-archive path, fetchable via
  *    [[mediaPayload]]) — unless src carries a scheme
  *    (`http:`/`https:`/`data:`, case-insensitive), which passes
  *    verbatim (external reference).
  *  - Output order: chapters in spine order, items in document order
  *    within each chapter.
  */
object EpubExtractor {

  private[extract] val ContainerPath = "META-INF/container.xml"

  def isEpub(bytes: Array[Byte]): Boolean =
    bytes.length > 4 && bytes(0) == 'P' && bytes(1) == 'K' &&
      bytes(2) == 3 && bytes(3) == 4 &&
      Codecs.zipPart(bytes, ContainerPath).isDefined

  private val RootfileRx =
    "(?s)<rootfile\\b[^>]*\\bfull-path\\s*=\\s*\"([^\"]*)\"".r
  private val ItemRx =
    "(?s)<item\\s[^>]*>".r
  private val ItemrefRx =
    "(?s)<itemref\\s[^>]*>".r
  private val AttrId = attrRx("id")
  private val AttrHref = attrRx("href")
  private val AttrIdref = attrRx("idref")
  private def attrRx(name: String) =
    ("\\b" + name + "\\s*=\\s*\"([^\"]*)\"").r

  /** Resolve `href` against `baseDir` (in-archive directory, "" for
    * root): fragment/query dropped, `.`/`..`/empty segments normalized.
    */
  private[graft] def resolvePath(baseDir: String, href: String)
      : String = {
    val cutAt = href.indexWhere(c => c == '#' || c == '?')
    val cut = if (cutAt < 0) href else href.substring(0, cutAt)
    val raw = if (baseDir.isEmpty) cut else baseDir + "/" + cut
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    raw.split("/", -1).foreach {
      case "" | "." => ()
      case ".."     => if (out.nonEmpty) out.remove(out.length - 1): Unit
      case seg      => out += seg
    }
    out.mkString("/")
  }

  private def dirOf(path: String): String = {
    val sl = path.lastIndexOf('/')
    if (sl < 0) "" else path.substring(0, sl)
  }

  private def decodeChapter(b: Array[Byte]): String =
    graft.sources.RawFiles.decodeTextPayload(b)


  /** Parse one EPUB payload into its ordered item stream. Callers must
    * have checked [[isEpub]]; a non-archive here returns Vector.empty.
    */
  def items(bytes: Array[Byte]): Vector[Item] = {
    val walk = Codecs.unzip(bytes, _ => true)
    val entries =
      if (walk.failed) Map.empty[String, Array[Byte]]
      else walk.value.iterator.map(e => e.name -> e.body).toMap
    val opt = for {
      cBytes <- entries.get(ContainerPath)
      opfPath <- RootfileRx.findFirstMatchIn(new String(cBytes, "UTF-8"))
        .map(m => DocxExtractor.decodeEntities(m.group(1)))
      opfBytes <- entries.get(opfPath)
    } yield {
      val opf = new String(opfBytes, "UTF-8")
      val opfDir = dirOf(opfPath)
      val manifest: Map[String, String] =
        ItemRx.findAllIn(opf).toVector.flatMap { tag =>
          for {
            id <- AttrId.findFirstMatchIn(tag).map(_.group(1))
            href <- AttrHref.findFirstMatchIn(tag).map(m =>
              DocxExtractor.decodeEntities(m.group(1)))
          } yield id -> href
        }.toMap
      val spine = ItemrefRx.findAllIn(opf).toVector
        .flatMap(t => AttrIdref.findFirstMatchIn(t).map(_.group(1)))
      spine.flatMap { id =>
        manifest.get(id).toVector.flatMap { href =>
          val path = resolvePath(opfDir, href)
          entries.get(path).toVector.flatMap { chBytes =>
            val chDir = dirOf(path)
            HtmlExtractor.items(decodeChapter(chBytes)).map {
              case Media(k, src, _) =>
                Item.packaged(k,
                  if (Item.isWebUrl(src)) src else resolvePath(chDir, src))
              case t => t
            }
          }
        }
      }
    }
    opt.getOrElse(Vector.empty)
  }

  /** Byte-fetch half of media-by-reference for EPUB: the in-archive
    * path a [[Item.Media]] ref carries resolves against the ORIGINAL book
    * bytes.
    */
  def mediaPayload(bytes: Array[Byte], path: String): Option[Array[Byte]] =
    Codecs.zipPart(bytes, path)
}
