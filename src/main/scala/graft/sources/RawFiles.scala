package graft.sources

import graft.core.{InputDoc, Span}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Raw-directory ingestion: the reference's entry point is a stage
  * DIRECTORY of files it lists, suffix-filters, and feeds to the
  * extractor one by one (/root/reference/setup.sql:44-45,220-222);
  * this is its distributed analog over `spark.read.format("binaryFile")`
  * — directory listing, suffix→kind classification, and payload decode
  * all happen inside one scan, producing the engine's canonical
  * interleaved-spans shape `(doc_id, spans)`.
  *
  * Kind classification by extension (reference: `LIKE '%.pdf'` plus the
  * UI's validation list, streamlit_app.py:655-678):
  *   .pdf → one "pdf" span (payload decoded as UTF-8 content stream;
  *   genuine PDF bytes additionally yield one "image" media span per
  *   embedded-image occurrence — see [[pdfSpans]]);
  *   .html/.htm → one "html" span; .txt/.text → one "text" span;
  *   .md/.markdown → decoded at ingest by [[graft.extract.MdExtractor]]
  *   into "text" spans (one per block) + media spans (one per image
  *   reference, URL verbatim);
  *   .epub → decoded at ingest by [[graft.extract.EpubExtractor]] into
  *   spine-ordered "text" spans + media spans (in-archive refs);
  *   .xlsx → decoded at ingest by [[graft.extract.XlsxExtractor]] into
  *   one "text" span per non-empty worksheet holding its used-range TSV
  *   (the engine's table vocabulary), in workbook order;
  *   .pptx → decoded at ingest by [[graft.extract.PptxExtractor]] into
  *   slide-ordered paragraph "text" spans + media spans (in-archive
  *   refs);
  *   .rtf → decoded at ingest by [[graft.extract.RtfExtractor]] into
  *   paragraph "text" spans, TSV table blocks, and picture media spans;
  *   .odt → decoded at ingest by [[graft.extract.OdtExtractor]] into
  *   paragraph/heading "text" spans, TSV table blocks, and image media
  *   spans (in-archive refs);
  *   .tex/.latex → decoded at ingest by [[graft.extract.TexExtractor]]
  *   (detex-style): heading/caption/paragraph/verbatim blocks and TSV
  *   tabular grids as "text" spans, \includegraphics refs as media
  *   spans (path verbatim — external reference, like markdown);
  *   .eml → decoded at ingest by [[graft.extract.EmlExtractor]]:
  *   subject + MIME body parts as "text" spans (html parts through the
  *   boilerpipe gate, cid images resolved), media parts by reference,
  *   and one EXTRA InputDoc per document attachment
  *   (`<relpath>#a<idx>:<filename>`) routed through its front end;
  *   .mbox → spool fan-out: one [[EmlExtractor]] expansion per member
  *   message (`<relpath>#m<idx>`);
  *   .rss/.atom (and feed-rooted .xml) → syndication fan-out by
  *   [[graft.extract.FeedExtractor]]: one InputDoc per RSS item /
  *   Atom entry (`<relpath>#e<idx>:<id>`), titles + unescaped html
  *   bodies + enclosure media by reference; a NON-feed .xml decodes
  *   as one generic-XML document via [[graft.extract.XmlExtractor]];
  *   .warc/.warc.gz → EXPANDED at ingest by
  *   [[graft.extract.WarcExtractor]]: each retained crawl record
  *   becomes ITS OWN InputDoc (`<relpath>#r<idx>:<target-uri>`), its
  *   payload routed by MIME through this very dispatch (an html record
  *   is an html doc, a pdf record a pdf doc, an image record a media
  *   doc by reference) — crawl archives are directories-of-documents
  *   in one file;
  *   .zip/.tar/.tar.gz/.tgz/.7z → EXPANDED at ingest by
  *   [[graft.extract.ArchiveExtractor]]: one InputDoc per member file
  *   (`<relpath>#<member>`), each routed by its own suffix (nested
  *   archives drop — one fan-out level);
  *   .jsonl/.ndjson → one InputDoc per retained JSON line
  *   ([[graft.extract.JsonlExtractor]] —
  *   `<relpath>#L<lineNo>:<record-id>`), the corpus-shard
  *   re-ingestion path;
  *   .json → whole-file JSON: a retained single object IS the doc
  *   (`<relpath>`), an HF-style array fans out per retained element
  *   (`<relpath>#r<idx>:<record-id>`); notebook-shaped payloads
  *   reroute to the ipynb front end by content magic;
  *   other `.gz` / `.zst` / `.xz` / `.bz2` / `.lz4` / `.sz` /
  *   `.snappy` → inflated
  *   ([[graft.extract.Codecs]]) and routed by the inner extension
  *   (`page.html.gz` is an html doc, `shard.jsonl.zst` a Dolma-style
  *   shard, `seg.warc.zst` a crawl segment);
  *   image/audio/video extensions → one media span passing the file
  *   path through as media_ref (bytes stay in the store — the north
  *   rule's media-by-reference semantics); anything else is dropped,
  *   like the reference's suffix filter.
  *
  * Every text decode goes through the [[graft.extract.CharsetSniff]]
  * WHATWG chain (BOM > transport charset > HTML meta prescan > strict
  * UTF-8 validity > windows-1252), so legacy-charset crawl content
  * reads as real text instead of mojibake.
  *
  * Scale: ONE binaryFile scan feeding one typed flatMap (the routing
  * runs in Scala — [[decodeAny]] — so the plan carries no per-suffix
  * expression trees). Listing parallelizes via the Hadoop
  * InMemoryFileIndex; to skip media payload bytes entirely on a
  * media-heavy store, pre-filter with `pathGlobFilter` at the source.
  */
object RawFiles {

  import graft.extract._

  private val TextExt: Map[String, String] = Map(
    "pdf" -> "pdf", "html" -> "html", "htm" -> "html",
    "txt" -> "text", "text" -> "text", "docx" -> "docx",
    "md" -> "md", "markdown" -> "md", "epub" -> "epub",
    "xlsx" -> "xlsx", "pptx" -> "pptx", "rtf" -> "rtf", "odt" -> "odt",
    "doc" -> "doc", "dot" -> "doc", "xls" -> "xls", "xlt" -> "xls",
    "ppt" -> "ppt", "pps" -> "ppt", "pot" -> "ppt",
    // macro/template OOXML variants share the package structure
    "docm" -> "docx", "dotx" -> "docx", "dotm" -> "docx",
    "xlsm" -> "xlsx", "xltx" -> "xlsx",
    "pptm" -> "pptx", "ppsx" -> "pptx", "potx" -> "pptx",
    "ods" -> "odt", "odp" -> "odt",
    "tex" -> "tex", "latex" -> "tex", "srt" -> "subs", "vtt" -> "subs",
    "csv" -> "csv", "tsv" -> "csv",
    "warc" -> "warc", "zip" -> "zip", "tar" -> "tar", "tgz" -> "tar",
    "7z" -> "zip", // archive-dump dispatch; ArchiveExtractor routes by magic
    "jsonl" -> "jsonl", "ndjson" -> "jsonl", "ipynb" -> "ipynb",
    "json" -> "json",
    "eml" -> "eml", "mbox" -> "mbox",
    "rss" -> "feed", "atom" -> "feed", "xml" -> "xml")

  private val MediaExt: Map[String, String] = Map(
    "png" -> "image", "jpg" -> "image", "jpeg" -> "image", "gif" -> "image",
    "webp" -> "image", "tiff" -> "image", "tif" -> "image",
    "bmp" -> "image", "avif" -> "image", "ico" -> "image",
    "svg" -> "image", // vector decoration: media by reference, not text
    "mp3" -> "audio", "wav" -> "audio", "flac" -> "audio",
    "ogg" -> "audio", "m4a" -> "audio", "aac" -> "audio",
    "opus" -> "audio",
    "mp4" -> "video", "mkv" -> "video", "webm" -> "video",
    "avi" -> "video", "mov" -> "video", "m4v" -> "video",
    "mpg" -> "video", "mpeg" -> "video")

  /** Single-file compression suffixes ([[graft.extract.Codecs]]). */
  private val CodecExt: Set[String] =
    Set("gz", "zst", "xz", "bz2", "lz4", "sz", "snappy")

  /** Container kinds: a top-level file of one of these fans out into
    * one InputDoc per member; as a member of another container (archive
    * entry, pdf/eml attachment) it drops — ONE fan-out level.
    */
  private val Containers: Set[String] =
    Set("warc", "zip", "tar", "jsonl", "eml", "mbox", "feed")

  /** Suffix kinds whose front end needs no content magic. */
  private val Textual: Set[String] =
    Set("tex", "csv", "subs", "json", "ipynb", "md")

  /** Binary document kinds: a file suffixed as one whose magic fails
    * reads as one "text" span ("docx" etc. are ingest classifications,
    * never span kinds).
    */
  private val Binary: Set[String] =
    Set("docx", "epub", "xlsx", "pptx", "rtf", "odt", "doc", "xls", "ppt")

  /** Formats a WARC record with an unrecognized binary mime may still
    * decode as — the container magics a crawler's octet-stream hides.
    */
  private val RecordMagic: Set[String] =
    Set("pdf", "docx", "epub", "xlsx", "pptx", "rtf")

  /** Path relative to the scan root by plain substring search — NO regex
    * (a user dir with regex metacharacters must not crash or corrupt
    * ids), scheme-agnostic (file:/, hdfs://, s3a:// URIs all contain the
    * root path verbatim). Unresolvable → the full URI, never null.
    */
  private def relativize(uriPath: String, root: String): String = {
    val i = uriPath.indexOf(root)
    if (i >= 0) uriPath.substring(i + root.length) else uriPath
  }

  /** Lower-cased text after the last `.` of `name`; "" when none. */
  private def suffixOf(name: String): String = {
    val lp = name.toLowerCase
    val dot = lp.lastIndexOf('.')
    if (dot < 0) "" else lp.substring(dot + 1)
  }

  /** Ingest kind of a file path by suffix: a text kind or a codec
    * (`.warc.gz`/`.tar.gz` are their containers, not generic gzip);
    * None for media and unsupported suffixes.
    */
  private def kindOf(path: String): Option[String] = {
    val lp = path.toLowerCase
    if (lp.endsWith(".warc.gz")) Some("warc")
    else if (lp.endsWith(".tar.gz")) Some("tar")
    else {
      val e = suffixOf(lp)
      if (CodecExt(e)) Some(e) else TextExt.get(e)
    }
  }

  /** Routing kind of a container member by its own name: a text kind
    * that is not itself a container (one fan-out level).
    */
  private def memberKind(name: String): Option[String] =
    TextExt.get(suffixOf(name)).filterNot(Containers)

  /** THE format decision for one payload: suffix kind + content magic
    * → the decoder ingest runs and [[mediaPayload]] resolves against.
    *
    * CONTENT MAGIC overrides the suffix within the text-kind family:
    * web corpora routinely misname files (a crawler's `.txt` that is
    * really a PDF, a CMS download endpoint serving DOCX as `.html`).
    * Only payloads that START with a container magic reroute — anything
    * else keeps its suffix classification, so genuine text never
    * misroutes; a binary-suffixed file whose magic fails decodes as
    * "raw" (one span). Files OUTSIDE the text suffixes never get here:
    * the reference's suffix filter (media by reference, unknown
    * dropped) stays authoritative.
    *
    * At the top level (`nested` false) the fan-out containers are
    * checked first — a `.warc`/`.warc.gz` (by suffix OR magic: a
    * crawler's misnamed `.txt` WARC still routes), zip/tar/tar.gz/7z
    * archives, jsonl/json, syndication feeds (a feed-rooted `.xml`
    * too), mbox spools, email (a `.txt`/`.mbox` with an RFC 5322 header
    * block too) and compressed files. A nested payload (archive member,
    * attachment, WARC record) never fans out again; a feed there yields
    * nothing ("none").
    */
  private def sniff(kind: String, bytes: Array[Byte],
                    nested: Boolean): String = {
    // the zip-packaged formats share one magic; classify once
    lazy val zip = ArchiveExtractor.zipKind(bytes)
    lazy val feed = FeedExtractor.isFeed(bytes)
    def fanOut: Option[String] =
      if (kind == "warc" || WarcExtractor.isWarc(bytes) ||
          WarcExtractor.isWarcGz(bytes)) Some("warc")
      else if (zip == "zip") Some("zip") // a plain zip, classified here
      else if (kind == "zip" || kind == "tar" ||
               ArchiveExtractor.isTarGz(bytes) ||
               ArchiveExtractor.isTar(bytes) ||
               ArchiveExtractor.isSevenZ(bytes)) Some("archive")
      else if (kind == "jsonl" || kind == "json") Some(kind)
      else if (kind == "feed" || (kind == "xml" && feed)) Some("feed")
      else if (kind == "mbox" && EmlExtractor.isMbox(bytes)) Some("mbox")
      else if (kind == "eml" || ((kind == "text" || kind == "mbox") &&
               EmlExtractor.isEml(bytes))) Some("eml")
      else if (CodecExt(kind)) Some(kind)
      else None
    (if (nested) None else fanOut).getOrElse {
      if (RealPdf.isPdf(bytes)) "pdf"
      else if (zip.nonEmpty && zip != "zip") zip
      else if (RtfExtractor.isRtf(bytes)) "rtf"
      // a CFB container WITHOUT a readable Office stream classifies as
      // "doc", whose front end yields nothing — a structured-storage
      // binary must never decode as mojibake "text"
      else if (Cfb.isCfb(bytes)) Cfb.officeKind(bytes)
      else if (kind == "text" && TexExtractor.isTex(bytes)) "tex"
      else if (kind == "text" && {
        val head = new String(bytes, 0, math.min(bytes.length, 512),
          java.nio.charset.StandardCharsets.UTF_8)
        SubtitleExtractor.isVtt(head) || SubtitleExtractor.isSrt(head)
      }) "subs"
      else if (kind == "xml" || kind == "feed") if (feed) "none" else "xml"
      else if (Textual(kind)) kind
      else "raw"
    }
  }

  /** Classify + decode ONE file into its InputDocs: text kinds decode
    * their payload (containers FAN OUT to one doc per member), media
    * kinds pass by reference (bytes unused), and unsupported suffixes
    * return empty (the reference's suffix filter). The one definition
    * [[read]] and [[graft.streaming.StreamingIngest.startRawDir]] share.
    */
  def decodeAny(path: String, content: Array[Byte],
                root: String): Seq[InputDoc] =
    kindOf(path) match {
      case Some(kind) => docsOf(kind, path, content, root)
      case None => MediaExt.get(suffixOf(path)).map(kind =>
        InputDoc(relativize(path, root),
          Vector(Span(kind, null, path, 0)))).toSeq
    }

  /** File-level decode: the [[sniff]]ed format either fans out (one
    * InputDoc per WARC record, archive member, jsonl line, json array
    * element, feed entry, mbox message, plus one per pdf/eml document
    * attachment) or the file is one InputDoc. A file with nothing
    * extractable vanishes (apparatus-only XML, blank text, …).
    */
  private def docsOf(kind: String, path: String, bytes: Array[Byte],
                     root: String): Seq[InputDoc] = {
    val rel = relativize(path, root)
    sniff(kind, bytes, nested = false) match {
      case "warc" => warcDocs(path, rel, bytes)
      case f @ ("zip" | "archive") => archiveDocs(path, rel, members(f, bytes))
      case "jsonl" => jsonlDocs(rel, bytes)
      case "json" =>
        // ONE Jackson parse routes notebook-vs-plain AND yields the
        // records (ADVICE r05: the old isNotebookJson-then-valueRecords
        // pair parsed every payload twice, and a notebook three times)
        JsonlExtractor.routeJson(bytes) match {
          case Right(recs) => jsonDocs(rel, recs)
          case Left(_) => oneDoc(rel, decode("ipynb", kind, path, bytes, ""))
        }
      case "feed" => feedDocs(path, rel, bytes)
      case "mbox" => mboxDocs(path, rel, bytes)
      case "eml" => emlDocs(path, rel, bytes)
      case "pdf" => pdfDocs(path, rel, bytes)
      case c if CodecExt(c) => compressedDoc(path, bytes, root, c)
      case format => oneDoc(rel, decode(format, kind, path, bytes, ""))
    }
  }

  private def oneDoc(docId: String, spans: Vector[Span]): Seq[InputDoc] =
    if (spans.isEmpty) Nil else Seq(InputDoc(docId, spans))

  /** One container member → its InputDoc (none when nothing decodes):
    * its spans decode against the pseudo-path `<path>#<segment>`, so a
    * member's own in-file refs read `<path>#<segment>#<ref>`.
    */
  private def memberDoc(docId: String, pseudo: String, kind: String,
                        body: Array[Byte]): Seq[InputDoc] =
    oneDoc(docId, decode(sniff(kind, body, nested = true), kind, pseudo,
      body, ""))

  /** A pdf/eml DOCUMENT attachment (`<rel>#a<idx>:<filename>`) routed
    * by its own suffix through the matching front end — an email with
    * an attached PDF yields the PDF's positioned spans, exactly like a
    * WARC pdf record or an archive member. Containers drop.
    */
  private def attachmentDoc(path: String, rel: String, idx: Int,
                            name: String, body: Array[Byte]): Seq[InputDoc] = {
    val seg = s"a$idx:$name"
    memberKind(name).toSeq.flatMap(k =>
      memberDoc(s"$rel#$seg", s"$path#$seg", k, body))
  }

  /** One genuine PDF → its InputDocs: the document itself (positioned
    * spans + embedded-image media) plus one InputDoc per EMBEDDED FILE
    * (ISO 32000 §7.11.4 — the /EmbeddedFiles name tree and
    * /FileAttachment annotations) via [[attachmentDoc]]. A PDF reached
    * through a WARC record, archive member, or email attachment does
    * NOT fan out its own attachments — the one-level rule.
    */
  private def pdfDocs(path: String, rel: String,
                      bytes: Array[Byte]): Seq[InputDoc] = {
    val doc = RealPdf.open(bytes)
    oneDoc(rel, pdfSpans(path, doc)) ++
      RealPdf.attachments(doc).flatMap(a =>
        attachmentDoc(path, rel, a.idx, a.name, a.body))
  }

  /** One InputDoc per retained jsonl line
    * (`<relpath>#L<lineNo>:<record-id>`) — the shard re-ingestion path;
    * line semantics in [[graft.extract.JsonlExtractor]].
    */
  private def jsonlDocs(rel: String, bytes: Array[Byte]): Seq[InputDoc] =
    JsonlExtractor.records(bytes).map { r =>
      InputDoc(s"$rel#L${r.lineNo}:${r.id}",
        Vector(Span("text", r.text, null, 0)))
    }

  /** Whole-file `.json` documents — the single-object / HF-array
    * sibling of the jsonl shard path: one retained OBJECT is the file
    * itself (`<relpath>`, one file = one corpus unit, like every other
    * front end); an ARRAY fans out one InputDoc per retained element
    * (`<relpath>#r<idx>:<record-id>`, mirroring jsonl's `#L` ids).
    * A notebook-shaped `.json` never reaches here — [[docsOf]] routes
    * it to the ipynb front end by content magic.
    */
  private def jsonDocs(rel: String,
      recs: Seq[JsonlExtractor.Rec]): Seq[InputDoc] = {
    recs.map { r =>
      if (r.lineNo < 0) // the single-object sentinel: the file IS the doc
        InputDoc(rel, Vector(Span("text", r.text, null, 0)))
      else
        InputDoc(s"$rel#r${r.lineNo}:${r.id}",
          Vector(Span("text", r.text, null, 0)))
    }
  }

  /** One syndication feed → one InputDoc per retained RSS item /
    * Atom entry (`<relpath>#e<idx>:<guid-or-link>`): title + body
    * blocks (escaped/CDATA html through the boilerpipe gate with a
    * stripped-text fallback) + enclosure/media:content media by
    * reference, URLs verbatim. A `.xml` that is not a feed never
    * reaches here — [[docsOf]] routes it to the generic-XML front end.
    */
  private def feedDocs(path: String, rel: String,
                       bytes: Array[Byte]): Seq[InputDoc] =
    FeedExtractor.entries(bytes).map(e =>
      InputDoc(s"$rel#e${e.idx}:${e.id}", spansOf(e.items, path)))

  /** One email message → its InputDocs: the message body (Subject +
    * text parts + html parts through the boilerpipe gate + inline/
    * attached media by reference, `p<idx>:<name>` tails) as ONE
    * InputDoc, plus one per document attachment ([[attachmentDoc]]).
    */
  private def emlDocs(path: String, rel: String,
                      bytes: Array[Byte]): Seq[InputDoc] = {
    val msg = EmlExtractor.parse(bytes)
    oneDoc(rel, spansOf(msg.items, path)) ++
      msg.attachments.flatMap(a =>
        attachmentDoc(path, rel, a.idx, a.filename, a.body))
  }

  /** mbox spool fan-out: one [[emlDocs]] expansion per member message
    * (`<rel>#m<idx>`), mboxrd `>From ` escapes unescaped.
    */
  private def mboxDocs(path: String, rel: String,
                       bytes: Array[Byte]): Seq[InputDoc] =
    EmlExtractor.mboxMessages(bytes).zipWithIndex.flatMap {
      case (msg, i) => emlDocs(s"$path#m$i", s"$rel#m$i", msg)
    }

  /** Inner kind of a `<name>.<ext>.<algo>` file: the text kind of
    * `.<ext>`, or None (inner extensions outside the text family drop).
    */
  private def innerKind(path: String, algo: String): Option[String] =
    TextExt.get(suffixOf(path.substring(0, path.length - (algo.length + 1))))

  /** Generic single-file compression: `<name>.<ext>.<algo>` (algo ∈
    * gz/zst/xz/bz2/lz4/sz/snappy) inflates via [[graft.extract.Codecs]]
    * and routes by
    * the INNER extension (`page.html.gz` is an html doc,
    * `shard.jsonl.zst` a jsonl shard, `seg.warc.zst` a crawl segment) —
    * web corpora compress text at rest; zstd is the Dolma/RedPajama
    * shard codec. The doc id keeps the on-disk compressed name. Inner
    * extensions outside the text family (or a corrupt stream) drop.
    * `.warc.gz`/`.tar.gz` never reach here (matched to their own kinds
    * first — WarcExtractor reads per-record gzip members natively).
    */
  private def compressedDoc(path: String, bytes: Array[Byte],
                            root: String, algo: String): Seq[InputDoc] =
    innerKind(path, algo).toSeq.flatMap { k =>
      val inflated = Codecs.inflate(algo, bytes)
      if (inflated.isEmpty) Nil else docsOf(k, path, inflated, root)
    }

  /** The member files of a payload [[sniff]] routed to "zip" (a plain zip:
    * sniff has classified it, so only the member walk is left) or to
    * "archive" (tar, tar.gz, 7z, or a `.zip` that is no plain zip, which
    * [[ArchiveExtractor.entries]] routes by magic).
    */
  private def members(format: String,
                      bytes: Array[Byte]): Vector[ArchiveExtractor.Entry] =
    if (format == "zip") Codecs.unzip(bytes, ArchiveExtractor.isFile).value
    else ArchiveExtractor.entries(bytes)

  /** One InputDoc per archive MEMBER file (`<relpath>#<member>`),
    * each routed by its own extension through the same suffix dispatch
    * as a directory scan: text kinds decode against the pseudo-path
    * `<path>#<member>` (so a member pdf's embedded images mint
    * `<path>#<member>#img<seq>:obj<N>` refs), media suffixes become one
    * by-reference span `<path>#<member>` (bytes stay in the archive),
    * unsupported suffixes drop, and NESTED containers (zip/tar/tgz/7z/
    * warc/jsonl/eml/mbox/feed members) drop — one level of fan-out,
    * documented in [[graft.extract.ArchiveExtractor]]. A `.xml` member
    * decodes as generic XML; a feed-rooted one yields nothing.
    */
  private def archiveDocs(path: String, rel: String,
                          entries: Vector[ArchiveExtractor.Entry])
      : Seq[InputDoc] =
    entries.flatMap { en =>
      val docId = s"$rel#${en.name}"
      val pseudo = s"$path#${en.name}"
      memberKind(en.name) match {
        case Some(k) => memberDoc(docId, pseudo, k, en.body)
        case None => MediaExt.get(suffixOf(en.name)).toSeq.map(k =>
          InputDoc(docId, Vector(Span(k, null, pseudo, 0))))
      }
    }

  /** One InputDoc per retained WARC record
    * (`<relpath>#r<idx>:<target-uri>`). Payload routing:
    * image/audio/video mimes become a single by-reference media span
    * (`<path>#r<idx>` — bytes stay in the archive); document mimes
    * decode per [[recordRoute]] against the pseudo-path `<path>#r<idx>`
    * (so a pdf record's embedded images mint
    * `<path>#r<idx>#img<seq>:obj<N>` refs). A record payload that is
    * itself WARC reads as text — no recursion.
    */
  private def warcDocs(path: String, rel: String,
                       bytes: Array[Byte]): Seq[InputDoc] =
    WarcExtractor.records(bytes).zipWithIndex.flatMap {
      case (rec, idx) =>
        val docId = s"$rel#r$idx:${rec.targetUri}"
        val pseudo = s"$path#r$idx"
        recordMedia(rec.mime) match {
          case Some(mk) =>
            Seq(InputDoc(docId, Vector(Span(mk, null, pseudo, 0))))
          case None => recordRoute(rec).toSeq.flatMap { case (k, format) =>
            oneDoc(docId, decode(format, k, pseudo, rec.body, rec.charset))
          }
        }
    }

  private def recordMedia(mime: String): Option[String] =
    Seq("image", "audio", "video").find(k => mime.startsWith(k + "/"))

  /** (ingest kind, format) of a WARC document record. Document mimes
    * map to their front ends; `text/`-prefixed and ABSENT mimes read as
    * text (WET conversion records routinely omit parameters) — the
    * sniff still reroutes binary payloads it recognizes; any other mime
    * decodes only if a document magic ([[RecordMagic]]) claims it, else
    * the record drops (the reference's suffix-filter posture).
    */
  private def recordRoute(
      rec: WarcExtractor.Rec): Option[(String, String)] = {
    val mime = rec.mime
    val kind =
      if (mime.contains("html")) "html"
      else if (mime.contains("pdf")) "pdf"
      else if (mime.contains("markdown")) "md"
      else if (mime.contains("rtf")) "rtf"
      else if (mime.contains("wordprocessingml")) "docx"
      else if (mime.contains("spreadsheetml")) "xlsx"
      else if (mime.contains("presentationml")) "pptx"
      else if (mime.contains("epub")) "epub"
      else if (mime.contains("ipynb")) "ipynb"
      else if (mime.contains("json")) "json" // incl. application/json
      else if (mime.startsWith("text/") || mime.isEmpty) "text"
      else "" // an unrecognized binary mime
    val k = if (kind.isEmpty) "text" else kind
    val format = sniff(k, rec.body, nested = true)
    if (kind.isEmpty && !RecordMagic(format)) None else Some((k, format))
  }

  /** Span decode of one payload: see [[sniff]] for `format`. */
  private def decode(format: String, kind: String, path: String,
                     bytes: Array[Byte],
                     transportCharset: String): Vector[Span] =
    format match {
      case "pdf" => pdfSpans(path, RealPdf.open(bytes))
      case "raw" => Vector(Span(if (Binary(kind)) "text" else kind,
        CharsetSniff.decode(bytes, html = kind == "html", transportCharset),
        null, 0))
      case _ => spansOf(itemsOf(format, path, bytes, transportCharset), path)
    }

  /** A genuine PDF through the byte-level [[graft.extract.RealPdf]]
    * front end: ONE "pdf" span holding the canonical PG/TX interchange
    * payload PLUS one "image" media span per embedded-image occurrence
    * (media_ref `<path>#img<seq>:obj<N>`, or `…:inline` for BI…EI inline
    * images — those have no object identity, only their occurrence
    * position, and no fetchable payload); offsets 1..k in content-stream
    * order, so [[graft.core.ExtractionSpec]]'s offset ordering
    * reproduces the document's own text→media sequence.
    */
  private def pdfSpans(path: String, doc: RealPdf.Doc): Vector[Span] = {
    val (pages, images) = RealPdf.parseDoc(doc)
    Span("pdf", RealPdf.toContentStream(pages), null, 0) +:
      images.map { im =>
        val tail = if (im.objNum > 0) s"obj${im.objNum}" else "inline"
        Span("image", null, s"$path#img${im.seq}:$tail", im.seq + 1)
      }
  }

  /** The front end of each item-producing format. Every format decodes
    * at the ingest boundary into the spec's EXISTING span vocabulary,
    * so [[graft.core.ExtractionSpec]] needs no new kind:
    *  - docx/pptx/odt/rtf/doc/ppt: paragraphs (and TSV table blocks) as
    *    verbatim "text", embedded pictures as in-file media at their
    *    anchor position; epub: spine-ordered chapter blocks + media;
    *    encrypted binary documents drop whole;
    *  - xlsx/xls: the engine's TABLE vocabulary — each non-empty
    *    worksheet's used range is ONE "text" span holding its TSV, in
    *    workbook order (xls: followed by the sheet's pictures);
    *  - tex/md: detex'd / markdown blocks, image refs VERBATIM (external
    *    references, like an HTML src — there is no archive to resolve
    *    against); ipynb: markdown cells through the md semantics, code
    *    and result reprs verbatim, attachment/output images in-file;
    *  - subs: one "text" span per cue (SubRip/WebVTT); csv: the whole
    *    grid as ONE TSV span (delimiter sniffed for .csv); xml: one span
    *    per text-bearing element ([[graft.extract.XmlExtractor]]);
    *  - json at the span level (archive members, attachments — the
    *    doc-level fan-out lives in [[jsonDocs]]): notebook-shaped
    *    payloads through the ipynb front end, otherwise the retained
    *    records' texts in order.
    */
  private def itemsOf(format: String, path: String, bytes: Array[Byte],
                      transportCharset: String): Vector[Item] = {
    def text = CharsetSniff.decode(bytes, html = false, transportCharset)
    format match {
      case "docx" => DocxExtractor.items(bytes)
      case "epub" => EpubExtractor.items(bytes)
      case "xlsx" => XlsxExtractor.sheets(bytes).collect {
        case (_, tsv) if tsv.exists(!_.isWhitespace) => Item.Text(tsv) }
      case "pptx" => PptxExtractor.items(bytes)
      case "odt" => OdtExtractor.items(bytes)
      case "rtf" => RtfExtractor.items(bytes)
      case "doc" => DocExtractor.items(bytes)
      case "xls" => XlsExtractor.items(bytes)
      case "ppt" => PptExtractor.items(bytes)
      case "tex" => TexExtractor.items(text)
      case "md" => MdExtractor.items(text)
      case "ipynb" => IpynbExtractor.items(bytes)
      case "subs" => SubtitleExtractor.items(text).map(Item.Text)
      case "csv" => Vector(CsvExtractor.tsv(text,
          tabDelimited = path.toLowerCase.endsWith(".tsv")))
        .filter(_.nonEmpty).map(Item.Text)
      case "xml" => XmlExtractor.blocks(bytes).map(Item.Text)
      case "json" => JsonlExtractor.routeJson(bytes) match {
        case Left(_) => IpynbExtractor.items(bytes)
        case Right(recs) => recs.map(r => Item.Text(r.text))
      }
      case _ => Vector.empty // "none": a feed inside a container
    }
  }

  /** Items → spans, offsets in item order: a text block is a "text"
    * span; a media item's ref gets the `<path>#` prefix exactly when
    * its front end marked it in-file.
    */
  private def spansOf(items: Vector[Item], path: String): Vector[Span] =
    items.zipWithIndex.map {
      case (Item.Text(t), k) => Span("text", t, null, k)
      case (Item.Media(mk, ref, inFile), k) =>
        Span(mk, null, if (inFile) s"$path#$ref" else ref, k)
    }

  /** Text-payload decode: the full [[graft.extract.CharsetSniff]]
    * WHATWG chain with no transport signal and no meta prescan —
    * BOM at byte 0 (dropped) > strict-UTF-8 validity > windows-1252.
    * Web corpora carry Windows-exported UTF-16 .txt files and
    * windows-1252 "plain text" that would otherwise decode to
    * NUL-ridden or U+FFFD mojibake; honest UTF-8 never misroutes
    * (a BOM mid-file is content, and the validity scan is the exact
    * UTF-8 definition, so any valid UTF-8 payload decodes as UTF-8).
    * HTML payloads do NOT come through here — [[decode]] decodes them
    * with the meta prescan enabled.
    */
  private[graft] def decodeTextPayload(bytes: Array[Byte]): String =
    CharsetSniff.decode(bytes, html = false)

  /** The byte-fetch half of the media-by-reference contract: spans carry
    * references, the store carries bytes, and a decode stage joins them
    * per partition. `containerBytes` are the bytes of the file at
    * `<path>` and `mediaRef` an in-file ref `<path>#<tail>` that ingest
    * minted from it. Resolution runs the same [[sniff]] ingest ran and
    * peels the same fan-out levels (WARC record `r<idx>`, archive member
    * `<name>`, pdf/eml attachment `a<idx>:<name>`, mbox message `m<idx>`,
    * a compressed file's inflated payload), then asks the minting front
    * end: a PDF `img<seq>:obj<N>` returns the image's CODEC-READY bytes
    * ([[graft.extract.RealPdf.imageCodecBytes]] — an embedded JPEG
    * unchanged, raster samples wrapped as a PNG, either way ready for
    * [[graft.ops.Multimodal.ImageIoCodec]]); an email `p<idx>:<name>`
    * the CTE-decoded part; DOCX/EPUB/PPTX/ODT the in-archive part;
    * RTF/DOC/XLS/PPT/notebook pictures their decoded payload; a member
    * segment alone the member's own bytes (a WARC media record, an
    * archive media member). None for anything that names nothing —
    * external refs, inline PDF images (their bytes live in the content
    * stream), missing parts, malformed or overflowing indexes. When
    * `<path>` itself contains `#`, each split is tried in order.
    */
  def mediaPayload(containerBytes: Array[Byte],
                   mediaRef: String): Option[Array[Byte]] =
    Iterator.iterate(mediaRef.indexOf('#'))(h => mediaRef.indexOf('#', h + 1))
      .takeWhile(_ >= 0)
      .flatMap { h =>
        val path = mediaRef.substring(0, h)
        kindOf(path).flatMap(k => fetch(
          sniff(k, containerBytes, nested = false), path, containerBytes,
          mediaRef.substring(h + 1)))
      }
      .nextOption()

  /** The member of a container whose ref segment heads `tail`:
    * `<segment>` alone → (member, ""), `<segment>#<rest>` → (member,
    * rest).
    */
  private def headed[M](tail: String, members: Iterator[M])(
      segment: M => String): Option[(M, String)] =
    members.map(m => (m, segment(m))).collectFirst {
      case (m, s) if tail == s => (m, "")
      case (m, s) if tail.startsWith(s + "#") =>
        (m, tail.substring(s.length + 1))
    }

  private def fetch(format: String, path: String, bytes: Array[Byte],
                    tail: String): Option[Array[Byte]] = {
    // a member's own bytes, or a ref inside it routed by its name
    def inMember(seg: String, name: String, body: Array[Byte],
                 rest: String): Option[Array[Byte]] =
      if (rest.isEmpty) Some(body)
      else memberKind(name).flatMap(k =>
        fetch(sniff(k, body, nested = true), s"$path#$seg", body, rest))
    def attachment(atts: Iterator[(Int, String, Array[Byte])]) =
      headed(tail, atts)(a => s"a${a._1}:${a._2}").flatMap {
        case ((i, name, body), rest) => inMember(s"a$i:$name", name, body, rest)
      }
    format match {
      case c if CodecExt(c) => innerKind(path, c).flatMap { k =>
        val inflated = Codecs.inflate(c, bytes)
        fetch(sniff(k, inflated, nested = false), path, inflated, tail)
      }
      case "warc" =>
        headed(tail, WarcExtractor.records(bytes).iterator.zipWithIndex)(
            r => s"r${r._2}").flatMap {
          case ((rec, _), "") => Some(rec.body)
          case ((rec, i), rest) => recordRoute(rec).flatMap(r =>
            fetch(r._2, s"$path#r$i", rec.body, rest))
        }
      case f @ ("zip" | "archive") =>
        headed(tail, members(f, bytes).iterator)(_.name)
          .flatMap { case (en, rest) =>
            inMember(en.name, en.name, en.body, rest) }
      case "mbox" =>
        headed(tail, EmlExtractor.mboxMessages(bytes).iterator.zipWithIndex)(
            m => s"m${m._2}").flatMap {
          case ((msg, i), rest) => fetch("eml", s"$path#m$i", msg, rest)
        }
      case "eml" =>
        if (tail.startsWith("p")) EmlExtractor.mediaPayload(bytes, tail)
        else attachment(EmlExtractor.parse(bytes).attachments.iterator
          .map(a => (a.idx, a.filename, a.body)))
      case "pdf" =>
        val doc = RealPdf.open(bytes)
        if (tail.startsWith("img")) {
          val colon = tail.indexOf(':')
          if (colon < 0 || !tail.startsWith("obj", colon + 1)) None
          else tail.substring(colon + 4).toIntOption
            .flatMap(n => RealPdf.imageCodecBytes(doc, n))
        } else attachment(RealPdf.attachments(doc).iterator
          .map(a => (a.idx, a.name, a.body)))
      case "json" => JsonlExtractor.routeJson(bytes).left.toOption
        .flatMap(_ => IpynbExtractor.mediaPayload(bytes, tail))
      case "ipynb" => IpynbExtractor.mediaPayload(bytes, tail)
      case "docx" => DocxExtractor.mediaPayload(bytes, tail)
      case "epub" => EpubExtractor.mediaPayload(bytes, tail)
      case "pptx" => PptxExtractor.mediaPayload(bytes, tail)
      case "odt" => OdtExtractor.mediaPayload(bytes, tail)
      case "rtf" => RtfExtractor.mediaPayload(bytes, tail)
      case "doc" => DocExtractor.mediaPayload(bytes, tail)
      case "xls" => XlsExtractor.mediaPayload(bytes, tail)
      case "ppt" => PptExtractor.mediaPayload(bytes, tail)
      case _ => None
    }
  }

  /** Read a directory tree of raw files as InputDocs. `doc_id` is the
    * file path relative to `dir` (the reference's RELATIVE_PATH).
    */
  def read(spark: SparkSession, dir: String): Dataset[InputDoc] = {
    import spark.implicits._
    val root = if (dir.endsWith("/")) dir else dir + "/"
    // ONE typed flatMap over ONE binaryFile scan, all suffix routing in
    // Scala via [[decodeAny]] — the exact dispatch the streaming source
    // uses, so batch and streaming cannot drift (pinned by the
    // ingest-routing fuzz suite). The r05 shape was a UNION of a text
    // branch and a media branch, each with a ~35-branch case-when kind
    // column: that plan cost ~0.25 s of Catalyst analysis/optimization
    // PER ACTION (measured, guide §7.3 driver-side work) — more than
    // the whole scan at bench scale — and scanned the file set twice.
    // Byte traffic does not regress: a computed-column filter never
    // pushed into binaryFile, so the old text branch already
    // materialized every file's content including media files.
    spark.read.format("binaryFile")
      .option("recursiveFileLookup", "true").load(dir)
      .select(col("path"), col("content"))
      .flatMap(r => decodeAny(r.getString(0),
        r.getAs[Array[Byte]]("content"), root))
  }

  /** Spans-table ingestion from self-describing formats: the engine's
    * canonical parquet shape read instead from JSON lines (schema
    * enforced — a malformed file fails fast, it doesn't infer a wrong
    * shape). CSV cannot hold the nested spans array; for CSV interchange
    * use one-span-per-row staging via [[fromFlatSpans]].
    */
  def readSpansJson(spark: SparkSession, path: String): Dataset[InputDoc] = {
    import spark.implicits._
    spark.read.schema(
        "doc_id STRING, spans ARRAY<STRUCT<kind: STRING, text: STRING, " +
        "media_ref: STRING, offset: INT>>")
      .option("mode", "FAILFAST") // malformed line = job error, not a
                                  // silent all-null row extraction drops
      .json(path).as[InputDoc]
  }

  /** Assemble InputDocs from a FLAT one-span-per-row table (the shape CSV
    * or a relational staging table can hold): groupBy doc_id +
    * collect_list, offsets preserved in the span structs (extraction
    * re-sorts by ExtractionSpec.spanOrdering, so list order is free).
    * One shuffle by doc_id — the same partitioning extraction wants.
    */
  def fromFlatSpans(flat: DataFrame): Dataset[InputDoc] = {
    import flat.sparkSession.implicits._
    flat.select(col("doc_id"), struct(col("kind"), col("text"),
        col("media_ref"), col("offset").cast("int").as("offset")).as("s"))
      .groupBy("doc_id")
      .agg(collect_list(col("s")).as("spans"))
      .as[InputDoc]
  }
}
