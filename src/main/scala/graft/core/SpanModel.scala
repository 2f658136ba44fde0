package graft.core

/** Data model for the interleaved text+media document table and the
  * extraction outputs.
  *
  * Input shape (north-rule `input_hint`; ≅ reference stage directory rows,
  * /root/reference/setup.sql:44-45):
  *   docs(doc_id string, spans array<struct<kind,text,media_ref,offset>>)
  *
  * Output invariant: per-doc span sequence equality on
  * (kind, text, media_ref, order) — see SURVEY.md §1.2 / FIXTURES.md §2.
  */

/** One element of a document's content stream.
  *
  * `kind` vocabulary: "pdf" (positional content-stream payload), "html"
  * (markup payload, boilerplate stripping applies), "text" (plain
  * passthrough), "image"/"video"/"audio" (media passthrough: text null,
  * media_ref set). ≅ the `isinstance(lobj, LTTextBox)` type test at
  * reference setup.sql:88, generalized.
  */
case class Span(kind: String, text: String, media_ref: String, offset: Int)

/** One input document row. */
case class InputDoc(doc_id: String, spans: Seq[Span])

/** One emitted span; `order` is the 0-based position in the document's
  * extracted sequence (reading order for pdf content, document order for
  * html/text, offset order for media — see ExtractionSpec).
  */
case class OutSpan(doc_id: String, kind: String, text: String,
                   media_ref: String, order: Int)

/** ≅ reference `document_chunks` (setup.sql:109-124). PDF coordinate
  * system: origin (0,0) at bottom-left (setup.sql:114); `page` 1-based
  * (setup.sql:79); chunk_id format "<doc>_p<page>_c<n>" with n =
  * row_number over (page, x0, y0) global per doc (setup.sql:238-239).
  */
case class Chunk(chunk_id: String, doc_id: String, page: Int, text: String,
                 bbox_x0: Double, bbox_y0: Double,
                 bbox_x1: Double, bbox_y1: Double,
                 page_width: Double, page_height: Double)

/** A positioned text run produced by the pdf tokenizer — the analog of a
  * pdfminer layout char/line fragment before LAParams grouping
  * (setup.sql:72-91). Coordinates are PDF-style bottom-left origin.
  */
case class Run(page: Int, x0: Double, y0: Double, x1: Double, y1: Double,
               text: String)

/** A grouped text box (≅ pdfminer LTTextBox) with its page dims. */
case class TextBox(page: Int, x0: Double, y0: Double, x1: Double, y1: Double,
                   pageWidth: Double, pageHeight: Double, text: String)

/** Full per-document extraction result. */
case class DocResult(doc_id: String, outSpans: Seq[OutSpan],
                     chunks: Seq[Chunk])

/** The precise, implementation-independent semantics both the Spark-side
  * [[graft.extract.Extractor]] and the oracle-side [[graft.oracle.RefOracle]] implement.
  * Reproduces the observable behavior of the reference's pdfminer pass
  * (setup.sql:52-102), its reading order (streamlit_app.py:426) and its
  * chunk-id numbering (setup.sql:238-239); the html/text/media handling is
  * the north-rule extension (SURVEY.md §7.4).
  *
  * == Per-document algorithm ==
  *
  * Process the doc's spans sorted by (offset, kind, media_ref, text)
  * ascending (nulls sort first for the string tiebreaks). Maintain a
  * document-global 1-based page counter across all pdf spans.
  *
  * For each span, in that order, emit output spans:
  *
  *  - kind "pdf": tokenize `text` as a content stream (see
  *    [[graft.extract.PdfTokenizer]]), cluster runs into lines then boxes
  *    per page (see [[graft.extract.Layout]]), and emit one OutSpan per
  *    box with kind "pdf" and text = box text, ordered by
  *    (page asc, y0 desc, x0 asc, x1 asc, text asc) — the reference's
  *    reading order (streamlit_app.py:426) with deterministic tiebreaks.
  *  - kind "html": parse `text` as markup, strip boilerplate
  *    ([[graft.extract.HtmlExtractor]]), emit one OutSpan per retained
  *    block with kind "html" and the block's normalized text, PLUS one
  *    media OutSpan (kind image/video/audio, text null, media_ref =
  *    entity-decoded src) per visible media occurrence — `<img>`,
  *    `<video>`/`<audio>` direct src, `<source>` inside an open
  *    video/audio — interleaved at tag position in document order (a
  *    media tag inside a not-yet-flushed block precedes that block;
  *    media in boilerplate containers or raw-text interiors is
  *    dropped). Full grammar: HtmlExtractor scaladoc.
  *  - kind "text": emit one OutSpan with kind "text" and text verbatim
  *    (null text ⇒ empty string).
  *  - any other kind (media): emit one OutSpan with the span's kind,
  *    text = null, media_ref passed through.
  *
  * `order` = 0-based index in the resulting document-level sequence.
  *
  * == Chunks ==
  *
  * Over ALL pdf boxes of the document (all pdf spans), sorted by
  * (page, x0, y0, y1, text), assign 1-based n and chunk_id =
  * s"${doc_id}_p${page}_c${n}" — the reference's global-per-doc
  * ROW_NUMBER with (page, x0, y0) keys (setup.sql:238-239).
  */
object ExtractionSpec {
  val MediaKinds: Set[String] = Set("image", "video", "audio")
  val DefaultPageWidth  = 612.0   // US-Letter fallback, streamlit_app.py:182-189
  val DefaultPageHeight = 792.0

  /** Canonical input-span processing order. */
  def spanOrdering: Ordering[Span] =
    Ordering.by(s => (s.offset, s.kind, Option(s.media_ref).getOrElse(""),
                      Option(s.text).getOrElse("")))

  /** Reading order for text boxes (streamlit_app.py:426 + tiebreaks). */
  def readingOrder: Ordering[TextBox] =
    Ordering.by(b => (b.page, -b.y0, b.x0, b.x1, b.text))

  /** chunk_id numbering order (setup.sql:239 + tiebreaks). */
  def chunkIdOrder: Ordering[TextBox] =
    Ordering.by(b => (b.page, b.x0, b.y0, b.y1, b.text))
}

/** Unified per-emission output row — one extraction pass produces one
  * table; the `spans` view is (doc_id, kind, text, media_ref, order) and
  * the `chunks` view is the rows where chunk_id is non-null (pdf text
  * boxes, ≅ reference document_chunks). One pass, one write: at 10^12-doc
  * scale the views are column-pruned reads of the same files.
  */
case class ExtractedRow(
  doc_id: String, kind: String, text: String, media_ref: String, order: Int,
  chunk_id: String, chunk_n: Option[Int], page: Option[Int],
  bbox_x0: Option[Double], bbox_y0: Option[Double],
  bbox_x1: Option[Double], bbox_y1: Option[Double],
  page_width: Option[Double], page_height: Option[Double])

/** Per-partition lineage/metrics sidecar row (north-rule requirement;
  * generalizes the reference's processed-count counter, setup.sql:259-274).
  * `bytes_in` is the UTF-8 byte count of the docs' span texts, the cost
  * the skew decision sums.
  */
case class PartitionMetrics(
  run_id: String, group: Int, partition_id: Int, task_attempt: Long,
  doc_count: Long, span_count: Long, out_span_count: Long,
  chunk_count: Long, text_spans: Long, media_spans: Long,
  bytes_in: Long, duration_ms: Long, status: String)
