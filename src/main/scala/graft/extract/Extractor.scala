package graft.extract

import graft.core._
import scala.collection.mutable.ArrayBuffer

/** Per-document extraction: the Spark-side implementation of
  * [[graft.core.ExtractionSpec]]. This is the function applied inside the
  * pipeline's single `mapPartitions` stage — the distributed replacement
  * for the reference's sequential per-document cursor loop
  * (/root/reference/setup.sql:225-260).
  *
  * Pure (no Spark imports): unit-testable and shared by nothing — the
  * test oracle [[graft.oracle.RefOracle]] is an independent implementation
  * of the same spec.
  */
object Extractor {

  /** An emission before global numbering: a box (pdf) or a plain span. */
  private final case class Emit(kind: String, text: String,
                                media_ref: String, box: TextBox)

  /** One pass over the document → unified rows (spans + chunk columns).
    * Emission order IS the output `order`; chunk numbering is assigned by
    * the (page, x0, y0) sort over the same boxes (setup.sql:238-239).
    */
  def extractRows(doc: InputDoc): Vector[ExtractedRow] = {
    val spans =
      if (doc.spans == null) Vector.empty
      else doc.spans.sorted(ExtractionSpec.spanOrdering)
    val emits = new ArrayBuffer[Emit]
    var pageCounter = 0 // document-global, 1-based across pdf spans

    spans.foreach { s =>
      s.kind match {
        case "pdf" =>
          val pages = PdfTokenizer.tokenize(s.text, pageCounter + 1)
          if (pages.nonEmpty) pageCounter = pages.last.page
          pages.flatMap(Layout.boxesOf).sorted(ExtractionSpec.readingOrder)
            .foreach(b => emits += Emit("pdf", b.text, null, b))
        case "html" =>
          HtmlExtractor.items(s.text).foreach {
            case Item.Text(t) => emits += Emit("html", t, null, null)
            case Item.Media(k, ref, _) => emits += Emit(k, null, ref, null)
          }
        case "text" =>
          emits += Emit("text", if (s.text == null) "" else s.text, null, null)
        case _ => // media passthrough, ordered by offset via spanOrdering
          emits += Emit(s.kind, null, s.media_ref, null)
      }
    }

    // chunk numbering: 1-based over all boxes sorted by chunkIdOrder —
    // comparator-based stable sort (identical comparisons to the old
    // (page, x0, y0, y1, text) Tuple5 sortBy, minus its per-box tuple
    // and boxed-Double allocation; r06 hot-path trim)
    val boxEmits = emits.iterator.zipWithIndex.filter(_._1.box != null).toArray
    val chunkN = new java.util.HashMap[Int, Int] // emit index -> n
    java.util.Arrays.sort(boxEmits,
      new java.util.Comparator[(Emit, Int)] {
        override def compare(a: (Emit, Int), b: (Emit, Int)): Int = {
          val ba = a._1.box; val bb = b._1.box
          val cp = Integer.compare(ba.page, bb.page)
          if (cp != 0) return cp
          val cx = java.lang.Double.compare(ba.x0, bb.x0)
          if (cx != 0) return cx
          val cy0 = java.lang.Double.compare(ba.y0, bb.y0)
          if (cy0 != 0) return cy0
          val cy1 = java.lang.Double.compare(ba.y1, bb.y1)
          if (cy1 != 0) return cy1
          ba.text.compareTo(bb.text)
        }
      })
    boxEmits.iterator.zipWithIndex.foreach { case ((_, ei), i) =>
      chunkN.put(ei, i + 1)
    }

    emits.iterator.zipWithIndex.map { case (e, i) =>
      if (e.box != null) {
        val b = e.box
        val n = chunkN.get(i)
        ExtractedRow(doc.doc_id, e.kind, e.text, e.media_ref, i,
          s"${doc.doc_id}_p${b.page}_c$n", Some(n), Some(b.page),
          Some(b.x0), Some(b.y0), Some(b.x1), Some(b.y1),
          Some(b.pageWidth), Some(b.pageHeight))
      } else {
        ExtractedRow(doc.doc_id, e.kind, e.text, e.media_ref, i,
          null, None, None, None, None, None, None, None, None)
      }
    }.toVector
  }

  /** Typed views for the tests / oracle comparison. */
  def extract(doc: InputDoc): DocResult = {
    val rows = extractRows(doc)
    val outs = rows.map(r =>
      OutSpan(r.doc_id, r.kind, r.text, r.media_ref, r.order))
    val chunks = rows.filter(_.chunk_n.isDefined).sortBy(_.chunk_n.get)
      .map(r => Chunk(r.chunk_id, r.doc_id, r.page.get, r.text,
        r.bbox_x0.get, r.bbox_y0.get, r.bbox_x1.get, r.bbox_y1.get,
        r.page_width.get, r.page_height.get))
    DocResult(doc.doc_id, outs, chunks)
  }
}
