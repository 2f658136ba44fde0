package graft.extract

import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.JsonNode
import Item.{Media, Text}

/** Jupyter notebook (`.ipynb`) front end — the document class code
  * corpora ship in volume (GitHub alone hosts ~10M notebooks; The
  * Stack / StarCoder training sets carve them out as a first-class
  * source). The reference ingests PDFs only
  * (/root/reference/setup.sql:44-45); a notebook is the same
  * interleaved text+media problem in JSON clothing, so it decodes at
  * the ingest boundary into the one span vocabulary.
  *
  * == Cell semantics ==
  *
  * nbformat 4: cells under top-level `cells`; nbformat 3: cells under
  * `worksheets[*].cells` (flattened in worksheet order, code source
  * under `input`). A cell's `source` may be one string or an array of
  * line strings (joined verbatim — the array form is the on-disk
  * convention). Per cell type:
  *
  *   - `markdown` → through [[MdExtractor]] WHOLESALE (headings,
  *     paragraphs, fenced code, pipe tables — the engine's markdown
  *     semantics apply unchanged). Image refs: `attachment:<name>`
  *     resolves against the cell's `attachments` map and mints an
  *     in-file media span (`att<cell>:<name>`, payload via
  *     [[mediaPayload]]) — a ref naming a MISSING attachment drops
  *     (the `.doc` ghost-anchor rule: never mint an unresolvable
  *     ref); anything else (http/data/relative) passes VERBATIM as
  *     an external reference, exactly like a standalone `.md`.
  *   - `code` → the source is ONE verbatim "text" block (trailing
  *     whitespace trimmed; empty cells vanish) — the fenced-code
  *     posture. Outputs, in order: `execute_result`/`display_data`
  *     (v3: `pyout`/`display_data`) contribute an in-file media span
  *     per image payload (`out<cell>:<idx>`, first of png/jpeg/gif)
  *     or, imageless, their `text/plain` repr as a verbatim block;
  *     `stream` and `error` outputs drop — logs and tracebacks are
  *     noise, not content.
  *   - `raw` and unknown cell types drop (nbconvert's default).
  *
  * Malformed JSON, non-object roots, and cell-less objects degrade to
  * zero items — never throw, never mojibake. Parsing is Jackson
  * (Spark's own JSON dependency), like [[JsonlExtractor]].
  */
object IpynbExtractor {

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private val ImageMimes = Seq("image/png", "image/jpeg", "image/gif")
  // nbformat 3 spells output image payloads as bare keys
  private val V3ImageKeys = Seq("png", "jpeg")

  /** The notebook's cells in document order (v4 `cells`, v3
    * `worksheets[*].cells`); empty on anything unparseable.
    */
  private def cells(bytes: Array[Byte]): Vector[JsonNode] = {
    val root =
      try mapper.readTree(bytes)
      catch { case _: Exception => return Vector.empty }
    if (root == null || !root.isObject) return Vector.empty
    val cs = root.get("cells")
    if (cs != null && cs.isArray) cs.elements.asScala.toVector
    else {
      val ws = root.get("worksheets")
      if (ws == null || !ws.isArray) Vector.empty
      else ws.elements.asScala.toVector.flatMap { w =>
        val c = w.get("cells")
        if (c != null && c.isArray) c.elements.asScala.toVector
        else Vector.empty
      }
    }
  }

  /** `source`-style values are one string or an array of line strings. */
  private def joined(n: JsonNode): String =
    if (n == null) ""
    else if (n.isTextual) n.asText
    else if (n.isArray)
      n.elements.asScala.map(e => if (e.isTextual) e.asText else "")
        .mkString
    else ""

  private def cellType(c: JsonNode): String = {
    val t = c.get("cell_type")
    if (t != null && t.isTextual) t.asText else ""
  }

  /** The notebook as ordered items; empty on anything unparseable. */
  def items(bytes: Array[Byte]): Vector[Item] =
    cells(bytes).zipWithIndex.flatMap { case (c, ci) =>
      cellType(c) match {
        case "markdown" => markdownItems(c, ci)
        case "code" => codeItems(c, ci)
        case _ => Vector.empty // raw / unknown
      }
    }

  private def markdownItems(c: JsonNode, ci: Int): Vector[Item] = {
    val atts = c.get("attachments")
    MdExtractor.items(joined(c.get("source"))).flatMap {
      case Media(_, ref, _) if ref.startsWith("attachment:") =>
        val name = ref.stripPrefix("attachment:")
        val resolvable = atts != null && atts.has(name) &&
          ImageMimes.exists(m => atts.get(name).has(m))
        if (resolvable) Some(Media("image", s"att$ci:$name", inFile = true))
        else None // ghost ref: never mint an unresolvable media span
      case other => Some(other) // text blocks, external refs verbatim
    }
  }

  private def codeItems(c: JsonNode, ci: Int): Vector[Item] = {
    // v4 `source`, v3 `input`
    val srcNode = Option(c.get("source")).getOrElse(c.get("input"))
    val code = joined(srcNode).replaceAll("\\s+$", "")
    val head = if (code.isEmpty) Vector.empty else Vector(Text(code))
    val outs = c.get("outputs")
    val tail =
      if (outs == null || !outs.isArray) Vector.empty
      else outs.elements.asScala.toVector.zipWithIndex.flatMap {
        case (o, oi) =>
          val ot = {
            val t = o.get("output_type")
            if (t != null && t.isTextual) t.asText else ""
          }
          if (ot != "execute_result" && ot != "display_data" &&
              ot != "pyout") Vector.empty // stream/error noise
          else {
            val data = o.get("data")
            val hasImage =
              (data != null && ImageMimes.exists(data.has)) ||
              (data == null && V3ImageKeys.exists(o.has))
            if (hasImage) Vector(Media("image", s"out$ci:$oi", inFile = true))
            else {
              val tp =
                if (data != null) joined(data.get("text/plain"))
                else joined(o.get("text")) // v3 pyout repr
              val t = tp.replaceAll("\\s+$", "")
              if (t.isEmpty) Vector.empty else Vector(Text(t))
            }
          }
      }
    head ++ tail
  }

  /** Resolve one in-file media ref minted by [[items]]
    * (`att<cell>:<name>` / `out<cell>:<idx>`) to its image bytes —
    * MIME-style base64 (embedded newlines tolerated), first present of
    * png/jpeg/gif. None for malformed refs or notebooks.
    */
  def mediaPayload(bytes: Array[Byte], ref: String): Option[Array[Byte]] = {
    val colon = ref.indexOf(':')
    if (colon < 0) return None
    val tail = ref.substring(colon + 1)
    val cs = cells(bytes)
    def decode(b64: String): Option[Array[Byte]] =
      try Some(java.util.Base64.getMimeDecoder.decode(b64))
      catch { case _: IllegalArgumentException => None }
    if (ref.startsWith("att")) {
      for {
        ci <- ref.substring(3, colon).toIntOption
        if ci >= 0 && ci < cs.length
        atts <- Option(cs(ci).get("attachments"))
        entry <- Option(atts.get(tail))
        mime <- ImageMimes.find(entry.has)
        bytes <- decode(joined(entry.get(mime)))
      } yield bytes
    } else if (ref.startsWith("out")) {
      for {
        ci <- ref.substring(3, colon).toIntOption
        oi <- tail.toIntOption
        if ci >= 0 && ci < cs.length
        outs <- Option(cs(ci).get("outputs"))
        if outs.isArray && oi >= 0 && oi < outs.size
        o = outs.get(oi)
        b64 <- {
          val data = o.get("data")
          if (data != null)
            ImageMimes.find(data.has).map(m => joined(data.get(m)))
          else V3ImageKeys.find(o.has).map(k => joined(o.get(k)))
        }
        bytes <- decode(b64)
      } yield bytes
    } else None
  }
}
