package graft.gen

/** One ground-truth span row, as a generator knows it before any parser
  * sees its bytes: the `(doc_id, kind, text, media_ref, ord)` vocabulary
  * of the extraction output. `media_ref` is already reduced to the form
  * the driver-contract query compares (its path-independent tail, or the
  * verbatim external reference); generators whose format carries no
  * media set it to null.
  */
final case class GtRow(doc_id: String, kind: String, text: String,
                       media_ref: String, ord: Int)

/** One ground-truth table row: the TSV of the `ord`-th table-bearing
  * span of a document.
  */
final case class TsvRow(doc_id: String, ord: Int, tsv: String)
