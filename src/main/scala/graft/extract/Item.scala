package graft.extract

/** One front-end item, in document order — the vocabulary every
  * ingest front end decodes into and [[graft.sources.RawFiles]]
  * assembles into spans ("text" spans and media spans, offsets in item
  * order).
  */
sealed trait Item

object Item {

  /** A retained text block (paragraph, heading, cue, TSV table…). */
  final case class Text(text: String) extends Item

  /** A media occurrence by reference: kind ∈ image/audio/video. The
    * front end that mints `ref` sets `inFile` when its own
    * `mediaPayload` resolves the ref against the container's bytes;
    * ingest then prefixes the ref with `<path>#`. Otherwise the ref is
    * external (a URL, a relative path) and passes verbatim.
    */
  final case class Media(kind: String, ref: String, inFile: Boolean)
      extends Item

  // `String.matches` semantics kept exactly (anchored, ASCII
  // case-insensitive, `.` stops at line terminators), compiled once
  private val WebUrl = java.util.regex.Pattern.compile("(?i)(https?|data):.*")
  private val MailUrl =
    java.util.regex.Pattern.compile("(?i)(https?|data|cid):.*")

  /** A container-resolved ref: in-file unless it is an http(s)/data
    * URL (the EPUB/PPTX/ODT rule).
    */
  def packaged(kind: String, ref: String): Media =
    Media(kind, ref, !isWebUrl(ref))

  /** `ref` is an http(s)/data URL (ASCII case-insensitive scheme). */
  def isWebUrl(ref: String): Boolean = WebUrl.matcher(ref).matches()

  /** An email body ref: in-file unless it is an http(s)/data URL or an
    * unresolved `cid:` reference.
    */
  def mailed(kind: String, ref: String): Media =
    Media(kind, ref, !MailUrl.matcher(ref).matches())
}
