package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd URL canonicalization — the r06 replacement for the
  * composed five-regexp Catalyst pipeline in
  * [[graft.ops.TextOps.canonicalUrl]] (which evaluated a regex filter
  * lambda per query parameter interpreted: the q_url_canonical scan was
  * a 0.4 s single task at sf0.1). The transformation is replicated
  * OP-FOR-OP with the same java.util.regex engine Spark's regexp
  * functions use, so outputs are byte-identical:
  *
  *   1. strip `#fragment` (`#.*$` → "");
  *   2. lowercase the `scheme://authority` prefix
  *      (`^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)`) via
  *      UTF8String.toLowerCase (Spark's `lower`);
  *   3. drop default ports `:80` (http) / `:443` (https);
  *   4. drop tracking query params (utm_*, gclid, fbclid, mc_cid,
  *      mc_eid, ref), keeping parameter order (split on `&` with
  *      trailing empties, like Spark's `split`);
  *   5. strip one trailing `/`.
  *
  * The independent oracle twin stays
  * [[graft.oracle.PlainOracles.canonicalUrlPlain]] (a single-pass char
  * walk — a different mechanism entirely).
  */
object CanonicalUrl {
  // the same pattern strings as the composed form, compiled once
  private val Frag = java.util.regex.Pattern.compile("#.*$")
  private val Prefix =
    java.util.regex.Pattern.compile("^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)")
  private val Http80 =
    java.util.regex.Pattern.compile("^(http://[^/?#]*):80([/?#]|$)")
  private val Https443 =
    java.util.regex.Pattern.compile("^(https://[^/?#]*):443([/?#]|$)")
  private val Tracking = java.util.regex.Pattern.compile(
    "^(utm_[a-z0-9_]*|gclid|fbclid|mc_cid|mc_eid|ref)=")
  private val TrailSlash = java.util.regex.Pattern.compile("/$")

  def compute(url: UTF8String): UTF8String = {
    val noFrag = Frag.matcher(url.toString).replaceAll("")
    val pm = Prefix.matcher(noFrag)
    val prefix = if (pm.find()) pm.group(1) else ""
    val lowered =
      if (prefix.isEmpty) noFrag
      else UTF8String.fromString(prefix).toLowerCase.toString +
        noFrag.substring(prefix.length)
    val noPort = Https443.matcher(
      Http80.matcher(lowered).replaceAll("$1$2")).replaceAll("$1$2")
    val qpos = noPort.indexOf('?') + 1 // 1-based, 0 when absent (instr)
    val base = if (qpos == 0) noPort else noPort.substring(0, qpos - 1)
    val rebuilt =
      if (qpos == 0) base
      else {
        // split keeps trailing empties (Spark split limit -1)
        val params = noPort.substring(qpos).split("&", -1)
        val kept = params.filter(p => !Tracking.matcher(p).find())
        val joined = kept.mkString("&")
        if (joined.isEmpty) base else base + "?" + joined
      }
    UTF8String.fromString(TrailSlash.matcher(rebuilt).replaceAll(""))
  }
}
