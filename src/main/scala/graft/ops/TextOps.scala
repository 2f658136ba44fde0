package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * token counting, quality scoring, language-ID heuristic, document
  * fingerprinting. All pure Catalyst column expressions (whole-stage
  * codegen; no UDFs) so they survive a 100x scale-up unchanged, and each
  * has an exact ANSI-SQL twin for the DuckDB oracle.
  */
object TextOps {

  /** Whitespace token count: size(split(text, ' ')) counting empties —
    * exact twin: len(string_split(text, ' ')).
    */
  def tokenCount(text: Column): Column = size(split(text, " "))

  /** BPE-ish subword proxy: count of letter-digit boundary segments via a
    * regex token class — ~ #tokens a byte-pair encoder would floor at.
    * Twin: length(regexp_replace(..)) arithmetic (see oracle SQL).
    */
  def wordCount(text: Column): Column =
    when(!text.rlike("[A-Za-z0-9]"), 0) // no alnum content at all
      .otherwise(
        size(split(text, "[^A-Za-z0-9]+")) -
          when(text.rlike("^[^A-Za-z0-9]"), 1).otherwise(0) -
          when(text.rlike("[^A-Za-z0-9]$"), 1).otherwise(0))

  /** GPT-2-style pre-tokenizer count — the standard LLM-token budget
    * estimate (contraction suffixes, space-prefixed letter runs, digit
    * runs, punctuation runs, whitespace runs). The published GPT-2
    * pattern's trailing-space lookahead is dropped so the regex stays
    * RE2-compatible (DuckDB twin runs it verbatim); for budget estimation
    * the off-by-a-few on trailing whitespace is irrelevant, and the
    * DuckDB-vs-Java agreement is what the driver gate checks.
    */
  private[graft] val BpePattern =
    "'(?:[sdmt]|ll|ve|re)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+"
  def bpeTokenCount(text: Column): Column =
    size(call_function("regexp_extract_all", text, lit(BpePattern), lit(0)))

  /** Learn a byte-level BPE merge table from the corpus — the trainable
    * counterpart of the [[bpeTokenCount]] estimate. The heavy part stays
    * distributed: pre-tokenize + word-frequency aggregate over the whole
    * input, then only the top `maxWords` (word, count) rows — a bounded,
    * sf-independent table like IVF's centroid sample — reach the driver
    * for the merge loop ([[graft.functions.BpeTokenize.learnMerges]]).
    * Apply with `graft.functions.Natives.bpeTokenize`: a native
    * expression, zero shuffle, model shipped once per executor via the
    * codegen reference (a broadcast-sized object, not per-row state).
    */
  def trainBpe(df: DataFrame, textCol: String, numMerges: Int,
               maxWords: Int = 5000): Seq[(String, String)] = {
    val wordCounts = df
      .select(explode(call_function("regexp_extract_all", col(textCol),
        lit(BpePattern), lit(0))).as("w"))
      .groupBy("w").count()
      .orderBy(col("count").desc, col("w").asc)
      .limit(maxWords)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    graft.functions.BpeTokenize.learnMerges(wordCounts, numMerges)
  }

  /** Train the Stupid-Backoff bigram LM
    * ([[graft.functions.NgramLmScore]]) from the corpus: two
    * distributed frequency aggregates (whitespace unigrams; adjacent
    * bigrams via a zip-shift transform — no UDF, no shuffle beyond the
    * groupBys), with only the top (count desc, gram asc) `maxVocab` /
    * `maxBigrams` rows reaching the driver. `total` is the FULL sample
    * token count, so pruning only affects which grams keep exact
    * probabilities, never the mass denominator.
    */
  def trainNgramLm(df: DataFrame, textCol: String, maxVocab: Int,
                   maxBigrams: Int): graft.functions.NgramLm = {
    val toks = df.select(
      filter(split(col(textCol), " "), w => length(w) > 0).as("ws"))
    val unigrams = toks.select(explode(col("ws")).as("w"))
    // ONE pass for total + vocab (r06): rollup(w) emits the per-word
    // counts AND the () grand-total row in the same partial-aggregated
    // job; the total row's count >= every word's count, so it is always
    // the first row of the (count desc, w asc nulls-first) top-k — the
    // old separate unigrams.count() job re-scanned and re-exploded the
    // sample for one number
    // the unigram and bigram top-k aggregates are independent bounded
    // jobs — overlap them ([[Par]]); results unchanged
    val ((vocab, total), bigrams) = Par.overlap(
      {
        val vocabAndTotal = unigrams.rollup("w").count()
          .orderBy(col("count").desc, col("w").asc_nulls_first)
          .limit(maxVocab + 1)
          .collect()
        val tot = vocabAndTotal.find(_.isNullAt(0)).map(_.getLong(1))
          .getOrElse(0L)
        val voc = vocabAndTotal.iterator.filter(!_.isNullAt(0))
          .map(r => (r.getString(0), r.getLong(1))).toMap
        (voc, tot)
      },
      toks
        .where(size(col("ws")) >= 2)
        .select(explode(zip_with(
          slice(col("ws"), lit(1), size(col("ws")) - 1),
          slice(col("ws"), lit(2), size(col("ws")) - 1),
          (a, b) => concat(a, lit(" "), b))).as("g"))
        .groupBy("g").count()
        .orderBy(col("count").desc, col("g").asc).limit(maxBigrams)
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap)
    graft.functions.NgramLm(vocab, bigrams, total)
  }

  /** Whitespace/control normalization: control bytes (C0 + DEL) become
    * spaces, whitespace runs collapse to one space, ends trimmed — the
    * standard first pass of every cleaning pipeline. Codegen'd regexp
    * chain; exact RE2 twin runs verbatim in DuckDB.
    */
  def normalizeWs(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(text, "[\\x00-\\x1F\\x7F]", " "), "\\s+", " "))

  /** Dedup-canonical form: lowercase, every non-alphanumeric run → one
    * space, trimmed — the key text for exact-dup hashing across
    * formatting variants (case, punctuation, spacing).
    */
  def canonicalText(text: Column): Column =
    trim(regexp_replace(lower(text), "[^a-z0-9]+", " "))

  /** All http(s) URLs in `text` (the scheme plus the maximal
    * non-whitespace tail) — the extraction step of a web corpus's
    * provenance/domain-filter stage (C4's blocklist, CCNet's per-domain
    * stats run on exactly this). Codegen'd `regexp_extract_all`; the
    * pattern is RE2-compatible for the DuckDB twin.
    */
  /** Hyphenation repair for extracted text: `-` + line break followed
    * by a LOWERCASE letter is a typesetting line-wrap artifact (PDF /
    * book column wrap) — the word halves rejoin; continuations starting
    * upper/digit keep the hyphen and the break (compound names,
    * ranges). Conservative by design: never invents joins the
    * typesetter didn't force. Codegen'd regexp, RE2-compatible
    * (verbatim DuckDB twin in `q_dehyphenate`).
    */
  def dehyphenate(text: Column): Column =
    regexp_replace(text, "-\\r?\\n([a-z])", "$1")

  /** Sentence segmentation for training-data pipelines (sentence-level
    * dedup / quality scoring / pretraining unit splitting): a sentence
    * is a maximal run of non-terminator chars plus its closing
    * `[.!?]+` run, or the unterminated tail. Deliberately simple — no
    * abbreviation lexicon (declared; "Mr. Smith" splits), which keeps
    * the rule a single leftmost-first regex that RE2 and Java execute
    * identically (verbatim DuckDB twin in `q_sentences`). Codegen'd
    * `regexp_extract_all`; callers posexplode + trim + drop blanks.
    */
  def sentences(text: Column): Column =
    regexp_extract_all(text, lit("[^.!?]+[.!?]+|[^.!?]+$"), lit(0))

  def extractUrls(text: Column): Column =
    regexp_extract_all(text, lit("https?://[^\\s]+"), lit(0))

  /** The registrable host of one URL: the authority up to the first
    * `/`, `?` or `#`. */
  def urlDomain(url: Column): Column =
    regexp_extract(url, "^https?://([^/?#]+)", 1)

  /** C4/CCNet-style URL canonicalization — the key under which web
    * provenance dedups ("same page, different crawl artifacts"):
    *
    *   1. fragment dropped (`#…` is client-side);
    *   2. scheme + authority lowercased (they are case-insensitive by
    *      RFC 3986; paths are NOT touched);
    *   3. default ports dropped (`http://h:80`, `https://h:443`);
    *   4. tracking parameters removed — `utm_*`, `gclid`, `fbclid`,
    *      `mc_cid`, `mc_eid`, `ref` (split the query on `&`, drop
    *      matching `name=` tokens, rejoin; an emptied query drops its
    *      `?`);
    *   5. one trailing `/` dropped.
    *
    * All codegen'd expressions (regexp steps + higher-order
    * filter/array_join) — no UDF; map-side only, so canonical-key
    * dedup shuffles canonical strings, never documents. The oracle is
    * a fully independent char-walk twin
    * ([[graft.oracle.PlainOracles.canonicalUrlPlain]]).
    */
  def canonicalUrl(url: Column): Column =
    graft.functions.Natives.canonicalUrl(url)

  /** Pre-r06 composed five-regexp form — the in-engine reference the
    * native [[graft.functions.CanonicalUrl]] is parity-tested against
    * (OpsSpec); the independent oracle twin remains
    * PlainOracles.canonicalUrlPlain.
    */
  private[graft] def canonicalUrlComposed(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*$", "")
    val prefix =
      regexp_extract(noFrag, "^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)", 1)
    val lowered = when(length(prefix) === 0, noFrag)
      .otherwise(concat(lower(prefix),
        noFrag.substr(length(prefix) + lit(1), length(noFrag))))
    val noPort = regexp_replace(
      regexp_replace(lowered, "^(http://[^/?#]*):80([/?#]|$)", "$1$2"),
      "^(https://[^/?#]*):443([/?#]|$)", "$1$2")
    val qpos = instr(noPort, "?")
    val base = when(qpos === 0, noPort)
      .otherwise(noPort.substr(lit(1), qpos - 1))
    val query = noPort.substr(qpos + 1, length(noPort))
    val kept = filter(split(query, "&"), x =>
      !x.rlike("^(utm_[a-z0-9_]*|gclid|fbclid|mc_cid|mc_eid|ref)="))
    val joined = array_join(kept, "&")
    val rebuilt = when(qpos === 0 || joined === "", base)
      .otherwise(concat(base, lit("?"), joined))
    regexp_replace(rebuilt, "/$", "")
  }

  /** Mean token length over whitespace tokens. */
  def meanTokenLen(text: Column): Column =
    (length(text) - (tokenCount(text) - 1)).cast("double") /
      tokenCount(text).cast("double")

  /** Stopword ratio for quality scoring (boilerpipe/jusText-style):
    * occurrences of common English function words per token.
    */
  def stopwordHits(text: Column): Column = {
    val padded = concat(lit(" "), text, lit(" "))
    Seq("the", "a", "of", "and", "to", "in", "is").map { w =>
      val pat = s" $w "
      // non-overlapping count: (len - len(replace)) / len(pat)... but
      // " the the " overlaps on the shared space; count via split instead.
      (size(split(padded, s"\\Q$pat\\E")) - 1).cast("long")
    }.reduce(_ + _)
  }

  /** Composite quality score in [0,1]: length band + mean-token-length
    * band + stopword presence. Deterministic, SQL-expressible.
    */
  def qualityScore(text: Column): Column = {
    val lenOk = when(length(text).between(50, 20000), 0.4).otherwise(0.0)
    val mtl = meanTokenLen(text)
    val mtlOk = when(mtl.between(2.5, 12.0), 0.3).otherwise(0.0)
    val stopOk = when(stopwordHits(text) > 0, lit(0.3)).otherwise(lit(0.0))
    round(lenOk + mtlOk + stopOk, 1)
  }

  /** Language-ID n-gram/stopword heuristic. Deterministic cascade;
    * exact SQL twin via CASE + regexp.
    */
  def langIdGuess(text: Column): Column =
    graft.functions.Natives.langGuess(text)

  /** Pre-r06 composed rlike/contains cascade — the in-engine reference
    * the native [[graft.functions.LangGuess]] is parity-tested against
    * (OpsSpec); the DuckDB twin runs the same cascade in SQL.
    */
  private[graft] def langIdGuessComposed(text: Column): Column = {
    val padded = concat(lit(" "), lower(text), lit(" "))
    when(text.rlike("[\\u4e00-\\u9fff]"), "zh")
      .when(text.rlike("[\\u3040-\\u30ff]"), "ja")
      .when(text.rlike("[\\u0400-\\u04ff]"), "ru")
      .when(padded.contains(" el ") || padded.contains(" los ") ||
            padded.contains(" una "), "es")
      .when(padded.contains(" der ") || padded.contains(" und ") ||
            padded.contains(" ist "), "de")
      .when(padded.contains(" le ") || padded.contains(" les ") ||
            padded.contains(" une "), "fr")
      .otherwise("en")
  }

  /** 64-bit content fingerprints: xxhash64 (Spark-native) and a true
    * polynomial rolling hash (Rabin-Karp base 31 mod 2^64, native
    * expression [[graft.functions.RollingHash64]]). No DuckDB twin →
    * checked by Scala reference-implementation tests; the SQL-oracled
    * exact dedup uses md5 instead.
    */
  /** RAG-style token-window chunking: fixed-size sliding windows with
    * overlap (`stride` < `size` ⇒ overlapping context) over whitespace
    * tokens — the serving-side text chunker a retrieval pipeline pairs
    * with the positional `ex_chunks`. Window starts run 1, 1+stride,
    * 1+2·stride, … while start ≤ n; windows past the text end clamp
    * shorter (slice semantics), so the final one may hold fewer than
    * `size` tokens. When `stride` ≤ `size` (the overlapping-chunk
    * configuration) every token lands in at least one window — no
    * silent tail loss; `stride` > `size` deliberately SUBSAMPLES
    * (inter-window gaps of stride − size tokens by construction). A
    * short or empty text yields exactly one window.
    * Pure Catalyst (sequence + transform + slice), stays in whole-stage
    * codegen; callers explode the array — one narrow pass, no shuffle.
    */
  def tokenWindowChunks(text: Column, size: Int, stride: Int): Column = {
    require(size > 0 && stride > 0, "size and stride must be positive")
    val ws = split(text, " ")
    val starts = sequence(lit(1),
      greatest(org.apache.spark.sql.functions.size(ws), lit(1)),
      lit(stride))
    transform(starts, st => concat_ws(" ", slice(ws, st, lit(size))))
  }

  // ---------- repetition signals (Gopher-style) ----------

  /** Fraction of distinct words (Rae et al. 2021, "Scaling Language
    * Models" appendix A1.1 — the published repetition-filter family a
    * web-scale corpus applies before training; low distinct fraction ⇒
    * boilerplate/spam). Words = `split(text, " ")` keeping empties, the
    * same tokenization as [[tokenCount]]; rounded to 4 decimals
    * (HALF_UP) so the independent twin compares exactly. Pure Catalyst,
    * no shuffle — survives any scale as a map-side column.
    */
  def distinctWordFrac(text: Column): Column = {
    val ws = split(text, " ")
    round(size(array_distinct(ws)).cast("double") / size(ws), 4)
  }

  /** Fraction of DUPLICATED word 2-grams: `1 − distinct/total` over the
    * adjacent-pair grams (the Gopher "duplicate n-gram" signal at n=2).
    * Built with sequence+transform over the split array — stays inside
    * whole-stage codegen, no explode, no shuffle. Texts with fewer than
    * two words score 0.0.
    */
  def dup2gramFrac(text: Column): Column = {
    val ws = split(text, " ")
    val n = size(ws)
    val grams = transform(sequence(lit(1), n - 1),
      i => concat(element_at(ws, i), lit(" "), element_at(ws, i + 1)))
    when(n < 2, lit(0.0)).otherwise(
      round(lit(1.0) -
        size(array_distinct(grams)).cast("double") / size(grams), 4))
  }

  def fingerprint(text: Column): Column = xxhash64(text)

  def rollingFingerprint(text: Column): Column =
    graft.functions.Natives.rollingHash64(text)

  /** Truncated preview ≅ the reference's 300/200/50-char truncations
    * (streamlit_app.py:364-374,689,733).
    */
  def preview(text: Column, n: Int): Column = substring(text, 1, n)

  /** PII scrubbing for training corpora: emails, NANP-style phone
    * numbers, and dotted-quad IPs replaced with typed placeholder tokens.
    * Patterns use only constructs with identical semantics in Java regex
    * and RE2 (character classes, bounded repetition — no lookaround, no
    * \\b) so the DuckDB twin matches byte-for-byte. Pure Catalyst
    * regexp_replace chain — codegen'd, one pass each.
    */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhonePattern = "[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}"
  val Ipv4Pattern =
    "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"

  def redactPii(text: Column): Column = {
    val e = regexp_replace(text, EmailPattern, "<EMAIL>")
    val p = regexp_replace(e, PhonePattern, "<PHONE>")
    regexp_replace(p, Ipv4Pattern, "<IP>")
  }

  /** Count of PII hits — the audit metric a pipeline logs per shard.
    * Counts on the SEQUENTIALLY redacted intermediates (phone on the
    * email-redacted text, IP on the phone-redacted text) so the total
    * equals exactly the number of placeholders [[redactPii]] writes even
    * when patterns overlap (e.g. a phone number inside an email local
    * part is one <EMAIL>, not one of each).
    */
  def piiHits(text: Column): Column = {
    val afterEmail = regexp_replace(text, EmailPattern, "<EMAIL>")
    val afterPhone = regexp_replace(afterEmail, PhonePattern, "<PHONE>")
    size(split(text, EmailPattern)) - 1 +
      (size(split(afterEmail, PhonePattern)) - 1) +
      (size(split(afterPhone, Ipv4Pattern)) - 1)
  }
}
