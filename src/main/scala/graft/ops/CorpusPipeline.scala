package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end training-corpus cleaning: the composition a data pipeline
  * actually runs over raw text shards, built entirely from the oracled
  * operators in this package:
  *
  *   0. dehyphenation + normalization (TextOps.dehyphenate /
  *                             TextOps.normalizeWs — opt-in, lossless)
  *   0½. domain blocklist     (drop docs citing a blocked domain —
  *                             opt-in, the C4-style provenance gate)
  *   1. PII scrubbing         (TextOps.redactPii)
  *   2. quality gate          (TextOps.qualityScore >= minQuality;
  *                             opt-in Gopher repetition gate)
  *   3. language filter       (langClassifier ∈ keepLangs, if set:
  *                             "heuristic" langIdGuess or "trigram"
  *                             TrigramLangId)
  *   3½. LM quality gate      (NgramLmScore ≥ minLmScore — opt-in,
  *                             CCNet-style; model trained from the
  *                             corpus itself, bounded driver work)
  *   4. exact dedup           (min-id keeper per md5 digest)
  *   5. near-dup removal      (MinHash-LSH pairs → connected components)
  *   6. benchmark decontamination (Dedup.contaminationReport ≥ threshold
  *                             → drop; the GPT-3-appendix step — optional,
  *                             runs when an eval set is supplied)
  *   7. duplicated-window cut (Dedup.cutDuplicatedWindows, optional)
  *   7½. sentence dedup       (Dedup.sentenceDedup — opt-in, corpus-wide
  *                             first-occurrence boilerplate removal)
  *
  * Returns the cleaned (id, text) table plus a per-stage retention report
  * — every stage is one or two shuffles, nothing collects the corpus, and
  * each underlying operator carries its own driver-gate oracle, so the
  * composition inherits verified semantics.
  */
object CorpusPipeline {

  case class Config(
    minQuality: Double = 0.5,
    keepLangs: Seq[String] = Seq.empty, // empty = keep all
    // "heuristic" = TextOps.langIdGuess (6-language cascade, SQL twin);
    // "trigram" = functions.TrigramLangId (25-language Cavnar-Trenkle
    // classifier, native expression — the production choice)
    langClassifier: String = "heuristic",
    nearDupMinJaccard: Double = 0.9,
    minhashW: Int = 3, minhashK: Int = 64, minhashBands: Int = 16,
    cutWindowTokens: Int = 0, // 0 = skip the substring-cut stage
    contaminationW: Int = 13, // GPT-3's 13-gram collision window
    maxContamination: Double = 0.0, // drop when rate > this (0 = any hit)
    // Gopher-style repetition gate (TextOps.distinctWordFrac /
    // dup2gramFrac): drop docs below the distinct-word floor or above
    // the duplicate-2-gram ceiling. The defaults disable the gate so
    // existing pipelines and their oracled stage counts are unchanged.
    minDistinctWordFrac: Double = 0.0,
    maxDup2gramFrac: Double = 1.0,
    // pass 0: whitespace/control normalization (TextOps.normalizeWs) —
    // opt-in, applied before PII scrubbing; drops nothing
    normalize: Boolean = false,
    // pass 0 (opt-in, before normalizeWs — the line breaks it needs are
    // collapsed by normalization): typesetting hyphen-wrap repair
    // (TextOps.dehyphenate); drops nothing
    dehyphenate: Boolean = false,
    // stage 7½ (opt-in): corpus-wide sentence dedup — every sentence
    // keeps only its globally-first occurrence (Dedup.sentenceDedup,
    // the CCNet paragraph-hash pattern); docs cut to empty drop
    sentenceDedup: Boolean = false,
    // stage 0½: drop any doc whose text cites a blocked domain (C4's
    // badwords/blocklist gate, applied to provenance instead of
    // content). Empty = stage skipped; map-side higher-order filter,
    // no shuffle.
    blockedDomains: Seq[String] = Seq.empty,
    // CCNet-style LM quality gate (functions.NgramLmScore): train a
    // Stupid-Backoff bigram LM on the first lmTrainDocs of the
    // language-filtered corpus and drop docs whose mean log10 prob
    // falls below the floor. None = stage skipped.
    minLmScore: Option[Double] = None,
    lmTrainDocs: Int = 1000,
    lmMaxVocab: Int = 5000,
    lmMaxBigrams: Int = 20000)

  case class StageCount(stage: String, docs: Long)

  /** Run the pipeline. Returns (cleaned df with columns (idCol, textCol),
    * per-stage doc counts in execution order). `evalSet` supplies the
    * held-out benchmark texts (one column named `textCol`) for the
    * decontamination stage; None skips it.
    */
  def clean(df: DataFrame, idCol: String, textCol: String,
            cfg: Config = Config(),
            evalSet: Option[DataFrame] = None)
      : (DataFrame, Seq[StageCount]) = {
    val counts = Seq.newBuilder[StageCount]
    def count(stage: String, d: DataFrame): DataFrame = {
      counts += StageCount(stage, d.count()); d
    }

    val input = df.select(col(idCol), col(textCol))
    counts += StageCount("input", input.count())

    // pass 0 (opt-in, lossless): hyphen-wrap repair first (it needs the
    // raw line breaks), then control/whitespace normalization — makes
    // every downstream regex and token boundary well-behaved
    val dehyphenated =
      if (!cfg.dehyphenate) input
      else input.withColumn(textCol, TextOps.dehyphenate(col(textCol)))
    val normalized =
      if (!cfg.normalize) dehyphenated
      else dehyphenated
        .withColumn(textCol, TextOps.normalizeWs(col(textCol)))

    // stage 0½ (opt-in): provenance blocklist BEFORE the redaction
    // checkpoint — dropped docs never pay the PII regex chain, and the
    // filter is a codegen'd exists() over the extracted URLs
    val domainOk =
      if (cfg.blockedDomains.isEmpty) normalized
      else count("domain_filter", normalized.where(!exists(
        TextOps.extractUrls(col(textCol)),
        u => TextOps.urlDomain(u).isin(cfg.blockedDomains: _*))))

    // materialize the redacted corpus ONCE — every later stage count and
    // both dedup passes would otherwise re-run the scan + three regex
    // passes from source
    val redacted = domainOk.withColumn(textCol,
      TextOps.redactPii(col(textCol))).localCheckpoint()

    val quality0 = count("quality_gate", redacted.where(
      TextOps.qualityScore(col(textCol)) >= cfg.minQuality))

    // repetition gate (map-side columns, no shuffle): skipped entirely
    // at the no-op defaults so the stage list stays stable for callers
    // that don't opt in
    val repGateOn = cfg.minDistinctWordFrac > 0.0 ||
      cfg.maxDup2gramFrac < 1.0
    val quality =
      if (!repGateOn) quality0
      else count("repetition_gate", quality0.where(
        TextOps.distinctWordFrac(col(textCol)) >= cfg.minDistinctWordFrac &&
        TextOps.dup2gramFrac(col(textCol)) <= cfg.maxDup2gramFrac))

    val langExpr =
      if (cfg.langClassifier == "trigram")
        graft.functions.Natives.langId(col(textCol))
      else TextOps.langIdGuess(col(textCol))
    val lang = count("lang_filter",
      if (cfg.keepLangs.isEmpty) quality
      else quality.where(langExpr.isin(cfg.keepLangs: _*)))

    // LM quality gate (opt-in): bounded driver-side model training
    // (trainNgramLm collects only top-K gram counts), map-side scoring
    val lmGated = cfg.minLmScore match {
      case None => lang
      case Some(floor) =>
        val lm = TextOps.trainNgramLm(
          lang.orderBy(col(idCol)).limit(cfg.lmTrainDocs), textCol,
          cfg.lmMaxVocab, cfg.lmMaxBigrams)
        count("lm_gate", lang.where(
          graft.functions.Natives.ngramLmScore(col(textCol), lm) >= floor))
    }

    // exact dedup: keep the min-id row per identical text. The digest
    // groupBy shuffles (digest, id) only; the keeper join is id-equi.
    // Checkpoint BEFORE counting so the count and the two downstream
    // consumers (near-dup pairs + removal anti-join) share one execution.
    val keepers = Dedup.exactDedupKeepers(lmGated, idCol, textCol)
      .select(col("keeper_id").as(idCol))
    val exact = count("exact_dedup",
      lmGated.join(keepers, Seq(idCol)).localCheckpoint())

    val pairs = Dedup.minhashLshPairs(exact, idCol, textCol,
        cfg.minhashW, cfg.minhashK, cfg.minhashBands)
      .where(col("est_jaccard") >= cfg.nearDupMinJaccard)
    val nearDeduped = count("near_dedup",
      Dedup.removeNearDups(exact, idCol, pairs).localCheckpoint())

    // decontamination AFTER dedup: the window explode runs on the
    // smallest corpus, and the eval windows stay a broadcast-scale
    // distinct hash set (Dedup.contaminationReport). Docs with fewer
    // than w tokens have no windows — absent from the report, kept.
    val decontaminated = evalSet match {
      case None => nearDeduped
      case Some(bench) =>
        val leaked = Dedup.contaminationReport(nearDeduped, idCol, textCol,
            bench, textCol, cfg.contaminationW)
          .where(col("rate") > cfg.maxContamination)
          .select(col("id").as(idCol))
        count("decontaminate",
          nearDeduped.join(leaked, Seq(idCol), "left_anti")
            .localCheckpoint())
    }

    // after cutting, drop docs whose remaining text is empty (a fully
    // duplicated doc collapses to "") — they carry no training signal,
    // and dropping them makes this stage's retention count meaningful
    val cut =
      if (cfg.cutWindowTokens <= 0) decontaminated
      else count("window_cut",
        Dedup.cutDuplicatedWindows(decontaminated, idCol, textCol,
            cfg.cutWindowTokens)
          .select(col("id").as(idCol), col("text_clean").as(textCol))
          .where(length(col(textCol)) > 0))

    // stage 7½ (opt-in): boilerplate-sentence removal — the duplicate-
    // detection exchange carries (id, sent_id, hash) only; docs whose
    // every sentence was a later copy collapse to "" and drop
    val out =
      if (!cfg.sentenceDedup) cut
      else count("sentence_dedup",
        Dedup.sentenceDedup(cut, idCol, textCol)
          .select(col("id").as(idCol), col("clean_text").as(textCol))
          .where(length(col(textCol)) > 0))

    (out, counts.result())
  }

  /** Deterministic train/validation split: a doc lands in the split whose
    * [0,1) interval contains xxhash64(salt, id)/2^64 — a pure function of
    * the id, so the assignment is identical under any partitioning,
    * executor count, or re-run (the reproducibility property a training
    * pipeline needs; `salt` yields independent re-splits). Returns the
    * input plus a `split` column. No shuffle — one codegen'd projection.
    */
  def assignSplit(df: DataFrame, idCol: String,
                  fractions: Seq[(String, Double)], salt: Long = 0L)
      : DataFrame = {
    require(fractions.nonEmpty && fractions.forall(_._2 >= 0) &&
      math.abs(fractions.map(_._2).sum - 1.0) < 1e-9,
      "fractions must be non-negative and sum to 1")
    // u = hash mapped into [0,1): (h >>> 11) * 2^-53 — 53 uniform bits,
    // exactly representable, twin-reproducible in plain Scala
    val u = shiftrightunsigned(xxhash64(lit(salt), col(idCol)), 11)
      .cast("double") * lit(1.0 / (1L << 53))
    val cuts = fractions.map(_._2).scanLeft(0.0)(_ + _).tail
    val expr = fractions.zip(cuts).reverse.tail.foldLeft(
      lit(fractions.last._1)) { case (acc, ((name, _), cut)) =>
        when(u < cut, name).otherwise(acc)
      }
    df.withColumn("split", expr)
  }

  /** Deterministic stratified subsampling — the per-source re-weighting
    * step a web-scale corpus mix applies (C4's source weights, Raffel
    * et al. 2020 §2.2; Gopher's dataset sampling table, Rae et al.
    * 2021): keep a row iff u(id) < fraction(stratum), with the SAME
    * 53-bit hash→[0,1) mapping as [[assignSplit]] — so the draw is a
    * pure function of (salt, id), identical under any partitioning or
    * re-run, and independent across salts. Strata absent from
    * `fractions` use `defaultFraction`. One codegen'd filter, no
    * shuffle.
    */
  def sampleStratified(df: DataFrame, idCol: String, stratumCol: String,
                       fractions: Map[String, Double],
                       defaultFraction: Double,
                       salt: Long = 0L): DataFrame = {
    require((fractions.values ++ Seq(defaultFraction))
      .forall(f => f >= 0.0 && f <= 1.0), "fractions must be in [0,1]")
    val u = shiftrightunsigned(xxhash64(lit(salt), col(idCol)), 11)
      .cast("double") * lit(1.0 / (1L << 53))
    val frac = fractions.toSeq.sortBy(_._1).foldLeft(lit(defaultFraction)) {
      case (acc, (k, v)) => when(col(stratumCol) === k, v).otherwise(acc)
    }
    df.where(u < frac)
  }

  /** Per-source quota cap — the C4/RefinedWeb-style "domain cap" a
    * web-scale corpus applies so no single site dominates training data
    * (Raffel et al. 2020 §2.2; Penedo et al. 2023 §3.3 — published
    * pipeline steps, re-expressed as one ranked window). Keeps at most
    * `k` rows per `sourceCol` value, deterministically ranked by
    * `orderCol` (pass a hash column for an unbiased cap; an id column
    * for a reproducible oracle-able one). Returns the kept rows plus
    * their 1-based `src_rank`.
    *
    * Scale: one shuffle on the source key (the window partition). A
    * pathological mega-source funnels to one task; at that skew, first
    * cut the candidate set with a broadcast of
    * `df.groupBy(source).count` and per-source random thresholds ~k/n,
    * then rank only survivors — the window shape below is unchanged.
    */
  def capPerSource(df: DataFrame, sourceCol: String, orderCol: String,
                   k: Int): DataFrame = {
    require(k > 0, "cap must be positive")
    df.withColumn("src_rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(sourceCol).orderBy(orderCol)))
      .where(col("src_rank") <= k)
  }
}
