package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One-pass corpus quality report for a training-data pipeline: volume,
  * token distribution, language mix, duplication rate — the numbers a
  * data curator reads before training. Single aggregation job; every
  * statistic is a plain Catalyst aggregate (SQL-oracle-able).
  */
object CorpusReport {

  def summarize(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = TextOps.tokenCount(col(textCol)).cast("long")
    df.agg(
      count(lit(1)).as("n_docs"),
      sum(length(col(textCol)).cast("long")).as("total_chars"),
      sum(toks).as("total_tokens"),
      round(avg(toks), 4).as("avg_tokens"),
      round(expr(s"percentile(CAST(length($textCol) AS BIGINT), 0.5)"), 1)
        .as("p50_chars"),
      round(expr(s"percentile(CAST(length($textCol) AS BIGINT), 0.95)"), 1)
        .as("p95_chars"),
      countDistinct(md5(col(textCol))).as("distinct_texts"),
      (count(lit(1)) - countDistinct(md5(col(textCol))))
        .as("exact_dup_docs"))
  }

  /** Per-language breakdown via the langid heuristic. */
  def byLanguage(df: DataFrame, textCol: String): DataFrame =
    df.groupBy(TextOps.langIdGuess(col(textCol)).as("lang_guess"))
      .agg(count(lit(1)).as("n"),
           round(avg(length(col(textCol))), 2).as("avg_chars"))
      .orderBy("lang_guess")

  /** Same per-language rollup under the 25-language trigram classifier
    * ([[graft.functions.TrigramLangId]]) — the corpus-routing report a
    * multilingual pipeline actually keys shards on.
    */
  def byLanguageTrigram(df: DataFrame, textCol: String): DataFrame =
    df.groupBy(graft.functions.Natives.langId(col(textCol))
        .as("lang"))
      .agg(count(lit(1)).as("n"),
           round(avg(length(col(textCol))), 2).as("avg_chars"))
      .orderBy("lang")
}
