package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Lexical (BM25) and hybrid lexical+vector retrieval — the public-
  * knowledge Spark analog of the reference's hybrid Cortex Search service
  * (/root/reference/setup.sql:182-201, streamlit_app.py:284-298): the
  * managed service fuses a keyword index with vector similarity; here the
  * keyword half is an ANSI-expressible BM25 over whitespace tokens and
  * the fusion is reciprocal-rank fusion (RRF), the same scheme hybrid
  * search engines document publicly.
  *
  * Scale notes: [[bm25Scores]] makes two passes — one 1-row corpus-stats
  * aggregate (N, avgdl, per-term df) and one codegen'd scoring scan with
  * the stats broadcast back (BroadcastNestedLoopJoin on a single row). On
  * a production corpus the stats pass is amortized: N/avgdl/df come from
  * a tiny precomputed term-statistics table maintained incrementally, and
  * the scoring scan is the only per-query work. Top-k is
  * TakeOrderedAndProject — no global sort. RRF fuses bounded top-M
  * candidate lists (the standard practice at scale: fuse heads, not the
  * full corpus ranking).
  */
object Search {

  /** Per-document BM25 score for `terms` (Robertson k1/b, Lucene's
    * "plus one" idf: ln(1 + (N - df + 0.5)/(df + 0.5)) — always >= 0).
    * Tokens are lowercased whitespace splits, matching TextOps/Dedup
    * tokenization (and the DuckDB twin's string_split).
    */
  def bm25Scores(df: DataFrame, idCol: String, textCol: String,
                 terms: Seq[String], k1: Double = 1.2, b: Double = 0.75)
      : DataFrame = {
    require(terms.nonEmpty, "bm25Scores needs at least one query term")
    // r06: dl + per-term tfs come from ONE native byte-pass
    // (graft.functions.TermFreqs) instead of a split(lower) plus an
    // interpreted filter-HOF per term; tokenization/equality semantics
    // are identical (parity pinned in SearchSpec + the DuckDB twin).
    // The pass is projected once as its own column, which the
    // element_at reads share: CollapseProject keeps a non-cheap alias
    // that is read more than once in its own projection.
    val tfdl = graft.functions.Natives.termFreqs(col(textCol),
      terms.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8)).toArray)
    val perDoc = df.select(col(idCol), tfdl.as("tfdl")).select(
      col(idCol) +: element_at(col("tfdl"), 1).as("dl") +:
        terms.indices.map(i =>
          element_at(col("tfdl"), i + 2).as(s"tf$i")): _*)
    val aggs = count(lit(1)).as("n") +: avg(col("dl")).as("avgdl") +:
      terms.indices.map(i =>
        sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i"))
    val stats = perDoc.agg(aggs.head, aggs.tail: _*)
    val scored = perDoc.crossJoin(broadcast(stats))
    // expression shape mirrors the DuckDB twin op-for-op so the doubles
    // match bit-exactly (left-assoc products, same literal constants)
    val score = terms.indices.map { i =>
      val tf = col(s"tf$i").cast("double")
      val idf = log(lit(1.0) +
        (col("n") - col(s"df$i") + lit(0.5)) / (col(s"df$i") + lit(0.5)))
      idf * tf * lit(k1 + 1.0) /
        (tf + lit(k1) * (lit(1.0 - b) +
          lit(b) * col("dl").cast("double") / col("avgdl")))
    }.reduce(_ + _)
    scored.select(col(idCol), score.as("score"))
  }

  /** BM25 top-k: scores rounded for oracle comparability, ordered by raw
    * score (desc) then id.
    */
  def bm25TopK(df: DataFrame, idCol: String, textCol: String,
               terms: Seq[String], k: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25Scores(df, idCol, textCol, terms, k1, b)
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
      .select(col(idCol), round(col("score"), 6).as("score"))

  /** 1-based dense candidate ranks for the top `m` of `scored` by
    * (scoreCol desc, idCol asc). The head is a TakeOrderedAndProject of
    * ≤ m rows by construction, so it is ranked DRIVER-side (like the IVF
    * codebook collects) — the previous global-Window formulation was
    * equally bounded but spammed every log with single-partition
    * WindowExec warnings, burying real regressions (VERDICT r02 #7).
    */
  private def topRanks(scored: DataFrame, idCol: String, scoreCol: String,
                       m: Int): DataFrame = {
    val spark = scored.sparkSession
    val idType = scored.schema(idCol).dataType
    val head = scored
      .orderBy(col(scoreCol).desc, col(idCol).asc).limit(m)
      .select(col(idCol)).collect() // ≤ m (default 100) rows — bounded
    val rows: Seq[org.apache.spark.sql.Row] =
      head.toSeq.zipWithIndex.map { case (r, i) =>
        org.apache.spark.sql.Row(r.get(0), i + 1)
      }
    spark.createDataFrame(
      new java.util.ArrayList(
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", idType),
        org.apache.spark.sql.types.StructField("rank",
          org.apache.spark.sql.types.IntegerType, nullable = false))))
  }

  /** Reciprocal-rank fusion of two scored candidate lists:
    * rrf(d) = Σ_side 1/(kRrf + rank_side(d)) over the sides' top-m heads
    * (absent side contributes 0). Returns the fused top-k.
    */
  def hybridTopK(lexical: DataFrame, lexIdCol: String, lexScoreCol: String,
                 vector: DataFrame, vecIdCol: String, vecScoreCol: String,
                 k: Int, m: Int = 100, kRrf: Int = 60): DataFrame = {
    // the two candidate heads are independent bounded jobs ([[Par]])
    val (lr, vr) = Par.overlap(
      topRanks(lexical, lexIdCol, lexScoreCol, m)
        .withColumnRenamed("rank", "rank_lex"),
      topRanks(vector, vecIdCol, vecScoreCol, m)
        .withColumnRenamed("rank", "rank_vec"))
    lr.join(vr, Seq("id"), "full_outer")
      .select(col("id"),
        (coalesce(lit(1.0) / (lit(kRrf) + col("rank_lex")), lit(0.0)) +
         coalesce(lit(1.0) / (lit(kRrf) + col("rank_vec")), lit(0.0)))
          .as("rrf"))
      .orderBy(col("rrf").desc, col("id").asc)
      .limit(k)
      .select(col("id"), round(col("rrf"), 6).as("rrf"))
  }
}
