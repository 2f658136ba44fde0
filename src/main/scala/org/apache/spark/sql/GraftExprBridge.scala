package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.StructType

/** Bridge to sql-private helpers (Column <-> Expression) for graft's
  * custom expressions, and to frames over binary rows for
  * [[graft.pipeline.ExtractJob]] — the standard extension-library pattern (cf.
  * SNIPPETS.md [2]/[3]: third-party strategies live in this package for
  * the same reason).
  */
object GraftExprBridge {
  def column(e: Expression): Column =
    classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression =
    classic.ExpressionUtils.expression(c)
  /** A DataFrame over rows already in Catalyst's binary form: no object
    * encoder runs when it is planned or read.
    */
  def internalFrame(spark: SparkSession, rows: RDD[InternalRow],
                    schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(rows, schema)

  /** Register a 1-arg expression constructor as a SQL function. */
  def register(spark: SparkSession, name: String,
               ctor: Expression => Expression): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, exprs => ctor(exprs.head), "scala_udf")

  /** Register an n-arg expression constructor as a SQL function (the
    * trailing args beyond the first must be foldable int literals for
    * graft's parameterized expressions — validated by the ctor itself).
    */
  def registerN(spark: SparkSession, name: String,
                ctor: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, exprs => ctor(exprs), "scala_udf")

  /** Register every graft native expression for SQL use:
    * graft_simhash64(text), graft_minhash_sig(text, w, k),
    * graft_shingle_hashes(text, w), graft_text_embed(text, dim),
    * graft_rolling_hash64(text), graft_langid(text). Int parameters
    * must be literals.
    */
  def registerAll(spark: SparkSession): Unit = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    def intLit(e: Expression, what: String): Int = e match {
      case Literal(v: Int, _) => v
      case other => throw new IllegalArgumentException(
        s"$what must be an integer literal, got $other")
    }
    register(spark, "graft_simhash64", graft.functions.SimHash64(_))
    register(spark, "graft_langid", graft.functions.TrigramLangId(_))
    register(spark, "graft_rolling_hash64",
      graft.functions.RollingHash64(_))
    registerN(spark, "graft_minhash_sig", es =>
      graft.functions.MinHashSig(es.head,
        intLit(es(1), "w"), intLit(es(2), "k")))
    registerN(spark, "graft_shingle_hashes", es =>
      graft.functions.ShingleHashes(es.head, intLit(es(1), "w")))
    registerN(spark, "graft_text_embed", es =>
      graft.functions.TextEmbed(es.head, intLit(es(1), "dim")))
  }
}
