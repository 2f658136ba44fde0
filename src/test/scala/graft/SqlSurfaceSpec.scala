package graft

import graft.gen.CorpusGen
import graft.oracle.RefOracle
import graft.pipeline.ExtractJob
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** SQL-surface parity: the reference's LITERAL serving SQL (modulo
  * doc_name→doc_id) runs unchanged via spark.sql over our output table —
  * a user of the reference can keep their queries.
  */
class SqlSurfaceSpec extends AnyFunSuite with BeforeAndAfterAll with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private lazy val ready: Unit = {
    spark.sparkContext.setLogLevel("WARN")
    val out = tempDir("graft-sql").toString
    ExtractJob.run(spark, CorpusGen.dataset(spark, 400, 42L),
      ExtractJob.Config(out, "sql", groups = 1, partitions = 8))
    ExtractJob.chunksView(spark, out)
      .createOrReplaceTempView("document_chunks")
  }

  test("Q1 catalog SQL (streamlit_app.py:402-412) runs verbatim incl. extracted_at") {
    ready
    val rows = spark.sql(
      """SELECT doc_id,
                MAX(page) as total_pages,
                COUNT(*) as chunk_count,
                MIN(extracted_at) as first_extracted,
                MAX(extracted_at) as last_extracted
         FROM document_chunks
         GROUP BY doc_id
         ORDER BY doc_id""").collect()
    assert(rows.nonEmpty)
    // spot-check one doc against the oracle
    val d = rows.head
    val want = RefOracle.extract(
      CorpusGen.doc(42L, d.getString(0).stripPrefix("doc_").toLong)).chunks
    assert(d.getInt(1) == want.map(_.page).max)
    assert(d.getLong(2) == want.size)
    assert(!d.getTimestamp(3).after(d.getTimestamp(4)))
  }

  test("Q2 page-content SQL (streamlit_app.py:418-427) runs verbatim, reading order holds") {
    ready
    val doc = spark.sql(
      "SELECT doc_id FROM document_chunks GROUP BY doc_id " +
      "HAVING COUNT(*) >= 3 ORDER BY doc_id LIMIT 1")
      .collect()(0).getString(0)
    val rows = spark.sql(
      s"""SELECT chunk_id, text, bbox_x0, bbox_y0, bbox_x1, bbox_y1,
                 page_width, page_height
          FROM document_chunks
          WHERE doc_id = '$doc' AND page = 1
          ORDER BY bbox_y0 DESC, bbox_x0""").collect()
    assert(rows.nonEmpty)
    val ys = rows.map(_.getDouble(3))
    assert(ys.sameElements(ys.sorted.reverse))
  }

  test("Q3 summary SQL (streamlit_app.py:598-604) runs verbatim") {
    ready
    val doc = spark.sql(
      "SELECT doc_id FROM document_chunks LIMIT 1").collect()(0).getString(0)
    val r = spark.sql(
      s"""SELECT COUNT(*) as chunk_count, MAX(page) as page_count
          FROM document_chunks WHERE doc_id = '$doc'""").collect()(0)
    assert(r.getLong(0) > 0 && r.getInt(1) >= 1)
  }

  test("all graft native expressions are SQL-registrable and match the API") {
    ready
    import spark.implicits._
    org.apache.spark.sql.GraftExprBridge.registerAll(spark)
    Seq("alpha beta gamma delta", "one two", "naïve 中文 x y z")
      .toDF("t").createOrReplaceTempView("t_native")
    val viaSql = spark.sql(
      """SELECT graft_simhash64(t), graft_rolling_hash64(t),
                graft_minhash_sig(t, 2, 8), graft_shingle_hashes(t, 2),
                graft_text_embed(t, 16)
         FROM t_native""").collect()
    val viaApi = spark.table("t_native").select(
      graft.functions.Natives.simhash64(org.apache.spark.sql.functions.col("t")),
      graft.ops.TextOps.rollingFingerprint(org.apache.spark.sql.functions.col("t")),
      graft.ops.Dedup.minhashSignature(org.apache.spark.sql.functions.col("t"), 2, 8),
      graft.functions.Natives.shingleHashes(org.apache.spark.sql.functions.col("t"), 2),
      graft.ops.Similarity.embedText(org.apache.spark.sql.functions.col("t"), 16))
      .collect()
    viaSql.zip(viaApi).foreach { case (a, b) =>
      assert(a.getLong(0) == b.getLong(0))
      assert(a.getLong(1) == b.getLong(1))
      assert(a.getSeq[Long](2) == b.getSeq[Long](2))
      assert(a.getSeq[Long](3) == b.getSeq[Long](3))
      assert(a.getSeq[Float](4) == b.getSeq[Float](4))
    }
    // non-literal parameter is rejected with a clear error
    val err = intercept[Exception] {
      spark.sql("SELECT graft_text_embed(t, length(t)) FROM t_native")
        .collect()
    }
    assert(err.getMessage.contains("integer literal") ||
      Option(err.getCause).exists(_.getMessage.contains("integer literal")))
    // a wrong argument count fails with the name and the count it takes
    for ((q, name, n) <- Seq(
        ("graft_simhash64(t, 5)", "graft_simhash64", 1),
        ("graft_text_embed(t, 4, 7)", "graft_text_embed", 2),
        ("graft_minhash_sig(t, 2, 4, 9)", "graft_minhash_sig", 3),
        ("graft_simhash64()", "graft_simhash64", 1),
        ("graft_minhash_sig(t, 2)", "graft_minhash_sig", 3))) {
      val e = intercept[Exception] {
        spark.sql(s"SELECT $q FROM t_native").collect()
      }
      val msgs = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).map(m => String.valueOf(m.getMessage)).toSeq
      assert(msgs.exists(m => m.contains(name) && m.contains(s"takes $n")),
        s"$q: ${msgs.mkString(" / ")}")
    }
  }
}
