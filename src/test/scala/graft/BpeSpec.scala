package graft

import graft.functions.{BpeTokenize, Natives}
import graft.ops.TextOps
import graft.oracle.PlainOracles
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class BpeSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def docsDf: DataFrame =
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  test("learnMerges: pinned hand-computed merge sequence with tie-break") {
    // counts: (a,a)=25 (overlap counts: aaab has two), (a,b)=15 → merge 1
    // then (aa,a)=10, (a,b)=10 tie → (left,right) lex picks (a,b)
    // then (aa,ab)=10 over (aa,b)=5
    val merges = BpeTokenize.learnMerges(
      Seq(("aaab", 10L), ("aab", 5L)), numMerges = 3)
    assert(merges == Seq(("a", "a"), ("a", "b"), ("aa", "ab")))
    // numMerges caps the loop
    assert(BpeTokenize.learnMerges(
      Seq(("aaab", 10L), ("aab", 5L)), numMerges = 1) == Seq(("a", "a")))
    // best-pair count < 2 stops training (no singleton merges)
    assert(BpeTokenize.learnMerges(Seq(("ab", 1L)), numMerges = 5).isEmpty)
  }

  test("tokenize: pinned tokenization through the native expression") {
    import spark.implicits._
    val merges = Seq(("a", "a"), ("a", "b"), ("aa", "ab"))
    val got = Seq("aaab aab aaab").toDF("text")
      .select(Natives.bpeTokenize(col("text"), new BpeTokenize.Model(merges)).as("toks"))
      .collect()(0).getSeq[String](0)
    // pre-tokens "aaab" / " aab" / " aaab" (GPT-2 pattern keeps the
    // leading space on the letter run): lowest-rank-first fusing gives
    assert(got == Seq("aaab", " ", "aa", "b", " ", "aaab"))
  }

  test("byte-level: tokens concatenate back to the UTF-8 bytes (lossless)") {
    import spark.implicits._
    val texts = Seq("héllo héllo héllo wörld", "中文 中文 中文!",
      "plain ascii text", "aÿb aÿb")
    val merges = BpeTokenize.learnMerges(
      texts.flatMap(PlainOracles.bpePretokens)
        .groupBy(identity).map { case (w, ws) => (w, ws.size.toLong) }
        .toSeq.sortBy { case (w, c) => (-c, w) }, numMerges = 50)
    val rows = texts.toDF("text")
      .select(col("text"), Natives.bpeTokenize(col("text"), new BpeTokenize.Model(merges))
        .as("toks")).collect()
    rows.foreach { r =>
      val bytes = r.getString(0)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val cat = r.getSeq[String](1).mkString
      assert(cat == new String(bytes,
        java.nio.charset.StandardCharsets.ISO_8859_1), r.getString(0))
    }
  }

  test("twin parity: distributed trainBpe + native apply == plain oracle") {
    val d = docsDf.where(col("doc_id") < 100).select("doc_id", "text")
    val merges = TextOps.trainBpe(d, "text", numMerges = 120,
      maxWords = 1500)
    val texts = d.orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val plainMerges = PlainOracles.bpeTrainPlain(texts.map(_._2).toSeq,
      numMerges = 120, maxWords = 1500)
    assert(merges == plainMerges)
    assert(merges.length == 120) // corpus is rich enough to fill the cap
    val got = docsDf.where(col("doc_id") < 100)
      .select(col("doc_id"),
        Natives.bpeTokenize(col("text"), new BpeTokenize.Model(merges)).as("toks"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    texts.foreach { case (id, tx) =>
      assert(got(id) == PlainOracles.bpeApplyPlain(tx, merges), s"doc $id")
    }
    // BPE only fuses within pre-tokens: count is bounded below by the
    // pre-token count and above by the byte count
    texts.foreach { case (id, tx) =>
      val n = got(id).size
      assert(n >= PlainOracles.bpePretokens(tx).size &&
        n <= tx.getBytes(java.nio.charset.StandardCharsets.UTF_8).length)
    }
  }
}
