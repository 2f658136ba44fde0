package graft

import graft.functions.{Natives, NgramLm}
import graft.ops.TextOps
import graft.oracle.PlainOracles
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class NgramLmSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def docsDf: DataFrame =
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  test("pinned hand-computed Stupid-Backoff scores") {
    // corpus: "a b" x3, "a c" — N=8, counts: a=4 b=3 c=1;
    // bigrams: "a b"=3, "a c"=1
    val m = NgramLm(Map("a" -> 4L, "b" -> 3L, "c" -> 1L),
      Map("a b" -> 3L, "a c" -> 1L), total = 8L)
    // "a b": log10(4/8) + log10(3/4), mean
    val ab = (math.log10(0.5) + math.log10(0.75)) / 2
    assert(m.score("a b") == ab)
    // backoff: "b a" has no bigram → log10(3/8) + log10(0.4 * 4/8)
    val ba = (math.log10(3.0 / 8) + math.log10(0.4 * 0.5)) / 2
    assert(m.score("b a") == ba)
    // OOV: unigram floor 0.1/N
    assert(m.score("z") == math.log10(0.1 / 8))
    // empty / all-space → null; multiple spaces skip empties
    assert(m.score("") == null)
    assert(m.score("   ") == null)
    assert(m.score("  a   b ") == ab)
    // a natural doc outscores shuffled gibberish under its own LM
    assert(m.score("a b a b") > m.score("b b z a"))
  }

  test("trainer: distributed counts == plain twin, incl. top-K cut") {
    val d = docsDf.where(col("doc_id") < 100).select("doc_id", "text")
    val texts = d.orderBy("doc_id").collect().map(_.getString(1)).toSeq
    // caps below the corpus's distinct counts (31 unigram vocab) force
    // the (count desc, gram asc) cut to actually bite on both sides
    val lm = TextOps.trainNgramLm(d, "text", maxVocab = 20,
      maxBigrams = 100)
    val (pv, pb, pn) = PlainOracles.lmTrainPlain(texts, 20, 100)
    assert(lm.total == pn)
    assert(lm.unigrams == pv)
    assert(lm.bigrams == pb)
    assert(lm.unigrams.size == 20 && lm.bigrams.size == 100)
  }

  test("scorer twin parity through the native expression (bit-exact)") {
    val d = docsDf.where(col("doc_id") < 200).select("doc_id", "text")
    val lm = TextOps.trainNgramLm(d, "text", 2000, 8000)
    val plainLm = (lm.unigrams, lm.bigrams, lm.total)
    val got = d.select(col("doc_id"),
        Natives.ngramLmScore(col("text"), lm).as("s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    d.collect().foreach { r =>
      val want = PlainOracles.lmScorePlain(r.getString(1), plainLm).get
      assert(got(r.getLong(0)) == want, s"doc ${r.getLong(0)}")
    }
    // in-domain docs score far above character soup
    val soup = "qz7 vvx9 kkj2 m0p qrs8 zzt4 wq1 nbv6"
    val soupScore = NgramLm(lm.unigrams, lm.bigrams, lm.total).score(soup)
    assert(got.values.sum / got.size > soupScore + 1.0)
  }
}
