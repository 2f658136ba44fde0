package graft

import graft.ops.Search
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class SearchSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def docs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")

  private def utf8(terms: Seq[String]): Array[Array[Byte]] =
    terms.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8)).toArray

  test("bm25Scores == driver-side brute-force BM25 (k1=1.2, b=0.75)") {
    val terms = Seq("hash", "join", "vector")
    val rows = docs.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val toks = rows.map { case (id, t) => id -> t.toLowerCase.split(" ", -1) }
    val n = toks.length.toLong
    val avgdl = toks.map(_._2.length.toLong).sum.toDouble / n
    val df = terms.map(t => toks.count(_._2.contains(t)).toLong)
    def score(tks: Array[String]): Double =
      terms.zipWithIndex.map { case (t, i) =>
        val tf = tks.count(_ == t).toDouble
        val idf = math.log(1.0 + (n - df(i) + 0.5) / (df(i) + 0.5))
        idf * tf * (1.2 + 1.0) /
          (tf + 1.2 * (0.25 + 0.75 * tks.length / avgdl))
      }.sum
    val want = toks.map { case (id, t) => id -> score(t) }.toMap
    val got = Search.bm25Scores(docs, "doc_id", "text", terms)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.keySet == want.keySet)
    got.foreach { case (id, s) =>
      assert(math.abs(s - want(id)) < 1e-9, s"doc $id: $s vs ${want(id)}")
    }
    // sanity: the terms discriminate (non-constant scores)
    assert(got.values.toSet.size > 10)
  }

  test("native TermFreqs == split(lower)/filter composed tokenization") {
    import spark.implicits._
    val terms = Seq("hash", "naïve", "a")
    val edge = Seq("", " ", "  a ", "Hash hash HASH", "a  a a",
      "NAÏVE naïve x", "中文 hash 中文", "a-hash hash- hash").toDF("text")
    val toks = split(lower(col("text")), " ")
    val composed = edge.select(
      size(toks) +: terms.map(t =>
        size(filter(toks, x => x === lit(t)))): _*).collect()
      .map(_.toSeq.map(_.asInstanceOf[Int]))
    val native = edge.select(
      graft.functions.Natives.termFreqs(col("text"), utf8(terms))).collect()
      .map(_.getSeq[Int](0))
    assert(native.map(_.toSeq).toSeq == composed.map(_.toSeq).toSeq)
    // parquet-backed corpus too, and codegen'd
    val d = docs.limit(300)
    val cn = d.select(graft.functions.Natives
        .termFreqs(col("text"), utf8(Seq("hash", "join")))).collect()
      .map(_.getSeq[Int](0))
    val cc = d.select(
      size(split(lower(col("text")), " ")) +: Seq("hash", "join").map(t =>
        size(filter(split(lower(col("text")), " "),
          x => x === lit(t)))): _*).collect()
      .map(_.toSeq.map(_.asInstanceOf[Int]))
    assert(cn.map(_.toSeq).toSeq == cc.map(_.toSeq).toSeq)
    val plan = d.select(graft.functions.Natives
        .termFreqs(col("text"), utf8(Seq("x"))))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), s"not codegen'd:\n$plan")
  }

  test("bm25Scores evaluates graft_term_freqs once per projection of the input") {
    val plan = Search.bm25Scores(docs, "doc_id", "text",
      Seq("hash", "join", "vector")).queryExecution.optimizedPlan
    val perProject = plan.collect {
      case p: org.apache.spark.sql.catalyst.plans.logical.Project =>
        p.projectList.map(_.collect {
          case e if e.prettyName == "graft_term_freqs" => e
        }.size).sum
    }.filter(_ > 0)
    assert(perProject.nonEmpty && perProject.forall(_ == 1),
      s"graft_term_freqs per projection: $perProject\n$plan")
  }

  test("bm25TopK plans TakeOrderedAndProject (no global sort)") {
    val plan = Search.bm25TopK(docs, "doc_id", "text", Seq("hash"), 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("hybrid RRF: both-list docs outrank single-list docs; values exact") {
    import spark.implicits._
    // lexical head: docs 1..5; vector head: docs 4..8 → 4,5 in both
    val lex = Seq((1L, 5.0), (2L, 4.0), (3L, 3.0), (4L, 2.0), (5L, 1.0))
      .toDF("doc_id", "score")
    val vec = Seq((4L, 0.9), (5L, 0.8), (6L, 0.7), (7L, 0.6), (8L, 0.5))
      .toDF("vec_id", "score")
    val got = Search.hybridTopK(lex, "doc_id", "score",
        vec, "vec_id", "score", k = 8, m = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    // doc 4: rank 4 lexical + rank 1 vector
    val rrf4 = BigDecimal(1.0 / 64 + 1.0 / 61)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.head._1 == 4L && got.head._2 == rrf4)
    // doc 5 (both lists) second; singles follow by their rank
    assert(got(1)._1 == 5L)
    val singleIds = got.drop(2).map(_._1).toSet
    assert(singleIds == Set(1L, 2L, 3L, 6L, 7L, 8L))
  }
}
