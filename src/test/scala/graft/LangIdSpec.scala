package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{Natives, TrigramLangId}
import graft.oracle.PlainOracles

/** Trigram language-ID: engine/twin parity, known-language accuracy on
  * the deterministic seed sentences, held-out real sentences, script
  * priority, and codegen execution through a DataFrame.
  */
class LangIdSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val langs = TrigramLangId.Seeds.all.map(_._1)

  private def allSeedSentences: Seq[(String, String)] =
    for {
      li <- langs.indices
      j <- 0 until 20
    } yield (langs(li), TrigramLangId.seedSentence(li, j))

  test("engine == plain twin on seed sentences, corpus docs, edge cases") {
    // pseudo-English paragraphs from the corpus generator's word pool
    val pool = gen.CorpusGen.Words
    val paragraphs = (0 until 50).map { d =>
      (0 until 80).map(k => pool((d * 17 + k * 5) % pool.length))
        .mkString(" ")
    }
    val texts =
      allSeedSentences.map(_._2) ++ paragraphs ++
      Seq("", "12345 --- !!!", "a", "  ",
        "hello мир 世界 mixed", "tab\tand\nnewline separated words")
    texts.foreach { tx =>
      assert(TrigramLangId.classify(tx) == PlainOracles.langIdTrigramPlain(tx),
        s"diverged on: ${tx.take(60)}")
    }
  }

  test("seed sentences classify back to their source language") {
    val results = allSeedSentences.map { case (lang, tx) =>
      (lang, TrigramLangId.classify(tx)) }
    val wrong = results.filter { case (want, got) => want != got }
    val acc = 1.0 - wrong.size.toDouble / results.size
    info(f"accuracy $acc%.4f (${results.size - wrong.size}/${results.size})")
    wrong.groupBy(identity).foreach { case ((w, g), n) =>
      info(s"  $w misread as $g x${n.size}") }
    assert(acc >= 0.95, s"accuracy $acc; wrong: ${wrong.distinct}")
  }

  test("held-out real sentences (not in any seed list context)") {
    val cases = Seq(
      "the quick brown fox jumps over the lazy dog and runs away" -> "en",
      "der schnelle braune fuchs springt und lauft durch den wald" -> "de",
      "le renard brun rapide saute sur le chien et court dans la foret" -> "fr",
      "el zorro marron salta sobre el perro y corre por el bosque" -> "es",
      "a raposa marrom salta sobre o cachorro e corre pela floresta" -> "pt",
      "de snelle bruine vos springt over de luie hond en rent weg" -> "nl",
      "den hurtige brune raev hopper over den dovne hund og lober vaek" -> "da",
      "nopea ruskea kettu hyppaa laiskan koiran yli ja juoksee pois" -> "fi",
      "a gyors barna roka atugrik a lusta kutya felett es elszalad" -> "hu",
      "rychla hneda liska skace pres lineho psa a utika pryc" -> "cs",
      "быстрая лиса прыгает через ленивую собаку" -> "ru",
      "素早い茶色のキツネは怠け者の犬を飛び越えます" -> "ja",
      "敏捷的棕色狐狸跳过了懒狗" -> "zh",
      "빠른 갈색 여우가 게으른 개를 뛰어넘는다" -> "ko")
    cases.foreach { case (tx, want) =>
      assert(TrigramLangId.classify(tx) == want,
        s"'${tx.take(40)}' -> ${TrigramLangId.classify(tx)}, want $want")
    }
  }

  test("script priority and und") {
    // kana wins over kanji-only CJK: Japanese prose with kanji -> ja
    assert(TrigramLangId.classify("日本語の文章です") == "ja")
    assert(TrigramLangId.classify("日本語") == "zh") // kanji only, no kana
    assert(TrigramLangId.classify("") == "und")
    assert(TrigramLangId.classify("12345 --- !!! 99") == "und")
  }

  test("DataFrame execution (codegen path) matches direct classify") {
    import spark.implicits._
    val df = allSeedSentences.take(60).map(_._2).toDF("text")
      .select(col("text"), Natives.langId(col("text")).as("lang"))
    df.collect().foreach { r =>
      assert(r.getString(1) == TrigramLangId.classify(r.getString(0)))
    }
    // SQL registration
    org.apache.spark.sql.GraftExprBridge.registerAll(spark)
    val viaSql = spark.sql(
      "SELECT graft_langid('the cat sat on the mat with the hat')")
      .head().getString(0)
    assert(viaSql == "en")
  }
}
