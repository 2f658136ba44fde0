package graft

import graft.ops.Serving
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class ServingSpec extends AnyFunSuite with BeforeAndAfterAll with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("context assembly: deterministic [Source i] blocks in rank order") {
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")
    val df = Seq(
      ("g1", 2, "docB", 1, "top-left", "second text"),
      ("g1", 1, "docA", 3, "middle-center", "first text"),
      ("g1", 3, "docC", 2, "bottom-right", "third text"),
      ("g2", 1, "docD", 1, "top-center", "only text"))
      .toDF("g", "rk", "doc", "pg", "pos", "txt")
    val out = Serving.assembleContext(df, "g", "rk", "doc", "pg", "pos",
      "txt", topK = 2).orderBy("g").collect()
    assert(out(0).getString(1) ==
      "[Source 1] docA, Page 3 (middle-center)\nfirst text\n\n" +
      "[Source 2] docB, Page 1 (top-left)\nsecond text")
    assert(out(1).getString(1) ==
      "[Source 1] docD, Page 1 (top-center)\nonly text")
  }

  test("csv export: headered roundtrip (Q9)") {
    import spark.implicits._
    val df = Seq((1L, "a,b", "x"), (2L, null, "y"))
      .toDF("id", "tricky", "v")
    val path = tempDir("graft-csv").toString + "/out"
    Serving.exportCsv(df, path)
    val back = spark.read.option("header", "true").csv(path)
      .orderBy("id").collect()
    assert(back.length == 2)
    assert(back(0).getString(1) == "a,b") // comma survives quoting
  }

  test("validation verdicts (Q11: 50MB cap, suffix, empty)") {
    import spark.implicits._
    val df = Seq(
      ("ok.pdf", 1000L), ("big.pdf", 51L * 1024 * 1024),
      ("empty.pdf", 0L), ("bad.exe", 10L))
      .toDF("name", "size")
    val got = df.select(col("name"),
      Serving.validationVerdict(col("size"), col("name"),
        Seq(".pdf", ".html")).as("v")).collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(got == Map("ok.pdf" -> "ok", "big.pdf" -> "too_large",
      "empty.pdf" -> "empty", "bad.exe" -> "unsupported_type"))
  }
}
