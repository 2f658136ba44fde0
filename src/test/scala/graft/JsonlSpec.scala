package graft

import graft.extract.JsonlExtractor
import graft.gen.JsonlGen
import graft.sources.RawFiles
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** JSONL front end: line retention semantics (key conventions, id
  * rendering, malformed-line drops, BOM/CRLF tolerance) plus the
  * shard fan-out contract and the generic `.gz` inner-extension
  * routing.
  */
class JsonlSpec extends AnyFunSuite with BeforeAndAfterAll with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("line semantics: key priority, numeric ids, escapes, drops") {
    assert(JsonlExtractor.parseLine(
      """{"text": "a", "content": "b", "id": "x"}""") ==
      Some(("x", "a"))) // text beats content
    assert(JsonlExtractor.parseLine(
      """{"content": "b", "url": "u", "doc_id": 7}""") ==
      Some(("u", "b"))) // url beats doc_id
    assert(JsonlExtractor.parseLine(
      """{"raw_content": "c", "doc_id": 42}""") == Some(("42", "c")))
    assert(JsonlExtractor.parseLine(
      """{"text": "café \"q\" \\"}""") ==
      Some(("", "café \"q\" \\")))
    assert(JsonlExtractor.parseLine("""{"text": ""}""").isEmpty)
    assert(JsonlExtractor.parseLine("""{"text": 5}""").isEmpty)
    assert(JsonlExtractor.parseLine("""["text"]""").isEmpty)
    assert(JsonlExtractor.parseLine("not json").isEmpty)
    assert(JsonlExtractor.parseLine(
      """{"meta": {"text": "nested"}}""").isEmpty)
  }

  test("records: BOM strip, CRLF line ends, physical line numbers stable across malformed lines") {
    val recs0 = JsonlExtractor.records(JsonlGen.fileBytes(0)) // BOM+.jsonl
    val recs1 = JsonlExtractor.records(JsonlGen.fileBytes(1)) // CRLF
    assert(recs0.map(_.lineNo) == Vector(0, 1, 3, 7))
    assert(recs1.map(_.lineNo) == Vector(0, 1, 3, 7))
    assert(recs0.head.id == "doc-0-0" && recs1(2).id == "9001")
    assert(recs1(3).id == "")
  }

  test("valueRecords: object sentinel, array positional fan-out, junk shapes drop") {
    import graft.extract.JsonlExtractor.Rec
    // single object → the -1 sentinel (the file is the doc)
    assert(JsonlExtractor.valueRecords(
      "﻿{\n  \"id\": \"a\",\n  \"text\": \"body\"\n}".getBytes("UTF-8"))
      == Vector(Rec(-1, "a", "body")))
    // array → retained elements at their physical indexes
    assert(JsonlExtractor.valueRecords(
      """[{"text":"t0","id":"x"}, 5, {"no":"key"}, {"text":""},
         {"content":"t4","url":"u"}]""".getBytes("UTF-8"))
      == Vector(Rec(0, "x", "t0"), Rec(4, "u", "t4")))
    // scalars, malformed, text-less objects → nothing
    assert(JsonlExtractor.valueRecords(""""just a string"""".getBytes).isEmpty)
    assert(JsonlExtractor.valueRecords("{broken".getBytes).isEmpty)
    assert(JsonlExtractor.valueRecords("""{"meta":1}""".getBytes).isEmpty)
    assert(JsonlExtractor.valueRecords(Array[Byte]()).isEmpty)
  }

  test(".json routing: single doc, array fan-out, .json.gz inner ext, notebook magic") {
    // generator variants 7/8/9 through the one ingest contract
    Seq(7, 8, 9, 17, 18, 19).foreach { i =>
      val docs = RawFiles.decodeAny(JsonlGen.fileName(i),
        JsonlGen.fileBytes(i), "")
      val want = JsonlGen.expectedDoc(i)
      assert(docs.map(_.doc_id) == want.map(_.doc_id), s"json $i")
      assert(docs.map(_.spans.head.text) == want.map(_.text), s"json $i")
    }
    // a notebook saved as `.json` routes to the ipynb front end
    val nb = graft.gen.NbGen.fileBytes(0)
    assert(JsonlExtractor.isNotebookJson(nb))
    val asJson = RawFiles.decodeAny("saved.json", nb, "")
    val asNb = RawFiles.decodeAny("saved.ipynb", nb, "")
    assert(asJson.map(_.spans.map(s => (s.kind, s.text))) ==
      asNb.map(_.spans.map(s => (s.kind, s.text))))
    assert(asJson.nonEmpty)
    // a plain object is NOT a notebook
    assert(!JsonlExtractor.isNotebookJson("""{"text":"x"}""".getBytes))
    // ADVICE r05: the magic requires NUMERIC nbformat + ARRAY cells —
    // a corpus object merely carrying the keys must not misroute
    assert(!JsonlExtractor.isNotebookJson(
      """{"nbformat":"4","cells":[],"text":"x"}""".getBytes))
    assert(!JsonlExtractor.isNotebookJson(
      """{"nbformat":4,"cells":"oops","text":"x"}""".getBytes))
    assert(JsonlExtractor.isNotebookJson(
      """{"nbformat":4,"cells":[]}""".getBytes))
  }

  test("ingest fan-out: shards (.jsonl/.ndjson/.jsonl.gz) and generic .gz route identically in batch and streaming") {
    spark.sparkContext.setLogLevel("WARN")
    val dir = tempDir("graft-jsonlspec")
    JsonlGen.write(dir.toString, 6)
    // generic gz: an html page gzipped at rest is still an html doc
    val html = ("<html><body><p>a gzipped page body long enough to " +
      "survive the boilerplate gate</p></body></html>").getBytes("UTF-8")
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(html); gz.close()
    Files.write(dir.resolve("page.html.gz"), bos.toByteArray)
    // a corrupt gz and an unknown inner extension both drop
    Files.write(dir.resolve("broken.jsonl.gz"), Array[Byte](0x1f, -117, 9))
    Files.write(dir.resolve("data.bin.gz"), bos.toByteArray)

    val batch = RawFiles.read(spark, dir.toString).collect()
      .map(d => d.doc_id -> d.spans).toMap
    val paths = (0 until 6).map(i => dir.resolve(JsonlGen.fileName(i))) ++
      Seq("page.html.gz", "broken.jsonl.gz", "data.bin.gz")
        .map(dir.resolve)
    val streamed = paths.flatMap { p =>
      RawFiles.decodeAny(p.toString, Files.readAllBytes(p),
        dir.toString + "/")
    }.map(d => d.doc_id -> d.spans).toMap
    assert(batch == streamed)

    assert(batch.keys.count(_.startsWith(JsonlGen.fileName(2) + "#")) == 4)
    assert(batch(s"${JsonlGen.fileName(0)}#L0:doc-0-0").head.text
      .contains("lead record"))
    assert(batch.contains("page.html.gz"))
    assert(batch("page.html.gz").head.kind == "html")
    assert(!batch.contains("broken.jsonl.gz"))
    assert(!batch.keys.exists(_.startsWith("data.bin.gz")))
  }

  test("ex_jsonl query matches the generator ground truth end-to-end") {
    spark.sparkContext.setLogLevel("WARN")
    val got = SparkEntry.queries("ex_jsonl")(spark, "unused")
      .collect().map(_.toSeq).toSeq
    val want = SparkEntry.expected("ex_jsonl")(spark, "unused")
      .orderBy("doc_id", "ord").collect().map(_.toSeq).toSeq
    assert(got.size == want.size, s"${got.size} vs ${want.size}")
    got.zip(want).foreach { case (g, w) => assert(g == w) }
  }
}
