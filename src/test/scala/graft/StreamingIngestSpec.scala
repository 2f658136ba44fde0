package graft

import graft.gen.CorpusGen
import graft.oracle.RefOracle
import graft.streaming.StreamingIngest
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

class StreamingIngestSpec extends AnyFunSuite with BeforeAndAfterAll with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("streaming ingestion drains new files; restart ingests only new data") {
    spark.sparkContext.setLogLevel("WARN")
    val in = tempDir("graft-stream-in").toString
    val out = tempDir("graft-stream-out").toString
    val ckpt = tempDir("graft-stream-ckpt").toString

    // wave 1: docs [0, 200)
    CorpusGen.dataset(spark, 200, 42L).coalesce(2)
      .write.mode("append").parquet(in)
    val q1 = StreamingIngest.start(spark, in, out, ckpt, groups = 2)
    q1.awaitTermination() // AvailableNow stops when drained

    val docs1 = StreamingIngest.readOutput(spark, out)
      .select("doc_id").distinct().count()
    // docs with non-empty output (some corpus docs are empty by design)
    assert(docs1 > 150 && docs1 <= 200)

    // wave 2: docs [200, 300) arrive later; restart picks up ONLY them
    val wave2 = spark.range(200, 300).selectExpr("id")
    import spark.implicits._
    spark.createDataset(200L until 300L)(org.apache.spark.sql.Encoders.scalaLong)
      .map(i => CorpusGen.doc(42L, i))
      .coalesce(1).write.mode("append").parquet(in)
    val q2 = StreamingIngest.start(spark, in, out, ckpt, groups = 2)
    q2.awaitTermination()

    val all = StreamingIngest.readOutput(spark, out)
    val docsAll = all.select("doc_id").distinct().count()
    assert(docsAll > docs1, "wave 2 must add documents")
    // no duplicates: every (doc_id, order) appears exactly once
    val dupes = all.groupBy("doc_id", "order").count()
      .where(org.apache.spark.sql.functions.col("count") > 1).count()
    assert(dupes == 0, "streaming restart must not duplicate rows")

    // content equality vs oracle for a sample of wave-2 docs
    val got = all.where($"doc_id" === "doc_00000250")
      .orderBy("order").collect()
      .map(r => (r.getAs[String]("kind"), r.getAs[String]("text"),
                 r.getAs[String]("media_ref"), r.getAs[Int]("order")))
    val want = RefOracle.extract(CorpusGen.doc(42L, 250))
      .outSpans.map(o => (o.kind, o.text, o.media_ref, o.order))
    assert(got.toSeq == want)
  }

  test("raw-dir streaming: new real PDFs extracted exactly once across restarts") {
    spark.sparkContext.setLogLevel("WARN")
    val in = tempDir("graft-rawstream-in")
    val out = tempDir("graft-rawstream-out").toString
    val ckpt = tempDir("graft-rawstream-ckpt").toString
    val fixture = Files.readAllBytes(java.nio.file.Paths.get(
      getClass.getResource("/fixture_real.pdf").toURI))
    val objstm = Files.readAllBytes(java.nio.file.Paths.get(
      getClass.getResource("/fixture_objstm.pdf").toURI))

    // wave 1: one classic PDF + a text file
    Files.write(in.resolve("a.pdf"), fixture)
    Files.writeString(in.resolve("b.txt"), "first text body")
    val q1 = StreamingIngest.startRawDir(spark, in.toString, out, ckpt,
      groups = 2)
    q1.awaitTermination()
    val ids1 = StreamingIngest.readOutput(spark, out)
      .select("doc_id").distinct().collect().map(_.getString(0)).toSet
    assert(ids1 == Set("a.pdf", "b.txt"), s"wave 1: $ids1")

    // wave 2: a modern ObjStm PDF arrives; restart ingests ONLY it
    Files.write(in.resolve("c.pdf"), objstm)
    val q2 = StreamingIngest.startRawDir(spark, in.toString, out, ckpt,
      groups = 2)
    q2.awaitTermination()
    val all = StreamingIngest.readOutput(spark, out)
    val ids2 = all.select("doc_id").distinct().collect()
      .map(_.getString(0)).toSet
    assert(ids2 == Set("a.pdf", "b.txt", "c.pdf"), s"wave 2: $ids2")
    // exactly once: no duplicated (doc_id, order)
    val dupes2 = all.groupBy("doc_id", "order").count()
      .where(org.apache.spark.sql.functions.col("count") > 1).count()
    assert(dupes2 == 0)
    // content flowed through the real-PDF front end
    val texts = all.where(
        org.apache.spark.sql.functions.col("doc_id") === "c.pdf")
      .select("text").collect().map(_.getString(0)).mkString
    assert(texts.contains("Modern layout via ObjStm"), s"got: $texts")

    // wave 3: an image-bearing genuine PDF — the streaming decode path
    // (RawFiles.decodeAny) must mint the same interleaved media spans
    // as the batch scan: text row first, then the by-reference images
    Files.write(in.resolve("d.pdf"), graft.gen.MixedGen.fileBytes(1))
    val q3 = StreamingIngest.startRawDir(spark, in.toString, out, ckpt,
      groups = 2)
    q3.awaitTermination()
    val dRows = StreamingIngest.readOutput(spark, out)
      .where(org.apache.spark.sql.functions.col("doc_id") === "d.pdf")
      .select("kind", "media_ref", "order").collect()
      .sortBy(_.getInt(2))
    assert(dRows.map(_.getString(0)).toSeq ==
      Seq("pdf", "image", "image", "image"), s"kinds: ${dRows.toSeq}")
    assert(dRows(1).getString(1).endsWith("d.pdf#img0:obj5"))
    assert(dRows(3).getString(1).endsWith("d.pdf#img2:inline"))
  }
}
