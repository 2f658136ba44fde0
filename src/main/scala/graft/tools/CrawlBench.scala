package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import java.nio.file.{Files, Paths}

/** Container fan-out ingestion throughput + recall: WARC crawl
  * segments ([[graft.gen.WarcGen]]), archive dumps
  * ([[graft.gen.ArchiveGen]]) and jsonl shards ([[graft.gen.JsonlGen]])
  * written as real files, then scanned + EXPANDED (one container → many
  * documents) + extracted through the production path
  * ([[graft.sources.RawFiles.read]] → [[graft.pipeline.ExtractJob.run]]).
  * This is the web-scale ingestion shape: a 100 TB crawl arrives as
  * ~100k segment files, each fanning out to thousands of per-record
  * documents inside its scan task. Reports containers/s, expanded
  * docs/s, and TEXT + MEDIA recall against the generators' ground
  * truth (a vanished record = silent loss).
  *
  * Usage: `sbt "runMain graft.tools.CrawlBench [nPerKind]"`
  * (default 600 → 1800 containers, ~8.5k documents).
  */
object CrawlBench {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(600)
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.files.maxPartitionBytes", (4L << 20).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val dir = Files.createTempDirectory("graft-crawl-corpus")
    Files.createDirectories(Paths.get(dir.toString, "warc"))
    Files.createDirectories(Paths.get(dir.toString, "arch"))
    Files.createDirectories(Paths.get(dir.toString, "jsonl"))
    graft.gen.WarcGen.write(dir.toString + "/warc", n)
    graft.gen.ArchiveGen.write(dir.toString + "/arch", n)
    graft.gen.JsonlGen.write(dir.toString + "/jsonl", n)
    val out = Files.createTempDirectory("graft-crawl-out").toString

    val gt = graft.gen.WarcGen.expected(n) .map(r =>
        (s"warc/${r.doc_id}", r.kind, r.text, r.media_ref)) ++
      graft.gen.ArchiveGen.expected(n).map(r =>
        (s"arch/${r.doc_id}", r.kind, r.text, r.media_ref)) ++
      graft.gen.JsonlGen.expected(n).map(r =>
        (s"jsonl/${r.doc_id}", r.kind, r.text, null))
    val wantDocs = gt.map(_._1).distinct.size

    val t0 = System.nanoTime()
    val docs = graft.sources.RawFiles.read(spark, dir.toString)
    val report = graft.pipeline.ExtractJob.run(spark, docs,
      graft.pipeline.ExtractJob.Config(out, runId = "crawl",
        groups = 1, partitions = 64))
    val sec = (System.nanoTime() - t0) / 1e9
    require(report.docsProcessed == wantDocs,
      s"expected $wantDocs fanned-out docs, got ${report.docsProcessed}")

    val outDf = graft.pipeline.ExtractJob.readOutput(spark, out)
    val mediaKinds = graft.core.ExtractionSpec.MediaKinds
    val gotMedia = outDf
      .where(col("kind").isin(mediaKinds.toSeq.map(x => x: Any): _*))
      .count()
    val wantMedia = gt.count(r => mediaKinds.contains(r._2)).toLong
    val textDocs = outDf.where(col("text").isNotNull)
      .select("doc_id").distinct().count()
    val wantTextDocs = gt.filter(_._3 != null).map(_._1).distinct.size

    val containers = 3L * n
    val line = f"| container fan-out ingestion | $containers containers " +
      f"(warc/zip/tar/tar.gz/7z/jsonl/ndjson/jsonl.{gz,zst,xz,lz4,sz}/" +
      f"json/json.gz thirds) expanded to " +
      f"$wantDocs docs + extracted in $sec%.1f s = " +
      f"${containers / sec}%.0f containers/s = ${wantDocs / sec}%.0f " +
      f"docs/s @ local[32]; text-doc recall $textDocs/$wantTextDocs; " +
      f"media recall $gotMedia/$wantMedia |"
    println("[crawl-bench] " + line)
    require(gotMedia == wantMedia, "media records lost")
    require(textDocs == wantTextDocs, "text records lost")
    val benchMd = if (new java.io.File("BENCH.md").exists()) "BENCH.md"
                  else "/root/repo/BENCH.md"
    try Files.writeString(Paths.get(benchMd), "\n" + line + "\n",
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)
    catch { case _: java.io.IOException => () }

    def deleteRec(p: java.io.File): Unit = {
      if (p.isDirectory) p.listFiles.foreach(deleteRec)
      p.delete(): Unit
    }
    deleteRec(dir.toFile); deleteRec(new java.io.File(out))
    spark.stop()
  }
}
