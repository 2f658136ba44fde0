package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import java.nio.file.{Files, Paths}

/** Mixed-format ingestion throughput + recall: [[graft.gen.MixedGen]]'s
  * six-way corpus (genuine PDFs with image/form XObjects and inline
  * images, HTML with boilerplate, plain text, standalone media) written
  * as real files, then scanned + classified + extracted through the
  * production path ([[graft.sources.RawFiles.read]] →
  * [[graft.pipeline.ExtractJob.run]]). Reports docs/s, per-kind output
  * rows, and TEXT + MEDIA recall against the generator's ground truth —
  * the same silent-loss guard RealPdfBench applies to the pdf-only
  * corpus, extended to the interleaved text+media invariant.
  *
  * Usage: `sbt "runMain graft.tools.MixedBench [nDocs]"` (default 12000).
  */
object MixedBench {
  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toInt).getOrElse(12000)
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.files.maxPartitionBytes", (4L << 20).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val dir = Files.createTempDirectory("graft-mixed-corpus")
    graft.gen.MixedGen.write(dir.toString, nDocs)
    val out = Files.createTempDirectory("graft-mixed-out").toString

    val t0 = System.nanoTime()
    val docs = graft.sources.RawFiles.read(spark, dir.toString)
    val report = graft.pipeline.ExtractJob.run(spark, docs,
      graft.pipeline.ExtractJob.Config(out, runId = "mixed",
        groups = 1, partitions = 64))
    val sec = (System.nanoTime() - t0) / 1e9
    // ground-truth-derived doc count (the CrawlBench rule): files that
    // legitimately vanish (apparatus-only XML husks, encrypted .doc)
    // subtract, EML attachment fan-outs add — the generator knows both
    val gt = graft.gen.MixedGen.expected(nDocs)
    val wantDocs = gt.map(_.doc_id).distinct.size
    require(report.docsProcessed == wantDocs,
      s"expected $wantDocs docs, got ${report.docsProcessed}")

    val outDf = graft.pipeline.ExtractJob.readOutput(spark, out)
    val byKind = outDf.groupBy("kind").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val gtByKind = gt.groupBy(_.kind).map { case (k, rs) => k -> rs.size }
    val mediaKinds = graft.core.ExtractionSpec.MediaKinds
    val gotMedia = mediaKinds.toSeq.map(k => byKind.getOrElse(k, 0L)).sum
    val wantMedia = mediaKinds.toSeq
      .map(k => gtByKind.getOrElse(k, 0).toLong).sum
    // text recall at doc granularity: every non-media file must emit at
    // least one text row (a vanished page/block = silent loss)
    val textDocs = outDf.where(col("text").isNotNull)
      .select("doc_id").distinct().count()
    val wantTextDocs = gt.filter(_.text != null).map(_.doc_id).distinct.size

    val line = f"| mixed-format ingestion | $nDocs files (pdf / " +
      f"image-pdf / form-pdf / html / txt / media / ccitt-scan / " +
      f"jbig2-scan / docx / md / epub / xlsx / pptx / rtf / odt / eml / " +
      f"doc / xls / ppt / ipynb / xml / json twenty-seconds → $wantDocs docs) " +
      f"scanned+classified+extracted in $sec%.1f s = ${nDocs / sec}%.0f " +
      f"docs/s @ local[32]; rows by kind ${byKind.toSeq.sorted.map {
        case (k, v) => s"$k=$v" }.mkString(" ")}; " +
      f"text-doc recall $textDocs/$wantTextDocs; " +
      f"media recall $gotMedia/$wantMedia |"
    println("[mixed-bench] " + line)
    require(gotMedia == wantMedia, "media spans lost")
    require(textDocs == wantTextDocs, "text docs lost")
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
