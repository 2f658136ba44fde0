package graft

import graft.core.InputDoc
import graft.gen.CorpusGen
import graft.pipeline.ExtractJob
import org.apache.spark.sql.SparkSession

/** spark-submit entry point for the extraction pipeline — the deployment
  * shape of the north rule (`spark-submit --class graft.ExtractMain ...`).
  *
  * Usage:
  *   gen <nDocs> <outDir>                  generate the spans table
  *   extract <inDir> <outDir> [groups] [partitions] [runId]
  *                                          snapshot run (checkpoint/resume)
  *   extract-dir <rawDir> <outDir> [groups] [partitions] [runId]
  *                                          ingest a RAW FILE directory
  *                                          (real .pdf via RealPdf, .html,
  *                                          .txt, media by reference)
  *   incremental <inDir> <outDir> <runId> [groups] [partitions]
  *                                          anti-join only-new-docs run
  *
  * Master/memory come from spark-submit; local fallback for ad-hoc use.
  */
object ExtractMain {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .appName("graft-extract")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // measured on the text corpus: zstd beats snappy on BOTH speed and
      // size (BENCH.md "extraction write codec" row); override via
      // spark-submit --conf
      .config("spark.sql.parquet.compression.codec", "zstd")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    args.toList match {
      case "gen" :: n :: out :: Nil =>
        CorpusGen.dataset(spark, n.toLong, 42L)
          .repartition(math.max(spark.sparkContext.defaultParallelism * 2, 8))
          .write.mode("overwrite").parquet(out)
        println(s"[graft] generated $n docs -> $out")
      case "extract" :: in :: out :: rest =>
        val docs = spark.read.parquet(in).as[InputDoc]
        val rep = ExtractJob.run(spark, docs, ExtractJob.Config(out,
          runId = rest.lift(2).getOrElse("run"),
          groups = rest.headOption.map(_.toInt).getOrElse(8),
          partitions = rest.lift(1).map(_.toInt).getOrElse(0)))
        println(s"[graft] $rep")
      case "extract-dir" :: in :: out :: rest =>
        val docs = graft.sources.RawFiles.read(spark, in)
        val rep = ExtractJob.run(spark, docs, ExtractJob.Config(out,
          runId = rest.lift(2).getOrElse("run"),
          groups = rest.headOption.map(_.toInt).getOrElse(8),
          partitions = rest.lift(1).map(_.toInt).getOrElse(0)))
        println(s"[graft] $rep")
      case "incremental" :: in :: out :: runId :: rest =>
        val docs = spark.read.parquet(in).as[InputDoc]
        val rep = ExtractJob.runIncremental(spark, docs, ExtractJob.Config(
          out, runId = runId,
          groups = rest.headOption.map(_.toInt).getOrElse(8),
          partitions = rest.lift(1).map(_.toInt).getOrElse(0)))
        println(s"[graft] $rep")
      case other =>
        System.err.println(
          s"unknown args: $other (want gen|extract|extract-dir|incremental)")
        sys.exit(2)
    }
    spark.stop()
  }
}
