package graft.tools
import org.apache.spark.sql.SparkSession
import java.nio.file.Files

/** Extraction-write codec tradeoff: same 300k-doc job at local[8], one
  * run per parquet codec — docs/s and output bytes. Documents the
  * snappy/zstd/lz4 choice for the 100 TB write path in BENCH.md.
  */
object CodecBench {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.files.maxPartitionBytes", (4L << 20).toString)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val in = Files.createTempDirectory("codec-in").toString
    graft.gen.CorpusGen.dataset(spark, 300000, 42L)
      .repartition(64).write.mode("overwrite").parquet(in)
    val docs = spark.read.parquet(in).as[graft.core.InputDoc]
    def size(p: java.io.File): Long =
      if (p.isDirectory) p.listFiles.map(size).sum else p.length()
    def deleteRec(p: java.io.File): Unit = {
      if (p.isDirectory) p.listFiles.foreach(deleteRec); p.delete() }
    val rows = Seq("snappy", "zstd", "lz4", "uncompressed").map { codec =>
      spark.conf.set("spark.sql.parquet.compression.codec", codec)
      val best = (1 to 3).map { _ =>
        val out = Files.createTempDirectory(s"codec-$codec").toString
        val t0 = System.nanoTime()
        graft.pipeline.ExtractJob.run(spark, docs,
          graft.pipeline.ExtractJob.Config(out, runId = codec, groups = 1,
            partitions = 64))
        val sec = (System.nanoTime() - t0) / 1e9
        val bytes = size(new java.io.File(out))
        deleteRec(new java.io.File(out))
        (sec, bytes)
      }.minBy(_._1)
      f"$codec: ${300000 / best._1}%.0f docs/s, ${best._2 / 1e6}%.1f MB"
    }
    val line = "| extraction write codec (300k docs, local[8], best of 3) | " +
      rows.mkString("; ") + " |"
    println("[codec-bench] " + line)
    val benchMd = if (new java.io.File("BENCH.md").exists()) "BENCH.md"
                  else "/root/repo/BENCH.md"
    try Files.writeString(java.nio.file.Paths.get(benchMd),
      "\n" + line + "\n", java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)
    catch { case _: java.io.IOException => () }
    deleteRec(new java.io.File(in))
    spark.stop()
  }
}
