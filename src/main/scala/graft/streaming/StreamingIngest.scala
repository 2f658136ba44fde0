package graft.streaming

import graft.core.InputDoc
import graft.pipeline.ExtractJob
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming ingestion — the Spark-first replacement for the reference's
  * hourly scheduled task (`CREATE TASK ... SCHEDULE='60 MINUTE' AS CALL
  * process_new_pdfs()`, /root/reference/setup.sql:279-286).
  *
  * A file-source stream over the input table directory; each micro-batch
  * runs the SAME extraction machinery via foreachBatch, so checkpoint
  * semantics compose: Spark's streaming checkpoint tracks which input
  * files are consumed (the DIRECTORY-table role, setup.sql:44-45), and
  * batch outputs append per (batch, group) with the manifest making
  * re-delivered batches idempotent — the distributed generalization of
  * the reference's NOT-IN anti-join resume (setup.sql:222).
  *
  * `Trigger.AvailableNow` gives the reference's batch cadence (drain all
  * new files, then stop — an external schedule reruns it). No
  * watermarks/stateful ops are needed: extraction is stateless per
  * document (SURVEY.md X5).
  */
object StreamingIngest {

  /** Start the stream. `inputDir` is watched for new parquet files of
    * docs(doc_id, spans); outputs land under `outDir` exactly as in the
    * batch job. Returns the query (caller awaits/stops).
    */
  def start(spark: SparkSession, inputDir: String, outDir: String,
            checkpointDir: String, runId: String = "stream",
            groups: Int = 4): StreamingQuery = {
    import spark.implicits._
    val schema = org.apache.spark.sql.Encoders.product[InputDoc].schema
    extractEach(spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", 64)
      .parquet(inputDir)
      .as[InputDoc], outDir, checkpointDir, runId, groups)
  }

  /** Streaming ingestion of a RAW FILE directory — watch `rawDir` for new
    * files (genuine .pdf through [[graft.extract.RealPdf]], .html, .txt,
    * media by reference) and extract each micro-batch with the same
    * checkpointed machinery as [[start]]. The streaming file index tracks
    * consumed files; per-batch manifests make re-delivery idempotent —
    * together: exactly-once over a growing directory, the full
    * distributed analog of the reference's hourly stage-scan task
    * (setup.sql:279-286, DIRECTORY(@PDF_STAGE) + NOT-IN resume). The one
    * stream reads content for media files too (unlike the batch reader's
    * pruned media scan) — the price of a single streaming source;
    * media-heavy deployments run a second suffix-filtered stream.
    */
  def startRawDir(spark: SparkSession, rawDir: String, outDir: String,
                  checkpointDir: String, runId: String = "rawstream",
                  groups: Int = 4): StreamingQuery = {
    import spark.implicits._
    val root = if (rawDir.endsWith("/")) rawDir else rawDir + "/"
    extractEach(spark.readStream.format("binaryFile")
      .schema("path STRING, modificationTime TIMESTAMP, " +
              "length LONG, content BINARY")
      .option("recursiveFileLookup", "true")
      .option("maxFilesPerTrigger", 256)
      .load(rawDir)
      .select("path", "content")
      .flatMap(r => graft.sources.RawFiles.decodeAny(
        r.getString(0), r.getAs[Array[Byte]](1), root)),
      outDir, checkpointDir, runId, groups)
  }

  /** One batch = one ExtractJob run into a batch-scoped output dir;
    * ExtractJob's own manifest makes re-delivered batches no-ops.
    */
  private def extractEach(stream: Dataset[InputDoc], outDir: String,
                          checkpointDir: String, runId: String,
                          groups: Int): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[InputDoc], batchId: Long) =>
        ExtractJob.run(batch.sparkSession, batch, ExtractJob.Config(
          outDir = s"$outDir/batch=$batchId",
          runId = s"$runId-$batchId",
          groups = groups))
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()

  /** Read back everything ingested so far: each batch's MANIFEST-COMMITTED
    * groups only (same exactly-once read rule as ExtractJob.readAllRuns —
    * orphaned files from a crash mid-batch are invisible until their
    * group re-commits). The per-batch `data` dirs are separate roots (an
    * Iceberg deployment appends to ONE table instead); union them
    * explicitly. Missing/empty output → empty typed DataFrame.
    */
  def readOutput(spark: SparkSession, outDir: String): DataFrame =
    ExtractJob.readCommitted(spark, outDir, "batch=")
}
