package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Format-agnostic table IO (SURVEY.md §7.1): the pipeline writes through
  * this seam so the in-sandbox Hadoop-path implementation swaps for
  * Iceberg by config alone — no pipeline-code change.
  *
  * The one operation the checkpoint protocol needs is idempotent
  * per-group overwrite: re-running a failed group must replace, not
  * duplicate (ExtractJob exactly-once semantics).
  */
trait TableIO extends Serializable {
  /** Overwrite the data of one checkpoint group. */
  def overwriteGroup(df: DataFrame, group: Int): Unit
  /** Read the whole table back (all groups). */
  def read(spark: SparkSession): DataFrame
}

/** Partitioned-Parquet implementation used in-sandbox: one directory per
  * group (`<root>/data/group=<g>`), overwritten atomically enough for the
  * manifest protocol (the manifest rename in [[graft.pipeline.Checkpoint]]
  * is the commit point, not the file write).
  *
  * A group write creates only its data files:
  *  - no `_SUCCESS` marker: the manifest entry is the commit marker, and
  *    readers read manifest-committed group dirs only;
  *  - no dictionary for `text`, `chunk_id` and `media_ref`, which are
  *    (nearly) unique per row, so their dictionary fell back to plain
  *    encoding: plain at once writes the same bytes without hashing every
  *    value first (a rare small `media_ref` chunk that kept its
  *    dictionary comes out a few bytes smaller).
  *
  * The write sets `fs.file.impl` to [[LocalFs]], with
  * `fs.file.impl.disable.cache` so that `FileSystem.get` does not hand
  * back the stock `file` instance it cached. The options reach the job's
  * committer on the driver and its write tasks, so no file or directory
  * of the write forks a `chmod` process. Only `file:` paths are affected;
  * other schemes keep their own file systems.
  *
  * The write is `GraftExprBridge.overwriteParquet`: Spark's own parquet
  * write task and commit protocol, but the job's Hadoop conf reaches each
  * task as key/value strings, not as the two serialized Hadoop confs of
  * the stock writer, which took a write task longer to deserialize than
  * to write its rows. The options above, the session's codec, time zone
  * and `maxRecordsPerFile` still apply. The group write reports no SQL
  * write metrics and posts no SQL execution events.
  */
final case class HadoopTableIO(root: String) extends TableIO {
  override def overwriteGroup(df: DataFrame, group: Int): Unit =
    org.apache.spark.sql.GraftExprBridge.overwriteParquet(df,
      s"$root/data/group=$group", HadoopTableIO.WriteOptions)
  override def read(spark: SparkSession): DataFrame =
    spark.read.parquet(s"$root/data")
}

object HadoopTableIO {
  private val WriteOptions = Map(
    "mapreduce.fileoutputcommitter.marksuccessfuljobs" -> "false",
    "parquet.enable.dictionary#text" -> "false",
    "parquet.enable.dictionary#chunk_id" -> "false",
    "parquet.enable.dictionary#media_ref" -> "false") ++ LocalFs.Conf
}

/** Iceberg implementation — the north-rule deployment target. Requires
  * the iceberg-spark-runtime jar + catalog config at runtime (not present
  * in this sandbox, hence never constructed by tests); compiles against
  * the stable DataFrameWriterV2 API only.
  *
  * The group column doubles as the Iceberg partition spec
  * (`PARTITIONED BY (group)`), so `overwritePartitions` replaces exactly
  * the rows of the re-run group — the same idempotence contract as the
  * Hadoop path, but transactional.
  */
final case class IcebergTableIO(table: String) extends TableIO {
  import org.apache.spark.sql.functions.lit
  override def overwriteGroup(df: DataFrame, group: Int): Unit =
    df.withColumn("group", lit(group))
      .writeTo(table).overwritePartitions()
  override def read(spark: SparkSession): DataFrame =
    spark.read.table(table)
}
