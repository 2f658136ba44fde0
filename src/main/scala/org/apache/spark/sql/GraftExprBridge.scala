package org.apache.spark.sql

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.Job
import org.apache.hadoop.mapreduce.lib.output.FileOutputFormat
import org.apache.spark.TaskContext
import org.apache.spark.internal.io.{FileCommitProtocol, SparkHadoopWriterUtils}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.catalyst.util.{CaseInsensitiveMap, DateTimeUtils}
import org.apache.spark.sql.errors.QueryExecutionErrors
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{DataSourceUtils,
  FileFormatWriter, WriteJobDescription}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.SchemaUtils
import org.apache.spark.util.SerializableConfiguration
import scala.jdk.CollectionConverters._

/** Bridge to sql-private helpers (Column <-> Expression) for graft's
  * custom expressions, to frames over binary rows for
  * [[graft.pipeline.ExtractJob]] and to Spark's parquet write task for
  * [[graft.sources.HadoopTableIO]] — the standard extension-library pattern (cf.
  * SNIPPETS.md [2]/[3]: third-party strategies live in this package for
  * the same reason).
  */
object GraftExprBridge {
  def column(e: Expression): Column =
    classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression =
    classic.ExpressionUtils.expression(c)
  /** A DataFrame over rows already in Catalyst's binary form: no object
    * encoder runs when it is planned or read.
    */
  def internalFrame(spark: SparkSession, rows: RDD[InternalRow],
                    schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(rows, schema)

  /** What `df.write.mode("overwrite").options(options).parquet(dir)` does
    * — the same files, checksums and modes, through Spark's own write task
    * (`FileFormatWriter.executeTask`) and commit protocol — except that the
    * job's Hadoop conf reaches the tasks as flat key/value strings, and
    * each task rebuilds its conf from them.
    *
    * Why: the stock write puts the job conf into every write task twice,
    * as two `SerializableConfiguration`s (the write job's and its stats
    * tracker's). A session conf holds ~1,100 entries, mostly the
    * yarn/core/mapred defaults, and `Configuration.readFields` opens one
    * gzip stream per entry for its source list, so a group-write task
    * spent longer deserializing the two confs than writing its rows. As
    * strings the same entries are read without a stream per entry. Every
    * entry still arrives: the write options, the file system settings,
    * the compression codec and the umask are all entries of the job conf.
    *
    * What this write no longer reports: Spark's SQL write metrics (files,
    * bytes and rows written, task commit time: there is no stats tracker)
    * and its SQL execution events (no execution id, so no SQL tab entry
    * and no `SparkListenerSQLExecutionStart`/`End`); the write tasks'
    * output metrics stay 0. The session's SQL confs still reach the tasks.
    */
  def overwriteParquet(df: DataFrame, dir: String,
                       options: Map[String, String]): Unit = {
    val session = df.sparkSession.asInstanceOf[classic.SparkSession]
    val state = session.sessionState
    val opts = CaseInsensitiveMap(options)
    val hadoopConf = state.newHadoopConfWithOptions(options)
    val fs = new Path(dir).getFileSystem(hadoopConf)
    val out = new Path(dir).makeQualified(fs.getUri, fs.getWorkingDirectory)
    val path = out.toString
    if (fs.exists(out) && !fs.delete(out, true))
      throw QueryExecutionErrors.cannotClearOutputDirectoryError(out)

    val plan = df.asInstanceOf[classic.Dataset[Row]].queryExecution.executedPlan
    val columns = plan.output
    val schema = DataTypeUtils.fromAttributes(columns)
    val format = new ParquetFileFormat
    SchemaUtils.checkColumnNameDuplication(columns.map(_.name),
      state.conf.caseSensitiveAnalysis)
    DataSourceUtils.verifySchema(format, schema)
    DataSourceUtils.checkFieldNames(format, schema)
    val job = Job.getInstance(hadoopConf)
    job.setOutputKeyClass(classOf[Void])
    job.setOutputValueClass(classOf[InternalRow])
    FileOutputFormat.setOutputPath(job, out)
    val factory = format.prepareWrite(session, job, opts, schema)
    val uuid = java.util.UUID.randomUUID.toString
    job.getConfiguration.set("spark.sql.sources.writeJobUUID", uuid)
    val committer = FileCommitProtocol.instantiate(
      state.conf.fileCommitProtocolClass, uuid, path)
    committer.setupJob(job)
    // taken after setupJob, which adds the job's ids to the conf
    val entries = job.getConfiguration.iterator.asScala
      .flatMap(e => Array(e.getKey, e.getValue)).toArray
    val maxRecords = opts.get("maxRecordsPerFile").map(_.toLong)
      .getOrElse(state.conf.maxRecordsPerFile)
    val timeZone = opts.getOrElse(DateTimeUtils.TIMEZONE_OPTION,
      state.conf.sessionLocalTimeZone)
    val tracker = SparkHadoopWriterUtils.createJobTrackerID(new java.util.Date)
    try {
      val commits = session.withActive(SQLExecution.withSQLConfPropagated(session) {
        val rdd = plan.execute()
        // an empty frame still writes one schema-only file, as Spark does
        val rows = if (rdd.partitions.isEmpty)
          session.sparkContext.parallelize(Array.empty[InternalRow], 1) else rdd
        session.sparkContext.runJob(rows,
          (tc: TaskContext, it: Iterator[InternalRow]) => {
            val conf = new Configuration(false)
            var i = 0
            while (i < entries.length) { conf.set(entries(i), entries(i + 1)); i += 2 }
            val desc = new WriteJobDescription(uuid,
              new SerializableConfiguration(conf), factory, columns, columns,
              Nil, None, path, Map.empty, maxRecords, timeZone, Nil)
            FileFormatWriter.executeTask(desc, tracker, tc.stageId(),
              tc.partitionId(), tc.taskAttemptId().toInt & Int.MaxValue,
              committer, it, None).commitMsg
          })
      })
      commits.foreach(committer.onTaskCommit)
      committer.commitJob(job, commits.toSeq)
    } catch {
      case e: Throwable =>
        committer.abortJob(job)
        throw e
    }
  }

  /** Register a [[graft.functions.Natives]] row as a SQL function: its
    * inputs, then one integer literal per param; another argument count
    * fails with the function name and the count it takes.
    */
  def register(spark: SparkSession, fn: graft.functions.NativeFn): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      fn.name, fn.fromSql, "scala_udf")

  /** Register every `Natives` row marked `sql`: graft_simhash64(text),
    * graft_rolling_hash64(text), graft_langid(text),
    * graft_minhash_sig(text, w, k), graft_shingle_hashes(text, w) and
    * graft_text_embed(text, dim).
    */
  def registerAll(spark: SparkSession): Unit =
    graft.functions.Natives.all.filter(_.sql).foreach(register(spark, _))
}
