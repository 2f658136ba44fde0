package org.apache.spark.sql

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.Job
import org.apache.hadoop.mapreduce.lib.output.FileOutputFormat
import org.apache.spark.{JobExecutionStatus, SparkContext, TaskContext}
import org.apache.spark.internal.io.{FileCommitProtocol, SparkHadoopWriterUtils}
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.catalyst.util.{CaseInsensitiveMap, DateTimeUtils}
import org.apache.spark.sql.errors.QueryExecutionErrors
import org.apache.spark.sql.execution.{SQLExecution, ShuffledRowRDD,
  UnsafeRowSerializer}
import org.apache.spark.sql.execution.datasources.{DataSourceUtils,
  FileFormatWriter, WriteJobDescription}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.metric.{SQLShuffleReadMetricsReporter,
  SQLShuffleWriteMetricsReporter}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.SchemaUtils
import org.apache.spark.util.SerializableConfiguration
import scala.concurrent.Await
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success}

/** Bridge to sql-private helpers (Column <-> Expression) for graft's
  * custom expressions, to binary rows for [[graft.pipeline.ExtractJob]]
  * (a plan's rows, their decoding, Spark's hash exchange over them and
  * frames over them) and to Spark's parquet write task for
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

  /** The rows of `df`'s executed plan in Catalyst's binary form
    * (`queryExecution.toRdd`), planned once here. A partition may hand
    * out one reused row: copy a row to keep it.
    */
  def toRdd(df: DataFrame): RDD[InternalRow] =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.toRdd

  /** `enc` resolved against the leading columns of `schema`, as `.as[T]`
    * resolves it against a frame of those columns: its deserializer turns
    * a row of `schema` into a `T` with the null handling of `.as[T]`.
    */
  def decoder[T](enc: ExpressionEncoder[T], schema: StructType)
      : ExpressionEncoder[T] =
    enc.resolveAndBind(DataTypeUtils.toAttributes(
      StructType(schema.take(enc.schema.length))))

  /** What `repartition(n, col(key))` does to binary rows of `schema`,
    * without planning a query: Spark's own hash exchange
    * (`ShuffleExchangeExec`'s dependency, partition
    * `pmod(murmur3_hash(key), n)`, `UnsafeRowSerializer`), read back as
    * a `ShuffledRowRDD` of exactly `n` partitions. A job over the result
    * runs the exchange as its map stage; nothing re-plans it. The rows
    * must be `UnsafeRow`s, as a projection's output is.
    */
  def hashShuffle(rows: RDD[InternalRow], schema: StructType, key: String,
                  n: Int): RDD[InternalRow] = {
    val sc = rows.sparkContext
    val attrs = DataTypeUtils.toAttributes(schema)
    val dep = ShuffleExchangeExec.prepareShuffleDependency(rows, attrs,
      HashPartitioning(attrs.filter(_.name == key), n),
      new UnsafeRowSerializer(attrs.size),
      SQLShuffleWriteMetricsReporter.createShuffleWriteMetrics(sc))
    new ShuffledRowRDD(dep,
      SQLShuffleReadMetricsReporter.createShuffleReadMetrics(sc))
  }

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
    *
    * One more difference: when the write job fails, the job is aborted
    * (its `_temporary` deleted) only once no task of it runs any more
    * ([[awaitTasksEnded]]), so a failed write leaves no file behind.
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
    val sc = session.sparkContext
    try {
      val commits = session.withActive(SQLExecution.withSQLConfPropagated(session) {
        val rdd = plan.execute()
        // an empty frame still writes one schema-only file, as Spark does
        val rows = if (rdd.partitions.isEmpty)
          sc.parallelize(Array.empty[InternalRow], 1) else rdd
        val msgs = new Array[TaskCommitMessage](rows.partitions.length)
        val write = sc.submitJob(rows,
          (it: Iterator[InternalRow]) => {
            val tc = TaskContext.get()
            val conf = new Configuration(false)
            var i = 0
            while (i < entries.length) { conf.set(entries(i), entries(i + 1)); i += 2 }
            val desc = new WriteJobDescription(uuid,
              new SerializableConfiguration(conf), factory, columns, columns,
              Nil, None, path, Map.empty, maxRecords, timeZone, Nil)
            FileFormatWriter.executeTask(desc, tracker, tc.stageId(),
              tc.partitionId(), tc.taskAttemptId().toInt & Int.MaxValue,
              committer, it, None).commitMsg
          }, rows.partitions.indices,
          (i: Int, m: TaskCommitMessage) => msgs(i) = m, msgs)
        Await.ready(write, Duration.Inf)
        write.value.get match {
          case Success(m) => m
          case Failure(e) => awaitTasksEnded(sc, write.jobIds); throw e
        }
      })
      commits.foreach(committer.onTaskCommit)
      committer.commitJob(job, commits.toSeq)
    } catch {
      case e: Throwable =>
        committer.abortJob(job)
        throw e
    }
  }

  /** Waits, for at most a minute, until no task of the failed jobs `ids`
    * runs. A failed job's other tasks are only told to stop: one still
    * running, or launched just before the failure, can write its file
    * under `_temporary` after an abort has deleted it. Read from the
    * status store: once it holds a job's end, it holds the start of every
    * task the job launched, and a stage's active task count reaches 0
    * only with the end of its last task.
    */
  private def awaitTasksEnded(sc: SparkContext, ids: Seq[Int]): Unit = {
    val st = sc.statusTracker
    def running = ids.exists(id => st.getJobInfo(id).forall(j =>
      j.status == JobExecutionStatus.RUNNING ||
        j.stageIds.exists(s => st.getStageInfo(s).exists(_.numActiveTasks > 0))))
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (running && System.nanoTime() < deadline) Thread.sleep(10)
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
