package graft

import graft.gen.CorpusGen
import graft.pipeline.{Checkpoint, ExtractJob}
import graft.sources.{HadoopTableIO, IcebergTableIO, LocalFs, TableIO}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import scala.jdk.CollectionConverters._

/** Iceberg-readiness evidence (VERDICT r02 #9): the iceberg runtime jar
  * is absent in this sandbox, so what CAN be pinned is pinned —
  * (1) the TableIO contract every implementation must satisfy, run
  * against the in-sandbox HadoopTableIO; (2) that the pipeline writes
  * through the seam and ONLY through the seam (a recording TableIO
  * driven by a full ExtractJob.run observes every data write), so
  * swapping `Config(io = IcebergTableIO("cat.db.chunks"))` is the whole
  * migration; (3) that IcebergTableIO compiles against the stable
  * DataFrameWriterV2 surface (interface conformance checked here at
  * compile time — constructing it needs no catalog).
  *
  * Deployment confs (README "Iceberg deployment"):
  *   spark-submit --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<v>
  *     --conf spark.sql.catalog.cat=org.apache.iceberg.spark.SparkCatalog
  *     --conf spark.sql.catalog.cat.type=hadoop|hive|rest ...
  */
class TableIOContractSpec extends AnyFunSuite with BeforeAndAfterAll with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** The contract: group overwrite is idempotent (re-put replaces, never
    * duplicates), groups are independent, read() unions all groups.
    */
  private def contract(io: TableIO, mk: () => DataFrame): Unit = {
    val df = mk()
    io.overwriteGroup(df.where(col("doc_id") % 2 === 0), 0)
    io.overwriteGroup(df.where(col("doc_id") % 2 =!= 0), 1)
    io.overwriteGroup(df.where(col("doc_id") % 2 =!= 0), 1) // re-put
    val back = io.read(spark).drop("group")
    assert(back.count() == df.count(), "re-put duplicated rows")
    assert(back.select("doc_id").except(df.select("doc_id")).count() == 0)
    assert(df.select("doc_id").except(back.select("doc_id")).count() == 0)
  }

  test("HadoopTableIO satisfies the overwrite-idempotence contract") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val root = tempDir("graft-tableio").toString
    contract(HadoopTableIO(root),
      () => (0L until 40L).map(i => (i, s"row_$i")).toDF("doc_id", "text"))
  }

  test("IcebergTableIO conforms to the seam (compile-time interface check)") {
    // constructing the case class needs no catalog; using it does — the
    // point pinned here is that BOTH impls are the same type to every
    // caller, so the swap is Config-only.
    val impls: Seq[TableIO] =
      Seq(HadoopTableIO("/tmp/x"), IcebergTableIO("cat.db.chunks"))
    assert(impls.forall(_.isInstanceOf[TableIO]))
    // the pipeline Config carries any TableIO
    val cfg = ExtractJob.Config("/tmp/x", io = IcebergTableIO("cat.db.t"))
    assert(cfg.tableIO.isInstanceOf[IcebergTableIO])
  }

  test("ExtractJob writes data exclusively through the TableIO seam") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val out = tempDir("graft-seam").toString
    val delegate = HadoopTableIO(out)
    val written = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
    // recording wrapper: observes every group write the job performs
    val recording = new TableIO {
      override def overwriteGroup(df: DataFrame, group: Int): Unit = {
        val n = df.count()
        written.synchronized { written += ((group, n)) }
        delegate.overwriteGroup(df, group)
      }
      override def read(s: SparkSession): DataFrame = delegate.read(s)
    }
    val docs = spark.createDataset(CorpusGen.corpus(7L, 60))
    val report = ExtractJob.run(spark, docs,
      ExtractJob.Config(out, runId = "seam", groups = 3, partitions = 4,
        io = recording))
    assert(report.groupsRun.sorted == Seq(0, 1, 2))
    assert(written.map(_._1).sorted == Seq(0, 1, 2),
      s"writes bypassed the seam or missed groups: $written")
    // everything the job produced is what the seam observed
    val total = recording.read(spark).count()
    assert(written.map(_._2).sum == total)
    assert(total > 0)
  }

  /** (name relative to `root` with any uuid masked, is a dir, POSIX mode)
    * of every entry under `root`.
    */
  private def entries(root: java.nio.file.Path): Set[(String, Boolean, String)] = {
    val uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(_ != root).map(p =>
      (root.relativize(p).toString.replaceAll(uuid, "<uuid>"),
        Files.isDirectory(p),
        PosixFilePermissions.toString(Files.getPosixFilePermissions(p)))).toSet
    finally walk.close()
  }

  test("a group write and commit make the files, checksums and modes of the stock local FS") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val df = (0L until 40L).map(i => (i, s"row_$i", s"ref_$i"))
      .toDF("doc_id", "text", "media_ref").repartition(3)
    val hc = spark.sparkContext.hadoopConfiguration
    // the session conf reaches both the write jobs and Checkpoint
    Seq(None, Some("077")).foreach { umask =>
      umask.foreach(hc.set("fs.permissions.umask-mode", _))
      try {
        val ours = tempDir("graft-localfs")
        HadoopTableIO(ours.toString).overwriteGroup(df, 0)
        Checkpoint.commitGroup(ours.toString, 0, "r", 40L, 1L)
        // the stock side: Spark's own write and the calls commitGroup makes,
        // through the file system Hadoop picks for `file:`, uncached as on
        // our side (a cached one keeps the umask of the conf it was made with)
        val stock = tempDir("graft-stockfs")
        df.write.option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
          .option("fs.file.impl.disable.cache", "true")
          .parquet(s"$stock/data/group=0")
        val fs = org.apache.hadoop.fs.FileSystem.newInstance(stock.toUri,
          new Configuration(hc))
        assert(!fs.isInstanceOf[LocalFs], "the session conf names LocalFs")
        val ck = new Path(stock.toUri.toString, "_checkpoint")
        try {
          fs.mkdirs(ck)
          fs.create(new Path(ck, ".group_0.json.tmp"), true).close()
          assert(fs.rename(new Path(ck, ".group_0.json.tmp"),
            new Path(ck, "group_0.json")))
        } finally fs.close()

        val got = entries(ours)
        assert(got == entries(stock), s"umask $umask")
        val modes = got.map(e => e._2 -> e._3)
        assert(modes == (umask match {
          case None => Set(true -> "rwxr-xr-x", false -> "rw-r--r--")
          case _ => Set(true -> "rwx------", false -> "rw-------")
        }), s"umask $umask")
        val names = got.map(_._1)
        val data = names.filter(_.endsWith(".parquet"))
        assert(data.nonEmpty && data.forall { n =>
          val i = n.lastIndexOf('/') + 1
          names(s"${n.take(i)}.${n.drop(i)}.crc")
        }, names)
        assert(names("_checkpoint/.group_0.json.crc"), names)
        def rows(d: DataFrame) = d.as[(Long, String, String)].collect().sorted.toSeq
        assert(rows(HadoopTableIO(ours.toString).read(spark).drop("group")) == rows(df))
      } finally hc.unset("fs.permissions.umask-mode")
    }
  }

  test("group write tasks deserialize no Hadoop conf") {
    import jdk.jfr.Recording
    import jdk.jfr.consumer.RecordingFile
    spark.sparkContext.setLogLevel("WARN")
    val df = spark.range(0, 400, 1, 4)
      .selectExpr("id AS doc_id", "concat('row_', id) AS text")
    val root = tempDir("graft-conf-ser")
    val rec = new Recording()
    rec.enable("jdk.Deserialization").withoutStackTrace()
    rec.start()
    try HadoopTableIO(root.toString).overwriteGroup(df, 0)
    finally rec.stop()
    val dump = root.resolve("write.jfr")
    try rec.dump(dump) finally rec.close()
    val onTasks = RecordingFile.readAllEvents(dump).asScala.filter(e =>
      e.getEventType.getName == "jdk.Deserialization" && e.getThread != null &&
        e.getThread.getJavaName.startsWith("Executor task launch"))
    // the recording sees the tasks' own deserialization
    assert(onTasks.nonEmpty, "no deserialization recorded on task threads")
    val confs = onTasks.count(e => Option(e.getClass("type"))
      .exists(_.getName == "org.apache.spark.util.SerializableConfiguration"))
    assert(confs == 0, s"$confs Hadoop confs deserialized by 4 write tasks")
    assert(HadoopTableIO(root.toString).read(spark).count() == 400)
  }

  test("a failure inside a write task aborts the group write; a re-run completes it") {
    spark.sparkContext.setLogLevel("WARN")
    val df = spark.range(0, 40, 1, 4)
      .selectExpr("id AS doc_id", "concat('row_', id) AS text")
    def causes(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq
    def left(dir: java.nio.file.Path) =
      if (Files.exists(dir)) entries(dir).map(_._1)
        .filter(n => n.endsWith(".parquet") || n.startsWith("_temporary"))
      else Set.empty[String]

    val ours = tempDir("graft-task-fail")
    val e = intercept[Exception] {
      HadoopTableIO(ours.toString).overwriteGroup(ProbeIO.failInTask(df), 0)
    }
    assert(causes(e).exists(c => String.valueOf(c.getMessage)
      .contains("injected task failure")), e)
    assert(left(ours.resolve("data/group=0")).isEmpty)
    // a good frame then makes the stock layout
    HadoopTableIO(ours.toString).overwriteGroup(df, 0)
    val stock = tempDir("graft-task-fail-stock")
    df.write.option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      .option("fs.file.impl.disable.cache", "true")
      .parquet(s"$stock/data/group=0")
    assert(entries(ours) == entries(stock))

    // through a run: the group is not committed, and a re-run completes it
    import spark.implicits._
    val docs = spark.createDataset(CorpusGen.corpus(7L, 60))
    val clean = tempDir("graft-task-fail-clean").toString
    ExtractJob.run(spark, docs,
      ExtractJob.Config(clean, runId = "ok", groups = 3, partitions = 4))
    val out = tempDir("graft-task-fail-run").toString
    intercept[Exception] {
      ExtractJob.run(spark, docs, ExtractJob.Config(out, runId = "tf1",
        groups = 3, partitions = 4, io = ProbeIO(out, failTaskGroup = 1)))
    }
    assert(Checkpoint.committedGroups(out) == Set(0))
    assert(left(java.nio.file.Paths.get(out, "data", "group=1")).isEmpty)
    val r = ExtractJob.run(spark, docs,
      ExtractJob.Config(out, runId = "tf2", groups = 3, partitions = 4))
    assert(r.groupsRun == Seq(1, 2) && r.groupsSkipped == Seq(0))
    def rows(dir: String) = ExtractJob.spansView(spark, dir).collect()
      .map(_.toString).sorted.toSeq
    assert(rows(out) == rows(clean))
  }

  test("a failed group write returns once its last task has ended, leaving no file") {
    import spark.implicits._
    import TableIOContractSpec.{lateRunning, lateStarted}
    lateStarted.set(false); lateRunning.set(false)
    // task 0 fails 0.3 s in; task 1 has started by then and runs 3 s: a
    // failed job's other tasks are told to stop, not stopped
    val df = spark.range(0, 2, 1, 2).as[Long].mapPartitions { it =>
      val tc = org.apache.spark.TaskContext.get()
      if (tc.partitionId() == 1) {
        lateStarted.set(true); lateRunning.set(true)
        tc.addTaskCompletionListener[Unit](_ => lateRunning.set(false))
      }
      it.map { id =>
        Thread.sleep(if (id == 0) 300 else 3000)
        if (id == 0) throw new IllegalStateException("injected task failure")
        id
      }
    }.toDF("doc_id")
    val out = tempDir("graft-late-task")
    intercept[Exception](HadoopTableIO(out.toString).overwriteGroup(df, 0))
    assert(lateStarted.get)
    assert(!lateRunning.get, "the failed write returned while a task still ran")
    val dir = out.resolve("data/group=0")
    if (Files.exists(dir))
      assert(entries(dir).map(_._1).filter(n =>
        n.endsWith(".parquet") || n.startsWith("_temporary")).isEmpty)
  }

  test("LocalFs.Raw sets the modes Hadoop's chmod sets, sticky bit included") {
    val conf = new Configuration()
    val ours = new LocalFs.Raw
    val stock = new RawLocalFileSystem
    Seq(ours, stock).foreach(_.initialize(java.net.URI.create("file:///"), conf))
    val root = tempDir("graft-modes")
    def mode(p: java.nio.file.Path) =
      Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0x0fff
    def make(name: String, dir: Boolean) = {
      val p = root.resolve(name)
      if (dir) Files.createDirectory(p) else Files.createFile(p)
    }
    for ((m, dir) <- Seq("644" -> false, "600" -> false, "755" -> false,
        "640" -> false, "444" -> false, "750" -> true, "1777" -> true,
        "1755" -> true)) {
      val perm = new FsPermission(Integer.parseInt(m, 8).toShort)
      val (a, b) = (make(s"ours_$m", dir), make(s"stock_$m", dir))
      ours.setPermission(new Path(a.toUri), perm)
      stock.setPermission(new Path(b.toUri), perm)
      assert(mode(a) == Integer.parseInt(m, 8) && mode(a) == mode(b), m)
    }
  }
}

object TableIOContractSpec {
  val lateStarted, lateRunning = new java.util.concurrent.atomic.AtomicBoolean
}
