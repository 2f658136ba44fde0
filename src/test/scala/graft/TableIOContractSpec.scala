package graft

import graft.gen.CorpusGen
import graft.pipeline.ExtractJob
import graft.sources.{HadoopTableIO, IcebergTableIO, TableIO}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

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
}
