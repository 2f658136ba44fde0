package graft

import graft.gen.{GtRow, PdfGen}
import graft.tools.Volume
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import java.io.File

class VolumeSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** Every row at a size that runs in seconds; the checks are the rows'
    * own, at full strength.
    */
  private val tiny = Seq("realpdf" -> "14", "crawl" -> "2", "table" -> "50",
    "langid" -> "210", "media_dedup" -> "200", "bpe" -> "100",
    "clean" -> "/root/testdata/sf0.001", "codec" -> "200",
    "layout" -> "500,1000")

  private def volumeTmpDirs(): Set[String] =
    new File(System.getProperty("java.io.tmpdir")).list()
      .filter(_.startsWith("graft-volume-")).toSet

  test("the tiny-size table names every Volume row") {
    assert(tiny.map(_._1).toSet == Volume.rows.keySet)
  }

  tiny.foreach { case (row, arg) =>
    test(s"Volume row $row passes its checks at a tiny size and returns " +
         "its line") {
      val before = volumeTmpDirs()
      val line = Volume.scratch(Volume.rows(row)(spark, Some(arg)))
      info(line)
      assert(line.startsWith("| ") && line.endsWith(" |"), line)
      assert(line.contains(spark.sparkContext.master) || row == "layout",
        line)
      assert(volumeTmpDirs() == before, s"$row left temp dirs behind")
    }
  }

  test("the raw-ingest check throws when the ground truth has one doc more") {
    Volume.scratch {
      val dir = Volume.tmp("pdf")
      PdfGen.write(dir, 3)
      val gt = PdfGen.expected(3)
      assert(Volume.ingest(spark, dir, gt)._3 ==
        "text-doc recall 3/3; media recall 0/0")
      val extra = GtRow("doc_extra.pdf", "pdf", "never written\n", null, 0)
      val e = intercept[IllegalArgumentException](
        Volume.ingest(spark, dir, gt :+ extra))
      assert(e.getMessage.contains("expected 4 docs, got 3"), e.getMessage)
    }
  }
}
