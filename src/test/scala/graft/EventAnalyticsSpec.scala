package graft

import graft.streaming.EventAnalytics
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class EventAnalyticsSpec extends AnyFunSuite with BeforeAndAfterAll with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("streaming windowed agg == batch windowed agg on the same events") {
    spark.sparkContext.setLogLevel("WARN")
    val dir = "/root/testdata/sf0.001"
    val batch = EventAnalytics
      .hourlyByType(spark.read.parquet(s"$dir/events.parquet"))
      .orderBy("h", "event_type").collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
                 r.getDouble(3)))
    // file stream source needs a directory, not a single file
    val streamDir = tempDir("graft-ev").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      java.nio.file.Paths.get(s"$streamDir/events.parquet"))
    EventAnalytics.runFileStream(spark, streamDir, "ev_stream")
    val streamed = spark.table("ev_stream")
      .orderBy("h", "event_type").collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
                 r.getDouble(3)))
    assert(batch.nonEmpty)
    assert(streamed.toSeq == batch.toSeq,
      "stream and batch window aggregations must agree")
  }
}
