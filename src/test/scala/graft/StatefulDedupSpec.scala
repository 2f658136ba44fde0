package graft

import graft.streaming.StatefulDedup
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class StatefulDedupSpec extends AnyFunSuite with BeforeAndAfterAll with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("stateful streaming dedup passes each doc_id exactly once across batches") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val in = tempDir("graft-sd-in").toString
    val ckpt = tempDir("graft-sd-ckpt").toString

    // batch 1 contains internal duplicates; batch 2 replays half of batch 1
    Seq("a", "b", "c", "a", "b").toDF("doc_id").coalesce(1)
      .write.mode("append").parquet(in)

    val out = tempDir("graft-sd-out").toString
    def drain(): Unit = {
      val stream = spark.readStream
        .schema("doc_id STRING").parquet(in).as[String]
      val q = StatefulDedup.firstOccurrence[String](stream, identity)
        .writeStream
        .option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[String],
                         _: Long) =>
          batch.write.mode("append").parquet(out); ()
        }
        .start()
      q.awaitTermination()
    }
    drain()
    val first = spark.read.parquet(out).as[String].collect().sorted
    assert(first.toSeq == Seq("a", "b", "c"))

    Seq("b", "c", "d", "d").toDF("doc_id").coalesce(1)
      .write.mode("append").parquet(in)
    drain()
    val all = spark.read.parquet(out).as[String].collect().sorted
    // only the genuinely new key passed the second time
    assert(all.toSeq == Seq("a", "b", "c", "d"))
  }
}
