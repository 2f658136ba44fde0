package graft.tools

import graft.SparkEntry
import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode
import java.nio.file.{Files, Paths}
import java.util.Locale
import java.util.concurrent.atomic.AtomicInteger

/** Query-side profiler for the `SparkEntry.queries` surface. For each
  * named query and repetition it prints one JSON line:
  *  - `build_ms`: DataFrame construction, including any driver-side
  *    fixture generation the query does before returning its plan;
  *  - `plan_ms`: forcing `queryExecution.executedPlan`;
  *  - `exec_ms`: `count()`;
  *  - `rows`, and the `jobs` / `stages` that rep launched (one listener,
  *    drained before reading).
  * With `planDir`, `explain("formatted")` of each query is written to
  * `planDir/<query>.txt` (pushdown, pruning, broadcast, codegen spans).
  *
  * `sbt "runMain graft.tools.QueryProfile <sfDir> [q1,q2,...|all] [reps] [planDir]"`
  *
  * The extraction side has its own profiler with per-layer splits:
  * `python3 perfbench/run.py --workload spans_table --seed 1 --seconds 12 --trace 1`.
  */
object QueryProfile {

  /** The Bench sweep's session config, so timings and plan shapes match
    * what the per-query bench measures.
    */
  private def session(): SparkSession = {
    val s = SparkSession.builder()
      .master("local[32]")
      .appName("graft-queryprofile")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", (4L << 20).toString)
      .config("spark.sql.files.openCostInBytes", (1L << 20).toString)
      .config("spark.sql.parquet.compression.codec", "zstd")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def profile(spark: SparkSession, sfDir: String, names: Seq[String],
              reps: Int, planDir: Option[String] = None): Seq[String] = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        stages.incrementAndGet(): Unit
    }
    def ms(t0: Long, t1: Long): String =
      String.format(Locale.ROOT, "%.3f", Double.box((t1 - t0) / 1e6))
    planDir.foreach(d => Files.createDirectories(Paths.get(d)))
    sc.addSparkListener(listener)
    try names.flatMap { name =>
      val query = SparkEntry.queries(name)
      (0 until reps).map { rep =>
        ListenerDrain.drain(sc)
        jobs.set(0); stages.set(0)
        val t0 = System.nanoTime()
        val df = query(spark, sfDir)
        val t1 = System.nanoTime()
        df.queryExecution.executedPlan
        val t2 = System.nanoTime()
        val rows = df.count()
        val t3 = System.nanoTime()
        ListenerDrain.drain(sc)
        if (rep == 0) planDir.foreach { d =>
          Files.writeString(Paths.get(d, s"$name.txt"),
            df.queryExecution.explainString(ExplainMode.fromString("formatted")))
        }
        spark.catalog.clearCache()
        s"""{"query":"$name","rep":$rep,"build_ms":${ms(t0, t1)},""" +
          s""""plan_ms":${ms(t1, t2)},"exec_ms":${ms(t2, t3)},""" +
          s""""rows":$rows,"jobs":${jobs.get},"stages":${stages.get}}"""
      }
    } finally sc.removeSparkListener(listener)
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: QueryProfile <sfDir> [q1,q2,...|all] [reps] [planDir]")
    val sfDir = args(0)
    val names = args.lift(1).filter(_ != "all").map(_.split(",").toSeq)
      .getOrElse(SparkEntry.queries.keys.toSeq.sorted)
    val reps = args.lift(2).map(_.toInt).getOrElse(2)
    val spark = session()
    try profile(spark, sfDir, names, reps, args.lift(3)).foreach(println)
    finally spark.stop()
  }
}
