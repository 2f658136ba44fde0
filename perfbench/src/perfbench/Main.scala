package perfbench

import graft.core.InputDoc
import graft.extract.Extractor
import graft.pipeline.ExtractJob
import graft.sources.{HadoopTableIO, RawFiles, TableIO}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer

/** The repo benchmark's JVM side. `perfbench/run.py` builds it, owns the
  * scratch root and the result line; this runs one workload once:
  *
  *   --workload spans_table|raw_mixed|skewed|serve_reads --seed N
  *   --seconds S --trace 0|1 --scratch DIR --trace-out FILE
  *   [--inject-wrong-row] [--gen]
  *
  * With `--gen` it only writes the workload's inputs under the scratch root
  * and exits, so the measured JVM starts cold. Otherwise it prints
  * `[perfbench]` lines and, last, one `PERFBENCH_RESULT {...}` line. Exit
  * code 0 only when every checked operation was correct.
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, scratch: String, traceOut: String,
                        inject: Boolean, gen: Boolean, nproc: Int)

  def log(s: String): Unit = println(s"[perfbench] $s")

  /** ExtractJob's default checkpoint group count, which pageContent and the
    * standalone layer passes must match.
    */
  val Groups: Int = ExtractJob.Config("").groups

  def parse(argv: Array[String]): Opts = {
    val kv = argv.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k -> v
    }.toMap
    def get(k: String) = kv.getOrElse(k, sys.error(s"missing $k"))
    Opts(get("--workload"), get("--seed").toLong, get("--seconds").toInt,
      get("--trace") == "1", get("--scratch"),
      kv.getOrElse("--trace-out", ""), argv.contains("--inject-wrong-row"),
      argv.contains("--gen"),
      kv.get("--nproc").map(_.toInt)
        .getOrElse(Runtime.getRuntime.availableProcessors()))
  }

  def session(o: Opts): SparkSession = {
    // ExtractMain's session settings, at local[nproc], with every local
    // dir under the benchmark's scratch root
    val s = SparkSession.builder()
      .master(s"local[${o.nproc}]").appName("graft-extract")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.parquet.compression.codec", "zstd")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.scratch}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.scratch}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def cpuNs(): Long = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def statusKb(key: String): Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith(key + ":"))
      .map(_.split("\\s+")(1).toLong).getOrElse(0L)
    finally src.close()
  }

  /** Restart peak-RSS accounting so the peak covers the timed work only. */
  def resetPeakRss(): Unit =
    try java.nio.file.Files.write(java.nio.file.Paths.get("/proc/self/clear_refs"),
      "5".getBytes): Unit
    catch { case _: Exception => () }

  def main(argv: Array[String]): Unit = {
    val o = parse(argv)
    val code =
      try if (o.gen) new Run(o).generate() else new Run(o).apply()
      catch { case t: Throwable =>
        t.printStackTrace(); System.err.println(s"[perfbench] aborted: $t"); 2 }
    System.out.flush()
    System.exit(code)
  }
}

/** Times one checkpoint group's write through the public TableIO seam; it
  * delegates to the default HadoopTableIO, so the job is unchanged.
  */
final case class TimedIO(root: String) extends TableIO {
  override def overwriteGroup(df: DataFrame, group: Int): Unit =
    GroupClock.time(HadoopTableIO(root).overwriteGroup(df, group))
  override def read(spark: SparkSession): DataFrame =
    HadoopTableIO(root).read(spark)
}

object GroupClock {
  @volatile var tracer: Tracer = new Tracer(false, "")
  val ms = ArrayBuffer.empty[Double]
  def time(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    tracer.span("sources.overwrite_group")(body)
    ms.synchronized(ms += (System.nanoTime() - t0) / 1e6)
  }
}

final case class Rep(wallS: Double, cpuS: Double, report: ExtractJob.RunReport)

final class Run(o: Main.Opts) {
  import Main._

  private val tracer = new Tracer(o.trace, s"${o.workload}-${o.seed}")
  private val rec = new Recorder
  private var spark: SparkSession = _
  private val metrics = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  private var attempted = 0L
  private var failed = 0L
  private val sc = o.scratch

  // ---- workload shape ----
  private val isServe = o.workload == "serve_reads"
  private val isRaw = o.workload == "raw_mixed"
  private val corpus = o.workload match {
    case "spans_table" => Inputs.corpus(o.seed, 20000)
    case "skewed"      => Inputs.corpus(o.seed, 6000, 4, 12)
    case "serve_reads" => Inputs.corpus(o.seed, 2000)
    case "raw_mixed"   => null
    case w => sys.error(s"unknown workload $w")
  }
  private val tableParts = if (o.workload == "skewed") 16 else 8
  private val rawBase = Inputs.rawBase(o.seed)
  private val rawN = 22 * 20
  private val inDir = s"$sc/input"

  private def nDocs: Int = if (isRaw) rawExpected.size else corpus.n
  private lazy val rawExpected: Map[String, String] =
    Inputs.rawExpected(rawBase, rawN)
  private lazy val expected: Map[String, String] =
    if (isRaw) rawExpected
    else Par.map(corpus.n, o.nproc)(i => {
      val d = corpus.doc(i); d.doc_id -> Fp.ofOracle(d) }).toMap

  private def load(dir: String): Dataset[InputDoc] =
    if (isRaw) RawFiles.read(spark, dir)
    else {
      val s = spark; import s.implicits._
      spark.read.parquet(dir).as[InputDoc]
    }

  private def extractRun(in: String, out: String): ExtractJob.RunReport =
    ExtractJob.run(spark, load(in), ExtractJob.Config(out, io = TimedIO(out)))

  /** Writes the workload's inputs; run in its own JVM before the measured
    * one. Raw files need no Spark session.
    */
  def generate(): Int = {
    val t0 = System.nanoTime()
    if (!isRaw) spark = session(o)
    genInputs()
    if (spark != null) spark.stop()
    log(f"inputs: ${o.workload} seed=${o.seed} docs=$nDocs input_bytes=" +
      f"${Inputs.dirBytes(new java.io.File(inDir))}; written in " +
      f"${(System.nanoTime() - t0) / 1e9}%.2f s (own JVM, excluded from setup_s)")
    0
  }

  def apply(): Int = {
    // ---- set-up: JVM start to session ready, plus the warm-up (or the
    // served-table build) ----
    val jvmStartMs =
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    spark = session(o)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val warmS = warmUp()
    if (!o.trace) metrics("setup_s") = sessionS + warmS
    log(f"setup_s = ${sessionS + warmS}%.3f (JVM start to session " +
      f"$sessionS%.3f, warm-up $warmS%.3f)")

    // ---- the reference (benchmark-side, after set-up) ----
    val r0 = System.nanoTime()
    val fpN = if (isServe) served.twin.size else expected.size
    log(f"reference: $fpN docs in ${(System.nanoTime() - r0) / 1e9}%.2f s")

    if (o.trace) traced() else untraced()

    val probe = hostProbe()
    log(Json.obj(Seq("drift" -> "", "host.probe_docs_per_s" -> probe,
      "nproc" -> o.nproc, "jvm" -> System.getProperty("java.vm.version"),
      "spark" -> spark.version,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "input_args" -> java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.toArray.filter(_.toString.startsWith("-X"))
        .mkString(" "))))
    if (o.trace) {
      metrics("host.probe_docs_per_s") = probe
      writeTrace()
    }
    spark.stop()
    val correct = failed == 0 && attempted > 0
    log(f"error_rate=${if (attempted == 0) 1.0 else failed.toDouble / attempted}%.6f " +
      s"(failed $failed of $attempted operations)")
    println("PERFBENCH_RESULT " + Json.obj(Seq(
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> Json.Raw(Json.obj(metrics.toSeq)))))
    if (correct) 0 else 3
  }

  // ------------------------------------------------------------------
  // inputs and warm-up
  // ------------------------------------------------------------------

  private def genInputs(): Unit = {
    if (isRaw) {
      new java.io.File(inDir).mkdirs()
      Inputs.writeRaw(inDir, rawBase, rawN)
    } else {
      Inputs.writeTable(spark, corpus, tableParts, inDir)
      if (corpus.monsters.nonEmpty) {
        val sizes = corpus.monsters.toSeq.sorted.map(i =>
          corpus.monster(i).spans.map(_.text.length.toLong).sum)
        log(s"monsters at ${corpus.monsters.toSeq.sorted.mkString(",")}: " +
          s"payload bytes ${sizes.mkString(",")}")
      }
    }
  }

  private val servedDir = s"$sc/served"

  /** A cold JVM needs about four ExtractJob.run calls before the run wall
    * settles: most of a run is driver-side Spark planning, which the JIT
    * compiles over the first runs.
    */
  private val WarmRuns = 4

  /** Warm-up: WarmRuns extractions of the workload's input, each into an
    * output root that is then deleted; for serve_reads instead the
    * served-table build, one lookup and one search. Returns seconds.
    */
  private def warmUp(): Double = {
    val t0 = System.nanoTime()
    if (isServe) {
      val rep = extractRun(inDir, servedDir)
      if (rep.docsProcessed != corpus.n)
        sys.error(s"served build: ${rep.docsProcessed} docs, want ${corpus.n}")
      // one lookup and one search, unchecked: the reference is computed
      // after set-up
      val row = ExtractJob.readOutput(spark, servedDir)
        .filter(_.page.isDefined).first()
      ExtractJob.pageContent(spark, servedDir, Groups, row.doc_id,
        row.page.get).collect()
      graft.ops.Search.bm25TopK(ExtractJob.chunksView(spark, servedDir),
        "chunk_id", "text", graft.gen.CorpusGen.Words.take(2).toSeq, 10)
        .collect()
    } else {
      val walls = (1 to WarmRuns).map { _ =>
        val w0 = System.nanoTime()
        extractRun(inDir, s"$sc/warm_out")
        Inputs.deleteRec(new java.io.File(s"$sc/warm_out"))
        (System.nanoTime() - w0) / 1e9
      }
      log(s"warm-up walls ${walls.map(w => f"$w%.3f").mkString(" ")}")
    }
    (System.nanoTime() - t0) / 1e9
  }

  // ------------------------------------------------------------------
  // untraced: the end-to-end metrics
  // ------------------------------------------------------------------

  private def untraced(): Unit = {
    resetPeakRss()
    if (isServe) serveWindow() else extractWindow()
    metrics("peak_rss_mb") = statusKb("VmHWM") / 1024.0
  }

  private var outSeq = 0
  private var lastOut: String = null

  /** Closed loop of full ExtractJob.run calls at ExtractMain's defaults,
    * each into a fresh output root; only the last root is kept.
    */
  private def extractReps(minReps: Int, seconds: Double): (Seq[Rep], String) = {
    val reps = ArrayBuffer.empty[Rep]
    val t0 = System.nanoTime()
    while (reps.size < minReps || (System.nanoTime() - t0) / 1e9 < seconds) {
      val out = s"$sc/out/r$outSeq"
      outSeq += 1
      val c0 = cpuNs(); val w0 = System.nanoTime()
      val rep = tracer.span("pipeline.run")(extractRun(inDir, out))
      val wall = (System.nanoTime() - w0) / 1e9
      reps += Rep(wall, (cpuNs() - c0) / 1e9, rep)
      attempted += nDocs
      failed += math.abs(rep.docsProcessed - nDocs)
      if (lastOut != null) Inputs.deleteRec(new java.io.File(lastOut))
      lastOut = out
    }
    (reps.toSeq, lastOut)
  }

  private def extractWindow(): Unit = {
    GroupClock.ms.clear()
    val (reps, out) = extractReps(3, o.seconds)
    val groupMs = GroupClock.ms.synchronized(GroupClock.ms.toList)
    metrics("ops_per_s") = Stats.median(reps.map(r => nDocs / r.wallS))
    metrics("cpu_ms_per_op") = Stats.median(reps.map(r => r.cpuS * 1e3 / nDocs))
    val p50 = Stats.pct(groupMs, 50)
    metrics("p50_ms") = p50.value
    metrics("output_bytes_per_doc") =
      Inputs.dirBytes(new java.io.File(out)).toDouble / nDocs
    log(f"extraction: ${reps.size} runs of $nDocs docs, walls " +
      reps.map(r => f"${r.wallS}%.3f").mkString(" ") +
      s"; salted=${reps.map(_.report.salted).mkString(",")}" +
      f"; group write latency ${p50.label} = ${p50.value}%.1f ms, tail " +
      Stats.tail(groupMs).map(p => f"${p.label} = ${p.value}%.1f ms").getOrElse("n/a"))
    checkOutput(out)
  }

  /** Correctness of one run's output against the reference, per doc. */
  private def checkOutput(out: String): Unit = {
    if (o.inject) injectWrongRow(out, None)
    val s = spark; import s.implicits._
    val raw = isRaw
    val got = ExtractJob.readOutput(spark, out)
      .groupByKey(_.doc_id)
      .mapGroups { (id, rows) =>
        val rs = rows.toSeq
        id -> Fp.of(
          rs.map(r => (r.kind, r.text,
            if (raw) Fp.tail(r.media_ref) else r.media_ref, r.order)),
          if (raw) Nil
          else rs.filter(_.chunk_id != null).map(r => (r.chunk_id, r.text)))
      }.collect().toMap
    val empty = Fp.of(Nil, Nil)
    val bad = expected.count { case (id, fp) => got.getOrElse(id, empty) != fp } +
      got.keys.count(k => !expected.contains(k))
    log(s"check: ${got.size} output docs against ${expected.size} " +
      s"reference docs, $bad mismatched")
    failed += bad
  }

  /** Appends a copy of one output row, with its text changed, to the
    * output's data files: of page `at` when given, else of any row.
    */
  private def injectWrongRow(out: String, at: Option[(String, Int)]): Unit = {
    val all = spark.read.parquet(s"$out/data")
    val src = at.fold(all) { case (d, p) =>
      all.where(col("doc_id") === d && col("page") === p) }.limit(1)
      .collect().head
    val g = src.getAs[Int]("group")
    val docId = src.getAs[String]("doc_id")
    spark.createDataFrame(Inputs.asJava(Seq(src)), all.schema).drop("group")
      .withColumn("text", lit("perfbench injected wrong row"))
      .write.mode("append").parquet(s"$out/data/group=$g")
    log(s"injected a wrong row for $docId into group $g")
  }

  // ------------------------------------------------------------------
  // serving reads
  // ------------------------------------------------------------------

  /** Reference page rows and chunk texts of the served corpus. */
  private lazy val served: ReadRef = {
    val res = Par.map(corpus.n, o.nproc)(i =>
      graft.oracle.RefOracle.extract(corpus.doc(i)))
    ReadRef.of(res.flatMap(_.chunks).map(c => (c.doc_id, c.page,
      PageRow(c.chunk_id, c.text, c.bbox_x0, c.bbox_y0, c.bbox_x1, c.bbox_y1))))
  }

  sealed trait Req {
    def run(): Boolean
    def isSearch: Boolean
    def target: Option[(String, Int)]
  }

  /** A seeded request sequence: 9 page lookups for every 1 BM25 top-10. */
  private def requests(dir: String, n: Int, seed: Long,
                       ref: ReadRef = served): Iterator[Req] = {
    val pages = ref.pages; val bm25 = ref.twin
    val keys = pages.keys.toIndexedSeq.sorted
    val r = new scala.util.Random(seed)
    Iterator.from(0).take(n).map { k =>
      if (k % 10 == 9) {
        val terms = Seq.fill(2 + r.nextInt(2))(
          graft.gen.CorpusGen.Words(r.nextInt(graft.gen.CorpusGen.Words.length)))
          .distinct
        new Req {
          val isSearch = true
          val target = None
          def run(): Boolean = {
            val got = graft.ops.Search.bm25TopK(
              ExtractJob.chunksView(spark, dir), "chunk_id", "text", terms, 10)
              .collect().map(x => (x.getString(0), x.getDouble(1))).toSeq
            got == bm25.topK(terms, 10)
          }
        }
      } else {
        val key @ (doc, page) = keys(r.nextInt(keys.size))
        new Req {
          val isSearch = false
          val target = Some(key)
          def run(): Boolean = {
            val got = ExtractJob.pageContent(spark, dir, Groups, doc, page)
              .collect().map(x => PageRow(x.getString(0), x.getString(1),
                x.getDouble(2), x.getDouble(3), x.getDouble(4), x.getDouble(5)))
              .toSeq
            // reading order: y0 descending, then x0 ascending
            val ordered = got.zip(got.drop(1)).forall { case (a, b) =>
              a.y0 > b.y0 || (a.y0 == b.y0 && a.x0 <= b.x0) }
            ordered && got.sortBy(_.chunkId) == pages(key).sortBy(_.chunkId)
          }
        }
      }
    }
  }

  private def serveWindow(): Unit = {
    val dir = servedDir
    if (o.inject)
      requests(dir, 10, o.seed).flatMap(_.target).take(1)
        .foreach(k => injectWrongRow(dir, Some(k)))
    val lookups = ArrayBuffer.empty[Double]; val searches = ArrayBuffer.empty[Double]
    val it = requests(dir, Int.MaxValue, o.seed)
    val t0 = System.nanoTime(); val c0 = cpuNs()
    var n = 0
    while (n < 20 || (System.nanoTime() - t0) / 1e9 < o.seconds) {
      val q = it.next()
      val s0 = System.nanoTime()
      val ok = q.run()
      val ms = (System.nanoTime() - s0) / 1e6
      (if (q.isSearch) searches else lookups) += ms
      attempted += 1
      if (!ok) failed += 1
      n += 1
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val all = (lookups ++ searches).toSeq
    metrics("ops_per_s") = n / wall
    metrics("cpu_ms_per_op") = (cpuNs() - c0) / 1e6 / n
    metrics("p50_ms") = Stats.pct(all, 50).value
    metrics("output_bytes_per_doc") =
      Inputs.dirBytes(new java.io.File(dir)).toDouble / corpus.n
    val lt = Stats.tail(lookups.toSeq)
    log(f"serve: $n requests in $wall%.2f s; lookup_p50_ms=" +
      f"${Stats.median(lookups.toSeq)}%.2f (n=${lookups.size}) " +
      f"lookup_tail_ms=${lt.map(p => f"${p.value}%.2f [${p.label}]").getOrElse("n/a")} " +
      f"search_p50_ms=${if (searches.isEmpty) Double.NaN else Stats.median(searches.toSeq)}%.2f " +
      s"(n=${searches.size}); request ${Stats.pct(all, 50).label}")
  }

  // ------------------------------------------------------------------
  // host drift probe
  // ------------------------------------------------------------------

  /** Plain-thread extractRows rate at nproc threads over a fixed corpus. */
  private def hostProbe(): Double = {
    val docs = graft.gen.CorpusGen.corpus(4242L, 3000)
    def once(): Double = {
      val t0 = System.nanoTime()
      Par.map(o.nproc, o.nproc)(t =>
        docs.indices.filter(_ % o.nproc == t).foreach(i =>
          Extractor.extractRows(docs(i))))
      docs.size / ((System.nanoTime() - t0) / 1e9)
    }
    once()
    Stats.median(Seq.fill(3)(once()))
  }

  // ------------------------------------------------------------------
  // traced run: the per-layer metrics
  // ------------------------------------------------------------------

  private def traced(): Unit = new Layers(this).measure()

  // accessors for the traced-run measurement
  private[perfbench] def opts = o
  private[perfbench] def sparkSession = spark
  private[perfbench] def tr = tracer
  private[perfbench] def recorder = rec
  private[perfbench] def put(k: String, v: Double): Unit = metrics(k) = v
  private[perfbench] def metric(k: String): Double = metrics.getOrElse(k, 0.0)
  private[perfbench] def docEncoder: org.apache.spark.sql.Encoder[InputDoc] = {
    val s = spark; import s.implicits._
    implicitly[org.apache.spark.sql.Encoder[InputDoc]]
  }
  private[perfbench] def addOps(n: Long, bad: Long): Unit = {
    attempted += n; failed += bad }
  private[perfbench] def input = inDir
  private[perfbench] def docCount = nDocs
  private[perfbench] def inputRecords: Long =
    if (isRaw) rawN.toLong else corpus.n.toLong
  private[perfbench] def raw = isRaw
  private[perfbench] def serve = isServe
  private[perfbench] def rawWindow = (rawBase, rawN)
  private[perfbench] def corpusDocs: IndexedSeq[InputDoc] =
    Par.map(corpus.n, o.nproc)(corpus.doc)
  private[perfbench] def reps(minReps: Int) = extractReps(minReps, 0)
  private[perfbench] def check(out: String): Unit = checkOutput(out)
  private[perfbench] def reads(dir: String, n: Int, ref: ReadRef) =
    requests(dir, n, o.seed, ref)
  private[perfbench] def readRef: ReadRef = served
  private[perfbench] def servedRoot = servedDir
  private[perfbench] def loadInput(): Dataset[InputDoc] = load(inDir)

  private def writeTrace(): Unit = if (o.traceOut.nonEmpty) {
    val f = new java.io.File(o.traceOut)
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try {
      tracer.spans.foreach(s => w.println(Json.obj(Seq("type" -> "span",
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_us" -> s.startUs, "end_us" -> s.endUs, "run_id" -> s.runId))))
      rec.synchronized {
        rec.jobs.foreach(j => w.println(Json.obj(Seq("type" -> "job",
          "job_id" -> j.id, "start_ms" -> j.startMs, "end_ms" -> j.endMs,
          "stages" -> j.stages.mkString(","), "ok" -> j.ok))))
        rec.stages.foreach(s => w.println(Json.obj(Seq("type" -> "stage",
          "stage_id" -> s.id, "attempt" -> s.attempt, "name" -> s.name,
          "tasks" -> s.tasks, "submit_ms" -> s.submitMs, "done_ms" -> s.doneMs))))
        rec.tasks.foreach(t => w.println(Json.obj(Seq("type" -> "task",
          "stage_id" -> t.stage, "launch_ms" -> t.launchMs,
          "finish_ms" -> t.finishMs, "run_ms" -> t.runMs, "cpu_ns" -> t.cpuNs,
          "gc_ms" -> t.gcMs, "in_bytes" -> t.inBytes,
          "in_records" -> t.inRecords,
          "shuffle_read_bytes" -> t.shuffleReadBytes,
          "shuffle_write_bytes" -> t.shuffleWriteBytes,
          "out_bytes" -> t.outBytes, "ok" -> t.ok))))
      }
      w.println(Json.obj(Seq("type" -> "metrics") ++ metrics.toSeq))
    } finally w.close()
    log(s"trace written: ${f.getPath}")
  }
}

final case class PageRow(chunkId: String, text: String, x0: Double,
                         y0: Double, x1: Double, y1: Double)

/** What page lookups and searches are checked against. */
final case class ReadRef(pages: Map[(String, Int), Seq[PageRow]],
                         twin: Bm25Twin)

object ReadRef {
  def of(rows: Seq[(String, Int, PageRow)]): ReadRef =
    ReadRef(rows.groupBy(r => (r._1, r._2)).map { case (k, v) => k -> v.map(_._3) },
      Bm25Twin(rows.map(r => (r._3.chunkId, r._3.text))))
}
