package perfbench

import graft.core.{ExtractionSpec, InputDoc}
import graft.extract.{Extractor, HtmlExtractor, Layout, PdfTokenizer}
import graft.pipeline.ExtractJob
import graft.sources.{HadoopTableIO, RawFiles}
import org.apache.spark.sql.functions._

/** The traced run: spans around the calls into each layer plus the
  * listener's job/stage/task records, reduced to the per-layer metrics.
  * The measured job is the workload's ExtractJob.run (for serve_reads the
  * served-table build); page lookups and searches are then traced over
  * that job's output.
  */
final class Layers(r: Run) {
  private val o = r.opts
  private def spark = r.sparkSession
  private val tr = r.tr
  private val rec = r.recorder
  private def put(k: String, v: Double): Unit = r.put(k, v)
  private val nproc = o.nproc
  private def drain(): Unit =
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
  private def ms(us: Long): Double = us / 1e3

  def measure(): Unit = {
    // two untraced and two traced job runs in the order u t t u, so warm-up
    // favours neither; untraced ones record no spans and have no listener
    GroupClock.tracer = tr
    val plain = scala.collection.mutable.ArrayBuffer.empty[Double]
    val traced = scala.collection.mutable.ArrayBuffer.empty[Double]
    var salted = false
    var out = ""
    Seq(false, true, true, false).foreach { on =>
      tr.on = on
      if (on) spark.sparkContext.addSparkListener(rec)
      val (reps, dir) = r.reps(1)
      if (on) {
        drain()
        spark.sparkContext.removeSparkListener(rec)
        salted = reps.head.report.salted
      }
      out = dir
      (if (on) traced else plain) += r.docCount / reps.head.wallS
    }
    tr.on = true
    spark.sparkContext.addSparkListener(rec)
    val untracedRate = Stats.median(plain.toSeq)
    val tracedRate = Stats.median(traced.toSeq)
    r.check(out)
    val run = tr.spans.filter(_.name == "pipeline.run").last
    pipeline(run, salted)
    put("trace.overhead", tracedRate / untracedRate)
    // the share of the run's wall inside layer spans: group writes (with
    // their jobs) and the jobs before them; the rest is driver work inside
    // ExtractJob.run that no outside call brackets (commits, sidecar)
    val byId = tr.spans.map(x => x.id -> x).toMap
    def isUnder(s: Span): Boolean =
      Iterator.iterate(s.parent)(p => byId.get(p).map(_.parent).getOrElse(-1))
        .takeWhile(_ >= 0).contains(run.id)
    val sub = tr.spans.filter(isUnder)
    val self = SelfTime.of(run +: sub)
    put("trace.coverage", sub.map(s => self(s.id)).sum.toDouble / run.durUs)

    // the layers on their own
    val docs = decodeReplay()
    val scanS = sourcesScan()
    val extractS = extractParallel(docs)
    val writeS = sourcesWrite()
    val rowRate = extractReplay(docs)
    put("pipeline.parallel_eff", untracedRate / (nproc * rowRate))

    reads(out)
    Main.log(f"traced: untraced $untracedRate%.1f docs/s, traced $tracedRate%.1f " +
      f"docs/s; run ${run.durUs / 1e6}%.3f s, coverage " +
      f"${r.metric("trace.coverage")}%.3f; standalone scan $scanS%.3f s, " +
      f"extract $extractS%.3f s, write $writeS%.3f s")
  }

  /** Job, stage and task shape of one traced ExtractJob.run. */
  private def pipeline(run: Span, salted: Boolean): Unit = {
    val (jobs, tasks) = rec.window(run.startUs / 1000, run.endUs / 1000 + 1)
    val writes = tr.spans.filter(s =>
      s.parent == run.id && s.name == "sources.overwrite_group")
    // listener jobs become spans under the write span that issued them,
    // else under the run
    jobs.foreach { j =>
      val parent = writes.find(w => j.startMs * 1000 >= w.startUs - 1000 &&
        j.startMs * 1000 <= w.endUs).map(_.id).getOrElse(run.id)
      tr.add("spark.job", parent, j.startMs * 1000, j.endMs * 1000)
    }
    val wallMs = ms(run.durUs)
    val jobIv = jobs.map(j => (j.startMs, j.endMs))
    val jobMs = SelfTime.covered(jobIv, run.startUs / 1000, run.endUs / 1000 + 1)
    val firstWrite = writes.map(_.startUs / 1000).minOption.getOrElse(Long.MaxValue)
    val before = jobs.filter(_.endMs <= firstWrite)
    put("pipeline.jobs", jobs.size)
    put("pipeline.stages", jobs.map(_.stages.size).sum)
    put("pipeline.tasks", tasks.size)
    put("pipeline.run_s", wallMs / 1e3)
    put("pipeline.driver_gap_s", math.max(0.0, wallMs - jobMs) / 1e3)
    put("pipeline.skew_decision_s", before.map(j => j.endMs - j.startMs).sum / 1e3)
    put("pipeline.salted", if (salted) 1 else 0)
    put("pipeline.shuffle_bytes", tasks.map(_.shuffleWriteBytes).sum)
    val durs = tasks.map(_.durMs.toDouble)
    val p50 = if (durs.isEmpty) 0.0 else Stats.pct(durs, 50).value
    val mx = if (durs.isEmpty) 0.0 else durs.max
    put("pipeline.task_ms_p50", p50)
    put("pipeline.task_ms_max", mx)
    put("pipeline.task_skew", if (p50 > 0) mx / p50 else 0.0)
    put("pipeline.busy_share", durs.sum / (nproc * wallMs))
    val runMs = tasks.map(_.runMs).sum
    put("pipeline.gc_share",
      if (runMs > 0) tasks.map(_.gcMs).sum.toDouble / runMs else 0.0)
    put("sources.scan_amplification",
      tasks.map(_.inRecords).sum.toDouble / r.inputRecords)
  }

  /** Raw files only: decodeAny per file, by suffix class. Returns the
    * decoded documents (for CorpusGen workloads, the generated ones).
    */
  private def decodeReplay(): IndexedSeq[InputDoc] = {
    Inputs.RawClasses.foreach(c => put(s"sources.decode_ms.$c", 0.0))
    if (!r.raw) {
      put("sources.decode_ms_per_file", 0.0)
      put("sources.empty_decodes", 0.0)
      return r.corpusDocs
    }
    val root = r.input + "/"
    val files = new java.io.File(r.input).listFiles.toIndexedSeq.sortBy(_.getName)
    val (base, n) = r.rawWindow
    val truth = Inputs.rawRowsPerFile(base, n)
    val classOf = (base until base + n).map(i =>
      graft.gen.MixedGen.fileName(i) -> Inputs.RawClasses(i % 22)).toMap
    val blobs = files.map(f =>
      (f.toURI.toString, f.getName, java.nio.file.Files.readAllBytes(f.toPath)))
    // one untimed pass warms the decoders
    blobs.foreach { case (p, _, b) => RawFiles.decodeAny(p, b, root) }
    var empty = 0
    val byExt = scala.collection.mutable.Map.empty[String, (Long, Int)]
    val docs = tr.span("sources.decode_replay") {
      blobs.flatMap { case (p, name, b) =>
        val t0 = System.nanoTime()
        val out = tr.span("sources.decode")(RawFiles.decodeAny(p, b, root))
        val dt = System.nanoTime() - t0
        val e = classOf(name)
        val (ns, n) = byExt.getOrElse(e, (0L, 0))
        byExt(e) = (ns + dt, n + 1)
        if (out.forall(d => d.spans == null || d.spans.isEmpty) &&
            truth.getOrElse(name, 0) > 0) empty += 1
        out
      }
    }
    byExt.foreach { case (e, (ns, n)) => put(s"sources.decode_ms.$e", ns / 1e6 / n) }
    put("sources.decode_ms_per_file", byExt.values.map(_._1).sum / 1e6 / files.size)
    put("sources.empty_decodes", empty)
    docs
  }

  /** The input as each checkpoint group's sub-job reads it: one full
    * deserializing pass per group, with the same group filter.
    */
  private def sourcesScan(): Double = {
    val g = Main.Groups
    val t0 = System.nanoTime()
    tr.span("sources.scan") {
      (0 until g).foreach { k =>
        r.loadInput().toDF()
          .where(pmod(xxhash64(col("doc_id")), lit(g)).cast("int") === k)
          .select("doc_id", "spans").as[InputDoc](r.docEncoder)
          .foreach((_: InputDoc) => ())
      }
    }
    val s = (System.nanoTime() - t0) / 1e9
    put("sources.scan_s", s)
    s
  }

  /** extractRows over every input document on nproc plain threads. */
  private def extractParallel(docs: IndexedSeq[InputDoc]): Double = {
    Par.map(nproc, nproc)(t => (t until docs.size by nproc)
      .foreach(i => Extractor.extractRows(docs(i))))
    val t0 = System.nanoTime()
    tr.span("extract.parallel") {
      Par.map(nproc, nproc)(t => (t until docs.size by nproc)
        .foreach(i => Extractor.extractRows(docs(i))))
    }
    val s = (System.nanoTime() - t0) / 1e9
    put("extract.parallel_s", s)
    s
  }

  /** overwriteGroup over an already-extracted, cached frame: encode and
    * parquet write alone, every group.
    */
  private def sourcesWrite(): Double = {
    val s = spark; import s.implicits._
    val g = Main.Groups
    val rows = r.loadInput()
      .mapPartitions(_.flatMap(d => Extractor.extractRows(d)))
      .toDF().withColumn("_g", pmod(xxhash64(col("doc_id")), lit(g)).cast("int"))
      .cache()
    val n = rows.count()
    val dir = s"${o.scratch}/write_probe"
    val t0 = System.nanoTime()
    tr.span("sources.write") {
      (0 until g).foreach(k =>
        HadoopTableIO(dir).overwriteGroup(rows.where(col("_g") === k).drop("_g"), k))
    }
    val sec = (System.nanoTime() - t0) / 1e9
    rows.unpersist(true)
    val data = new java.io.File(s"$dir/data")
    put("sources.write_s", sec)
    put("sources.rows_written", n)
    put("sources.output_files", Inputs.fileCount(data, ".parquet"))
    put("sources.bytes_per_row", Inputs.dirBytes(data).toDouble / math.max(n, 1))
    Inputs.deleteRec(new java.io.File(dir))
    sec
  }

  /** Single-thread replay of extractRows and of the sub-steps it calls, on
    * the same documents. Sub-steps cannot be timed inside extractRows from
    * outside, so each is timed on its own call with the same arguments,
    * in the order extractRows makes them; assemble = rows − sub-steps.
    * Returns the single-thread extractRows rate (docs/s).
    */
  private def extractReplay(all: IndexedSeq[InputDoc]): Double = {
    val docs = all.take(3000)
    var rowsNs = 0L; var tokNs = 0L; var layNs = 0L; var htmlNs = 0L
    var outRows = 0L; var boxes = 0L
    def clock[A](name: String)(f: => A)(add: Long => Unit): A = {
      val t0 = System.nanoTime(); val a = tr.span(name)(f)
      add(System.nanoTime() - t0); a
    }
    def pass(): Unit = docs.foreach { d =>
      val rows = clock("extract.rows")(Extractor.extractRows(d))(rowsNs += _)
      val spans = if (d.spans == null) Vector.empty
                  else d.spans.sorted(ExtractionSpec.spanOrdering)
      var page = 0
      spans.foreach { s =>
        s.kind match {
          case "pdf" =>
            val pages = clock("extract.tokenize")(
              PdfTokenizer.tokenize(s.text, page + 1))(tokNs += _)
            if (pages.nonEmpty) page = pages.last.page
            val bs = clock("extract.layout")(pages.flatMap(Layout.boxesOf))(layNs += _)
            boxes += bs.size
          case "html" =>
            clock("extract.html")(HtmlExtractor.items(s.text))(htmlNs += _)
          case _ =>
        }
      }
      outRows += rows.size
    }
    val was = tr.on
    tr.on = false; pass()
    rowsNs = 0; tokNs = 0; layNs = 0; htmlNs = 0; outRows = 0; boxes = 0
    tr.on = was
    tr.span("extract.replay")(pass())
    val n = docs.size.toDouble
    put("extract.rows_us_per_doc", rowsNs / 1e3 / n)
    put("extract.tokenize_us_per_doc", tokNs / 1e3 / n)
    put("extract.layout_us_per_doc", layNs / 1e3 / n)
    put("extract.html_us_per_doc", htmlNs / 1e3 / n)
    put("extract.assemble_us_per_doc",
      math.max(0L, rowsNs - tokNs - layNs - htmlNs) / 1e3 / n)
    put("extract.out_rows_per_doc", outRows / n)
    put("extract.boxes_per_doc", boxes / n)
    n / (rowsNs / 1e9)
  }

  /** Page lookups and BM25 searches over the job's output, traced. */
  private def reads(out: String): Unit = {
    val dir = if (r.serve) r.servedRoot else out
    val ref = if (r.raw) outputRef(dir) else r.readRef
    val look = scala.collection.mutable.ArrayBuffer.empty[ReadRec]
    val srch = scala.collection.mutable.ArrayBuffer.empty[ReadRec]
    var bad = 0
    r.reads(dir, 40, ref).foreach { q =>
      drain()
      val t0 = System.currentTimeMillis()
      val ok = tr.span(if (q.isSearch) "ops.search" else "pipeline.lookup")(q.run())
      val t1 = System.currentTimeMillis()
      drain()
      if (!ok) bad += 1
      val (jobs, tasks) = rec.window(t0, t1)
      val exec = SelfTime.covered(jobs.map(j => (j.startMs, j.endMs)), t0, t1 + 1)
      (if (q.isSearch) srch else look) +=
        ReadRec(jobs.size, t1 - t0 - exec, exec, tasks.map(_.inBytes).sum)
    }
    r.addOps(look.size + srch.size, bad)
    def med(xs: Seq[ReadRec])(f: ReadRec => Long): Double =
      if (xs.isEmpty) 0.0 else Stats.median(xs.map(x => f(x).toDouble))
    put("pipeline.lookup_jobs", med(look.toSeq)(_.jobs))
    put("pipeline.lookup_plan_ms", med(look.toSeq)(_.planMs))
    put("pipeline.lookup_exec_ms", med(look.toSeq)(_.execMs))
    put("pipeline.lookup_bytes_read", med(look.toSeq)(_.bytes))
    put("ops.search_plan_ms", med(srch.toSeq)(_.planMs))
    put("ops.search_exec_ms", med(srch.toSeq)(_.execMs))
    put("ops.search_bytes_read", med(srch.toSeq)(_.bytes))
    Main.log(s"traced reads: ${look.size} lookups, ${srch.size} searches, $bad wrong")
  }

  /** For outputs without a chunk-level reference (raw files): the page rows
    * as a full read of the output table holds them, so lookups are
    * checked against the table itself and searches against the twin.
    */
  private def outputRef(dir: String): ReadRef = {
    val rows = ExtractJob.readOutput(spark, dir).toDF()
      .where(col("chunk_id").isNotNull)
      .select("doc_id", "page", "chunk_id", "text", "bbox_x0", "bbox_y0",
        "bbox_x1", "bbox_y1").collect().toSeq
    ReadRef.of(rows.map(x => (x.getString(0), x.getInt(1),
      PageRow(x.getString(2), x.getString(3), x.getDouble(4), x.getDouble(5),
        x.getDouble(6), x.getDouble(7)))))
  }
}

/** One traced read: its Spark jobs, the wall they do not cover (planning,
  * listing, collect), the wall they cover, and the bytes its tasks read.
  */
final case class ReadRec(jobs: Long, planMs: Long, execMs: Long, bytes: Long)
