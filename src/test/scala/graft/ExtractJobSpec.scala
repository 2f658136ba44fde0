package graft

import graft.core._
import graft.gen.CorpusGen
import graft.oracle.RefOracle
import graft.pipeline.{Checkpoint, ExtractJob}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import scala.jdk.CollectionConverters._

class ExtractJobSpec extends AnyFunSuite with BeforeAndAfterAll with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def tmpDir(name: String): String = tempDir(s"graft-$name").toString

  private val N = 600

  private def oracleByDoc: Map[String, Seq[(String, String, String, Int)]] =
    CorpusGen.corpus(42L, N).map { d =>
      d.doc_id -> RefOracle.extract(d).outSpans
        .map(o => (o.kind, o.text, o.media_ref, o.order))
    }.toMap

  test("pipeline output matches oracle per-doc sequences (any partitioning)") {
    spark.sparkContext.setLogLevel("WARN")
    val out = tmpDir("e2e")
    val docs = CorpusGen.dataset(spark, N, 42L)
    val report = ExtractJob.run(spark, docs,
      ExtractJob.Config(out, runId = "t1", groups = 4, partitions = 16))
    assert(report.groupsRun == Seq(0, 1, 2, 3))
    assert(report.docsProcessed == N)

    val got = ExtractJob.spansView(spark, out).collect()
      .groupBy(_.getString(0))
      .map { case (id, rows) =>
        id -> rows.sortBy(_.getInt(4)).toSeq
          .map(r => (r.getString(1), r.getString(2), r.getString(3),
                     r.getInt(4)))
      }
    val want = oracleByDoc
    // empty-output docs appear in `want` with empty seqs but not in `got`
    want.foreach { case (id, seq) =>
      assert(got.getOrElse(id, Seq.empty) == seq, s"mismatch for $id")
    }
    // and no SPURIOUS doc_ids either (output ⊆ oracle universe)
    assert(got.keySet.subsetOf(want.keySet))
  }

  test("runBucketed: physical bucket column prunes at the source, same output") {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val in = tmpDir("bucketed-in")
    val groups = 4
    // lay the input out like the 10^12-doc deployment: the checkpoint
    // group is a PHYSICAL partition column of the input table
    CorpusGen.dataset(spark, N, 42L)
      .withColumn("bucket",
        org.apache.spark.sql.functions.pmod(
          org.apache.spark.sql.functions.xxhash64(col("doc_id")),
          org.apache.spark.sql.functions.lit(groups)).cast("int"))
      .write.partitionBy("bucket").mode("overwrite").parquet(in)
    val docs = spark.read.parquet(in)

    // the group filter the job applies must reach the scan as a
    // PartitionFilter (source pruning), not a post-scan Filter
    val gPlan = docs.withColumn("_group", col("bucket").cast("int"))
      .where(col("_group") === 2)
      .queryExecution.executedPlan.toString
    assert(gPlan.contains("PartitionFilters: [") &&
      gPlan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
        .contains("bucket"),
      s"group filter did not prune:\n$gPlan")

    val out = tmpDir("bucketed-out")
    val report = ExtractJob.runBucketed(spark, docs,
      ExtractJob.Config(out, runId = "tb", groups = groups,
        partitions = 8), "bucket")
    assert(report.groupsRun == Seq(0, 1, 2, 3))
    assert(report.docsProcessed == N)
    // identical spans to the computed-hash run path
    val got = ExtractJob.spansView(spark, out).collect()
      .groupBy(_.getString(0))
      .map { case (id, rows) =>
        id -> rows.sortBy(_.getInt(4)).toSeq
          .map(r => (r.getString(1), r.getString(2), r.getString(3),
                     r.getInt(4)))
      }
    oracleByDoc.foreach { case (id, seq) =>
      assert(got.getOrElse(id, Seq.empty) == seq, s"mismatch for $id")
    }
    assert(got.keySet.subsetOf(oracleByDoc.keySet))
  }

  test("runBucketed fails fast when bucket values exceed cfg.groups") {
    import spark.implicits._
    val in = tmpDir("bucketed-bad-in")
    // 8 physical buckets but a config expecting 4: buckets 4..7 would be
    // silently dropped by the group loop — the min/max probe must raise
    CorpusGen.dataset(spark, 64, 42L)
      .withColumn("bucket",
        org.apache.spark.sql.functions.pmod(
          org.apache.spark.sql.functions.xxhash64(col("doc_id")),
          org.apache.spark.sql.functions.lit(8)).cast("int"))
      .write.partitionBy("bucket").mode("overwrite").parquet(in)
    val docs = spark.read.parquet(in)
    val ex = intercept[IllegalArgumentException] {
      ExtractJob.runBucketed(spark, docs,
        ExtractJob.Config(tmpDir("bucketed-bad-out"), runId = "tbad",
          groups = 4, partitions = 8), "bucket")
    }
    assert(ex.getMessage.contains("silently dropped"))
  }

  test("resume recomputes exactly the missing group, no duplicates") {
    val out = tmpDir("resume")
    val docs = CorpusGen.dataset(spark, N, 42L)
    ExtractJob.run(spark, docs,
      ExtractJob.Config(out, runId = "r1", groups = 4, partitions = 8))
    val before = ExtractJob.spansView(spark, out).count()

    // simulate a lost group commit
    Files.delete(java.nio.file.Paths.get(out, "_checkpoint", "group_2.json"))
    val report2 = ExtractJob.run(spark, docs,
      ExtractJob.Config(out, runId = "r2", groups = 4, partitions = 8))
    assert(report2.groupsRun == Seq(2))
    assert(report2.groupsSkipped == Seq(0, 1, 3))
    val after = ExtractJob.spansView(spark, out).count()
    assert(after == before, "re-run must not duplicate rows")

    // full re-run with all groups committed: nothing recomputed
    val report3 = ExtractJob.run(spark, docs,
      ExtractJob.Config(out, runId = "r3", groups = 4, partitions = 8))
    assert(report3.groupsRun.isEmpty)
    assert(ExtractJob.spansView(spark, out).count() == before)
  }

  test("partitioning independence: 2 vs 32 partitions give identical output") {
    val outA = tmpDir("p2"); val outB = tmpDir("p32")
    val docs = CorpusGen.dataset(spark, 300, 42L)
    ExtractJob.run(spark, docs,
      ExtractJob.Config(outA, runId = "a", groups = 2, partitions = 2))
    ExtractJob.run(spark, docs,
      ExtractJob.Config(outB, runId = "b", groups = 2, partitions = 32))
    val a = ExtractJob.spansView(spark, outA).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
                 r.getString(3), r.getInt(4))).sortBy(_.toString)
    val b = ExtractJob.spansView(spark, outB).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
                 r.getString(3), r.getInt(4))).sortBy(_.toString)
    assert(a.sameElements(b))
  }

  test("metrics sidecar: per-partition lineage rows cover all docs") {
    val out = tmpDir("metrics")
    val docs = CorpusGen.dataset(spark, 300, 42L)
    ExtractJob.run(spark, docs,
      ExtractJob.Config(out, runId = "m1", groups = 2, partitions = 8))
    val m = spark.read.json(s"$out/metrics")
    import org.apache.spark.sql.functions._
    val agg = m.agg(sum("doc_count"), sum("chunk_count"),
                    sum("out_span_count")).collect()(0)
    assert(agg.getLong(0) == 300)
    val chunkRows = ExtractJob.chunksView(spark, out).count()
    assert(agg.getLong(1) == chunkRows)
    assert(agg.getLong(2) == ExtractJob.spansView(spark, out).count())
    assert(m.select("status").distinct().collect()
      .map(_.getString(0)).toSet == Set("committed"))
  }

  test("metrics sidecar bytes_in counts UTF-8 bytes, the skew cost") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val out = tmpDir("bytes-in")
    // 2-, 3- and 4-byte UTF-8 chars: a UTF-16 char count differs from each
    val wide = Seq(
      InputDoc("wide-1", Vector(Span("text", "café déjà vu", null, 0),
        Span("text", "漢字のテキスト", null, 1))),
      InputDoc("wide-2", Vector(Span("text", "emoji \uD83D\uDE00 and ß", null, 0),
        Span("text", null, null, 1))))
    val docs = CorpusGen.dataset(spark, 100, 42L).union(wide.toDS())
    ExtractJob.run(spark, docs,
      ExtractJob.Config(out, runId = "bytes", groups = 2, partitions = 4))
    val want = docs.select(explode(col("spans")).as("s"))
      .agg(sum(coalesce(octet_length(col("s.text")), lit(0)))).head().getLong(0)
    val utf16 = (CorpusGen.corpus(42L, 100) ++ wide)
      .flatMap(_.spans.flatMap(s => Option(s.text))).map(_.length.toLong).sum
    assert(want != utf16, "the input must tell bytes from chars")
    val got = spark.read.json(s"$out/metrics").agg(sum("bytes_in"))
      .head().getLong(0)
    assert(got == want, s"bytes_in $got, octet_length $want, chars $utf16")
  }

  test("chunks view matches oracle chunks (document_chunks semantics)") {
    val out = tmpDir("chunks")
    val docs = CorpusGen.dataset(spark, 300, 42L)
    ExtractJob.run(spark, docs,
      ExtractJob.Config(out, runId = "c1", groups = 2, partitions = 8))
    val got = ExtractJob.chunksView(spark, out).collect().map { r =>
      Chunk(r.getString(0), r.getString(1), r.getInt(2), r.getString(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6), r.getDouble(7),
        r.getDouble(8), r.getDouble(9))
    }.groupBy(_.doc_id)
    CorpusGen.corpus(42L, 300).foreach { d =>
      val want = RefOracle.extract(d).chunks
      val g = got.getOrElse(d.doc_id, Array.empty[Chunk])
        .sortBy(_.chunk_n).toSeq
      assert(g == want, s"chunks mismatch for ${d.doc_id}")
    }
  }


  test("chunks view carries P13 extracted_at (reference DEFAULT semantics)") {
    val out = tmpDir("p13")
    val t0 = new java.sql.Timestamp(System.currentTimeMillis() - 1000)
    ExtractJob.run(spark, CorpusGen.dataset(spark, 50, 42L),
      ExtractJob.Config(out, runId = "p", groups = 1, partitions = 4))
    val cv = ExtractJob.chunksView(spark, out)
    assert(cv.schema.fieldNames.last == "extracted_at")
    val ts = cv.select("extracted_at").collect().map(_.getTimestamp(0))
    val t1 = new java.sql.Timestamp(System.currentTimeMillis() + 1000)
    assert(ts.nonEmpty && ts.forall(t => !t.before(t0) && !t.after(t1)))
  }

  test("reused runId with remaining new docs fails fast (ADVICE r01)") {
    val out = tmpDir("reuse")
    ExtractJob.runIncremental(spark, CorpusGen.dataset(spark, 100, 42L),
      ExtractJob.Config(out, runId = "w1", groups = 2, partitions = 4))
    // same runId, grown input: the run=w1 manifest is fully committed, so
    // every group would silently skip — must throw instead
    val e = intercept[IllegalStateException] {
      ExtractJob.runIncremental(spark, CorpusGen.dataset(spark, 200, 42L),
        ExtractJob.Config(out, runId = "w1", groups = 2, partitions = 4))
    }
    assert(e.getMessage.contains("fresh runId"))
    // fresh runId proceeds normally
    val r2 = ExtractJob.runIncremental(spark, CorpusGen.dataset(spark, 200, 42L),
      ExtractJob.Config(out, runId = "w2", groups = 2, partitions = 4))
    assert(r2.docsProcessed >= 100)
  }

  test("crash-resume with ORPHANED group data (write landed, commit lost) loses nothing") {
    val out = tmpDir("incr-resume")
    val docs = CorpusGen.dataset(spark, 100, 42L)
    ExtractJob.runIncremental(spark, docs,
      ExtractJob.Config(out, runId = "w1", groups = 2, partitions = 4))
    val complete = ExtractJob.readAllRuns(spark, out).count()
    // crash between overwriteGroup and commitGroup: group 1's parquet
    // files exist but the manifest entry does not. Committed-only reads
    // must make the orphan invisible (else the anti-join would count its
    // docs as processed and the re-run would overwrite the group with an
    // EMPTY write — silent data loss)
    val runDir = s"$out/run=w1"
    Files.delete(java.nio.file.Paths.get(runDir, "_checkpoint", "group_1.json"))
    val visible = ExtractJob.readAllRuns(spark, out).count()
    assert(visible < complete, "orphaned group data must be invisible")
    // same runId + same input: survivors all hash into the UNcommitted
    // group → guard must not trip; group 1 recomputes over its FULL docs
    val r = ExtractJob.runIncremental(spark, docs,
      ExtractJob.Config(out, runId = "w1", groups = 2, partitions = 4))
    assert(r.groupsRun == Seq(1) && r.groupsSkipped == Seq(0))
    val after = ExtractJob.readAllRuns(spark, out)
    assert(after.count() == complete, "resume must restore the full output")
    assert(after.groupBy("doc_id", "order").count()
      .where(col("count") > 1).count() == 0)
  }

  test("readOutput and pageContent show only manifest-committed groups") {
    val out = tmpDir("committed-read")
    ExtractJob.run(spark, CorpusGen.dataset(spark, 100, 42L),
      ExtractJob.Config(out, runId = "c1", groups = 2, partitions = 4))
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id", "order").collect().toSeq
    val group0 = sorted(spark.read.parquet(s"$out/data/group=0"))
    val g1 = spark.read.parquet(s"$out/data/group=1")
      .where(col("chunk_id").isNotNull).select("doc_id", "page").head()
    val (docId, page) = (g1.getString(0), g1.getInt(1))
    assert(ExtractJob.pageContent(spark, out, 2, docId, page).count() > 0)
    // crash between the group-1 write and its commit: the data files stay,
    // the manifest entry is gone
    Files.delete(java.nio.file.Paths.get(out, "_checkpoint", "group_1.json"))
    assert(group0.nonEmpty)
    assert(sorted(ExtractJob.readOutput(spark, out).toDF()) == group0)
    assert(ExtractJob.pageContent(spark, out, 2, docId, page).count() == 0)
  }

  test("adaptive skew salting: monster doc triggers it, uniform corpus skips it") {
    import spark.implicits._
    val uniform = CorpusGen.dataset(spark, 200, 42L)
      .filter(d => d.doc_id != "doc_00000000") // drop nothing important
    // uniform corpus at default thresholds: small docs, no monster
    val outA = tmpDir("saltA")
    val repA = ExtractJob.run(spark, uniform,
      ExtractJob.Config(outA, "sa", groups = 1, partitions = 8,
        bigDocBytes = 1L << 20))
    // one 2MB single-span monster forces the decision on
    val monster = Seq(InputDoc("monster",
      Vector(Span("text", "x" * (2 << 20), null, 0)))).toDS()
    val outB = tmpDir("saltB")
    val repB = ExtractJob.run(spark, uniform.union(monster),
      ExtractJob.Config(outB, "sb", groups = 1, partitions = 8,
        bigDocBytes = 1L << 20))
    assert(repB.salted, "monster doc must trigger salting")
    // and the monster's row must still come through intact
    val got = ExtractJob.spansView(spark, outB)
      .where(col("doc_id") === "monster").collect()
    assert(got.length == 1 && got(0).getString(2).length == (2 << 20))
  }


  test("salting decision from a bounded sample when input exceeds the cap") {
    import spark.implicits._
    // 24 input partitions → stride 24/8 = 3: the decision reads every
    // 3rd partition (8 kept). parallelize cuts contiguous slices of
    // 12-13 docs, so in the every-3rd-doc-big corpus every slice, and
    // hence every sampled one, holds big docs. Uniform corpus: OFF (the
    // partition-fraction-scaled total keeps fair-share relative skew
    // honest); big-doc corpus: ON.
    val uniform = spark.createDataset(
      spark.sparkContext.parallelize(CorpusGen.corpus(7L, 300), 24))
    val repA = ExtractJob.run(spark, uniform,
      ExtractJob.Config(tmpDir("sampA"), "pa", groups = 1, partitions = 8))
    assert(!repA.salted, "uniform corpus must not salt under sampling")
    val skewed = spark.createDataset(spark.sparkContext.parallelize(
      (0 until 300).map(i => InputDoc(f"s$i%04d", Vector(Span("text",
        (if (i % 3 == 0) "x" * 65536 else "y" * 100), null, 0)))), 24))
    val repB = ExtractJob.run(spark, skewed,
      ExtractJob.Config(tmpDir("sampB"), "pb", groups = 1, partitions = 8,
        bigDocBytes = 32768))
    assert(repB.salted, "sampled stats must detect the big-doc corpus")
  }

  test("sampled salting decision misses an unsampled monster, loses no rows") {
    import spark.implicits._
    // 32 slices → stride 4: slices 0, 4, …, 28 are sampled. The 2 MiB
    // monster sits in slice 1, so the decision never sees it — the
    // documented miss mode: one straggler task, never lost rows.
    val monster = InputDoc("monster", Vector(Span("text", "x" * (2 << 20), null, 0)))
    val (head, tail) = CorpusGen.corpus(7L, 320).splitAt(15)
    val rdd = spark.sparkContext.parallelize(head ++ (monster +: tail), 32)
    val monsterSlice = rdd.mapPartitionsWithIndex((i, it) =>
      if (it.exists(_.doc_id == "monster")) Iterator(i) else Iterator.empty)
      .collect().toSeq
    assert(monsterSlice == Seq(1), s"monster in slices $monsterSlice")
    val out = tmpDir("sampMiss")
    val rep = ExtractJob.run(spark, spark.createDataset(rdd),
      ExtractJob.Config(out, "pm", groups = 1, partitions = 8))
    assert(!rep.salted, "an unsampled monster must not flip the decision")
    assert(rep.docsProcessed == 321)
    val got = ExtractJob.spansView(spark, out)
      .where(col("doc_id") === "monster").collect().toSeq
      .sortBy(_.getInt(4))
      .map(r => (r.getString(1), r.getString(2), r.getString(3), r.getInt(4)))
    val want = RefOracle.extract(monster).outSpans
      .map(o => (o.kind, o.text, o.media_ref, o.order))
    assert(want.nonEmpty && got == want, "monster output must match the oracle")
  }

  test("incremental ingestion: grown input table re-extracts ONLY new docs") {
    val out = tmpDir("incr")
    // wave 1: docs [0, 300)
    val r1 = ExtractJob.runIncremental(spark, CorpusGen.dataset(spark, 300, 42L),
      ExtractJob.Config(out, runId = "w1", groups = 2, partitions = 8))
    assert(r1.docsProcessed == 300)
    val count1 = ExtractJob.readAllRuns(spark, out).count()

    // the table GROWS to 500 docs (superset); a fresh incremental run
    // must process exactly the 200 new ones — group-level resume alone
    // would wrongly skip them (their groups are committed)
    val r2 = ExtractJob.runIncremental(spark, CorpusGen.dataset(spark, 500, 42L),
      ExtractJob.Config(out, runId = "w2", groups = 2, partitions = 8))
    // empty-output docs re-extract harmlessly (never appear in output)
    assert(r2.docsProcessed >= 200 && r2.docsProcessed <= 210,
      s"processed ${r2.docsProcessed}")

    val all = ExtractJob.readAllRuns(spark, out)
    // no duplicates across runs
    assert(all.groupBy("doc_id", "order").count()
      .where(col("count") > 1).count() == 0)
    // full content equality vs oracle over all 500 docs
    val got = all.select("doc_id", "kind", "text", "media_ref", "order")
      .collect().groupBy(_.getString(0))
      .map { case (id, rows) => id -> rows.sortBy(_.getInt(4)).toSeq
        .map(r => (r.getString(1), r.getString(2), r.getString(3), r.getInt(4))) }
    CorpusGen.corpus(42L, 500).foreach { d =>
      val want = RefOracle.extract(d).outSpans
        .map(o => (o.kind, o.text, o.media_ref, o.order))
      assert(got.getOrElse(d.doc_id, Seq.empty) == want, d.doc_id)
    }

    // idempotence: re-running wave-2 unchanged processes ~nothing new
    val r3 = ExtractJob.runIncremental(spark, CorpusGen.dataset(spark, 500, 42L),
      ExtractJob.Config(out, runId = "w3", groups = 2, partitions = 8))
    assert(r3.docsProcessed <= 10) // only the persistent empty-output docs
    assert(ExtractJob.readAllRuns(spark, out).count() == all.count())
  }

  test("incremental delta plan: payload re-join is a broadcast left-semi, no payload shuffle") {
    val out = tmpDir("incr-plan")
    ExtractJob.runIncremental(spark, CorpusGen.dataset(spark, 100, 7L),
      ExtractJob.Config(out, runId = "p1", groups = 2, partitions = 8))
    val grown = CorpusGen.dataset(spark, 160, 7L)
    val delta = ExtractJob.incrementalDelta(spark, grown, out)
    val plan = delta.queryExecution.executedPlan.toString
    // the delta ids broadcast back onto the payload scan …
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      plan)
    // … and the payload side never hash-shuffles (the id-only anti-join
    // ran eagerly inside incrementalDelta; this final plan is the only
    // one that touches spans)
    assert(!plan.contains("Exchange hashpartitioning"), plan)
    // semantics unchanged: every genuinely new doc survives, and any
    // re-extracted survivor is an empty-output doc
    val ids = delta.select("doc_id").collect().map(_.getString(0)).toSet
    val wave1 = CorpusGen.corpus(7L, 100).map(d => d.doc_id).toSet
    val all = CorpusGen.corpus(7L, 160)
    val newIds = all.map(_.doc_id).filterNot(wave1).toSet
    assert(newIds.subsetOf(ids))
    val reextracted = ids -- newIds
    all.filter(d => reextracted.contains(d.doc_id)).foreach { d =>
      assert(RefOracle.extract(d).outSpans.isEmpty, d.doc_id)
    }
  }

  test("a run reads its input once: one skew-decision pass plus one extraction pass") {
    val in = tmpDir("read-once-in")
    CorpusGen.dataset(spark, N, 42L).write.mode("overwrite").parquet(in)
    import spark.implicits._
    val docs = spark.read.parquet(in).as[InputDoc]
    val records = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          records.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    }
    spark.sparkContext.addSparkListener(listener)
    val report =
      try ExtractJob.run(spark, docs,
        ExtractJob.Config(tmpDir("read-once-out"), runId = "once", groups = 4))
      finally {
        org.apache.spark.ListenerDrain.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
      }
    assert(report.groupsRun == Seq(0, 1, 2, 3) && report.docsProcessed == N)
    // each read of a held block counts one record on top of the two
    // input passes; one pass per group would read it 5 times here
    assert(records.get() >= 2L * N && records.get() < 3L * N,
      s"${records.get()} records read for $N input rows")
  }

  test("the input's source is read once per run: parquet rows once, raw files decoded once") {
    import spark.implicits._
    val sc = spark.sparkContext
    val held = sc.getPersistentRDDs.keySet.toSet
    // parquet: the rows the file source hands out, counted by a typed map
    // right over the scan, in every task that pulls them
    val in = tmpDir("source-once-in")
    CorpusGen.dataset(spark, N, 42L).write.mode("overwrite").parquet(in)
    val rows = sc.longAccumulator("source rows")
    val docs = spark.read.parquet(in).as[InputDoc]
      .map { d => rows.add(1); d }
    val rep = ExtractJob.run(spark, docs,
      ExtractJob.Config(tmpDir("source-once-out"), runId = "src", groups = 4))
    assert(rep.groupsRun == Seq(0, 1, 2, 3) && rep.docsProcessed == N)
    assert(rows.value == N, s"the parquet source handed out ${rows.value} rows")

    // raw files, salted: RawFiles.read's plan (one binaryFile scan, one
    // decodeAny per file) with a counter around decodeAny
    val dir = tmpDir("source-once-raw")
    graft.gen.MixedGen.write(dir, 44)
    val calls = sc.longAccumulator("decodeAny calls")
    val root = dir + "/"
    val raw = spark.read.format("binaryFile")
      .option("recursiveFileLookup", "true").load(dir)
      .select(col("path"), col("content"))
      .flatMap { r =>
        calls.add(1)
        graft.sources.RawFiles.decodeAny(r.getString(0),
          r.getAs[Array[Byte]]("content"), root)
      }
    val out = tmpDir("source-once-raw-out")
    val rr = ExtractJob.run(spark, raw, ExtractJob.Config(out, runId = "raw",
      groups = 4, partitions = 8, bigDocBytes = 1))
    assert(rr.salted && rr.groupsRun == Seq(0, 1, 2, 3))
    assert(calls.value == 44, s"${calls.value} decodeAny calls for 44 files")
    assert(rr.docsProcessed == graft.sources.RawFiles.read(spark, dir).count())
    assert(sc.getPersistentRDDs.keySet == held)
  }

  test("the input is held only when the skew decision reads all of it") {
    import spark.implicits._
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    // the RDDs that stored a block during a run over `parts` input
    // partitions: the pass output, and the input if it was held
    def run(parts: Int): (String, ExtractJob.RunReport, Set[Int]) = {
      val rdds = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onBlockUpdated(
            e: org.apache.spark.scheduler.SparkListenerBlockUpdated): Unit = {
          val b = e.blockUpdatedInfo
          if (b.storageLevel.isValid)
            b.blockId.asRDDId.foreach(id => rdds.add(id.rddId))
        }
      }
      val docs = sc.parallelize(CorpusGen.corpus(42L, 300), parts).toDS()
      val out = tmpDir(s"held-$parts")
      sc.addSparkListener(listener)
      val rep =
        try ExtractJob.run(spark, docs, ExtractJob.Config(out,
          runId = "held", groups = 4, partitions = 4))
        finally {
          org.apache.spark.ListenerDrain.drain(sc)
          sc.removeSparkListener(listener)
        }
      (out, rep, rdds.asScala.toSet)
    }
    // 12 partitions: stride 1, the decision reads and holds every one
    val (outAll, all, heldAll) = run(12)
    assert(all.docsProcessed == 300)
    assert(heldAll.size == 2, s"RDDs with blocks: $heldAll")
    // 20 partitions: stride 2, the decision reads 10, nothing of the
    // input is held; only the pass output is
    val (outSampled, sampled, heldSampled) = run(20)
    assert(sampled.docsProcessed == 300)
    assert(heldSampled.size == 1, s"RDDs with blocks: $heldSampled")
    assert(sc.getPersistentRDDs.keySet == before)
    val a = ExtractJob.spansView(spark, outAll)
    val b = ExtractJob.spansView(spark, outSampled)
    assert(a.count() == b.count() && a.exceptAll(b).isEmpty)
  }

  test("a failure mid-run propagates, keeps earlier commits, holds nothing, resumes") {
    val docs = CorpusGen.dataset(spark, 300, 42L)
    val clean = tmpDir("fail-clean")
    val held = spark.sparkContext.getPersistentRDDs.keySet
    ExtractJob.run(spark, docs,
      ExtractJob.Config(clean, runId = "ok", groups = 4, partitions = 8))
    assert(spark.sparkContext.getPersistentRDDs.keySet == held)

    val out = tmpDir("fail")
    val e = intercept[java.io.IOException] {
      ExtractJob.run(spark, docs, ExtractJob.Config(out, runId = "f1",
        groups = 4, partitions = 8, io = ProbeIO(out, failGroup = 1)))
    }
    assert(e.getMessage.contains("group 1"))
    assert(Checkpoint.committedGroups(out) == Set(0))
    assert(spark.sparkContext.getPersistentRDDs.keySet == held)

    val r = ExtractJob.run(spark, docs,
      ExtractJob.Config(out, runId = "f2", groups = 4, partitions = 8))
    assert(r.groupsRun == Seq(1, 2, 3) && r.groupsSkipped == Seq(0))
    assert(spark.sparkContext.getPersistentRDDs.keySet == held)
    def rows(dir: String) = ExtractJob.spansView(spark, dir).collect()
      .map(_.toString).sorted.toSeq
    assert(rows(out) == rows(clean))
  }

  test("metrics sidecar and manifest agree with the input per group, salted or not") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val groups = 4
    val monster = Seq(InputDoc("monster",
      Vector(Span("text", "x" * (2 << 20), null, 0)))).toDS()
    val plain = CorpusGen.dataset(spark, 300, 42L)
    val salted = plain.union(monster)
    val held = spark.sparkContext.getPersistentRDDs.keySet.toSet
    // the third run loses its held blocks before group 1's write, as an
    // executor loss would: that pruned write recomputes the partitions it
    // reads, which must still be recorded under their own partition ids
    Seq((false, plain, -1), (true, salted, -1), (true, salted, 1)).foreach {
      case (salt, docs, lostAt) =>
        val out = tmpDir(s"per-group-$salt$lostAt")
        val io = ProbeIO(out, beforeWrite = g =>
          if (g == lostAt) ProbeIO.dropPersistedSince(held))
        val rep = ExtractJob.run(spark, docs, ExtractJob.Config(out,
          runId = s"pg$salt$lostAt", groups = groups, partitions = 8, io = io))
        assert(rep.salted == salt)
        assert(rep.docsProcessed == docs.count(), s"lost at $lostAt")
        assert(spark.sparkContext.getPersistentRDDs.keySet == held)
        // salted, a group's normal docs hash into 8/4 partitions, so its
        // write skips the held partitions that hold none of its docs
        if (salt) assert(io.framePartitions.values.forall(_ < 8),
          io.framePartitions)
        val inputDocs = docs.select(pmod(xxhash64(col("doc_id")),
            lit(groups)).cast("int").as("g"))
          .groupBy("g").count().collect()
          .map(r => r.getInt(0) -> r.getLong(1)).toMap
        val sidecar = spark.read.json(s"$out/metrics")
          .groupBy("group").agg(sum("doc_count"), sum("out_span_count"))
          .collect().map(r => r.getLong(0).toInt -> (r.getLong(1), r.getLong(2)))
          .toMap
        val manifest = spark.read.json(s"$out/_checkpoint")
          .select("group", "doc_count").collect()
          .map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
        (0 until groups).foreach { g =>
          val n = inputDocs.getOrElse(g, 0L)
          assert(n > 0 && sidecar(g)._1 == n && manifest(g) == n,
            s"salted=$salt lost at $lostAt group $g: input $n, " +
              s"sidecar ${sidecar(g)._1}, manifest ${manifest(g)}")
          assert(sidecar(g)._2 ==
            spark.read.parquet(s"$out/data/group=$g").count(),
            s"salted=$salt lost at $lostAt group $g out_span_count")
        }
    }
  }

  test("the pass is one job: two jobs before the first group write, nothing held after") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val atFirstWrite = new java.util.concurrent.atomic.AtomicInteger(-1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val out = tmpDir("pass-jobs")
    val io = ProbeIO(out, beforeWrite = _ =>
      if (atFirstWrite.get < 0) atFirstWrite.set(ProbeIO.drainedCount(jobs)))
    sc.addSparkListener(listener)
    val report =
      try ExtractJob.run(spark, CorpusGen.dataset(spark, 300, 42L),
        ExtractJob.Config(out, runId = "jobs", groups = 4, partitions = 8,
          io = io))
      finally {
        org.apache.spark.ListenerDrain.drain(sc)
        sc.removeSparkListener(listener)
      }
    assert(!report.salted && report.docsProcessed == 300)
    // 4 input partitions: the skew decision keeps every partition in one
    // RDD aggregate, one job; the pass is one more. An exact Dataset
    // aggregate took two jobs under AQE, so 3 jobs ran before the first
    // write on this input
    assert(atFirstWrite.get == 2, s"${atFirstWrite.get} jobs before the first write")
    assert(spark.sharedState.cacheManager.isEmpty)
    assert(sc.getPersistentRDDs.keySet == before)
  }

  test("a salted pass is one job of two stages: two jobs before the first group write") {
    import spark.implicits._
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[Int]
    val atFirstWrite = new java.util.concurrent.atomic.AtomicInteger(-1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        stages.add(e.stageInfos.size)
      }
    }
    val monster = Seq(InputDoc("monster",
      Vector(Span("text", "x" * (2 << 20), null, 0)))).toDS()
    val out = tmpDir("salted-jobs")
    val io = ProbeIO(out, beforeWrite = _ =>
      if (atFirstWrite.get < 0) atFirstWrite.set(ProbeIO.drainedCount(jobs)))
    sc.addSparkListener(listener)
    val report =
      try ExtractJob.run(spark,
        CorpusGen.dataset(spark, 300, 42L).union(monster),
        ExtractJob.Config(out, runId = "sjobs", groups = 4, partitions = 8,
          io = io))
      finally {
        org.apache.spark.ListenerDrain.drain(sc)
        sc.removeSparkListener(listener)
      }
    assert(report.salted && report.docsProcessed == 301)
    // the skew decision (which reads and holds the input), then the pass:
    // its exchange's map stage and its extraction stage. A pass planned as
    // a query ran the map stage as a job of its own under AQE: 3 jobs
    assert(atFirstWrite.get == 2, s"${atFirstWrite.get} jobs before the first write")
    assert(stages.asScala.take(2).toSeq == Seq(1, 2), stages)
    assert(sc.getPersistentRDDs.keySet == before)
  }

  test("a run whose skew decision fails holds nothing and commits nothing") {
    import spark.implicits._
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Boolean]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobEnd(
          e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        jobs.add(e.jobResult == org.apache.spark.scheduler.JobSucceeded)
    }
    // a task failure injected in the scan, at one doc
    val docs = CorpusGen.dataset(spark, 300, 42L).map { d =>
      if (d.doc_id == "doc_00000007")
        throw new IllegalStateException("injected scan failure")
      d
    }
    val out = tmpDir("decision-fails")
    sc.addSparkListener(listener)
    val e =
      try intercept[org.apache.spark.SparkException] {
        ExtractJob.run(spark, docs,
          ExtractJob.Config(out, runId = "df", groups = 4, partitions = 8))
      } finally {
        org.apache.spark.ListenerDrain.drain(sc)
        sc.removeSparkListener(listener)
      }
    assert(e.getMessage.contains("injected scan failure"), e)
    assert(jobs.asScala.toSeq == Seq(false), s"jobs ended: $jobs")
    assert(Checkpoint.committedGroups(out).isEmpty)
    assert(sc.getPersistentRDDs.keySet == before)
  }

  test("run ids with quotes and backslashes stay valid JSON in manifest and sidecar") {
    import org.apache.spark.sql.functions.sum
    val docs = CorpusGen.dataset(spark, 50, 42L)
    // an ISO timestamp and a batch path name no file: the sidecar's name
    // must not come from the run id
    Seq("a\"b\\c", "2026-10-19T16:00:00", "batch/7").zipWithIndex.foreach {
      case (runId, i) =>
        val out = tmpDir(s"runid-json$i")
        ExtractJob.run(spark, docs,
          ExtractJob.Config(out, runId = runId, groups = 2, partitions = 4))
        Seq(s"$out/_checkpoint", s"$out/metrics").foreach { dir =>
          val m = spark.read.json(dir)
          assert(!m.columns.contains("_corrupt_record"), s"invalid JSON in $dir")
          assert(m.select("run_id").distinct().collect().map(_.getString(0))
            .toSeq == Seq(runId), dir)
          assert(m.agg(sum("doc_count")).head().getLong(0) == 50L, dir)
        }
    }
    // runIncremental names a run=<runId> directory: a ':' fits in one, a
    // '/' does not and fails before anything is written
    val inc = tmpDir("runid-inc")
    val r1 = ExtractJob.runIncremental(spark, docs, ExtractJob.Config(inc,
      runId = "2026-10-19T16:00:00", groups = 2, partitions = 4))
    assert(r1.docsProcessed == 50L)
    assert(ExtractJob.readAllRuns(spark, inc).count() > 0)
    val r2 = ExtractJob.runIncremental(spark, docs, ExtractJob.Config(inc,
      runId = "2026-10-19T17:00:00", groups = 2, partitions = 4))
    // only docs with no output re-extract: the first run's rows were seen
    assert(r2.docsProcessed == CorpusGen.corpus(42L, 50)
      .count(d => RefOracle.extract(d).outSpans.isEmpty))
    val before = ExtractJob.listDirs(inc, "run=").toSet
    Seq("batch/7", "b*").foreach { bad =>
      intercept[IllegalArgumentException] {
        ExtractJob.runIncremental(spark, docs, ExtractJob.Config(inc,
          runId = bad, groups = 2, partitions = 4))
      }
    }
    assert(ExtractJob.listDirs(inc, "run=").toSet == before)
  }

  test("a group dir holds only its data files: one per held partition with its docs, no _SUCCESS") {
    import spark.implicits._
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.types.{DataType, StructType}
    val schema = Encoders.product[ExtractedRow].schema
    // (rows, spark schema, parquet repetition per column) of each data
    // file of a group dir; only data files, apart from hidden checksums
    def files(dir: String) = {
      val names = new java.io.File(dir).list().toSeq.filterNot(_.startsWith("."))
      assert(names.nonEmpty && names.forall(_.endsWith(".parquet")), s"$dir: $names")
      names.map { n =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(s"$dir/$n"),
            new org.apache.hadoop.conf.Configuration()))
        try {
          val meta = r.getFooter.getFileMetaData
          (r.getRecordCount,
            DataType.fromJson(meta.getKeyValueMetaData
              .get("org.apache.spark.sql.parquet.row.metadata"))
              .asInstanceOf[StructType],
            meta.getSchema.getFields.asScala.map(f =>
              f.getName -> f.getRepetition.toString).toMap)
        } finally r.close()
      }
    }
    def sameSchema(f: (Long, StructType, Map[String, String])): Unit = {
      assert(f._2 == schema)
      schema.fields.foreach(c => assert(
        f._3(c.name) == (if (c.nullable) "OPTIONAL" else "REQUIRED"), c.name))
    }

    // salted 4-group run: the monster doc sits alone, so partition 0
    // does not hold docs of every group
    val monster = Seq(InputDoc("monster",
      Vector(Span("text", "x" * (2 << 20), null, 0)))).toDS()
    val out = tmpDir("layout")
    val rep = ExtractJob.run(spark,
      CorpusGen.dataset(spark, 300, 42L).union(monster),
      ExtractJob.Config(out, runId = "layout", groups = 4, partitions = 8))
    assert(rep.salted && rep.groupsRun == Seq(0, 1, 2, 3))
    val held = spark.read.json(s"$out/metrics")
      .where($"doc_count" > 0).select("group", "partition_id")
      .as[(Long, Long)].collect().groupBy(_._1.toInt)
    (0 until 4).foreach { g =>
      val fs = files(s"$out/data/group=$g")
      assert(fs.size == held(g).length, s"group $g: ${fs.map(_._1)}")
      assert(fs.forall(_._1 > 0), s"group $g has a zero-row file")
      fs.foreach(sameSchema)
    }

    // 3 docs over 8 groups: each empty group still gets one schema-only
    // file and a manifest entry, and the output reads back whole
    val few = CorpusGen.dataset(spark, 3, 42L)
    val out8 = tmpDir("layout-empty")
    ExtractJob.run(spark, few,
      ExtractJob.Config(out8, runId = "few", groups = 8, partitions = 4))
    assert(Checkpoint.committedGroups(out8) == (0 until 8).toSet)
    val withDocs = spark.read.json(s"$out8/metrics").select("group")
      .as[Long].collect().map(_.toInt).toSet
    assert(withDocs.size <= 3)
    (0 until 8).filterNot(withDocs).foreach { g =>
      val fs = files(s"$out8/data/group=$g")
      assert(fs.map(_._1) == Seq(0L), s"group $g")
      fs.foreach(sameSchema)
    }
    val expected = CorpusGen.corpus(42L, 3)
      .flatMap(d => RefOracle.extract(d).outSpans
        .map(o => (d.doc_id, o.kind, o.text, o.media_ref, o.order)))
    assert(ExtractJob.spansView(spark, out8).as[(String, String, String,
      String, Int)].collect().map(_.toString).sorted.toSeq ==
      expected.map(_.toString).sorted)
  }

  test("a run starts no chmod process: group writes and commits set modes in-process") {
    import jdk.jfr.Recording
    import jdk.jfr.consumer.RecordingFile
    val out = tmpDir("no-chmod")
    val docs = CorpusGen.dataset(spark, 300, 42L)
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    val report =
      try ExtractJob.run(spark, docs,
        ExtractJob.Config(out, runId = "chmod", groups = 4, partitions = 8))
      finally rec.stop()
    val dump = java.nio.file.Paths.get(tmpDir("no-chmod-jfr"), "run.jfr")
    try rec.dump(dump) finally rec.close()
    assert(!report.salted && report.groupsRun == Seq(0, 1, 2, 3))
    // by the forking frame, not by all process starts: Hadoop's one-time
    // `setsid` probe may land inside the run
    val chmods = RecordingFile.readAllEvents(dump).asScala.count(e =>
      e.getStackTrace != null && e.getStackTrace.getFrames.asScala.exists(f =>
        f.getMethod.getType.getName == "org.apache.hadoop.fs.RawLocalFileSystem" &&
          f.getMethod.getName == "setPermission"))
    assert(chmods == 0, s"$chmods chmod processes started by one run")
  }

  private implicit class ChunkN(c: Chunk) {
    def chunk_n: Int = c.chunk_id.substring(c.chunk_id.lastIndexOf('c') + 1).toInt
  }
}

/** HadoopTableIO that records the partition count of each group's frame,
  * runs `beforeWrite` before each group's write, and can fail the write
  * of one group, as a crash would: before it starts (`failGroup`) or
  * inside its write tasks (`failTaskGroup`).
  */
final case class ProbeIO(root: String, failGroup: Int = -1,
                         beforeWrite: Int => Unit = _ => (),
                         failTaskGroup: Int = -1)
    extends graft.sources.TableIO {
  private val io = graft.sources.HadoopTableIO(root)
  val framePartitions = scala.collection.mutable.Map.empty[Int, Int]
  override def overwriteGroup(df: org.apache.spark.sql.DataFrame,
                              group: Int): Unit = {
    beforeWrite(group)
    if (group == failGroup)
      throw new java.io.IOException(s"injected failure writing group $group")
    framePartitions(group) = df.rdd.getNumPartitions
    io.overwriteGroup(if (group == failTaskGroup) ProbeIO.failInTask(df) else df,
      group)
  }
  override def read(spark: SparkSession) = io.read(spark)
}

object ProbeIO {
  private def sc = org.apache.spark.SparkContext.getOrCreate()

  /** Drop the blocks of every RDD persisted since `before` was taken and
    * keep each persisted at its level, as an executor loss would: the
    * next read recomputes them.
    */
  def dropPersistedSince(before: Set[Int]): Unit =
    sc.getPersistentRDDs.filter { case (id, _) => !before(id) }.values
      .foreach { r =>
        val level = r.getStorageLevel
        r.unpersist(blocking = true)
        r.persist(level)
      }

  /** `df` with a filter that throws in the write task at its first row. */
  def failInTask(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val boom = org.apache.spark.sql.functions.udf((id: String) =>
      (throw new IllegalStateException(s"injected task failure at $id")): Boolean)
    df.where(boom(org.apache.spark.sql.functions.col("doc_id").cast("string")))
  }

  /** `n` once every event already posted has reached the listeners. */
  def drainedCount(n: java.util.concurrent.atomic.AtomicInteger): Int = {
    org.apache.spark.ListenerDrain.drain(sc)
    n.get
  }
}
