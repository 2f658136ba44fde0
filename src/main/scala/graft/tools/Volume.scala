package graft.tools

import graft.core.{ExtractionSpec, InputDoc, Run}
import graft.extract.{Layout, PdfTokenizer}
import graft.functions.{BpeTokenize, Natives, TrigramLangId}
import graft.gen.{ArchiveGen, CorpusGen, GtRow, JsonlGen, PdfGen, WarcGen}
import graft.ops.{CorpusPipeline, MediaDedup, Multimodal, TableExtract, TextOps}
import graft.pipeline.ExtractJob
import graft.sources.RawFiles
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import java.io.File
import java.nio.file.{Files, Paths, StandardOpenOption}
import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer

/** Volume evidence, one row per workload: a row generates its input, runs
  * the path under test, enforces its checks (a shortfall throws) and
  * returns its BENCH.md line. [[main]] owns the session, the temp-dir
  * cleanup and the BENCH.md append.
  *
  * `sbt "runMain graft.tools.Volume <row> [arg]"`; the arg is the input
  * size, except for `clean [sfDir]` and `layout [n1,n2,...]` (run counts).
  *
  * Mixed-format ingestion and the extraction job at table scale have no
  * row: perfbench's `raw_mixed` and `spans_table` workloads run them with
  * per-doc output checks.
  */
object Volume {

  type Row = (SparkSession, Option[String]) => String

  val rows: ListMap[String, Row] = ListMap(
    "realpdf" -> realPdf, "crawl" -> crawl, "table" -> table,
    "langid" -> langId, "media_dedup" -> mediaDedup, "bpe" -> bpe,
    "clean" -> clean, "codec" -> codec, "layout" -> layout)

  def main(args: Array[String]): Unit = {
    require(args.headOption.exists(rows.contains),
      s"usage: Volume <${rows.keys.mkString("|")}> [arg]")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.files.maxPartitionBytes", (4L << 20).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val line = scratch(rows(args(0))(spark, args.lift(1)))
      println(s"[volume] $line")
      // cwd first, then the repo checkout: a hardcoded path threw from
      // other checkouts (ADVICE r02)
      val benchMd = if (new File("BENCH.md").exists()) "BENCH.md"
                    else "/root/repo/BENCH.md"
      Files.writeString(Paths.get(benchMd), s"\n$line\n",
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    } finally spark.stop()
  }

  private val made = ArrayBuffer.empty[File]

  private[graft] def tmp(name: String): String = made.synchronized {
    val d = Files.createTempDirectory(s"graft-volume-$name").toFile
    made += d
    d.toString
  }

  /** Runs `body`, then deletes every temp dir it made, check failed or not. */
  private[graft] def scratch[A](body: => A): A =
    try body
    finally made.synchronized { made.foreach(rm); made.clear() }

  private def rm(f: File): Unit = {
    if (f.isDirectory) f.listFiles.foreach(rm)
    f.delete(): Unit
  }

  private def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  private def at(spark: SparkSession): String = spark.sparkContext.master

  /** Ingests the files under `root` ([[RawFiles.read]], then
    * [[ExtractJob.run]]) and requires one processed doc per distinct
    * ground-truth doc, a text row for every doc `gt` gives text, and every
    * media span. Returns seconds, output rows and the recall figures.
    */
  private[graft] def ingest(spark: SparkSession, root: String,
                            gt: Seq[GtRow]): (Double, Long, String) = {
    val out = tmp("out")
    val (report, sec) = timed(ExtractJob.run(spark,
      RawFiles.read(spark, root),
      ExtractJob.Config(out, runId = "volume", groups = 1, partitions = 64)))
    val wantDocs = gt.map(_.doc_id).distinct.size
    require(report.docsProcessed == wantDocs,
      s"expected $wantDocs docs, got ${report.docsProcessed}")
    val outDf = ExtractJob.readOutput(spark, out)
    val mediaKinds = ExtractionSpec.MediaKinds.toSeq
    val media = outDf.where(col("kind").isin(mediaKinds: _*)).count()
    val wantMedia = gt.count(r => mediaKinds.contains(r.kind))
    val textDocs = outDf.where(col("text").isNotNull)
      .select("doc_id").distinct().count()
    val wantText = gt.filter(_.text != null).map(_.doc_id).distinct.size
    require(media == wantMedia, s"media spans lost: $media/$wantMedia")
    require(textDocs == wantText, s"text docs lost: $textDocs/$wantText")
    (sec, outDf.count(),
      s"text-doc recall $textDocs/$wantText; media recall $media/$wantMedia")
  }

  private def realPdf(spark: SparkSession, arg: Option[String]): String = {
    val n = arg.fold(20000)(_.toInt)
    val dir = tmp("pdf")
    PdfGen.write(dir, n)
    val (sec, rows, recall) = ingest(spark, dir, PdfGen.expected(n))
    f"| real-PDF ingestion | $n genuine .pdf files (classic / Flate / " +
      f"ObjStm / LZW / two-page / RC4-encrypted / CJK-CMap sevenths) " +
      f"scanned+parsed+extracted in $sec%.1f s = ${n / sec}%.0f docs/s " +
      f"@ ${at(spark)}; $rows output rows; $recall |"
  }

  private def crawl(spark: SparkSession, arg: Option[String]): String = {
    val n = arg.fold(600)(_.toInt)
    val root = tmp("crawl")
    val gt = Seq[(String, (String, Int) => Unit, Int => Seq[GtRow])](
      ("warc", WarcGen.write, WarcGen.expected),
      ("arch", ArchiveGen.write, ArchiveGen.expected),
      ("jsonl", JsonlGen.write, JsonlGen.expected)
    ).flatMap { case (sub, write, expected) =>
      write(Files.createDirectories(Paths.get(root, sub)).toString, n)
      expected(n).map(r => r.copy(doc_id = s"$sub/${r.doc_id}"))
    }
    val docs = gt.map(_.doc_id).distinct.size
    val (sec, _, recall) = ingest(spark, root, gt)
    val containers = 3L * n
    f"| container fan-out ingestion | $containers containers " +
      f"(warc/zip/tar/tar.gz/7z/jsonl/ndjson/jsonl.{gz,zst,xz,lz4,sz}/" +
      f"json/json.gz thirds) expanded to $docs docs + extracted in " +
      f"$sec%.1f s = ${containers / sec}%.0f containers/s = " +
      f"${docs / sec}%.0f docs/s @ ${at(spark)}; $recall |"
  }

  /** Pages of positioned runs (a title, an R×C grid with R ∈ 3..5 and
    * C ∈ 2..3 per page, a footer), generated from `spark.range`; the
    * generator knows the exact cell total.
    */
  private def table(spark: SparkSession, arg: Option[String]): String = {
    import spark.implicits._
    val n = arg.fold(500000)(_.toInt)
    def dims(i: Long): (Int, Int) = ((3 + i % 3).toInt, (2 + i % 2).toInt)
    val runs = spark.range(n).flatMap { i =>
      val (nr, nc) = dims(i)
      val doc = s"bdoc_$i"
      val cells = for {
        r <- (0 until nr).iterator; c <- (0 until nc).iterator
      } yield {
        val x0 = 72.0 + c * 130; val y0 = 700.0 - r * 20
        (doc, 1, x0, y0, x0 + 80.0 - ((r + c) % 3) * 6, y0 + 12,
         s"cell_${i}_${r}_${c}")
      }
      Iterator((doc, 1, 72.0, 760.0, 272.0, 774.0, s"Report $i")) ++
        cells ++ Iterator((doc, 1, 72.0, 40.0, 232.0, 52.0, s"Footer $i"))
    }.toDF("doc_id", "page", "x0", "y0", "x1", "y1", "text")
    val want = (0L until n).map { i =>
      val (nr, nc) = dims(i); nr.toLong * nc
    }.sum
    val (got, sec) = timed(TableExtract.cells(runs).count())
    require(got == want, s"recovered $got cells, generator placed $want")
    f"| table-reconstruction volume | $n pages (title + R×C grid + " +
      f"footer) → $got cells (expected $want, recall " +
      f"${got.toDouble / want * 100}%.2f%%) in $sec%.1f s = " +
      f"${n / sec}%.0f pages/s, ${got / sec}%.0f cells/s @ ${at(spark)} |"
  }

  /** ~60-word paragraphs, one seed language per doc, round-robin. */
  private def langId(spark: SparkSession, arg: Option[String]): String = {
    import spark.implicits._
    val n = arg.fold(2000000)(_.toInt)
    val langs = TrigramLangId.Seeds.all.map(_._1)
    val docs = spark.range(n).map { i =>
      val li = (i % langs.size).toInt
      (i, (0 until 5).map(k => TrigramLangId.seedSentence(li,
        (i / langs.size + k).toInt % 977)).mkString(" "))
    }.toDF("id", "text")
    val (byLang, sec) = timed(docs.select(
        Natives.langId(col("text")).as("lang"),
        element_at(array(langs.map(lit): _*),
          (col("id") % langs.size).cast("int") + 1).as("want"))
      .groupBy("lang", "want").count().collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))))
    val (right, wrong) = byLang.partition { case (l, w, _) => l == w }
    val correct = right.map(_._3).sum
    require(correct == n, "misclassified: " + wrong.sortBy(_._2)
      .map { case (l, w, c) => s"$w->$l=$c" }.mkString(" "))
    f"| trigram lang-ID volume | $n docs (~60 words, per-language " +
      f"round-robin) classified+grouped in $sec%.1f s = ${n / sec}%.0f " +
      f"docs/s @ ${at(spark)}; per-doc accuracy vs generator language " +
      f"${correct * 100.0 / n}%.2f%% |"
  }

  /** A 48×32 noise image, unique except every decade's 9th, which nudges
    * one pixel of the decade's 0th by ±40: box means shift ~1.7/255, so
    * dHash moves 0-2 bits while a byte hash sees a different image.
    */
  private def imageBytes(i: Long): Array[Byte] = {
    val (w, h) = (48, 32)
    val base = if (i % 10 == 9) i - 9 else i
    val px = new Array[Byte](w * h)
    new java.util.Random(base * 0x9E3779B97F4A7C15L + 0x1234567L).nextBytes(px)
    if (i % 10 == 9) {
      val r = new java.util.Random(i)
      val at = r.nextInt(w * h)
      px(at) = math.max(0, math.min(255, (px(at) & 0xff) +
        (if (r.nextBoolean()) 40 else -40))).toByte
    }
    Multimodal.RawGray.encode(w, h, px)
  }

  /** Banded dHash pairs at maxHamming 3 (Manku et al. WWW'07 bands). */
  private def mediaDedup(spark: SparkSession, arg: Option[String]): String = {
    import spark.implicits._
    val n = arg.fold(200000)(_.toInt)
    val media = spark.range(n)
      .map(i => (f"media://vol/$i%08d", "image", imageBytes(i)))
      .toDF("media_ref", "kind", "content")
    val (pairs, sec) = timed(MediaDedup.nearDupPairs(spark, media,
      maxHamming = 3).collect().map(r => (r.getString(0), r.getString(1))))
    val injected = n / 10
    val recovered = pairs.count { case (a, b) =>
      val ia = a.substring(12).toLong; val ib = b.substring(12).toLong
      ia / 10 == ib / 10 && ia % 10 == 0 && ib % 10 == 9
    }
    require(recovered == injected,
      s"recovered $recovered of $injected injected near-dup pairs")
    f"| perceptual media dedup volume | $n 48x32 images " +
      f"decoded+hashed+band-joined in $sec%.1f s = ${n / sec}%.0f img/s " +
      f"@ ${at(spark)} (maxHamming 3 = 16-bit bands); injected one-pixel " +
      f"near-dup recall ${recovered * 100.0 / injected}%.2f%% " +
      f"($recovered/$injected), ${pairs.length} total pairs |"
  }

  private val Suffix = Array("ing", "ed", "ly", "tion", "er", "est", "s", "")

  /** Word salad over 997 stems with shared suffixes: the merge loop learns
    * the suffixes and frequent stems while rare stems stay multi-token.
    */
  private def paragraph(i: Long): String =
    (0 until 60).map { k =>
      val j = (i * 31 + k * k * 7 + k) % 997
      s"w$j${Suffix((j % 8).toInt)}"
    }.mkString(" ")

  private def bpe(spark: SparkSession, arg: Option[String]): String = {
    import spark.implicits._
    val n = arg.fold(2000000)(_.toInt)
    def docs(m: Long) = spark.range(m).map(i => (i, paragraph(i)))
      .toDF("id", "text")
    val (merges, trainSec) = timed(TextOps.trainBpe(docs(5000), "text",
      numMerges = 500, maxWords = 5000))
    val (Seq(tokens, pre), sec) = timed(docs(n).select(
        sum(size(Natives.bpeTokenize(col("text"),
          new BpeTokenize.Model(merges)))),
        sum(TextOps.bpeTokenCount(col("text"))))
      .collect()(0).toSeq.map(_.asInstanceOf[Long]))
    f"| trainable BPE volume | ${merges.size} merges learned from 5000 " +
      f"docs in $trainSec%.1f s; $n ~60-word docs tokenized+summed in " +
      f"$sec%.1f s = ${n / sec}%.0f docs/s = ${tokens / sec}%.0f " +
      f"tokens/s @ ${at(spark)}; corpus budget $tokens BPE tokens vs " +
      f"$pre pre-tokens (${tokens.toDouble / pre}%.2f subwords/pre-token) |"
  }

  /** A testdata documents table plus 1/7 injected exact duplicates, with
    * every 101st doc's text as a leaked eval set.
    */
  private def clean(spark: SparkSession, arg: Option[String]): String = {
    val sfDir = arg.getOrElse("/root/testdata/sf0.1")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    val dups = docs.where(col("doc_id") % 7 === 0)
      .withColumn("doc_id", col("doc_id") + 10000000L)
    val ((outN, stages), sec) = timed {
      val (cleaned, stages) = CorpusPipeline.clean(docs.union(dups),
        "doc_id", "text", CorpusPipeline.Config(minQuality = 0.5,
          cutWindowTokens = 8, contaminationW = 8, normalize = true,
          minLmScore = Some(-6.0), lmTrainDocs = 1000),
        evalSet = Some(docs.where(col("doc_id") % 101 === 0).select("text")))
      (cleaned.count(), stages)
    }
    f"| corpus-clean pipeline ($sfDir + 1/7 injected dups) | " +
      stages.map(s => s"${s.stage}=${s.docs}").mkString(" → ") +
      f" → final=$outN in $sec%.1f s @ ${at(spark)} |"
  }

  /** One CorpusGen extraction job per parquet codec: docs/s and bytes. */
  private def codec(spark: SparkSession, arg: Option[String]): String = {
    import spark.implicits._
    val n = arg.fold(300000)(_.toInt)
    val in = tmp("codec-in")
    CorpusGen.dataset(spark, n, 42L).repartition(64)
      .write.mode("overwrite").parquet(in)
    val docs = spark.read.parquet(in).as[InputDoc]
    def bytes(f: File): Long =
      if (f.isDirectory) f.listFiles.map(bytes).sum else f.length()
    val key = "spark.sql.parquet.compression.codec"
    val prev = spark.conf.getOption(key)
    val cells = try Seq("snappy", "zstd", "lz4", "uncompressed").map { c =>
      spark.conf.set(key, c)
      val (sec, size) = (1 to 3).map { _ =>
        val out = new File(tmp(s"codec-$c"))
        val (_, sec) = timed(ExtractJob.run(spark, docs,
          ExtractJob.Config(out.toString, runId = c, groups = 1,
            partitions = 64)))
        val size = bytes(out)
        rm(out)
        (sec, size)
      }.minBy(_._1)
      f"$c: ${n / sec}%.0f docs/s, ${size / 1e6}%.1f MB"
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    s"| extraction write codec ($n docs, ${at(spark)}, best of 3) | " +
      cells.mkString("; ") + " |"
  }

  /** Short lines tiling the page uniformly: a scanned table, OCR soup. */
  private def spreadPage(n: Int): PdfTokenizer.Page = {
    val cols = math.max(1, math.sqrt(n.toDouble).toInt)
    val runs = (0 until n).map { i =>
      val x = (i % cols) * 60.0; val y = (i / cols) * 24.0
      Run(1, x, y, x + 50.0, y + 10.0, s"t$i ")
    }
    PdfTokenizer.Page(1, cols * 60.0, (n / cols + 1) * 24.0,
      ArrayBuffer.from(runs))
  }

  /** One enormous line: all runs overlap vertically, chained in x. */
  private def ribbonPage(n: Int): PdfTokenizer.Page =
    PdfTokenizer.Page(1, n * 12.0 + 10, 792.0, ArrayBuffer.from(
      (0 until n).map(i => Run(1, i * 12.0, 700.0, i * 12.0 + 12.0, 710.0,
        s"w$i "))))

  /** [[Layout.boxesOf]] on both page shapes at growing run counts (best of
    * 3 after a warm-up), with the fitted scaling exponent: ~2 is the
    * all-pairs quadratic, ~1 the grid-pruned near-linear shape.
    */
  private def layout(spark: SparkSession, arg: Option[String]): String = {
    val sizes = arg.fold(Seq(10000, 25000, 50000, 100000))(
      _.split(",").toSeq.map(_.toInt))
    val shapes = Seq[(String, Int => PdfTokenizer.Page)](
      "spread" -> spreadPage, "ribbon" -> ribbonPage).map { case (name, gen) =>
      (1 to 3).foreach(_ => Layout.boxesOf(gen(2000)))
      val ms = sizes.map { n =>
        val p = gen(n)
        (1 to 3).map(_ => timed(Layout.boxesOf(p))._2 * 1e3).min
      }
      val exp = math.log(ms.last / ms.head) /
        math.log(sizes.last.toDouble / sizes.head)
      s"$name " + sizes.zip(ms).map { case (n, t) => f"$n: $t%.1f ms" }
        .mkString(", ") + f", fitted exponent $exp%.2f"
    }
    s"| monster-page layout scaling | ${shapes.mkString("; ")} |"
  }
}
