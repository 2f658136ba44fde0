package graft

import graft.core._
import graft.extract.{Extractor, HtmlExtractor, RealPdf}
import graft.functions.{Position, PositionScala}
import graft.gen._
import graft.ops.{Dedup, MediaDedup, Multimodal, Similarity, TextOps}
import graft.oracle.{ExpectedChunk, PlainOracles, RefOracle}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import java.nio.charset.StandardCharsets
import scala.reflect.runtime.universe.TypeTag

/** Driver contract — see /root/repo/SURVEY.md §2 for the operator map.
  *
  * Naming convention:
  *  - `ex_*`  extraction-engine queries over the deterministic generated
  *            spans corpus.
  *  - `q_*`   SQL-oracled queries over the driver testdata tables; every
  *            one has an exact DuckDB twin in [[oracleSql]].
  *  - `dd_*` / `sim_*` / `mm_*`  dedup / similarity / multimodal
  *            training-data ops.
  *
  * Every query has a DuckDB-checkable oracle row: either a pure-SQL twin
  * over the sf tables, or (for semantics no SQL engine expresses —
  * extraction, xxhash-based signatures, LSH) a twin that reads the
  * EXPECTED TABLE [[graft.Verify]] materializes from the independent
  * implementations in [[graft.oracle]]; the [[ExpectedToken]] placeholder
  * in those twins is substituted with the materialized absolute path at
  * dump time.
  *
  * The generator-corpus queries are ONE table, [[genRows]]. A row names
  * the query, how its corpus is written, the output shape and the
  * generator's ground truth, and yields both its [[queries]] entry and
  * its [[expected]] twin. The shapes: a [[Shape]] over the extracted rows
  * ([[TailRef]], [[VerbatimRef]], [[NoRef]] spans, TSV by ord, the one
  * TSV span), the [[perFile]] recipe, or a custom projection over
  * [[ingest]]. A new generator format is one row.
  */
object SparkEntry {

  /** Placeholder in [[oracleSql]] strings for the directory where Verify
    * writes the [[expected]] tables.
    */
  val ExpectedToken = "__GRAFT_EXPECTED__"

  /** Deterministic P13 `extracted_at` epoch base (2026-01-01T00:00:00Z):
    * the driver-oracled queries need reproducible timestamps; the real
    * write path ([[graft.pipeline.ExtractJob]]) uses current_timestamp()
    * like the reference's DEFAULT (setup.sql:123).
    */
  val ExtractedAtBase = 1767225600L

  // ---------- shared helpers ----------

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Scratch dir for queries that exercise a write path (q_csv_roundtrip,
    * q_upload) or write a generator corpus: created per invocation,
    * deleted recursively at JVM exit so Verify/Bench runs don't
    * accumulate /tmp garbage. Exit-time (not eager) because the returned
    * DataFrame reads the dir lazily.
    */
  private def scratchDir(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
        f.delete(): Unit
      }
      rm(p.toFile)
    }))
    p.toString
  }

  /** sf tier → corpus size cache: `documents.count()` is one tiny parquet
    * footer job, but Verify/Bench call [[corpusFor]] for ~15 queries in
    * one process and the repeated count showed up as the ex_catalog
    * bench-watch item (VERDICT r03 "What's wrong" #2).
    */
  private val corpusSizeCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** Deterministic corpus sized from the sf tier (4 docs per documents
    * row: sf0.001→2k, sf0.1→20k), generated distributed.
    */
  def corpusFor(spark: SparkSession, dir: String): Dataset[InputDoc] = {
    val nDocs = corpusSizeCache.computeIfAbsent(dir,
      d => t(spark, d, "documents").count() * 4)
    CorpusGen.dataset(spark, nDocs, 42L)
  }

  /** Extraction as a query (no write): corpus → flatMap extract → rows. */
  def extractedRows(spark: SparkSession, dir: String): Dataset[ExtractedRow] = {
    import spark.implicits._
    corpusFor(spark, dir).flatMap(d => Extractor.extractRows(d))
  }

  /** Flagship: full extraction over the sf0.001-sized corpus, chunks
    * enriched with the 9-cell position (P16/P17). Driver smoke-checks
    * rows > 0.
    */
  def entry(spark: SparkSession): DataFrame = {
    val rows = extractedRows(spark, "/root/testdata/sf0.001").toDF()
    rows.where(col("chunk_id").isNotNull)
      .withColumn("position", Position.positionStruct(
        col("bbox_x0"), col("bbox_y0"), col("bbox_x1"), col("bbox_y1"),
        col("page_width"), col("page_height")))
      .select("chunk_id", "doc_id", "page", "text",
              "position.position_description", "position.relative_x",
              "position.relative_y")
  }

  // ---------- generator corpora: one row per query ----------

  /** One generator-corpus query and its expected twin. `write` lays the
    * corpus into a fresh scratch dir INSIDE the query call, so
    * [[graft.Bench]] and QueryProfile time it with the read; `read` runs
    * the production path over that dir; `truth` is the generator's own
    * ground truth in the query's columns, computed from the generator
    * alone — never from RawFiles, Extractor or a parser.
    */
  private[graft] final case class GenRow(name: String, write: String => Unit,
      read: (SparkSession, String) => DataFrame,
      truth: SparkSession => DataFrame) {
    def query(s: SparkSession): DataFrame = {
      val tmp = scratchDir(s"graft-$name")
      write(tmp)
      read(s, tmp)
    }
  }

  /** The production raw-ingest recipe: the RawFiles directory scan →
    * InputDocs, handed to `project`.
    */
  private def ingest(project: (SparkSession, Dataset[InputDoc]) => DataFrame)
      : (SparkSession, String) => DataFrame =
    (s, tmp) => project(s, graft.sources.RawFiles.read(s, tmp))

  /** [[ingest]] → Extractor rows, handed to `project`. */
  private def extracted(project: DataFrame => DataFrame)
      : (SparkSession, String) => DataFrame =
    ingest { (s, docs) =>
      import s.implicits._
      project(docs.flatMap(d => Extractor.extractRows(d)).toDF())
    }

  /** The per-file recipe: one raw file scan, `f(fileName, bytes)` rows
    * named `cols`, finished by `post`.
    */
  private def perFile[T <: Product : TypeTag](cols: String*)(
      f: (String, Array[Byte]) => Seq[T])(post: DataFrame => DataFrame)
      : (SparkSession, String) => DataFrame =
    (s, tmp) => post(s.read.format("binaryFile").load(tmp)
      .select(col("path"), col("content"))
      .flatMap { r =>
        val path = r.getString(0)
        f(path.substring(path.lastIndexOf('/') + 1),
          r.getAs[Array[Byte]]("content"))
      }(Encoders.product[T])
      .toDF(cols: _*))

  /** Generator rows as a DataFrame, renamed to `cols` when given. */
  private def truth[T <: Product : TypeTag](rows: => Seq[T], cols: String*)
      : SparkSession => DataFrame = s => {
    val df = s.createDataFrame(rows)
    if (cols.isEmpty) df else df.toDF(cols: _*)
  }

  /** Writes the files `idx` of a generator (a subset of its corpus). */
  private def writeFiles(idx: Seq[Int], name: Int => String,
      bytes: Int => Array[Byte]): String => Unit = dir =>
    idx.foreach(i =>
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, name(i)),
        bytes(i)): Unit)

  /** An output shape over the extracted rows: `cols` (named `names`),
    * rows kept by `where`, ordered by doc_id then ord. Its expected twin
    * selects the same names from the generator's [[graft.gen.GtRow]]s.
    */
  private final case class Shape(names: Seq[String], cols: Seq[Column],
      where: Option[Column] = None) extends (DataFrame => DataFrame) {
    def apply(rows: DataFrame): DataFrame =
      where.fold(rows)(c => rows.where(c)).select(cols: _*)
        .orderBy(names.filter(Set("doc_id", "ord")).map(col): _*)
    def truth(rows: => Seq[GtRow]): SparkSession => DataFrame =
      s => s.createDataFrame(rows).select(names.map(col): _*)
  }

  private def spanShape(ref: Option[Column]): Shape =
    Shape(Seq("doc_id", "kind", "text") ++ ref.map(_ => "media_ref") :+ "ord",
      Seq(col("doc_id"), col("kind"), col("text")) ++ ref :+
        col("order").as("ord"))

  /** Spans, media_ref reduced to its path-independent tail so the output
    * hashes identically across scratch dirs.
    */
  private val TailRef =
    spanShape(Some(element_at(split(col("media_ref"), "/"), -1).as("media_ref")))
  /** Spans, media_ref verbatim (external references). */
  private val VerbatimRef = spanShape(Some(col("media_ref")))
  /** Spans of a format without media. */
  private val NoRef = spanShape(None)

  /** doc_id, ord and each span's text, named `as`. */
  private def textByOrd(as: String): Shape = Shape(Seq("doc_id", "ord", as),
    Seq(col("doc_id"), col("order").as("ord"),
      if (as == "text") col("text") else col("text").as(as)))
  private val TsvByOrd = textByOrd("tsv")
  /** The one TSV-bearing span (text holding a tab) of a table doc. */
  private val TsvSpan = Shape(Seq("doc_id", "tsv"),
    Seq(col("doc_id"), col("text").as("tsv")), Some(col("text").contains("\t")))

  /** A span-shaped row: extracted rows through `shape`, truth = `gt`. */
  private def spans(name: String, shape: Shape, write: String => Unit,
      gt: => Seq[GtRow]): GenRow =
    GenRow(name, write, extracted(shape), shape.truth(gt))

  /** FORMAT-INVARIANT dedup — the engine's thesis in one query: one
    * article in eight renditions extracts into the one span vocabulary,
    * its per-doc text canonicalized (casefold + punct/ws fold), and the
    * renditions collapse into ONE cluster; singleton notes stay alone.
    * Scale shape, exactly: the per-doc text rebuild groups by doc_id, so
    * each document's text crosses ONE exchange once, as the partial
    * collect_list VALUE (one doc = one scan task, so the partial agg is
    * already complete map-side) — the move-the-corpus-once floor any
    * span→document reassembly pays. The CLUSTERING window then partitions
    * on xxhash64(canonical): only (doc_id, 8-byte key) rides that second
    * shuffle, never text (the PageFurniture rule).
    */
  private def crossFormatClusters(rows: DataFrame): DataFrame = {
    val fullText = rows.where(col("text").isNotNull)
      .groupBy("doc_id")
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("order"), col("text")))),
          x => x.getField("text")),
        "\n").as("full"))
    val keyed = fullText.select(col("doc_id"),
      xxhash64(TextOps.canonicalText(col("full"))).as("k"))
    val w = Window.partitionBy("k")
    keyed.select(col("doc_id"),
        count(lit(1)).over(w).as("cluster_size"),
        min("doc_id").over(w).as("cluster_rep"))
      .orderBy("doc_id")
  }

  /** The markdown / pptx files that carry one pipe / a:tbl table. */
  private val MdTables = (0 until 24).map(k => 22 * k + 9)
  private val PptxTables = (0 until 24).map(3 * _)

  /** Every generator-corpus query. A new generator format is one row; the
    * per-format behaviour each row pins is in its front end's scaladoc.
    */
  private[graft] lazy val genRows: Seq[GenRow] = Seq(
    // genuine PDFs: classic / Flate / ObjStm / LZW / two-page / RC4 / CJK-CMap
    spans("ex_realpdf", textByOrd("text").copy(where = Some(col("text").isNotNull)),
      PdfGen.write(_, 60), PdfGen.expected(60)),
    // 22 suffix classes in one tree, media by reference
    spans("ex_mixed", TailRef, MixedGen.write(_, 48), MixedGen.expected(48)),
    // EPUB spine chapters, nav dropped, images at tag position
    spans("ex_epub", TailRef, EpubGen.write(_, 24), EpubGen.expected(24)),
    // PPTX slide paragraphs + pictures at tag position
    spans("ex_pptx", TailRef, PptxGen.write(_, 24), PptxGen.expected(24)),
    // RTF paragraphs, \cell/\row TSV, shppict pictures once
    spans("ex_rtf", TailRef, RtfGen.write(_, 24), RtfGen.expected(24)),
    // WARC / WET segments fan out one doc per retained record
    spans("ex_warc", TailRef, WarcGen.write(_, 21), WarcGen.expected(21)),
    // zip / tar / tar.gz / 7z fan out one doc per member
    spans("ex_archive", TailRef, ArchiveGen.write(_, 18), ArchiveGen.expected(18)),
    // notebook cells: markdown, code, outputs, attachment images
    spans("ex_ipynb", TailRef, NbGen.write(_, 24), NbGen.expected(24)),
    // MIME messages, cid: images, attachment fan-out
    spans("ex_eml", TailRef, EmlGen.write(_, 24), EmlGen.expected(24)),
    // ODF paragraphs, TSV tables, in-archive images
    spans("ex_odt", TailRef, OdtGen.write(_, 24), OdtGen.expected(24)),
    // mbox spools: one doc per message, attachments fan out below it
    spans("ex_mbox", TailRef, EmlGen.writeMbox(_, 4), EmlGen.expectedMbox(4)),
    // legacy PowerPoint records + BLIP-store pictures
    spans("ex_ppt", TailRef, PptGen.write(_, 24), PptGen.expected(24)),
    // legacy Word piece tables + anchor-position pictures
    spans("ex_doc", TailRef, DocGen.write(_, 24), DocGen.expected(24)),
    // WordprocessingML paragraphs, w:tbl TSV, blips at tag position
    spans("ex_docx", TailRef, DocxGen.write(_, 24), DocxGen.expected(24)),
    // legacy sheet TSV + Escher-store pictures
    spans("q_xls_pictures", TailRef, XlsGen.writePictures(_, 12),
      XlsGen.expectedPictures(12)),
    // RSS/Atom: one doc per entry, enclosure URLs verbatim
    spans("ex_feed", VerbatimRef, FeedGen.write(_, 24), FeedGen.expected(24)),
    // detex'd LaTeX blocks, tabular TSV, \includegraphics verbatim
    spans("ex_tex", VerbatimRef, TexGen.write(_, 24), TexGen.expected(24)),
    // jsonl / json shards fan out one doc per retained record
    spans("ex_jsonl", NoRef, JsonlGen.write(_, 24), JsonlGen.expected(24)),
    // SubRip / WebVTT cue text
    spans("ex_subs", NoRef, SubGen.write(_, 24), SubGen.expected(24)),
    // generic-XML text-bearing element blocks
    spans("ex_xml", NoRef, XmlGen.write(_, 24), XmlGen.expected(24)),
    // PDF embedded files fan out one doc per attachment
    spans("ex_pdf_attach", NoRef, AttachGen.write(_, 16), AttachGen.expected(16)),
    // binary .doc grids through the PAPX layer, one TSV span per table
    spans("q_table_tsv_doc", textByOrd("text"), DocGen.writeTables(_, 12),
      DocGen.expectedTables(12)),
    // XLSX used ranges, one TSV span per sheet
    GenRow("q_table_tsv_xlsx", XlsxGen.write(_, 24), extracted(TsvByOrd),
      truth(XlsxGen.expected(24))),
    // BIFF8 used ranges, one TSV span per sheet
    GenRow("q_table_tsv_xls", XlsGen.write(_, 24), extracted(TsvByOrd),
      truth(XlsGen.expected(24))),
    // .csv / .tsv: sniffed delimiter, RFC 4180 quoting
    GenRow("q_table_tsv_csv", CsvGen.write(_, 24), extracted(TsvByOrd),
      truth(CsvGen.expected(24))),
    // markdown pipe tables as one TSV block
    GenRow("q_table_tsv_md",
      writeFiles(MdTables, MixedGen.fileName, MixedGen.fileBytes),
      extracted(TsvSpan),
      truth(MdTables.map(i => (MixedGen.fileName(i), MixedGen.mdTableTsv(i))),
        "doc_id", "tsv")),
    // DrawingML a:tbl as one TSV block
    GenRow("q_table_tsv_pptx",
      writeFiles(PptxTables, PptxGen.fileName, PptxGen.fileBytes),
      extracted(TsvSpan),
      truth(PptxTables.map(i => (PptxGen.fileName(i), PptxGen.tableTsv(i))),
        "doc_id", "tsv")),
    // charset sniffing at the ingest boundary: span level, before extraction
    GenRow("ex_charset", CharsetGen.write(_, 24), ingest { (s, docs) =>
        import s.implicits._
        docs.flatMap(d => d.spans.map(sp =>
            (d.doc_id, sp.kind, sp.text, sp.offset)))
          .toDF("doc_id", "kind", "text", "ord")
          .orderBy("doc_id", "ord")
      }, NoRef.truth(CharsetGen.expected(24))),
    // eight renditions of one article cluster together
    GenRow("dd_cross_format", CrossGen.write(_, 12, 5),
      extracted(crossFormatClusters),
      truth(CrossGen.expected(12, 5), "doc_id", "cluster_size", "cluster_rep")),
    // /Link URIs + display-mapped rects, domains via urlDomain
    GenRow("q_pdf_links", LinkGen.write(_, 36),
      perFile("doc_id", "page", "uri", "x0", "y0", "x1", "y1") { (name, b) =>
        RealPdf.links(RealPdf.open(b))
          .map(l => (name, l.page, l.uri, l.x0, l.y0, l.x1, l.y1))
      } {
        _.withColumn("domain", TextOps.urlDomain(col("uri")))
          .select("doc_id", "page", "uri", "domain", "x0", "y0", "x1", "y1")
          .orderBy("doc_id", "page", "uri")
      }, truth(LinkGen.expected(36))),
    // /Outlines preorder walk: title, depth, target page
    GenRow("q_pdf_outline", LinkGen.write(_, 36),
      perFile("doc_id", "pos", "depth", "title", "page") { (name, b) =>
        RealPdf.outline(RealPdf.open(b))
          .map(o => (name, o.pos, o.depth, o.title, o.page))
      }(_.orderBy("doc_id", "pos")), truth(LinkGen.expectedOutline(36))),
    // AcroForm field values + display-mapped widget rects
    GenRow("q_pdf_formfields", FormGen.write(_, 36),
      perFile("doc_id", "pos", "page", "name", "ftype", "value",
          "x0", "y0", "x1", "y1") { (name, b) =>
        RealPdf.formFields(RealPdf.open(b)).map(ff => (name, ff.pos, ff.page,
          ff.name, ff.ftype, ff.value, ff.x0, ff.y0, ff.x1, ff.y1))
      }(_.orderBy("doc_id", "pos")), truth(FormGen.expected(36))),
    // HTML <table> DOM recovery into the TSV vocabulary
    GenRow("q_table_tsv_html", HtmlTableGen.write(_, 30),
      perFile("doc_id", "table_id", "n_rows", "n_cols", "tsv") { (name, b) =>
        HtmlExtractor.tables(new String(b, StandardCharsets.UTF_8))
          .zipWithIndex.map { case (rows, tid) =>
            (name, tid, rows.length, rows.map(_.length).max,
              rows.map(_.mkString("\t")).mkString("\n"))
          }
      }(_.orderBy("doc_id", "table_id")), truth(HtmlTableGen.expected(30)))
  )

  // ---------- the queries ----------

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Map[String, (SparkSession, String) => DataFrame](
    // === extraction engine (oracle: RefOracle expected tables) ===
    "ex_spans" -> ((s, dir) => {
      extractedRows(s, dir)
        .select("doc_id", "kind", "text", "media_ref", "order")
    }),
    "ex_chunks" -> ((s, dir) => {
      // ≅ reference document_chunks incl. P13 extracted_at (setup.sql:123;
      // deterministic base + chunk_n so the driver oracle can hash it)
      extractedRows(s, dir).toDF().where(col("chunk_id").isNotNull)
        .withColumn("position_description", Position.positionDescription(
          col("bbox_x0"), col("bbox_y0"), col("bbox_x1"), col("bbox_y1"),
          col("page_width"), col("page_height")))
        .withColumn("extracted_at",
          (lit(ExtractedAtBase) + col("chunk_n")).cast("timestamp"))
        .select("chunk_id", "doc_id", "page", "text", "bbox_x0", "bbox_y0",
                "bbox_x1", "bbox_y1", "page_width", "page_height",
                "position_description", "extracted_at")
    }),
    "ex_catalog" -> ((s, dir) => {
      // Q1 document-catalog aggregate (streamlit_app.py:402-412) over the
      // extraction output, incl. the reference's MIN/MAX(extracted_at)
      extractedRows(s, dir).toDF().where(col("chunk_id").isNotNull)
        .withColumn("extracted_at",
          (lit(ExtractedAtBase) + col("chunk_n")).cast("timestamp"))
        .groupBy("doc_id")
        .agg(max("page").as("total_pages"), count(lit(1)).as("chunk_count"),
             min("extracted_at").as("first_extracted"),
             max("extracted_at").as("last_extracted"))
        .orderBy("doc_id")
    }),

    // === SQL-oracled operator queries (DuckDB twins below) ===
    "q_doc_catalog" -> ((s, dir) =>
      t(s, dir, "documents").groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
             max("n_chars").as("max_chars"),
             min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
        .orderBy("source")),
    "q_reading_order" -> ((s, dir) => {
      // Q2 reading-order semantics (y desc, x asc) on a derived bbox table
      val w = Window.partitionBy("l_orderkey")
        .orderBy(col("l_extendedprice").desc, col("l_partkey").asc,
                 col("l_linenumber").asc)
      t(s, dir, "lineitem")
        .withColumn("reading_pos", row_number().over(w))
        .select(col("l_orderkey"), col("l_linenumber"), col("reading_pos"))
        .orderBy("l_orderkey", "reading_pos")
    }),
    "q_chunk_ids" -> ((s, dir) => {
      // P10/P11 chunk-id synthesis: row_number + concat (setup.sql:238-239)
      val w = Window.partitionBy("l_orderkey")
        .orderBy(col("l_linenumber").asc)
      t(s, dir, "lineitem")
        .withColumn("n", row_number().over(w))
        .select(concat(col("l_orderkey"), lit("_p"), col("l_linenumber"),
                       lit("_c"), col("n")).as("chunk_id"),
                col("l_orderkey"), col("n"))
        .orderBy("l_orderkey", "n")
    }),
    "q_position_cells" -> ((s, dir) => {
      // P16/P17 9-cell position over derived bboxes; p_size<=5 rows get
      // degenerate dims to exercise the 612x792 fallback
      val p = t(s, dir, "part")
      val x0 = (pmod(col("p_partkey"), lit(90)) * 6.0).cast("double")
      val y0 = (pmod(col("p_partkey"), lit(77)) * 10.0).cast("double")
      val x1 = x0 + 40.0; val y1 = y0 + 12.0
      val w = when(col("p_size") <= 5, 0.0).otherwise(612.0)
      val h = when(col("p_size") <= 5, -1.0).otherwise(792.0)
      p.select(col("p_partkey"),
          Position.positionDescription(x0, y0, x1, y1, w, h).as("pos_desc"),
          round(Position.relX(x0, x1, w) * 100, 1).as("rel_x"),
          round(Position.relY(y0, y1, h) * 100, 1).as("rel_y"))
        .orderBy("p_partkey")
    }),
    "q_anti_join" -> ((s, dir) => {
      // P3 incremental anti-join (setup.sql:222): new docs = all docs
      // minus the already-processed set (here: doc_id % 3 == 0)
      val d = t(s, dir, "documents")
      val processed = d.where(pmod(col("doc_id"), lit(3)) === 0)
        .select("doc_id")
      d.join(processed, Seq("doc_id"), "left_anti")
        .select("doc_id", "source").orderBy("doc_id")
    }),
    "q_distinct" -> ((s, dir) =>
      t(s, dir, "documents").select("lang").distinct().orderBy("lang")),
    "q_topk" -> ((s, dir) =>
      // Q5 top-k + Q6 equality filter pushdown
      t(s, dir, "documents").where(col("lang") === "en")
        .select("doc_id", "n_chars")
        .orderBy(col("n_chars").desc, col("doc_id").asc).limit(20)),
    "q_doc_stats" -> ((s, dir) =>
      // Q3 per-doc summary stats
      t(s, dir, "documents").where(col("source") === "src1")
        .agg(count(lit(1)).as("n"), max("n_chars").as("max_chars"),
             min("doc_id").as("first_doc"))),
    "q_preview" -> ((s, dir) =>
      // Q7 result shaping / truncation
      t(s, dir, "documents")
        .select(col("doc_id"), TextOps.preview(col("text"), 50).as("preview"))
        .orderBy("doc_id").limit(100)),
    "q_exact_dedup" -> ((s, dir) =>
      Dedup.exactDedupKeepers(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("digest")),
    "q_token_stats" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
          TextOps.tokenCount(col("text")).cast("long").as("n_tokens"),
          length(col("text")).cast("long").as("n_chars_actual"),
          round(TextOps.meanTokenLen(col("text")), 4).as("mean_tok_len"))
        .orderBy("doc_id")),
    "q_split_assign" -> ((s, dir) =>
      // deterministic train/val/test split: pure function of the id —
      // identical under any partitioning/executor count/re-run
      graft.ops.CorpusPipeline.assignSplit(
          t(s, dir, "documents").select("doc_id"), "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = 7L)
        .orderBy("doc_id")),
    "q_bpe_tokens" -> ((s, dir) =>
      // LLM-token budget estimate: GPT-2-style pre-tokenizer counts (the
      // RE2-safe pattern runs verbatim in the DuckDB twin)
      t(s, dir, "documents").select(col("doc_id"),
          TextOps.bpeTokenCount(col("text")).cast("long").as("n_bpe"))
        .orderBy("doc_id")),
    "q_quality" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
          TextOps.stopwordHits(col("text")).as("stop_hits"),
          TextOps.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id")),
    "q_normalize" -> ((s, dir) =>
      // cleaning pass 0: control-char strip + whitespace collapse, and
      // the dedup-canonical text (lower, punctuation runs → space) —
      // map-side codegen'd regexps, exact RE2 twins in DuckDB
      t(s, dir, "documents").select(col("doc_id"),
          TextOps.normalizeWs(col("text")).as("text_norm"),
          TextOps.canonicalText(col("text")).as("text_canon"))
        .orderBy("doc_id")),
    "q_url_domains" -> ((s, dir) => {
      // web-provenance stage (C4 blocklist / CCNet per-domain stats):
      // extract URLs, tally per domain, drop blocklisted domains. The
      // corpus has no URLs, so the query injects them deterministically
      // from doc fields — the DuckDB twin builds the identical text.
      val d = t(s, dir, "documents")
      val text2 = concat(col("text"),
        lit(" See http://"), col("source"), lit(".example.com/page/"),
        pmod(col("doc_id"), lit(7)),
        lit(" and https://www."), col("lang"), lit("-news.org/a?id="),
        col("doc_id"),
        when(pmod(col("doc_id"), lit(3)) === 0,
          lit(" plus http://tracker.example.net/x")).otherwise(lit("")))
      d.select(col("doc_id"), explode(TextOps.extractUrls(text2)).as("url"))
        .select(col("doc_id"), TextOps.urlDomain(col("url")).as("domain"))
        .where(!col("domain").isin("tracker.example.net"))
        .groupBy("domain")
        .agg(count(lit(1)).as("n_urls"),
          countDistinct("doc_id").as("n_docs"))
        .orderBy("domain")
    }),
    "q_url_canonical" -> ((s, dir) => {
      // provenance canonical-key dedup (C4/CCNet): the same page
      // crawled with different fragments / tracking params / casing /
      // default ports collapses to ONE canonical URL before
      // per-domain caps or url-seen checks. The corpus has no URLs,
      // so two messy variants are injected deterministically per doc;
      // the expected table applies the independent char-walk twin
      // (PlainOracles.canonicalUrlPlain) to the SAME strings and
      // aggregates in plain Scala. Map-side canonicalization — only
      // canonical keys reach the exchange.
      val d = t(s, dir, "documents")
      val u1 = concat(lit("HTTP://WWW."), col("source"),
        lit(".Example.COM:80/Article/"), pmod(col("doc_id"), lit(5)),
        lit("/?utm_source=feed&utm_medium=rss&id="),
        pmod(col("doc_id"), lit(11)), lit("&ref=home#frag"),
        pmod(col("doc_id"), lit(3)))
      val u2 = concat(lit("https://"), col("lang"),
        lit("-cdn.example.org:443/a/"), pmod(col("doc_id"), lit(7)),
        when(pmod(col("doc_id"), lit(2)) === 0, lit("?gclid=abc123"))
          .otherwise(lit("?id=9&fbclid=zz&")))
      d.select(col("doc_id"), explode(array(u1, u2)).as("url"))
        .select(col("doc_id"),
          graft.ops.TextOps.canonicalUrl(col("url")).as("canonical_url"))
        .groupBy("canonical_url")
        .agg(count(lit(1)).as("n_urls"),
          countDistinct("doc_id").as("n_docs"))
        .orderBy("canonical_url")
    }),
    "q_lm_score" -> ((s, dir) => {
      // CCNet-style LM quality gate: Stupid-Backoff bigram model
      // trained on the doc_id<200 sample (two distributed aggregates,
      // bounded driver model), mean log10 prob per doc via the native
      // expression. Oracle: fully independent plain trainer + scorer.
      val d = t(s, dir, "documents").select("doc_id", "text")
      val lm = TextOps.trainNgramLm(d.where(col("doc_id") < 200), "text",
        maxVocab = 5000, maxBigrams = 20000)
      d.select(col("doc_id"),
          round(graft.functions.Natives.ngramLmScore(col("text"), lm), 6)
            .as("lm_score"))
        .where(col("lm_score").isNotNull) // token-less docs unscoreable
        .orderBy("doc_id")
    }),
    "q_sentences" -> ((s, dir) => {
      // sentence segmentation: one codegen'd regexp_extract_all + a
      // posexplode — sent_id numbers the raw match (1-based) so the
      // blank-drop filter can't shift ids between engine and twin
      val d = t(s, dir, "documents")
      d.select(col("doc_id"),
          posexplode(TextOps.sentences(col("text")))
            .as(Seq("p", "sentence0")))
        .select(col("doc_id"), (col("p") + 1).cast("long").as("sent_id"),
          trim(col("sentence0")).as("sentence"))
        .where(col("sentence") =!= "")
        .withColumn("n_words",
          size(split(col("sentence"), " ")).cast("long"))
        .orderBy("doc_id", "sent_id")
    }),
    "q_sentence_dedup" -> ((s, dir) => {
      // cross-document sentence dedup: a boilerplate sentence is
      // prepended to EVERY doc (composed deterministically so the SQL
      // twin sees the identical corpus, the q_dehyphenate pattern) —
      // only the globally-first occurrence survives; the ranking
      // exchange carries (id, sent_id, hash), never text
      val d = t(s, dir, "documents")
        .select(col("doc_id"),
          concat(lit("Shared boilerplate intro. "),
            substring(col("text"), 1, 80)).as("text"))
      Dedup.sentenceDedup(d, "doc_id", "text")
        .select(col("id").as("doc_id"), col("clean_text"), col("n_cut"))
        .orderBy("doc_id")
    }),
    "q_dehyphenate" -> ((s, dir) => {
      // hyphenation repair: a hyphen + line break whose continuation
      // starts lowercase is a typesetting wrap artifact — merged; the
      // upper/digit continuations keep hyphen + break. The wrapped text
      // is composed deterministically from doc fields so the RE2 twin
      // sees the identical corpus (same pattern as q_url_domains).
      val d = t(s, dir, "documents")
      val wrapped = concat(substring(col("text"), 1, 40),
        lit("exam-\nple tail-\nWord digit-\n9 dash-stay end"))
      d.select(col("doc_id"), TextOps.dehyphenate(wrapped).as("dehyph"))
        .orderBy("doc_id")
    }),
    "q_lm_buckets" -> ((s, dir) => {
      // CCNet-style perplexity bucketing: head/middle/tail by the
      // SAMPLE's exact score terciles — thresholds come from the same
      // bounded doc_id<200 sample the LM trains on (driver work stays
      // fixed at corpus scale; the bucketing itself is one codegen'd
      // projection against two broadcast constants). Oracle: fully
      // independent plain trainer + scorer + identical tercile rule.
      val d = t(s, dir, "documents").select("doc_id", "text")
      val sample = d.where(col("doc_id") < 200)
      val lm = TextOps.trainNgramLm(sample, "text",
        maxVocab = 5000, maxBigrams = 20000)
      def sc = round(graft.functions.Natives.ngramLmScore(col("text"), lm), 6)
      val ss = sample.select(sc.as("s")).where(col("s").isNotNull)
        .collect().map(_.getDouble(0)).sorted
      val (t1, t2) = (ss(ss.length / 3), ss(2 * ss.length / 3))
      d.select(col("doc_id"), sc.as("lm_score"))
        .where(col("lm_score").isNotNull)
        .withColumn("bucket",
          when(col("lm_score") >= t2, "head")
            .when(col("lm_score") >= t1, "middle").otherwise("tail"))
        .orderBy("doc_id")
    }),
    "q_bpe_tokens2" -> ((s, dir) => {
      // REAL token budgets: byte-level BPE trained on the doc_id<200
      // sample (bounded driver merge loop, distributed word counting),
      // applied corpus-wide as a native expression; n_pretokens is the
      // regex estimator riding along as its own floor check. Oracle: a
      // fully independent plain-twin trainer + tokenizer.
      val d = t(s, dir, "documents").select("doc_id", "text")
      val merges = TextOps.trainBpe(d.where(col("doc_id") < 200), "text",
        numMerges = 200, maxWords = 2000)
      val toks = graft.functions.Natives.bpeTokenize(col("text"),
        new graft.functions.BpeTokenize.Model(merges))
      d.select(col("doc_id"),
          size(toks).as("n_bpe_tokens"),
          concat_ws("\u0001", slice(toks, 1, 8)).as("head_tokens"),
          TextOps.bpeTokenCount(col("text")).as("n_pretokens"))
        .orderBy("doc_id")
    }),
    "q_rep_ratio" -> ((s, dir) => {
      // Gopher-style repetition signals: distinct-word and duplicate-
      // 2-gram fractions are codegen'd map-side columns (no shuffle);
      // the top-word mass goes explode → two-level aggregate, so the
      // (doc_id, word) combine happens map-side before the one shuffle
      // — the shape that survives a 100x corpus. Twin: the independent
      // PlainOracles.repSignalsPlain expected table.
      val d = t(s, dir, "documents")
      val tw = d.select(col("doc_id"),
          explode(split(col("text"), " ")).as("w"))
        .groupBy("doc_id", "w").count()
        .groupBy("doc_id")
        .agg(round(max("count").cast("double") / sum("count"), 4)
          .as("top_word_frac"))
      d.select(col("doc_id"),
          TextOps.distinctWordFrac(col("text")).as("distinct_word_frac"),
          TextOps.dup2gramFrac(col("text")).as("dup_2gram_frac"))
        .join(tw, "doc_id")
        .select("doc_id", "distinct_word_frac", "top_word_frac",
                "dup_2gram_frac")
        .orderBy("doc_id")
    }),
    "q_sample_stratified" -> ((s, dir) =>
      // per-source corpus re-weighting (C4-style source mix): src0
      // kept whole, src1 halved, src2 dropped, the rest at 25% — a
      // deterministic hash draw per id, zero shuffle
      graft.ops.CorpusPipeline.sampleStratified(
          t(s, dir, "documents").select("doc_id", "source"),
          "doc_id", "source",
          Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.0),
          defaultFraction = 0.25, salt = 11L)
        .orderBy("doc_id")),
    "q_page_furniture" -> ((s, dir) => {
      // repeated header/footer detection across pages: deterministic
      // multi-page docs (known furniture + a sub-threshold watermark)
      // run through the REAL extractor, then the page-association
      // aggregate. Oracle = FurnitureGen's generator ground truth.
      import s.implicits._
      // persist: detect() reads the chunk set three times (pages-per-doc
      // agg, recurrence agg, text join-back) — without it the extraction
      // of the 20 fixture docs re-ran per reference (r06; in production
      // the input is the already-materialized chunks table)
      val rows = s.createDataset(
          (0 until 20).map(graft.gen.FurnitureGen.doc))
        .flatMap(d => Extractor.extractRows(d)).toDF()
        .where(col("chunk_id").isNotNull)
        .persist()
      graft.ops.PageFurniture.detect(rows, minPages = 3, minFrac = 0.8)
        .orderBy(col("doc_id"), col("y0").desc)
    }),
    "q_table_cells" -> ((s, dir) => {
      // grid-table reconstruction from positioned runs: deterministic
      // docs with known tables (split fragments, sparse holes,
      // multi-table multi-page docs, table-free docs) run through the
      // REAL tokenizer, then the per-page row/column clustering.
      // Oracle = TableGen's generator ground truth.
      import s.implicits._
      val runs = s.createDataset((0 until 24).map(graft.gen.TableGen.doc))
        .flatMap { d =>
          d.spans.iterator
            .flatMap(sp => graft.extract.PdfTokenizer.tokenize(sp.text, 1))
            .flatMap(pg => pg.runs.iterator.map(r =>
              (d.doc_id, pg.page, r.x0, r.y0, r.x1, r.y1, r.text)))
        }.toDF("doc_id", "page", "x0", "y0", "x1", "y1", "text")
      graft.ops.TableExtract.cells(runs)
        .orderBy("doc_id", "page", "table_id", "row", "col")
    }),
    "q_table_cells_pdf" -> ((s, dir) => {
      // table recovery from GENUINE PDF bytes: per-doc real PDFs built
      // distributed, parsed by the real parser (RealPdf), then the same
      // per-page clustering. Oracle = TableGen's estimate-path-exact
      // generator ground truth (glyph = 0.5 em × 11 pt).
      import s.implicits._
      val runs = s.createDataset(0 until 18)
        .flatMap { i =>
          val doc = f"rtdoc_$i%03d"
          graft.extract.RealPdf.parse(graft.gen.TableGen.pdfBytes(i))
            .iterator.flatMap(pg => pg.runs.iterator.map(r =>
              (doc, pg.page, r.x0, r.y0, r.x1, r.y1, r.text)))
        }.toDF("doc_id", "page", "x0", "y0", "x1", "y1", "text")
      graft.ops.TableExtract.cells(runs)
        .orderBy("doc_id", "page", "table_id", "row", "col")
    }),
    "q_table_tsv" -> ((s, dir) => {
      // table → TSV serialization (the LLM-corpus form): same TableGen
      // corpus, cells aggregated to one blob per table with two
      // codegen'd sort_array/array_join aggregations — no UDF.
      // Oracle = TableGen's generator-computed TSV.
      import s.implicits._
      val runs = s.createDataset((0 until 24).map(graft.gen.TableGen.doc))
        .flatMap { d =>
          d.spans.iterator
            .flatMap(sp => graft.extract.PdfTokenizer.tokenize(sp.text, 1))
            .flatMap(pg => pg.runs.iterator.map(r =>
              (d.doc_id, pg.page, r.x0, r.y0, r.x1, r.y1, r.text)))
        }.toDF("doc_id", "page", "x0", "y0", "x1", "y1", "text")
      graft.ops.TableExtract.toTsv(graft.ops.TableExtract.cells(runs))
        .orderBy("doc_id", "page", "table_id")
    }),
    "q_chunk_text" -> ((s, dir) => {
      // RAG chunking: 32-token windows, stride 24 (8-token overlap) —
      // one codegen'd pass + posexplode, no shuffle before the sort
      val d = t(s, dir, "documents")
      d.select(col("doc_id"), posexplode(
          TextOps.tokenWindowChunks(col("text"), size = 32, stride = 24)))
        .select(col("doc_id"), col("pos").as("chunk_idx"),
          col("col").as("chunk_text"),
          size(split(col("col"), " ")).as("n_tokens"))
        .orderBy("doc_id", "chunk_idx")
    }),
    "q_source_caps" -> ((s, dir) =>
      // C4/RefinedWeb-style per-source quota: keep ≤15 docs per source
      // so no single site dominates the corpus; deterministic doc_id
      // ranking for the pure-SQL twin (production would rank by hash)
      graft.ops.CorpusPipeline.capPerSource(
          t(s, dir, "documents").select("doc_id", "source"),
          "source", "doc_id", 15)
        .orderBy("doc_id")),
    "q_langid" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
          TextOps.langIdGuess(col("text")).as("lang_guess"))
        .orderBy("doc_id")),
    "q_langid2" -> ((s, dir) => {
      // 25-language Cavnar-Trenkle trigram classifier (native
      // TrigramLangId expression) over the corpus (all-English) plus
      // deterministic seed sentences for EVERY supported language —
      // the known-language accuracy surface the 6-language heuristic
      // (q_langid) could not provide. Checked against the independent
      // plain twin (PlainOracles.langIdTrigramPlain) expected table.
      import s.implicits._
      val base = t(s, dir, "documents").where(col("doc_id") < 300)
        .select(col("doc_id"), col("text"))
      val nLangs = graft.functions.TrigramLangId.Seeds.all.size
      val synth = s.range(nLangs * 20L).map { i =>
        (2000000L + i, graft.functions.TrigramLangId.seedSentence(
          (i / 20).toInt, (i % 20).toInt))
      }.toDF("doc_id", "text")
      base.union(synth)
        .select(col("doc_id"),
          graft.functions.Natives.langId(col("text")).as("lang"))
        .orderBy("doc_id")
    }),
    "q_context_assembly" -> ((s, dir) => {
      // Q8 RAG context assembly (streamlit_app.py:724-760)
      val d = t(s, dir, "documents").select(col("source"), col("doc_id"),
        (pmod(col("doc_id"), lit(10)) + 1).as("pg"),
        substring(col("text"), 1, 40).as("txt"),
        lit("middle-center").as("pos"))
      graft.ops.Serving.assembleContext(d, "source", "doc_id", "doc_id",
        "pg", "pos", "txt", topK = 3).orderBy("source")
    }),
    "q_validation" -> ((s, dir) => {
      // Q11 input validation (streamlit_app.py:655-678)
      val d = t(s, dir, "documents")
        .withColumn("name", concat(lit("doc_"), col("doc_id"),
          when(pmod(col("doc_id"), lit(7)) === 0, ".exe").otherwise(".pdf")))
        .withColumn("size_bytes",
          when(pmod(col("doc_id"), lit(11)) === 0, 0L)
            .otherwise(col("n_chars").cast("long")))
      d.select(col("doc_id"), col("name"),
          graft.ops.Serving.validationVerdict(col("size_bytes"), col("name"),
            Seq(".pdf", ".html", ".txt")).as("verdict"))
        .orderBy("doc_id")
    }),
    "q_csv_roundtrip" -> ((s, dir) => {
      // Q9 CSV export, driver-visible: export a typed projection through
      // Serving.exportCsv and read it back with an explicit schema — the
      // oracle compares against the source rows, so the roundtrip must be
      // LOSSLESS (quoting, header, long/double/string formatting).
      val src = t(s, dir, "orders").where(col("o_orderkey") < 2000)
        .select("o_orderkey", "o_orderstatus", "o_totalprice",
                "o_orderpriority")
      val tmp = scratchDir("graft-csv-roundtrip")
      graft.ops.Serving.exportCsv(src, tmp)
      s.read.option("header", "true")
        .schema("o_orderkey BIGINT, o_orderstatus STRING, " +
                "o_totalprice DOUBLE, o_orderpriority STRING")
        .csv(tmp)
    }),
    "q_upload" -> ((s, dir) => {
      // Q10 upload put, driver-visible: two group puts + an idempotent
      // re-put of the second group through the TableIO seam; the read
      // back must equal the source exactly (replace, not duplicate —
      // the P12/Q10 append-sink contract).
      val src = t(s, dir, "region")
      val tmp = scratchDir("graft-upload")
      val io = graft.sources.HadoopTableIO(tmp)
      io.overwriteGroup(src.where(col("r_regionkey") < 3), 0)
      io.overwriteGroup(src.where(col("r_regionkey") >= 3), 1)
      io.overwriteGroup(src.where(col("r_regionkey") >= 3), 1) // re-put
      io.read(s).drop("group")
    }),
    "q_cosine_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = broadcast(e.where(col("vec_id") === 0)
        .select(col("embedding").as("qv")))
      e.crossJoin(q)
        .select(col("vec_id"),
          round(Dedup.cosine(col("embedding").cast("array<double>"),
                             col("qv").cast("array<double>")), 6).as("score"))
        .orderBy(col("score").desc, col("vec_id").asc).limit(20)
    }),

    "sim_sq8_topk" -> ((s, dir) => {
      // int8 scalar quantization (SQ8) + brute-force cosine: embeddings
      // store 4x smaller and scoring runs on the integer codes alone
      // (per-vector scales cancel in the cosine ratio) — the memory-
      // bound path of 100 TB ANN. Twin: independent PlainOracles SQ8.
      // scale in its own projection so the max-abs reduction runs once
      // per row, not once per element (see int8Scale scaladoc)
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"),
          graft.ops.Similarity.int8Scale(col("embedding")).as("scale"))
        .select(col("vec_id"),
          graft.ops.Similarity.int8Codes(col("embedding"), col("scale"))
            .as("codes"))
      val q = broadcast(e.where(col("vec_id") === 0)
        .select(col("codes").as("qc")))
      e.crossJoin(q)
        .select(col("vec_id"),
          round(graft.ops.Similarity.codeCosine(col("codes"), col("qc")),
            6).as("score"))
        .orderBy(col("score").desc, col("vec_id").asc).limit(20)
    }),
    "sim_pq_topk" -> ((s, dir) => {
      // product quantization (Jégou et al. 2011): embeddings store as
      // m=8 code BYTES instead of 256 float bytes (32×), and the query
      // scan is m table lookups per row against a driver-computed ADC
      // LUT — the original vectors never load. Codebooks train on a
      // bounded sample (O(sample) driver work, like sim_ivf_trained);
      // encode is a zero-shuffle codegen'd argmin scan. Twin: fully
      // independent PlainOracles PQ (own normalize/k-means/encode/ADC).
      val e = t(s, dir, "embeddings")
      // codebook training and the query-vector fetch are independent
      // bounded jobs — overlap them (graft.ops.Par), results unchanged
      val (books, q) = graft.ops.Par.overlap(
        graft.ops.Similarity.trainPqCodebooks(
          e, "vec_id", "embedding", m = 8, ksub = 16,
          sampleN = 200, iters = 3),
        e.where(col("vec_id") === 0).select("embedding")
          .collect()(0).getSeq[Float](0).toArray)
      val lut = graft.ops.Similarity.pqQueryLut(q, books)
      graft.ops.Similarity.pqEncode(e, "vec_id", "embedding", books)
        .select(col("vec_id"),
          round(graft.ops.Similarity.pqAdcScore(col("codes"), lut), 6)
            .as("score"))
        .orderBy(col("score").desc, col("vec_id").asc).limit(20)
    }),
    "q_bm25_topk" -> ((s, dir) =>
      // lexical half of the reference's hybrid search (setup.sql:182-201)
      graft.ops.Search.bm25TopK(t(s, dir, "documents"), "doc_id", "text",
        Seq("hash", "join", "vector"), k = 20)),
    "q_hybrid_topk" -> ((s, dir) => {
      // hybrid = RRF fusion of BM25 and cosine candidate heads
      // (streamlit_app.py:284-298's managed hybrid service, public analog)
      val lex = graft.ops.Search.bm25Scores(t(s, dir, "documents"),
        "doc_id", "text", Seq("hash", "join", "vector"))
      val e = t(s, dir, "embeddings")
      val q = broadcast(e.where(col("vec_id") === 0)
        .select(col("embedding").as("qv")))
      val vec = e.crossJoin(q).select(col("vec_id"),
        Dedup.cosine(col("embedding").cast("array<double>"),
                     col("qv").cast("array<double>")).as("score"))
      graft.ops.Search.hybridTopK(lex, "doc_id", "score",
        vec, "vec_id", "score", k = 20)
    }),
    "q_hybrid_from_text" -> ((s, dir) => {
      // the FULL serving path from raw text alone: BM25 lexical head +
      // hash-projection-embedding cosine head, RRF-fused — no
      // precomputed vectors table anywhere (the reference's managed
      // hybrid service end to end, built from this engine's own parts)
      val docs = t(s, dir, "documents").where(col("doc_id") < 500)
      val queryText = "hash join vector"
      val terms = queryText.split(" ").toSeq
      val lex = graft.ops.Search.bm25Scores(docs, "doc_id", "text", terms)
      val emb = docs.select(col("doc_id"),
          Similarity.embedText(col("text"), 64).as("e"))
        .where(col("e").isNotNull)
      val qv = array(graft.functions.TextEmbed.compute(
        org.apache.spark.unsafe.types.UTF8String.fromString(queryText), 64)
        .toFloatArray().map(v => lit(v.toDouble)): _*)
      val vec = emb.select(col("doc_id"),
        Dedup.cosine(col("e").cast("array<double>"), qv).as("score"))
      graft.ops.Search.hybridTopK(lex, "doc_id", "score",
        vec, "doc_id", "score", k = 20)
    }),
    "q_redact_pii" -> ((s, dir) => {
      // PII scrubbing: deterministic injected email/phone/IP per doc must
      // come out as typed placeholders, with the audit hit count
      val d = t(s, dir, "documents").withColumn("dirty",
        concat(col("text"), lit(" contact user"), col("doc_id"),
          lit("@example.com or 555-123-4567 at 10.0.0."),
          pmod(col("doc_id"), lit(256))))
      d.select(col("doc_id"),
          TextOps.redactPii(col("dirty")).as("clean"),
          TextOps.piiHits(col("dirty")).cast("long").as("pii_hits"))
        .orderBy("doc_id")
    }),
    "q_corpus_report" -> ((s, dir) =>
      graft.ops.CorpusReport.summarize(t(s, dir, "documents"),
        "doc_id", "text")),
    "q_corpus_by_lang" -> ((s, dir) =>
      graft.ops.CorpusReport.byLanguage(t(s, dir, "documents"), "text")),
    "q_corpus_by_lang2" -> ((s, dir) => {
      // per-language corpus report under the 25-language trigram
      // classifier, over the same mixed corpus as q_langid2 (English
      // documents + seed sentences of every language) so the report
      // actually has 25+ rows to roll up
      import s.implicits._
      val base = t(s, dir, "documents").where(col("doc_id") < 300)
        .select(col("doc_id"), col("text"))
      val nLangs = graft.functions.TrigramLangId.Seeds.all.size
      val synth = s.range(nLangs * 20L).map { i =>
        (2000000L + i, graft.functions.TrigramLangId.seedSentence(
          (i / 20).toInt, (i % 20).toInt))
      }.toDF("doc_id", "text")
      graft.ops.CorpusReport.byLanguageTrigram(base.union(synth), "text")
    }),
    "q_rollup" -> ((s, dir) =>
      // grouping-sets rollup (X3: absent in the reference; present here)
      t(s, dir, "documents")
        .rollup("lang", "source")
        .agg(count(lit(1)).as("n"), max("n_chars").as("max_chars"))
        .orderBy(col("lang").asc_nulls_first, col("source").asc_nulls_first)),
    "q_cube" -> ((s, dir) =>
      t(s, dir, "events")
        .cube(col("event_type"),
          date_trunc("day", col("ts").cast("timestamp")).cast("date")
            .as("day"))
        .agg(count(lit(1)).as("n"))
        .where(col("day").isNull || col("day") <= lit("2024-01-03"))
        .orderBy(col("event_type").asc_nulls_first,
                 col("day").asc_nulls_first)),
    "q_intersect" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.where(col("lang") === "en").select("source")
        .intersect(d.where(col("n_chars") > 300).select("source"))
        .orderBy("source")
    }),
    "q_except" -> ((s, dir) => {
      // set operation (X2): non-English doc ids minus src1's doc ids
      val d = t(s, dir, "documents")
      d.where(col("lang") =!= "en").select("doc_id")
        .except(d.where(col("source") === "src1").select("doc_id"))
        .orderBy("doc_id")
    }),
    "q_percentiles" -> ((s, dir) =>
      // exact interpolated percentiles per event type
      t(s, dir, "events").groupBy("event_type")
        .agg(round(expr("percentile(value, 0.5)"), 4).as("p50"),
             round(expr("percentile(value, 0.9)"), 4).as("p90"),
             count(lit(1)).as("n"))
        .orderBy("event_type")),
    "q_pivot" -> ((s, dir) =>
      // manual pivot: per user, one column per event type (conditional agg)
      t(s, dir, "events").groupBy("user_id")
        .agg(
          count(when(col("event_type") === "purchase", 1)).as("n_purchase"),
          count(when(col("event_type") === "error", 1)).as("n_error"),
          round(sum(when(col("event_type") === "purchase", col("value"))
            .otherwise(0.0)), 4).as("purchase_value"))
        .orderBy("user_id")),
    "q_event_windows" -> ((s, dir) =>
      // tumbling event-time windows (the batch shape of the streaming
      // windowed agg in graft.streaming; window() == date_trunc for 1h)
      t(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour").getField("start").as("h"),
                 col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("total"))
        .orderBy("h", "event_type")),
    "q_sessionize" -> ((s, dir) => {
      // per-user ordered event sequences with lag-based session breaks
      // (30-min gap) — window functions beyond row_number
      val w = Window.partitionBy("user_id").orderBy("ts")
      t(s, dir, "events")
        .withColumn("prev_ts", lag("ts", 1).over(w))
        .withColumn("new_session",
          when(col("prev_ts").isNull ||
            col("ts").cast("timestamp").cast("long") -
              col("prev_ts").cast("timestamp").cast("long") > 1800, 1L)
            .otherwise(0L))
        .withColumn("session_n", sum("new_session").over(
          w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("user_id", "session_n")
        .agg(count(lit(1)).as("events_in_session"),
             round(sum("value"), 4).as("session_value"))
        .orderBy("user_id", "session_n")
    }),
    "q_join_revenue" -> ((s, dir) => {
      // 3-way join with broadcast dims: revenue per nation
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
               .as("revenue"),
             count(lit(1)).as("n_items"))
        .orderBy("n_name")
    }),
    "q_semi_join" -> ((s, dir) => {
      // EXISTS: customers with at least one urgent order
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
        .where(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey").as("c_custkey"))
      c.join(o, Seq("c_custkey"), "left_semi")
        .select("c_custkey", "c_name").orderBy("c_custkey")
    }),

    // === dedup / similarity / multimodal ===
    // inputs are deterministic doc_id/vec_id range filters (NOT limit():
    // partition-order-dependent) so the expected-table oracles reproduce
    // the exact input sets at any sf tier
    "dd_minhash_lsh" -> ((s, dir) => {
      // near-dup discovery: corpus + injected exact dups (id+1000000)
      // must surface the injected pairs with est_jaccard 1.0
      val d = t(s, dir, "documents").where(col("doc_id") < 300)
        .select("doc_id", "text")
      val dups = d.where(col("doc_id") < 20)
        .withColumn("doc_id", col("doc_id") + 1000000L)
      Dedup.minhashLshPairs(d.union(dups), "doc_id", "text",
        w = 3, k = 64, bands = 16).orderBy("id_a", "id_b")
    }),
    "dd_simhash" -> ((s, dir) =>
      Dedup.simhashPairs(
        t(s, dir, "documents").where(col("doc_id") < 500), "doc_id", "text",
        maxHamming = 12)
        .orderBy("id_a", "id_b")),
    "dd_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(
        t(s, dir, "documents").where(col("doc_id") < 300), "doc_id", "text",
        w = 2, minSim = 0.2)
        .orderBy("id_a", "id_b")),
    "dd_dup_windows" -> ((s, dir) => {
      // substring-level exact dedup (Lee et al. 2022): injected full-doc
      // copies make every window of those docs cross-doc-duplicated
      val base = t(s, dir, "documents").where(col("doc_id") < 150)
        .select("doc_id", "text")
      val dups = base.where(col("doc_id") < 10)
        .withColumn("doc_id", col("doc_id") + 1000000L)
      Dedup.duplicatedWindows(base.union(dups), "doc_id", "text", w = 8)
        .select(col("id").as("doc_id"), col("pos"), col("n_docs"))
        .orderBy("doc_id", "pos")
    }),
    "dd_dup_cut" -> ((s, dir) => {
      // the removal half of substring dedup: duplicated-window tokens cut
      // from the text (fully-copied docs collapse to empty strings)
      val base = t(s, dir, "documents").where(col("doc_id") < 150)
        .select("doc_id", "text")
      val dups = base.where(col("doc_id") < 10)
        .withColumn("doc_id", col("doc_id") + 1000000L)
      Dedup.cutDuplicatedWindows(base.union(dups), "doc_id", "text", w = 8)
        .select(col("id").as("doc_id"), col("text_clean"),
                col("n_tokens_removed"))
        .orderBy("doc_id")
    }),
    "dd_contamination" -> ((s, dir) => {
      // benchmark decontamination: docs < 20 play the eval set; 5 of them
      // leak into the corpus (id+1000000) and must report rate 1.0
      val d = t(s, dir, "documents")
      val bench = d.where(col("doc_id") < 20).select("text")
      val clean = d.where(col("doc_id") >= 20 && col("doc_id") < 200)
        .select("doc_id", "text")
      val leaked = d.where(col("doc_id") < 5)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      Dedup.contaminationReport(clean.union(leaked), "doc_id", "text",
          bench, "text", w = 5)
        .select(col("id").as("doc_id"), col("n_windows"),
          col("n_contaminated"), round(col("rate"), 6).as("rate"))
        .orderBy("doc_id")
    }),
    "dd_dedup_removal" -> ((s, dir) => {
      // end-to-end near-dup removal: corpus + injected dups → cleaned
      val d = t(s, dir, "documents").where(col("doc_id") < 200)
        .select("doc_id", "text")
      val dups = d.where(col("doc_id") < 15)
        .withColumn("doc_id", col("doc_id") + 1000000L)
      val corpus = d.union(dups)
      val pairs = Dedup.minhashLshPairs(corpus, "doc_id", "text",
        w = 3, k = 64, bands = 16).where(col("est_jaccard") >= 0.9)
      Dedup.removeNearDups(corpus, "doc_id", pairs, maxIters = 2)
        .orderBy("doc_id")
    }),
    "dd_embedding_neardup" -> ((s, dir) => {
      // random embeddings have no natural near-dups (max cos ~0.45) —
      // inject 20 jittered copies (id+1000000) the op must recover
      val e = t(s, dir, "embeddings").where(col("vec_id") < 500)
        .select("vec_id", "embedding")
      val dups = e.where(col("vec_id") < 20)
        .withColumn("vec_id", col("vec_id") + 1000000L)
        .withColumn("embedding",
          transform(col("embedding"), x => x * lit(1.001f)))
      Dedup.embeddingNearDupPairs(e.union(dups), "vec_id", "embedding",
        minSim = 0.99, nPlanes = 6)
        .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
        .orderBy("id_a", "id_b")
    }),
    "dd_media_neardup" -> ((s, dir) => {
      // perceptual (aHash/dHash) media near-dup: 150 smooth RawGray
      // images + 25 pixel-perturbed copies — near-dups byte hashes can't
      // see; the banded dHash join must recover every injected pair
      // (oracle: brute-force plain twin over the same deterministic
      // corpus)
      import s.implicits._
      val media = s.createDataset(MediaDedup.nearDupMediaRows(150, 25, 42L))
        .toDF("media_ref", "kind", "content")
      MediaDedup.nearDupPairs(s, media, maxHamming = 8)
        .orderBy("ref_a", "ref_b")
    }),
    "sim_ivf_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val idx = Similarity.ivfIndex(e, "vec_id", "embedding", nCells = 16)
      val centroids = e.orderBy(col("vec_id").asc).limit(16)
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      val query = centroids.head._2
      Similarity.ivfTopK(idx, "vec_id", "embedding", centroids, query,
        k = 20, nProbe = 4)
        .select(col("vec_id"), round(col("score"), 6).as("score"))
    }),
    "sim_ivf_trained" -> ((s, dir) => {
      // full-corpus assignment against a sample-trained codebook — the
      // FAISS-style scale path; assignment is the zero-shuffle argmax scan
      val e = t(s, dir, "embeddings")
      val cents = Similarity.trainCentroids(e, "vec_id", "embedding",
        nCells = 8, sampleN = 200, iters = 3)
      Similarity.ivfAssign(e, "vec_id", "embedding", cents)
        .select("vec_id", "cell_id").orderBy("vec_id")
    }),
    "sim_text_embed" -> ((s, dir) => {
      // raw text → deterministic hash-projection embedding → cosine
      // top-k, end to end: the embedding-generation analog (VERDICT r02
      // missing #2). Query vector = doc 42's own embedding, so its top-1
      // must be itself at score 1.0 — a semantic sanity the oracle pins.
      val docs = t(s, dir, "documents").where(col("doc_id") < 500)
      val emb = docs.select(col("doc_id"),
          Similarity.embedText(col("text"), 64).as("embedding"))
        .where(col("embedding").isNotNull)
      val qText = docs.where(col("doc_id") === 42L)
        .select("text").head().getString(0)
      val q = graft.functions.TextEmbed.compute(
        org.apache.spark.unsafe.types.UTF8String.fromString(qText), 64)
        .toFloatArray()
      Similarity.bruteForceTopK(emb, "doc_id", "embedding", q, 20)
        .select(col("doc_id"), round(col("score"), 6).as("score"))
    }),
    "tx_fingerprints" -> ((s, dir) =>
      // rolling-hash + xxhash64 content fingerprints; oracle = the
      // expected table from the plain reference loop (PlainOracles)
      t(s, dir, "documents").select(col("doc_id"),
          TextOps.fingerprint(col("text")).as("xxh64"),
          TextOps.rollingFingerprint(col("text")).as("rolling64"))
        .orderBy("doc_id")),
    "mm_resize" -> ((s, dir) => {
      val n = math.min(t(s, dir, "documents").count(), 500L)
      Multimodal.resizePlan(
        Multimodal.decodeStage(s, Multimodal.fakeMediaTable(s, n, 42L)),
        maxDim = 256).orderBy("media_ref")
    }),
    "mm_decode" -> ((s, dir) => {
      val n = t(s, dir, "documents").count()
      Multimodal.decodeStage(s, Multimodal.fakeMediaTable(s, n, 42L))
        .toDF().drop("feature").orderBy("media_ref")
    }),
    "mm_frames" -> ((s, dir) => {
      val n = math.min(t(s, dir, "documents").count(), 500L)
      Multimodal.frameSamplePlan(
        Multimodal.decodeStage(s, Multimodal.fakeMediaTable(s, n, 42L)),
        stepMs = 5000L).orderBy("media_ref", "sample_ms")
    })
  ) ++ genRows.map(r => r.name -> ((s: SparkSession, _: String) => r.query(s)))

  // ---------- expected tables (independent-implementation oracles) ----------

  /** Expected results for the queries whose semantics DuckDB cannot
    * re-derive from the sf tables (xxhash64-based signatures, the
    * extraction engine, the byte-level media stub). Each is computed by an
    * INDEPENDENT implementation — [[graft.oracle.RefOracle]] for
    * extraction (naive fixpoint algorithms), [[graft.oracle.PlainOracles]]
    * for the dedup/similarity/fingerprint/media pipelines (brute-force
    * candidate generation instead of LSH banding) — and written to
    * parquet by [[graft.Verify]], where the [[ExpectedToken]] twins in
    * [[oracleSql]] read them. Driver-side work is bounded: the dd_* pair
    * pipelines take id-range-filtered inputs (constant at any sf tier);
    * tx_fingerprints / mm_* / sim_ivf_trained collect the full documents
    * or embeddings table, which are the SMALL dimension tables of the
    * testdata (500–5000 rows at the driver's tiers) — per-row work, not
    * pairwise. The ex_* expected extraction runs distributed (spark.range
    * + the single-threaded per-doc oracle), never on the driver.
    */
  def expected: Map[String, (SparkSession, String) => DataFrame] =
    Map[String, (SparkSession, String) => DataFrame](
    "ex_spans" -> ((s, dir) => {
      import s.implicits._
      val nDocs = t(s, dir, "documents").count() * 4
      s.range(nDocs)
        .flatMap(i => RefOracle.extract(CorpusGen.doc(42L, i)).outSpans)
        .toDF()
    }),
    "ex_chunks" -> ((s, dir) => {
      import s.implicits._
      val nDocs = t(s, dir, "documents").count() * 4
      s.range(nDocs).flatMap { i =>
        RefOracle.extract(CorpusGen.doc(42L, i)).chunks.zipWithIndex.map {
          case (c, k) =>
            ExpectedChunk(c.chunk_id, c.doc_id, c.page, c.text,
              c.bbox_x0, c.bbox_y0, c.bbox_x1, c.bbox_y1,
              c.page_width, c.page_height,
              PositionScala.describe(c.bbox_x0, c.bbox_y0, c.bbox_x1,
                c.bbox_y1, c.page_width, c.page_height),
              new java.sql.Timestamp(1000L * (ExtractedAtBase + k + 1)))
        }
      }.toDF()
    }),
    "dd_minhash_lsh" -> ((s, dir) => {
      import s.implicits._
      val docs = collectDocs(s, dir, 300)
      val dups = docs.filter(_._1 < 20).map { case (id, tx) =>
        (id + 1000000L, tx) }
      PlainOracles.minhashLshPairs(docs ++ dups, w = 3, k = 64, bands = 16)
        .toDF("id_a", "id_b", "est_jaccard")
    }),
    "dd_simhash" -> ((s, dir) => {
      import s.implicits._
      PlainOracles.simhashPairsBrute(collectDocs(s, dir, 500), 12)
        .toDF("id_a", "id_b", "hamming")
    }),
    "dd_dedup_removal" -> ((s, dir) => {
      import s.implicits._
      val docs = collectDocs(s, dir, 200)
      val dups = docs.filter(_._1 < 15).map { case (id, tx) =>
        (id + 1000000L, tx) }
      PlainOracles.removeNearDups(docs ++ dups, w = 3, k = 64, bands = 16,
        minEst = 0.9).toDF("doc_id", "text")
    }),
    "dd_embedding_neardup" -> ((s, dir) => {
      import s.implicits._
      val vecs = t(s, dir, "embeddings").where(col("vec_id") < 500)
        .select("vec_id", "embedding").collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
      val dups = vecs.filter(_._1 < 20).map { case (id, v) =>
        (id + 1000000L, v.map(x => x * 1.001f)) }
      PlainOracles.embeddingNearDupPairs(vecs ++ dups, minSim = 0.99,
        nPlanes = 6).toDF("id_a", "id_b", "cos")
    }),
    "q_lm_score" -> ((s, dir) => {
      import s.implicits._
      val lm = PlainOracles.lmTrainPlain(collectDocs(s, dir, 200).map(_._2),
        maxVocab = 5000, maxBigrams = 20000)
      t(s, dir, "documents").select("doc_id", "text").collect()
        .flatMap { r =>
          PlainOracles.lmScorePlain(r.getString(1), lm)
            .map(v => (r.getLong(0), PlainOracles.round6(v)))
        }.toSeq.toDF("doc_id", "lm_score")
    }),
    "q_lm_buckets" -> ((s, dir) => {
      // independent plain trainer + scorer + the same tercile rule over
      // the rounded sample scores
      import s.implicits._
      val sample = collectDocs(s, dir, 200).map(_._2)
      val lm = PlainOracles.lmTrainPlain(sample,
        maxVocab = 5000, maxBigrams = 20000)
      val ss = sample.flatMap(t => PlainOracles.lmScorePlain(t, lm))
        .map(PlainOracles.round6).sorted
      val (t1, t2) = (ss(ss.length / 3), ss(2 * ss.length / 3))
      t(s, dir, "documents").select("doc_id", "text").collect()
        .flatMap { r =>
          PlainOracles.lmScorePlain(r.getString(1), lm).map { v =>
            val sc = PlainOracles.round6(v)
            val b = if (sc >= t2) "head"
                    else if (sc >= t1) "middle" else "tail"
            (r.getLong(0), sc, b)
          }
        }.toSeq.toDF("doc_id", "lm_score", "bucket")
    }),
    "q_bpe_tokens2" -> ((s, dir) => {
      import s.implicits._
      val sample = collectDocs(s, dir, 200).map(_._2)
      val merges = PlainOracles.bpeTrainPlain(sample, numMerges = 200,
        maxWords = 2000)
      t(s, dir, "documents").select("doc_id", "text").collect()
        .map { r =>
          val toks = PlainOracles.bpeApplyPlain(r.getString(1), merges)
          (r.getLong(0), toks.size, toks.take(8).mkString("\u0001"),
           PlainOracles.bpePretokens(r.getString(1)).size)
        }.toSeq
        .toDF("doc_id", "n_bpe_tokens", "head_tokens", "n_pretokens")
    }),
    "dd_media_neardup" -> ((s, dir) => {
      import s.implicits._
      PlainOracles.mediaNearDupBrute(
          graft.ops.MediaDedup.nearDupMediaRows(150, 25, 42L),
          maxHamming = 8)
        .toDF("ref_a", "ref_b", "hamming")
    }),
    "sim_ivf_trained" -> ((s, dir) => {
      import s.implicits._
      // FULLY independent twin: plain-Scala k-means training
      // (PlainOracles.trainCentroidsPlain) + brute-force assignment — a
      // bug in the engine's trainCentroids (seeding, empty cells, Lloyd
      // update) is now driver-visible, not shared with the oracle
      // (ADVICE r02)
      val vecs = t(s, dir, "embeddings")
        .select("vec_id", "embedding").collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
      val cents = PlainOracles.trainCentroidsPlain(vecs, nCells = 8,
        sampleN = 200, iters = 3)
      PlainOracles.ivfAssignBrute(vecs, cents).toDF("vec_id", "cell_id")
    }),
    "sim_text_embed" -> ((s, dir) => {
      import s.implicits._
      val docs = collectDocs(s, dir, 500)
      val qText = docs.find(_._1 == 42L).get._2
      val q = PlainOracles.textEmbed(qText, 64).get
      docs.flatMap { case (id, tx) =>
          PlainOracles.textEmbed(tx, 64)
            .map(v => (id, PlainOracles.cosineDD(v, q)))
        }
        .sortBy { case (id, sc) => (-sc, id) } // raw scores, round after
        .take(20)
        .map { case (id, sc) => (id, PlainOracles.round6(sc)) }
        .toDF("doc_id", "score")
    }),
    "q_split_assign" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents").select("doc_id").collect()
        .map(r => (r.getLong(0), PlainOracles.splitOf(r.getLong(0),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = 7L)))
        .toSeq.toDF("doc_id", "split")
    }),
    "q_hybrid_from_text" -> ((s, dir) => {
      import s.implicits._
      val docs = collectDocs(s, dir, 500)
      val queryText = "hash join vector"
      val lex = PlainOracles.bm25Scores(docs, queryText.split(" ").toSeq)
      val q = PlainOracles.textEmbed(queryText, 64).get
      val vec = docs.flatMap { case (id, tx) =>
        PlainOracles.textEmbed(tx, 64)
          .map(v => (id, PlainOracles.cosineDD(v, q)))
      }
      PlainOracles.rrfFuse(lex, vec, k = 20).toDF("id", "rrf")
    }),
    "tx_fingerprints" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents").select("doc_id", "text").collect()
        .map(r => (r.getLong(0),
          PlainOracles.xxh64(r.getString(1)),
          PlainOracles.rollingHash(r.getString(1))))
        .toSeq.toDF("doc_id", "xxh64", "rolling64")
    }),
    "mm_decode" -> ((s, dir) => {
      import s.implicits._
      val n = t(s, dir, "documents").count()
      (0L until n).map { i =>
        val m = PlainOracles.mediaMeta(42L, i)
        (m.media_ref, m.kind, m.byte_len, m.width, m.height, m.duration_ms)
      }.toDF("media_ref", "kind", "byte_len", "width", "height",
             "duration_ms")
    }),
    "mm_resize" -> ((s, dir) => {
      import s.implicits._
      val n = math.min(t(s, dir, "documents").count(), 500L)
      (0L until n).map { i =>
        val m = PlainOracles.mediaMeta(42L, i)
        val (tw, th) = PlainOracles.resizeTargets(m.width, m.height, 256)
        (m.media_ref, m.width, m.height, tw, th)
      }.toDF("media_ref", "width", "height", "target_w", "target_h")
    }),
    "mm_frames" -> ((s, dir) => {
      import s.implicits._
      val n = math.min(t(s, dir, "documents").count(), 500L)
      (0L until n).flatMap { i =>
        val m = PlainOracles.mediaMeta(42L, i)
        PlainOracles.frameSamples(m.duration_ms, 5000L)
          .map(ms => (m.media_ref, ms))
      }.toDF("media_ref", "sample_ms")
    }),
    "sim_sq8_topk" -> ((s, dir) => {
      // independent plain SQ8 over the (small) embeddings dim table
      import s.implicits._
      val vecs = t(s, dir, "embeddings").select("vec_id", "embedding")
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
      PlainOracles.sq8TopKPlain(vecs, 0L, 20).toDF("vec_id", "score")
    }),
    "sim_pq_topk" -> ((s, dir) => {
      // independent plain PQ (own normalize, per-subspace k-means,
      // encode, ADC scoring) over the embeddings dim table
      import s.implicits._
      val vecs = t(s, dir, "embeddings").select("vec_id", "embedding")
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
      PlainOracles.pqTopKPlain(vecs, 0L, m = 8, ksub = 16,
        sampleN = 200, iters = 3, k = 20).toDF("vec_id", "score")
    }),
    "q_sample_stratified" -> ((s, dir) => {
      // plain-twin hash draw over the documents dim
      import s.implicits._
      t(s, dir, "documents").select("doc_id", "source").collect()
        .map(r => (r.getLong(0), r.getString(1)))
        .filter { case (id, src) =>
          val f = Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.0)
            .getOrElse(src, 0.25)
          PlainOracles.uOf(id, 11L) < f
        }.toSeq.toDF("doc_id", "source")
    }),
    "q_page_furniture" -> ((s, dir) => {
      // generator ground truth: the furniture FurnitureGen wrote
      import s.implicits._
      graft.gen.FurnitureGen.expected(20)
        .toDF("doc_id", "text", "y0", "pages_seen", "n_pages")
    }),
    "q_table_cells" -> ((s, dir) => {
      // generator ground truth: the grid cells TableGen wrote
      import s.implicits._
      graft.gen.TableGen.expected(24)
        .toDF("doc_id", "page", "table_id", "row", "col", "x0", "y0",
          "x1", "y1", "text", "n_rows", "n_cols")
    }),
    "q_table_tsv" -> ((s, dir) => {
      // generator ground truth: the TSV blobs TableGen's cells imply
      import s.implicits._
      graft.gen.TableGen.expectedTsv(24)
        .toDF("doc_id", "page", "table_id", "n_rows", "n_cols", "tsv")
    }),
    "q_table_cells_pdf" -> ((s, dir) => {
      // generator ground truth: estimate-path-exact cell bboxes
      import s.implicits._
      graft.gen.TableGen.expectedPdf(18)
        .toDF("doc_id", "page", "table_id", "row", "col", "x0", "y0",
          "x1", "y1", "text", "n_rows", "n_cols")
    }),
    "q_url_canonical" -> ((s, dir) => {
      // independent char-walk canonicalization + plain-Scala
      // aggregation over the SAME injected raw URLs
      import s.implicits._
      val rows = t(s, dir, "documents")
        .select("doc_id", "source", "lang").collect()
        .flatMap { r =>
          val id = r.getLong(0)
          val src = r.getString(1); val lang = r.getString(2)
          val u1 = s"HTTP://WWW.$src.Example.COM:80/Article/${id % 5}" +
            s"/?utm_source=feed&utm_medium=rss&id=${id % 11}" +
            s"&ref=home#frag${id % 3}"
          val u2 = s"https://$lang-cdn.example.org:443/a/${id % 7}" +
            (if (id % 2 == 0) "?gclid=abc123" else "?id=9&fbclid=zz&")
          Seq((id, graft.oracle.PlainOracles.canonicalUrlPlain(u1)),
              (id, graft.oracle.PlainOracles.canonicalUrlPlain(u2)))
        }
      rows.groupBy(_._2).toSeq.map { case (cu, xs) =>
        (cu, xs.length.toLong, xs.map(_._1).distinct.length.toLong)
      }.toDF("canonical_url", "n_urls", "n_docs")
    }),
    "q_rep_ratio" -> ((s, dir) => {
      // plain-twin repetition signals over the (small) documents dim
      import s.implicits._
      t(s, dir, "documents").select("doc_id", "text").collect()
        .map { r =>
          val (d, top, g) = PlainOracles.repSignalsPlain(r.getString(1))
          (r.getLong(0), d, top, g)
        }.toSeq
        .toDF("doc_id", "distinct_word_frac", "top_word_frac",
              "dup_2gram_frac")
    }),
    "q_langid2" -> ((s, dir) => {
      import s.implicits._
      // same bounded corpus slice + the same deterministic seed
      // sentences, classified by the independent plain twin
      val nLangs = graft.functions.TrigramLangId.Seeds.all.size
      val synth = (0 until nLangs * 20).map { i =>
        (2000000L + i,
          graft.functions.TrigramLangId.seedSentence(i / 20, i % 20))
      }
      (collectDocs(s, dir, 300) ++ synth).map { case (id, tx) =>
        (id, PlainOracles.langIdTrigramPlain(tx))
      }.toDF("doc_id", "lang")
    }),
    "q_corpus_by_lang2" -> ((s, dir) => {
      import s.implicits._
      // plain-twin classification + driver-side rollup with Spark's
      // round(avg, 2) HALF_UP semantics
      val nLangs = graft.functions.TrigramLangId.Seeds.all.size
      val synth = (0 until nLangs * 20).map { i =>
        (2000000L + i,
          graft.functions.TrigramLangId.seedSentence(i / 20, i % 20))
      }
      (collectDocs(s, dir, 300) ++ synth)
        .groupBy { case (_, tx) => PlainOracles.langIdTrigramPlain(tx) }
        .toSeq.map { case (lang, docs) =>
          val avg = docs.map(_._2.length.toLong).sum.toDouble / docs.size
          (lang, docs.size.toLong,
            java.math.BigDecimal.valueOf(avg)
              .setScale(2, java.math.RoundingMode.HALF_UP).doubleValue())
        }.sortBy(_._1).toDF("lang", "n", "avg_chars")
    })
  ) ++ genRows.map(r => r.name -> ((s: SparkSession, _: String) => r.truth(s)))

  private def collectDocs(s: SparkSession, dir: String, maxId: Long)
      : Seq[(Long, String)] =
    t(s, dir, "documents").where(col("doc_id") < maxId)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq

  // ---------- DuckDB twins ----------

  def oracleSql: Map[String, String] = Map(
    // --- expected-table twins (paths substituted by Verify) ---
    "ex_spans" ->
      s"SELECT * FROM '$ExpectedToken/ex_spans/*.parquet'",
    "ex_chunks" ->
      s"SELECT * FROM '$ExpectedToken/ex_chunks/*.parquet'",
    "ex_catalog" ->
      s"""SELECT doc_id, max(page) AS total_pages, count(*) AS chunk_count,
          min(extracted_at) AS first_extracted,
          max(extracted_at) AS last_extracted
          FROM '$ExpectedToken/ex_chunks/*.parquet'
          GROUP BY doc_id ORDER BY doc_id""",
    "dd_minhash_lsh" ->
      s"SELECT * FROM '$ExpectedToken/dd_minhash_lsh/*.parquet'",
    "q_langid2" ->
      s"SELECT * FROM '$ExpectedToken/q_langid2/*.parquet'",
    "ex_realpdf" ->
      s"SELECT * FROM '$ExpectedToken/ex_realpdf/*.parquet'",
    "ex_mixed" ->
      s"SELECT * FROM '$ExpectedToken/ex_mixed/*.parquet'",
    "ex_epub" ->
      s"SELECT * FROM '$ExpectedToken/ex_epub/*.parquet'",
    "q_rep_ratio" ->
      s"SELECT * FROM '$ExpectedToken/q_rep_ratio/*.parquet'",
    "sim_sq8_topk" ->
      s"SELECT * FROM '$ExpectedToken/sim_sq8_topk/*.parquet'",
    "sim_pq_topk" ->
      s"SELECT * FROM '$ExpectedToken/sim_pq_topk/*.parquet'",
    "q_sample_stratified" ->
      s"SELECT * FROM '$ExpectedToken/q_sample_stratified/*.parquet'",
    "q_page_furniture" ->
      s"SELECT * FROM '$ExpectedToken/q_page_furniture/*.parquet'",
    "q_table_cells" ->
      s"SELECT * FROM '$ExpectedToken/q_table_cells/*.parquet'",
    "q_table_tsv" ->
      s"SELECT * FROM '$ExpectedToken/q_table_tsv/*.parquet'",
    "q_table_cells_pdf" ->
      s"SELECT * FROM '$ExpectedToken/q_table_cells_pdf/*.parquet'",
    "q_pdf_links" ->
      s"SELECT * FROM '$ExpectedToken/q_pdf_links/*.parquet'",
    "q_pdf_outline" ->
      s"SELECT * FROM '$ExpectedToken/q_pdf_outline/*.parquet'",
    "q_pdf_formfields" ->
      s"SELECT * FROM '$ExpectedToken/q_pdf_formfields/*.parquet'",
    "q_table_tsv_md" ->
      s"SELECT * FROM '$ExpectedToken/q_table_tsv_md/*.parquet'",
    "q_table_tsv_pptx" ->
      s"SELECT * FROM '$ExpectedToken/q_table_tsv_pptx/*.parquet'",
    "ex_rtf" ->
      s"SELECT * FROM '$ExpectedToken/ex_rtf/*.parquet'",
    "ex_warc" ->
      s"SELECT * FROM '$ExpectedToken/ex_warc/*.parquet'",
    "ex_archive" ->
      s"SELECT * FROM '$ExpectedToken/ex_archive/*.parquet'",
    "ex_jsonl" ->
      s"SELECT * FROM '$ExpectedToken/ex_jsonl/*.parquet'",
    "ex_charset" ->
      s"SELECT * FROM '$ExpectedToken/ex_charset/*.parquet'",
    "ex_doc" ->
      s"SELECT * FROM '$ExpectedToken/ex_doc/*.parquet'",
    "ex_docx" ->
      s"SELECT * FROM '$ExpectedToken/ex_docx/*.parquet'",
    "ex_ppt" ->
      s"SELECT * FROM '$ExpectedToken/ex_ppt/*.parquet'",
    "ex_eml" ->
      s"SELECT * FROM '$ExpectedToken/ex_eml/*.parquet'",
    "ex_ipynb" ->
      s"SELECT * FROM '$ExpectedToken/ex_ipynb/*.parquet'",
    "ex_subs" ->
      s"SELECT * FROM '$ExpectedToken/ex_subs/*.parquet'",
    "ex_xml" ->
      s"SELECT * FROM '$ExpectedToken/ex_xml/*.parquet'",
    "ex_odt" ->
      s"SELECT * FROM '$ExpectedToken/ex_odt/*.parquet'",
    "q_url_canonical" ->
      s"SELECT * FROM '$ExpectedToken/q_url_canonical/*.parquet'",
    "ex_tex" ->
      s"SELECT * FROM '$ExpectedToken/ex_tex/*.parquet'",
    "ex_mbox" ->
      s"SELECT * FROM '$ExpectedToken/ex_mbox/*.parquet'",
    "ex_feed" ->
      s"SELECT * FROM '$ExpectedToken/ex_feed/*.parquet'",
    "dd_cross_format" ->
      s"SELECT * FROM '$ExpectedToken/dd_cross_format/*.parquet'",
    "q_table_tsv_html" ->
      s"SELECT * FROM '$ExpectedToken/q_table_tsv_html/*.parquet'",
    "q_table_tsv_xlsx" ->
      s"SELECT * FROM '$ExpectedToken/q_table_tsv_xlsx/*.parquet'",
    "q_table_tsv_xls" ->
      s"SELECT * FROM '$ExpectedToken/q_table_tsv_xls/*.parquet'",
    "q_table_tsv_doc" ->
      s"SELECT * FROM '$ExpectedToken/q_table_tsv_doc/*.parquet'",
    "q_xls_pictures" ->
      s"SELECT * FROM '$ExpectedToken/q_xls_pictures/*.parquet'",
    "ex_pdf_attach" ->
      s"SELECT * FROM '$ExpectedToken/ex_pdf_attach/*.parquet'",
    "q_table_tsv_csv" ->
      s"SELECT * FROM '$ExpectedToken/q_table_tsv_csv/*.parquet'",
    "ex_pptx" ->
      s"SELECT * FROM '$ExpectedToken/ex_pptx/*.parquet'",
    "q_lm_buckets" ->
      s"SELECT * FROM '$ExpectedToken/q_lm_buckets/*.parquet'",
    "q_sentences" ->
      """WITH s AS (
           SELECT doc_id,
                  regexp_extract_all(text, '[^.!?]+[.!?]+|[^.!?]+$') AS ss
           FROM documents),
         e AS (
           SELECT doc_id, ss,
                  unnest(generate_series(1, len(ss))) AS sent_id
           FROM s)
         SELECT doc_id, sent_id, trim(ss[sent_id]) AS sentence,
                len(string_split(trim(ss[sent_id]), ' ')) AS n_words
         FROM e WHERE trim(ss[sent_id]) <> '' ORDER BY doc_id, sent_id""",
    "q_sentence_dedup" ->
      """WITH d AS (
           SELECT doc_id,
                  'Shared boilerplate intro. ' || substr(text, 1, 80)
                    AS text
           FROM documents),
         s0 AS (
           SELECT doc_id,
                  regexp_extract_all(text, '[^.!?]+[.!?]+|[^.!?]+$') AS ss
           FROM d),
         s AS (
           SELECT doc_id, ss,
                  unnest(generate_series(1, len(ss))) AS sent_id
           FROM s0),
         st AS (
           SELECT doc_id, sent_id, trim(ss[sent_id]) AS sentence
           FROM s WHERE trim(ss[sent_id]) <> ''),
         r AS (
           SELECT doc_id, sent_id, sentence,
                  row_number() OVER (PARTITION BY sentence
                                     ORDER BY doc_id, sent_id) AS rn
           FROM st)
         SELECT doc_id,
                coalesce(string_agg(sentence, ' ' ORDER BY sent_id)
                           FILTER (WHERE rn = 1), '') AS clean_text,
                count(*) FILTER (WHERE rn > 1) AS n_cut
         FROM r GROUP BY doc_id ORDER BY doc_id""",
    "q_dehyphenate" ->
      """SELECT doc_id,
           regexp_replace(
             substr(text, 1, 40) || 'exam-' || chr(10) || 'ple tail-' ||
               chr(10) || 'Word digit-' || chr(10) || '9 dash-stay end',
             '-\r?\n([a-z])', '\1', 'g') AS dehyph
         FROM documents ORDER BY doc_id""",
    "q_chunk_text" ->
      """WITH w AS (
           SELECT doc_id, string_split(text, ' ') AS words FROM documents),
         s AS (
           SELECT doc_id, words,
             unnest(generate_series(1, greatest(len(words), 1), 24)) AS st
           FROM w)
         SELECT doc_id,
           CAST((st - 1) // 24 AS INT) AS chunk_idx,
           array_to_string(words[st:st+31], ' ') AS chunk_text,
           CAST(len(string_split(array_to_string(words[st:st+31], ' '),
             ' ')) AS INT) AS n_tokens
         FROM s ORDER BY doc_id, chunk_idx""",
    "q_source_caps" ->
      """SELECT doc_id, source, CAST(rk AS INT) AS src_rank
         FROM (SELECT doc_id, source,
                 ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id)
                   AS rk
               FROM documents)
         WHERE rk <= 15 ORDER BY doc_id""",
    "q_corpus_by_lang2" ->
      s"SELECT * FROM '$ExpectedToken/q_corpus_by_lang2/*.parquet'",
    "dd_simhash" ->
      s"SELECT * FROM '$ExpectedToken/dd_simhash/*.parquet'",
    "dd_dedup_removal" ->
      s"SELECT * FROM '$ExpectedToken/dd_dedup_removal/*.parquet'",
    "dd_embedding_neardup" ->
      s"SELECT * FROM '$ExpectedToken/dd_embedding_neardup/*.parquet'",
    "dd_media_neardup" ->
      s"SELECT * FROM '$ExpectedToken/dd_media_neardup/*.parquet'",
    "q_bpe_tokens2" ->
      s"SELECT * FROM '$ExpectedToken/q_bpe_tokens2/*.parquet'",
    "q_lm_score" ->
      s"SELECT * FROM '$ExpectedToken/q_lm_score/*.parquet'",
    "sim_ivf_trained" ->
      s"SELECT * FROM '$ExpectedToken/sim_ivf_trained/*.parquet'",
    "sim_text_embed" ->
      s"SELECT * FROM '$ExpectedToken/sim_text_embed/*.parquet'",
    "q_hybrid_from_text" ->
      s"SELECT * FROM '$ExpectedToken/q_hybrid_from_text/*.parquet'",
    "q_split_assign" ->
      s"SELECT * FROM '$ExpectedToken/q_split_assign/*.parquet'",
    "tx_fingerprints" ->
      s"SELECT * FROM '$ExpectedToken/tx_fingerprints/*.parquet'",
    "mm_decode" ->
      s"SELECT * FROM '$ExpectedToken/mm_decode/*.parquet'",
    "mm_resize" ->
      s"SELECT * FROM '$ExpectedToken/mm_resize/*.parquet'",
    "mm_frames" ->
      s"SELECT * FROM '$ExpectedToken/mm_frames/*.parquet'",
    // --- pure-SQL twins over the sf tables ---
    "dd_dup_windows" ->
      """WITH base AS (SELECT doc_id, text FROM documents
                       WHERE doc_id < 150),
         corpus AS (SELECT doc_id, text FROM base
                    UNION ALL
                    SELECT doc_id + 1000000 AS doc_id, text FROM base
                    WHERE doc_id < 10),
         tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM corpus),
         wnd AS (SELECT doc_id, i - 1 AS pos,
                        array_to_string(t[i:i+7], ' ') AS s
                 FROM tk, UNNEST(range(1, len(t) - 6)) AS r(i)),
         cnt AS (SELECT s, count(DISTINCT doc_id) AS n_docs FROM wnd
                 GROUP BY s HAVING count(DISTINCT doc_id) >= 2)
         SELECT w.doc_id, w.pos, c.n_docs
         FROM wnd w JOIN cnt c USING (s)
         ORDER BY doc_id, pos""",
    "dd_dup_cut" ->
      """WITH base AS (SELECT doc_id, text FROM documents
                       WHERE doc_id < 150),
         corpus AS (SELECT doc_id, text FROM base
                    UNION ALL
                    SELECT doc_id + 1000000 AS doc_id, text FROM base
                    WHERE doc_id < 10),
         tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM corpus),
         wnd AS (SELECT doc_id, i - 1 AS pos,
                        array_to_string(t[i:i+7], ' ') AS s
                 FROM tk, UNNEST(range(1, len(t) - 6)) AS r(i)),
         cnt AS (SELECT s FROM wnd
                 GROUP BY s HAVING count(DISTINCT doc_id) >= 2),
         cuts AS (SELECT w.doc_id,
                         flatten(list_transform(list(DISTINCT w.pos),
                           c -> range(c, c + 8))) AS cov
                  FROM wnd w JOIN cnt c USING (s) GROUP BY w.doc_id),
         cut AS (SELECT tk.doc_id, t,
                        list_filter(t, (x, i) ->
                          NOT list_contains(COALESCE(cov, []), i - 1))
                          AS kept
                 FROM tk LEFT JOIN cuts ON tk.doc_id = cuts.doc_id)
         SELECT doc_id,
                COALESCE(array_to_string(kept, ' '), '') AS text_clean,
                len(t) - len(kept) AS n_tokens_removed
         FROM cut ORDER BY doc_id""",
    "dd_contamination" ->
      """WITH d AS (SELECT doc_id, text FROM documents),
         corpus AS (SELECT doc_id, text FROM d
                    WHERE doc_id >= 20 AND doc_id < 200
                    UNION ALL
                    SELECT doc_id + 1000000 AS doc_id, text FROM d
                    WHERE doc_id < 5),
         cw AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+4], ' ') AS s
                FROM (SELECT doc_id, string_split(text, ' ') AS t
                      FROM corpus) x,
                     UNNEST(range(1, len(t) - 3)) AS r(i)),
         bw AS (SELECT DISTINCT array_to_string(t[i:i+4], ' ') AS s
                FROM (SELECT string_split(text, ' ') AS t FROM d
                      WHERE doc_id < 20) y,
                     UNNEST(range(1, len(t) - 3)) AS r(i))
         SELECT cw.doc_id, count(*) AS n_windows,
                CAST(sum(CASE WHEN bw.s IS NOT NULL THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_contaminated,
                round(CAST(sum(CASE WHEN bw.s IS NOT NULL THEN 1 ELSE 0
                                    END) AS DOUBLE)
                      / CAST(count(*) AS DOUBLE), 6) AS rate
         FROM cw LEFT JOIN bw ON cw.s = bw.s
         GROUP BY cw.doc_id ORDER BY cw.doc_id""",
    "dd_ngram_jaccard" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t
                    FROM documents WHERE doc_id < 300),
         sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] AS s
                FROM d, UNNEST(range(1, len(t))) AS r(i)),
         sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
         pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                          count(*) AS common
                   FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                   GROUP BY 1, 2)
         SELECT id_a, id_b,
                CAST(common AS DOUBLE) / CAST(sa.sz + sb.sz - common
                                              AS DOUBLE) AS jaccard
         FROM pairs
         JOIN sz sa ON sa.doc_id = id_a
         JOIN sz sb ON sb.doc_id = id_b
         WHERE CAST(common AS DOUBLE) / CAST(sa.sz + sb.sz - common
                                             AS DOUBLE) >= 0.2
         ORDER BY id_a, id_b""",
    "sim_ivf_topk" ->
      """WITH c AS (SELECT vec_id AS cell_id,
                           CAST(embedding AS DOUBLE[]) AS cv
                    FROM embeddings ORDER BY vec_id LIMIT 16),
         q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id = 0),
         asg AS (SELECT e.vec_id, e.embedding,
                   (SELECT cell_id FROM c
                    ORDER BY list_cosine_similarity(
                      CAST(e.embedding AS DOUBLE[]), c.cv) DESC, cell_id ASC
                    LIMIT 1) AS cell_id
                 FROM embeddings e),
         probe AS (SELECT cell_id FROM c, q
                   ORDER BY list_cosine_similarity(c.cv, q.qv) DESC,
                            cell_id ASC LIMIT 4)
         SELECT a.vec_id,
                round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                             q.qv), 6) AS score
         FROM asg a, q WHERE a.cell_id IN (SELECT cell_id FROM probe)
         ORDER BY list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                         q.qv) DESC, a.vec_id ASC
         LIMIT 20""",
    "q_doc_catalog" ->
      """SELECT source, count(*) AS n_docs, max(n_chars) AS max_chars,
         min(doc_id) AS first_doc, max(doc_id) AS last_doc
         FROM documents GROUP BY source ORDER BY source""",
    "q_reading_order" ->
      """SELECT l_orderkey, l_linenumber,
         row_number() OVER (PARTITION BY l_orderkey
           ORDER BY l_extendedprice DESC, l_partkey ASC, l_linenumber ASC)
           AS reading_pos
         FROM lineitem ORDER BY l_orderkey, reading_pos""",
    "q_chunk_ids" ->
      """SELECT l_orderkey || '_p' || l_linenumber || '_c' || n AS chunk_id,
                l_orderkey, n
         FROM (SELECT l_orderkey, l_linenumber,
                 CAST(row_number() OVER (PARTITION BY l_orderkey
                   ORDER BY l_linenumber ASC) AS INTEGER) AS n
               FROM lineitem)
         ORDER BY l_orderkey, n""",
    "q_position_cells" ->
      """WITH b AS (
           SELECT p_partkey,
             CAST((p_partkey % 90) * 6.0 AS DOUBLE) AS x0,
             CAST((p_partkey % 77) * 10.0 AS DOUBLE) AS y0,
             CAST((p_partkey % 90) * 6.0 + 40.0 AS DOUBLE) AS x1,
             CAST((p_partkey % 77) * 10.0 + 12.0 AS DOUBLE) AS y1,
             CASE WHEN p_size <= 5 THEN 612.0 ELSE 612.0 END AS w_eff,
             CASE WHEN p_size <= 5 THEN 792.0 ELSE 792.0 END AS h_eff
           FROM part),
         r AS (
           SELECT p_partkey,
             (x0 + x1) / 2 / w_eff AS rx, (y0 + y1) / 2 / h_eff AS ry
           FROM b)
         SELECT p_partkey,
           (CASE WHEN ry > 0.67 THEN 'top'
                 WHEN ry < 0.33 THEN 'bottom' ELSE 'middle' END
            || '-' ||
            CASE WHEN rx < 0.33 THEN 'left'
                 WHEN rx > 0.67 THEN 'right' ELSE 'center' END) AS pos_desc,
           round(rx * 100, 1) AS rel_x, round(ry * 100, 1) AS rel_y
         FROM r ORDER BY p_partkey""",
    "q_anti_join" ->
      """SELECT doc_id, source FROM documents
         WHERE doc_id NOT IN (SELECT doc_id FROM documents
                              WHERE doc_id % 3 = 0)
         ORDER BY doc_id""",
    "q_distinct" -> "SELECT DISTINCT lang FROM documents ORDER BY lang",
    "q_topk" ->
      """SELECT doc_id, n_chars FROM documents WHERE lang = 'en'
         ORDER BY n_chars DESC, doc_id ASC LIMIT 20""",
    "q_doc_stats" ->
      """SELECT count(*) AS n, max(n_chars) AS max_chars,
                min(doc_id) AS first_doc
         FROM documents WHERE source = 'src1'""",
    "q_preview" ->
      """SELECT doc_id, substr(text, 1, 50) AS preview FROM documents
         ORDER BY doc_id LIMIT 100""",
    "q_exact_dedup" ->
      """SELECT md5(text) AS digest, min(doc_id) AS keeper_id,
                count(*) AS dup_count
         FROM documents GROUP BY 1 ORDER BY digest""",
    "q_token_stats" ->
      """SELECT doc_id,
           len(string_split(text, ' ')) AS n_tokens,
           CAST(length(text) AS BIGINT) AS n_chars_actual,
           round(CAST(length(text) - (len(string_split(text, ' ')) - 1)
                      AS DOUBLE) / len(string_split(text, ' ')), 4)
             AS mean_tok_len
         FROM documents ORDER BY doc_id""",
    "q_bpe_tokens" ->
      """SELECT doc_id,
           CAST(len(regexp_extract_all(text,
             '''(?:[sdmt]|ll|ve|re)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+'))
             AS BIGINT) AS n_bpe
         FROM documents ORDER BY doc_id""",
    "q_normalize" ->
      """SELECT doc_id,
           trim(regexp_replace(regexp_replace(text,
             '[\x00-\x1f\x7f]', ' ', 'g'), '\s+', ' ', 'g')) AS text_norm,
           trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))
             AS text_canon
         FROM documents ORDER BY doc_id""",
    "q_url_domains" ->
      """WITH t2 AS (
           SELECT doc_id,
             text || ' See http://' || source || '.example.com/page/'
                  || (doc_id % 7) || ' and https://www.' || lang
                  || '-news.org/a?id=' || doc_id
                  || CASE WHEN doc_id % 3 = 0
                     THEN ' plus http://tracker.example.net/x'
                     ELSE '' END AS text2
           FROM documents),
         u AS (
           SELECT doc_id,
             unnest(regexp_extract_all(text2, 'https?://[^\s]+')) AS url
           FROM t2),
         dmn AS (
           SELECT doc_id,
             regexp_extract(url, '^https?://([^/?#]+)', 1) AS domain
           FROM u)
         SELECT domain, count(*) AS n_urls,
           count(DISTINCT doc_id) AS n_docs
         FROM dmn WHERE domain <> 'tracker.example.net'
         GROUP BY domain ORDER BY domain""",
    "q_quality" ->
      """WITH s AS (
           SELECT doc_id, text, ' ' || text || ' ' AS padded,
             len(string_split(text, ' ')) AS n_toks,
             CAST(length(text) AS BIGINT) AS n_chars
           FROM documents),
         hits AS (
           SELECT doc_id, n_toks, n_chars,
             CAST(len(string_split(padded, ' the ')) - 1
                + len(string_split(padded, ' a ')) - 1
                + len(string_split(padded, ' of ')) - 1
                + len(string_split(padded, ' and ')) - 1
                + len(string_split(padded, ' to ')) - 1
                + len(string_split(padded, ' in ')) - 1
                + len(string_split(padded, ' is ')) - 1 AS BIGINT)
               AS stop_hits
           FROM s)
         SELECT doc_id, stop_hits,
           round((CASE WHEN n_chars BETWEEN 50 AND 20000 THEN 0.4 ELSE 0.0 END)
             + (CASE WHEN (CAST(n_chars - (n_toks - 1) AS DOUBLE) / n_toks)
                       BETWEEN 2.5 AND 12.0 THEN 0.3 ELSE 0.0 END)
             + (CASE WHEN stop_hits > 0 THEN 0.3 ELSE 0.0 END), 1) AS quality
         FROM hits ORDER BY doc_id""",
    "q_langid" ->
      """SELECT doc_id,
           CASE
             WHEN regexp_matches(text, '[\x{4e00}-\x{9fff}]') THEN 'zh'
             WHEN regexp_matches(text, '[\x{3040}-\x{30ff}]') THEN 'ja'
             WHEN regexp_matches(text, '[\x{0400}-\x{04ff}]') THEN 'ru'
             WHEN ' ' || lower(text) || ' ' LIKE '% el %'
               OR ' ' || lower(text) || ' ' LIKE '% los %'
               OR ' ' || lower(text) || ' ' LIKE '% una %' THEN 'es'
             WHEN ' ' || lower(text) || ' ' LIKE '% der %'
               OR ' ' || lower(text) || ' ' LIKE '% und %'
               OR ' ' || lower(text) || ' ' LIKE '% ist %' THEN 'de'
             WHEN ' ' || lower(text) || ' ' LIKE '% le %'
               OR ' ' || lower(text) || ' ' LIKE '% les %'
               OR ' ' || lower(text) || ' ' LIKE '% une %' THEN 'fr'
             ELSE 'en'
           END AS lang_guess
         FROM documents ORDER BY doc_id""",
    "q_redact_pii" ->
      """WITH dirty AS (SELECT doc_id,
             text || ' contact user' || doc_id
                  || '@example.com or 555-123-4567 at 10.0.0.'
                  || (doc_id % 256) AS dirty
           FROM documents)
         SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(dirty,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>',
             'g'),
             '[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}', '<PHONE>', 'g'),
             '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>',
             'g') AS clean,
           len(regexp_split_to_array(dirty,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) - 1
           + len(regexp_split_to_array(
               regexp_replace(dirty,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                 '<EMAIL>', 'g'),
               '[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}')) - 1
           + len(regexp_split_to_array(
               regexp_replace(regexp_replace(dirty,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                 '<EMAIL>', 'g'),
                 '[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}', '<PHONE>', 'g'),
               '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) - 1
             AS pii_hits
         FROM dirty ORDER BY doc_id""",
    "q_corpus_report" ->
      """SELECT count(*) AS n_docs,
           CAST(sum(length(text)) AS BIGINT) AS total_chars,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
           round(avg(len(string_split(text, ' '))), 4) AS avg_tokens,
           round(quantile_cont(CAST(length(text) AS BIGINT), 0.5), 1)
             AS p50_chars,
           round(quantile_cont(CAST(length(text) AS BIGINT), 0.95), 1)
             AS p95_chars,
           count(DISTINCT md5(text)) AS distinct_texts,
           count(*) - count(DISTINCT md5(text)) AS exact_dup_docs
         FROM documents""",
    "q_corpus_by_lang" ->
      """SELECT CASE
             WHEN regexp_matches(text, '[\x{4e00}-\x{9fff}]') THEN 'zh'
             WHEN regexp_matches(text, '[\x{3040}-\x{30ff}]') THEN 'ja'
             WHEN regexp_matches(text, '[\x{0400}-\x{04ff}]') THEN 'ru'
             WHEN ' ' || lower(text) || ' ' LIKE '% el %'
               OR ' ' || lower(text) || ' ' LIKE '% los %'
               OR ' ' || lower(text) || ' ' LIKE '% una %' THEN 'es'
             WHEN ' ' || lower(text) || ' ' LIKE '% der %'
               OR ' ' || lower(text) || ' ' LIKE '% und %'
               OR ' ' || lower(text) || ' ' LIKE '% ist %' THEN 'de'
             WHEN ' ' || lower(text) || ' ' LIKE '% le %'
               OR ' ' || lower(text) || ' ' LIKE '% les %'
               OR ' ' || lower(text) || ' ' LIKE '% une %' THEN 'fr'
             ELSE 'en'
           END AS lang_guess,
           count(*) AS n, round(avg(length(text)), 2) AS avg_chars
         FROM documents GROUP BY 1 ORDER BY lang_guess""",
    "q_rollup" ->
      """SELECT lang, source, count(*) AS n, max(n_chars) AS max_chars
         FROM documents GROUP BY ROLLUP (lang, source)
         ORDER BY lang NULLS FIRST, source NULLS FIRST""",
    "q_cube" ->
      """SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
                count(*) AS n
         FROM events GROUP BY CUBE (1, 2)
         HAVING day IS NULL OR day <= DATE '2024-01-03'
         ORDER BY event_type NULLS FIRST, day NULLS FIRST""",
    "q_intersect" ->
      """SELECT source FROM documents WHERE lang = 'en'
         INTERSECT
         SELECT source FROM documents WHERE n_chars > 300
         ORDER BY source""",
    "q_except" ->
      """SELECT doc_id FROM documents WHERE lang <> 'en'
         EXCEPT
         SELECT doc_id FROM documents WHERE source = 'src1'
         ORDER BY doc_id""",
    "q_percentiles" ->
      """SELECT event_type,
           round(quantile_cont(value, 0.5), 4) AS p50,
           round(quantile_cont(value, 0.9), 4) AS p90,
           count(*) AS n
         FROM events GROUP BY event_type ORDER BY event_type""",
    "q_pivot" ->
      """SELECT user_id,
           count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
           count(*) FILTER (WHERE event_type = 'error') AS n_error,
           round(sum(CASE WHEN event_type = 'purchase' THEN value
                          ELSE 0.0 END), 4) AS purchase_value
         FROM events GROUP BY user_id ORDER BY user_id""",
    "q_event_windows" ->
      """SELECT date_trunc('hour', ts) AS h, event_type,
                count(*) AS n, round(sum(value), 4) AS total
         FROM events GROUP BY 1, 2 ORDER BY h, event_type""",
    "q_sessionize" ->
      """WITH gaps AS (
           SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                    IS NULL
                  OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id
                    ORDER BY ts)) > 1800
                  THEN 1 ELSE 0 END AS new_session
           FROM events),
         sess AS (
           SELECT user_id, value,
             CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_n
           FROM gaps)
         SELECT user_id, session_n, count(*) AS events_in_session,
                round(sum(value), 4) AS session_value
         FROM sess GROUP BY user_id, session_n
         ORDER BY user_id, session_n""",
    "q_join_revenue" ->
      """SELECT n_name,
                round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
                count(*) AS n_items
         FROM lineitem
         JOIN orders   ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation   ON c_nationkey = n_nationkey
         GROUP BY n_name ORDER BY n_name""",
    "q_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE EXISTS (SELECT 1 FROM orders
                       WHERE o_custkey = c_custkey
                         AND o_orderpriority = '1-URGENT')
         ORDER BY c_custkey""",
    "q_context_assembly" ->
      """SELECT source,
           string_agg('[Source ' || rn || '] ' || doc_id || ', Page ' || pg
                      || ' (middle-center)' || chr(10) || txt,
                      chr(10) || chr(10) ORDER BY rn) AS context
         FROM (SELECT source, doc_id, doc_id % 10 + 1 AS pg,
                      substr(text, 1, 40) AS txt,
                      row_number() OVER (PARTITION BY source
                        ORDER BY doc_id) AS rn
               FROM documents)
         WHERE rn <= 3
         GROUP BY source ORDER BY source""",
    "q_validation" ->
      """SELECT doc_id,
           'doc_' || doc_id ||
             (CASE WHEN doc_id % 7 = 0 THEN '.exe' ELSE '.pdf' END) AS name,
           CASE
             WHEN (CASE WHEN doc_id % 11 = 0 THEN 0 ELSE n_chars END) <= 0
               THEN 'empty'
             WHEN (CASE WHEN doc_id % 11 = 0 THEN 0 ELSE n_chars END)
                  > 50 * 1024 * 1024 THEN 'too_large'
             WHEN doc_id % 7 = 0 THEN 'unsupported_type'
             ELSE 'ok'
           END AS verdict
         FROM documents ORDER BY doc_id""",
    "q_csv_roundtrip" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
         FROM orders WHERE o_orderkey < 2000""",
    "q_upload" ->
      "SELECT r_regionkey, r_name FROM region",
    "q_bm25_topk" ->
      """WITH td AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
                     FROM documents),
         t AS (SELECT doc_id, len(toks) AS dl,
                 len(list_filter(toks, x -> x = 'hash')) AS tf0,
                 len(list_filter(toks, x -> x = 'join')) AS tf1,
                 len(list_filter(toks, x -> x = 'vector')) AS tf2
               FROM td),
         s AS (SELECT count(*) AS n, avg(dl) AS avgdl,
                 sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
                 sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
                 sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
               FROM t)
         SELECT doc_id, round(
             ln(1.0 + (n - df0 + 0.5) / (df0 + 0.5)) * tf0 * (1.2 + 1.0)
               / (tf0 + 1.2 * (0.25 + 0.75 * dl / avgdl))
           + ln(1.0 + (n - df1 + 0.5) / (df1 + 0.5)) * tf1 * (1.2 + 1.0)
               / (tf1 + 1.2 * (0.25 + 0.75 * dl / avgdl))
           + ln(1.0 + (n - df2 + 0.5) / (df2 + 0.5)) * tf2 * (1.2 + 1.0)
               / (tf2 + 1.2 * (0.25 + 0.75 * dl / avgdl)), 6) AS score
         FROM t, s
         ORDER BY ln(1.0 + (n - df0 + 0.5) / (df0 + 0.5)) * tf0 * (1.2 + 1.0)
               / (tf0 + 1.2 * (0.25 + 0.75 * dl / avgdl))
           + ln(1.0 + (n - df1 + 0.5) / (df1 + 0.5)) * tf1 * (1.2 + 1.0)
               / (tf1 + 1.2 * (0.25 + 0.75 * dl / avgdl))
           + ln(1.0 + (n - df2 + 0.5) / (df2 + 0.5)) * tf2 * (1.2 + 1.0)
               / (tf2 + 1.2 * (0.25 + 0.75 * dl / avgdl)) DESC, doc_id ASC
         LIMIT 20""",
    "q_hybrid_topk" ->
      """WITH td AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
                     FROM documents),
         t AS (SELECT doc_id, len(toks) AS dl,
                 len(list_filter(toks, x -> x = 'hash')) AS tf0,
                 len(list_filter(toks, x -> x = 'join')) AS tf1,
                 len(list_filter(toks, x -> x = 'vector')) AS tf2
               FROM td),
         s AS (SELECT count(*) AS n, avg(dl) AS avgdl,
                 sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
                 sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
                 sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
               FROM t),
         bm AS (SELECT doc_id,
                  ln(1.0 + (n - df0 + 0.5) / (df0 + 0.5)) * tf0 * (1.2 + 1.0)
                    / (tf0 + 1.2 * (0.25 + 0.75 * dl / avgdl))
                + ln(1.0 + (n - df1 + 0.5) / (df1 + 0.5)) * tf1 * (1.2 + 1.0)
                    / (tf1 + 1.2 * (0.25 + 0.75 * dl / avgdl))
                + ln(1.0 + (n - df2 + 0.5) / (df2 + 0.5)) * tf2 * (1.2 + 1.0)
                    / (tf2 + 1.2 * (0.25 + 0.75 * dl / avgdl)) AS score
                FROM t, s),
         lr AS (SELECT doc_id AS id, row_number() OVER (
                  ORDER BY score DESC, doc_id ASC) AS rank_lex
                FROM bm ORDER BY score DESC, doc_id ASC LIMIT 100),
         vs AS (SELECT e.vec_id,
                  list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                    CAST(q.embedding AS DOUBLE[])) AS score
                FROM embeddings e,
                     (SELECT embedding FROM embeddings WHERE vec_id = 0) q),
         vr AS (SELECT vec_id AS id, row_number() OVER (
                  ORDER BY score DESC, vec_id ASC) AS rank_vec
                FROM vs ORDER BY score DESC, vec_id ASC LIMIT 100)
         SELECT COALESCE(lr.id, vr.id) AS id,
           round(COALESCE(1.0 / (60 + rank_lex), 0.0)
               + COALESCE(1.0 / (60 + rank_vec), 0.0), 6) AS rrf
         FROM lr FULL OUTER JOIN vr ON lr.id = vr.id
         ORDER BY COALESCE(1.0 / (60 + rank_lex), 0.0)
                + COALESCE(1.0 / (60 + rank_vec), 0.0) DESC,
                COALESCE(lr.id, vr.id) ASC
         LIMIT 20""",
    "q_cosine_topk" ->
      """SELECT e.vec_id,
           round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                        CAST(q.embedding AS DOUBLE[])), 6)
             AS score
         FROM embeddings e,
              (SELECT embedding FROM embeddings WHERE vec_id = 0) q
         ORDER BY score DESC, e.vec_id ASC LIMIT 20"""
  )
}
