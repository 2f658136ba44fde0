package graft

import graft.core.Run
import graft.extract.Tables
import graft.gen.TableGen
import graft.oracle.PlainTables
import graft.oracle.PlainTables.PFrag
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Table reconstruction: pinned grids, the adversarial shapes the
  * TableGen oracle deliberately avoids, engine-vs-naive-twin random
  * parity, and the Spark wrapper's shuffle-order insensitivity.
  */
class TablesSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def run(x0: Double, y0: Double, w: Double, h: Double,
                  text: String): Run = Run(1, x0, y0, x0 + w, y0 + h, text)

  private def cellsOf(rs: Seq[Run]): Vector[Tables.Cell] =
    Tables.detectPage(rs)

  test("pinned 2x2 grid") {
    val rs = Seq(
      run(72, 700, 80, 12, "a"), run(200, 700, 80, 12, "b"),
      run(72, 680, 80, 12, "c"), run(200, 680, 80, 12, "d"))
    val cells = cellsOf(rs)
    assert(cells.map(c => (c.tableId, c.row, c.col, c.text)).sorted ==
      Vector((0, 0, 0, "a"), (0, 0, 1, "b"), (0, 1, 0, "c"),
             (0, 1, 1, "d")))
    assert(cells.forall(c => c.nRows == 2 && c.nCols == 2))
    val a = cells.find(c => c.row == 0 && c.col == 0).get
    assert((a.x0, a.y0, a.x1, a.y1) == (72.0, 700.0, 152.0, 712.0))
  }

  test("close fragments merge into one cell; wide gaps separate") {
    val rs = Seq(
      // row 0: "he"+"llo" merge (gap 2 <= 12), then a far "x"
      run(72, 700, 20, 12, "he"), run(94, 700, 20, 12, "llo"),
      run(200, 700, 40, 12, "x"),
      run(72, 680, 40, 12, "p"), run(200, 680, 40, 12, "q"))
    val cells = cellsOf(rs)
    assert(cells.map(_.text).sorted == Vector("hello", "p", "q", "x"))
    val hello = cells.find(_.text == "hello").get
    assert((hello.x0, hello.x1) == (72.0, 114.0))
  }

  test("single-cell rows break chains; short chains are dropped") {
    val rs = Seq(
      run(72, 700, 40, 12, "a"), run(200, 700, 40, 12, "b"),
      run(72, 680, 400, 12, "a paragraph between"),
      run(72, 660, 40, 12, "c"), run(200, 660, 40, 12, "d"))
    assert(cellsOf(rs).isEmpty) // two length-1 chains < minRows
  }

  test("vertical-gap rule splits two stacked tables") {
    def grid(top: Double, tag: String) = Seq(
      run(72, top, 40, 12, s"${tag}00"), run(200, top, 40, 12, s"${tag}01"),
      run(72, top - 20, 40, 12, s"${tag}10"),
      run(200, top - 20, 40, 12, s"${tag}11"))
    // gap between tables: 640 - 20*1 = 620.y0 vs 560.y1=572 → 48 > 24
    val rs = grid(640, "a") ++ grid(560, "b")
    val cells = cellsOf(rs)
    assert(cells.map(_.tableId).distinct.sorted == Vector(0, 1))
    assert(cells.filter(_.tableId == 0).forall(_.text.startsWith("a")))
    assert(cells.filter(_.tableId == 1).forall(_.text.startsWith("b")))
  }

  test("sparse hole keeps column count and indices") {
    val rs = Seq(
      run(72, 700, 40, 12, "a"), run(200, 700, 40, 12, "b"),
      run(330, 700, 40, 12, "c"),
      run(72, 680, 40, 12, "d"), /* hole at (1,1) */
      run(330, 680, 40, 12, "f"))
    val cells = cellsOf(rs)
    assert(cells.size == 5 && cells.forall(_.nCols == 3))
    assert(cells.find(_.text == "f").get.col == 2)
  }

  test("two same-row cells in one column join with a space") {
    // rows 0/1 have a wide cell spanning x 72..300; row 0 also has two
    // narrow cells inside that x-range → same column, same row
    val rs = Seq(
      run(72, 700, 40, 12, "l"), run(200, 700, 40, 12, "r"),
      run(72, 680, 228, 12, "wide"), run(400, 680, 40, 12, "z"),
      run(400, 700, 40, 12, "y"))
    val cells = cellsOf(rs)
    val joined = cells.find(c => c.row == 0 && c.col == 0).get
    assert(joined.text == "l r")
    assert((joined.x0, joined.x1) == (72.0, 240.0))
  }

  test("minCols=3 rejects 2-col grids") {
    val rs = Seq(
      run(72, 700, 40, 12, "a"), run(200, 700, 40, 12, "b"),
      run(72, 680, 40, 12, "c"), run(200, 680, 40, 12, "d"))
    assert(Tables.detectPage(rs, minCols = 3).isEmpty)
    assert(Tables.detectPage(rs, minRows = 3).isEmpty)
  }

  test("degenerate bboxes (inverted / infinite) fall back safely") {
    val rs = Seq(
      run(72, 700, 40, 12, "a"), run(200, 700, 40, 12, "b"),
      run(72, 680, 40, 12, "c"), run(200, 680, 40, 12, "d"),
      Run(1, 500, 500, 480, 488, "inverted"), // x1 < x0, y1 < y0
      Run(1, 0, 300, Double.PositiveInfinity, 312, "wide"))
    val cells = Tables.detectPage(rs)
    // the grid must still come out; twin agrees on the whole page
    assert(cells.exists(_.text == "a"))
    val plain = PlainTables.detectPage(
      rs.map(r => PFrag(r.x0, r.y0, r.x1, r.y1, r.text)))
    assert(cells.map(c => (c.tableId, c.row, c.col, c.x0, c.y0, c.x1,
        c.y1, c.text, c.nRows, c.nCols))
        .sortBy(t => (t._1, t._2, t._3)) ==
      plain.map(p => (p.tableId, p.row, p.col, p.x0, p.y0, p.x1, p.y1,
        p.text, p.nRows, p.nCols)).sortBy(t => (t._1, t._2, t._3)))
  }

  test("dual-impl: engine == naive fixpoint twin on 300 random pages") {
    val rnd = new scala.util.Random(20260817L)
    for (trial <- 0 until 300) {
      val n = 1 + rnd.nextInt(40)
      val rs = (0 until n).map { k =>
        // grid-ish jittered boxes: rows at 20pt pitch, cols at 60pt,
        // jitter up to 6pt, heights 8..16, widths 20..55 — enough to
        // produce merges, splits, holes and near-threshold gaps
        val r = rnd.nextInt(8); val c = rnd.nextInt(6)
        val x0 = c * 60 + rnd.nextInt(12) - 6
        val y0 = 700 - r * 20 + rnd.nextInt(12) - 6
        val w = 20 + rnd.nextInt(36); val h = 8 + rnd.nextInt(9)
        Run(1, x0, y0, x0 + w, y0 + h, s"t$trial-$k")
      }
      val eng = Tables.detectPage(rs).map(c => (c.tableId, c.row, c.col,
        c.x0, c.y0, c.x1, c.y1, c.text, c.nRows, c.nCols))
        .sortBy(t => (t._1, t._2, t._3))
      val tw = PlainTables.detectPage(
        rs.map(r => PFrag(r.x0, r.y0, r.x1, r.y1, r.text)))
        .map(p => (p.tableId, p.row, p.col, p.x0, p.y0, p.x1, p.y1,
          p.text, p.nRows, p.nCols)).sortBy(t => (t._1, t._2, t._3))
      assert(eng == tw, s"trial $trial: $eng vs $tw")
    }
  }

  test("toTsv: rows by newline, cells by tab, holes collapse") {
    import spark.implicits._
    val rs = Seq(
      run(72, 700, 40, 12, "a"), run(200, 700, 40, 12, "b"),
      run(330, 700, 40, 12, "c"),
      run(72, 680, 40, 12, "d"), /* hole at (1,1) */
      run(330, 680, 40, 12, "f"))
    val df = rs.map(r => ("d1", 1, r.x0, r.y0, r.x1, r.y1, r.text))
      .toDF("doc_id", "page", "x0", "y0", "x1", "y1", "text")
    val tsv = graft.ops.TableExtract.toTsv(
        graft.ops.TableExtract.cells(df))
      .as[(String, Int, Int, Int, Int, String)].collect().toSeq
    assert(tsv == Seq(("d1", 1, 0, 2, 3, "a\tb\tc\nd\tf")))
  }

  test("genuine PDF bytes → RealPdf runs → table cells end-to-end") {
    // a real (minimal) PDF whose content stream paints a 3x3 grid of
    // cell texts at column x = 72/202/332, row y = 700/680/660, 11 pt —
    // through the genuine parser the estimate path gives each glyph
    // 0.5 em × 11 pt, so cell bboxes are exactly predictable
    def obj(n: Int, body: String) = s"$n 0 obj\n$body\nendobj\n"
    val content = (for { r <- 0 until 3; c <- 0 until 3 } yield {
      val x = 72 + c * 130; val y = 700 - r * 20
      s"BT /F1 11 Tf $x $y Td (t${r}c$c) Tj ET"
    }).mkString(" ").getBytes("ISO-8859-1")
    val pdf = (("%PDF-1.4\n" +
      obj(1, "<< /Type /Catalog /Pages 2 0 R >>") +
      obj(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 " +
        "/MediaBox [0 0 612 792] >>") +
      obj(3, "<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>") +
      s"4 0 obj\n<< /Length ${content.length} >>\nstream\n")
      .getBytes("ISO-8859-1")) ++ content ++
      "\nendstream\nendobj\n%%EOF\n".getBytes("ISO-8859-1")
    val runs = graft.extract.RealPdf.parse(pdf).head.runs
    assert(runs.size == 9)
    val cells = Tables.detectPage(runs.toSeq)
    assert(cells.size == 9 &&
      cells.forall(c => c.nRows == 3 && c.nCols == 3 && c.tableId == 0))
    cells.foreach { c =>
      assert(c.text == s"t${c.row}c${c.col}")
      val x = 72.0 + c.col * 130; val y = 700.0 - c.row * 20
      // 4 glyphs × 0.5 em × 11 pt = 22 pt wide, 11 pt tall
      assert(c.x0 == x && c.y0 == y && c.y1 == y + 11)
      assert(math.abs(c.x1 - (x + 22.0)) < 1e-9)
    }
  }

  test("fused per-doc path == materialized-runs path on the full corpus") {
    val got = (0 until 24).flatMap { i =>
      val d = TableGen.doc(i)
      Tables.detectDoc(d).map { case (page, c) =>
        (d.doc_id, page, c.tableId, c.row, c.col, c.x0, c.y0, c.x1,
         c.y1, c.text, c.nRows, c.nCols)
      }
    }.sortBy(t => (t._1, t._2, t._3, t._4, t._5))
    assert(got == TableGen.expected(24)
      .sortBy(t => (t._1, t._2, t._3, t._4, t._5)))
  }

  test("Spark wrapper: shuffle-order insensitive, matches per-page fn") {
    import spark.implicits._
    val docs = (0 until 24).map(TableGen.doc)
    val rows = docs.flatMap { d =>
      d.spans.flatMap(sp => graft.extract.PdfTokenizer.tokenize(sp.text, 1))
        .flatMap(pg => pg.runs.map(r =>
          (d.doc_id, pg.page, r.x0, r.y0, r.x1, r.y1, r.text)))
    }
    val shuffled = new scala.util.Random(7L).shuffle(rows)
    val df = spark.createDataset(shuffled)
      .toDF("doc_id", "page", "x0", "y0", "x1", "y1", "text")
      .repartition(7)
    val got = graft.ops.TableExtract.cells(df)
      .as[(String, Int, Int, Int, Int, Double, Double, Double, Double,
           String, Int, Int)].collect().toSeq
      .sortBy(t => (t._1, t._2, t._3, t._4, t._5))
    val want = TableGen.expected(24)
      .sortBy(t => (t._1, t._2, t._3, t._4, t._5))
    assert(got == want)
  }
}
