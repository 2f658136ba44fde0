package graft.gen

/** Deterministic delimited-data fixtures + generator ground truth —
  * the fixture behind `q_table_tsv_csv`. Files are written as raw
  * strings (the reader's field machine never sees these literals) and
  * the expected TSVs are hand-written from the cells this generator
  * chose.
  *
  * Variant mix (`i % 6`):
  *   0 — plain comma CSV, header + data rows;
  *   1 — RFC 4180 quoting: embedded commas, `""` escapes, an embedded
  *       NEWLINE inside a quoted field (normalizes to a space);
  *   2 — European semicolon CSV (delimiter sniffing) with decimal
  *       commas inside cells;
  *   3 — `.tsv` (tab-delimited by suffix, no sniffing) + CRLF + BOM;
  *   4 — ragged rows pad to the widest; a pipe-delimited `.csv`
  *       sniffs `|`;
  *   5 — an all-whitespace file: NO spans.
  */
object CsvGen {

  def fileName(i: Int): String = (i % 6) match {
    case 3 => f"data_$i%04d.tsv"
    case _ => f"data_$i%04d.csv"
  }

  def fileBytes(i: Int): Array[Byte] = {
    val s = (i % 6) match {
      case 0 =>
        s"name,qty,price\nwidget $i,${i + 2},${i * 3}.50\nbolt,${i % 7},0.25\n"
      case 1 =>
        "\"Smith, Jane\",note " + i + ",\"says \"\"hi\"\"\"\n" +
          "\"wrapped\nline\",end " + i + ",plain\n"
      case 2 =>
        s"artikel;menge;preis\nschraube $i;${i + 4};3,25\nmutter;9;0,75\n"
      case 3 =>
        "\uFEFF" + s"col a\tcol b\r\nrow $i x\trow $i y\r\n"
      case 4 =>
        s"a|b|c\nshort $i\nlonger|${i * 5}|tail|extra\n"
      case _ =>
        "   \n\n  \n"
    }
    s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
  }

  def write(dir: String, n: Int): Unit =
    (0 until n).foreach { i =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, fileName(i)), fileBytes(i)): Unit
    }

  /** Hand-written expected TSV per variant (variant 5 yields no rows). */
  def expectedDoc(i: Int): Seq[TsvRow] = {
    val f = fileName(i)
    val tsv: Option[String] = (i % 6) match {
      case 0 => Some(
        s"name\tqty\tprice\nwidget $i\t${i + 2}\t${i * 3}.50\nbolt\t${i % 7}\t0.25")
      case 1 => Some(
        s"Smith, Jane\tnote $i\tsays \"hi\"\nwrapped line\tend $i\tplain")
      case 2 => Some(
        s"artikel\tmenge\tpreis\nschraube $i\t${i + 4}\t3,25\nmutter\t9\t0,75")
      case 3 => Some(
        s"col a\tcol b\nrow $i x\trow $i y")
      case 4 => Some(
        s"a\tb\tc\t\nshort $i\t\t\t\nlonger\t${i * 5}\ttail\textra")
      case _ => None
    }
    tsv.map(t => TsvRow(f, 0, t)).toSeq
  }

  def expected(n: Int): Seq[TsvRow] = (0 until n).flatMap(expectedDoc)
}
