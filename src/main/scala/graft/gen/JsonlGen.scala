package graft.gen

/** Deterministic JSONL corpus-shard fixtures + generator ground truth
  * — the fixture behind `ex_jsonl`: shards exercising every line shape
  * [[graft.extract.JsonlExtractor]] must handle. Per shard, in line
  * order: a Dolma-style `text`+`id` record, a `content`+`url` record,
  * a malformed JSON line (dropped), a CCNet-style `raw_content` record
  * with a NUMERIC `doc_id` (rendered as text), an object without any
  * text key (dropped), a blank line (dropped), an empty-text record
  * (dropped), and an id-less record with JSON escapes + non-ASCII in
  * the text. `i%10`: 0 → `.jsonl` with a UTF-8 BOM, 1 → `.ndjson` with
  * CRLF line ends, 2 → `.jsonl.gz`, 3 → `.jsonl.zst` (the Dolma shard
  * codec), 4 → `.jsonl.xz`, 5 → `.jsonl.lz4`, 6 → `.jsonl.sz` (framed
  * snappy), 7 → a single pretty-printed `.json` object (BOM'd — the
  * file IS the corpus unit), 8 → an HF-style `.json` ARRAY export
  * (retained elements fan out positionally, junk elements at pinned
  * indexes drop), 9 → the same array `.json.gz` (compressed-at-rest
  * routing by inner extension). Compression is written by
  * commons-compress output streams — the DECODE side under test is
  * [[graft.extract.Codecs]]' input framing, exercised against framing
  * this generator never shares with it.
  */
object JsonlGen {

  def fileName(i: Int): String = (i % 10) match {
    case 0 => f"shard_$i%04d.jsonl"
    case 1 => f"shard_$i%04d.ndjson"
    case 2 => f"shard_$i%04d.jsonl.gz"
    case 3 => f"shard_$i%04d.jsonl.zst"
    case 4 => f"shard_$i%04d.jsonl.xz"
    case 5 => f"shard_$i%04d.jsonl.lz4"
    case 6 => f"shard_$i%04d.jsonl.sz"
    case 7 => f"doc_$i%04d.json"    // single pretty-printed object
    case 8 => f"export_$i%04d.json" // HF-style array export
    case _ => f"export_$i%04d.json.gz"
  }

  private def t0(i: Int) =
    s"Shard $i lead record mentions m${(i * 47) % 883} twice: " +
      s"m${(i * 47) % 883}."
  private def t1(i: Int) =
    s"Crawled content row of shard $i carries m${(i * 53) % 883}."
  private def t3(i: Int) =
    s"CCNet-style raw content $i with m${(i * 59) % 883} inside."
  private def t7(i: Int) =
    s"Escaped \"quote\" and café record of shard $i, " +
      s"m${(i * 61) % 883} closing."

  private def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c => c.toString
    }

  private def lines(i: Int): Seq[String] = Seq(
    s"""{"id": "doc-$i-0", "text": "${esc(t0(i))}", "lang": "en"}""",
    s"""{"url": "https://example.org/$i/a", "content": "${esc(t1(i))}"}""",
    s"""{"id": "broken-$i", "text": "unterminated""",
    s"""{"raw_content": "${esc(t3(i))}", "doc_id": ${9000 + i}}""",
    s"""{"meta": {"text": "nested does not count"}, "note": "n$i"}""",
    "",
    s"""{"id": "empty-$i", "text": ""}""",
    s"""{"text": "${esc(t7(i))}"}""")

  /** Whole-file `.json` bodies (variants 7/8/9): the single object is
    * PRETTY-PRINTED across lines (proving whole-value parse, not the
    * linewise shard machine); the array mixes retained objects with
    * droppable junk elements at pinned indexes.
    */
  private def jsonBody(i: Int): String = (i % 10) match {
    case 7 =>
      s"""{
         |  "id": "solo-$i",
         |  "meta": {"source": "api-dump", "page": ${i % 11}},
         |  "text": "${esc(t0(i))}"
         |}""".stripMargin
    case _ =>
      s"""[
         |  {"id": "exp-$i-0", "text": "${esc(t0(i))}"},
         |  42,
         |  {"note": "no text key here"},
         |  {"id": "empty-$i", "text": ""},
         |  {"url": "https://example.org/$i/x", "content": "${esc(t1(i))}"}
         |]""".stripMargin
  }

  def fileBytes(i: Int): Array[Byte] = {
    if (i % 10 >= 7) {
      val raw = (if (i % 10 == 7) "\uFEFF" + jsonBody(i) else jsonBody(i))
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      if (i % 10 != 9) return raw
      val bos = new java.io.ByteArrayOutputStream(raw.length)
      val gz = new java.util.zip.GZIPOutputStream(bos)
      gz.write(raw); gz.close()
      return bos.toByteArray
    }
    val sep = if (i % 10 == 1) "\r\n" else "\n"
    val body = lines(i).mkString("", sep, sep)
    val prefixed = if (i % 10 == 0) "\uFEFF" + body else body
    val raw = prefixed.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    (i % 10) match {
      case 2 =>
        val bos = new java.io.ByteArrayOutputStream(raw.length)
        val gz = new java.util.zip.GZIPOutputStream(bos)
        gz.write(raw); gz.close()
        bos.toByteArray
      case 3 =>
        val bos = new java.io.ByteArrayOutputStream(raw.length)
        val z = new org.apache.commons.compress.compressors.zstandard
          .ZstdCompressorOutputStream(bos)
        z.write(raw); z.close()
        bos.toByteArray
      case 4 =>
        val bos = new java.io.ByteArrayOutputStream(raw.length)
        val x = new org.apache.commons.compress.compressors.xz
          .XZCompressorOutputStream(bos)
        x.write(raw); x.close()
        bos.toByteArray
      case 5 =>
        val bos = new java.io.ByteArrayOutputStream(raw.length)
        val l = new org.apache.commons.compress.compressors.lz4
          .FramedLZ4CompressorOutputStream(bos)
        l.write(raw); l.close()
        bos.toByteArray
      case 6 =>
        val bos = new java.io.ByteArrayOutputStream(raw.length)
        val sn = new org.apache.commons.compress.compressors.snappy
          .FramedSnappyCompressorOutputStream(bos)
        sn.write(raw); sn.close()
        bos.toByteArray
      case _ => raw
    }
  }

  def write(dir: String, n: Int): Unit =
    (0 until n).foreach { i =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, fileName(i)), fileBytes(i)): Unit
    }

  /** Ground truth after ingest fan-out: retained lines 0,1,3,7 with
    * their physical line numbers and id conventions.
    */
  def expectedDoc(i: Int): Seq[GtRow] = {
    val f = fileName(i)
    (i % 10) match {
      case 7 => Seq(GtRow(f, "text", t0(i), null, 0)) // the file IS the doc
      case 8 | 9 => Seq(                        // array fan-out
        GtRow(s"$f#r0:exp-$i-0", "text", t0(i), null, 0),
        GtRow(s"$f#r4:https://example.org/$i/x", "text", t1(i), null, 0))
      case _ => Seq(
        GtRow(s"$f#L0:doc-$i-0", "text", t0(i), null, 0),
        GtRow(s"$f#L1:https://example.org/$i/a", "text", t1(i), null, 0),
        GtRow(s"$f#L3:${9000 + i}", "text", t3(i), null, 0),
        GtRow(s"$f#L7:", "text", t7(i), null, 0))
    }
  }

  def expected(n: Int): Seq[GtRow] = (0 until n).flatMap(expectedDoc)
}
