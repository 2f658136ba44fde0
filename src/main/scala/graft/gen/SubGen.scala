package graft.gen

/** Deterministic subtitle fixtures + generator ground truth — the
  * fixture behind `ex_subs`. Files are assembled as raw strings (the
  * reader's cue machine never sees these literals) and the `expected*`
  * rows are the cue texts this generator chose.
  *
  * Variant mix (`i % 6`):
  *   0 — `.srt` basics: indexed cues, comma-millis timings, one
  *       two-line cue;
  *   1 — `.srt` with formatting tags, position settings after the
  *       timing, a CRLF+BOM encoding, and a ROLLING duplicate cue
  *       that must collapse;
  *   2 — `.vtt` full form: header metadata block, a NOTE block
  *       (drops), cue ids, `<v Speaker>` voice tags and entities;
  *   3 — `.vtt` short-form `MM:SS.mmm` timings + inline karaoke
  *       timestamps stripping mid-word;
  *   4 — SubRip content lying under a `.txt` suffix (the at-byte-0
  *       magic reroute);
  *   5 — a `.srt` holding plain prose (no timing line): NO cues, no
  *       mojibake.
  */
object SubGen {

  def fileName(i: Int): String = (i % 6) match {
    case 0 => f"film_$i%04d.srt"
    case 1 => f"film_$i%04d.srt"
    case 2 => f"talk_$i%04d.vtt"
    case 3 => f"talk_$i%04d.vtt"
    case 4 => f"lecture_$i%04d.txt"
    case _ => f"film_$i%04d.srt"
  }

  private def c0(i: Int) = s"Opening line of film $i."
  private def c1a(i: Int) = s"Second cue first row $i,"
  private def c1b(i: Int) = s"and its second row m${(i * 73) % 883}."
  private def c2(i: Int) = s"Final cue of film $i."

  private def tag1a(i: Int) = s"Italic opener $i."
  private def tag1b(i: Int) = s"Rolled caption stays once $i."
  private def tag1c(i: Int) = s"Closer with font $i."

  private def v2a(i: Int) = s"Welcome to talk $i."
  private def v2b(i: Int) = s"Slides & notes for m${(i * 79) % 883}."
  private def v2c(i: Int) = s"Thank you, room $i."

  private def k3a(i: Int) = s"Karaoke words land mid-cue $i."
  private def k3b(i: Int) = s"Short timings still parse $i."

  private def t4a(i: Int) = s"Misnamed lecture caption $i."
  private def t4b(i: Int) = s"Still subtitles, not prose m${(i * 83) % 883}."

  def fileBytes(i: Int): Array[Byte] = {
    val s = (i % 6) match {
      case 0 =>
        s"""1
00:00:01,000 --> 00:00:03,250
${c0(i)}

2
00:00:03,400 --> 00:00:06,000
${c1a(i)}
${c1b(i)}

3
00:01:00,000 --> 00:01:02,500
${c2(i)}
"""
      case 1 =>
        "\uFEFF" + Seq(
          "1", "00:00:01,000 --> 00:00:02,000 X1:100 X2:500",
          s"<i>${tag1a(i)}</i>", "",
          "2", "00:00:02,000 --> 00:00:04,000",
          s"<font color=\"#fff\">${tag1b(i)}</font>", "",
          "3", "00:00:04,000 --> 00:00:06,000",
          tag1b(i), "", // rolling duplicate: collapses into cue 2
          "4", "00:00:06,000 --> 00:00:08,000",
          s"<b>${tag1c(i)}</b>", "").mkString("\r\n")
      case 2 =>
        s"""WEBVTT - talk $i
Kind: captions
Language: en

NOTE
This block is authoring apparatus and must drop.

intro
00:00:00.500 --> 00:00:02.000
<v Speaker $i>${v2a(i)}</v>

slides
00:00:02.000 --> 00:00:05.000 align:start
<c.yellow>${"Slides &amp; notes for m" + ((i * 79) % 883) + "."}</c>

00:00:05.000 --> 00:00:07.000
${v2c(i)}
"""
      case 3 =>
        s"""WEBVTT

00:01.000 --> 00:03.000
Karaoke <00:00:01.200>words <00:00:01.600>land mid-cue $i.

00:03.000 --> 00:05.000
${k3b(i)}
"""
      case 4 =>
        s"""1
00:00:01,000 --> 00:00:02,000
${t4a(i)}

2
00:00:02,000 --> 00:00:04,000
${t4b(i)}
"""
      case _ =>
        s"Plain prose memo $i.\nNo timings anywhere m${(i * 89) % 883}.\n"
    }
    s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
  }

  def write(dir: String, n: Int): Unit =
    (0 until n).foreach { i =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, fileName(i)), fileBytes(i)): Unit
    }

  /** Hand-written ground truth per variant. */
  def expectedDoc(i: Int): Seq[GtRow] = {
    val f = fileName(i)
    val cues: Seq[String] = (i % 6) match {
      case 0 => Seq(c0(i), s"${c1a(i)}\n${c1b(i)}", c2(i))
      case 1 => Seq(tag1a(i), tag1b(i), tag1c(i))
      case 2 => Seq(v2a(i), v2b(i), v2c(i))
      case 3 => Seq(k3a(i), k3b(i))
      case 4 => Seq(t4a(i), t4b(i))
      case _ => Nil
    }
    cues.zipWithIndex.map { case (t, o) => GtRow(f, "text", t, null, o) }
  }

  def expected(n: Int): Seq[GtRow] = (0 until n).flatMap(expectedDoc)
}
