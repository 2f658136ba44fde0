package graft.gen

import java.nio.charset.Charset
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.nio.file.{Files, Paths}

/** Deterministic email corpus: the ground-truth side of the
  * [[graft.extract.EmlExtractor]] MIME front end. Every message is
  * assembled HERE by hand (headers, boundaries, transfer encodings,
  * encoded words written out by this generator, never by the parser)
  * so `expected` is independent of the code under test. Twelve
  * variants cycle:
  *
  *   0  plain 7bit body
  *   1  quoted-printable windows-1252 body (soft line break, =XX)
  *   2  base64 UTF-8 body
  *   3  multipart/alternative (plain + html) → the PLAIN branch wins
  *   4  multipart/mixed: text + inline PNG part (by-reference media)
  *   5  multipart/related: html with a `cid:` image resolved to its
  *      attached part, media at tag position
  *   6  RFC 2047 B-encoded UTF-8 subject, 8bit UTF-8 body
  *   7  RFC 2047 Q-encoded iso-8859-1 subject (underscore = space)
  *   8  multipart/mixed with an attached .md DOCUMENT → fans out as
  *      its own InputDoc through the markdown front end
  *   9  base64 html part with charset=shift_jis (decoded windows-31j)
  *   10 attached .txt document + an attached mp3 (media by reference)
  *   11 nested multipart/mixed(alternative(plain, html), jpeg)
  */
object EmlGen {

  private val CRLF = "\r\n"
  private def cs(n: String): Charset = Charset.forName(n)

  def fileName(i: Int): String = f"msg$i%05d_v${i % 12}.eml"

  private def baseHeaders(i: Int, subject: String): Seq[String] = Seq(
    s"From: sender$i@example.org",
    s"To: list$i@example.net",
    s"Message-ID: <m$i@example.org>",
    "Date: Mon, 17 Aug 2026 10:00:00 +0000",
    "MIME-Version: 1.0",
    s"Subject: $subject")

  private def msg(headers: Seq[String], body: String): Array[Byte] =
    (headers.mkString("", CRLF, CRLF) + CRLF + body).getBytes(ISO_8859_1)

  /** Headers (ASCII) + raw body bytes — the 8bit-UTF-8 body path. */
  private def msgB(headers: Seq[String], body: Array[Byte]): Array[Byte] =
    (headers.mkString("", CRLF, CRLF) + CRLF).getBytes(ISO_8859_1) ++ body

  private def b64(bytes: Array[Byte]): String =
    java.util.Base64.getMimeEncoder(72, CRLF.getBytes(ISO_8859_1))
      .encodeToString(bytes)

  /** Hand-rolled quoted-printable for the generator (independent of
    * the parser's decoder): non-ASCII and '=' escaped, one soft break
    * inserted mid-body.
    */
  private def qp(text: String, charset: Charset): String = {
    // token per source byte, so the soft break can never split an =XX
    // escape
    val tokens = text.getBytes(charset).map { b =>
      val u = b & 0xff
      if (u == '='.toInt || u > 126 || u < 32) f"=$u%02X" else u.toChar.toString
    }
    val sb = new StringBuilder
    var broke = false
    tokens.foreach { t =>
      if (!broke && sb.length >= 20) { sb.append("=" + CRLF); broke = true }
      sb.append(t)
    }
    sb.toString
  }

  private val PngBytes: Array[Byte] =
    Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A,
      1, 2, 3, 4, 5, 6, 7, 8)
  private val JpgBytes: Array[Byte] =
    Array[Byte](0xFF.toByte, 0xD8.toByte, 0xFF.toByte, 0xE0.toByte,
      9, 8, 7, 6)
  private val Mp3Bytes: Array[Byte] =
    Array[Byte]('I', 'D', '3', 4, 0, 0, 1, 2, 3)

  private def plainBody(i: Int): String =
    s"Quarterly report $i is ready for review.\r\nNumbers improved again this cycle."
  private def htmlPara(i: Int): String =
    s"The archived discussion thread number $i keeps its full context here."

  def fileBytes(i: Int): Array[Byte] = (i % 12) match {
    case 0 =>
      msg(baseHeaders(i, s"Status update $i") ++ Seq(
        "Content-Type: text/plain; charset=utf-8"),
        plainBody(i))
    case 1 =>
      val t = s"Café budget — €$i total, détails attachés plus tard."
      msg(baseHeaders(i, s"Budget $i") ++ Seq(
        "Content-Type: text/plain; charset=windows-1252",
        "Content-Transfer-Encoding: quoted-printable"),
        qp(t, cs("windows-1252")))
    case 2 =>
      val t = s"中文邮件正文 number $i with multibyte payload."
      msg(baseHeaders(i, s"Chinese memo $i") ++ Seq(
        "Content-Type: text/plain; charset=utf-8",
        "Content-Transfer-Encoding: base64"),
        b64(t.getBytes(UTF_8)))
    case 3 =>
      val bnd = s"alt$i"
      msg(baseHeaders(i, s"Alternative $i") ++ Seq(
        s"""Content-Type: multipart/alternative; boundary="$bnd""""),
        s"""preamble ignored$CRLF--$bnd${CRLF}Content-Type: text/plain; charset=utf-8$CRLF$CRLF${plainBody(i)}$CRLF--$bnd${CRLF}Content-Type: text/html; charset=utf-8$CRLF$CRLF<html><body><p>${htmlPara(i)}</p></body></html>$CRLF--$bnd--${CRLF}epilogue""")
    case 4 =>
      val bnd = s"mix$i"
      msg(baseHeaders(i, s"Mixed $i") ++ Seq(
        s"""Content-Type: multipart/mixed; boundary="$bnd""""),
        s"""--$bnd${CRLF}Content-Type: text/plain; charset=utf-8$CRLF$CRLF${plainBody(i)}$CRLF--$bnd${CRLF}Content-Type: image/png$CRLF${"Content-Disposition: inline; filename=\"photo" + i + ".png\""}${CRLF}Content-Transfer-Encoding: base64$CRLF$CRLF${b64(PngBytes)}$CRLF--$bnd--""")
    case 5 =>
      val bnd = s"rel$i"
      msg(baseHeaders(i, s"Related $i") ++ Seq(
        s"""Content-Type: multipart/related; boundary="$bnd""""),
        s"""--$bnd${CRLF}Content-Type: text/html; charset=utf-8$CRLF$CRLF<html><body><p>${htmlPara(i)}</p><img src="cid:pic$i@example.org"><p>Second paragraph also long enough to clear the boilerplate gate $i.</p></body></html>$CRLF--$bnd${CRLF}Content-Type: image/jpeg$CRLF${s"Content-ID: <pic$i@example.org>"}${CRLF}Content-Transfer-Encoding: base64$CRLF$CRLF${b64(JpgBytes)}$CRLF--$bnd--""")
    case 6 =>
      val subj = s"約束状態 $i" // Japanese subject
      val enc = "=?utf-8?B?" +
        java.util.Base64.getEncoder.encodeToString(subj.getBytes(UTF_8)) +
        "?="
      msgB(baseHeaders(i, enc) ++ Seq(
        "Content-Type: text/plain; charset=utf-8",
        "Content-Transfer-Encoding: 8bit"),
        s"UTF-8 eight bit body ✓ number $i.".getBytes(UTF_8))
    case 7 =>
      val enc = s"=?iso-8859-1?Q?R=E9sum=E9_du_projet_$i?="
      msg(baseHeaders(i, enc) ++ Seq(
        "Content-Type: text/plain; charset=iso-8859-1",
        "Content-Transfer-Encoding: quoted-printable"),
        qp(s"Corps du message numéro $i, accents décodés.",
          cs("windows-1252")))
    case 8 =>
      val bnd = s"doc$i"
      val md = s"# Notes $i\n\nA markdown attachment paragraph with enough substance to read naturally."
      msg(baseHeaders(i, s"Docs $i") ++ Seq(
        s"""Content-Type: multipart/mixed; boundary="$bnd""""),
        s"""--$bnd${CRLF}Content-Type: text/plain; charset=utf-8$CRLF$CRLF${plainBody(i)}$CRLF--$bnd${CRLF}Content-Type: text/markdown; charset=utf-8$CRLF${"Content-Disposition: attachment; filename=\"notes" + i + ".md\""}${CRLF}Content-Transfer-Encoding: base64$CRLF$CRLF${b64(md.getBytes(UTF_8))}$CRLF--$bnd--""")
    case 9 =>
      val html =
        s"<html><body><p>日本語の段落です。 Shift JIS body paragraph number $i here.</p></body></html>"
      msg(baseHeaders(i, s"SJIS $i") ++ Seq(
        "Content-Type: text/html; charset=shift_jis",
        "Content-Transfer-Encoding: base64"),
        b64(html.getBytes(cs("windows-31j"))))
    case 10 =>
      val bnd = s"att$i"
      val txt = s"Attached plain document body $i, decoded through the text path."
      msg(baseHeaders(i, s"Attachments $i") ++ Seq(
        s"""Content-Type: multipart/mixed; boundary="$bnd""""),
        s"""--$bnd${CRLF}Content-Type: text/plain; charset=utf-8$CRLF$CRLF${plainBody(i)}$CRLF--$bnd${CRLF}Content-Type: text/plain; charset=utf-8$CRLF${"Content-Disposition: attachment; filename=\"readme" + i + ".txt\""}$CRLF$CRLF$txt$CRLF--$bnd${CRLF}Content-Type: audio/mpeg$CRLF${"Content-Disposition: attachment; filename=\"clip" + i + ".mp3\""}${CRLF}Content-Transfer-Encoding: base64$CRLF$CRLF${b64(Mp3Bytes)}$CRLF--$bnd--""")
    case _ =>
      val outer = s"out$i"
      val inner = s"in$i"
      msg(baseHeaders(i, s"Nested $i") ++ Seq(
        s"""Content-Type: multipart/mixed; boundary="$outer""""),
        s"""--$outer${CRLF}Content-Type: multipart/alternative; boundary="$inner"$CRLF$CRLF--$inner${CRLF}Content-Type: text/plain; charset=utf-8$CRLF$CRLF${plainBody(i)}$CRLF--$inner${CRLF}Content-Type: text/html; charset=utf-8$CRLF$CRLF<html><body><p>${htmlPara(i)}</p></body></html>$CRLF--$inner--$CRLF--$outer${CRLF}Content-Type: image/jpeg$CRLF${"Content-Disposition: inline; filename=\"nested" + i + ".jpg\""}${CRLF}Content-Transfer-Encoding: base64$CRLF$CRLF${b64(JpgBytes)}$CRLF--$outer--""")
  }

  def write(dir: String, n: Int): Unit = {
    Files.createDirectories(Paths.get(dir))
    (0 until n).foreach { i =>
      Files.write(Paths.get(dir, fileName(i)), fileBytes(i)): Unit
    }
  }

  /** Decoded payloads of the media parts, for byte-fetch recall
    * checks: media_ref tail → bytes.
    */
  def mediaBytes(i: Int): Map[String, Array[Byte]] = (i % 12) match {
    case 4 => Map(s"p1:photo$i.png" -> PngBytes)
    case 5 => Map("p1:part.jpeg" -> JpgBytes)
    case 10 => Map(s"p2:clip$i.mp3" -> Mp3Bytes)
    case 11 => Map(s"p1:nested$i.jpg" -> JpgBytes)
    case _ => Map.empty
  }

  /** Ground truth rows for the ex_eml query: (doc_id, kind, text,
    * media_ref TAIL — the `<file>#p…` form after path reduction, null
    * for text), in span order, main doc then attachment docs.
    */
  def expected(n: Int): Seq[GtRow] = (0 until n).flatMap(expectedDoc)

  /** One mbox spool holding messages `k*per until (k+1)*per`, framed
    * mboxo-style by THIS generator (separator lines + blank-line
    * framing written by hand, never by the parser).
    */
  def mboxName(k: Int): String = f"inbox$k%03d.mbox"

  def mboxBytes(k: Int, per: Int = 6): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    (0 until per).foreach { j =>
      val i = k * per + j
      bos.write(s"From sender$i@example.org Mon Aug 17 10:00:00 2026\r\n"
        .getBytes(ISO_8859_1))
      bos.write(fileBytes(i))
      bos.write("\r\n\r\n".getBytes(ISO_8859_1))
    }
    bos.toByteArray
  }

  def writeMbox(dir: String, nSpools: Int, per: Int = 6): Unit = {
    Files.createDirectories(Paths.get(dir))
    (0 until nSpools).foreach { k =>
      Files.write(Paths.get(dir, mboxName(k)), mboxBytes(k, per)): Unit
    }
  }

  /** Ground truth for the spool fan-out: every member message's rows
    * with its `<spool>#m<idx>` identity substituted (doc ids AND media
    * ref tails).
    */
  def expectedMbox(nSpools: Int, per: Int = 6): Seq[GtRow] =
    (0 until nSpools).flatMap { k =>
      (0 until per).flatMap { j =>
        val i = k * per + j
        val f = fileName(i)
        val p = s"${mboxName(k)}#m$j"
        expectedDoc(i).map(r => r.copy(
          doc_id = r.doc_id.replace(f, p),
          media_ref = Option(r.media_ref).map(_.replace(f, p)).orNull))
      }
    }

  /** Ground truth rows for ONE message (main doc + attachment docs). */
  def expectedDoc(i: Int): Seq[GtRow] = {
    val f = fileName(i)
    def subj(s: String) = GtRow(f, "text", "Subject: " + s, null, 0)
    (i % 12) match {
      case 0 => Seq(subj(s"Status update $i"),
        GtRow(f, "text", plainBody(i), null, 1))
      case 1 => Seq(subj(s"Budget $i"),
        GtRow(f, "text",
          s"Café budget — €$i total, détails attachés plus tard.",
          null, 1))
      case 2 => Seq(subj(s"Chinese memo $i"),
        GtRow(f, "text",
          s"中文邮件正文 number $i with multibyte payload.",
          null, 1))
      case 3 => Seq(subj(s"Alternative $i"),
        GtRow(f, "text", plainBody(i), null, 1))
      case 4 => Seq(subj(s"Mixed $i"),
        GtRow(f, "text", plainBody(i), null, 1),
        GtRow(f, "image", null, s"$f#p1:photo$i.png", 2))
      case 5 => Seq(subj(s"Related $i"),
        GtRow(f, "text", htmlPara(i), null, 1),
        GtRow(f, "image", null, s"$f#p1:part.jpeg", 2),
        GtRow(f, "text",
          s"Second paragraph also long enough to clear the boilerplate gate $i.",
          null, 3))
      case 6 => Seq(subj(s"約束状態 $i"),
        GtRow(f, "text", s"UTF-8 eight bit body ✓ number $i.", null, 1))
      case 7 => Seq(subj(s"Résumé du projet $i"),
        GtRow(f, "text",
          s"Corps du message numéro $i, accents décodés.",
          null, 1))
      case 8 =>
        Seq(subj(s"Docs $i"),
          GtRow(f, "text", plainBody(i), null, 1),
          GtRow(s"$f#a1:notes$i.md", "text", s"Notes $i", null, 0),
          GtRow(s"$f#a1:notes$i.md", "text",
            "A markdown attachment paragraph with enough substance to read naturally.",
            null, 1))
      case 9 => Seq(subj(s"SJIS $i"),
        GtRow(f, "text",
          s"日本語の段落です。 Shift JIS body paragraph number $i here.",
          null, 1))
      case 10 =>
        Seq(subj(s"Attachments $i"),
          GtRow(f, "text", plainBody(i), null, 1),
          GtRow(f, "audio", null, s"$f#p2:clip$i.mp3", 2),
          GtRow(s"$f#a1:readme$i.txt", "text",
            s"Attached plain document body $i, decoded through the text path.",
            null, 0))
      case _ => Seq(subj(s"Nested $i"),
        GtRow(f, "text", plainBody(i), null, 1),
        GtRow(f, "image", null, s"$f#p1:nested$i.jpg", 2))
    }
  }
}
