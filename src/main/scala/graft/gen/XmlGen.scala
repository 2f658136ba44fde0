package graft.gen

import java.nio.charset.{Charset, StandardCharsets}
import java.nio.file.{Files, Paths}

/** Deterministic generic-XML fixtures + generator ground truth — the
  * fixture behind `ex_xml`. Files are assembled as raw strings (the
  * scanner never sees these literals) and the `expected*` rows are the
  * blocks this generator chose, written down independently of
  * [[graft.extract.XmlExtractor]]'s code.
  *
  * Variant mix (`i % 8`):
  *   0 — data-record catalog: one block per leaf element;
  *   1 — article with MIXED inline content (`re<em>mark</em>able`
  *       splices verbatim, the enclosing paragraph flushes once);
  *   2 — CDATA interior kept verbatim (`&amp;` is content there) +
  *       entity text (named, decimal, hex) outside;
  *   3 — ISO-8859-1 payload with a matching XML-decl `encoding=`
  *       (bytes genuinely single-byte accented);
  *   4 — UTF-16LE with BOM (the BOM is authoritative);
  *   5 — DOCTYPE internal subset, comments, PIs, and an unescaped
  *       bare `<` kept as content;
  *   6 — namespaces, attribute values containing `>`, self-closing
  *       separators;
  *   7 — apparatus-only file (comments + PI + empty elements): NO
  *       blocks, the document vanishes.
  */
object XmlGen {

  def fileName(i: Int): String = (i % 8) match {
    case 0 => f"catalog_$i%04d.xml"
    case 1 => f"article_$i%04d.xml"
    case 2 => f"snippets_$i%04d.xml"
    case 3 => f"livre_$i%04d.xml"
    case 4 => f"wide_$i%04d.xml"
    case 5 => f"legacy_$i%04d.xml"
    case 6 => f"ns_$i%04d.xml"
    case _ => f"husk_$i%04d.xml"
  }

  private def n0a(i: Int) = s"Widget $i"
  private def n0b(i: Int) = s"Primary widget m${(i * 71) % 883}."
  private def n0c(i: Int) = s"Gadget $i"
  private def n0d(i: Int) = s"Secondary gadget line $i."

  private def t1(i: Int) = s"Study title $i"
  private def p1a(i: Int) = s"Pre markable results for study $i."
  private def p1b(i: Int) = s"Second paragraph with a link m${(i * 73) % 883} inside."

  private def cd2(i: Int) = s"if (a < b && c > d) { swap &amp; go $i; }"
  private def en2(i: Int) = s"Fish & chips é <tag> row $i"

  private def fr3(i: Int) = s"Élève très motivé $i"

  private def w4(i: Int) = s"Wide text payload $i."

  private def lt5(i: Int) = s"Value is 3 < 4 and 5 > 2 in row $i."

  private def ns6a(i: Int) = s"Namespaced item $i."
  private def ns6b(i: Int) = s"After the break m${(i * 79) % 883}."

  def fileBytes(i: Int): Array[Byte] = (i % 8) match {
    case 0 =>
      s"""<?xml version="1.0"?>
<catalog>
  <item>
    <name>${n0a(i)}</name>
    <desc>${n0b(i)}</desc>
  </item>
  <item>
    <name>${n0c(i)}</name>
    <desc>${n0d(i)}</desc>
  </item>
</catalog>
""".getBytes(StandardCharsets.UTF_8)
    case 1 =>
      s"""<article>
  <title>${t1(i)}</title>
  <para>Pre <em>mark</em>able results for study $i.</para>
  <para>Second paragraph with <a href="http://x/$i">a link</a> m${(i * 73) % 883} inside.</para>
</article>
""".getBytes(StandardCharsets.UTF_8)
    case 2 =>
      s"""<doc>
  <code><![CDATA[if (a < b && c > d) { swap &amp; go $i; }]]></code>
  <note>Fish &amp; chips &#233; &lt;tag&gt; row&#x20;$i</note>
</doc>
""".getBytes(StandardCharsets.UTF_8)
    case 3 =>
      s"""<?xml version="1.0" encoding="ISO-8859-1"?>
<livre>
  <titre>${fr3(i)}</titre>
</livre>
""".getBytes(Charset.forName("ISO-8859-1"))
    case 4 =>
      ("\uFEFF" +
        s"""<?xml version="1.0" encoding="UTF-16"?>
<w><t>${w4(i)}</t></w>
""").getBytes(StandardCharsets.UTF_16LE)
    case 5 =>
      s"""<?xml version="1.0"?>
<!DOCTYPE doc [ <!ENTITY foo "bar"> <!ELEMENT doc (p)*> ]>
<!-- preamble comment with <p>decoy</p> inside -->
<doc>
  <?processing instruction dropped?>
  <p>Value is 3 < 4 and 5 &gt; 2 in row $i.</p>
</doc>
""".getBytes(StandardCharsets.UTF_8)
    case 6 =>
      s"""<ns:root xmlns:ns="urn:example" note="a>b">
  <ns:item rank='2>1'>${ns6a(i)}</ns:item>
  <sep/>
  <item>${ns6b(i)}</item>
</ns:root>
""".getBytes(StandardCharsets.UTF_8)
    case _ =>
      s"""<?xml version="1.0"?>
<!-- nothing but apparatus $i -->
<husk>
  <empty/>
  <blank>   </blank>
</husk>
""".getBytes(StandardCharsets.UTF_8)
  }

  /** Ground-truth rows for file `i` — the block texts this generator
    * chose, in document order (empty for the apparatus-only variant).
    */
  def expectedDoc(i: Int): Seq[(String, String)] = {
    val f = fileName(i)
    val texts: Seq[String] = (i % 8) match {
      case 0 => Seq(n0a(i), n0b(i), n0c(i), n0d(i))
      case 1 => Seq(t1(i), p1a(i), p1b(i))
      case 2 => Seq(cd2(i), en2(i))
      case 3 => Seq(fr3(i))
      case 4 => Seq(w4(i))
      case 5 => Seq(lt5(i))
      case 6 => Seq(ns6a(i), ns6b(i))
      case _ => Seq.empty
    }
    texts.map(t => (f, t))
  }

  def write(dir: String, n: Int): Unit = {
    val root = Paths.get(dir)
    Files.createDirectories(root)
    (0 until n).foreach { i =>
      Files.write(root.resolve(fileName(i)), fileBytes(i))
    }
  }

  def expected(n: Int): Seq[GtRow] =
    (0 until n).flatMap { i =>
      expectedDoc(i).zipWithIndex.map { case ((doc, t), k) =>
        GtRow(doc, "text", t, null, k)
      }
    }
}
