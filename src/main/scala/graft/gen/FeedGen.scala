package graft.gen

import java.nio.file.{Files, Paths}

/** Deterministic RSS/Atom feed corpus: the ground-truth side of the
  * [[graft.extract.FeedExtractor]] front end. Feed XML is assembled
  * HERE by hand (escaping, CDATA, attributes written by the
  * generator), so `expected` is independent of the parser. Six
  * variants cycle:
  *
  *   0  .rss  two items, plain-text descriptions
  *   1  .xml  RSS by content magic; CDATA html description with two
  *            paragraphs and an inline <img> at tag position
  *   2  .rss  podcast item: audio enclosure + a SHORT escaped-html
  *            description that exercises the stripped-text fallback
  *   3  .atom plain summary, id from <id>, alternate link ignored
  *   4  .xml  Atom by content magic; entity-escaped html content with
  *            an inline image + a rel="enclosure" png link
  *   5  .rss  media:content video + empty guid → id falls to <link>;
  *            plus an EMPTY item that must vanish
  */
object FeedGen {

  def fileName(i: Int): String = {
    val sfx = (i % 6) match {
      case 1 | 4 => "xml"
      case 3     => "atom"
      case _     => "rss"
    }
    f"feed$i%05d_v${i % 6}.$sfx"
  }

  private def rss(items: String): String =
    s"""<?xml version="1.0" encoding="UTF-8"?>
       |<rss version="2.0" xmlns:media="http://search.yahoo.com/mrss/">
       |<channel>
       |<title>Channel apparatus title (dropped)</title>
       |<link>https://example.org/feed</link>
       |<description>channel-level description is apparatus</description>
       |$items
       |</channel>
       |</rss>
       |""".stripMargin

  private def atom(entries: String): String =
    s"""<?xml version="1.0" encoding="UTF-8"?>
       |<feed xmlns="http://www.w3.org/2005/Atom">
       |<title>Feed apparatus title (dropped)</title>
       |<updated>2026-08-17T00:00:00Z</updated>
       |$entries
       |</feed>
       |""".stripMargin

  private def para1(i: Int): String =
    s"Syndicated first paragraph of article $i carries real substance."
  private def para2(i: Int): String =
    s"Second syndicated paragraph keeps the context for article $i."

  def fileBytes(i: Int): Array[Byte] = ((i % 6) match {
    case 0 => rss(
      s"""<item><title>Story A $i</title>
         |<guid>urn:item:$i:a</guid>
         |<description>${para1(i)}</description></item>
         |<item><title>Story B $i</title>
         |<guid>urn:item:$i:b</guid>
         |<description>${para2(i)}</description></item>""".stripMargin)
    case 1 => rss(
      s"""<item><title>Rich story $i</title>
         |<guid>urn:rich:$i</guid>
         |<description><![CDATA[<p>${para1(i)}</p><img src="https://cdn.example/art$i.jpg"><p>${para2(i)}</p>]]></description>
         |</item>""".stripMargin)
    case 2 => rss(
      s"""<item><title>Episode $i</title>
         |<guid>urn:ep:$i</guid>
         |<description>&lt;em&gt;short&lt;/em&gt; note $i</description>
         |<enclosure url="https://cdn.example/ep$i.mp3" length="123" type="audio/mpeg"/>
         |</item>""".stripMargin)
    case 3 => atom(
      s"""<entry><title>Atom note $i</title>
         |<id>tag:example.org,2026:$i</id>
         |<link rel="alternate" href="https://example.org/a/$i"/>
         |<summary>${para1(i)}</summary></entry>""".stripMargin)
    case 4 => atom(
      s"""<entry><title>Atom rich $i</title>
         |<id>tag:example.org,2026:rich:$i</id>
         |<content type="html">&lt;p&gt;${para1(i)}&lt;/p&gt;&lt;img src="https://cdn.example/fig$i.png"&gt;</content>
         |<link rel="enclosure" type="image/png" href="https://cdn.example/full$i.png"/>
         |</entry>""".stripMargin)
    case _ => rss(
      s"""<item><title>Clip story $i</title>
         |<guid></guid>
         |<link>https://example.org/clip/$i</link>
         |<description>${para1(i)}</description>
         |<media:content url="https://cdn.example/clip$i.mp4" type="video/mp4"/>
         |</item>
         |<item><pubDate>Mon, 17 Aug 2026</pubDate></item>""".stripMargin)
  }).getBytes(java.nio.charset.StandardCharsets.UTF_8)

  def write(dir: String, n: Int): Unit = {
    Files.createDirectories(Paths.get(dir))
    (0 until n).foreach { i =>
      Files.write(Paths.get(dir, fileName(i)), fileBytes(i)): Unit
    }
  }

  def expected(n: Int): Seq[GtRow] = (0 until n).flatMap(expectedDoc)

  def expectedDoc(i: Int): Seq[GtRow] = {
    val f = fileName(i)
    (i % 6) match {
      case 0 => Seq(
        GtRow(s"$f#e0:urn:item:$i:a", "text", s"Story A $i", null, 0),
        GtRow(s"$f#e0:urn:item:$i:a", "text", para1(i), null, 1),
        GtRow(s"$f#e1:urn:item:$i:b", "text", s"Story B $i", null, 0),
        GtRow(s"$f#e1:urn:item:$i:b", "text", para2(i), null, 1))
      case 1 =>
        val d = s"$f#e0:urn:rich:$i"
        Seq(
          GtRow(d, "text", s"Rich story $i", null, 0),
          GtRow(d, "text", para1(i), null, 1),
          GtRow(d, "image", null, s"https://cdn.example/art$i.jpg", 2),
          GtRow(d, "text", para2(i), null, 3))
      case 2 =>
        val d = s"$f#e0:urn:ep:$i"
        Seq(
          GtRow(d, "text", s"Episode $i", null, 0),
          // the escaped-html body has no gate-clearing block — the
          // stripped-text fallback keeps it
          GtRow(d, "text", s"short note $i", null, 1),
          GtRow(d, "audio", null, s"https://cdn.example/ep$i.mp3", 2))
      case 3 =>
        val d = s"$f#e0:tag:example.org,2026:$i"
        Seq(
          GtRow(d, "text", s"Atom note $i", null, 0),
          GtRow(d, "text", para1(i), null, 1))
      case 4 =>
        val d = s"$f#e0:tag:example.org,2026:rich:$i"
        Seq(
          GtRow(d, "text", s"Atom rich $i", null, 0),
          GtRow(d, "text", para1(i), null, 1),
          GtRow(d, "image", null, s"https://cdn.example/fig$i.png", 2),
          GtRow(d, "image", null, s"https://cdn.example/full$i.png", 3))
      case _ =>
        val d = s"$f#e0:https://example.org/clip/$i"
        Seq(
          GtRow(d, "text", s"Clip story $i", null, 0),
          GtRow(d, "text", para1(i), null, 1),
          GtRow(d, "video", null, s"https://cdn.example/clip$i.mp4", 2))
    }
  }
}
