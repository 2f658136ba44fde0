package graft

import graft.extract.FeedExtractor
import graft.extract.Item.{Media, Text}
import graft.gen.FeedGen
import graft.sources.RawFiles
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

/** RSS/Atom front end: feed magic, entry fan-out, CDATA/escaped html
  * bodies, the stripped-text fallback, enclosure media, identity
  * precedence, against FeedGen's hand-assembled ground truth.
  */
class FeedSpec extends AnyFunSuite with BeforeAndAfterAll with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("feed magic: rss/feed/rdf roots accepted, generic xml and prose rejected") {
    assert(FeedExtractor.isFeed(FeedGen.fileBytes(0)))
    assert(FeedExtractor.isFeed(FeedGen.fileBytes(3)))
    assert(FeedExtractor.isFeed(
      "<?xml version=\"1.0\"?>\n<!-- c -->\n<rdf:RDF>x</rdf:RDF>"
        .getBytes(UTF_8)))
    assert(!FeedExtractor.isFeed(
      "<?xml version=\"1.0\"?><sitemap><url/></sitemap>".getBytes(UTF_8)))
    assert(!FeedExtractor.isFeed("plain words".getBytes(UTF_8)))
    // a non-feed .xml routes to the generic-XML front end; a
    // contentless one (self-closing root) vanishes entirely
    assert(RawFiles.decodeAny("site.xml",
      "<?xml version=\"1.0\"?><sitemap/>".getBytes(UTF_8), "").isEmpty)
    assert(RawFiles.decodeAny("site.xml",
      "<sitemap><loc>https://x/1</loc></sitemap>".getBytes(UTF_8), "")
      .flatMap(_.spans.map(_.text)) == Seq("https://x/1"))
  }

  test("entry machine: identity precedence, empty entries vanish, fallback text") {
    // variant 5: empty guid falls to <link>; the pubDate-only item drops
    val e5 = FeedExtractor.entries(FeedGen.fileBytes(5))
    assert(e5.length == 1)
    assert(e5.head.id == "https://example.org/clip/5")
    assert(e5.head.items.collect { case Media(k, _, _) => k } ==
      Vector("video"))
    // variant 2: escaped-html short description survives via fallback
    val e2 = FeedExtractor.entries(FeedGen.fileBytes(2))
    assert(e2.head.items.collect { case Text(t) => t } ==
      Vector("Episode 2", "short note 2"))
    assert(e2.head.items.collect { case Media(k, r, _) => (k, r) } ==
      Vector(("audio", "https://cdn.example/ep2.mp3")))
    // variant 1: CDATA html — media at tag position between blocks
    val e1 = FeedExtractor.entries(FeedGen.fileBytes(1))
    val kinds = e1.head.items.map {
      case Text(_) => "t"
      case Media(_, _, _) => "m"
    }
    assert(kinds == Vector("t", "t", "m", "t"))
  }

  test("ingest e2e: 24 generated feeds match FeedGen ground truth exactly") {
    val dir = tempDir("graft-feed-spec")
    FeedGen.write(dir.toString, 24)
    val got = RawFiles.read(spark, dir.toString).collect()
      .flatMap(d => d.spans.map(sp => (d.doc_id, sp.kind,
        Option(sp.text).orNull, Option(sp.media_ref).orNull, sp.offset)))
      .sortBy(r => (r._1, r._5))
    val want = FeedGen.expected(24)
      .map(r => (r.doc_id, r.kind, r.text, r.media_ref, r.ord))
      .sortBy(r => (r._1, r._5))
    assert(got.length == want.length,
      got.take(10).mkString("\n") + "\n---\n" + want.take(10).mkString("\n"))
    got.zip(want).foreach { case (g, w) => assert(g == w, s"\ngot  $g\nwant $w") }
    dir.toFile.listFiles.foreach(_.delete()); dir.toFile.delete(): Unit
  }

  test("mutation storm: corruption and truncation never crash the feed machine") {
    val rnd = new scala.util.Random(20260822L)
    val seeds = (0 until 6).map(FeedGen.fileBytes)
    (0 until 300).foreach { k =>
      val base = seeds(k % seeds.length).clone()
      (0 until 1 + rnd.nextInt(8)).foreach { _ =>
        base(rnd.nextInt(base.length)) = rnd.nextInt(256).toByte
      }
      val _ = RawFiles.decodeAny("f.rss", base, "")
    }
    val whole = FeedGen.fileBytes(1)
    (1 until whole.length by 19).foreach { n =>
      val _ = FeedExtractor.entries(java.util.Arrays.copyOf(whole, n))
    }
  }
}
