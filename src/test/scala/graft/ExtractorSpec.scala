package graft

import graft.core._
import graft.extract.{Extractor, HtmlExtractor, Item, PdfTokenizer}
import graft.gen.CorpusGen
import graft.oracle.RefOracle
import org.scalatest.funsuite.AnyFunSuite

/** Dual-implementation equality: graft.extract.Extractor (Spark-side) vs
  * RefOracle (naive independent impl) over the deterministic corpus —
  * SURVEY.md §5 primary invariant: per-doc sequence equality on
  * (kind, text, media_ref, order).
  */
class ExtractorSpec extends AnyFunSuite {

  private def key(o: OutSpan) = (o.kind, o.text, o.media_ref, o.order)

  test("extractor matches oracle on 2000-doc corpus (seed 42)") {
    val docs = CorpusGen.corpus(42L, 2000)
    var checked = 0
    docs.foreach { d =>
      val got = Extractor.extract(d)
      val want = RefOracle.extract(d)
      assert(got.outSpans.map(key) == want.outSpans.map(key),
        s"outSpans mismatch for ${d.doc_id}:\n got=${got.outSpans.take(8)}\nwant=${want.outSpans.take(8)}")
      assert(got.chunks == want.chunks, s"chunks mismatch for ${d.doc_id}")
      checked += 1
    }
    assert(checked == 2000)
  }

  test("extractor matches oracle on a second seed (corpus-shape independence)") {
    CorpusGen.corpus(7L, 500).foreach { d =>
      assert(Extractor.extract(d).outSpans.map(key) ==
             RefOracle.extract(d).outSpans.map(key), d.doc_id)
    }
  }

  test("permutation invariance: shuffling a doc's spans never changes output") {
    val r = new java.util.Random(123)
    CorpusGen.corpus(42L, 300).foreach { d =>
      val base = Extractor.extract(d).outSpans.map(key)
      val shuffled = new scala.util.Random(r).shuffle(d.spans)
      assert(Extractor.extract(d.copy(spans = shuffled)).outSpans.map(key)
        == base, d.doc_id)
    }
  }

  test("empty / degenerate docs are total") {
    assert(Extractor.extract(InputDoc("empty", Vector.empty)).outSpans.isEmpty)
    assert(Extractor.extract(InputDoc("nullspans", null)).outSpans.isEmpty)
    val weird = InputDoc("w", Vector(
      Span("pdf", null, null, 0), Span("pdf", "", null, 1),
      Span("text", null, null, 2), Span("html", null, null, 3),
      Span("image", null, null, 4)))
    val out = Extractor.extract(weird).outSpans
    assert(out.map(_.kind) == Vector("text", "image"))
    assert(out.map(_.order) == Vector(0, 1))
    assert(RefOracle.extract(weird).outSpans.map(key) == out.map(key))
  }

  test("chunk ids: unique, format, numbering order (setup.sql:238-239)") {
    val re = "^.+_p\\d+_c\\d+$".r
    CorpusGen.corpus(42L, 500).foreach { d =>
      val cs = Extractor.extract(d).chunks
      assert(cs.map(_.chunk_id).distinct.size == cs.size, d.doc_id)
      cs.foreach(c => assert(re.matches(c.chunk_id), c.chunk_id))
      // numbering follows (page, x0, y0) sort, 1-based, global per doc
      val sorted = cs.sortBy(c => (c.page, c.bbox_x0, c.bbox_y0, c.bbox_y1, c.text))
      sorted.zipWithIndex.foreach { case (c, i) =>
        assert(c.chunk_id.endsWith(s"_c${i + 1}"), s"${d.doc_id} ${c.chunk_id}")
      }
    }
  }

  test("counts: media preserved bijectively; text spans passthrough") {
    CorpusGen.corpus(42L, 800).foreach { d =>
      val out = Extractor.extract(d).outSpans
      val inMedia = d.spans.filter(s => ExtractionSpec.MediaKinds(s.kind))
      val outMedia = out.filter(o => ExtractionSpec.MediaKinds(o.kind))
      assert(inMedia.map(_.media_ref).sorted ==
             outMedia.map(_.media_ref).sorted, d.doc_id)
      assert(d.spans.count(_.kind == "text") == out.count(_.kind == "text"))
    }
  }

  test("pdf reading order: top-to-bottom, left-to-right (streamlit_app.py:426)") {
    // one page, three boxes: top-left, top-right (same y), bottom
    val payload = Seq(
      "PG 612 792",
      "TX 300 700 50 10 right",
      "TX 50 700 50 10 left",
      "TX 50 100 50 10 bottom").mkString("\n")
    val d = InputDoc("ro", Vector(Span("pdf", payload, null, 0)))
    val texts = Extractor.extract(d).outSpans.map(_.text)
    assert(texts == Vector("left\n", "right\n", "bottom\n"))
  }

  test("page numbering continues across pdf spans of one doc") {
    val d = InputDoc("mp", Vector(
      Span("pdf", "PG 612 792\nTX 10 700 50 10 a", null, 0),
      Span("image", null, "media://x", 1),
      Span("pdf", "PG 612 792\nTX 10 700 50 10 b", null, 2)))
    val chunks = Extractor.extract(d).chunks
    assert(chunks.map(_.page).sorted == Vector(1, 2))
    assert(RefOracle.extract(d).chunks.map(_.page).sorted == Vector(1, 2))
    // media interleaved by offset between the two pdf spans
    assert(Extractor.extract(d).outSpans.map(_.kind) ==
           Vector("pdf", "image", "pdf"))
  }

  test("malformed op lines: bare PG skipped, 'PG ' defaults, TX NaN skipped") {
    // pinned by ExtractionSpec / PdfTokenizer scaladoc (ADVICE r01): both
    // implementations must agree on these exact boundary tokens
    val payload = Seq(
      "PG",                       // malformed: no trailing space → skipped
      "TX 10 700 50 10 first",    // lands on an implicit default page
      "PG ",                      // "PG " prefix with no dims → new page
      "TX NaN 700 50 10 bad-x",   // NaN coord → line skipped
      "TX 10 nan 50 10 bad-y",    // unparsable coord → line skipped
      "TX 10 700 50 10 second"    // on the "PG "-opened page 2
    ).mkString("\n")
    val d = InputDoc("mf", Vector(Span("pdf", payload, null, 0)))
    val got = Extractor.extract(d)
    val want = RefOracle.extract(d)
    assert(got.outSpans.map(key) == want.outSpans.map(key))
    assert(got.chunks == want.chunks)
    assert(got.outSpans.map(_.text) == Vector("first\n", "second\n"))
    assert(got.chunks.map(_.page) == Vector(1, 2))
  }

  test("degenerate page dims fall back to 612x792 (streamlit_app.py:182-189)") {
    val d = InputDoc("dd", Vector(
      Span("pdf", "TX 10 700 50 10 before-pg\nPG 0 0\nTX 10 1 50 10 x", null, 0)))
    val cs = Extractor.extract(d).chunks
    assert(cs.forall(c => c.page_width == 612.0 && c.page_height == 792.0))
    assert(cs.map(_.page).sorted == Vector(1, 2))
  }

  test("line and box grouping: newline-per-line get_text semantics (setup.sql:91)") {
    val payload = Seq(
      "PG 612 792",
      "TX 50 700 30 10 hello ",      // line 1, run 1
      "TX 80 700 30 10 world",       // line 1, run 2 (touching)
      "TX 50 688 60 10 second line"  // line 2 (gap 2 <= 5 → same box)
    ).mkString("\n")
    val d = InputDoc("lb", Vector(Span("pdf", payload, null, 0)))
    val out = Extractor.extract(d).outSpans
    assert(out.size == 1)
    assert(out.head.text == "hello world\nsecond line\n")
  }

  test("html boilerplate stripping (north-rule extension)") {
    val html = "<html><body><nav><a href=x>Home Products About</a></nav>" +
      "<p>This is the long main content paragraph of the page body.</p>" +
      "<p>tiny</p>" +
      "<footer>copyright notice twenty twenty six</footer></body></html>"
    val blocks = HtmlExtractor.extract(html)
    assert(blocks ==
      Vector("This is the long main content paragraph of the page body."))
  }

  test("html entity decoding order: &amp;lt; stays &lt;") {
    assert(HtmlExtractor.decodeEntities("&amp;lt; &lt; a&amp;b") == "&lt; < a&b")
  }

  test("html numeric character references: valid decode, invalid stay literal") {
    val d = HtmlExtractor.decodeEntities _
    assert(d("&#65;&#98;c") == "Abc")
    assert(d("&#x41;&#X62;") == "Ab")
    assert(d("&#x1F600;") == "😀") // supplementary plane
    assert(d("&#0;x") == "&#0;x")            // NUL: out of range
    assert(d("&#xD800;") == "&#xD800;")      // surrogate: literal
    assert(d("&#99999999;") == "&#99999999;") // 8 digits: literal
    assert(d("&#;&#x;&#") == "&#;&#x;&#")     // malformed: literal
    // documented pass-order quirks
    assert(d("&#38;lt;") == "<")     // numeric first, then named
    assert(d("&amp;#65;") == "&#65;") // &amp; last — no re-decode
    // ASCII-only digit classes: a fullwidth Unicode digit (U+FF11) is
    // NOT a hex digit here (Character.digit would accept it — the twin's
    // regex must stay in lockstep, review finding r04)
    assert(d("&#x１;") == "&#x１;")
    val fw = "<p>Fullwidth entity survives literally: &#x１; end here.</p>"
    val dfw = InputDoc("fw", Vector(Span("html", fw, null, 0)))
    assert(Extractor.extract(dfw).outSpans == RefOracle.extract(dfw).outSpans)
  }

  test("html raw-text elements: script/style interiors are invisible, both impls") {
    val html = "<p>Real paragraph content that is long enough here.</p>" +
      "<script>var a = \"</p><p>fake paragraph from script body\"; " +
      "if (a<b) { run(); }</script>" +
      "<style>p { color: red; } /* </p> trick comment */</style>" +
      "<p>Second real paragraph, also long enough to keep.</p>" +
      "<SCRIPT>case insensitive close</SCRIPT>" +
      "<p>Third real paragraph after the uppercase script.</p>"
    val blocks = HtmlExtractor.extract(html)
    assert(blocks == Vector(
      "Real paragraph content that is long enough here.",
      "Second real paragraph, also long enough to keep.",
      "Third real paragraph after the uppercase script."), blocks)
    // dual-impl equality over the full extraction path
    val doc = InputDoc("raw", Vector(Span("html", html, null, 0)))
    assert(Extractor.extract(doc).outSpans == RefOracle.extract(doc).outSpans)
    // unclosed script swallows the rest — honest data loss, no crash
    val unclosed = "<p>Kept paragraph long enough before the break.</p>" +
      "<script>never closed <p>gone forever</p>"
    assert(HtmlExtractor.extract(unclosed) ==
      Vector("Kept paragraph long enough before the break."))
    val d2 = InputDoc("uc", Vector(Span("html", unclosed, null, 0)))
    assert(Extractor.extract(d2).outSpans == RefOracle.extract(d2).outSpans)
    // self-closing script has no raw interior
    val selfc = "<script src=x/><p>Paragraph after self-closing script.</p>"
    assert(HtmlExtractor.extract(selfc) ==
      Vector("Paragraph after self-closing script."))
    val d3 = InputDoc("sc", Vector(Span("html", selfc, null, 0)))
    assert(Extractor.extract(d3).outSpans == RefOracle.extract(d3).outSpans)
  }

  test("html media spans: interleaving, boilerplate drop, attr grammar, both impls") {
    val html =
      "<nav>menu <img src=\"logo.png\"></nav>" +
      "<p>First real paragraph long enough to keep around.</p>" +
      "<img src=\"fig.png?a=1&amp;b=2\" alt=\"x\">" +
      "<script>var g = \"<img src='ghost.png'>\";</script>" +
      "<p>Inline <img src=innie.png> split paragraph body text here.</p>" +
      "<video controls><source src=\"clip.mp4\"></video>" +
      "<audio src=pod.mp3></audio>" +
      "<source src=orphan.bin>" +
      "<img alt=\"src=trap.png\" src=real.png>" +
      "<img data-src=lazy.png><img src><img src=\"\">" +
      "<img srcset=\"small.png 1x, big.png 2x\">" +
      "<img src=\"\" data-srcset=\" ds.png 480w, x.png\">" +
      "<img src=win.png srcset=\"lose.png 1x\">" +
      "<picture><source srcset=pic.png><img src=fb.png></picture>"
    val items = HtmlExtractor.items(html)
    assert(items == Vector(
      Item.Text("First real paragraph long enough to keep around."),
      Item.Media("image", "fig.png?a=1&b=2", false),
      // a media tag inside a not-yet-flushed block precedes that block
      Item.Media("image", "innie.png", false),
      Item.Text("Inline split paragraph body text here."),
      Item.Media("video", "clip.mp4", false),
      Item.Media("audio", "pod.mp3", false),
      Item.Media("image", "real.png", false),
      // lazy-load fallback chain: data-src / srcset first candidate /
      // data-srcset; src wins when non-empty; <source> inside
      // <picture> stays ignored (the <img> fallback carries the ref)
      Item.Media("image", "lazy.png", false),
      Item.Media("image", "small.png", false),
      Item.Media("image", "ds.png", false),
      Item.Media("image", "win.png", false),
      Item.Media("image", "fb.png", false)), items)
    // dual-impl equality over the full extraction path
    val d = InputDoc("m", Vector(Span("html", html, null, 0)))
    assert(Extractor.extract(d).outSpans == RefOracle.extract(d).outSpans)
    // grammar edges: trailing-slash-in-unquoted-value, first-src-wins,
    // stray '=', '/' between attributes, uppercase, entity in value
    val edge = "<p>Padding paragraph long enough to be kept here.</p>" +
      "<img src=x.png/><img src=a.png src=b.png><img = src=y.png>" +
      "<img/src=weird><IMG SRC=UP.PNG><img src=&#120;.png>"
    assert(HtmlExtractor.items(edge).collect {
      case Item.Media(_, r, _) => r } ==
      Vector("x.png/", "a.png", "y.png", "weird", "UP.PNG", "x.png"))
    val d2 = InputDoc("e", Vector(Span("html", edge, null, 0)))
    assert(Extractor.extract(d2).outSpans == RefOracle.extract(d2).outSpans)
  }

  test("negative class/id gate: junk-classed div/section drop, exact-token match, nesting pairs, both impls") {
    val html =
      "<p>Article body paragraph long enough to keep around fine.</p>" +
      "<div class=\"comments\"><p>First comment long enough to otherwise be kept.</p>" +
      "<div><p>A nested reply inside the thread, also long enough.</p>" +
      "<img src=th.png></div></div>" +
      "<div class=\"commentary\"><p>Commentary is content, not a comment thread, kept.</p></div>" +
      "<section id=\"social-share\"><p>Share buttons row long enough to matter.</p></section>" +
      "<div class=\"post cookie-banner\"><p>We value your privacy, accept our cookies now.</p></div>" +
      "<div class=badge><p>Badge classes do not hit the ad token by substring.</p></div>" +
      "<p>Closing body paragraph long enough to keep as well.</p>"
    val items = HtmlExtractor.items(html)
    assert(items == Vector(
      Item.Text("Article body paragraph long enough to keep around fine."),
      Item.Text("Commentary is content, not a comment thread, kept."),
      Item.Text("Badge classes do not hit the ad token by substring."),
      Item.Text("Closing body paragraph long enough to keep as well.")),
      items)
    val d = InputDoc("neg", Vector(Span("html", html, null, 0)))
    assert(Extractor.extract(d).outSpans == RefOracle.extract(d).outSpans)
    // mis-nested close still pairs by per-name depth in both impls
    val messy = "<div class=sidebar><p>junk long enough to be a block</p>" +
      "</section></div><p>After the sidebar, content long enough kept.</p>"
    assert(HtmlExtractor.items(messy) == Vector(
      Item.Text("After the sidebar, content long enough kept.")))
    val d2 = InputDoc("messy", Vector(Span("html", messy, null, 0)))
    assert(Extractor.extract(d2).outSpans == RefOracle.extract(d2).outSpans)
    // cross-name mis-nesting (ADVICE r05): both gates must release via
    // the per-name LIFO, so the trailing content survives in all impls
    val crossNest = "<div class=comments><section id=ads>" +
      "<p>buried junk long enough to form a block</p></div></section>" +
      "<p>Kept after cross-name mis-nested junk containers close.</p>"
    assert(HtmlExtractor.items(crossNest) == Vector(
      Item.Text(
        "Kept after cross-name mis-nested junk containers close.")))
    val d3 = InputDoc("crossnest", Vector(Span("html", crossNest, null, 0)))
    assert(Extractor.extract(d3).outSpans == RefOracle.extract(d3).outSpans)
  }

  test("html unicode whitespace (U+3000) normalizes identically in both impls") {
    // Character.isWhitespace covers these; regex \s does not — a r02
    // review found the oracle using \s+ and diverging here
    val html = "<p>alpha　beta gamma delta epsilon zeta eta</p>" +
      "<p> second block long enough to keep around here</p>"
    val d = InputDoc("ws", Vector(Span("html", html, null, 0)))
    val got = Extractor.extract(d).outSpans.map(key)
    assert(got == RefOracle.extract(d).outSpans.map(key))
    assert(got.head._2 == "alpha beta gamma delta epsilon zeta eta")
  }

  test("pdf escape/unescape roundtrip") {
    val s = "a\nb\\c \\n d\\"
    assert(PdfTokenizer.unescape(PdfTokenizer.escape(s)) == s)
  }
}
