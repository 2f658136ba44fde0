package perfbench

/** The benchmark's own arithmetic checks (`run.py --selftest` also runs a
  * workload with an injected wrong row and expects it to fail).
  */
object SelfTest {
  private var bad = 0
  private def expect(what: String, ok: Boolean): Unit = {
    println(s"[selftest] ${if (ok) "ok  " else "FAIL"} $what")
    if (!ok) bad += 1
  }

  def main(args: Array[String]): Unit = {
    // self time on a synthetic span tree (µs):
    //   root [0,100) ─ a [10,40) ─ a1 [15,20)
    //                ├ b [30,60)            (overlaps a: counted once)
    //                └ c [90,120)           (clipped to the root)
    val t = Seq(
      Span(0, -1, "root", 0, 100, "t"), Span(1, 0, "a", 10, 40, "t"),
      Span(2, 1, "a1", 15, 20, "t"), Span(3, 0, "b", 30, 60, "t"),
      Span(4, 0, "c", 90, 120, "t"))
    val self = SelfTime.of(t)
    expect(s"self times root=40 a=25 a1=5 b=30 c=30, got $self",
      self == Map(0 -> 40L, 1 -> 25L, 2 -> 5L, 3 -> 30L, 4 -> 30L))
    // a tree without overlaps: self times add up to the root's duration
    val flat = Seq(Span(0, -1, "run", 0, 1000, "t"),
      Span(1, 0, "job", 100, 400, "t"), Span(2, 1, "task", 150, 300, "t"),
      Span(3, 0, "job", 500, 900, "t"))
    expect("self times of a nested tree sum to the root duration",
      SelfTime.of(flat).values.sum == 1000L)

    // percentile picks name their sample counts
    val xs100 = (1 to 100).map(_.toDouble)
    val p90 = Stats.tail(xs100)
    expect(s"tail of n=100 is p90 with 10 beyond: $p90",
      p90.contains(Pick(90, 90.0, 100, 10)))
    expect("tail label states the count",
      p90.exists(_.label == "p90 of n=100 (10 beyond)"))
    val p80 = Stats.tail((1 to 50).map(_.toDouble))
    expect(s"tail of n=50 is p80: $p80", p80.exists(p => p.pct == 80 && p.n == 50))
    expect("no tail with fewer than ten samples beyond any pick",
      Stats.tail((1 to 15).map(_.toDouble)).isEmpty)
    expect("p75 of n=40 leaves 10 beyond",
      Stats.pct((1 to 40).map(_.toDouble), 75) == Pick(75, 30.0, 40, 10))
    expect("median of an even sample", Stats.median(Seq(4.0, 1, 3, 2)) == 2.5)

    // the BM25 twin ranks by score, then id
    val twin = Bm25Twin(Seq("c" -> "dose dose x", "a" -> "dose y z",
      "b" -> "dose y z", "d" -> "none here"))
    val top = twin.topK(Seq("dose"), 3).map(_._1)
    expect(s"bm25 twin order c,a,b: $top", top == Seq("c", "a", "b"))

    println(s"[selftest] ${if (bad == 0) "all passed" else s"$bad failed"}")
    System.exit(if (bad == 0) 0 else 1)
  }
}
