package perfbench

/** Independent BM25 top-k over the reference's chunk texts: Robertson k1/b
  * with the plus-one idf, tokens = fields of `lower(text)` split on single
  * spaces (empty fields count toward the document length). The arithmetic
  * follows the engine's expression order, so scores agree to the bit and
  * the (score desc, id asc) ranking is comparable exactly.
  */
final case class Bm25Twin(chunks: Seq[(String, String)]) {
  private val ids = chunks.map(_._1).toArray
  private val toks: Array[Array[String]] =
    chunks.map(c => c._2.toLowerCase(java.util.Locale.ROOT).split(" ", -1))
      .toArray
  private val n = ids.length.toLong
  private val avgdl = toks.map(_.length.toDouble).sum / n

  def size: Int = ids.length

  def topK(terms: Seq[String], k: Int, k1: Double = 1.2,
           b: Double = 0.75): Seq[(String, Double)] = {
    val tfs = toks.map(t => terms.map(term => t.count(_ == term)).toArray)
    val dfs = terms.indices.map(i => tfs.count(_(i) > 0).toLong)
    val scored = ids.indices.map { d =>
      val dl = toks(d).length.toDouble
      val score = terms.indices.map { i =>
        val tf = tfs(d)(i).toDouble
        val idf = math.log(1.0 + (n - dfs(i) + 0.5) / (dfs(i) + 0.5))
        idf * tf * (k1 + 1.0) / (tf + k1 * ((1.0 - b) + b * dl / avgdl))
      }.reduce(_ + _)
      (ids(d), score)
    }
    scored.sortBy { case (id, s) => (-s, id) }.take(k).map { case (id, s) =>
      (id, BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
  }
}
