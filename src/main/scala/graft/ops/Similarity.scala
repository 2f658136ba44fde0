package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Approximate-nearest-neighbor search over an embedding column
  * (array<float>). Brute-force cosine top-k as the exact baseline; a
  * random-hyperplane LSH-bucketed variant as the scale path (bucket-local
  * candidate generation instead of a full scan per query).
  */
object Similarity {

  /** Deterministic pseudo-random hyperplane sketch: nPlanes sign bits.
    * Plane p's normal component for dimension i is a hash-derived value
    * in [-0.5, 0.5): (xxhash64(p * 131071 + i) % 1024) / 1024 - 0.5.
    * Pure Catalyst; identical across runs and partitionings.
    */
  def hyperplaneSketch(vec: Column, nPlanes: Int): Column =
    graft.functions.Natives.hyperplaneSketch(vec, nPlanes)

  /** The pre-r06 composed form — the in-engine semantic reference the
    * native kernel is parity-tested against (OpsSpec); interpreted HOF
    * evaluation, not a hot path.
    */
  private[graft] def hyperplaneSketchComposed(vec: Column,
                                              nPlanes: Int): Column =
    aggregate(
      transform(sequence(lit(0), lit(nPlanes - 1)), p => {
        val dotp = aggregate(
          zip_with(vec, sequence(lit(0), size(vec) - 1), (x, i) => {
            val h = xxhash64(p * 131071 + i.cast("long"))
            x.cast("double") *
              ((pmod(h, lit(1024L)).cast("double") / 1024.0) - 0.5)
          }),
          lit(0.0), (s, v) => s + v)
        when(dotp > 0, call_function("shiftleft", lit(1L), p)).otherwise(0L)
      }),
      lit(0L), (acc, x) => acc.bitwiseOR(x))

  /** Deterministic text→vector embedder (feature-hashing projection,
    * [[graft.functions.TextEmbed]]): search and embedding-dedup compose
    * from raw text without a precomputed vectors table — the public
    * analog of the reference's managed EMBED step (setup.sql:187). One
    * codegen'd pass per row; swap in model vectors through the same
    * array<float> contract at deployment.
    */
  def embedText(text: Column, dim: Int): Column =
    graft.functions.Natives.textEmbed(text, dim)

  /** Exact brute-force cosine top-k for a single query vector: broadcast
    * the query as a literal array, one codegen'd scan, TakeOrderedAndProject
    * for the top-k (no full sort, no shuffle of vectors).
    */
  def bruteForceTopK(df: DataFrame, idCol: String, vecCol: String,
                     query: Array[Float], k: Int): DataFrame = {
    val q = array(query.map(v => lit(v.toDouble)): _*)
    df.select(col(idCol),
        Dedup.cosine(col(vecCol).cast("array<double>"), q).as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  // ---------- int8 scalar quantization (SQ8) ----------

  /** Symmetric max-abs int8 quantization — the SQ8 scheme of the
    * public ANN literature (Faiss ScalarQuantizer / ScaNN): per-vector
    * `scale` = max|x| / 127 (floored at 1e-30 so all-zero vectors stay
    * representable), `codes` = round(x / scale) HALF_UP clamped to
    * [-127, 127]. Embedding storage shrinks 4× (the memory bound of
    * ANN at corpus scale) and cosine needs NO dequantization —
    * identical scales cancel in the ratio, see [[codeCosine]].
    *
    * Two functions, not one: the scale must be materialized as its own
    * column in a PRECEDING projection and passed to [[int8Codes]] —
    * embedding the max-abs aggregate inside the codes lambda would
    * re-evaluate the O(d) reduction per element (O(d²)/row; Catalyst
    * does not hoist loop invariants out of higher-order functions, and
    * CollapseProject keeps the split because the alias is non-cheap
    * and referenced twice).
    */
  def int8Scale(vec: Column): Column =
    graft.functions.Natives.sq8Scale(vec)

  /** Codes for [[int8Scale]]'s scale column — see its scaladoc. */
  def int8Codes(vec: Column, scale: Column): Column =
    graft.functions.Natives.sq8Codes(vec, scale)

  /** Cosine over int8 code arrays: dot/(|a||b|) computed on the raw
    * integer codes — the per-vector scales cancel, so this equals the
    * cosine of the dequantized vectors exactly. Integer products are
    * ≤ 127², sums stay exact in double. Native codegen'd kernel
    * (`Natives.codeCosine`) — the composed HOF form was the
    * single-task 0.46 s hot spot of sim_sq8_topk.
    */
  def codeCosine(a: Column, b: Column): Column =
    graft.functions.Natives.codeCosine(a, b)

  /** Pre-r06 composed int8 forms — semantic references for the OpsSpec
    * parity tests of the native kernels.
    */
  private[graft] def int8ScaleComposed(vec: Column): Column =
    greatest(
      aggregate(transform(vec.cast("array<double>"), x => abs(x)),
        lit(0.0), (s, x) => greatest(s, x)) / 127.0, lit(1e-30))

  private[graft] def int8CodesComposed(vec: Column, scale: Column): Column =
    transform(vec.cast("array<double>"), x => greatest(lit(-127),
      least(lit(127), round(x / scale, 0).cast("int"))))

  private[graft] def codeCosineComposed(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x * y),
      lit(0.0), (s, v) => s + v)
    val na = sqrt(aggregate(transform(a, x => x * x),
      lit(0.0), (s, v) => s + v))
    val nb = sqrt(aggregate(transform(b, x => x * x),
      lit(0.0), (s, v) => s + v))
    dot / (na * nb)
  }

  // ---------- product quantization (PQ) ----------

  /** L2 norm of an embedding — materialize this in its OWN projection
    * and hand it to [[l2NormalizeWith]]: an O(d) reduction referenced
    * inside a per-element lambda would re-evaluate per element
    * (O(d²)/row — the [[int8Scale]] two-projection rule).
    */
  def l2Norm(vec: Column): Column =
    sqrt(aggregate(transform(vec.cast("array<double>"), x => x * x),
      lit(0.0), (s, v) => s + v))

  /** Unit-normalize against a pre-materialized [[l2Norm]] column;
    * all-zero vectors stay zero.
    */
  def l2NormalizeWith(vec: Column, norm: Column): Column =
    transform(vec.cast("array<double>"),
      x => when(norm > 0, x / norm).otherwise(lit(0.0)))

  /** Product-quantization codebooks (Jégou et al. 2011, the Faiss PQ
    * scheme): the (unit-normalized) vector splits into `m` contiguous
    * subvectors of dim/m dims; each subspace gets its own `ksub`-entry
    * codebook from squared-L2 k-means over a bounded deterministic
    * sample — training is O(sample) driver work like [[trainCentroids]],
    * identical at 100 MB and 100 TB. Storage per vector collapses from
    * 4·d bytes to m code bytes (32× at d=64, m=8 — the difference
    * between an index that fits executor memory and one that doesn't).
    *
    * Deterministic spec (mirrored op-for-op by the PlainOracles twin):
    * sample = `sampleN` smallest rows by (xxhash64(id), id); vectors
    * unit-normalized in double (zero stays zero); per subspace,
    * farthest-point init (seed 0 = first sample row; each next seed
    * maximizes squared-L2 distance to its nearest chosen seed, lowest
    * index on ties) then `iters` Lloyd rounds (first-min assignment,
    * mean updates, empty cells keep their previous codeword).
    */
  def trainPqCodebooks(df: DataFrame, idCol: String, vecCol: String,
                       m: Int, ksub: Int, sampleN: Int = 2000,
                       iters: Int = 5): Array[Array[Array[Double]]] = {
    val raw = df.orderBy(xxhash64(col(idCol)).asc, col(idCol).asc)
      .limit(sampleN).select(col(vecCol)).collect()
      .map(_.getSeq[Float](0).toArray)
    require(raw.nonEmpty, "trainPqCodebooks: empty input")
    val dim = raw.head.length
    require(dim % m == 0, s"trainPqCodebooks: dim $dim not divisible by $m")
    val dsub = dim / m
    val sample = raw.map(normalizeD)
    Array.tabulate(m) { j =>
      kmeansL2(sample.map(v => java.util.Arrays.copyOfRange(
        v, j * dsub, (j + 1) * dsub)), ksub, iters)
    }
  }

  /** Encode the corpus against PQ codebooks: one codegen'd projection —
    * normalize (norm in its own projection), then per subspace an
    * argmin squared-L2 scan over the codebook literals (lowest code on
    * exact ties, the [[ivfAssign]] first-occurrence rule). Zero
    * shuffles; `codes` is an m-entry int array.
    */
  def pqEncode(df: DataFrame, idCol: String, vecCol: String,
               books: Array[Array[Array[Double]]]): DataFrame =
    // native codegen'd kernel (graft.functions.Natives.pqEncode): the
    // composed form evaluated m·ksub interpreted zip_with/aggregate
    // lambdas per row; arithmetic (normalize → per-subspace first-min
    // squared L2) is replicated op-for-op — OpsSpec pins parity against
    // [[pqEncodeComposed]]
    df.select(col(idCol),
      graft.functions.Natives.pqEncode(col(vecCol), books)
        .as("codes"))

  /** Pre-r06 composed PQ encode — the OpsSpec parity reference. */
  private[graft] def pqEncodeComposed(df: DataFrame, idCol: String,
      vecCol: String, books: Array[Array[Array[Double]]]): DataFrame = {
    val m = books.length
    val dsub = books(0)(0).length
    val normed = df
      .select(col(idCol), col(vecCol), l2Norm(col(vecCol)).as("nrm"))
      .select(col(idCol),
        l2NormalizeWith(col(vecCol), col("nrm")).as("nv"))
    val codeCols = (0 until m).map { j =>
      val bookLit = array(books(j).map(cw =>
        array(cw.map(lit(_)): _*)): _*)
      val sub = slice(col("nv"), j * dsub + 1, dsub)
      val dists = transform(bookLit, c =>
        aggregate(zip_with(sub, c, (x, y) => (x - y) * (x - y)),
          lit(0.0), (s, v) => s + v))
      (array_position(dists, array_min(dists)) - 1).cast("int")
    }
    normed.select(col(idCol), array(codeCols: _*).as("codes"))
  }

  /** ADC lookup table for one query: lut(j)(c) = dot(normalized query's
    * subvector j, codeword c) — m·ksub doubles computed once on the
    * driver, broadcast as literals into [[pqAdcScore]].
    */
  def pqQueryLut(query: Array[Float],
                 books: Array[Array[Array[Double]]])
      : Array[Array[Double]] = {
    val dsub = books(0)(0).length
    val q = normalizeD(query)
    books.zipWithIndex.map { case (book, j) =>
      book.map { cw =>
        var s = 0.0; var i = 0
        while (i < dsub) { s += q(j * dsub + i) * cw(i); i += 1 }
        s
      }
    }
  }

  /** Asymmetric-distance score: Σ_j lut(j)(code_j) ≈ cosine(query, v)
    * for unit-normalized vectors — the scan touches ONLY the m-byte
    * codes plus m table lookups per row; the original embeddings never
    * load. This is why PQ is the 100 TB read path.
    */
  def pqAdcScore(codes: Column, lut: Array[Array[Double]]): Column =
    graft.functions.Natives.adcScore(codes, lut)

  /** Pre-r06 composed ADC score — the OpsSpec parity reference. */
  private[graft] def pqAdcScoreComposed(codes: Column,
                                        lut: Array[Array[Double]]): Column =
    lut.zipWithIndex.map { case (row, j) =>
      element_at(array(row.map(lit(_)): _*),
        element_at(codes, j + 1) + 1)
    }.reduce(_ + _)

  /** Driver-side unit normalize, the same double arithmetic as the
    * Catalyst [[l2NormalizeWith]] path (ascending-index sum).
    */
  private def normalizeD(v: Array[Float]): Array[Double] = {
    var s = 0.0; var i = 0
    while (i < v.length) { s += v(i).toDouble * v(i).toDouble; i += 1 }
    val n = math.sqrt(s)
    val out = new Array[Double](v.length)
    i = 0
    while (i < v.length) {
      out(i) = if (n > 0) v(i).toDouble / n else 0.0
      i += 1
    }
    out
  }

  /** Squared-L2 k-means with the deterministic spec of
    * [[trainPqCodebooks]] — farthest-point init, first-min assignment,
    * empty-cell carry-over.
    */
  private def kmeansL2(points: Array[Array[Double]], k0: Int,
                       iters: Int): Array[Array[Double]] = {
    def sq(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    val k = math.min(k0, points.length)
    val dsub = points.head.length
    val seeds = new Array[Int](k)
    seeds(0) = 0
    val nearestD = Array.fill(points.length)(Double.MaxValue)
    var chosen = 1
    while (chosen < k) {
      val last = points(seeds(chosen - 1))
      var i = 0
      while (i < points.length) {
        val d = sq(points(i), last)
        if (d < nearestD(i)) nearestD(i) = d
        i += 1
      }
      var bestI = -1; var bestD = -1.0
      i = 0
      while (i < points.length) {
        var taken = false
        var c = 0
        while (c < chosen) { if (seeds(c) == i) taken = true; c += 1 }
        if (!taken && nearestD(i) > bestD) { bestD = nearestD(i); bestI = i }
        i += 1
      }
      seeds(chosen) = bestI
      chosen += 1
    }
    var cents = seeds.map(points(_).clone())
    var it = 0
    while (it < iters) {
      val sums = Array.fill(cents.length)(new Array[Double](dsub))
      val counts = new Array[Long](cents.length)
      points.foreach { p =>
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < cents.length) {
          val d = sq(cents(c), p)
          if (d < bestD) { bestD = d; best = c } // first min wins
          c += 1
        }
        counts(best) += 1
        var i = 0
        while (i < dsub) { sums(best)(i) += p(i); i += 1 }
      }
      cents = Array.tabulate(cents.length) { c =>
        if (counts(c) == 0) cents(c)
        else Array.tabulate(dsub)(i => sums(c)(i) / counts(c))
      }
      it += 1
    }
    cents
  }

  /** IVF-style ANN: assign every vector to its nearest of `nCells`
    * deterministic centroids (the centroids are the first nCells vectors
    * by id — a deterministic "training sample"), search only the query's
    * `nProbe` nearest cells.
    *
    * Cell assignment is a ZERO-SHUFFLE argmax scan (VERDICT r01 #4): the
    * centroids ride along as literal arrays inside one codegen'd
    * projection — per-row `transform` computes all nCells cosines, and
    * `array_position(sims, array_max(sims))` picks the best cell, first
    * occurrence = lowest cell_id on exact ties (same tie-break as the old
    * row_number formulation, parity-pinned in OpsSpec). No crossJoin row
    * explosion, no Exchange — at 100 TB this is one pass over the table.
    */
  def ivfIndex(df: DataFrame, idCol: String, vecCol: String, nCells: Int)
      : DataFrame = {
    // cast at collect so integral ids and double vectors work too (the
    // r01 formulation was type-generic; keep that property)
    val centroids = df.orderBy(col(idCol).asc).limit(nCells)
      .select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
      .collect()
      .map { r =>
        require(!r.isNullAt(0),
          s"ivfIndex: id column '$idCol' must be numeric and non-null")
        (r.getLong(0), r.getSeq[Float](1).toArray)
      }
    ivfAssign(df, idCol, vecCol, centroids)
  }

  /** Sample-trained IVF codebook (the FAISS pattern: train k-means on a
    * bounded sample driver-side, assign the full corpus with the
    * zero-shuffle [[ivfAssign]] scan — training cost is O(sample), never
    * O(corpus), so it is the same at 100 TB as at 100 MB).
    *
    * Deterministic: the sample is the `sampleN` smallest xxhash64(id)
    * rows (a seeded uniform draw that any executor count reproduces),
    * Lloyd iterations use cosine assignment with lowest-cell tie-break
    * (same rule as ivfAssign) and mean-vector updates; empty cells keep
    * their previous centroid. Returned cell ids are 0..nCells-1.
    */
  def trainCentroids(df: DataFrame, idCol: String, vecCol: String,
                     nCells: Int, sampleN: Int = 10000, iters: Int = 5)
      : Array[(Long, Array[Float])] = {
    val sample = df
      .orderBy(xxhash64(col(idCol)).asc, col(idCol).asc)
      .limit(sampleN)
      .select(col(vecCol)).collect()
      .map(_.getSeq[Float](0).toArray)
    require(sample.nonEmpty, "trainCentroids: empty input")
    val dim = sample.head.length
    def cosD(a: Array[Double], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < dim) { dot += a(i) * b(i); na += a(i) * a(i)
        nb += b(i).toDouble * b(i); i += 1 }
      if (na == 0 || nb == 0) -2.0
      else dot / (math.sqrt(na) * math.sqrt(nb))
    }
    // deterministic farthest-point init (k-means++-style, no RNG): each
    // next seed is the sample vector least similar to its nearest chosen
    // seed — avoids the collapsed-init local optimum of first-k seeding.
    // Incremental nearest-sim tracking keeps it O(k * sample * dim).
    val k = math.min(nCells, sample.length)
    val seeds = new Array[Int](k)
    seeds(0) = 0
    val nearestSim = Array.fill(sample.length)(-3.0)
    var chosen = 1
    while (chosen < k) {
      val last = sample(seeds(chosen - 1)).map(_.toDouble)
      var i = 0
      while (i < sample.length) {
        val s = cosD(last, sample(i))
        if (s > nearestSim(i)) nearestSim(i) = s
        i += 1
      }
      var bestI = 0; var bestScore = 4.0
      i = 0
      while (i < sample.length) {
        var taken = false
        var c = 0
        while (c < chosen) { if (seeds(c) == i) taken = true; c += 1 }
        if (!taken && nearestSim(i) < bestScore) {
          bestScore = nearestSim(i); bestI = i
        }
        i += 1
      }
      seeds(chosen) = bestI
      chosen += 1
    }
    var cents = seeds.map(i => sample(i).map(_.toDouble))
    var it = 0
    while (it < iters) {
      val sums = Array.fill(cents.length)(new Array[Double](dim))
      val counts = new Array[Long](cents.length)
      sample.foreach { v =>
        var best = 0; var bestSim = -3.0
        var c = 0
        while (c < cents.length) {
          val s = cosD(cents(c), v)
          if (s > bestSim) { bestSim = s; best = c }
          c += 1
        }
        counts(best) += 1
        var i = 0
        while (i < dim) { sums(best)(i) += v(i); i += 1 }
      }
      cents = Array.tabulate(cents.length) { c =>
        if (counts(c) == 0) cents(c)
        else Array.tabulate(dim)(i => sums(c)(i) / counts(c))
      }
      it += 1
    }
    cents.zipWithIndex.map { case (c, i) =>
      (i.toLong, c.map(_.toFloat))
    }
  }

  /** Assignment against explicit centroids (driver-held: nCells entries,
    * a few KB–MB — the IVF codebook is always broadcast-scale).
    */
  def ivfAssign(df: DataFrame, idCol: String, vecCol: String,
                centroids: Array[(Long, Array[Float])]): DataFrame = {
    require(centroids.nonEmpty, "ivfAssign requires at least one centroid")
    // native codegen'd argmax kernel (graft.functions.Natives.bestCell): the
    // composed form ran nCells interpreted HOF cosines per row; the
    // kernel replicates the double-product cosine, Double.compare
    // ordering and first-occurrence (lowest cell id) tie-break exactly
    // (OpsSpec parity vs [[ivfAssignComposed]])
    val sorted = centroids.sortBy(_._1)
    df.select(col(idCol), col(vecCol),
      graft.functions.Natives.bestCell(col(vecCol),
        sorted.map(_._2.map(_.toDouble)), sorted.map(_._1)).as("cell_id"))
  }

  /** Pre-r06 composed IVF assignment — the OpsSpec parity reference. */
  private[graft] def ivfAssignComposed(df: DataFrame, idCol: String,
      vecCol: String, centroids: Array[(Long, Array[Float])]): DataFrame = {
    val sorted = centroids.sortBy(_._1)
    val centVecs = array(sorted.map { case (_, v) =>
      array(v.map(x => lit(x.toDouble)): _*) }: _*)
    val centIds = array(sorted.map { case (id, _) => lit(id) }: _*)
    df.select(col(idCol), col(vecCol),
        transform(centVecs,
          c => Dedup.cosineComposed(col(vecCol).cast("array<double>"), c))
          .as("sims"))
      .withColumn("cell_id",
        element_at(centIds,
          array_position(col("sims"), array_max(col("sims"))).cast("int")))
      .select(col(idCol), col(vecCol), col("cell_id"))
  }

  /** ANN top-k through the IVF index: probe the nProbe cells nearest to
    * the query, brute-force within them.
    */
  def ivfTopK(indexed: DataFrame, idCol: String, vecCol: String,
              centroids: Array[(Long, Array[Float])],
              query: Array[Float], k: Int, nProbe: Int): DataFrame = {
    // double products (not float) — same semantics as the engine-side
    // cast("array<double>") cosine and the DuckDB twin, so the probe-cell
    // ranking can't flip on float-precision near-ties
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val probeCells = centroids
      .sortBy { case (id, c) => (-cos(c, query), id) }
      .take(nProbe).map(_._1)
    val q = array(query.map(v => lit(v.toDouble)): _*)
    indexed.where(col("cell_id").isin(probeCells: _*))
      .select(col(idCol),
        Dedup.cosine(col(vecCol).cast("array<double>"), q).as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }
}
