package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for web-scale training-data pipelines:
  * exact (hash-groupBy), n-gram Jaccard, MinHash+LSH, SimHash, and
  * embedding-cosine near-dup. Designed for the 100 TB case:
  *
  *  - exact dedup is a single hash aggregate on a 64/128-bit digest (no
  *    text shuffle — only the digest + id move);
  *  - MinHash/LSH shuffles (band, signature) pairs, never full texts;
  *    candidate pairs are verified within buckets only;
  *  - SimHash reduces each doc to 64 bits; banding on 16-bit sub-keys
  *    finds all pairs within Hamming distance 3 without an O(n^2) join.
  */
object Dedup {

  /** Exact dedup: keep the row with the smallest `idCol` per identical
    * `textCol` (md5 digest groupBy — the text itself never shuffles when
    * the caller passes a digest column). ≅ reference Q4 distinct, upgraded.
    */
  def exactDedupKeepers(df: DataFrame, idCol: String, textCol: String)
      : DataFrame =
    df.select(col(idCol), md5(col(textCol)).as("digest"))
      .groupBy("digest")
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("dup_count"))

  // ---------- shingles ----------

  /** w-word shingles of a whitespace-tokenized text, as an array column.
    * sequence+transform: pure Catalyst, no UDF.
    */
  def wordShingles(text: Column, w: Int): Column = {
    val toks = split(text, " ")
    val n = size(toks)
    when(n >= w,
      transform(sequence(lit(0), n - w),
        i => concat_ws(" ", slice(toks, i + 1, lit(w)))))
      .otherwise(array())
  }

  /** n-gram Jaccard similarity pairs: explode distinct shingles, self-join
    * on shingle, count common, Jaccard = common / (|A| + |B| - common).
    * Returns pairs with sim >= minSim, idA < idB. Scale note: the join is
    * on the shingle hash (64-bit), not the shingle text; frequent-shingle
    * skew is bounded by `maxShingleFreq` (drop stop-shingles — standard
    * practice, mirrors suffix-array dedup pipelines).
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        w: Int, minSim: Double,
                        maxShingleFreq: Long = 1000): DataFrame = {
    // (id, shingle-hash) is referenced three times below (sizes, freq
    // filter, self-join) — materialize once; it is 16 bytes/shingle,
    // orders of magnitude smaller than the text. Hashes come straight
    // from the native ShingleHashes byte-span scan (bit-identical to
    // xxhash64 over the materialized shingle string — no per-window
    // string allocation).
    val sh = df.select(col(idCol).as("id"),
        explode(array_distinct(graft.functions.Natives
          .shingleHashes(col(textCol), w))).as("sh"))
      .persist()
    // force the cache ONCE before the freq-filter join: AQE materializes
    // that join's two side stages (freq-agg chain, probe exchange)
    // CONCURRENTLY when it does not broadcast, so a lazy persist lets
    // both race to compute the same uncached shingle explode — the pass
    // would run twice per invocation (see minhashLshPairs)
    sh.count()
    // The filtered set is read three times below (sizes + both self-join
    // sides). r03's lazy-persist-everywhere variant let those reads race
    // on recomputing the freq-filter join under AQE (the one genuine
    // bench regression of that round); an EAGER checkpoint of the compact
    // (sh, id) rows materializes it once and gives AQE exact stats.
    val filtered = sh.join(
      sh.groupBy("sh").agg(count(lit(1)).as("f"))
        .where(col("f") <= maxShingleFreq).select("sh"), Seq("sh"))
      .localCheckpoint()
    // sh is dead once `filtered` is eagerly checkpointed — everything
    // below reads `filtered` only; dropping the cache keeps repeated
    // invocations from accumulating dead shingle blocks
    sh.unpersist()
    // sizes over the SAME filtered shingle universe as the common counts —
    // otherwise the Jaccard denominator includes shingles the numerator
    // can never match once stop-shingle filtering engages (ADVICE r01)
    val sizes = filtered.groupBy("id").agg(count(lit(1)).as("sz"))
    val common = filtered.as("a").join(filtered.as("b"),
        col("a.sh") === col("b.sh") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("common"))
    common
      .join(sizes.withColumnRenamed("id", "id_a")
                 .withColumnRenamed("sz", "sz_a"), Seq("id_a"))
      .join(sizes.withColumnRenamed("id", "id_b")
                 .withColumnRenamed("sz", "sz_b"), Seq("id_b"))
      .withColumn("jaccard",
        col("common").cast("double") /
          (col("sz_a") + col("sz_b") - col("common")).cast("double"))
      .where(col("jaccard") >= minSim)
      .select("id_a", "id_b", "jaccard")
  }

  /** Cross-document duplicated n-gram windows — the substring-level exact
    * dedup shape of Lee et al. 2022 ("Deduplicating Training Data Makes
    * Language Models Better"): emit (id, pos, n_docs) for every w-token
    * window whose content occurs in at least `minDocs` DISTINCT docs.
    * Callers cut or mask those spans. The join key is the window's
    * 64-bit hash (windows never shuffle their text); positions are
    * 0-based token offsets.
    *
    * Scale: two shuffles (hash-frequency aggregate + the hash join back),
    * both on (hash, id, pos) rows. The frequency side is a partial-agg
    * friendly countDistinct; the windows themselves are ~8B/token of
    * input — at petabyte scale use a Bloom-filter pre-pass on the
    * frequency side to keep the join build small.
    */
  def duplicatedWindows(df: DataFrame, idCol: String, textCol: String,
                        w: Int, minDocs: Int = 2): DataFrame = {
    val wnd = df.select(col(idCol).as("id"),
        posexplode(graft.functions.Natives
          .shingleHashes(col(textCol), w)))
      .select(col("id"), col("pos"), col("col").as("sh"))
      .localCheckpoint() // reuse point for the frequency agg + join back
    val dup = wnd.groupBy("sh")
      .agg(countDistinct(col("id")).as("n_docs"))
      .where(col("n_docs") >= minDocs)
    wnd.join(dup, Seq("sh")).select("id", "pos", "n_docs")
  }

  /** APPLY the [[duplicatedWindows]] cuts: rebuild each doc's text with
    * every token covered by a cross-document duplicated window removed
    * (the removal half of Lee et al. 2022). Relational formulation that
    * stays LINEAR in tokens (an earlier in-row lambda was
    * O(tokens x cuts x w) — quadratic on a heavily duplicated doc):
    * covered token positions are exploded + distinct'd, kept tokens are a
    * left_anti join on (id, pos), and the text is rebuilt with a
    * position-sorted collect_list. Returns (id, text_clean,
    * n_tokens_removed); docs without flagged windows pass through
    * unchanged, fully duplicated docs collapse to "".
    */
  def cutDuplicatedWindows(df: DataFrame, idCol: String, textCol: String,
                           w: Int, minDocs: Int = 2): DataFrame = {
    val covered = duplicatedWindows(df, idCol, textCol, w, minDocs)
      .select(col("id"),
        explode(sequence(col("pos"), col("pos") + w - 1)).as("p"))
      .distinct()
    val toksPos = df.select(col(idCol).as("id"),
      posexplode(split(col(textCol), " ")))
      .withColumnRenamed("pos", "p").withColumnRenamed("col", "tok")
    val rebuilt = toksPos.join(covered, Seq("id", "p"), "left_anti")
      .groupBy("id")
      .agg(
        concat_ws(" ",
          transform(array_sort(collect_list(struct(col("p"), col("tok")))),
            s => s.getField("tok"))).as("text_clean"),
        count(lit(1)).as("n_kept"))
    df.select(col(idCol).as("id"),
        size(split(col(textCol), " ")).cast("long").as("n_toks"))
      .join(rebuilt, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("text_clean"), lit("")).as("text_clean"),
        (col("n_toks") - coalesce(col("n_kept"), lit(0L)))
          .as("n_tokens_removed"))
  }

  /** Corpus-level SENTENCE dedup (the CCNet paragraph-hash pattern at
    * sentence granularity): every distinct sentence keeps only its
    * FIRST occurrence corpus-wide (ordered by (id, sent_id)); later
    * copies are cut and each doc's text is rebuilt from its kept
    * sentences — the boilerplate-sentence killer (nav strings, cookie
    * banners, licence footers) that doc-level dedup can't touch.
    *
    * Scale shape: occurrence ranking windows over xxhash64(sentence) —
    * that exchange carries (id, sent_id, hash) only, never text; the
    * cut set joins back on (id, sent_id) and the one text shuffle is
    * the final doc-keyed rebuild (same class as
    * [[cutDuplicatedWindows]]). Sentences via [[TextOps.sentences]]
    * (trimmed, blanks dropped, ids numbered before the blank filter);
    * the rebuild joins with single spaces (sentence-normalized output,
    * declared). Returns (id, clean_text, n_cut); sentence-less docs
    * drop (nothing to keep or cut).
    */
  def sentenceDedup(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sents = df.select(col(idCol).as("id"),
        posexplode(TextOps.sentences(col(textCol))))
      .select(col("id"), (col("pos") + 1).cast("long").as("sent_id"),
        trim(col("col")).as("sentence"))
      .where(col("sentence") =!= "")
    val cuts = sents
      .select(col("id"), col("sent_id"), xxhash64(col("sentence")).as("h"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("h").orderBy(col("id"), col("sent_id"))))
      .where(col("rn") > 1)
      .select(col("id"), col("sent_id"), lit(1).as("cut"))
    sents.join(cuts, Seq("id", "sent_id"), "left")
      .groupBy("id")
      .agg(
        concat_ws(" ",
          transform(array_sort(collect_list(when(col("cut").isNull,
              struct(col("sent_id"), col("sentence"))))),
            s => s.getField("sentence"))).as("clean_text"),
        sum(when(col("cut") === 1, 1L).otherwise(0L)).as("n_cut"))
  }

  /** Benchmark decontamination report (the GPT-3-appendix shape): per
    * corpus doc, how many of its w-token windows appear anywhere in the
    * benchmark/eval set. Windows join on 64-bit hashes; the benchmark's
    * distinct window-hash set is usually small enough to broadcast.
    * Returns (id, n_windows, n_contaminated, rate).
    */
  def contaminationReport(corpus: DataFrame, idCol: String, textCol: String,
                          bench: DataFrame, benchTextCol: String,
                          w: Int): DataFrame = {
    val cw = corpus.select(col(idCol).as("id"),
        explode(array_distinct(graft.functions.Natives
          .shingleHashes(col(textCol), w))).as("sh"))
    val bw = bench.select(
        explode(array_distinct(graft.functions.Natives
          .shingleHashes(col(benchTextCol), w))).as("sh"))
      .distinct()
    cw.join(broadcast(bw.withColumn("hit", lit(1L))), Seq("sh"), "left")
      .groupBy("id")
      .agg(count(lit(1)).as("n_windows"),
           sum(coalesce(col("hit"), lit(0L))).as("n_contaminated"))
      .withColumn("rate",
        col("n_contaminated").cast("double") /
          col("n_windows").cast("double"))
  }

  // ---------- MinHash + LSH ----------

  /** k-permutation MinHash signature over word shingles, as an array
    * column: sig[j] = min over shingles of xxhash64(shingle, seed_j).
    * Native codegen'd expression ([[graft.functions.MinHashSig]]) — the
    * composed form below pins its semantics in OpsSpec.
    */
  def minhashSignature(text: Column, w: Int, k: Int): Column =
    graft.functions.Natives.minhashSig(text, w, k)

  /** Pure-Catalyst composed formulation (transform + array_min over the
    * shingle array) — semantic twin of the native expression, kept as
    * the in-engine reference it is tested against. O(k x shingles)
    * string re-hashes per row: do not use on a hot path.
    */
  private[graft] def minhashSignatureComposed(text: Column, w: Int,
                                              k: Int): Column = {
    val shingles = wordShingles(text, w)
    val sig = transform(sequence(lit(0), lit(k - 1)), j =>
      array_min(transform(shingles, s => xxhash64(s, j))))
    when(size(shingles) > 0, sig).otherwise(null)
  }

  /** MinHash LSH candidate pairs: split the k-long signature into `bands`
    * bands of k/bands rows; docs sharing any band hash are candidates.
    * Emits distinct candidate pairs (id_a < id_b) with their estimated
    * Jaccard (fraction of equal signature positions).
    *
    * NOT a pure plan builder (r06): the signature and banded frames are
    * eagerly local-checkpointed (one job each) at CALL time so the
    * self-join's two side stages read checkpointed blocks instead of
    * racing to compute them — callers that only want the plan
    * (explain/plan dumps) pay the signature pass. The same holds for
    * every op in this object that checkpoints a frame before joining
    * it: the pairs-producing self-joins and [[duplicatedWindows]], whose
    * window frame feeds both its frequency aggregate and its join back.
    * Nothing is left in the session's cache: the checkpoint blocks are
    * freed once the returned frame is unreachable.
    *
    * Shuffle shape: the band self-join moves only (id, band, band-hash)
    * rows — 24 bytes x bands per doc; the k-long signatures shuffle ONCE
    * per doc in the two attach joins over the (much smaller, by the LSH
    * premise) deduplicated candidate set. r01 carried the full signature
    * through the band join, duplicating it `bands` times per side.
    */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      w: Int = 5, k: Int = 64, bands: Int = 16): DataFrame = {
    val rowsPerBand = k / bands
    val sigDf = df.select(col(idCol).as("id"),
        minhashSignature(col(textCol), w, k).as("sig"))
      .where(col("sig").isNotNull)
      .localCheckpoint() // signatures computed once: band join + 2 attaches
    val banded = sigDf.select(col("id"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)), b =>
          xxhash64(concat_ws(",",
            slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)))))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bh")
      // eager, before the self-join: AQE materializes the join's two
      // side stages CONCURRENTLY, so a lazily filled cache is computed by
      // both (two ~equal duplicate jobs per stage in every r06 dd_* bench
      // row); the join sides only read the checkpointed blocks
      .localCheckpoint()
    val candIds = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    val cand = candIds
      .join(sigDf.select(col("id").as("id_a"), col("sig").as("sig_a")),
        Seq("id_a"))
      .join(sigDf.select(col("id").as("id_b"), col("sig").as("sig_b")),
        Seq("id_b"))
    cand.withColumn("est_jaccard",
        size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y),
          b => b)).cast("double") / lit(k).cast("double"))
      .select("id_a", "id_b", "est_jaccard")
  }

  // ---------- SimHash ----------

  /** 64-bit SimHash over whitespace tokens: each token votes its
    * xxhash64 bits weighted +-1; the sign vector is the fingerprint.
    * Pure Catalyst: aggregate over a 64-slot vote array.
    */
  def simhash(text: Column): Column = {
    val toks = split(text, " ")
    val votes = aggregate(
      toks,
      array_repeat(lit(0L), 64),
      (acc, t) => {
        val h = xxhash64(t)
        zip_with(acc, sequence(lit(0), lit(63)),
          (a, bit) => a + when(call_function("shiftright", h, bit)
            .bitwiseAND(1L) === 1L, 1L).otherwise(-1L))
      })
    aggregate(
      zip_with(votes, sequence(lit(0), lit(63)),
        (v, bit) => when(v > 0, call_function("shiftleft", lit(1L), bit))
          .otherwise(0L)),
      lit(0L), (acc, x) => acc.bitwiseOR(x))
  }

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs within `maxHamming`: band the 64 bits into
    * `maxHamming + 1` keys; by pigeonhole any pair within the distance
    * shares at least one exact band → equi-join on (band, key), then
    * verify with bit_count. Recall is EXHAUSTIVE for every maxHamming
    * (r01 shipped a fixed 4-band split that silently dropped pairs at
    * distance > 3 — brute-force parity now pinned at 12 in OpsSpec and by
    * the driver's dd_simhash expected-table oracle).
    *
    * Scale note: band width is 64/(maxHamming+1) bits, so candidate
    * pruning power decays as the threshold grows — at maxHamming=12 the
    * ~5-bit bands give only 32 buckets per band. For web-scale corpora
    * keep maxHamming ≤ 3 (the Manku et al. WWW'07 operating point, 16-bit
    * bands); larger thresholds are for bounded candidate sets.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3): DataFrame = {
    // native codegen'd expression (graft.functions.SimHash64); the
    // composed-column twin `simhash` below pins its semantics in tests
    val fp = df.select(col(idCol).as("id"),
      graft.functions.Natives.simhash64(col(textCol)).as("fp"))
    hammingPairs64(fp, "id", "fp", maxHamming)
  }

  /** Generalized Hamming-band LSH self-join over a precomputed 64-bit
    * fingerprint column — the banding core of [[simhashPairs]], factored
    * out so text SimHash and perceptual media hashes
    * ([[MediaDedup.nearDupPairs]]) share one exhaustive-recall scheme.
    * The id column may be any orderable type (Long doc ids, String
    * media_refs); only (id, band, key) rides the shuffle.
    */
  def hammingPairs64(fpDf: DataFrame, idCol: String, fpCol: String,
                     maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64,
      s"maxHamming must be in [0, 64), got $maxHamming")
    val bands = maxHamming + 1
    val widths = Array.tabulate(bands)(b =>
      64 / bands + (if (b < 64 % bands) 1 else 0))
    val starts = widths.scanLeft(0)(_ + _)
    val keys = (0 until bands).map { b =>
      val mask = if (widths(b) >= 64) -1L else (1L << widths(b)) - 1L
      call_function("shiftright", col("fp"), lit(starts(b)))
        .bitwiseAND(lit(mask))
    }
    val banded = fpDf.select(col(idCol).as("id"), col(fpCol).as("fp"))
      .select(col("id"), col("fp"), posexplode(array(keys: _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "key")
      .localCheckpoint() // both join sides reuse it — see minhashLshPairs
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        hamming64(col("a.fp"), col("b.fp")).as("hamming"))
      .dropDuplicates("id_a", "id_b")
      .where(col("hamming") <= maxHamming)
  }

  // ---------- embedding near-dup ----------

  /** Cosine similarity of two numeric-array columns — the native
    * codegen'd kernel (`Natives.cosine`); bit-identical to
    * the composed zip_with/aggregate form it replaced (Spark's
    * higher-order functions are CodegenFallback — interpreted lambda
    * evaluation with per-element boxing dominated every similarity
    * scan; parity incl. the float-product precision of uncast inputs is
    * pinned in OpsSpec).
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.Natives.cosine(a, b)

  /** The pre-r06 composed form, kept as the in-engine semantic
    * reference the native kernel is tested against (OpsSpec parity).
    * O(dim) interpreted lambda evaluations per row: not a hot path.
    */
  private[graft] def cosineComposed(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x * y),
      lit(0.0), (s, v) => s + v)
    val na = sqrt(aggregate(transform(a, x => x * x),
      lit(0.0), (s, v) => s + v))
    val nb = sqrt(aggregate(transform(b, x => x * x),
      lit(0.0), (s, v) => s + v))
    dot / (na * nb)
  }

  /** Embedding near-dup pairs with cosine >= minSim, bucketed by random
    * hyperplane LSH (`nPlanes` sign bits from deterministic hash-based
    * hyperplanes) so the join is bucket-local, not O(n^2). Exact cosine
    * verifies candidates. Recall is probabilistic (raise nProbes/lower
    * nPlanes for more).
    */
  /** Plane count for a target expected bucket occupancy: 2^nPlanes
    * buckets ≈ n / targetBucket, clamped to [2, 24]. At 10^9 vectors and
    * the default 1024-vector buckets this yields ~20 planes; each added
    * plane halves bucket size (join cost) at some recall cost — recover
    * recall with multi-probe (also probing Hamming-1 neighbor buckets) or
    * by unioning a second independent sketch, both of which compose with
    * this operator as a plain DataFrame union of candidate pairs.
    */
  def autoPlanes(n: Long, targetBucket: Long = 1024L): Int = {
    val buckets = math.max(1.0, n.toDouble / math.max(1L, targetBucket))
    math.min(24, math.max(2, math.ceil(math.log(buckets) / math.log(2)).toInt))
  }

  def embeddingNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                            minSim: Double, nPlanes: Int = 8): DataFrame = {
    val sketch = Similarity.hyperplaneSketch(col(vecCol), nPlanes)
    val b = df.select(col(idCol).as("id"), col(vecCol).as("v"),
                      sketch.as("bucket"))
      .localCheckpoint() // sketch computed once, not once per join side
    b.as("a").join(b.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        cosine(col("a.v"), col("b.v")).as("cos"))
      .where(col("cos") >= minSim)
  }

  /** Multi-probe variant of [[embeddingNearDupPairs]]: additionally joins
    * each vector's bucket against all buckets within Hamming distance 1
    * of it (the standard multi-probe LSH recall recovery — near-dups that
    * land one flipped sign bit apart are the dominant loss as nPlanes
    * grows). One side of the join explodes to its nPlanes+1 probe buckets
    * (exact + each single-bit flip); the other side keeps its exact
    * bucket, so every qualifying pair is matched exactly once from the
    * smaller id's probes. Join volume is (nPlanes+1)x the single-probe
    * candidate volume — the knob trades shuffle for recall without
    * touching nPlanes (bucket sizes stay put).
    */
  def embeddingNearDupPairsMultiProbe(df: DataFrame, idCol: String,
                                      vecCol: String, minSim: Double,
                                      nPlanes: Int = 8): DataFrame = {
    val sketch = Similarity.hyperplaneSketch(col(vecCol), nPlanes)
    val b = df.select(col(idCol).as("id"), col(vecCol).as("v"),
                      sketch.as("bucket"))
      .localCheckpoint() // sketch computed once, reused by both join sides
    val probes = b.select(col("id"), col("v"),
      explode(transform(sequence(lit(0), lit(nPlanes)), p =>
        when(p === 0, col("bucket"))
          .otherwise(col("bucket")
            .bitwiseXOR(call_function("shiftleft", lit(1L), p - 1)))))
        .as("probe"))
    probes.as("a").join(b.as("b"),
        col("a.probe") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        cosine(col("a.v"), col("b.v")).as("cos"))
      .dropDuplicates("id_a", "id_b")
      .where(col("cos") >= minSim)
  }

  // ---------- cluster resolution / removal ----------

  /** Resolve near-dup PAIRS into clusters and pick one keeper per
    * cluster: distributed connected components by iterative min-label
    * propagation over the pair edges (Hash-to-Min style; converges in
    * O(log n) rounds on real dup clusters, which are shallow). Returns
    * (id, keeper_id) for every id that appears in a pair — ids absent
    * from any pair are their own keepers.
    *
    * Scale notes: each round is two shuffles (neighbor hop + pointer
    * jump); the jump doubles covered distance per round, so `maxIters`
    * rounds resolve components of diameter up to 2^maxIters - 1
    * (default 5 → 31 — far beyond real dup clusters, which are almost
    * always stars or short chains).
    */
  def resolveClusters(pairs: DataFrame, maxIters: Int = 5,
                      driverSideLimit: Long = 1000000L): DataFrame = {
    // near-dup pair sets are SPARSE relative to the corpus (that is the
    // point of LSH banding); below the limit, union-find on the driver
    // beats several distributed join rounds of job overhead. The
    // label-propagation path below remains for genuinely huge edge sets.
    val spark = pairs.sparkSession
    // id-type-agnostic fast path (ADVICE r01: the old cast-to-long version
    // NPE'd on string doc_ids): dense-index union-find over the collected
    // values, keeper = component minimum under the column's natural
    // ordering (matches the distributed least()/min() path for numerics
    // and ASCII strings)
    val idType = pairs.schema("id_a").dataType
    val smallPairs = pairs.limit((driverSideLimit + 1).toInt)
      .select(col("id_a"), col("id_b"))
      .collect().map(r => (r.get(0), r.get(1)))
    if (smallPairs.length <= driverSideLimit) {
      val index = scala.collection.mutable.HashMap.empty[Any, Int]
      val vals = scala.collection.mutable.ArrayBuffer.empty[Any]
      def idx(v: Any): Int =
        index.getOrElseUpdate(v, { vals += v; vals.length - 1 })
      smallPairs.foreach { case (a, b) => idx(a); idx(b) }
      val parent = Array.tabulate(vals.length)(identity)
      def find(x: Int): Int = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      smallPairs.foreach { case (a, b) =>
        val ra = find(idx(a)); val rb = find(idx(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      // strings compare in UTF-8 binary order (Spark's least()/min()
      // semantics) — Java's UTF-16 compareTo diverges on non-BMP chars,
      // which would make the fast path and the distributed path pick
      // different keepers for the same input
      val cmp: Ordering[Any] = Ordering.fromLessThan { (x, y) =>
        (x, y) match {
          case (a: String, b: String) =>
            org.apache.spark.unsafe.types.UTF8String.fromString(a)
              .compareTo(
                org.apache.spark.unsafe.types.UTF8String.fromString(b)) < 0
          case _ => x.asInstanceOf[Comparable[Any]].compareTo(y) < 0
        }
      }
      val keeperOf = vals.indices.groupBy(find).flatMap { case (_, members) =>
        val k = members.map(vals(_)).min(cmp)
        members.map(m => m -> k)
      }
      val rows = vals.indices.map { i =>
        org.apache.spark.sql.Row(vals(i), keeperOf(i))
      }
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", idType),
        org.apache.spark.sql.types.StructField("keeper_id", idType)))
      return spark.createDataFrame(
        new java.util.ArrayList(scala.jdk.CollectionConverters
          .SeqHasAsJava(rows).asJava), schema)
    }
    resolveClustersDistributed(pairs, maxIters)
  }

  /** Distributed path: min-label propagation with POINTER JUMPING — each
    * round takes (a) the min label over graph neighbors (one hop) and
    * (b) the label of the current label (doubling), so covered distance
    * grows as d(r) = 2*d(r-1) + 1: maxIters rounds reach components of
    * diameter 2^maxIters - 1 (default 5 → 31), not maxIters hops.
    */
  private def resolveClustersDistributed(pairs: DataFrame, maxIters: Int)
      : DataFrame = {
    // materialize the edge list once — `pairs` is typically an expensive
    // LSH pipeline, and every propagation round + convergence probe would
    // otherwise recompute it from scratch
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .localCheckpoint()
    var labels = edges.select(col("src").as("id"))
      .union(edges.select(col("dst").as("id"))).distinct()
      .withColumn("label", col("id"))
    var i = 0
    var converged = false
    while (i < maxIters && !converged) {
      val viaNeighbors = edges
        .join(labels.withColumnRenamed("id", "dst")
                    .withColumnRenamed("label", "nlabel"), Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(min("nlabel").as("nmin"))
      val hopped = labels.join(viaNeighbors, Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nmin"), col("label")))
            .as("label"))
      // pointer jump: label := min(label, label(label)) — every label is
      // itself a node id (labels start as ids and only ever take existing
      // ids via min), so the lookup join always finds a row
      val next = hopped.as("x")
        .join(hopped.select(col("id").as("label"),
                            col("label").as("ll")).as("y"),
              Seq("label"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("ll"), col("label")))
            .as("label"))
      val prev = labels
      labels = next.localCheckpoint() // cut the growing lineage each round
      i += 1
      // convergence probe costs a job — skip it on the final round,
      // where the answer could not be used anyway
      if (i < maxIters) {
        val changed = labels.as("n")
          .join(prev.as("o"), col("n.id") === col("o.id"))
          .where(col("n.label") =!= col("o.label")).limit(1).count()
        converged = changed == 0
      }
    }
    labels.withColumnRenamed("label", "keeper_id")
  }

  /** End-to-end near-dup REMOVAL for a training corpus: detect pairs with
    * the chosen detector, resolve clusters, drop every non-keeper row.
    */
  def removeNearDups(df: DataFrame, idCol: String,
                     pairs: DataFrame, maxIters: Int = 5): DataFrame = {
    val losers = resolveClusters(pairs, maxIters)
      .where(col("id") =!= col("keeper_id"))
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

}
