package graft

import graft.functions.{Position, PositionScala}
import graft.ops.{CorpusPipeline, Dedup, Multimodal, Similarity, TextOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class OpsSpec extends AnyFunSuite with BeforeAndAfterAll with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  import org.apache.spark.sql.Row

  override def afterAll(): Unit = spark.stop()

  private def docsDf: DataFrame =
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  // ---------- position function ----------

  test("9-cell position: Spark expr == Scala twin on a boundary grid") {
    import spark.implicits._
    val vals: Seq[java.lang.Double] =
      Seq(null, 0.0, 33.0, 50.0, 66.99, 67.0, 67.01, 100.0)
        .map(v => if (v == null) null else java.lang.Double.valueOf(v.asInstanceOf[Double]))
    val dims: Seq[java.lang.Double] =
      Seq(null, -1.0, 0.0, 100.0).map(v =>
        if (v == null) null else java.lang.Double.valueOf(v.asInstanceOf[Double]))
    val cases = for (x <- vals; y <- vals; w <- dims; h <- dims)
      yield (x, y, w, h)
    val df = cases.toDF("x", "y", "w", "h")
      .withColumn("got", Position.positionDescription(
        col("x"), col("y"), col("x"), col("y"), col("w"), col("h")))
    df.collect().foreach { r =>
      def d(i: Int): java.lang.Double =
        if (r.isNullAt(i)) null else java.lang.Double.valueOf(r.getDouble(i))
      val want = PositionScala.describe(d(0), d(1), d(0), d(1), d(2), d(3))
      assert(r.getString(4) == want, s"case ${r.toSeq}")
    }
  }

  test("position boundaries: exactly 0.33/0.67 fall in middle/center (strict ineq)") {
    // center 33 of 100 → rel 0.33 → NOT bottom/left (strict <)
    assert(PositionScala.describe(33.0, 33.0, 33.0, 33.0, 100.0, 100.0)
      == "middle-center")
    assert(PositionScala.describe(67.0, 67.0, 67.0, 67.0, 100.0, 100.0)
      == "middle-center")
    assert(PositionScala.describe(32.9, 67.1, 32.9, 67.1, 100.0, 100.0)
      == "top-left")
    assert(PositionScala.describe(67.1, 32.9, 67.1, 32.9, 100.0, 100.0)
      == "bottom-right")
    // null dims → 612x792 fallback (streamlit_app.py:182-189)
    assert(PositionScala.describe(306.0, 396.0, 306.0, 396.0, null, null)
      == "middle-center")
  }

  // ---------- text ops ----------

  test("tokenCount / meanTokenLen on known strings") {
    import spark.implicits._
    val df = Seq("a bb ccc", "x", "a  b").toDF("t")
      .select(TextOps.tokenCount(col("t")).as("n"),
              TextOps.meanTokenLen(col("t")).as("m"))
    val rows = df.collect()
    assert(rows(0).getInt(0) == 3 && rows(0).getDouble(1) == 2.0)
    assert(rows(1).getInt(0) == 1 && rows(1).getDouble(1) == 1.0)
    assert(rows(2).getInt(0) == 3) // empty token from double space
  }


  test("repetition signals: Spark columns == plain twin, incl. edge cases") {
    import spark.implicits._
    val texts = Seq(
      "a b c d e",             // all distinct
      "a a a a",               // one word repeated
      "a b a b a b",           // repeated 2-grams
      "x",                     // single word (no 2-grams)
      "a  b",                  // empty token from double space
      "the cat sat on the mat the cat came back")
    val got = texts.toDF("t")
      .select(graft.ops.TextOps.distinctWordFrac(col("t")).as("d"),
              graft.ops.TextOps.dup2gramFrac(col("t")).as("g"))
      .collect().map(r => (r.getDouble(0), r.getDouble(1)))
    texts.zip(got).foreach { case (t, (d, g)) =>
      val (pd, _, pg) = graft.oracle.PlainOracles.repSignalsPlain(t)
      assert(d == pd && g == pg, s"'$t': spark ($d,$g) plain ($pd,$pg)")
    }
    // pinned values: "a a a a" → distinct 1/4, dup 2-grams 1 - 1/3
    assert(got(1) == (0.25, 0.6667))
    assert(got(3) == (1.0, 0.0)) // single word: no grams, 0.0 by spec
    // top-word mass via the grouped path equals the plain twin too
    val tops = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "t")
      .select(col("doc_id"), explode(split(col("t"), " ")).as("w"))
      .groupBy("doc_id", "w").count()
      .groupBy("doc_id")
      .agg(round(max("count").cast("double") / sum("count"), 4).as("top"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      val (_, pt, _) = graft.oracle.PlainOracles.repSignalsPlain(t)
      assert(tops(i.toLong) == pt, s"'$t': spark top ${tops(i.toLong)} plain $pt")
    }
  }

  test("tokenWindowChunks: window starts, clamping, overlap, degenerate texts") {
    import spark.implicits._
    def chunks(t: String, size: Int, stride: Int): Seq[String] =
      Seq(t).toDF("t")
        .select(graft.ops.TextOps.tokenWindowChunks(col("t"), size, stride)
          .as("c"))
        .collect().head.getSeq[String](0)
    // 10 words, size 4, stride 3: starts 1,4,7,10 — full coverage, the
    // trailing window clamps short
    val ten = (1 to 10).map(i => s"w$i").mkString(" ")
    assert(chunks(ten, 4, 3) == Seq(
      "w1 w2 w3 w4", "w4 w5 w6 w7", "w7 w8 w9 w10", "w10"))
    // stride > size leaves inter-window gaps by construction, but every
    // start stays ≤ n: starts 1, 6
    assert(chunks(ten, 4, 5) == Seq("w1 w2 w3 w4", "w6 w7 w8 w9"))
    // no silent tail loss: 5 words, size 4, stride 2 → starts 1,3,5
    assert(chunks("a b c d e", 4, 2) == Seq("a b c d", "c d e", "e"))
    // shorter than one window → exactly one (whole text)
    assert(chunks("a b", 32, 24) == Seq("a b"))
    assert(chunks("", 32, 24) == Seq(""))
  }

  test("SQ8 int8 quantization: bounded error, exact self-similarity, near-exact cosine") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val vecs = (0 until 30).map(i =>
      (i.toLong, Array.fill(64)((rnd.nextFloat() - 0.5f) * 4f)))
    val df = vecs.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding"),
        graft.ops.Similarity.int8Scale(col("embedding")).as("scale"))
      .select(col("vec_id"),
        struct(col("scale"),
          graft.ops.Similarity.int8Codes(col("embedding"), col("scale"))
            .as("codes")).as("q8"),
        col("embedding"))
    val rows = df.collect()
    rows.foreach { r =>
      val emb = r.getSeq[Float](2)
      val scale = r.getStruct(1).getDouble(0)
      val codes = r.getStruct(1).getSeq[Int](1)
      // dequantization error ≤ scale/2 per element (round-to-nearest)
      emb.zip(codes).foreach { case (x, c) =>
        assert(math.abs(c * scale - x) <= scale / 2 + 1e-12,
          s"err ${c * scale - x} vs scale $scale")
        assert(c >= -127 && c <= 127)
      }
    }
    // code cosine == 1.0 exactly for self; ~exact vs float cosine
    val q = df.where(col("vec_id") === 5).select(col("q8.codes").as("qc"))
    val scored = df.crossJoin(broadcast(q))
      .select(col("vec_id"),
        graft.ops.Similarity.codeCosine(col("q8.codes"), col("qc"))
          .as("s8"),
        graft.ops.Dedup.cosine(col("embedding").cast("array<double>"),
          col("qc").cast("array<double>")).as("dummy"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(scored(5L) - 1.0) < 1e-12) // sqrt(n)*sqrt(n) ulp
    // SQ8 cosine within 1% of the exact float cosine for every vector
    val exact = vecs.map { case (id, v) =>
      val qv = vecs(5)._2
      var dot = 0.0; var na = 0.0; var nb = 0.0
      v.indices.foreach { i =>
        dot += v(i).toDouble * qv(i); na += v(i).toDouble * v(i)
        nb += qv(i).toDouble * qv(i)
      }
      id -> dot / (math.sqrt(na) * math.sqrt(nb))
    }.toMap
    vecs.foreach { case (id, _) =>
      assert(math.abs(scored(id) - exact(id)) < 0.01,
        s"vec $id: sq8 ${scored(id)} vs exact ${exact(id)}")
    }
  }

  test("PQ: engine ADC top-k == plain twin bit-exactly; self is rank 1") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val vecs = (0 until 40).map(i =>
      (i.toLong, Array.fill(64)((rnd.nextFloat() - 0.5f) * 4f)))
    val df = vecs.toDF("vec_id", "embedding")
    val books = graft.ops.Similarity.trainPqCodebooks(
      df, "vec_id", "embedding", m = 8, ksub = 16, sampleN = 25, iters = 3)
    val q = vecs.find(_._1 == 5L).get._2
    val lut = graft.ops.Similarity.pqQueryLut(q, books)
    val encoded = graft.ops.Similarity.pqEncode(
      df, "vec_id", "embedding", books)
    val got = encoded
      .select(col("vec_id"),
        round(graft.ops.Similarity.pqAdcScore(col("codes"), lut), 6)
          .as("score"))
      .orderBy(col("score").desc, col("vec_id").asc).limit(10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val exp = graft.oracle.PlainOracles.pqTopKPlain(
      vecs, 5L, m = 8, ksub = 16, sampleN = 25, iters = 3, k = 10)
    assert(got == exp)
    // the query itself must win. Uniform-random 64-d vectors are VQ's
    // worst case (no cluster structure for the codebooks to exploit),
    // so the absolute ADC self-score sits well under the exact 1.0 —
    // the retrieval property (rank) is what PQ preserves.
    assert(got.head._1 == 5L && got.head._2 > 0.4)
    // the storage contract: m=8 codes, each addressing ksub=16 words
    val codes = encoded.select("codes").collect().map(_.getSeq[Int](0))
    assert(codes.forall(c =>
      c.length == 8 && c.forall(x => x >= 0 && x < 16)))
  }

  test("page furniture: headers/footers found, watermark below threshold, strip removes them") {
    import spark.implicits._
    val rows = spark.createDataset(
        (0 until 8).map(graft.gen.FurnitureGen.doc))
      .flatMap(d => graft.extract.Extractor.extractRows(d)).toDF()
      .where(col("chunk_id").isNotNull)
    val f = graft.ops.PageFurniture.detect(rows, 3, 0.8).collect()
    // exactly 2 furniture lines (header+footer) per doc; the draft
    // watermark on half the pages never qualifies
    assert(f.length == 16)
    assert(f.forall(r => !r.getString(1).contains("Draft")))
    assert(f.count(_.getString(1).startsWith("Header_doc_")) == 8)
    val stripped = graft.ops.PageFurniture.strip(rows, 3, 0.8)
    // stripping removes exactly the furniture occurrences
    val removed = rows.count() - stripped.count()
    val expectRemoved = (0 until 8).map(i =>
      2L * graft.gen.FurnitureGen.nPages(i)).sum
    assert(removed == expectRemoved, s"removed $removed")
    assert(stripped.where(col("text").startsWith("Header_doc_")).count() == 0)
    // body text untouched
    assert(stripped.where(col("text").contains("Body 0 page 0")).count() > 0)
  }

  test("sampleStratified: deterministic, partitioning-invariant, fraction-accurate") {
    import spark.implicits._
    val df = (0L until 4000L).map(i => (i, s"s${i % 4}"))
      .toDF("doc_id", "source")
    val fr = Map("s0" -> 1.0, "s1" -> 0.5, "s2" -> 0.0)
    def run(d: org.apache.spark.sql.DataFrame) =
      graft.ops.CorpusPipeline.sampleStratified(d, "doc_id", "source",
        fr, 0.25, salt = 3L).select("doc_id").collect()
        .map(_.getLong(0)).toSet
    val a = run(df)
    // identical under a different partitioning (pure function of id)
    assert(run(df.repartition(17)) == a)
    val bySrc = a.groupBy(id => s"s${id % 4}").map { case (k, v) => k -> v.size }
    assert(bySrc.getOrElse("s0", 0) == 1000)       // fraction 1.0: all
    assert(!bySrc.contains("s2"))                   // fraction 0.0: none
    assert(math.abs(bySrc("s1") - 500) < 80)        // ~half
    assert(math.abs(bySrc("s3") - 250) < 70)        // ~quarter
    // a different salt draws a different sample
    val b = graft.ops.CorpusPipeline.sampleStratified(df, "doc_id",
      "source", fr, 0.25, salt = 4L).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(a != b)
  }

  test("capPerSource: quota respected, deterministic ranks, small sources intact") {
    import spark.implicits._
    val df = (0 until 40).map(i => (i.toLong, s"s${i % 3}")) // s0:14 s1:13 s2:13
      .toDF("doc_id", "source")
    val kept = graft.ops.CorpusPipeline.capPerSource(df, "source", "doc_id", 5)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    assert(kept.length == 15) // 5 per source
    // ranks are 1..5 per source, assigned in doc_id order
    val bySrc = kept.groupBy(_._2)
    assert(bySrc.keySet == Set("s0", "s1", "s2"))
    bySrc.foreach { case (_, rows) =>
      assert(rows.sortBy(_._1).map(_._3).toSeq == Seq(1, 2, 3, 4, 5))
    }
    // a cap above every source size keeps everything
    assert(graft.ops.CorpusPipeline.capPerSource(df, "source", "doc_id", 99)
      .count() == 40)
  }

  test("wordCount: regex-token proxy edge cases") {
    import spark.implicits._
    val df = Seq("hello world", "a-b c_d", "  x  ", "123 abc!!!", "")
      .toDF("t").select(TextOps.wordCount(col("t")).as("n"))
    // segments of [A-Za-z0-9]+: 2, 3 (a,b,c_d->c,d? '_' not in class: a,b,c,d=4)...
    val got = df.collect().map(_.getInt(0)).toSeq
    // brute-force twin
    val want = Seq("hello world", "a-b c_d", "  x  ", "123 abc!!!", "")
      .map(t => "[A-Za-z0-9]+".r.findAllIn(t).size)
    assert(got == want, s"got=$got want=$want")
  }

  test("langIdGuess cascade") {
    import spark.implicits._
    val df = Seq("this is the protocol", "中文文档 test", "el gato los perros",
      "der hund und katze", "le chat les chiens", "привет мир")
      .toDF("t").select(TextOps.langIdGuess(col("t")).as("l"))
    assert(df.collect().map(_.getString(0)).toSeq ==
      Seq("en", "zh", "es", "de", "fr", "ru"))
  }

  test("qualityScore bounded in [0,1] over real corpus") {
    val scores = docsDf.select(TextOps.qualityScore(col("text")).as("q"))
      .collect().map(_.getDouble(0))
    assert(scores.forall(s => s >= 0.0 && s <= 1.0))
    assert(scores.exists(_ > 0.5)) // corpus has decent docs
  }

  // ---------- dedup family ----------

  test("exact dedup finds injected duplicate texts") {
    val d = docsDf.select("doc_id", "text").limit(50)
    val dup = d.limit(5).withColumn("doc_id", col("doc_id") + 1000L)
    val out = Dedup.exactDedupKeepers(d.union(dup), "doc_id", "text")
    assert(out.count() == 50) // 5 digests absorbed the dups
    assert(out.where(col("dup_count") === 2).count() == 5)
    assert(out.agg(sum("dup_count")).collect()(0).getLong(0) == 55)
  }

  test("ngramJaccardPairs == brute-force jaccard (w=2, sim>=0.1)") {
    val rows = docsDf.select("doc_id", "text").limit(120)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    def shingles(t: String, w: Int): Set[String] =
      t.split(" ").sliding(w).filter(_.length == w).map(_.mkString(" ")).toSet
    val brute = (for {
      (ia, ta) <- rows; (ib, tb) <- rows if ia < ib
      sa = shingles(ta, 2); sb = shingles(tb, 2)
      inter = (sa intersect sb).size
      if sa.nonEmpty && sb.nonEmpty && inter > 0
      j = inter.toDouble / (sa.size + sb.size - inter)
      if j >= 0.1
    } yield ((ia, ib), j)).toMap
    val got = Dedup.ngramJaccardPairs(
        docsDf.select("doc_id", "text").limit(120), "doc_id", "text",
        w = 2, minSim = 0.1, maxShingleFreq = 100000)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(got.keySet == brute.keySet,
      s"extra=${got.keySet -- brute.keySet} missing=${brute.keySet -- got.keySet}")
    got.foreach { case (k, v) => assert(math.abs(v - brute(k)) < 1e-12, k) }
  }

  test("dedup pair ops leave no cached frame behind") {
    spark.catalog.clearCache()
    val d = docsDf.select("doc_id", "text").limit(60)
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .where(col("vec_id") < 60)
    Seq(Dedup.duplicatedWindows(d, "doc_id", "text", w = 3),
        Dedup.minhashLshPairs(d, "doc_id", "text"),
        Dedup.simhashPairs(d, "doc_id", "text"),
        Dedup.embeddingNearDupPairs(e, "vec_id", "embedding", 0.9),
        Dedup.embeddingNearDupPairsMultiProbe(e, "vec_id", "embedding", 0.9))
      .foreach(_.collect())
    assert(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty)
  }

  test("minhash LSH: injected exact dups all recovered with est_jaccard 1.0") {
    val d = docsDf.select("doc_id", "text").limit(100)
    val dup = d.limit(20).withColumn("doc_id", col("doc_id") + 1000000L)
    val pairs = Dedup.minhashLshPairs(d.union(dup), "doc_id", "text",
      w = 3, k = 64, bands = 16).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val exact = pairs.filter(p => p._2 == p._1 + 1000000L)
    assert(exact.length == 20)
    assert(exact.forall(_._3 == 1.0))
  }

  test("simhash pairs == brute-force hamming<=3 (banding is exhaustive by pigeonhole)") {
    val d = docsDf.select("doc_id", "text").limit(150)
    val fps = d.select(col("doc_id"), Dedup.simhash(col("text")).as("fp"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      (ia, fa) <- fps; (ib, fb) <- fps if ia < ib
      if java.lang.Long.bitCount(fa ^ fb) <= 3
    } yield (ia, ib)).toSet
    val got = Dedup.simhashPairs(d, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == brute)
  }


  test("simhash pairs == brute-force hamming<=12 (derived band count, VERDICT r01 #2)") {
    // r01 shipped fixed 4x16-bit bands: exhaustive only to distance 3, so
    // maxHamming=12 silently dropped pairs differing in all four bands.
    // The band count is now maxHamming+1 → complete recall by pigeonhole.
    val d = docsDf.select("doc_id", "text").where(col("doc_id") < 150)
    val fps = d.select(col("doc_id"), Dedup.simhash(col("text")).as("fp"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      (ia, fa) <- fps; (ib, fb) <- fps if ia < ib
      h = java.lang.Long.bitCount(fa ^ fb) if h <= 12
    } yield ((ia, ib), h)).toMap
    val got = Dedup.simhashPairs(d, "doc_id", "text", maxHamming = 12)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(got == brute,
      s"extra=${got.keySet -- brute.keySet} missing=${brute.keySet -- got.keySet}")
    assert(brute.nonEmpty) // the corpus genuinely has pairs in (3, 12]
    assert(brute.values.exists(_ > 3), "test must cover distances beyond 3")
  }

  test("resolveClusters handles string ids (ADVICE r01: no cast-to-long NPE)") {
    import spark.implicits._
    val pairs = Seq(("doc_b", "doc_a"), ("doc_b", "doc_c"), ("x", "y"))
      .toDF("id_a", "id_b")
    val got = Dedup.resolveClusters(pairs).collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(got == Map("doc_a" -> "doc_a", "doc_b" -> "doc_a",
      "doc_c" -> "doc_a", "x" -> "x", "y" -> "x"))
    // distributed path agrees on the same string ids
    val dist = Dedup.resolveClusters(pairs, driverSideLimit = 0).collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(dist == got)
  }

  test("native SimHash64 expression == composed-column simhash (and codegen'd)") {
    val d = docsDf.select("doc_id", "text").limit(200)
    val a = d.select(graft.functions.Natives.simhash64(col("text")))
      .collect().map(_.getLong(0))
    val b = d.select(Dedup.simhash(col("text"))).collect().map(_.getLong(0))
    assert(a.sameElements(b))
    // edge cases: empty, spaces, unicode, trailing space
    import spark.implicits._
    val edge = Seq("", " ", "a  b", "naïve 中文 x ", "\u00a0nbsp")
      .toDF("text")
    val ea = edge.select(graft.functions.Natives.simhash64(col("text")))
      .collect().map(_.getLong(0))
    val eb = edge.select(Dedup.simhash(col("text"))).collect().map(_.getLong(0))
    assert(ea.sameElements(eb))
    // participates in whole-stage codegen, and SQL-registrable
    val plan = d.select(graft.functions.Natives.simhash64(col("text")))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), s"not codegen'd:\n$plan")
    org.apache.spark.sql.GraftExprBridge.register(spark,
      graft.functions.Natives.simhash64)
    d.createOrReplaceTempView("t_simhash")
    val viaSql = spark.sql(
      "SELECT graft_simhash64(text) FROM t_simhash").collect()
      .map(_.getLong(0))
    assert(viaSql.sameElements(b))
  }

  test("native ShingleHashes == xxhash64 over materialized shingles") {
    val d = docsDf.select("text").limit(200)
    import spark.implicits._
    val edge = Seq("", " ", "  ", "a", "a b", "a  b", " a b ",
      "naïve 中文 emoji🙂 x", "a b c d e").toDF("text")
    for (src <- Seq(d, edge); w <- Seq(1, 2, 3, 5)) {
      val a = src.select(graft.functions.Natives
          .shingleHashes(col("text"), w).as("h"))
        .collect().map(_.getSeq[Long](0))
      val b = src.select(transform(Dedup.wordShingles(col("text"), w),
          s => xxhash64(s)).as("h"))
        .collect().map(_.getSeq[Long](0))
      assert(a.zip(b).forall { case (x, y) => x == y },
        s"shingle-hash mismatch at w=$w")
    }
    // codegen'd
    val plan = d.select(graft.functions.Natives
        .shingleHashes(col("text"), 3))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), s"not codegen'd:\n$plan")
  }

  test("native LangGuess == composed rlike/contains cascade (and codegen'd)") {
    import spark.implicits._
    val edge = Seq("", " ", "plain english words here",
      "ひらがな text first 中文 later", // ja chars first, zh must still win
      "русский текст", "カタカナ only", "中文",
      "see el gato and los perros", "der und ist", "le les une",
      "EL GATO uppercase", "commentary el", "nel mezzo", // token bounds
      "mixed der text with una palabra", // es checked before de
      "\u4e00", "\u9fff", "\u3040", "\u30ff", "\u0400", "\u04ff",
      "\u4dff\u3039", "\ud83d\ude00 emoji only").toDF("text")
    for (src <- Seq(edge, docsDf.select("text").limit(300))) {
      val a = src.select(TextOps.langIdGuess(col("text")))
        .collect().map(_.getString(0))
      val b = src.select(TextOps.langIdGuessComposed(col("text")))
        .collect().map(_.getString(0))
      assert(a.sameElements(b), a.zip(b).filter(p => p._1 != p._2)
        .mkString(","))
    }
    val plan = docsDf.select(TextOps.langIdGuess(col("text")))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), s"not codegen'd:\n$plan")
  }

  test("native vector kernels == composed forms bit-exact (and codegen'd)") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    import spark.implicits._
    def bits(df: DataFrame): Array[java.lang.Long] = df.collect().map(r =>
      if (r.isNullAt(0)) null
      else java.lang.Long.valueOf(
        java.lang.Double.doubleToLongBits(r.getDouble(0))))
    // an edge corpus of NON-degenerate vectors (under ANSI mode the
    // composed form's division THROWS on a zero norm, so zero vectors
    // are not comparable — and no driver data path produces one; the
    // native kernel's NaN there is asserted separately below)
    val edge = Seq(
      (1L, Seq(1e-20f, -1e-20f, 1e20f, -1e20f)),
      (2L, Seq(1.0f, -2.5f, 3.5f, -0.5f)),
      (4L, Seq(-1.0f, 2.0f, -3.0f, 4.0f))).toDF("id", "v")
    val ea = edge.select(col("id").as("ia"), col("v").as("va"))
    val eb = edge.select(col("id").as("ib"), col("v").as("vb"))
    val ej = ea.crossJoin(eb)
    // cosine, uncast float×float (float-product precision) and cast path
    assert(bits(ej.select(Dedup.cosine(col("va"), col("vb"))))
      .sameElements(bits(ej.select(
        Dedup.cosineComposed(col("va"), col("vb"))))), "float cosine")
    assert(bits(ej.select(Dedup.cosine(col("va").cast("array<double>"),
        col("vb").cast("array<double>"))))
      .sameElements(bits(ej.select(Dedup.cosineComposed(
        col("va").cast("array<double>"), col("vb").cast("array<double>"))))),
      "double cosine")
    // degenerate inputs, native semantics pinned directly: zero norm →
    // NaN (never an error), length mismatch → null (zip_with padding)
    val degen = Seq(
      (Seq(0.0f, 0.0f), Seq(1.0f, 2.0f)),
      (Seq(1.0f, 2.0f), Seq(0.5f))).toDF("x", "y")
      .select(Dedup.cosine(col("x"), col("y"))).collect()
    assert(degen(0).getDouble(0).isNaN, "zero-norm cosine must be NaN")
    assert(degen(1).isNullAt(0), "length-mismatch cosine must be null")
    val a40 = e.limit(40).select(col("vec_id").as("ia"),
      col("embedding").as("va"))
    val b40 = e.limit(40).select(col("vec_id").as("ib"),
      col("embedding").as("vb"))
    val j = a40.crossJoin(b40)
    assert(bits(j.select(Dedup.cosine(col("va"), col("vb"))))
      .sameElements(bits(j.select(
        Dedup.cosineComposed(col("va"), col("vb"))))), "emb cosine")
    // SQ8 scale / codes / code cosine
    val sc = e.select(col("vec_id"), col("embedding"),
      Similarity.int8Scale(col("embedding")).as("s"))
    val scC = e.select(col("vec_id"), col("embedding"),
      Similarity.int8ScaleComposed(col("embedding")).as("s"))
    assert(bits(sc.select(col("s"))).sameElements(bits(scC.select(col("s")))),
      "sq8 scale")
    val codes = sc.select(col("vec_id").as("ia"),
      Similarity.int8Codes(col("embedding"), col("s")).as("ca"))
    val codesC = scC.select(col("vec_id").as("ib"),
      Similarity.int8CodesComposed(col("embedding"), col("s")).as("cb"))
    assert(codes.collect().map(_.getSeq[Int](1)).toSeq ==
      codesC.collect().map(_.getSeq[Int](1)).toSeq, "sq8 codes")
    val cj = codes.limit(30).crossJoin(codesC.limit(30))
    assert(bits(cj.select(Similarity.codeCosine(col("ca"), col("cb"))))
      .sameElements(bits(cj.select(
        Similarity.codeCosineComposed(col("ca"), col("cb"))))),
      "code cosine")
    // hyperplane sketch (two plane counts, incl. > 8)
    for (p <- Seq(6, 17)) {
      val n = e.select(Similarity.hyperplaneSketch(col("embedding"), p))
        .collect().map(_.getLong(0))
      val c = e.select(
          Similarity.hyperplaneSketchComposed(col("embedding"), p))
        .collect().map(_.getLong(0))
      assert(n.sameElements(c), s"hyperplane sketch nPlanes=$p")
    }
    // IVF assignment (argmax + tie-break) vs composed
    val cents = e.orderBy(col("vec_id").asc).limit(8)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val asg = Similarity.ivfAssign(e, "vec_id", "embedding", cents)
      .select("vec_id", "cell_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val asgC = Similarity.ivfAssignComposed(e, "vec_id", "embedding", cents)
      .select("vec_id", "cell_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(asg.sameElements(asgC), "ivf assign")
    // PQ encode + ADC score vs composed
    val books = Similarity.trainPqCodebooks(e, "vec_id", "embedding",
      m = 8, ksub = 16, sampleN = 100, iters = 2)
    val pq = Similarity.pqEncode(e, "vec_id", "embedding", books)
    val pqC = Similarity.pqEncodeComposed(e, "vec_id", "embedding", books)
    assert(pq.collect().map(_.getSeq[Int](1)).toSeq ==
      pqC.collect().map(_.getSeq[Int](1)).toSeq, "pq codes")
    val q = e.limit(1).collect()(0).getSeq[Float](1).toArray
    val lut = Similarity.pqQueryLut(q, books)
    assert(bits(pq.select(Similarity.pqAdcScore(col("codes"), lut)))
      .sameElements(bits(pqC.select(
        Similarity.pqAdcScoreComposed(col("codes"), lut)))), "adc score")
    // null-ELEMENT arrays (r06 review): sketch degenerates to 0L,
    // cell id to null, PQ codes to the min-norm codewords — exactly
    // what the composed forms produce
    val nullElem = Seq((9L, Seq(Option(1.0f), Option.empty[Float],
      Option(2.0f), Option(0.5f)))).toDF("id", "v")
    assert(nullElem.select(Similarity.hyperplaneSketch(col("v"), 6))
      .collect()(0).getLong(0) ==
      nullElem.select(Similarity.hyperplaneSketchComposed(col("v"), 6))
        .collect()(0).getLong(0), "null-elem sketch")
    val smallCents = Array((0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(0f, 1f, 0f, 0f)))
    // the COMPOSED form's null-element cell id is undefined in Spark
    // 4.1.2 (element_at with a runtime-null index reads a garbage
    // value slot: measured ids(0) through the constant-fold path and
    // ids(last) through codegen) — the native kernel pins the DEFINED
    // answer instead: null cell for a null-element vector
    val nat = Similarity.ivfAssign(nullElem, "id", "v", smallCents)
      .select("cell_id").collect()(0)
    assert(nat.isNullAt(0), "null-elem cell id must be null")
    // a vector longer or shorter than the centroids: null cell, not a
    // task failure or a score against a centroid prefix
    val ragged = Seq((5L, Seq(1.0f, 0.0f, 0.0f, 0.0f, 1.0f)),
      (3L, Seq(0.0f, 1.0f, 0.0f))).toDF("id", "v")
    assert(Similarity.ivfAssign(ragged, "id", "v", smallCents)
      .select("cell_id").collect().forall(_.isNullAt(0)),
      "length-mismatch cell id must be null")
    val smallBooks = Array(
      Array(Array(0.3, 0.4), Array(0.1, 0.2)),
      Array(Array(0.5, 0.5), Array(0.0, 0.1)))
    assert(Similarity.pqEncode(nullElem, "id", "v", smallBooks)
      .select("codes").collect()(0).getSeq[Int](0) ==
      Similarity.pqEncodeComposed(nullElem, "id", "v", smallBooks)
        .select("codes").collect()(0).getSeq[Int](0), "null-elem pq")
    // all kernels stay inside whole-stage codegen
    val plan = e.select(Dedup.cosine(col("embedding"), col("embedding")),
        Similarity.int8Scale(col("embedding")),
        Similarity.hyperplaneSketch(col("embedding"), 6))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), s"not codegen'd:\n$plan")
  }

  test("native MinHashSig expression == composed formulation (and codegen'd)") {
    val d = docsDf.select("doc_id", "text").limit(200)
    def sigs(c: org.apache.spark.sql.Column): Array[Seq[Long]] =
      d.select(c.as("s")).collect()
        .map(r => if (r.isNullAt(0)) null else r.getSeq[Long](0))
    for ((w, k) <- Seq((3, 64), (5, 16), (1, 8))) {
      val a = sigs(Dedup.minhashSignature(col("text"), w, k))
      val b = sigs(Dedup.minhashSignatureComposed(col("text"), w, k))
      assert(a.length == b.length)
      assert(a.zip(b).forall { case (x, y) =>
        (x == null && y == null) || x == y }, s"mismatch at w=$w k=$k")
    }
    // edge cases: empty, all-spaces (empty tokens), fewer tokens than w
    // (null), multi-byte UTF-8, leading/trailing/double spaces
    import spark.implicits._
    val edge = Seq("", " ", "  ", "a", "a b", "a  b", " a b ",
      "naïve 中文 emoji🙂 x", "a b c d e").toDF("text")
    def esigs(c: org.apache.spark.sql.Column): Array[Seq[Long]] =
      edge.select(c.as("s")).collect()
        .map(r => if (r.isNullAt(0)) null else r.getSeq[Long](0))
    for ((w, k) <- Seq((3, 8), (1, 4), (2, 4))) {
      val a = esigs(Dedup.minhashSignature(col("text"), w, k))
      val b = esigs(Dedup.minhashSignatureComposed(col("text"), w, k))
      assert(a.zip(b).forall { case (x, y) =>
        (x == null && y == null) || x == y }, s"edge mismatch at w=$w k=$k")
    }
    // stays inside whole-stage codegen
    val plan = d.select(Dedup.minhashSignature(col("text"), 3, 64))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), s"not codegen'd:\n$plan")
  }

  test("simhash is deterministic and self-distance 0") {
    val d = docsDf.select("text").limit(20)
    val a = d.select(Dedup.simhash(col("text"))).collect().map(_.getLong(0))
    val b = d.select(Dedup.simhash(col("text"))).collect().map(_.getLong(0))
    assert(a.sameElements(b))
  }


  test("cluster resolution == brute-force connected components; removal keeps one per cluster") {
    import spark.implicits._
    // edges forming: chain {1-2-3}, star {10-11,10-12,10-13}, pair {20-21}
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (10L, 12L),
      (10L, 13L), (20L, 21L)).toDF("id_a", "id_b")
    val resolved = Dedup.resolveClusters(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    // the distributed label-propagation path must agree with the
    // driver-side union-find fast path
    val distributed = Dedup.resolveClusters(pairs, driverSideLimit = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(distributed == resolved)
    assert(resolved == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L,
      20L -> 20L, 21L -> 20L))
    val df = Seq.tabulate(25)(i => (i.toLong, s"t$i")).toDF("doc_id", "text")
    val kept = Dedup.removeNearDups(df, "doc_id", pairs)
      .collect().map(_.getLong(0)).toSet
    // losers 2,3,11,12,13,21 removed; everything else kept
    assert(kept == (0L until 25L).toSet -- Set(2L, 3L, 11L, 12L, 13L, 21L))
  }

  test("duplicated windows: exactly the injected copies' windows, with correct positions") {
    val base = docsDf.select("doc_id", "text").where(col("doc_id") < 60)
    val dups = base.where(col("doc_id") < 5)
      .withColumn("doc_id", col("doc_id") + 1000000L)
    val got = Dedup.duplicatedWindows(base.union(dups), "doc_id", "text",
        w = 8).collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    // (the corpus also contains NATURAL exact dup docs — e.g. the
    // generator reuses texts — so flagged ids beyond the injected set and
    // n_docs > 2 are legitimate; we assert the injected guarantees)
    assert(got.nonEmpty && got.forall(_._3 >= 2L))
    // each original/copy pair flags the SAME positions = ALL its windows
    val texts = base.where(col("doc_id") < 5).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    texts.foreach { case (id, tx) =>
      val nWindows = math.max(tx.split(" ", -1).length - 7, 0)
      val orig = got.filter(_._1 == id).map(_._2).sorted
      val copy = got.filter(_._1 == id + 1000000L).map(_._2).sorted
      assert(orig.sameElements(copy))
      assert(orig.length == nWindows, s"doc $id: ${orig.length} vs $nWindows")
    }
  }

  test("cut duplicated windows: copies collapse, clean docs untouched, partial overlap exact") {
    import spark.implicits._
    // constructed corpus: doc 1 and 2 share ONLY a 4-token run in the
    // middle; doc 3 is unique; doc 4 duplicates doc 1 entirely
    val d1 = "alpha beta SHARED1 SHARED2 SHARED3 SHARED4 gamma delta"
    val d2 = "uno dos SHARED1 SHARED2 SHARED3 SHARED4 tres quatro cinco"
    val d3 = "completely unrelated text with several words here"
    val df = Seq((1L, d1), (2L, d2), (3L, d3), (4L, d1))
      .toDF("doc_id", "text")
    val got = Dedup.cutDuplicatedWindows(df, "doc_id", "text", w = 4)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2).toInt))
      .toMap
    // docs 1 and 4 are full copies → every window duplicated → all cut
    assert(got(1L) == ("", 8) && got(4L) == ("", 8))
    // doc 3 untouched
    assert(got(3L) == (d3, 0))
    // doc 2 shares exactly one 4-token window with doc 1/4 (positions
    // 2..5) → those four tokens cut, the rest kept in order
    assert(got(2L) == ("uno dos tres quatro cinco", 4))
  }

  test("contamination report: leaked eval docs rate 1.0, clean corpus ~0") {
    val d = docsDf
    val bench = d.where(col("doc_id") < 20).select("text")
    val clean = d.where(col("doc_id") >= 20 && col("doc_id") < 120)
      .select("doc_id", "text")
    val leaked = d.where(col("doc_id") < 5)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    val rep = Dedup.contaminationReport(clean.union(leaked), "doc_id",
        "text", bench, "text", w = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(3))).toMap
    (0L until 5L).foreach(i => assert(rep(i + 1000000L) == 1.0, i))
    // the corpus has a few NATURAL copies of bench docs (generator text
    // reuse) — those legitimately report high contamination; the bulk of
    // the clean corpus must be ~0
    val cleanRates = rep.filter(_._1 < 1000000L).values.toSeq
    assert(cleanRates.nonEmpty)
    assert(cleanRates.count(_ < 0.05) >= (cleanRates.size * 9) / 10,
      s"too many contaminated: ${cleanRates.count(_ >= 0.05)}")
  }

  test("distributed label propagation resolves a 20-node chain within 5 rounds (pointer jumping)") {
    import spark.implicits._
    // a pure chain is the worst diameter shape; one-hop-per-round
    // propagation needs 19 rounds, pointer jumping needs ceil-log-ish
    val chain = (0L until 19L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.resolveClusters(chain, maxIters = 5, driverSideLimit = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == (0L to 19L).map(i => i -> 0L).toMap, got)
  }

  test("end-to-end near-dup removal: injected dups eliminated from corpus") {
    val d = docsDf.select("doc_id", "text").limit(80)
    val dup = d.limit(10).withColumn("doc_id", col("doc_id") + 1000000L)
    val corpus = d.union(dup)
    val pairs = Dedup.minhashLshPairs(corpus, "doc_id", "text",
      w = 3, k = 64, bands = 16).where(col("est_jaccard") >= 0.9)
    val cleaned = Dedup.removeNearDups(corpus, "doc_id", pairs)
    // every injected dup is gone (its original, with the smaller id, wins)
    assert(cleaned.where(col("doc_id") >= 1000000L).count() == 0)
    // semantic property: no qualifying near-dup pair survives the removal
    val residual = Dedup.minhashLshPairs(cleaned, "doc_id", "text",
      w = 3, k = 64, bands = 16).where(col("est_jaccard") >= 0.9).count()
    assert(residual == 0, s"$residual near-dup pairs survived")
    // and we never remove more than one side of each pair
    assert(cleaned.count() >= 70 && cleaned.count() <= 80)
  }


  test("rolling-hash fingerprint: matches scala reference, codegen'd, collision-free on corpus") {
    import spark.implicits._
    def ref(t: String): Long = {
      var h = 1125899906842597L
      t.getBytes("UTF-8").foreach(b => h = h * 31L + (b & 0xffL))
      h
    }
    val texts = docsDf.select("text").limit(100)
      .collect().map(_.getString(0)) ++ Seq("", "a", "中文", "a b\nc")
    val df = texts.toSeq.toDF("t")
      .select(TextOps.rollingFingerprint(col("t")).as("h"))
    val got = df.collect().map(_.getLong(0))
    assert(got.sameElements(texts.map(ref)))
    assert(got.distinct.length == got.length) // no collisions here
    // codegen check on a real scan (a local relation constant-folds)
    val plan = docsDf.select(TextOps.rollingFingerprint(col("text")))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), plan)
  }

  test("multimodal resize plan: aspect preserved, never upscaled") {
    val meta = Multimodal.decodeStage(spark, Multimodal.fakeMediaTable(spark, 50, 42L))
    val plan = Multimodal.resizePlan(meta, maxDim = 256).collect()
    plan.foreach { r =>
      val (w, h, tw, th) = (r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4))
      assert(tw <= 256 && th <= 256 || (w <= 256 && h <= 256))
      assert(tw <= w && th <= h) // never upscale
      if (math.max(w, h) > 256)
        assert(math.max(tw, th) == 256, s"$w x $h -> $tw x $th")
    }
  }

  test("ImageIoCodec decodes a REAL PNG through the batched stage") {
    import spark.implicits._
    // the committed 13x7 fixture + an in-memory 5x3 PNG: genuine codec
    // work (true pixel dims, luminance histogram) through the SAME
    // decodeStage seam the fake-media queries use
    val fixture = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      getClass.getResource("/fixture_13x7.png").toURI))
    val img = new java.awt.image.BufferedImage(5, 3,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 3; x <- 0 until 5) img.setRGB(x, y, 0xFF0000)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val media = Seq(
      ("png://fixture", "image", fixture),
      ("png://red", "image", bos.toByteArray),
      ("media://not-an-image", "image", Array[Byte](1, 2, 3)),
      ("media://audio", "audio", Array[Byte](9, 9, 9)))
      .toDF("media_ref", "kind", "content")
    val got = Multimodal
      .decodeStage(spark, media, Multimodal.ImageIoCodec)
      .collect().map(m => m.media_ref -> m).toMap
    assert(got("png://fixture").width == 13 &&
           got("png://fixture").height == 7)
    assert(got("png://red").width == 5 && got("png://red").height == 3)
    // all-red image: luminance 76 -> bin 2 holds the whole mass
    assert(math.abs(got("png://red").feature(2) - 1.0f) < 1e-6)
    assert(got("png://red").feature.sum > 0.999f)
    // undecodable image bytes and non-image kinds fall back to FakeCodec
    val fake1 = Multimodal.FakeCodec.decode("media://not-an-image",
      "image", Array[Byte](1, 2, 3))
    assert(got("media://not-an-image").width == fake1.width)
    val fake2 = Multimodal.FakeCodec.decode("media://audio", "audio",
      Array[Byte](9, 9, 9))
    assert(got("media://audio").duration_ms == fake2.duration_ms)
  }

  // ---------- similarity ----------

  test("cosine column expr == scala dot product") {
    import spark.implicits._
    val df = Seq((Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0)))
      .toDF("a", "b")
      .select(Dedup.cosine(col("a"), col("b")).as("c"))
    val want = (4.0 + 10.0 + 18.0) /
      (math.sqrt(14.0) * math.sqrt(16 + 25 + 36))
    assert(math.abs(df.collect()(0).getDouble(0) - want) < 1e-12)
  }

  test("bruteForceTopK == collected top-k") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val all = e.collect().map(r =>
      (r.getLong(0), r.getSeq[Float](1).toArray))
    val query = all.find(_._1 == 3L).get._2
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i).toDouble * b(i)
        na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val want = all.map { case (id, v) => (id, cos(v, query)) }
      .sortBy { case (id, s) => (-s, id) }.take(10).map(_._1).toSeq
    val got = Similarity.bruteForceTopK(e, "vec_id", "embedding", query, 10)
      .collect().map(_.getLong(0)).toSeq
    assert(got == want)
  }

  test("ivfAssign: zero-shuffle argmax matches driver-side brute-force assignment") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val centroids = e.orderBy(col("vec_id").asc).limit(8)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i).toDouble * b(i)
        na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val want = e.collect().map { r =>
      val v = r.getSeq[Float](1).toArray
      // max sim, ties → lowest cell_id (centroids are id-sorted)
      r.getLong(0) -> centroids.minBy { case (id, c) => (-cos(c, v), id) }._1
    }.toMap
    val got = Similarity.ivfAssign(e, "vec_id", "embedding", centroids)
      .select("vec_id", "cell_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
    // plan shape: single codegen'd projection — no Exchange, no Window,
    // no join (the r01 crossJoin+row_number formulation had all three)
    val plan = Similarity.ivfAssign(e, "vec_id", "embedding", centroids)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Window") &&
           !plan.contains("Join"), plan)
  }

  test("embedding near-dup: recovery at two corpus sizes with bounded buckets (autoPlanes)") {
    import spark.implicits._
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    for (n <- Seq(100L, 500L)) {
      val base = e.where(col("vec_id") < n)
      val dups = base.where(col("vec_id") < 10)
        .withColumn("vec_id", col("vec_id") + 1000000L)
        .withColumn("embedding", transform(col("embedding"), x => x * lit(1.0005f)))
      val corpus = base.union(dups)
      val planes = Dedup.autoPlanes(n + 10, targetBucket = 64)
      val pairs = Dedup.embeddingNearDupPairs(corpus, "vec_id", "embedding",
        minSim = 0.999, nPlanes = planes)
      // all 10 injected jittered copies recovered (identical sketch —
      // jitter scales the vector, sign bits are scale-invariant)
      val inj = pairs.where(col("id_b") === col("id_a") + 1000000L).count()
      assert(inj == 10, s"n=$n planes=$planes recovered=$inj")
      // bucket occupancy is bounded near the target
      val maxBucket = corpus
        .select(Similarity.hyperplaneSketch(col("embedding"), planes).as("b"))
        .groupBy("b").count().agg(max("count")).collect()(0).getLong(0)
      assert(maxBucket <= 4 * 64, s"n=$n planes=$planes maxBucket=$maxBucket")
    }
  }

  test("multi-probe embedding LSH == brute force over hamming<=1 buckets; superset of single-probe") {
    import spark.implicits._
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .where(col("vec_id") < 200)
    // additive jitter is NOT scale-invariant for the sketch → some dup
    // sketches land one bit off, which single-probe misses by design
    val dups = e.where(col("vec_id") < 40)
      .withColumn("vec_id", col("vec_id") + 1000000L)
      .withColumn("embedding",
        transform(col("embedding"), x => x + lit(0.015f)))
    val corpus = e.union(dups)
    val nPlanes = 14
    val minSim = 0.97
    // driver-side brute force with the plain twins
    val vecs = corpus.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val sk = vecs.map { case (id, v) =>
      (id, v, graft.oracle.PlainOracles.hyperplaneSketch(v, nPlanes)) }
    def brutePairs(maxHam: Int): Set[(Long, Long)] = (for {
      (ia, va, ba) <- sk; (ib, vb, bb) <- sk
      if ia < ib && java.lang.Long.bitCount(ba ^ bb) <= maxHam
      if graft.oracle.PlainOracles.cosineF(va, vb) >= minSim
    } yield (ia, ib)).toSet
    val single = Dedup.embeddingNearDupPairs(corpus, "vec_id", "embedding",
      minSim, nPlanes).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val multi = Dedup.embeddingNearDupPairsMultiProbe(corpus, "vec_id",
      "embedding", minSim, nPlanes).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(single == brutePairs(0))
    assert(multi == brutePairs(1))
    assert(single.subsetOf(multi))
    // the test must exercise the recall gap (some dup one bit away)
    assert(multi.size > single.size,
      s"multi=${multi.size} single=${single.size} — jitter flipped no bits")
  }

  test("ivf ANN: k rows, scores sorted, top-1 matches brute force when probed") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val idx = Similarity.ivfIndex(e, "vec_id", "embedding", nCells = 8)
    val centroids = e.orderBy(col("vec_id").asc).limit(8)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val query = centroids(2)._2
    val got = Similarity.ivfTopK(idx, "vec_id", "embedding", centroids,
      query, k = 5, nProbe = 8) // probe all cells → exact
    val scores = got.collect().map(_.getDouble(1))
    assert(scores.length == 5)
    assert(scores.sameElements(scores.sorted.reverse))
    // with nProbe = all cells, the top-1 must be the query vector itself
    assert(got.collect().head.getLong(0) == centroids(2)._1)
  }

  // ---------- multimodal ----------

  test("trained IVF codebook separates directional clusters; assignment pure") {
    import spark.implicits._
    // 3 well-separated direction clusters in 8-d (+ small deterministic spread)
    val base = Seq(
      Array(1f, 0f, 0f, 0f, 0f, 0f, 0f, 0f),
      Array(0f, 0f, 0f, 1f, 0f, 0f, 0f, 0f),
      Array(0f, 0f, 0f, 0f, 0f, 0f, 1f, 0f))
    val rows = (0 until 90).map { i =>
      val b = base(i % 3)
      (i.toLong, b.zipWithIndex.map { case (x, d) =>
        x + 0.05f * (((i * 7 + d * 13) % 10) - 5) / 10f })
    }
    val df = rows.toDF("vec_id", "embedding")
    val cents = Similarity.trainCentroids(df, "vec_id", "embedding",
      nCells = 3, sampleN = 90, iters = 10)
    assert(cents.map(_._1).toSeq == Seq(0L, 1L, 2L))
    val assigned = Similarity.ivfAssign(df, "vec_id", "embedding", cents)
      .select("vec_id", "cell_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // every true cluster maps to exactly one cell, and cells don't merge
    val byTrue = assigned.groupBy(_._1 % 3).view.mapValues(_.map(_._2).toSet)
    assert(byTrue.values.forall(_.size == 1), s"cluster split: $byTrue")
    assert(byTrue.values.flatten.toSet.size == 3, s"clusters merged: $byTrue")
    // determinism
    val cents2 = Similarity.trainCentroids(df, "vec_id", "embedding", 3, 90, 10)
    assert(cents.zip(cents2).forall { case ((_, a), (_, b)) =>
      a.sameElements(b) })
    // dual-impl parity: the plain-Scala twin (seeded hash-sample,
    // farthest-point init, Lloyd rounds) must reproduce the engine
    // codebook BIT-identically — sampleN < n exercises the sample path
    for (sampleN <- Seq(90, 40); iters <- Seq(1, 4)) {
      val eng = Similarity.trainCentroids(df, "vec_id", "embedding",
        nCells = 3, sampleN = sampleN, iters = iters)
      val plain = graft.oracle.PlainOracles.trainCentroidsPlain(
        rows, nCells = 3, sampleN = sampleN, iters = iters)
      assert(eng.length == plain.length)
      assert(eng.zip(plain).forall { case ((ia, va), (ib, vb)) =>
        ia == ib && va.sameElements(vb) },
        s"codebook mismatch at sampleN=$sampleN iters=$iters")
    }
  }

  test("bpe-ish token estimate: pinned counts and java-regex parity") {
    import spark.implicits._
    val cases = Seq(
      ("It's a test, 42 times!", 8), // It|'s| a| test|,| 42| times|!
      ("", 0),
      (" ", 1),          // lone whitespace run
      ("naïve café", 2), // unicode letters are one run each
      ("a1b2", 4),       // letter/digit alternation splits
      ("hello world", 2))
    val got = cases.map(_._1).toDF("text")
      .select(TextOps.bpeTokenCount(col("text"))).collect().map(_.getInt(0))
    assert(got.toSeq == cases.map(_._2),
      s"got ${got.toSeq}, want ${cases.map(_._2)}")
    // the RE2-safe pattern means java.util.regex and the DuckDB twin
    // agree; pin the java side here (driver gate pins the DuckDB side)
    val p = java.util.regex.Pattern.compile(TextOps.BpePattern)
    cases.foreach { case (s, n) =>
      var c = 0; val m = p.matcher(s); while (m.find()) c += 1
      assert(c == n, s"java regex count $c != $n for '$s'")
    }
  }

  test("text embedder: twin parity, unit norm, locality, null edges, codegen") {
    import spark.implicits._
    val d = docsDf.select("text").limit(200)
    val eng = d.select(Similarity.embedText(col("text"), 32).as("e"))
      .collect().map(r => if (r.isNullAt(0)) null else r.getSeq[Float](0))
    val twin = d.collect().map(r =>
      graft.oracle.PlainOracles.textEmbed(r.getString(0), 32)
        .map(_.toSeq).orNull)
    assert(eng.zip(twin).forall { case (a, b) =>
      (a == null && b == null) || a == b }, "engine != plain twin")
    // unit L2 norm (within float tolerance)
    eng.filter(_ != null).foreach { v =>
      val n = v.map(x => x.toDouble * x).sum
      assert(math.abs(n - 1.0) < 1e-5, s"norm $n")
    }
    // locality: a doc is closest to itself; identical text = same vector
    val t0 = eng(0)
    assert(eng(1) != t0 || twin(1) == twin(0))
    // null edges: empty text, only-spaces text
    val edge = Seq("", "   ", "x").toDF("text")
      .select(Similarity.embedText(col("text"), 8)).collect()
    assert(edge(0).isNullAt(0) && edge(1).isNullAt(0) && !edge(2).isNullAt(0))
    // stays inside whole-stage codegen
    val plan = d.select(Similarity.embedText(col("text"), 32))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), s"not codegen'd:\n$plan")
  }

  test("pii redaction: email/phone/ip become typed placeholders; hits counted") {
    import spark.implicits._
    val df = Seq(
      "mail me at a.user+x@sub.example.org today",
      "call 555-123-4567 or 555 987 6543 now",
      "host 192.168.0.1 and 10.0.0.255",
      "clean text with no pii at all").toDF("t")
      .select(TextOps.redactPii(col("t")).as("clean"),
              TextOps.piiHits(col("t")).as("hits"))
    val rows = df.collect().map(r => (r.getString(0), r.getInt(1)))
    assert(rows(0) == ("mail me at <EMAIL> today", 1))
    assert(rows(1) == ("call <PHONE> or <PHONE> now", 2))
    assert(rows(2) == ("host <IP> and <IP>", 2))
    assert(rows(3) == ("clean text with no pii at all", 0))
  }

  test("sentences: terminator runs, unterminated tail, all-punct, empty") {
    import spark.implicits._
    def sents(t: String): Seq[String] =
      Seq(t).toDF("t")
        .select(graft.ops.TextOps.sentences(col("t")).as("s"))
        .collect().head.getSeq[String](0)
    assert(sents("One. Two!! Three?") == Seq("One.", " Two!!", " Three?"))
    assert(sents("No terminator here") == Seq("No terminator here"))
    assert(sents("Tail. rest") == Seq("Tail.", " rest"))
    assert(sents("...") == Seq.empty) // nothing but terminators
    assert(sents("") == Seq.empty)
    // newline is an ordinary char for the class (not a terminator)
    assert(sents("a\nb. c") == Seq("a\nb.", " c"))
  }

  test("sentenceDedup: first occurrence wins corpus-wide, rebuild ordered") {
    import spark.implicits._
    val docs = Seq(
      (1L, "Cookie banner here. Unique alpha content."),
      (2L, "Cookie banner here. Unique beta content. Cookie banner here."),
      (3L, "Unique beta content."), // dup of doc 2's sentence
      (4L, "Totally original throughout.")).toDF("doc_id", "text")
    val got = graft.ops.Dedup.sentenceDedup(docs, "doc_id", "text")
      .orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(got(0) ==
      (1L, "Cookie banner here. Unique alpha content.", 0L))
    // doc 2 loses BOTH banner copies (rank 2 and 3 of that sentence)
    assert(got(1) == (2L, "Unique beta content.", 2L))
    // doc 3's only sentence is a later copy of doc 2's — all cut
    assert(got(2) == (3L, "", 1L))
    assert(got(3) == (4L, "Totally original throughout.", 0L))
  }

  test("dehyphenate: lowercase continuations merge, upper/digit keep hyphen+break") {
    import spark.implicits._
    val rows = Seq(
      "exam-\nple stays one word",
      "tail-\r\ncrlf merges too",
      "compound-\nWord keeps the break",
      "range 3-\n9 keeps it too",
      "mid-dash untouched, trailing-\n").toDF("t")
      .select(TextOps.dehyphenate(col("t")).as("d"))
      .collect().map(_.getString(0))
    assert(rows(0) == "example stays one word")
    assert(rows(1) == "tailcrlf merges too")
    assert(rows(2) == "compound-\nWord keeps the break")
    assert(rows(3) == "range 3-\n9 keeps it too")
    assert(rows(4) == "mid-dash untouched, trailing-\n")
  }

  test("normalizeWs / canonicalText: control chars, runs, trim, casefold") {
    import spark.implicits._
    val rows = Seq(
      "  hello\u0000world\tand\u000bmore  spaces  ",
      "A-B.C, d!e",
      "\u0001\u0002",
      "already clean").toDF("t")
      .select(TextOps.normalizeWs(col("t")).as("n"),
              TextOps.canonicalText(col("t")).as("c"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(rows(0) == ("hello world and more spaces",
                       "hello world and more spaces"))
    assert(rows(1) == ("A-B.C, d!e", "a b c d e"))
    assert(rows(2) == ("", "")) // all-control input trims to empty
    assert(rows(3) == ("already clean", "already clean"))
  }

  test("corpus pipeline: normalize + LM gate drop gibberish, keep naturals") {
    import spark.implicits._
    val base = docsDf.select("doc_id", "text").where(col("doc_id") < 80)
    // character soup the corpus LM must find improbable; messy
    // whitespace the normalize pass must clean before anything else
    val soup = (0 until 40).map(k => s"qzx${k}v${k * 7 % 97}j").mkString(" ")
    val injected = Seq(
      (9000001L, soup),
      (9000002L, "  spaced\tout   but  otherwise the same corpus words " +
        base.first().getString(1).split(" ").take(30).mkString(" ")))
      .toDF("doc_id", "text")
    val (clean, counts) = CorpusPipeline.clean(base.union(injected),
      "doc_id", "text",
      CorpusPipeline.Config(minQuality = 0.0, normalize = true,
        minLmScore = Some(-4.0), lmTrainDocs = 80))
    assert(counts.map(_.stage).contains("lm_gate"))
    // monotone retention
    counts.map(_.docs).sliding(2).foreach { case Seq(a, b) =>
      assert(b <= a, counts.toString)
    }
    val ids = clean.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!ids.contains(9000001L), "gibberish survived the LM gate")
    assert(ids.contains(9000002L), "in-domain doc wrongly dropped")
    // the LM gate keeps ≥ 90% of the natural corpus
    assert(ids.count(_ < 80) >= 72, s"kept ${ids.count(_ < 80)} of 80")
    // normalization reached the output: no double spaces / tabs remain
    val kept = clean.where(col("doc_id") === 9000002L)
      .select("text").first().getString(0)
    assert(!kept.contains("  ") && !kept.contains("\t") &&
      kept == kept.trim)
  }

  test("corpus pipeline: stage counts monotone, dups gone, output clean") {
    val base = docsDf.select("doc_id", "text").where(col("doc_id") < 80)
    val nearDup = base.where(col("doc_id") < 5) // exact copies ≈ near dups
      .withColumn("doc_id", col("doc_id") + 1000000L)
    val corpus = base.union(nearDup)
    val (clean, counts) = CorpusPipeline.clean(corpus, "doc_id", "text",
      CorpusPipeline.Config(minQuality = 0.5, cutWindowTokens = 8))
    val byStage = counts.map(c => c.stage -> c.docs).toMap
    assert(counts.map(_.stage) == Seq("input", "quality_gate",
      "lang_filter", "exact_dedup", "near_dedup", "window_cut"))
    // counts never increase stage to stage
    assert(counts.map(_.docs).sliding(2).forall(p => p(1) <= p(0)))
    assert(byStage("input") == corpus.count())
    // the injected copies are exact dups → eliminated by the exact stage
    assert(clean.where(col("doc_id") >= 1000000L).count() == 0)
    // no exact duplicate texts survive
    val out = clean.collect().map(_.getString(1))
    assert(out.distinct.length == out.length)
  }

  test("pipeline repetition gate: spam docs dropped, stage absent at defaults") {
    import spark.implicits._
    val base = docsDf.select("doc_id", "text").where(col("doc_id") < 40)
    // a boilerplate doc: one phrase repeated — distinct-word fraction
    // near 0, duplicate-2-gram fraction near 1. Long enough to pass the
    // quality gate's length floor.
    val spam = Seq((9000001L,
      Seq.fill(40)("click here to buy now").mkString(" ")))
      .toDF("doc_id", "text")
    val (clean, counts) = CorpusPipeline.clean(base.union(spam),
      "doc_id", "text",
      CorpusPipeline.Config(minQuality = 0.0,
        minDistinctWordFrac = 0.3, maxDup2gramFrac = 0.5))
    assert(counts.map(_.stage).contains("repetition_gate"))
    val ids = clean.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!ids.contains(9000001L), "repeated-phrase spam survived")
    assert(ids.contains(20L)) // organic docs pass
    // defaults = gate off: stage list unchanged for existing callers
    val (_, counts2) = CorpusPipeline.clean(base, "doc_id", "text",
      CorpusPipeline.Config())
    assert(!counts2.map(_.stage).contains("repetition_gate"))
  }

  test("pipeline domain blocklist: docs citing blocked domains dropped, stage absent at defaults") {
    import spark.implicits._
    val base = docsDf.select("doc_id", "text").where(col("doc_id") < 40)
    val tainted = Seq(
      (9000001L, "perfectly natural text that nonetheless cites " +
        "https://spam.example/landing?x=1 somewhere in the middle of it " +
        "with plenty of ordinary running words around the citation too"),
      (9000002L, "equally natural text citing https://fine.example/page " +
        "which is NOT on the blocklist and therefore must survive the " +
        "provenance gate along with the rest of this clean corpus"))
      .toDF("doc_id", "text")
    val (clean, counts) = CorpusPipeline.clean(base.union(tainted),
      "doc_id", "text",
      CorpusPipeline.Config(minQuality = 0.0,
        blockedDomains = Seq("spam.example", "malware.example")))
    assert(counts.map(_.stage).contains("domain_filter"))
    val ids = clean.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!ids.contains(9000001L), "blocked-domain doc survived")
    assert(ids.contains(9000002L), "unblocked-domain doc wrongly dropped")
    assert(ids.contains(20L)) // url-free organic docs pass untouched
    // defaults = gate off: stage list unchanged for existing callers
    val (_, counts2) = CorpusPipeline.clean(base, "doc_id", "text",
      CorpusPipeline.Config())
    assert(!counts2.map(_.stage).contains("domain_filter"))
  }

  test("corpus pipeline decontamination: docs leaking eval windows are dropped") {
    val base = docsDf.select("doc_id", "text").where(col("doc_id") < 60)
    // eval set = the full text of docs 10 and 11 — those corpus docs leak
    // every one of their windows and must be dropped
    val evalSet = base.where(col("doc_id").isin(10L, 11L)).select("text")
    val (clean, counts) = CorpusPipeline.clean(base, "doc_id", "text",
      CorpusPipeline.Config(contaminationW = 8, maxContamination = 0.0),
      evalSet = Some(evalSet))
    val stages = counts.map(_.stage)
    assert(stages.contains("decontaminate"), s"stages: $stages")
    val ids = clean.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!ids.contains(10L) && !ids.contains(11L),
      "leaked docs survived decontamination")
    // untouched docs stay (sanity: the stage is a filter, not a rewrite)
    assert(ids.contains(20L))
    // skipped when no eval set is supplied
    val (_, counts2) = CorpusPipeline.clean(base, "doc_id", "text",
      CorpusPipeline.Config())
    assert(!counts2.map(_.stage).contains("decontaminate"))
  }

  test("pipeline lang stage with trigram classifier drops foreign docs") {
    import spark.implicits._
    import graft.functions.TrigramLangId
    // long-enough English docs that pass the quality gate + foreign
    // seed sentences (which fail quality anyway — so give them quality
    // shape by repeating to length and checking the lang stage delta)
    // digit suffixes make every doc shingle-distinct (so near-dedup
    // keeps them) without touching the letters-only trigram profile
    val pool = gen.CorpusGen.Words
    val en = (0 until 10).map { i =>
      (i.toLong, "the quick brown fox jumps over the lazy dog and " +
        "then it runs far away from all of the other animals " +
        (0 until 40).map(k => pool((i * 13 + k * 7) % pool.length) +
          i.toString + k.toString).mkString(" ")) }
    val foreign = (0 until 10).map { i =>
      val li = TrigramLangId.Seeds.all.indexWhere(_._1 == "de")
      (100L + i, (TrigramLangId.seedSentence(li, i) + " ") * 6) }
    val base = (en ++ foreign).toDF("doc_id", "text")
    val (clean, counts) = CorpusPipeline.clean(base, "doc_id", "text",
      CorpusPipeline.Config(minQuality = 0.0, keepLangs = Seq("en"),
        langClassifier = "trigram"))
    val kept = clean.select("doc_id").as[Long].collect().toSet
    assert(kept == (0L until 10L).toSet,
      s"kept $kept; stages ${counts.mkString(", ")}")
    assert(counts.find(_.stage == "lang_filter").get.docs == 10)
  }

  test("pipeline dehyphenate + sentence-dedup: wrap repaired, boilerplate kept once") {
    import spark.implicits._
    val pool = gen.CorpusGen.Words
    def body(i: Int) = (0 until 40).map(k =>
      pool((i * 11 + k * 5) % pool.length) + i + k).mkString(" ")
    val docs = (0 until 6).map { i =>
      (i.toLong, s"Subscribe to our news-\nletter today. " +
        s"Original sentence ${body(i)} number $i.")
    }.toDF("doc_id", "text")
    val (clean, counts) = CorpusPipeline.clean(docs, "doc_id", "text",
      CorpusPipeline.Config(minQuality = 0.0,
        dehyphenate = true, sentenceDedup = true))
    val rows = clean.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(counts.map(_.stage).contains("sentence_dedup"))
    assert(rows.size == 6)
    // the typesetting wrap is repaired before anything else sees it
    assert(rows.values.forall(!_.contains("news-")))
    // the shared banner survives exactly once — in the globally-first doc
    assert(rows.values.count(
      _.contains("Subscribe to our newsletter today.")) == 1)
    assert(rows(0L).startsWith("Subscribe to our newsletter today."))
    (1 until 6).foreach(i =>
      assert(rows(i.toLong).contains(s"number $i"), s"doc $i body lost"))
  }

  test("multimodal decode stage: deterministic, schema intact, frames explode") {
    val media = Multimodal.fakeMediaTable(spark, 60, 42L)
    val meta = Multimodal.decodeStage(spark, media)
    assert(meta.count() == 60)
    val row = meta.orderBy("media_ref").collect().head
    val row2 = Multimodal.decodeStage(spark, media).orderBy("media_ref")
      .collect().head
    // case-class equality is reference-based for the Array[Float] field
    assert(row.copy(feature = null) == row2.copy(feature = null))
    assert(row.feature.sameElements(row2.feature))
    val frames = Multimodal.frameSamplePlan(meta, 5000L)
    assert(frames.count() > 0)
    assert(frames.where(col("sample_ms") % 5000 =!= 0).count() == 0)
  }

  test("url extraction + domain: pinned forms") {
    import spark.implicits._
    val rows = Seq(
      "see http://a.example.com/x?q=1 and https://b.org, done",
      "no urls here",
      "bare https://c.net#frag tail http://d.io/p/q")
      .toDF("text")
      .select(explode(TextOps.extractUrls(col("text"))).as("url"))
      .select(col("url"), TextOps.urlDomain(col("url")).as("domain"))
      .as[(String, String)].collect().toSeq.sorted
    assert(rows == Seq(
      ("http://a.example.com/x?q=1", "a.example.com"),
      ("http://d.io/p/q", "d.io"),
      ("https://b.org,", "b.org,"),
      ("https://c.net#frag", "c.net")))
  }

  test("cross-format dedup: html/md/txt/eml/xml/json/doc/ppt renditions share one canonical text") {
    val dir = tempDir("graft-cross-spec")
    graft.gen.CrossGen.write(dir.toString, 2, 1)
    val byDoc = graft.sources.RawFiles.read(spark, dir.toString)
      .collect()
      .flatMap(d => graft.extract.Extractor.extractRows(d))
      .filter(_.text != null)
      .groupBy(_.doc_id)
      .map { case (id, rows) =>
        val full = rows.sortBy(_.order).map(_.text).mkString("\n")
        id -> full.toLowerCase.replaceAll("[^a-z0-9]+", " ").trim
      }
    // each article's eight renditions — including the two legacy CFB
    // binaries, the generic-XML document, and the whole-file .json
    // record — canonicalize identically…
    (0 until 2).foreach { a =>
      val canons = graft.gen.CrossGen.formats
        .map(f => byDoc(graft.gen.CrossGen.fileName(a, f))).toSet
      assert(canons.size == 1, s"article $a: $canons")
    }
    // …and across articles (and vs the solo) they differ
    assert(Set(byDoc("art0000.txt"), byDoc("art0001.txt"),
      byDoc("solo0000.txt")).size == 3)
    dir.toFile.listFiles.foreach(_.delete()); dir.toFile.delete(): Unit
  }

  test("url canonicalization: pinned forms + char-walk twin parity on adversarial urls") {
    import spark.implicits._
    val cases = Seq(
      // casing: scheme+host lowered, path untouched
      "HTTP://WWW.News.EXAMPLE.com/Article/X" ->
        "http://www.news.example.com/Article/X",
      // default ports drop; non-default stay
      "http://h.example:80/p" -> "http://h.example/p",
      "https://h.example:443" -> "https://h.example",
      "http://h.example:8080/p" -> "http://h.example:8080/p",
      // fragment + trackers + trailing slash
      "https://a.b/p/?utm_source=x&id=3&ref=nav#top" -> "https://a.b/p/?id=3",
      "https://a.b/p?utm_campaign=x&gclid=y" -> "https://a.b/p",
      "https://a.b/?fbclid=1" -> "https://a.b",
      // tracker-lookalikes kept
      "https://a.b/p?refx=1&utm_X=2&prefix=3" ->
        "https://a.b/p?refx=1&utm_X=2&prefix=3",
      // bare '?' drops; scheme-less untouched except tail rules
      "https://a.b/p?" -> "https://a.b/p",
      "not a url/" -> "not a url")
    val got = cases.map(_._1).toDF("url")
      .select(TextOps.canonicalUrl(col("url"))).as[String].collect().toSeq
    assert(got == cases.map(_._2), got.mkString("\n"))
    // engine == independent char walk, on the pins AND adversarial forms
    val adversarial = cases.map(_._1) ++ Seq(
      "http://x:80", "https://x:443/", "HTTPS://X:443/?ref=a&ref=b",
      "http://a/p?utm_=1&utm_a9_z=2&id=", "http://a/p?&&",
      "ftp://Mixed.Case/Path", "http://", "?ref=1", "",
      "http://a/p?id=1&utm_source=x&id=2&utm_source=y")
    val sparkSide = adversarial.toDF("url")
      .select(TextOps.canonicalUrl(col("url"))).as[String].collect().toSeq
    val plainSide = adversarial.map(
      graft.oracle.PlainOracles.canonicalUrlPlain)
    assert(sparkSide == plainSide,
      sparkSide.zip(plainSide).filter(p => p._1 != p._2).mkString("\n"))
    // r06 native expression == the pre-r06 composed five-regexp form,
    // on the pins and the adversarial set (and codegen'd)
    val composedSide = adversarial.toDF("url")
      .select(TextOps.canonicalUrlComposed(col("url")))
      .as[String].collect().toSeq
    assert(sparkSide == composedSide,
      sparkSide.zip(composedSide).filter(p => p._1 != p._2).mkString("\n"))
    // codegen check against a parquet-backed source (a local Seq folds
    // to a LocalTableScan with no codegen stage at all)
    val plan = docsDf
      .select(TextOps.canonicalUrl(col("text")))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), s"not codegen'd:\n$plan")
  }
}
