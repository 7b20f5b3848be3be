package graft

import graft.geo.{TextAlgos, VecAlgos}
import graft.operators.{Dedup, IvfIndex, Multimodal, Similarity, TextAnalysis}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class PipelineOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Corpus with planted exact dups and near-dups. */
  private lazy val corpus = {
    val base = "the quick brown fox jumps over the lazy dog and keeps running through the field"
    Seq(
      (1L, base),
      (2L, base),                                     // exact dup of 1
      (3L, base.replace("dog", "cat")),               // near dup of 1
      (4L, base.replace("quick", "slow").replace("lazy", "brave")), // near-ish
      (5L, "совершенно другой текст не похожий ни на что остальное здесь вообще"),
      (6L, "another unrelated document talking about spark catalyst optimizer internals"),
      (7L, base + " extra tail words appended here"), // near dup of 1
      (8L, "short text")
    ).toDF("id", "text")
  }

  test("exact dedup keeps min id and counts dups") {
    val d = Dedup.exact(corpus, "id", "text").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val base = corpus.collect().find(_.getLong(0) == 1L).get.getString(1)
    assert(d(base) == (1L, 2L))
    assert(Dedup.exactRows(corpus, "id", "text").count() == 7)
  }

  private def bruteJaccardPairs(tau: Double): Set[(Long, Long)] = {
    val rows = corpus.collect().map(r => (r.getLong(0), r.getString(1)))
    (for {
      (ia, ta) <- rows; (ib, tb) <- rows if ia < ib
      j = TextAlgos.jaccard(TextAlgos.shingles(ta, 3), TextAlgos.shingles(tb, 3))
      if j >= tau
    } yield (ia, ib)).toSet
  }

  test("minhash LSH pairs: no false positives; full recall on high-sim pairs") {
    val got = Dedup.minhashLshPairs(corpus, "id", "text", tau = 0.7)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = bruteJaccardPairs(0.7)
    assert(got.subsetOf(want)) // exact verification ⇒ no false positives
    val strong = bruteJaccardPairs(0.85)
    assert(strong.subsetOf(got), s"missed strong pairs: ${strong -- got}")
    assert(got.contains((1L, 2L)))
  }

  test("ngram jaccard pairs are exactly the brute-force pairs") {
    val got = Dedup.ngramJaccardPairs(corpus, "id", "text", n = 3, tau = 0.5)
      .collect().map(r => (r.getLong(1), r.getLong(0))).toSet // id_b joined first
    val gotPairs = Dedup.ngramJaccardPairs(corpus, "id", "text", n = 3, tau = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotPairs == bruteJaccardPairs(0.5))
    // jaccard value itself matches inclusion-exclusion from shingle counts
    val row = Dedup.ngramJaccardPairs(corpus, "id", "text", n = 3, tau = 0.5)
      .where($"id_a" === 1 && $"id_b" === 2).collect()(0)
    assert(row.getAs[Long]("common") == row.getAs[Long]("n_a"))
    assert(row.getAs[Long]("n_a") == row.getAs[Long]("n_b"))
  }

  test("asymmetric ngram jaccard (batch vs corpus) == symmetric pairs split by side") {
    // split the corpus into a disjoint "new batch" and "old corpus": the
    // asymmetric inverted index over (new, old) plus the symmetric operator
    // over new alone must reproduce EXACTLY the full symmetric pairs that
    // involve a new doc — same ids, same counts, same normalization
    val newB = corpus.where($"id" % 3 === 0)
    val oldB = corpus.where($"id" % 3 =!= 0)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("id_a", "id_b", "common", "n_a", "n_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    val got = rows(Dedup.ngramJaccardPairsBetween(newB, oldB, "id", "text", n = 3, tau = 0.3)) ++
      rows(Dedup.ngramJaccardPairs(newB, "id", "text", n = 3, tau = 0.3))
    val want = rows(Dedup.ngramJaccardPairs(corpus, "id", "text", n = 3, tau = 0.3)
      .where($"id_a" % 3 === 0 || $"id_b" % 3 === 0))
    assert(got == want, s"got-only=${got -- want} want-only=${want -- got}")
  }

  test("simhash pairs equal brute force at hamming <= 3 (banding certificate)") {
    val got = Dedup.simhashPairs(corpus, "id", "text", maxHamming = 3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rows = corpus.collect().map(r => (r.getLong(0), TextAlgos.simHash(r.getString(1))))
    val want = (for {
      (ia, ha) <- rows; (ib, hb) <- rows
      if ia < ib && TextAlgos.hammingDistance(ha, hb) <= 3
    } yield (ia, ib)).toSet
    assert(got == want)
    assert(got.contains((1L, 2L)))
  }

  private lazy val vectors = {
    val rnd = (i: Int, j: Int) => (graft.geo.Rng.uniform(i * 131L + j) - 0.5).toFloat
    val base = Array.tabulate(32)(j => rnd(0, j))
    def jitter(eps: Float, seed: Int) = base.zipWithIndex.map { case (v, j) => v + eps * rnd(seed, j) }
    (Seq(
      (0L, base.toSeq), (1L, jitter(0.05f, 1).toSeq), (2L, jitter(0.08f, 2).toSeq)) ++
      (3L to 40L).map(i => (i, Array.tabulate(32)(j => rnd(i.toInt, j)).toSeq))
    ).toDF("vec_id", "embedding")
  }

  test("embedding near-dup pairs: exact verification, high recall on planted dups") {
    val got = Dedup.embeddingPairs(vectors, "vec_id", "embedding", minCos = 0.95)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rows = vectors.collect().map(r =>
      (r.getLong(0), VecAlgos.quantize(r.getSeq[Float](1).toArray)))
    val want = (for {
      (ia, va) <- rows; (ib, vb) <- rows
      if ia < ib && VecAlgos.cosineQ(va, vb) >= 0.95
    } yield (ia, ib)).toSet
    assert(got.subsetOf(want))
    assert(got.contains((0L, 1L)) && got.contains((0L, 2L)), s"got=$got want=$want")
  }

  test("brute-force topk is the true quantised-cosine ranking") {
    val queries = vectors.where($"vec_id" < 2).select($"vec_id".as("qid"), $"embedding".as("vec"))
    val all = vectors.select($"vec_id".as("tid"), $"embedding".as("vec"))
    val got = Similarity.bruteTopK(queries, all, k = 3).collect()
      .map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
    val rows = vectors.collect().map(r => (r.getLong(0), VecAlgos.quantize(r.getSeq[Float](1).toArray)))
    for (q <- Seq(0L, 1L)) {
      val qv = rows.find(_._1 == q).get._2
      val ranked = rows.map { case (t, v) => (t, VecAlgos.cosineQ(qv, v)) }
        .sortBy { case (t, c) => (-c, t) }.take(3).map(_._1)
      assert(Seq(got((q, 1)), got((q, 2)), got((q, 3))) == ranked.toSeq)
    }
  }

  test("ANN topk achieves high recall vs brute force on real embeddings") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.where($"vec_id" % 25 === 0).select($"vec_id".as("qid"), $"embedding".as("vec"))
    val all = emb.select($"vec_id".as("tid"), $"embedding".as("vec"))
    val brute = Similarity.bruteTopK(queries, all, k = 3)
    val ann = Similarity.annTopK(queries, all, k = 3, bits = 16, bands = 8)
    val r = Similarity.recall(ann, brute)
    assert(r >= 0.7, s"ANN recall $r below 0.7")
  }

  test("persisted IVF index: partition-pruned query == in-memory IVF, centroids round-trip") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val corpus = emb.select($"vec_id".as("tid"), $"embedding".as("vec"))
    val queries = emb.where($"vec_id" % 25 === 0)
      .select($"vec_id".as("qid"), $"embedding".as("vec"))
    val dir = java.nio.file.Files.createTempDirectory("ivf_idx").toString

    val cents = IvfIndex.build(corpus, dir, kCentroids = 8, kmeansIters = 1)
    // centroid matrix round-trips exactly (float-text parse)
    val loaded = IvfIndex.readCentroids(spark, s"$dir/centroids.txt")
    assert(loaded.map(_.toSeq).toSeq == cents.map(_.toSeq).toSeq)

    // persisted query == in-memory IVF with the same quantizer
    val got = IvfIndex.query(spark, dir, queries, k = 3, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
    val want = Similarity.ivfTopKWith(queries, corpus, k = 3, cents, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
    assert(got == want)

    // the probed-cid predicate reaches the store as PARTITION pruning: one
    // query probing 3 of 8 lists reads those 3 list partitions only
    val one = IvfIndex.query(spark, dir, queries.limit(1), k = 3, nProbe = 3)
    one.collect()
    val scans = new AdaptiveSparkPlanHelper {}.collect(one.queryExecution.executedPlan) {
      case s: FileSourceScanExec if s.partitionFilters.exists(_.references.exists(_.name == "cid")) => s
    }
    assert(scans.size == 1, one.queryExecution.executedPlan)
    assert(scans.head.metrics("numPartitions").value == 3, one.queryExecution.executedPlan)
  }

  test("IvfIndex.rebuild re-clusters a drifted corpus in place, parity-equal to a fresh build") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val corpusA = emb.where($"vec_id" % 2 === 0).select($"vec_id".as("tid"), $"embedding".as("vec"))
    // the drifted corpus: disjoint ids, vectors negated — the quantizer built
    // on corpusA concentrates them into few lists (the skew failure mode)
    val corpusB = emb.where($"vec_id" % 2 === 1).select($"vec_id".as("tid"),
      transform($"embedding", x => -x).as("vec"))
    val dir = java.nio.file.Files.createTempDirectory("ivf_rb").toString
    val centsA = IvfIndex.build(corpusA, dir, kCentroids = 8, kmeansIters = 1)

    val centsB = IvfIndex.build(corpusB, dir, kCentroids = 8, kmeansIters = 1)
    assert(centsB.map(_.toSeq).toSeq != centsA.map(_.toSeq).toSeq, "quantizer did not move")
    // snapshot recommitted; stored centroids are the new quantizer
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(dir, "CURRENT")))
    assert(IvfIndex.readCentroids(spark, s"$dir/centroids.txt").map(_.toSeq).toSeq ==
      centsB.map(_.toSeq).toSeq)
    // rebuilt index answers == a fresh build over the drifted corpus
    val queries = corpusB.limit(5).select($"tid".as("qid"), $"vec")
    val freshDir = java.nio.file.Files.createTempDirectory("ivf_rbf").toString
    IvfIndex.build(corpusB, freshDir, kCentroids = 8, kmeansIters = 1)
    val got = IvfIndex.query(spark, dir, queries, k = 3, nProbe = 3).collect()
      .map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
    val want = IvfIndex.query(spark, freshDir, queries, k = 3, nProbe = 3).collect()
      .map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
    assert(got == want)
    // old-corpus rows are gone from the lists (full rewrite, not append)
    val ids = spark.read.parquet(s"$dir/lists").select("tid").collect()
      .map(_.getLong(0)).toSet
    assert(ids.forall(_ % 2 == 1))
  }

  test("IvfIndex: a rebuild attempt over a bad corpus must not invalidate the existing index") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val corpus = emb.select($"vec_id".as("tid"), $"embedding".as("vec"))
    val dir = java.nio.file.Files.createTempDirectory("ivf_guard").toString
    IvfIndex.build(corpus, dir, kCentroids = 4, kmeansIters = 0)
    val current = new org.apache.hadoop.fs.Path(dir, "CURRENT")
    val fs = current.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(current))
    // empty corpus = pure validation failure: must throw BEFORE dropping
    // CURRENT (an upstream filter bug must not destroy availability)
    intercept[IllegalArgumentException] {
      IvfIndex.build(corpus.where($"tid" < 0), dir, kCentroids = 4, kmeansIters = 0)
    }
    assert(fs.exists(current), "validation failure invalidated a good index")
    val queries = corpus.limit(3).select($"tid".as("qid"), $"vec")
    assert(IvfIndex.query(spark, dir, queries, k = 2, nProbe = 2).count() > 0)
  }

  test("lshPlan scales bits-per-band with corpus size, capped at one Long") {
    // tiny corpus: narrow bands (high recall); big corpus: full 64-bit sig
    val (b1, n1) = Similarity.lshPlan(100, bands = 4)
    assert(n1 == 4 && b1 / n1 >= 2 && b1 / n1 <= 16, s"$b1/$n1")
    val (b2, n2) = Similarity.lshPlan(100000, bands = 4)
    assert((b2, n2) == (64, 4)) // 16-bit bands at 100k
    val (b3, _) = Similarity.lshPlan(10000000L, bands = 8)
    assert(b3 == 64) // signature ceiling: one Long
    // monotone: more corpus never means narrower bands
    val widths = Seq(100L, 10000L, 1000000L).map(n => Similarity.lshPlan(n)._1)
    assert(widths == widths.sorted, widths)
  }

  test("minhash band cap: degenerate buckets can be bounded; default is exact LSH") {
    // 20 identical docs -> every band is one degenerate bucket of 20
    val docs = spark.createDataFrame(
      (0 until 20).map(i => (i.toLong, "the same boilerplate text again"))
        :+ ((99L, "something else entirely different here"))).toDF("doc_id", "text")
    val full = Dedup.minhashLshPairs(docs, "doc_id", "text", tau = 0.9)
    assert(full.count() == 20L * 19 / 2) // quadratic, as LSH semantics demand
    // capping bands at 8 drops the degenerate bucket's candidates entirely
    val capped = Dedup.minhashLshPairs(docs, "doc_id", "text", tau = 0.9, maxBandSize = 8)
    assert(capped.count() == 0)
  }

  test("IVF topk: near-perfect recall on clustered vectors, exact re-rank ordering") {
    import graft.geo.Rng
    // planted clusters: 6 centers in 8-dim, 40 members each with small noise;
    // IVF's inverted lists align with real cluster structure, so probing a
    // few lists recovers almost all true neighbours
    val dims = 8
    def unit(seed: Long): Array[Float] = {
      val v = Array.tabulate(dims)(i =>
        ((Rng.splitmix64(seed + i) >>> 11).toFloat / (1L << 53).toFloat) - 0.5f)
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      v.map(_ / n)
    }
    val centers = Array.tabulate(6)(c => unit(9000L + c))
    val rows = for (c <- 0 until 6; m <- 0 until 40) yield {
      val noise = unit(7000L + c * 100 + m).map(_ * 0.15f)
      val v = centers(c).zip(noise).map { case (a, b) => a + b }
      (c * 40L + m, v)
    }
    val df = spark.createDataFrame(rows).toDF("id", "emb")
    val queries = df.where($"id" % 20 === 0).select($"id".as("qid"), $"emb".as("vec"))
    val corpus = df.select($"id".as("tid"), $"emb".as("vec"))
    val brute = Similarity.bruteTopK(queries, corpus, k = 5)
    val sampled = Similarity.sampleCentroids(corpus, 12)
    val ivf = Similarity.ivfTopKWith(queries, corpus, k = 5, sampled, nProbe = 4)
    val r = Similarity.recall(ivf, brute)
    assert(r >= 0.9, s"IVF recall $r below 0.9 on clustered vectors")
    // a Lloyd refinement iteration must not hurt recall (lists align better
    // with the true clusters, so typically it helps)
    val ivfKm = Similarity.ivfTopKWith(queries, corpus, k = 5,
      Similarity.refineCentroids(corpus, sampled, iterations = 2), nProbe = 4)
    val rKm = Similarity.recall(ivfKm, brute)
    assert(rKm >= r - 0.05, s"k-means-refined recall $rKm fell below sampled $r")
    // candidates are a strict subset: every IVF pair must carry the exact
    // quantised cosine the brute path assigns it
    val bruteScores = brute.select($"qid", $"tid", $"cos".as("bcos"))
    val joined = ivf.join(bruteScores, Seq("qid", "tid"))
      .where(abs($"cos" - $"bcos") > 1e-12).count()
    assert(joined == 0)
  }

  test("text profile columns match the scala core") {
    val prof = TextAnalysis.profile(corpus).collect()
    for (r <- prof) {
      val t = r.getAs[String]("text")
      assert(r.getAs[String]("lang_pred") == TextAlgos.langId(t))
      assert(r.getAs[Double]("quality") == TextAlgos.qualityScore(t))
      assert(r.getAs[Int]("n_tokens") == TextAlgos.tokenCount(t))
      assert(r.getAs[Long]("fingerprint") == TextAlgos.rollingFingerprint(t))
    }
    val summary = TextAnalysis.langQualitySummary(corpus).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(summary("en") >= 5 && summary("ru") == 1)
  }

  test("multimodal: decode stub, resize plan") {
    val media = Multimodal.synthMedia(spark, 90).cache()
    val decoded = Multimodal.decode(media).cache()
    assert(decoded.count() == 90)
    assert(decoded.select("kind").distinct().collect().map(_.getString(0)).toSet ==
      Set("image", "audio", "video"))
    val resized = Multimodal.resizePlan(decoded, 512)
    assert(resized.where($"out_w" > 512 || $"out_h" > 512).count() == 0)
    assert(resized.where($"scale" === 1.0).count() ==
      decoded.where(greatest($"width", $"height") <= 512).count())
  }

  test("multimodal: REAL image decode via javax.imageio (checked-in PNG + synth PNGs)") {
    // a real PNG fixture produced outside the engine: header-only decode must
    // report its true dimensions
    val png = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/test/resources/media/fixture_37x23.png"))
    val d = Multimodal.decodeImage(png).get
    assert((d.kind, d.width, d.height, d.frames) == ("image", 37, 23, 1))
    assert(d.bodyLen == png.length)
    // non-image payloads fall through to the stub seam
    val fake = Multimodal.makePayload("audio", 100, 1, 1, 7L, 32)
    assert(Multimodal.decodeImage(fake).isEmpty)
    assert(Multimodal.decodePayload(fake).kind == "audio")
    // the distributed decode path reads real PNG headers for image rows
    val media = Multimodal.synthMedia(spark, 30)
    val viaSpark = Multimodal.decode(media)
      .where($"kind" === "image").select("media_id", "width", "height")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSeq
    assert(viaSpark.nonEmpty)
    // dims must equal the generator's (independent recomputation)
    for ((id, w, h) <- viaSpark) {
      val i = id.drop(1).toInt
      assert(w == 64 + graft.geo.Rng.uniformInt(1000L + i, 640), id)
      assert(h == 64 + graft.geo.Rng.uniformInt(2000L + i, 480), id)
    }
  }
}
