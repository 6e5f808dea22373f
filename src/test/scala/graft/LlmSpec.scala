package graft

import graft.llm.{LlmDedup, LlmVector, Multimodal}
import org.apache.spark.sql.functions._

/** §2.12 operators without a DuckDB oracle: planted-duplicate recall
  * for the sketch dedups, exact-duplicate retrieval for ANN, stub
  * plumbing for multimodal.
  */
class LlmSpec extends SparkSpec {
  import spark.implicits._

  private val base =
    "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"

  private def plantedDocs = Seq(
    (1L, base, "en"),
    (2L, base + " nu", "en"), // near-dup of 1: J = 10/11
    (3L, "one two three four five six seven eight nine ten", "en"),
    (4L, "uno dos tres cuatro cinco seis siete ocho nueve diez", "es"))
    .toDF("doc_id", "text", "lang")

  test("minhash LSH finds planted near-dups, no false merges") {
    val pairs = LlmDedup.minhashPairs(plantedDocs, 0.35)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)), s"got $pairs")
  }

  test("maxBandDf caps boilerplate bucket blow-up, keeps small-bucket recall") {
    // 20 identical boilerplate docs share every band bucket (df=20);
    // the planted pair (1, 2) sits in its own df=2 buckets. With the
    // valve at 5 the mega-bucket's C(20,2)=190 pairs vanish while the
    // planted pair's candidacy is untouched — for BOTH LSH pipelines.
    val boiler = (100L until 120L).map(i =>
      (i, "lorem ipsum dolor sit amet consectetur adipiscing elit sed do", "en"))
    val docs = plantedDocs.unionByName(boiler.toDF("doc_id", "text", "lang"))
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mmUncapped = ids(LlmDedup.minhashPairs(docs, 0.35))
    val mmCapped = ids(LlmDedup.minhashPairs(docs, 0.35, maxBandDf = Some(5)))
    assert(mmUncapped.count(_._1 >= 100L) == 190,
      s"expected full boilerplate clique: $mmUncapped")
    assert(mmCapped.forall(_._1 < 100L), s"capped bucket leaked: $mmCapped")
    assert(mmCapped.contains((1L, 2L)), s"planted pair lost: $mmCapped")
    // Simhash side: near-dup hamming isn't pinned, so plant an exact
    // dup (5 ≡ 1, hamming 0) as the guaranteed small-bucket pair.
    val docsSim = docs.unionByName(Seq((5L, base, "en"))
      .toDF("doc_id", "text", "lang"))
    val shUncapped = ids(LlmDedup.simhashPairs(docsSim, 3))
    val shCapped = ids(LlmDedup.simhashPairs(docsSim, 3, maxBandDf = Some(5)))
    assert(shUncapped.count(_._1 >= 100L) == 190)
    assert(shCapped.forall(_._1 < 100L), s"capped bucket leaked: $shCapped")
    assert(shCapped.contains((1L, 5L)), s"planted pair lost: $shCapped")
  }

  test("minhash recall on the real corpus matches exact ngram jaccard >= 0.35") {
    val exact = LlmDedup.queries("dedup_ngram")(spark, sf)
      .filter(col("j") >= 0.5) // well above the LSH design threshold
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sketch = LlmDedup.queries("dedup_minhash")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "corpus should contain planted near-dups")
    assert(exact.subsetOf(sketch),
      s"high-jaccard pairs missed by LSH: ${exact -- sketch}")
  }

  test("simhash: near-dup fingerprints closer than disjoint; exact dup paired") {
    // Deterministic properties: identical text → identical fingerprint
    // (band blocking then guarantees candidacy); near-dup hamming is
    // strictly below any disjoint pair's.
    val fps = LlmDedup.simhashFingerprints(
      plantedDocs.unionByName(Seq((5L, base, "en")).toDF("doc_id", "text", "lang")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(fps(a) ^ fps(b))
    assert(fps(1L) == fps(5L), "identical docs must share a fingerprint")
    assert(ham(1L, 2L) < ham(1L, 3L), s"${ham(1L, 2L)} vs ${ham(1L, 3L)}")
    assert(ham(1L, 2L) < ham(1L, 4L))
    val pairs = LlmDedup.simhashPairs(
      plantedDocs.unionByName(Seq((5L, base, "en")).toDF("doc_id", "text", "lang")),
      maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 5L)), s"exact dup not paired: $pairs")
    assert(!pairs.contains((3L, 4L)), s"disjoint docs merged: $pairs")
  }

  test("connected components: transitive near-dups collapse to one representative") {
    import spark.implicits._
    // Vee: pairs (1,3),(2,3) with 1≁2 directly. A pair-local
    // "drop the larger id" keeps BOTH 1 and 2; components keep only 1.
    val docs = Seq(1L, 2L, 3L, 9L).toDF("doc_id")
    val pairs = Seq((1L, 3L), (2L, 3L)).toDF("d1", "d2")
    val got = LlmDedup.connectedComponents(docs, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 9L))
  }

  test("connected components: a long chain converges to the smallest id") {
    import spark.implicits._
    // Chain 1-2-3-…-8: needs several propagation rounds (label must
    // travel the diameter), so this exercises the convergence loop.
    val docs = (1L to 9L).toDF("doc_id")
    val pairs = (1L to 7L).map(i => (i, i + 1)).toDF("d1", "d2")
    val got = LlmDedup.connectedComponents(docs, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == ((1L to 8L).map(_ -> 1L) :+ (9L -> 9L)).toMap)
  }

  test("ngram df-cap kills boilerplate-only pairs, keeps genuine near-dups") {
    // Docs 1/2: genuine near-dups. Docs 3/4: disjoint content but both
    // end with the same boilerplate footer — with no cap they pair at
    // J > 0 via footer shingles alone; the cap (footer shingles appear
    // in all 4 docs > cap 2) removes those candidates.
    val footer = "subscribe to our newsletter for updates every single day"
    val docs = Seq(
      (1L, base + " " + footer),
      (2L, base + " nu " + footer),
      (3L, "one two three four five six seven eight nine ten " + footer),
      (4L, "uno dos tres cuatro cinco seis siete ocho nueve diez " + footer))
      .toDF("doc_id", "text")
    val uncapped = LlmDedup.ngramPairs(docs, 0.1, None)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.contains((3L, 4L)), s"boilerplate should pair w/o cap: $uncapped")
    val capped = LlmDedup.ngramPairs(docs, 0.1, Some(2))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.contains((1L, 2L)), s"genuine near-dup must survive: $capped")
    assert(!capped.contains((3L, 4L)), s"boilerplate-only pair must die: $capped")
  }

  test("containment df-cap kills boilerplate-manufactured containment, " +
    "keeps genuine quotation") {
    // Doc 1 is genuinely quoted inside doc 2 (containment 1.0 on
    // non-boilerplate shingles). Doc 3 is a short doc made ENTIRELY of
    // the corpus-wide footer — with no cap it scores containment 1.0
    // against every footer-carrying doc; under the cap (footer
    // shingles' df = 3 > 2) its postings vanish and it emits nothing,
    // while the genuine quotation (df-2 shingles) survives untouched.
    val footer = "subscribe to our newsletter for updates every single day"
    val docs = Seq(
      (1L, base),
      (2L, base + " plus commentary around the quoted passage " + footer),
      (3L, footer),
      (4L, "one two three four five six seven eight nine ten " + footer))
      .toDF("doc_id", "text")
    def pairs(cap: Option[Int]) =
      LlmDedup.containmentPairs(docs, 0.8, 3, cap)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncapped = pairs(None)
    assert(uncapped.contains((3L, 2L)) && uncapped.contains((3L, 4L)),
      s"boilerplate doc should contain-match w/o cap: $uncapped")
    val capped = pairs(Some(2))
    assert(capped.contains((1L, 2L)), s"genuine quotation must survive: $capped")
    assert(!capped.exists(_._1 == 3L), s"boilerplate containment must die: $capped")
  }

  test("ANN retrieves exact duplicates with recall 1 (shared bucket)") {
    val emb = T.embeddings(spark, sf)
    val dup = emb.limit(5)
      .select((col("vec_id") + 100000).as("vec_id"), col("embedding"),
        col("label"))
    val ann = LlmVector.knnLsh(emb.unionByName(dup), k = 3, nBits = 4)
    val top1 = ann.filter(col("rank") === 1 && col("v1") >= 100000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(top1.length == 5)
    top1.foreach { case (v1, v2, cos) =>
      assert(v2 == v1 - 100000 && cos == 1.0, s"($v1, $v2, $cos)")
    }
  }

  test("embedding-cosine dedup finds planted duplicate vectors") {
    val emb = T.embeddings(spark, sf)
    val dup = emb.limit(3)
      .select((col("vec_id") + 100000).as("vec_id"), col("embedding"),
        col("label"))
    val pairs = LlmVector.embedDupPairs(emb.unionByName(dup), 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val planted = pairs.filter(_._2 >= 100000)
    assert(planted.length >= 3, s"planted dups not all found: ${planted.toSeq}")
    planted.foreach { case (v1, v2, cos) =>
      assert(v2 - 100000 == v1 && cos == 1.0, s"($v1, $v2, $cos)")
    }
  }

  test("IVF ANN: duplicates land in the same cell and are retrieved at cos 1") {
    val emb = T.embeddings(spark, sf)
    val dup = emb.orderBy("vec_id").limit(100).orderBy(desc("vec_id")).limit(5)
      .select((col("vec_id") + 100000).as("vec_id"), col("embedding"), col("label"))
    val ivf = LlmVector.knnIvf(emb.unionByName(dup), k = 3, nCells = 16)
    val top1 = ivf.filter(col("rank") === 1 && col("v1") >= 100000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(top1.length == 5)
    top1.foreach { case (v1, v2, cos) =>
      assert(v2 == v1 - 100000 && cos == 1.0, s"($v1, $v2, $cos)")
    }
  }

  test("IVF k-means centroids beat seed-stub centroids on clustered data") {
    import spark.implicits._
    // 3 tight clusters along different axes; ids assigned so the 16
    // lowest (the seed stub's centroid choice) ALL sit in cluster 0 —
    // the adversarial-but-realistic case where raw seeds are a bad
    // coarse quantizer and Lloyd iterations must actually move them.
    val dim = 8; val per = 40
    def mkVec(cl: Int, i: Int): Seq[Float] =
      (0 until dim).map { j =>
        val base = if (j == cl) 1.0f else 0.0f
        base + ((i * 31 + j * 17) % 11 - 5) / 50.0f
      }
    val emb = (for (cl <- 0 until 3; k <- 0 until per) yield {
      val i = cl * per + k
      (i.toLong, mkVec(cl, i), 0)
    }).toDF("vec_id", "embedding", "label")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = pairs(LlmVector.knnBrute(emb, 3, "label"))
    val stub = pairs(LlmVector.knnIvf(emb, 3, nCells = 16, kmeansIters = 0))
    val km = pairs(LlmVector.knnIvf(emb, 3, nCells = 16, kmeansIters = 2))
    val rStub = (stub & truth).size.toDouble / truth.size
    val rKm = (km & truth).size.toDouble / truth.size
    assert(rKm > rStub, s"k-means recall $rKm should beat stub recall $rStub")
    assert(rKm >= 0.7, s"k-means recall $rKm below floor")
  }

  test("knn_rerank with an exhaustive shortlist equals knn_ivf exactly") {
    // Rerank correctness pinned by a provable identity: when the PQ
    // shortlist keeps EVERY in-cell candidate, the exact rerank over
    // it must reproduce knn_ivf (exact in-cell scoring) row for row —
    // the PQ estimate then only orders a set the rerank fully re-sorts.
    // (The key's kCand = 10 trades recall for shortlist size; this
    // pins the machinery, not the knob.)
    import graft.llm.LlmVector
    val emb = T.embeddings(spark, sf)
    val n = emb.count().toInt
    val e = T.spread(emb).withColumn("nrm",
      sqrt(call_function("graft_dot", col("embedding"), col("embedding"))))
    val cents = LlmVector.kMeansCentroids(emb, nCells = 16, nIters = 2)
    val books = LlmVector.pqBooks(spark, sf, e, m = 4, nSub = 8, iters = 1)
    val full = LlmVector.knnRerank(e, cents, books, kCand = n, k = 3)
      .collect().map(_.toSeq).toSeq
    graft.Pins.clearAll()
    val ivf = LlmVector.queries("knn_ivf")(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(full == ivf,
      s"exhaustive rerank must equal knn_ivf: ${full.take(3)} vs ${ivf.take(3)}")
  }

  test("PQ codebooks trained on a hash sample keep recall within ε of full-train") {
    // The 100 TB training posture (r16, r12 verdict #5): production
    // IVFPQ trains sub-codebooks on a sample, not the corpus.
    // fitFraction = 0.5 halves the Lloyd input via the deterministic
    // hash-Bernoulli draw; the resulting ADC search must stay within
    // ε of the full-train recall on the same fixture (both runs are
    // fully deterministic, so this is a pinned number, not a flake).
    import graft.llm.LlmVector
    val emb = T.embeddings(spark, sf)
    val e = T.spread(emb).withColumn("nrm",
      sqrt(call_function("graft_dot", col("embedding"), col("embedding"))))
    val cents = LlmVector.kMeansCentroids(emb, nCells = 16, nIters = 2)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = pairs(LlmVector.knnIvfProbe(emb, 3, nCells = 16, nprobe = 16))
    graft.Pins.clearAll()
    val fullBooks = LlmVector.pqBooks(spark, sf, e, m = 4, nSub = 8, iters = 1)
    val sampBooks = LlmVector.pqBooks(spark, sf, e, m = 4, nSub = 8,
      iters = 1, fitFraction = 0.5)
    assert(fullBooks != sampBooks,
      "the sampled train must actually see different data")
    def recall(books: Seq[Seq[Seq[Float]]]) = {
      val got = pairs(LlmVector.knnIvfPqSearch(e, cents, books, k = 3))
      graft.Pins.clearAll()
      (got & truth).size.toDouble / truth.size
    }
    val rFull = recall(fullBooks)
    val rSamp = recall(sampBooks)
    assert(rSamp >= rFull - 0.15,
      s"sampled-train recall $rSamp fell more than ε below full-train $rFull")
  }

  test("sampled-query recall stays within ε of full recall — the 100 TB " +
    "monitoring posture (r16 verdict #6)") {
    // knn_recall's driver key evaluates EVERY query (exhaustive ground
    // truth — affordable at sf, a corpus self-join at 100 TB). The
    // production form samples queries with the deterministic md5 draw;
    // both runs here are fully deterministic, so the proximity is a
    // pinned number, not a flake. Also pins that the sample is real
    // (fewer pairs) and non-degenerate (nonzero).
    import graft.llm.LlmVector
    def one(frac: Double) = {
      val r = LlmVector.ivfRecall(spark, sf, queryFrac = frac).collect()(0)
      graft.Pins.clearAll()
      (r.getLong(0), r.getDouble(2))
    }
    val (nFull, rFull) = one(1.0)
    val (nSamp, rSamp) = one(0.5)
    assert(nSamp > 0 && nSamp < nFull,
      s"the 0.5 sample must keep some and drop some pairs: $nSamp / $nFull")
    assert(math.abs(rSamp - rFull) <= 0.15,
      s"sampled recall $rSamp strayed more than ε from full $rFull " +
        s"($nSamp of $nFull pairs)")
  }

  test("multi-probe IVF: recall rises with nprobe; probing all cells IS brute force") {
    import spark.implicits._
    val dim = 8; val per = 40
    def mkVec(cl: Int, i: Int): Seq[Float] =
      (0 until dim).map { j =>
        val base = if (j == cl) 1.0f else 0.0f
        base + ((i * 31 + j * 17) % 11 - 5) / 50.0f
      }
    val emb = (for (cl <- 0 until 3; k <- 0 until per) yield {
      val i = cl * per + k
      (i.toLong, mkVec(cl, i), 0)
    }).toDF("vec_id", "embedding", "label")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = pairs(LlmVector.knnBrute(emb, 3, "label"))
    val p1 = pairs(LlmVector.knnIvfProbe(emb, 3, nCells = 16, nprobe = 1))
    val p2 = pairs(LlmVector.knnIvfProbe(emb, 3, nCells = 16, nprobe = 2))
    val pAll = pairs(LlmVector.knnIvfProbe(emb, 3, nCells = 16, nprobe = 16))
    def recall(p: Set[(Long, Long)]) = (p & truth).size.toDouble / truth.size
    assert(recall(p2) >= recall(p1),
      s"nprobe=2 recall ${recall(p2)} < nprobe=1 ${recall(p1)}")
    assert(pAll == truth, "probing every cell must equal brute force")
    // sample-fit centroids (the 100 TB training recipe) still beat the
    // raw-seed quantizer on the same clustered data
    val sampled = pairs(LlmVector.knnIvf(emb, 3, nCells = 16,
      kmeansIters = 2, fitFraction = 0.5))
    val stub = pairs(LlmVector.knnIvf(emb, 3, nCells = 16, kmeansIters = 0))
    assert(recall(sampled) >= recall(stub),
      s"sample-fit recall ${recall(sampled)} < stub ${recall(stub)}")
  }

  test("brute-force knn: cosine bounds and deterministic ranking") {
    val out = LlmVector.knnBrute(T.embeddings(spark, sf), 3, "label")
    val rows = out.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getDouble(2) <= 1.000001 && r.getDouble(2) >= -1.000001))
    val again = LlmVector.knnBrute(T.embeddings(spark, sf), 3, "label").collect()
    assert(rows.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("corpus curation drops low-quality, exact-dup, and near-dup docs") {
    import graft.llm.CorpusPipeline
    val corpus = Seq(
      (1L, base, "en"),                 // keeper
      (2L, base + " nu", "en"),         // near-dup of 1 (J = 10/11) → drop
      (5L, "  " + base.toUpperCase + " ", "en"), // exact dup of 1 mod norm → drop
      (7L, "the the the the the the the the", "en"), // stopword soup → drop
      (9L, "one two three four five six seven eight nine ten", "en")) // keeper
      .toDF("doc_id", "text", "lang")
    val kept = CorpusPipeline.curate(corpus, minQuality = 1.0,
      nearDupJaccard = 0.5)
    assert(kept.collect().map(_.getLong(0)).toSeq == Seq(1L, 9L))
    val r = CorpusPipeline.report(corpus, 1.0, 0.5).collect()(0)
    assert(r.getLong(0) == 5 && r.getLong(1) == 2)
    assert(r.getLong(2) == 22) // 12 + 10 tokens survive
    assert(r.getDouble(3) == 0.4)
  }

  test("decontamination flags benchmark overlap, spares disjoint docs") {
    import graft.llm.CorpusPipeline
    val bench = Seq(
      (100L, "the quick brown fox jumps over the lazy dog tonight"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      // verbatim leak of the benchmark → every shingle shared
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      // partial leak: a 5-token span ⇒ 3 shared 3-gram shingles
      (2L, "report says the quick brown fox jumps and more words here"),
      // disjoint vocabulary → zero shared
      (3L, "alpha beta gamma delta epsilon zeta eta theta iota"),
      // too short for any shingle
      (4L, "hi there")).toDF("doc_id", "text")
    val out = CorpusPipeline.decontaminate(corpus, bench,
        minSharedShingles = 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    assert(out == Seq((1L, 8L, true), (2L, 3L, true), (3L, 0L, false),
      (4L, 0L, false)), s"decontamination drifted: $out")
    // threshold above the partial leak keeps doc 2
    val strict = CorpusPipeline.decontaminate(corpus, bench,
        minSharedShingles = 4)
      .filter(col("contaminated")).collect().map(_.getLong(0)).toSeq
    assert(strict == Seq(1L))
  }

  test("repetition score: looped n-grams score high, varied text scores 0") {
    val docs = Seq(
      (1L, "spam ham spam ham spam ham spam ham spam ham"), // loop
      (2L, "one two three four five six seven eight nine ten"), // varied
      (3L, "too short")).toDF("doc_id", "text")
    val out = graft.llm.LlmText.queries("text_repetition")(spark, sf)
    // key runs the real corpus; semantics asserted on the micro frame
    // through the same column pipeline
    val toks = split(col("text"), " ")
    val m = docs.select(col("doc_id"),
        (size(toks) - 2).cast("long").as("total3"),
        when(size(toks) >= 3,
          size(call_function("graft_shingles", col("text"), lit(3))))
          .otherwise(0).cast("long").as("distinct3"))
      .withColumn("rep3", when(col("total3") >= 1,
        round(lit(1.0) - col("distinct3").cast("double") / col("total3"), 4)))
      .orderBy("doc_id").collect()
    // 8 total 3-grams but only 2 distinct ("spam ham spam"/"ham spam ham")
    assert(m(0).getDouble(3) == 0.75, s"loop doc: ${m(0)}")
    assert(m(1).getDouble(3) == 0.0)
    assert(m(2).isNullAt(3), "sub-3-token doc must score NULL")
    assert(out.columns.toSeq ==
      Seq("doc_id", "total3", "distinct3", "rep3", "is_repetitive"))
  }

  test("stratified sample is seeded-deterministic and respects the mix") {
    import graft.llm.CorpusPipeline
    val docs = T.documents(spark, sf)
    val fr = Map("en" -> 0.5, "de" -> 0.2, "fr" -> 0.0)
    val a = CorpusPipeline.stratifiedSample(docs, "lang", "doc_id", fr, 42L)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val b = CorpusPipeline.stratifiedSample(
      docs.repartition(7), "lang", "doc_id", fr, 42L)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(a == b, "same seed must sample the same rows on any partitioning")
    val byLang = CorpusPipeline.stratifiedSample(docs, "lang", "doc_id", fr, 42L)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!byLang.contains("fr"), s"fraction 0 stratum must vanish: $byLang")
    val nEn = docs.filter(col("lang") === "en").count()
    assert(byLang.getOrElse("en", 0L) > nEn * 0.25 &&
           byLang.getOrElse("en", 0L) < nEn * 0.75, byLang.toString)
  }

  test("sequence packing assigns every doc once, bins bounded by budget + one doc") {
    import graft.llm.CorpusPipeline
    val docs = T.documents(spark, sf)
    val maxTok = 200
    val packed = CorpusPipeline.packSequences(docs, maxTok, nShards = 8)
    val allDocs = packed.select(explode(col("doc_ids")).as("doc_id"))
      .collect().map(_.getLong(0)).sorted.toSeq
    val orig = docs.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(allDocs == orig, "every doc exactly once across sequences")
    val maxDocTok = docs.select(max(size(split(col("text"), " "))))
      .collect()(0).getInt(0)
    val worst = packed.select(max(col("n_tokens"))).collect()(0).getLong(0)
    assert(worst < maxTok + maxDocTok,
      s"bin overran budget+one-doc: $worst >= $maxTok + $maxDocTok")
    // deterministic under different partitioning
    val again = CorpusPipeline.packSequences(docs.repartition(5), maxTok, 8)
      .collect().map(_.toString).toSeq
    assert(packed.collect().map(_.toString).toSeq == again)
  }

  test("PII scrub redacts urls, emails, phones, IPs and flags touched docs") {
    import graft.llm.CorpusPipeline
    val docs = Seq(
      (1L, "contact me at jane.doe@example.com or +1 (555) 123-4567 ok"),
      (2L, "see https://user@example.com/path?q=1 and 10.0.0.1 now"),
      (3L, "clean text with nothing sensitive at all"),
      (4L, "served 1234567 requests in 2024")) // big number: NOT a phone
      .toDF("doc_id", "text")
    val out = CorpusPipeline.scrub(docs, "text").orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getBoolean(2)))
    assert(out(0)._2 == "contact me at <EMAIL> or <PHONE> ok", out(0)._2)
    // the email-shaped userinfo redacts as part of the URL, not separately
    assert(out(1)._2 == "see <URL> and <IP> now", out(1)._2)
    assert(out(2)._2 == "clean text with nothing sensitive at all")
    assert(out(3)._2 == "served 1234567 requests in 2024")
    assert(out.map(_._3).toSeq == Seq(true, true, false, false))
  }

  test("multimodal frame sampling covers every payload byte exactly once") {
    val frames = Multimodal.queries("multimodal_frames")(spark, sf)
    val perDoc = frames.groupBy("doc_id")
      .agg(sum("frame_bytes").as("b"), count(lit(1)).as("nf"))
    val src = Multimodal.packed(spark, sf)
      .select(col("doc_id"), octet_length(col("payload")).cast("long").as("n"))
    val j = perDoc.join(src, Seq("doc_id"))
    assert(j.count() > 0)
    // Non-overlapping stride-32 frames: bytes partition exactly, and
    // the frame count is ceil(n/32) with the ≥1-frame floor.
    assert(j.filter(col("b") =!= col("n")).isEmpty)
    assert(j.filter(col("nf") =!=
      greatest(ceil(col("n") / 32.0).cast("long"), lit(1L))).isEmpty)
  }

  test("multimodal resize: 64-byte thumbnails follow the NN index map") {
    val out = Multimodal.queries("multimodal_resize")(spark, sf)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3)))
      .toMap
    // every non-empty payload resizes to exactly 64 bytes — down- OR
    // up-sampled (byte repetition), the NN contract
    assert(out.nonEmpty)
    out.values.foreach { case (n, rb, _) =>
      assert(rb == (if (n == 0) 0L else 64L), s"n=$n resized to $rb")
    }
    // replay the index map locally for one known doc
    val (id, text) = {
      val r = T.documents(spark, sf).select("doc_id", "text").head
      (r.getLong(0), r.getString(1))
    }
    val bytes = text.getBytes("UTF-8")
    val want = (0 until 64).map(i =>
      bytes(math.floor(i * bytes.length / 64.0).toInt)).toArray
    val wantMd5 = java.security.MessageDigest.getInstance("MD5")
      .digest(want).map("%02x".format(_)).mkString
    assert(out(id)._3 == wantMd5, s"doc $id thumbnail md5 mismatch")
  }

  test("multimodal byte/char oracle precondition: corpus is pure ASCII") {
    // multimodal_decode and multimodal_frames compare BYTE-wise Spark
    // results against CHAR-wise DuckDB oracles (ascii()/substring/md5
    // over VARCHAR); that equivalence is only sound while
    // octet_length == char length for every document. One multi-byte
    // character would silently shift frame boundaries and histogram
    // buckets — so guard the precondition loudly, at the spec sf AND
    // the sf the driver runs the oracle at.
    for (d <- Seq(sf, "/root/testdata/sf0.01")) {
      val nonAscii = T.documents(spark, d)
        .filter(octet_length(col("text")) =!= length(col("text"))).count()
      assert(nonAscii == 0, s"$nonAscii non-ASCII documents in $d — " +
        "byte-vs-char oracle comparison no longer sound")
    }
  }

  test("multimodal stub decode: schema, byte accounting, determinism") {
    val out = Multimodal.decoded(spark, sf)
    assert(out.columns.toSeq == Seq("doc_id", "mime", "n_bytes", "features"))
    // payload is utf-8 text here, so n_bytes == length(text)
    val joined = out.join(T.documents(spark, sf), Seq("doc_id"))
      .filter(col("n_bytes") =!= length(col("text")))
    assert(joined.count() == 0)
    val f1 = out.orderBy("doc_id").limit(3).collect()
      .map(_.getAs[scala.collection.Seq[Float]]("features"))
    f1.foreach(f => assert(f.length == Multimodal.featureDim))
    // histogram is normalized: sums to ~1
    f1.foreach(f => assert(math.abs(f.sum - 1f) < 1e-3))
  }

  test("phashNearDup: candidate work is bounded by DISTINCT signatures, " +
    "not docs (the r11 collapsed-bucket blow-up)") {
    // Degenerate fixture: 1,990 docs flood one signature, 5 share a
    // second, plus two singletons. Doc-level banding would emit
    // ~1990² ≈ 4M candidate rows here (the shape that timed out the
    // r11 bench at sf0.1); the distinct-signature collapse must emit
    // ≤ k·(k−1) = 12 signature pairs, and each band-sharing pair
    // exactly once per direction (first-agreeing-band dedup, no
    // .distinct()).
    val sigA = "0000000000000000" // flood
    val sigB = "0000000000000001" // shares bands 0-2 with A, dist 1
    val sigC = "7777777777777777" // no shared band with anything
    val sigD = "1111000000000000" // shares bands 1-3 with A (dist 4), B (dist 5)
    val sigs = ((1L to 1990L).map(_ -> sigA) ++
      (2001L to 2005L).map(_ -> sigB) ++
      Seq(3001L -> sigC, 3002L -> sigD)).toDF("doc_id", "signature")
    val pairs = Multimodal.phashSigPairs(sigs, bandLen = 4).collect()
    assert(pairs.length <= 12, s"candidate volume ${pairs.length} > k(k-1)")
    val ab = pairs.count(r => r.getString(0) == sigA && r.getString(1) == sigB)
    assert(ab == 1, s"A-B pair emitted $ab times (shares 3 bands — must be 1)")
    val out = Multimodal.phashNearDup(sigs, bandLen = 4, maxDist = 6)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    // Flood/shared groups: 1-NN in-group at dist 0 (min, or runner-up
    // for the min itself); singleton D crosses to A's min at dist 4;
    // C shares no band and is absent.
    assert(out(1L) == ((2L, 0L)) && out(2L) == ((1L, 0L)) &&
      out(1990L) == ((1L, 0L)), s"flood group: ${out.get(1L)}")
    assert(out(2001L) == ((2002L, 0L)) && out(2005L) == ((2001L, 0L)))
    assert(out(3002L) == ((1L, 4L)), s"singleton cross: ${out.get(3002L)}")
    assert(!out.contains(3001L), "band-invisible doc must be absent")
    assert(out.size == 1990 + 5 + 1)
  }

  test("knn_radius: symmetric, in-threshold, and contains every " +
    "in-threshold brute top-k pair") {
    import graft.llm.LlmVector
    val emb = T.embeddings(spark, sf)
    val rad = LlmVector.knnRadius(emb, 0.35, "label")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rad.nonEmpty)
    val pairs = rad.map(t => (t._1, t._2)).toSet
    rad.foreach { case (a, b, c) =>
      assert(c >= 0.35, s"below threshold: $a,$b,$c")
      // cosine is exactly symmetric (same element order in the dot,
      // commutative products), so the directed pair set must be too
      assert(pairs((b, a)), s"asymmetric pair: $a,$b")
    }
    val brute = LlmVector.knnBrute(emb, 3, "label").collect()
      .filter(_.getDouble(2) >= 0.35)
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.subsetOf(pairs),
      s"in-threshold top-k pairs missing from radius: ${brute -- pairs}")
  }

  test("jaccardPairs maxCenterDeg: planted hub's wedge mass dies, " +
    "niche shared context and exact degrees survive") {
    import graft.llm.LlmGraph
    // Star hub 100 — nodes 1..10 (C(10,2) = 45 wedge pairs through it
    // alone) — plus genuine niche context: 1 and 2 both adjacent to 11
    // and 12. The cap excludes the hub CENTER, so hub-only pairs
    // (e.g. 3-4) vanish; (1,2) survives via the niche centers with
    // common = 2 (the documented lower bound — true common is 3
    // counting the hub) while its denominator degrees stay EXACT
    // (deg 3 each, hub edge included): j = 2/(3+3−2) = 0.5.
    val edges = ((1L to 10L).map(i => (i, 100L)) ++
      Seq((1L, 11L), (2L, 11L), (1L, 12L), (2L, 12L))).toDF("u", "v")
    def run(cap: Option[Int]) =
      LlmGraph.jaccardPairs(edges, minCommon = 1, maxCenterDeg = cap)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          ((r.getLong(2), r.getDouble(3)))).toMap
    val uncapped = run(None)
    assert(uncapped.contains((3L, 4L)) && uncapped.size == 48,
      s"expected full hub wedge mass (48 pairs): ${uncapped.size}")
    assert(uncapped((1L, 2L)) == ((3L, 1.0)))
    val capped = run(Some(5))
    assert(!capped.contains((3L, 4L)), "hub-only pair must die under cap")
    assert(capped((1L, 2L)) == ((2L, 0.5)),
      s"lower-bound common, exact degrees: ${capped.get((1L, 2L))}")
    assert(capped.keySet == Set((1L, 2L), (11L, 12L), (11L, 100L),
      (12L, 100L)), s"got ${capped.keySet}")
  }

  test("LlmGraph.pagerank: hand-computed path graph, hub dominance, determinism") {
    import spark.implicits._
    import graft.llm.LlmGraph
    // Undirected path a(1)—b(2)—c(3): deg a=1, b=2, c=1. One round
    // from uniform SCALE ranks (S = 10^12, damping 85/100 integer):
    //   pr(a) = 0.15S + (85 · S/2) div 100 = 150e9 + 425e9 = 575e9
    //   pr(b) = 0.15S + (85 · 2S)  div 100 = 150e9 + 1700e9 = 1850e9
    val fwd = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val edges = fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
    val r1 = LlmGraph.pagerank(edges, 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r1 == Map(1L -> 575000000000L, 2L -> 1850000000000L,
      3L -> 575000000000L), r1.toString)
    // More rounds keep the hub on top and total mass ≈ conserved
    // (integer floors only ever LOSE sub-unit mass, never create it)
    val r3 = LlmGraph.pagerank(edges, 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r3(2L) > r3(1L) && r3(1L) == r3(3L), r3.toString)
    assert(r3.values.sum <= 3L * LlmGraph.Scale &&
      r3.values.sum > 3L * LlmGraph.Scale - 1000L, r3.values.sum.toString)
  }

  test("LlmGraph.components: hand graph, long-path compression, fixture validity") {
    import spark.implicits._
    import graft.llm.LlmGraph
    // Two components {1,2,3} ∪ {10,11} plus a LONG path 20—…—29 whose
    // diameter (9) exceeds the handful of rounds plain one-hop
    // propagation would cover if pointer jumping were broken — the
    // min label 20 must cross all 9 hops.
    val fwd = (Seq((1L, 2L), (2L, 3L), (10L, 11L)) ++
      (20L until 29L).map(i => (i, i + 1))).toDF("src", "dst")
    val edges = fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
    val got = LlmGraph.components(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L) ++
      (20L to 29L).map(_ -> 20L).toMap
    assert(got == want, got.toString)
    // Key-level validity on the fixture: every edge's endpoints agree
    // on their component (the defining property a wrong fixpoint
    // breaks first), and each component's representative is a member.
    val out = LlmGraph.queries("graph_components")(spark, sf)
      .select(when(col("node_type") === "part", col("id") * 2)
        .otherwise(col("id") * 2 + 1).as("node"), col("component"))
    val p = col("l_partkey") * 2
    val su = col("l_suppkey") * 2 + 1
    val fix = T.lineitem(spark, sf)
      .filter(col("l_quantity") === 50 && col("l_partkey") % 10 === 0 &&
        col("l_suppkey") % 2 === 0)
      .select(p.as("src"), su.as("dst")).distinct()
    val viol = fix
      .join(out.select(col("node").as("src"), col("component").as("cs")), "src")
      .join(out.select(col("node").as("dst"), col("component").as("cd")), "dst")
      .filter(col("cs") =!= col("cd"))
    assert(viol.count() == 0, "edge endpoints in different components")
    val badRep = out.groupBy("component").agg(min("node").as("mn"))
      .filter(col("component") =!= col("mn"))
    assert(badRep.count() == 0, "component label must be its min member")
  }

  test("LlmGraph.components: pointer jumping converges a 128-node path in O(log d) rounds") {
    import spark.implicits._
    import graft.llm.LlmGraph
    // A single path 0—1—…—127: diameter 127. Plain min-label
    // propagation at 2 hops per probe round needs ~64 rounds — past
    // the default maxRounds backstop — so this test FAILS (wrong
    // labels) if the pointer jump is removed, and pins the O(log d)
    // guarantee (log2(128) = 7; ≤ 12 leaves constant-factor slack).
    val fwd = (0L until 127L).map(i => (i, i + 1)).toDF("src", "dst")
    val edges = fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
    val (labels, rounds) = LlmGraph.componentsWithRounds(edges)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (0L to 127L).map(_ -> 0L).toMap,
      s"path must collapse to component 0; got ${got.toSeq.sortBy(_._1).take(10)}…")
    assert(rounds <= 12, s"expected O(log d) convergence, used $rounds rounds")
  }

  test("chunkDedup: NULL and empty text keep their doc rows (one shared empty chunk)") {
    import spark.implicits._
    // NULL text must not vanish from the output (posexplode over a
    // NULL sequence emits zero rows without the coalesce guard); it
    // behaves as empty text: one empty chunk, first doc keeps it.
    val docs = Seq(
      (1L, "alpha beta gamma"),
      (2L, null.asInstanceOf[String]),
      (3L, ""),
      (4L, "alpha beta gamma")) // exact dup of doc 1: all chunks dropped
      .toDF("doc_id", "text")
    val got = graft.llm.LlmDedup.chunkDedup(docs, 2)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(got == Map(
      1L -> (2L, 2L, "alpha beta gamma"),
      2L -> (1L, 1L, ""),   // first empty doc keeps the empty chunk
      3L -> (1L, 0L, ""),   // later empty doc: chunk already seen
      4L -> (2L, 0L, "")),  // full duplicate: nothing survives
      got.toString)
  }

  test("corpus_upsample: exact copy counts replayed, both directions exercised") {
    import graft.llm.CorpusPipeline
    val docs = T.documents(spark, sf)
    val out = CorpusPipeline.corpusUpsample(docs, "lang", "doc_id",
      Map("en" -> 150L, "de" -> 250L, "fr" -> 200L, "es" -> 120L,
          "zh" -> 50L), seed = 42L)
    // Driver-side replay of the integer derivation for every doc.
    val two60 = BigInt(1) << 60
    val eps = Map("en" -> 150L, "de" -> 250L, "fr" -> 200L,
      "es" -> 120L, "zh" -> 50L)
    val md = java.security.MessageDigest.getInstance("MD5")
    def hex15(id: Long): String = {
      val h = md.digest(s"$id:42".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      "0" + h.take(15)
    }
    val want = docs.select("doc_id", "lang").collect().flatMap { r =>
      val (id, lang) = (r.getLong(0), r.getString(1))
      val e = eps(lang)
      val extra =
        if (hex15(id) < f"${(BigInt(e % 100) * two60 / 100).toLong}%016x") 1 else 0
      (1L to (e / 100 + extra)).map(c => (id, lang, c))
    }.toSet
    val got = out.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got == want, s"got ${got.size} rows, want ${want.size}")
    // The recipe must actually exercise BOTH directions on the fixture:
    // some doc repeated (epochs > 1) and some doc dropped (zh at 0.5).
    assert(want.exists(_._3 >= 2), "no doc was upsampled")
    val zhIds = docs.filter(col("lang") === "zh").count()
    val zhKept = got.filter(_._2 == "zh").map(_._1).size
    assert(zhKept > 0 && zhKept < zhIds, s"zh kept $zhKept of $zhIds")
  }

  test("sample_split: total, disjoint, deterministic, roughly proportional") {
    import graft.llm.CorpusPipeline
    val docs = T.documents(spark, sf)
    val out = CorpusPipeline.trainValTestSplit(docs, "doc_id", 80, 10, 42L)
    assert(out.count() == docs.count(), "split must cover every row")
    val byId = out.groupBy("doc_id").agg(countDistinct("split").as("n"))
      .filter(col("n") =!= 1)
    assert(byId.count() == 0, "a row lands in exactly one split")
    val counts = out.groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = docs.count().toDouble
    assert(math.abs(counts.getOrElse("train", 0L) / n - 0.8) < 0.1, counts.toString)
    assert(counts.keySet == Set("train", "val", "test"), counts.toString)
    // Partitioning-invariance: the assignment is a pure row function.
    val re = CorpusPipeline.trainValTestSplit(
      T.spread(docs), "doc_id", 80, 10, 42L)
      .select("doc_id", "split").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(re == out.select("doc_id", "split").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet)
  }
}
