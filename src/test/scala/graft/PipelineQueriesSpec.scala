package graft

import org.apache.spark.sql.functions._

import graft.queries.{CorpusQueries, DedupQueries, MultimodalQueries, SamplingQueries, SimilarityQueries, TextQueries}

/** Specs for the training-data pipeline operators (text analysis, dedup,
  * similarity search, multimodal plumbing). */
class PipelineQueriesSpec extends SparkTestBase {

  private val allModules = Seq(
    TextQueries.queries, DedupQueries.queries,
    SimilarityQueries.queries, MultimodalQueries.queries,
    CorpusQueries.queries, SamplingQueries.queries)

  for (m <- allModules; (name, fn) <- m.toSeq.sortBy(_._1)) {
    test(s"$name runs and returns rows on sf0.001") {
      assert(fn(spark, sf).count() > 0, s"$name returned no rows")
    }
  }

  test("hash-range multi-pass (graft.vocab.passes) matches single-pass: " +
      "boilerplate bit-identical, lm_score within one rounding step") {
    val boilSingle = CorpusQueries.qBoilerplate(spark, sf).collect().toSeq
    val lmSingle = TextQueries.qLmScore(spark, sf)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    spark.conf.set("graft.vocab.passes", "3")
    try {
      // df counts partition exactly by gram hash → identical hot set →
      // identical output, row for row.
      val boilMulti = CorpusQueries.qBoilerplate(spark, sf).collect().toSeq
      assert(boilMulti == boilSingle)
      // Per-gram log-prob terms are identical; only the per-doc
      // summation regroups (per-range partials), so the 4-decimal
      // score may differ by at most one final-rounding step.
      val lmMulti = TextQueries.qLmScore(spark, sf)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
        .toMap
      assert(lmMulti.keySet == lmSingle.keySet)
      lmMulti.foreach { case (id, (nb, lp)) =>
        assert(nb == lmSingle(id)._1, s"n_bigrams for doc $id")
        assert(math.abs(lp - lmSingle(id)._2) <= 1.0001e-4,
          s"lm_score for doc $id: $lp vs ${lmSingle(id)._2}")
      }
    } finally spark.conf.unset("graft.vocab.passes")
  }

  test("corpus clean removes exact and near duplicates, keeps the rest") {
    val docs = Tables(spark, sf, "documents")
    val kept = CorpusQueries.qCorpusClean(spark, sf)
    assert(kept.count() > 0 && kept.count() < docs.count())
    // No two kept docs share an exact fingerprint.
    val fps = kept.join(docs, "doc_id").select(md5(col("text")).as("fp"))
    assert(fps.count() == fps.distinct().count())
  }

  test("cc-variant drop set contains the one-hop drop set") {
    // Transitive closure can only drop MORE docs than the one-hop rule,
    // and both keep ≥1 representative per cluster.
    val oneHop = CorpusQueries.qCorpusClean(spark, sf)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val cc = CorpusQueries.qCorpusCleanCc(spark, sf)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(cc.subsetOf(oneHop), s"cc kept ${cc.diff(oneHop)} extra")
    assert(cc.nonEmpty)
  }

  test("lang-id predictions are deterministic and within the label set") {
    val preds = TextQueries.qLangId(spark, sf)
      .select("pred_lang").distinct().collect().map(_.getString(0)).toSet
    assert(preds.subsetOf(Set("de", "en", "es", "fr", "zh")))
  }

  test("repetition score: planted repeated bigrams are counted exactly") {
    import spark.implicits._
    import graft.functions.TextFunctions
    // "a b a b a b": 5 bigrams, 2 distinct → dup_frac 0.6; the clean
    // doc has all-distinct bigrams → 0.0.
    val df = Seq((1L, "a b a b a b"), (2L, "x y z w")).toDF("doc_id", "text")
    val out = df.select(col("doc_id"),
      TextFunctions.tokenStats(spark, col("text"))
        .getField("n_tokens").as("n"),
      size(TextFunctions.shingleKText(spark, col("text"), 2)).as("dis"))
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2)))).toMap
    assert(out(1L) == ((6, 2)))
    assert(out(2L) == ((4, 3)))
  }

  test("sequence packing is gapless and contiguous within each source") {
    // Replays the running-offset arithmetic per source: every doc's
    // sequence range must be exactly the 512-token windows its
    // concatenated span covers — no gaps, no overlap drift.
    val rows = SamplingQueries.qPackChunks(spark, sf)
      .orderBy("source", "doc_id").collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getString(1)).foreach { case (src, rs) =>
      var cum = 0L
      rs.foreach { r =>
        val n = r.getLong(2)
        assert(r.getLong(3) == cum / 512, s"$src start_seq drift")
        assert(r.getLong(4) == (cum + n - 1) / 512, s"$src end_seq drift")
        assert(r.getLong(5) == r.getLong(4) - r.getLong(3) + 1)
        cum += n
      }
    }
  }

  test("exact dedup keeps every distinct text exactly once") {
    val docs = Tables(spark, sf, "documents")
    val kept = DedupQueries.qDedupExact(spark, sf)
    assert(kept.agg(sum("n_dups")).head().getLong(0) == docs.count())
    assert(kept.count() == docs.select(md5(col("text"))).distinct().count())
  }

  test("incremental dedup: survivors share no fingerprint and no " +
      "jaccard>=0.7 near-dup with the corpus") {
    val docs = Tables(spark, sf, "documents")
    val surv = DedupQueries.qDedupIncremental(spark, sf)
    assert(surv.count() > 0)
    val fps = docs.select(col("doc_id"), md5(col("text")).as("fp"))
    val corpusFps = fps.filter(col("doc_id") % 5 =!= 0).select("fp")
    assert(surv.join(fps, "doc_id").join(corpusFps, Seq("fp"), "left_semi")
      .count() == 0, "a survivor exactly matches a corpus doc")
    // No survivor appears as d1 in a batch×corpus exact-jaccard pair:
    // recompute pairs from the exact baseline (both orientations of the
    // d1<d2 normal form) and intersect.
    val pairs = DedupQueries.qDedupNgramJaccard(spark, sf)
      .filter(col("jaccard") >= 0.7)
    val crossPair = pairs
      .select(col("d1").as("b"), col("d2").as("c"))
      .union(pairs.select(col("d2").as("b"), col("d1").as("c")))
      .filter(col("b") % 5 === 0 && col("c") % 5 =!= 0)
      .select(col("b").as("doc_id")).distinct()
    assert(surv.join(crossPair, Seq("doc_id"), "left_semi").count() == 0,
      "a survivor has a corpus near-duplicate")
  }

  test("minhash-LSH pairs equal exact-jaccard pairs at the 0.7 threshold") {
    // LSH (b=32, r=2) + exact verification must recover exactly the pairs
    // the exact shingle-join finds — this is the core dedup guarantee.
    val lsh = DedupQueries.qDedupMinhashLsh(spark, sf)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = DedupQueries.qDedupNgramJaccard(spark, sf)
      .filter(col("jaccard") >= 0.7)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == exact, s"LSH missed ${exact -- lsh}, extra ${lsh -- exact}")
  }

  test("banded multi-pass LSH (graft.lsh.bandPasses) returns the exact " +
      "single-pass pair set") {
    // The peak-scratch knob partitions band membership across B
    // sequential jobs; "collides in some band" = "collides in some
    // pass", so the union of per-pass candidates must be the
    // single-pass candidate set and the verified output identical.
    val single = DedupQueries.qDedupMinhashLsh(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(single.nonEmpty)
    for (b <- Seq(2, 4)) {
      spark.conf.set("graft.lsh.bandPasses", b.toString)
      try {
        val multi = DedupQueries.qDedupMinhashLsh(spark, sf)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
          .toSet
        assert(multi == single,
          s"B=$b: missed ${single -- multi}, extra ${multi -- single}")
      } finally spark.conf.unset("graft.lsh.bandPasses")
    }
  }

  test("simhash near-dups cover the planted high-jaccard duplicates") {
    val planted = DedupQueries.qDedupNgramJaccard(spark, sf)
      .filter(col("jaccard") >= 0.9)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val simhash = DedupQueries.qDedupSimhash(spark, sf)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(planted.nonEmpty, "expected planted near-duplicates in testdata")
    // SimHash@hamming≤3 is deliberately lossier than MinHash (one 64-bit
    // signature per doc vs 64 minhashes); ~0.7 recall on jaccard≥0.9
    // dups is its expected operating point — MinHash-LSH is the
    // high-recall path, simhash the cheap prefilter.
    val recall = (planted & simhash).size.toDouble / planted.size
    assert(recall >= 0.6, s"simhash recall $recall over planted dups")
  }

  test("IVF training recovers planted clusters: purity 1.0, recall ≥ 0.8") {
    // The DRIVER's embeddings are measured uniform-random (intra-label
    // cosine 0.02 vs inter −0.00): no index can beat the nprobe/k
    // recall floor there, so the training quality is proven on data
    // where recall is information-theoretically achievable — 10
    // planted gaussian clusters, deterministic seed.
    import spark.implicits._
    import graft.functions.VectorFunctions.norm
    val rnd = new scala.util.Random(42)
    def unit(v: Array[Double]): Seq[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n).toSeq
    }
    val centers = Seq.fill(10)(Array.fill(64)(rnd.nextGaussian()))
    val pts = for (c <- 0 until 10; i <- 0 until 50) yield {
      val noisy = centers(c).map(_ + 0.15 * rnd.nextGaussian())
      ((c * 50 + i).toLong, c, unit(noisy))
    }
    val df = pts.toDF("vec_id", "true_c", "v")
      .withColumn("nrm", norm(spark, col("v")))
    val (assigned, _) = SimilarityQueries.ivfModel(spark,
      df.select("vec_id", "v", "nrm"), k = 10, iters = 2)
    val cellOf = assigned.select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    // Purity 1.0: every trained cell is exactly one planted cluster.
    val byCell = pts.groupBy(p => cellOf(p._1))
    assert(byCell.size == 10)
    byCell.foreach { case (_, members) =>
      assert(members.map(_._2).distinct.size == 1,
        "a trained cell mixes planted clusters")
    }
    // Recall@5 at nprobe=1 (own cell): true neighbors of every query
    // share its cluster, hence its cell when purity is 1.0.
    val vecs = pts.map(p => p._1 -> p._3.toArray).toMap
    def cos(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => x * y }.sum
    val recalls = pts.take(20).map { case (qid, _, qv) =>
      val top5 = vecs.toSeq.filter(_._1 != qid)
        .sortBy { case (id, v) => (-cos(qv.toArray, v), id) }
        .take(5).map(_._1)
      top5.count(id => cellOf(id) == cellOf(qid)) / 5.0
    }
    val recall = recalls.sum / recalls.size
    assert(recall >= 0.8, s"IVF recall@5 on clusterable data = $recall")
  }

  test("IVF model persists under graft.ann.indexDir: a fresh engine " +
      "loads it instead of retraining; a changed corpus retrains") {
    import spark.implicits._
    import graft.functions.VectorFunctions.norm
    val idx = tempDir("graft-ivf")
    val pts = for (c <- 0 until 4; i <- 0 until 12) yield {
      val v = Seq.tabulate(8)(d =>
        (if (d == c * 2) 1.0 else 0.0) + (i * 7 + d) * 1e-3)
      ((c * 12 + i).toLong, v)
    }
    val corpus = pts.toDF("vec_id", "v")
      .withColumn("nrm", norm(spark, col("v")))
    spark.conf.set(SimilarityQueries.IndexDirConf, idx)
    try {
      SimilarityQueries.clearModelCache()
      val (a1, c1, src1) = SimilarityQueries.ivfModelWithProvenance(
        spark, corpus, k = 4, iters = 1, cacheKey = "persist-test")
      assert(src1 == "trained", src1)
      // Same JVM, same key: memoized (no disk read, no passes).
      val (_, _, srcM) = SimilarityQueries.ivfModelWithProvenance(
        spark, corpus, k = 4, iters = 1, cacheKey = "persist-test")
      assert(srcM == "memoized", srcM)
      // Fresh engine (JVM cache gone): the model LOADS — no training
      // pass — and is bit-identical to what was trained.
      SimilarityQueries.clearModelCache()
      val (a2, c2, src2) = SimilarityQueries.ivfModelWithProvenance(
        spark, corpus, k = 4, iters = 1, cacheKey = "persist-test")
      assert(src2 == "loaded", src2)
      val cents = (df: org.apache.spark.sql.DataFrame) => df
        .collect().map(r => (r.getInt(0), r.getSeq[Double](1))).toSet
      assert(cents(c1) == cents(c2))
      val cells = (df: org.apache.spark.sql.DataFrame) => df
        .select("vec_id", "cell").collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSet
      assert(cells(a1) == cells(a2))
      // Stale guard: a changed corpus must NOT be served the old model.
      SimilarityQueries.clearModelCache()
      val (_, _, src3) = SimilarityQueries.ivfModelWithProvenance(
        spark, corpus.filter(col("vec_id") =!= 0L), k = 4, iters = 1,
        cacheKey = "persist-test")
      assert(src3 == "trained", src3)
    } finally {
      spark.conf.unset(SimilarityQueries.IndexDirConf)
      SimilarityQueries.clearModelCache()
    }
  }

  test("LSH signatures put planted clusters within multi-probe reach: " +
      "recall ≥ 0.7 on clusterable data") {
    // Same protocol as the IVF training test: recall is proven where it
    // is information-theoretically achievable (tight planted clusters);
    // the driver's uniform corpus has no structure for ANY index.
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    def unit(v: Array[Double]): Seq[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n).toSeq
    }
    val centers = Seq.fill(10)(Array.fill(64)(rnd.nextGaussian()))
    val pts = for (c <- 0 until 10; i <- 0 until 50) yield {
      val noisy = centers(c).map(_ + 0.1 * rnd.nextGaussian())
      ((c * 50 + i).toLong, unit(noisy))
    }
    val bits = 8
    val planes = SimilarityQueries.hyperplanes(64, bits)
    val sigs = pts.toDF("vec_id", "v")
      .withColumn("sig",
        SimilarityQueries.lshSig(spark, col("v"), planes))
      .select("vec_id", "sig")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val vecs = pts.toMap
    def cos(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).map { case (x, y) => x * y }.sum
    // Recall@5 under 1-bit multi-probe: a true neighbor is reachable
    // iff its signature is within hamming distance 1 of the query's.
    val recalls = pts.take(20).map { case (qid, qv) =>
      val top5 = vecs.toSeq.filter(_._1 != qid)
        .sortBy { case (id, v) => (-cos(qv, v), id) }.take(5).map(_._1)
      top5.count { id =>
        Integer.bitCount(sigs(id) ^ sigs(qid)) <= 1 } / 5.0
    }
    val recall = recalls.sum / recalls.size
    assert(recall >= 0.7, s"LSH multi-probe recall@5 = $recall")
  }

  test("ANN-LSH scores are exact on its candidate set (driver data)") {
    val bf = SimilarityQueries.qAnnBruteforce(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    val lsh = SimilarityQueries.qAnnLsh(spark, sf).collect()
    // Approximate = may MISS neighbors; every pair it does return must
    // carry the exact brute-force cosine (pruning only, no estimation).
    // (Pairs outside the brute-force top-5 have no reference score.)
    lsh.foreach { r =>
      bf.get((r.getLong(0), r.getLong(1))).foreach { exact =>
        assert(math.abs(r.getDouble(2) - exact) < 1e-9,
          s"score drift for (${r.getLong(0)}, ${r.getLong(1)})")
      }
    }
  }

  test("ANN-IVF on the uniform driver data meets the nprobe/k floor") {
    val bf = SimilarityQueries.qAnnBruteforce(spark, sf)
      .select("q_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = SimilarityQueries.qAnnIvf(spark, sf, nprobe = 2)
      .select("q_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (bf & ivf).size.toDouble / bf.size
    // Uniform-random corpus: expected recall = nprobe/k = 0.2; honest
    // cells cannot beat that floor by more than noise.
    assert(recall >= 0.15, s"IVF recall@5 = $recall")
  }

  test("multimodal decode preserves row count and emits sane metadata") {
    val docs = Tables(spark, sf, "documents")
    val meta = MultimodalQueries.qMmDecode(spark, sf)
    assert(meta.count() == docs.count())
    assert(meta.filter(col("width") < 64 || col("n_frames") < 1).count() == 0)
  }

  test("frame sampling emits ceil(n_frames/4) frames per doc") {
    val frames = MultimodalQueries.qMmFrames(spark, sf)
      .groupBy("doc_id").agg(count(lit(1)).as("nf"))
    val meta = MultimodalQueries.qMmDecode(spark, sf)
    val bad = frames.join(meta, "doc_id")
      .filter(col("nf") =!= ceil(col("n_frames") / lit(4.0))).count()
    assert(bad == 0)
  }

  test("typed codec-API decode equals the columnar default, row for row") {
    import org.apache.spark.sql.functions.encode
    val blobs = Tables(spark, sf, "documents")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
    val typed = MultimodalQueries.decodeTyped(spark, blobs)
    val columnar = MultimodalQueries.decodeColumnar(blobs)
      .select(typed.columns.map(col): _*)
    assert(typed.exceptAll(columnar).isEmpty &&
      columnar.exceptAll(typed).isEmpty)
  }

  test("default multimodal plans stay columnar: no DeserializeToObject") {
    for (q <- Seq(MultimodalQueries.qMmDecode _,
        MultimodalQueries.qMmFrames _)) {
      val plan = q(spark, sf).queryExecution.executedPlan.toString()
      assert(!plan.contains("DeserializeToObject"), plan.take(500))
    }
  }

  test("dedup/similarity plans broadcast the small side, not shuffle it") {
    val plan = SimilarityQueries.qAnnBruteforce(spark, sf)
      .queryExecution.executedPlan.toString()
    assert(plan.contains("Broadcast"), "ANN query set should broadcast")
  }

  test("hashBucket is exact (no 64-bit wrap) across the full BIGINT id range") {
    import spark.implicits._
    // BigInt model of the mathematical definition: (key * C) mod 2^32 mod 100.
    // Includes ids beyond 3.47e9 where the naive key*C overflows signed
    // 64-bit (Spark wraps, ANSI oracles raise) — the split-parity claim
    // requires the overflow-safe form to still match exact arithmetic.
    val c = BigInt(2654435761L)
    val ids = Seq(0L, 1L, 99L, 123456789L, 3470000000L, 1L << 40,
      (1L << 40) + 12345L, 1L << 62, Long.MaxValue - 1)
    val got = ids.toDF("doc_id")
      .select(col("doc_id"),
        SamplingQueries.hashBucket(col("doc_id")).as("bucket"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    ids.foreach { id =>
      val want = ((BigInt(id) * c).mod(BigInt(1) << 32) % 100).toLong
      assert(got(id) == want, s"doc_id=$id: got ${got(id)}, want $want")
    }
  }

  test("quality funnel: exclusive attribution sums to the doc count") {
    val rows = TextQueries.qQualityFunnel(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getAs[Long]("n_docs")
      val parts = Seq("fail_short", "fail_symbol", "fail_repetitive",
        "fail_stopwords", "pass_docs").map(r.getAs[Long](_))
      assert(parts.sum == n,
        s"${r.getAs[String]("source")}: ${parts.mkString("+")} != $n")
      assert(parts.forall(_ >= 0))
    }
    // The whole-corpus funnel accounts for every document exactly once.
    val total = rows.map(_.getAs[Long]("n_docs")).sum
    assert(total == Tables(spark, sf, "documents").count())
  }

  test("source overlap: canonical pair orientation, pairs >= shared fps") {
    val rows = DedupQueries.qSourceOverlap(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (a, b) = (r.getAs[String]("source_a"), r.getAs[String]("source_b"))
      assert(a <= b, s"non-canonical pair ($a, $b)")
      // Every shared fingerprint contributes at least one doc pair.
      assert(r.getAs[Long]("dup_pairs") >= r.getAs[Long]("shared_fps"))
    }
    // Matrix rows are unique pairs.
    assert(rows.map(r => (r.getString(0), r.getString(1))).distinct.length
      == rows.length)
  }

  test("dup cluster histogram: docs and clusters account for the corpus") {
    val rows = DedupQueries.qDupClusterHist(spark, sf).collect()
    assert(rows.nonEmpty)
    val nDocs = rows.map(_.getAs[Long]("n_docs")).sum
    assert(nDocs == Tables(spark, sf, "documents").count())
    rows.foreach(r =>
      assert(r.getAs[Long]("n_docs") >= r.getAs[Long]("n_clusters")))
  }

  test("knn agreement: per-label counts bound by query sample and top-k") {
    val rows = SimilarityQueries.qKnnAgreement(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getAs[Long]("n_queries")).sum <= 50)
    rows.foreach { r =>
      val n = r.getAs[Long]("n_queries")
      val avg = r.getAs[Double]("avg_agree")
      assert(avg >= 0.0 && avg <= 1.0)
      assert(r.getAs[Long]("majority_q") <= n)
      assert(r.getAs[Long]("flagged_q") <= n)
    }
  }
}
