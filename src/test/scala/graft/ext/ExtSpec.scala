package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.GraftFunctions

class DedupSpec extends SparkSpec {

  test("minHashPairs finds planted near-duplicates and exact dupes") {
    // Plant: docs 9000/9001 identical, 9002 near-identical (one word off).
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog and runs far away home tonight"
    val tweaked = base.replace("lazy", "sleepy")
    val other = "completely different content about spark query engines and columnar formats here"
    val docs = Seq(
      (9000L, base, "en", "s", base.length.toLong),
      (9001L, base, "en", "s", base.length.toLong),
      (9002L, tweaked, "en", "s", tweaked.length.toLong),
      (9003L, other, "en", "s", other.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = s"/tmp/graft_test_minhash"
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val pairs = Dedup.minHashPairs(spark, dir)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((9000L, 9001L)), "exact dup pair must surface")
    assert(pairs.contains((9000L, 9002L)) || pairs.contains((9001L, 9002L)),
      "near dup should collide in at least one band")
    assert(!pairs.exists(p => p._1 == 9003L || p._2 == 9003L),
      "unrelated doc must not pair")
  }

  test("releaseSpills reclaims CC spill roots; later calls unaffected") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("doc_a", "doc_b")
    val docs = (1L to 6L).toDF("doc_id")
    // driver budget 0 forces the distributed (spill-backed) path
    val cc1 = withDriverBudget(0)(Dedup.connectedComponents(pairs, docs))
    val expect = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 6L -> 6L)
    assert(cc1.as[(Long, Long)].collect().toMap === expect)
    val backing = cc1.inputFiles.filter(_.contains("graft_spill"))
    assert(backing.nonEmpty, "distributed CC must be parquet-spill-backed")
    def exists(uri: String) =
      new java.io.File(java.net.URI.create(uri).getPath).exists()
    assert(backing.forall(exists))
    graft.ops.Materialize.releaseSpills()
    assert(backing.forall(f => !exists(f)),
      "release must delete the per-call final-mapping dirs")
    // a fresh clustering after the sweep is unaffected
    val cc2 = withDriverBudget(0)(Dedup.connectedComponents(pairs, docs))
    assert(cc2.as[(Long, Long)].collect().toMap === expect)
    graft.ops.Materialize.releaseSpills()
  }

  test("connectedComponents closes transitive chains; singletons self-label") {
    import spark.implicits._
    // chain 1-2-3 (1~2, 2~3 but never 1~3 directly), pair 4-5, singleton 6
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("doc_a", "doc_b")
    val docs = (1L to 6L).toDF("doc_id")
    val cc = Dedup.connectedComponents(pairs, docs)
      .as[(Long, Long)].collect().toMap
    assert(cc === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 6L -> 6L))
  }

  test("minHashClusters groups the planted dup family under one keeper") {
    import spark.implicits._
    // reuse the minhash fixture written by the pairs test (same corpus)
    val dir = s"/tmp/graft_test_minhash"
    val clusters = Dedup.minHashClusters(spark, dir).collect()
    assert(clusters.length === 1)
    val c = clusters.head
    assert(c.getAs[Long]("keeper_doc_id") === 9000L)
    assert(c.getAs[Long]("cluster_size") >= 2) // 9002 joins when its band collides
  }

  test("simhash of identical docs is identical; signatures are longs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta", "en", "s", 20L),
      (2L, "alpha beta gamma delta", "en", "s", 20L),
      (3L, "unrelated words entirely distinct", "en", "s", 30L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = s"/tmp/graft_test_simhash"
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val sigs = Dedup.simHashSignatures(spark, dir)
      .orderBy("doc_id").select("simhash").as[Long].collect()
    assert(sigs(0) === sigs(1))
    assert(sigs(0) !== sigs(2))
    val pairs = Dedup.simHashPairs(spark, dir)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L)))
  }

  test("exact dedup counts duplicates on the real corpus (sf0.001: none)") {
    val row = Dedup.exactSummary(spark, sf).collect().head
    assert(row.getAs[Long]("total_docs") === 500L)
    assert(row.getAs[Long]("distinct_texts") === 500L)
    assert(row.getAs[Long]("dup_docs_removed") === 0L)
  }

  test("blockedPairs caps a pathological single-block corpus sub-quadratically") {
    import spark.implicits._
    // 1000 same-lang docs in ONE (lang, len_bucket) block: uncapped, this
    // is 499 500 pairs; capped at 32, each of the ~32 hash sub-blocks pairs
    // internally — expected ≈ n²/(2·nSub) ≈ 15.6k.
    val docs = (1L to 1000L).map(i => (i, "en", 100L))
      .toDF("doc_id", "lang", "n_chars")
    val capped = Dedup.blockedPairs(docs, maxBlock = 32).count()
    assert(capped > 0L)
    assert(capped < 60000L, s"capped block still quadratic: $capped pairs")
    // blocks at or under the cap are exact — the full cross set survives
    val uncapped = Dedup.blockedPairs(docs, maxBlock = 2000).count()
    assert(uncapped === 1000L * 999L / 2)
    // pairs never cross blocks: different lang or far length never pair
    val mixed = Seq((1L, "en", 100L), (2L, "de", 100L), (3L, "en", 5000L))
      .toDF("doc_id", "lang", "n_chars")
    assert(Dedup.blockedPairs(mixed, maxBlock = 32).count() === 0L)
  }

  test("exactPairClusters chains near-length same-lang docs transitively") {
    import spark.implicits._
    val dir = "/tmp/graft_test_exactcc"
    // chain 1-2-3 via ±2 steps (1 vs 3 differ by 4 — linked only through
    // 2); 10 is a singleton; 20/21 pair; 30 same length as 20 but other lang
    Seq(
      (1L, "a", "en", "s", 100L), (2L, "b", "en", "s", 102L),
      (3L, "c", "en", "s", 104L),
      (10L, "d", "en", "s", 500L),
      (20L, "e", "en", "s", 300L), (21L, "f", "en", "s", 301L),
      (30L, "g", "de", "s", 300L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Dedup.exactPairClusters(spark, dir).collect()
      .map(r => r.getAs[Long]("cluster_id") ->
        ((r.getAs[Long]("keeper_doc_id"), r.getAs[Long]("cluster_size")))).toMap
    assert(out === Map(1L -> ((1L, 3L)), 20L -> ((20L, 2L))))
  }

  test("pair producers leave the CacheManager empty (call-scoped caches)") {
    spark.catalog.clearCache() // isolate from caches other suites may hold
    val dir = s"/tmp/graft_test_minhash" // fixture from the minhash test
    Dedup.minHashPairs(spark, dir).count()
    Dedup.simHashPairs(spark, dir).count()
    Dedup.ngramJaccardPairs(spark, dir).count()
    Dedup.spanPairs(spark, dir).count()
    Curation.trainingSet(spark, dir).count()
    BpeTrainer.train(spark, dir).count()
    Search.bm25(spark, sf).count()
    Search.tfidfTerms(spark, sf).count()
    assert(spark.sharedState.cacheManager.isEmpty,
      "a query left persisted frames behind")
  }

  test("incrementalExact matches delta docs against the corpus index only") {
    import spark.implicits._
    val dir = "/tmp/graft_test_incremental"
    Seq(
      (2L, "shared text body", "en", "s", 16L),   // corpus keeper
      (12L, "shared text body", "en", "s", 16L),  // corpus dup (not reported)
      (5L, "corpus only text", "en", "s", 16L),
      (9L, "shared text body", "en", "s", 16L),   // delta: dup of keeper 2
      (19L, "brand new text", "en", "s", 14L),    // delta: clean
      (29L, "shared text body", "en", "s", 16L))  // delta: also dup of 2
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Dedup.incrementalExact(spark, dir).collect()
      .map(r => r.getAs[Long]("new_doc_id") ->
        ((r.getAs[Long]("dup_of"), r.getAs[Boolean]("is_dup")))).toMap
    assert(out.keySet === Set(9L, 19L, 29L))
    assert(out(9L) === ((2L, true)))   // keeper is the SMALLEST corpus id
    assert(out(29L) === ((2L, true)))
    assert(out(19L) === ((-1L, false)))
  }

  test("distributed CC raises on non-convergence instead of partial labels") {
    import spark.implicits._
    // a 6-node path graph has diameter 5: min-label needs >1 round
    val pairs = (1L to 5L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val docs = (1L to 6L).toDF("doc_id")
    val e = intercept[IllegalStateException] {
      // driver budget 0 forces the distributed loop; maxIter=1 starves it
      withDriverBudget(0)(Dedup.connectedComponents(pairs, docs, maxIter = 1))
        .count()
    }
    assert(e.getMessage.contains("not converged"))
    assert(spark.sharedState.cacheManager.isEmpty,
      "failed CC must not leak its loop caches")
  }

  test("twinnable minhash (CW permutations) still finds the planted dups") {
    import spark.implicits._
    val dir = "/tmp/graft_test_minhash" // fixture from the minhash test
    val pairs = Dedup.minHashPairs(spark, dir, twinnable = true)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((9000L, 9001L)), "exact dup pair must surface")
    assert(!pairs.exists(p => p._1 == 9003L || p._2 == 9003L),
      "unrelated doc must not pair")
  }

  test("twinnable simhash: 60-bit signatures, identical docs at hamming 0") {
    import spark.implicits._
    val dir = "/tmp/graft_test_minhash" // fixture from the minhash test
    val sigs = Dedup.simHashSignatures(spark, dir, twinnable = true)
      .as[(Long, Long)].collect().toMap
    sigs.values.foreach(s => assert(s >= 0L && s < (1L << 60)))
    assert(sigs(9000L) === sigs(9001L), "identical text ⇒ identical simhash")
    val pairs = Dedup.simHashPairs(spark, dir, twinnable = true)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(pairs((9000L, 9001L)) === 0)
    assert(!pairs.keySet.exists(p => p._1 == 9003L || p._2 == 9003L))
  }

  test("spanPairs matches a brute-force reference on random small corpora") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import spark.implicits._
    val dir = "/tmp/graft_test_spans_prop"
    // tiny vocab + short docs: span collisions are common, so the
    // reference exercises real sharing, not just empty results
    val docGen = Gen.listOfN(6, Gen.choose(4, 12).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("a", "b", "c")).map(_.mkString(" "))))
    val prop = Prop.forAll(docGen) { texts =>
      val docs = texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t, "en", "s", t.length.toLong) }
      docs.toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val got = Dedup.spanPairs(spark, dir, spanTokens = 4, maxDocsPerSpan = 6)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      // reference: all 4-token spans per doc (distinct), pair-share counts
      val spans = docs.map { case (id, t, _, _, _) =>
        id -> t.split("\\s+").filter(_.nonEmpty)
          .sliding(4).filter(_.length == 4).map(_.mkString(" ")).toSet
      }.toMap
      val expected = (for {
        a <- spans.keys; b <- spans.keys if a < b
        shared = spans(a).intersect(spans(b)).size if shared > 0
      } yield (a, b) -> shared.toLong).toMap
      got == expected
    }
    val r = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(r.passed, s"property falsified: ${r.status}")
  }

  test("spanPairs finds mis-aligned shared runs; boilerplate spans drop") {
    import spark.implicits._
    val dir = "/tmp/graft_test_spans"
    val run = (1 to 16).map(i => s"w$i").mkString(" ") // the shared 16-run
    val boiler = (1 to 16).map(i => s"b$i").mkString(" ")
    val docs = Seq(
      // run sits at offset 0 in doc 1 but offset 3 in doc 2 — only
      // stride-1 emission can align them
      (1L, run + " x1 x2 x3", "en", "s", 1L),
      (2L, "y1 y2 y3 " + run, "en", "s", 1L),
      (3L, (1 to 20).map(i => s"z$i").mkString(" "), "en", "s", 1L),
      // the boilerplate span is in 3 docs — past maxDocsPerSpan=2
      (4L, boiler + " a", "en", "s", 1L),
      (5L, boiler + " b", "en", "s", 1L),
      (6L, boiler + " c", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Dedup.spanPairs(spark, dir, spanTokens = 16, maxDocsPerSpan = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out.keySet === Set((1L, 2L)), s"got ${out.keySet}")
    assert(out((1L, 2L)) === 1L) // exactly the one aligned span text
    // docs shorter than the span window never pair
    val short = Seq((7L, "a b c", "en", "s", 1L), (8L, "a b c", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    short.write.mode("overwrite").parquet(s"$dir/short/documents.parquet")
    assert(Dedup.spanPairs(spark, s"$dir/short").count() === 0L)
  }

  test("jaccardPrefixPairs matches brute-force all-pairs Jaccard (lossless)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import spark.implicits._
    val dir = "/tmp/graft_test_ppjoin_prop"
    // word-3-gram shingles with 2/1-gram tails — the same family
    // shingleRowsOf emits, so the reference measures the same sets
    def shingleSet(t: String): Set[String] = {
      val toks = t.toLowerCase.split("\\s+").filter(_.nonEmpty)
      toks.indices
        .map(i => toks.slice(i, math.min(i + 3, toks.length)).mkString(" "))
        .toSet
    }
    val docGen = Gen.listOfN(8, Gen.choose(4, 10).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d")).map(_.mkString(" "))))
    val prop = Prop.forAll(docGen) { texts =>
      val docs = texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t, "en", "s", t.length.toLong) }
      docs.toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      // uncapped: the prefix filter must be exact — every pair, no extras
      val got = Dedup
        .jaccardPrefixPairs(spark, dir, threshold = 0.5,
          maxPrefixDf = Long.MaxValue)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
        .toMap
      val sets = docs.map { case (id, t, _, _, _) => id -> shingleSet(t) }.toMap
      val expected = (for {
        a <- sets.keys; b <- sets.keys if a < b
        inter = sets(a).intersect(sets(b)).size.toDouble
        j = inter / (sets(a).size + sets(b).size - inter) if j >= 0.5
      } yield (a, b) -> j).toMap
      got == expected
    }
    val r = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(r.passed, s"property falsified: ${r.status}")
  }

  test("jaccardPrefixPairs: df cap bounds an all-duplicate corpus") {
    import spark.implicits._
    val dir = "/tmp/graft_test_ppjoin_cap"
    val boiler = (1 to 12).map(i => s"w$i").mkString(" ")
    val docs = (1L to 40L).map(i => (i, boiler, "en", "s", boiler.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // every shingle lives in all 40 docs — past maxPrefixDf=8, every
    // prefix entry is dropped and the join emits zero candidates (the
    // same refusal shape as minHashPairs' maxBucket)
    assert(Dedup.jaccardPrefixPairs(spark, dir, maxPrefixDf = 8L).count() === 0L)
    // uncapped, the same corpus yields all C(40,2) exact-dup pairs
    assert(Dedup.jaccardPrefixPairs(spark, dir, maxPrefixDf = Long.MaxValue)
      .count() === 40L * 39 / 2)
  }

  test("lshRecall: LSH pairs ⊆ lossless truth, recall consistent, exact dups found") {
    import spark.implicits._
    val dir = "/tmp/graft_test_lsh_recall"
    // planted: 3 exact copies (signatures identical → every band agrees →
    // LSH MUST find those pairs) + unrelated fillers
    val copy = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = (Seq((1L, copy), (2L, copy), (3L, copy)) ++
      (4L to 12L).map(i => (i, (1 to 10).map(j => s"w${i}_$j").mkString(" "))))
      .map { case (i, t) => (i, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = Dedup.lshRecall(spark, dir).collect().head
    val (nTrue, nLsh, nFound) = (r.getAs[Long]("n_true_pairs"),
      r.getAs[Long]("n_lsh_pairs"), r.getAs[Long]("n_found"))
    assert(nTrue === 3L)   // the 3 copy pairs; fillers share no shingle
    assert(nLsh === 3L)    // identical signatures collide in every band
    assert(nFound === nLsh) // verified LSH pairs are a subset of the truth
    assert(r.getAs[Double]("recall") === 1.0)
  }
}

class SimilaritySpec extends SparkSpec {

  test("graft_dot matches an exact manual dot product (eval + codegen)") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val df = Seq((Seq(1.0f, 2.0f, 3.0f), Seq(4.0, 5.0, 6.0))).toDF("a", "b")
    val got = df.select(expr("graft_dot(a, b)")).as[Double].head()
    assert(got === (1.0 * 4 + 2.0 * 5 + 3.0 * 6))
    // whole-stage codegen disabled → interpreted eval path must agree
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val interp = df.select(expr("graft_dot(a, b)")).as[Double].head()
      assert(interp === got)
    } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
  }

  test("IVF top-k: candidates subset of corpus, ranked consistently with brute force") {
    val brute = Similarity.bruteForceTopK(spark, sf, nProbes = 5, k = 5).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"))).toSet
    val ivf = Similarity.ivfTopK(spark, sf, nProbes = 5, k = 5).collect()
    ivf.groupBy(_.getAs[Long]("q_id")).values.foreach { rows =>
      val ranks = rows.map(_.getAs[Int]("nn_rank")).sorted.toSeq
      assert(ranks === (1 to ranks.length), "ranks must be contiguous from 1")
      val sims = rows.sortBy(_.getAs[Int]("nn_rank")).map(_.getAs[Double]("cosine_sim")).toSeq
      assert(sims === sims.sorted.reverse)
    }
    // recall: cell-pruned search still finds a usable share of true neighbors
    val hits = ivf.count(r =>
      brute.contains((r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"))))
    assert(hits >= ivf.length / 5, s"IVF/brute agreement too low: $hits of ${ivf.length}")
  }

  test("IVF-PQ top-k matches a driver-side ADC recompute of the whole pipeline") {
    val vecs = graft.io.Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def dot(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map(p => p._1 * p._2).sum
    val d = (v: Array[Float]) => v.map(_.toDouble)
    val ids = vecs.keys.toSeq.sorted
    val centIds = ids.take(16)
    val cents = centIds.map { id =>
      val v = d(vecs(id)); val n = math.sqrt(dot(v, v)); id -> v.map(_ / n)
    }
    def bestCells(v: Array[Float], n: Int): Seq[Long] =
      cents.map { case (cid, c) => (dot(d(v), c), cid) }
        .sortBy { case (s, cid) => (-s, cid) }.take(n).map(_._2)
    val seeds = centIds.map(id => d(vecs(id)))
    def sub(v: Array[Double], m: Int) = v.slice(m * 16, (m + 1) * 16)
    def codeOf(v: Array[Float], m: Int): Int =
      (0 until 16).map { j =>
        val c = sub(seeds(j), m)
        (dot(c, c) - 2.0 * dot(sub(d(v), m), c), j)
      }.minBy(identity)._2
    def adc(q: Array[Float], cCodes: IndexedSeq[Int]): Double =
      (0 until 4).map { m =>
        val qm = sub(d(q), m); val c = sub(seeds(cCodes(m)), m)
        dot(qm, qm) - 2.0 * dot(qm, c) + dot(c, c)
      }.sum
    val assigned = ids.map(id => id -> bestCells(vecs(id), 1).head).toMap
    val codes = ids.map(id =>
      id -> (0 until 4).map(m => codeOf(vecs(id), m))).toMap
    val expected = ids.filter(_ < 5).flatMap { qid =>
      val probed = bestCells(vecs(qid), 4).toSet
      ids.filter(c => c != qid && probed(assigned(c)))
        .map(c => (adc(vecs(qid), codes(c)), c))
        .sorted.take(5).zipWithIndex
        .map { case ((e, c), i) => (qid, i + 1, c,
          BigDecimal(e).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) }
    }.toSet
    val got = Similarity.ivfPqTopK(spark, sf).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Int]("nn_rank"),
        r.getAs[Long]("neighbor_id"), r.getAs[Double]("l2sq_est"))).toSet
    // estimates are sums/differences of dot products — driver recompute
    // may differ at ulp level; compare structure exactly, values to 1e-6
    assert(got.map(t => (t._1, t._2, t._3)) ===
      expected.map(t => (t._1, t._2, t._3)))
    val byKey = expected.map(t => (t._1, t._2, t._3) -> t._4).toMap
    got.foreach { t =>
      assert(math.abs(t._4 - byKey((t._1, t._2, t._3))) < 1e-5, t.toString)
      assert(t._4 >= 0.0, s"squared-distance estimate negative: $t")
    }
  }

  test("trained IVF: deterministic model, Lloyd improves the quantizer objective") {
    // the integer fixed-point trainer must reproduce bit-for-bit across
    // runs (that determinism is what makes knn_ivf_trained hash-checkable)
    val m1 = Similarity.kmeansModelInt(spark, sf)
    val m2 = Similarity.kmeansModelInt(spark, sf)
    assert(m1.map(_.toSeq) === m2.map(_.toSeq), "trainer is not deterministic")
    assert(m1.size === 16 && m1.head.length === 64)
    // A/B on the quantizer OBJECTIVE (mean best-cell cosine): Lloyd must
    // strictly beat the raw lowest-id seed cells it started from — that is
    // the property training buys. (Recall@k is NOT asserted ≥ seeded: on
    // this uniform-random fixture recall differences are sampling noise —
    // measured 0.88 trained vs 0.92 seeded at cellProbes=4 — whereas the
    // objective improvement is Lloyd's monotone guarantee.)
    val corpus = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(_.getSeq[Float](1).map(_.toDouble).toArray)
    def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    def cohesion(cents: Seq[Array[Double]]): Double =
      corpus.map { v =>
        val u = unit(v); cents.map(c => c.zip(u).map(p => p._1 * p._2).sum).max
      }.sum / corpus.length
    val seeds = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .sortBy(_.getLong(0)).take(16)
      .map(r => unit(r.getSeq[Float](1).map(_.toDouble).toArray)).toSeq
    val trainedCents = m1.map(c => unit(c.map(_.toDouble))).toSeq
    val seededObj = cohesion(seeds)
    val trainedObj = cohesion(trainedCents)
    assert(trainedObj > seededObj,
      s"Lloyd failed to improve the objective: trained $trainedObj vs seed $seededObj")
    // trained retrieval stays a sane ANN: decent absolute recall vs truth
    val truth = Similarity.bruteForceTopK(spark, sf, nProbes = 5, k = 5)
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"))).toSet
    val trained = Similarity.ivfTopKTrained(spark, sf, nProbes = 5, k = 5).collect()
      .count(r => truth.contains(
        (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id")))).toDouble / truth.size
    assert(trained >= 0.6, s"trained recall collapsed: $trained")
  }

  test("kmeansCellsTrained matches a driver replay of the trained assignment") {
    val got = Similarity.kmeansCellsTrained(spark, sf).collect()
      .map(r => r.getAs[Long]("cell_id") ->
        (r.getAs[Long]("n_vectors"), r.getAs[Double]("avg_cohesion"))).toMap
    val total = graft.io.Tables.embeddings(spark, sf).count()
    assert(got.values.map(_._1).sum === total, "cells must partition the corpus")
    // brute replay: same micro-unit quantization, same integer dots, same
    // (score desc, cell asc) argmax, same 6dp-quantized mean — in plain Scala
    val model = Similarity.kmeansModelInt(spark, sf)
    val cn = model.map(c => math.sqrt(c.map(v => v * v).sum.toDouble))
    val members = scala.collection.mutable.Map[Int, List[BigDecimal]]()
    spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding").collect().foreach { r =>
        val v = r.getSeq[Float](1).map(_.toDouble).toArray
        val nrm = math.sqrt(v.map(x => x * x).sum)
        val xq = v.map(x => math.floor(x / nrm * 1e6 + 0.5))
        val nxq = math.sqrt(xq.map(x => x * x).sum)
        val scored = model.indices.map { i =>
          val dot = model(i).zip(xq).map { case (c, x) => c * x }.sum.toDouble
          (dot / cn(i), -i, dot / (nxq * cn(i)))
        }
        val best = scored.max
        members(-best._2) = BigDecimal(best._3).setScale(6, BigDecimal.RoundingMode.HALF_UP) ::
          members.getOrElse(-best._2, Nil)
      }
    assert(got.keySet === members.keySet.map(_.toLong))
    members.foreach { case (cell, cos) =>
      assert(got(cell.toLong)._1 === cos.length.toLong, s"cell $cell size")
      val want = (cos.sum / cos.length).toDouble
      assert(math.abs(got(cell.toLong)._2 - want) < 1e-6,
        s"cell $cell cohesion ${got(cell.toLong)._2} vs $want")
    }
  }

  test("embeddingPc1 matches a BigInt driver replay and improves the Rayleigh quotient") {
    val xs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .sortBy(_.getLong(0))
      .map { r =>
        val v = r.getSeq[Float](1).map(_.toDouble).toArray
        val n = math.sqrt(v.map(x => x * x).sum)
        v.map(x => math.floor(x / n * 1e6 + 0.5).toLong)
      }
    var v = xs.head.clone()
    for (_ <- 1 to 5) {
      val sp = xs.map(x => x.zip(v).map { case (a, b) => a * b }.sum / 100000000L)
      val u = v.indices.map(p =>
        xs.indices.map(i => BigInt(xs(i)(p)) * sp(i)).sum).toArray
      val m = u.map(_.abs).max
      v = u.map(x => ((x * BigInt(1000000)) / m).toLong)
    }
    val got = Similarity.embeddingPc1(spark, sf).collect()
    assert(got.length === 64)
    got.foreach { r =>
      assert(r.getAs[Long]("pc1_micro") === v(r.getAs[Int]("pos")),
        s"pos ${r.getAs[Int]("pos")}")
    }
    // unit loadings really are unit-norm (within 6dp rounding)
    val nn = math.sqrt(got.map(r => math.pow(r.getAs[Double]("unit_loading"), 2)).sum)
    assert(math.abs(nn - 1.0) < 1e-4, nn.toString)
    // the iterated direction must capture more corpus energy than the seed
    def rayleigh(d: Array[Long]): Double = {
      val dn = math.sqrt(d.map(x => x.toDouble * x).sum)
      xs.map { x =>
        val dot = x.zip(d).map { case (a, b) => a.toDouble * b }.sum / dn
        dot * dot
      }.sum
    }
    assert(rayleigh(v) > rayleigh(xs.head),
      "power iteration failed to improve the dominant-direction objective")
  }

  test("anisotropyReport matches a driver projection recompute; energies in (0,1]") {
    val v = Similarity.pc1Model(spark, sf)
    val vn = math.sqrt(v.map(x => x * x).sum.toDouble)
    val byLabel = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("label", "embedding").collect()
      .map { r =>
        val e = r.getSeq[Float](1).map(_.toDouble).toArray
        val n = math.sqrt(e.map(x => x * x).sum)
        val xq = e.map(x => math.floor(x / n * 1e6 + 0.5))
        val nxq = math.sqrt(xq.map(x => x * x).sum)
        val dot = xq.zip(v).map { case (a, b) => a * b }.sum
        val c = dot / (nxq * vn)
        (r.getInt(0), BigDecimal(c * c).setScale(6, BigDecimal.RoundingMode.HALF_UP))
      }.groupBy(_._1)
    val rows = Similarity.anisotropyReport(spark, sf).collect()
    assert(rows.map(_.getAs[Int]("label")).toSeq === byLabel.keys.toSeq.sorted)
    rows.foreach { r =>
      val sqs = byLabel(r.getAs[Int]("label")).map(_._2)
      assert(r.getAs[Long]("n_vecs") === sqs.length.toLong)
      val want = (sqs.sum / sqs.length).toDouble
      val gotV = r.getAs[Double]("mean_sq_proj")
      assert(math.abs(gotV - want) < 1e-6, s"label ${r.get(0)}: $gotV vs $want")
      assert(gotV > 0.0 && gotV <= 1.0, gotV.toString)
    }
  }

  test("embeddingDrift: cell spine complete, terms non-negative, counts reconcile") {
    val rows = Similarity.embeddingDrift(spark, sf).collect()
    assert(rows.length === 16, "one row per quantizer cell, always")
    rows.foreach { r =>
      assert(r.getAs[Double]("psi_term") >= 0.0, r.toString)
      assert(r.getAs[Double]("ref_frac") > 0.0 && r.getAs[Double]("ref_frac") <= 1.0)
    }
    val total = graft.io.Tables.embeddings(spark, sf).count()
    assert(rows.map(r => r.getAs[Long]("n_ref") + r.getAs[Long]("n_cur")).sum
      === total, "every vector lands in exactly one cell")
    // the uniform fixture slices are drawn from the same distribution —
    // PSI stays under the investigate line
    val psi = rows.map(_.getAs[Double]("psi_term")).sum
    assert(psi >= 0.0 && psi < 0.2, s"uniform fixture drifted: $psi")
  }

  test("graft_isect merge-counts sorted arrays (eval + codegen), agrees with array_intersect") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val df = Seq(
      (Seq(1L, 3L, 5L, 9L), Seq(2L, 3L, 5L, 10L, 11L)),   // partial overlap
      (Seq.empty[Long], Seq(1L, 2L)),                       // empty side
      (Seq(4L, 7L), Seq(4L, 7L)),                           // identical
      (Seq(1L, 2L), Seq(3L, 4L))                            // disjoint
    ).toDF("a", "b")
    def run(): Seq[(Int, Int)] =
      df.select(expr("graft_isect(a, b)"), size(array_intersect(col("a"), col("b"))))
        .as[(Int, Int)].collect().toSeq
    val codegen = run()
    assert(codegen.map(_._1) === Seq(2, 0, 2, 0))
    codegen.foreach { case (got, ref) => assert(got === ref) }
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try assert(run() === codegen)
    finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
  }

  test("embeddingNearDupPairs refuses the n² cross join past maxExact") {
    val e = intercept[IllegalArgumentException] {
      Similarity.embeddingNearDupPairs(spark, sf, maxExact = 10L)
    }
    assert(e.getMessage.contains("embeddingNearDupPairsLSH"))
    // under the cap the exact path still runs
    assert(Similarity.embeddingNearDupPairs(spark, sf, maxExact = 100000L)
      .columns.toSeq === Seq("vec_a", "vec_b", "cosine_sim"))
  }

  test("brute-force top-k: self excluded, ranks contiguous, sims descending") {
    // every cosine retrieval ends in the same exact-cosine tail: each keeps
    // the contract, and scores each pair with brute's cosine for that pair
    val nVecs = graft.io.Tables.embeddings(spark, sf).count().toInt
    val truth = Similarity.bruteForceTopK(spark, sf, nProbes = 3, k = nVecs)
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id")) ->
        r.getAs[Double]("cosine_sim")).toMap
    val retrievals: Seq[(String, Similarity.Retrieval)] = Seq(
      "brute" -> Similarity.bruteForceTopK, "lsh" -> Similarity.lshTopK,
      "ivf" -> Similarity.ivfTopK, "ivf_trained" -> Similarity.ivfTopKTrained,
      "ivfpq_rerank" -> Similarity.ivfPqRerankTopK)
    for ((name, retrieve) <- retrievals) {
      val out = retrieve(spark, sf, 3, 4).collect()
      assert(out.length === 12, name)
      val byProbe = out.groupBy(_.getAs[Long]("q_id"))
      assert(byProbe.keySet === Set(0L, 1L, 2L), name)
      byProbe.values.foreach { rows =>
        val sorted = rows.sortBy(_.getAs[Int]("nn_rank"))
        assert(sorted.map(_.getAs[Int]("nn_rank")).toSeq === Seq(1, 2, 3, 4), name)
        val sims = sorted.map(_.getAs[Double]("cosine_sim")).toSeq
        assert(sims === sims.sorted.reverse, s"$name: similarity must be non-increasing")
        assert(!rows.exists(r => r.getAs[Long]("neighbor_id") == r.getAs[Long]("q_id")),
          name)
        rows.foreach { r =>
          val pair = (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"))
          assert(r.getAs[Double]("cosine_sim") === truth(pair),
            s"$name: cosine of $pair differs from brute force")
        }
      }
    }
  }

  test("LSH top-k candidates are a subset ranked consistently with brute force") {
    val brute = Similarity.bruteForceTopK(spark, sf, nProbes = 5, k = 20).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id")))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val lsh = Similarity.lshTopK(spark, sf, nProbes = 5, k = 5).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id")))
    // Every LSH hit must be a genuine vector; recall vs the brute-force
    // top-20 should be nontrivial on 500 random vectors (hash collision
    // bands retain near-ish vectors preferentially).
    val hits = lsh.count { case (q, n) => brute.getOrElse(q, Set.empty).contains(n) }
    assert(lsh.nonEmpty, "LSH must produce candidates at this band width")
    assert(hits >= lsh.length / 5,
      s"LSH/brute agreement too low: $hits of ${lsh.length}")
  }

  test("normStats: per-label counts partition the corpus; mean within [min,max]") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val out = Similarity.normStats(spark, sf).collect()
    assert(out.map(_.getAs[Long]("n_vecs")).sum === emb.count())
    assert(out.map(_.getAs[Int]("label")).toSeq ===
      out.map(_.getAs[Int]("label")).toSeq.sorted)
    out.foreach { r =>
      val (lo, avg, hi) = (r.getAs[Double]("min_norm"),
        r.getAs[Double]("avg_norm"), r.getAs[Double]("max_norm"))
      assert(lo > 0.0, "zero-norm vector would corrupt cosine stages")
      assert(lo <= avg && avg <= hi)
    }
  }
}

class TextStatsSpec extends SparkSpec {

  test("langStats covers all 5 langs with exact integer sums") {
    val rows = TextStats.langStats(spark, sf).collect()
    assert(rows.map(_.getAs[String]("lang")).toSeq === Seq("de", "en", "es", "fr", "zh"))
    assert(rows.map(_.getAs[Long]("n_docs")).sum === 500L)
    rows.foreach(r => assert(r.getAs[Long]("total_tokens") > 0))
  }

  test("quality ratios are within [0,1] and token math is consistent") {
    val rows = TextStats.qualityScore(spark, sf).collect()
    rows.foreach { r =>
      Seq("punct_ratio", "upper_ratio", "digit_ratio").foreach { c =>
        val v = r.getAs[Double](c)
        assert(v >= 0.0 && v <= 1.0, s"$c out of range: $v")
      }
      assert(r.getAs[Int]("n_tokens") > 0)
    }
  }

  test("lengthQuantiles matches a driver type-7 quantile recompute") {
    val byLang = graft.io.Tables.documents(spark, sf)
      .select("lang", "n_chars").collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("n_chars").toDouble))
      .groupBy(_._1).map { case (l, xs) => l -> xs.map(_._2).sorted }
    def q7(xs: IndexedSeq[Double], q: Double): Double = {
      val h = q * (xs.length - 1) + 1
      val lo = math.floor(h).toInt
      val hi = math.min(lo + 1, xs.length)
      val f = h - math.floor(h)
      xs(lo - 1) + f * (xs(hi - 1) - xs(lo - 1))
    }
    val rows = TextStats.lengthQuantiles(spark, sf).collect()
    assert(rows.map(_.getAs[String]("lang")).toSeq === byLang.keys.toSeq.sorted)
    rows.foreach { r =>
      val xs = byLang(r.getAs[String]("lang")).toIndexedSeq
      assert(r.getAs[Long]("n_docs") === xs.length.toLong)
      Seq("p25" -> 0.25, "p50" -> 0.5, "p90" -> 0.9, "p99" -> 0.99).foreach {
        case (nm, q) =>
          assert(math.abs(r.getAs[Double](nm) - q7(xs, q)) < 1e-6,
            s"${r.getAs[String]("lang")} $nm: ${r.getAs[Double](nm)} vs ${q7(xs, q)}")
      }
      // quantiles are monotone
      assert(r.getAs[Double]("p25") <= r.getAs[Double]("p50"))
      assert(r.getAs[Double]("p50") <= r.getAs[Double]("p90"))
      assert(r.getAs[Double]("p90") <= r.getAs[Double]("p99"))
    }
  }

  test("robustStats matches a driver median/MAD recompute") {
    def med(xs: Seq[Double]): Double = {
      val s = xs.sorted.toIndexedSeq
      val h = 0.5 * (s.length - 1) + 1
      val lo = math.floor(h).toInt
      val hi = math.min(lo + 1, s.length)
      s(lo - 1) + (h - math.floor(h)) * (s(hi - 1) - s(lo - 1))
    }
    val bySrc = graft.io.Tables.documents(spark, sf)
      .select("source", "n_chars").collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("n_chars").toDouble))
      .groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2).toSeq }
    val rows = TextStats.robustStats(spark, sf).collect()
    assert(rows.map(_.getAs[String]("source")).toSeq === bySrc.keys.toSeq.sorted)
    rows.foreach { r =>
      val xs = bySrc(r.getAs[String]("source"))
      val m = med(xs)
      val dev = xs.map(x => math.abs(x - m))
      val md = med(dev)
      val out = dev.count(_ > 3 * 1.4826 * md)
      assert(r.getAs[Long]("n_docs") === xs.length.toLong)
      assert(math.abs(r.getAs[Double]("median_chars") - m) < 1e-6)
      assert(math.abs(r.getAs[Double]("mad_chars") - md) < 1e-6)
      assert(r.getAs[Long]("n_outliers") === out.toLong)
      assert(math.abs(r.getAs[Double]("outlier_frac") -
        out.toDouble / xs.length) < 1e-6)
    }
  }

  test("dsirWeights matches a driver-side add-1 unigram log-ratio recompute") {
    val rows = graft.io.Tables.documents(spark, sf)
      .select("doc_id", "text", "source").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text"),
        r.getAs[String]("source")))
    def toks(t: String) = t.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
    val cT = scala.collection.mutable.Map.empty[String, Long]
    val cR = scala.collection.mutable.Map.empty[String, Long]
    rows.foreach { case (_, t, s) =>
      val m = if (s == "src0") cT else cR
      toks(t).foreach(w => m(w) = m.getOrElse(w, 0L) + 1L)
    }
    val vocab = (cT.keySet ++ cR.keySet)
    val (nT, nR, v) = (cT.values.sum, cR.values.sum, vocab.size.toLong)
    val lr = vocab.map(w => w ->
      (math.log((cT.getOrElse(w, 0L) + 1).toDouble / (nT + v)) -
        math.log((cR.getOrElse(w, 0L) + 1).toDouble / (nR + v)))).toMap
    val expected = rows.map { case (id, t, s) =>
      val ws = toks(t)
      val sum = ws.groupBy(identity).map { case (w, g) =>
        BigDecimal(g.size.toDouble * lr(w))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP)
      }.sum
      (id, ws.size.toLong, sum.toDouble, s == "src0")
    }.sortBy(_._1)
    val got = TextStats.dsirWeights(spark, sf).collect().map(r =>
      (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens"),
        r.getAs[Double]("log_weight"), r.getAs[Boolean]("in_target")))
    assert(got.length === expected.length)
    got.zip(expected).foreach { case (g, e) =>
      assert(g._1 === e._1 && g._2 === e._2 && g._4 === e._4)
      assert(math.abs(g._3 - e._3) < 1e-5, s"doc ${g._1}: ${g._3} vs ${e._3}")
    }
    // the score must discriminate: target docs score higher on average
    // under their own unigram model than the rest of the corpus does
    val tW = got.filter(_._4).map(_._3); val rW = got.filterNot(_._4).map(_._3)
    assert(tW.nonEmpty && rW.nonEmpty)
    assert(tW.sum / tW.size > rW.sum / rW.size,
      "target-domain docs must average a higher importance weight")
  }

  test("entropySignals matches a driver-side Shannon recompute") {
    val docs = graft.io.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    def entropy(counts: Seq[Long]): Double = {
      val n = counts.sum
      // mirror the engine's decimal-quantized term sum exactly
      val s = counts.map(c => BigDecimal(c.toDouble * math.log(c.toDouble))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)).sum
      (math.log(n.toDouble) - s.toDouble / n) / math.log(2.0)
    }
    val got = TextStats.entropySignals(spark, sf).collect()
    assert(got.length === docs.size)
    got.foreach { r =>
      val text = docs(r.getAs[Long]("doc_id"))
      // char entropy is DEFINED over the Unicode CODE-POINT stream (r8 —
      // cross-engine regex extraction; see entropySignals' contract)
      val cps = text.codePoints().toArray.toSeq
      val chCounts = cps.groupBy(identity).values.map(_.size.toLong).toSeq
      val toks = text.split("\\s+").filter(_.nonEmpty).toSeq
      val tkCounts = toks.groupBy(identity).values.map(_.size.toLong).toSeq
      assert(r.getAs[Long]("n_chars_total") === cps.length.toLong)
      assert(r.getAs[Long]("n_distinct_chars") === chCounts.size.toLong)
      assert(r.getAs[Long]("n_tokens") === toks.size.toLong)
      assert(r.getAs[Long]("n_distinct_tokens") === tkCounts.size.toLong)
      assert(math.abs(r.getAs[Double]("char_entropy_bits") -
        entropy(chCounts)) < 1e-5)
      assert(math.abs(r.getAs[Double]("token_entropy_bits") -
        entropy(tkCounts)) < 1e-5)
      // entropy is bounded by the uniform distribution over the alphabet
      assert(r.getAs[Double]("char_entropy_bits") >= 0.0)
      assert(r.getAs[Double]("char_entropy_bits") <=
        math.log(chCounts.size.toDouble) / math.log(2.0) + 1e-6)
      val ttr = r.getAs[Double]("type_token_ratio")
      assert(ttr > 0.0 && ttr <= 1.0)
    }
  }

  test("entropySignals char stream is code-point exact on non-BMP/combining text") {
    import spark.implicits._
    // supplementary-plane emoji (surrogate pair), combining accent, and a
    // precomposed é — exactly the inputs where UTF-16-unit vs grapheme
    // splitting diverges across engines; the r8 regex stream counts each
    // CODE POINT once on both engines (the emoji is one symbol, the
    // combining accent its own, never a split surrogate half)
    val dir = java.nio.file.Files.createTempDirectory("graft_nonbmp").toString
    Seq((1L, "ab\uD83D\uDE00e\u0301 c\u00E9"), (2L, "\uD83D\uDE00\uD83D\uDE00"))
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val rows = TextStats.entropySignals(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    // doc 1: a, b, the emoji, e, the combining accent, space, c,
    // precomposed é → 8 code points, all distinct
    assert(rows(1L).getAs[Long]("n_chars_total") === 8L)
    assert(rows(1L).getAs[Long]("n_distinct_chars") === 8L)
    // doc 2: two copies of ONE symbol → zero entropy, not zero chars
    assert(rows(2L).getAs[Long]("n_chars_total") === 2L)
    assert(rows(2L).getAs[Long]("n_distinct_chars") === 1L)
    assert(rows(2L).getAs[Double]("char_entropy_bits") === 0.0)
  }

  test("knScore: brute-force KN recompute matches; model normalizes to 1 per context") {
    import spark.implicits._
    val dir = "/tmp/graft_test_kn"
    Seq(
      (1L, "the cat sat on the mat", "en", "s", 22L),
      (2L, "the cat ran to the house", "en", "s", 24L),
      (3L, "a dog sat on a mat", "en", "s", 18L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // driver-side model from the same corpus
    val docs = Map(
      1L -> "the cat sat on the mat", 2L -> "the cat ran to the house",
      3L -> "a dog sat on a mat")
    val bigrams = docs.toSeq.flatMap { case (id, t) =>
      val w = t.split("\\s+").toSeq; w.zip(w.tail).map(p => (id, p._1, p._2))
    }
    val c12 = bigrams.groupBy(b => (b._2, b._3)).view.mapValues(_.size.toLong).toMap
    val c1 = bigrams.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val n1r = c12.keys.toSeq.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val n1l = c12.keys.toSeq.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val tT = c12.size.toLong
    def pkn(l: String, r: String): Double =
      (c12.getOrElse((l, r), 0L).toDouble - 0.75).max(0.0) / c1(l) +
        (0.75 * n1r(l) / c1(l)) * (n1l(r).toDouble / tT)
    // interpolated KN is a proper distribution over the observed
    // right-vocabulary: sums to EXACTLY 1 per left context
    val rVocab = n1l.keys.toSeq
    c1.keys.foreach { l =>
      val s = rVocab.map(r => pkn(l, r)).sum
      assert(math.abs(s - 1.0) < 1e-12, s"P(.|$l) sums to $s")
    }
    val got = TextStats.knScore(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_bigrams"), r.getAs[Double]("kn_avg_logprob")))).toMap
    docs.foreach { case (id, t) =>
      val bs = t.split("\\s+").toSeq.sliding(2).toSeq
      val lps = bs.map { case Seq(l, r) =>
        BigDecimal(math.log(pkn(l, r)))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP)
      }
      val want = (lps.sum / bs.size).toDouble
      assert(got(id)._1 === bs.size.toLong)
      assert(math.abs(got(id)._2 - want) < 2e-6, s"doc $id: ${got(id)._2} vs $want")
    }
    // seen-often bigrams score higher than backoff-only ones
    assert(pkn("the", "cat") > pkn("the", "dog"))
  }

  test("zipfFit matches a driver-side OLS recompute; natural text slopes negative") {
    val docs = graft.io.Tables.documents(spark, sf)
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val expected = docs.groupBy(_._1).view.mapValues { rows =>
      val cnt = rows.flatMap(_._2.toLowerCase.split("\\s+")).filter(_.nonEmpty)
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val ranked = cnt.toSeq.sortBy { case (t, c) => (-c, t) }
        .take(2000).zipWithIndex
      def mic(v: Double): Long = math.round(math.log(v) * 1e6)
      val xy = ranked.map { case ((_, c), i) => (mic(i + 1.0), mic(c.toDouble)) }
      val n = xy.size.toLong
      val sx = xy.map(_._1).sum; val sy = xy.map(_._2).sum
      val sxx = xy.map(p => p._1 * p._1).sum
      val sxy = xy.map(p => p._1 * p._2).sum
      val num = BigInt(n) * sxy - BigInt(sx) * sy
      val den = BigInt(n) * sxx - BigInt(sx) * sx
      val slopeRaw = num.toDouble / den.toDouble
      (n, slopeRaw, (sy.toDouble / 1e6 - slopeRaw * (sx.toDouble / 1e6)) / n)
    }.toMap
    val got = TextStats.zipfFit(spark, sf).collect()
    assert(got.length === expected.size)
    got.foreach { r =>
      val (n, slope, icpt) = expected(r.getAs[String]("source"))
      assert(r.getAs[Long]("n_terms") === n)
      assert(math.abs(r.getAs[Double]("zipf_slope") - slope) < 1e-6, r.toString)
      assert(math.abs(r.getAs[Double]("zipf_intercept") - icpt) < 1e-6, r.toString)
      // a natural-language frequency spectrum decays: slope well below 0
      assert(r.getAs[Double]("zipf_slope") < -0.1, r.toString)
    }
  }

  test("zipfFit excludes degenerate single-term sources instead of emitting NaN") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_zipfdeg").toString
    Seq(
      (1L, "word", "en", "only", 4L), // one term: zero rank variance
      (2L, "alpha beta alpha gamma beta alpha delta", "en", "ok", 40L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val rows = TextStats.zipfFit(spark, dir).collect()
    assert(rows.map(_.getAs[String]("source")).toSeq === Seq("ok"))
    assert(!rows.head.getAs[Double]("zipf_slope").isNaN)
  }

  test("sourceSimilarity: identical sources score 1, disjoint 0, spine complete") {
    import spark.implicits._
    val dir = "/tmp/graft_test_srcsim"
    val shared = "alpha beta gamma delta epsilon zeta eta theta"
    val other = "one two three four five six seven eight nine"
    Seq(
      (1L, shared, "en", "a", 10L), (2L, shared, "en", "b", 10L),
      (3L, other, "en", "c", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = TextStats.sourceSimilarity(spark, dir).collect()
      .map(r => (r.getAs[String]("source_a"), r.getAs[String]("source_b")) ->
        ((r.getAs[Long]("n_shared"), r.getAs[Double]("jaccard")))).toMap
    // all 3 unordered pairs appear, including the zero-overlap ones
    assert(rows.keySet === Set(("a", "b"), ("a", "c"), ("b", "c")))
    assert(rows(("a", "b"))._2 === 1.0, "identical trigram sets must score 1")
    assert(rows(("a", "c")) === ((0L, 0.0)))
    assert(rows(("b", "c")) === ((0L, 0.0)))
    // shared count = distinct trigrams of the 8-token shared doc
    assert(rows(("a", "b"))._1 === 6L)
  }

  test("qualityCalibration deciles partition the corpus in logit order") {
    val rows = TextStats.qualityCalibration(spark, sf).collect()
      .sortBy(_.getAs[Int]("score_decile"))
    assert(rows.map(_.getAs[Int]("score_decile")).toSeq === (1 to 10))
    // deciles partition: sizes within 1 of each other, total = |docs|
    val sizes = rows.map(_.getAs[Long]("n_docs"))
    assert(sizes.sum === 500L)
    assert(sizes.max - sizes.min <= 1L)
    // rule-pass totals reconcile with the independently-tested c4Filters
    val c4Keep = TextStats.c4Filters(spark, sf)
      .filter(col("keep")).count()
    assert(rows.map(_.getAs[Long]("n_rule_pass")).sum === c4Keep)
    // buckets are logit-ordered and internally consistent
    rows.foreach { r =>
      assert(r.getAs[Long]("min_logit") <= r.getAs[Long]("max_logit"))
      assert(r.getAs[Long]("n_rule_pass") <= r.getAs[Long]("n_docs"))
      assert(r.getAs[Double]("rule_pass_rate") ===
        r.getAs[Long]("n_rule_pass").toDouble / r.getAs[Long]("n_docs"))
    }
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[Long]("max_logit") <= b.getAs[Long]("min_logit"),
        "decile boundaries must respect the logit order")
    }
  }

  test("curationFunnel counts monotone survivors per stage") {
    import spark.implicits._
    val dir = "/tmp/graft_test_funnel"
    val good = "the quick brown fox jumps over the lazy dog while seven " +
      "wizards brew quiet potions tonight"
    Seq(
      (1L, good, "en", "s", good.length.toLong),        // survives everything
      (2L, "tiny", "en", "s", 4L),                      // fails quality (short)
      (3L, Seq.fill(20)("spam").mkString(" "), "en", "s", 99L), // repetitive
      (4L, good, "en", "s", good.length.toLong))        // exact dup of 1
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = TextStats.curationFunnel(spark, dir).collect().head
    assert(r.getAs[Long]("n_total") === 4L)
    assert(r.getAs[Long]("n_after_quality") === 3L)
    assert(r.getAs[Long]("n_after_repetition") === 2L)
    assert(r.getAs[Long]("n_after_dedup") === 1L)
  }

  test("langId predicts the easy languages on crafted sentences") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat and the dog sat in the garden of the house", "en", "s", 10L),
      (2L, "der Hund und die Katze ist nicht in das Haus", "de", "s", 10L),
      (3L, "el perro y la casa de los gatos es un lugar", "es", "s", 10L),
      (4L, "le chien et la maison des chats est dans le jardin", "fr", "s", 10L),
      (5L, "我在这里的房子是很好的", "zh", "s", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = "/tmp/graft_test_langid"
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextStats.langId(spark, dir)
      .orderBy("doc_id").select("predicted_lang").as[String].collect()
    assert(out.toSeq === Seq("en", "de", "es", "fr", "zh"))
  }

  test("tokenCounts: BPE-style splits match hand counts; ws <= bpe on wordy text") {
    import spark.implicits._
    val docs = Seq(
      // "It's a test, really!" → It / 's / a / test / , / really / ! = 7
      (1L, "It's a test, really!", "en", "s", 20L),
      (2L, "one two three", "en", "s", 13L),
      (3L, "", "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = "/tmp/graft_test_tokcnt"
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextStats.tokenCounts(spark, dir).orderBy("doc_id")
      .select("ws_tokens", "bpe_tokens", "chars_per_token")
      .as[(Int, Int, Double)].collect().toSeq
    assert(out(0) === ((4, 7, 20.0 / 7)))
    assert(out(1) === ((3, 3, 13.0 / 3)))
    assert(out(2) === ((0, 0, 0.0)))
    // corpus sanity: wordy synthetic text never has fewer BPE than ws tokens
    val corpus = TextStats.tokenCounts(spark, sf).collect()
    corpus.foreach(r =>
      assert(r.getAs[Int]("bpe_tokens") >= r.getAs[Int]("ws_tokens")))
  }

  test("fingerprints: equal text ⇒ equal fp; corpus fps are unique at sf0.001") {
    val fps = TextStats.fingerprints(spark, sf).select("exact_fp").collect()
    assert(fps.map(_.getString(0)).distinct.length === 500)
  }

  test("lengthBand keeps the middle ranks, drops the length outliers") {
    import spark.implicits._
    val dir = "/tmp/graft_test_lengthband"
    // 10 en docs with lengths 1..10 ⇒ P10–P90 band keeps ranks 2..9;
    // one de doc: a single-doc stratum keeps rank 1 (1*100 > 1*10, ≤ 90? no
    // — 100 > 90 drops it: a 1-doc stratum has no middle band)
    ((1 to 10).map(i => (i.toLong, "t", "en", "s", i.toLong)) :+
      ((99L, "t", "de", "s", 5L)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val kept = TextStats.lengthBand(spark, dir).collect()
      .map(r => r.getLong(0)).toSet
    assert(kept === (2L to 9L).toSet)
  }

  test("lmScore matches a brute-force Zipf reference on random corpora") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import spark.implicits._
    val dir = "/tmp/graft_test_lmscore_prop"
    val docGen = Gen.listOfN(5, Gen.choose(0, 8).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("x", "y", "z", "w")).map(_.mkString(" "))))
    val prop = Prop.forAll(docGen) { texts =>
      val docs = texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t, "en", "s", t.length.toLong) }
      docs.toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val got = TextStats.lmScore(spark, dir).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      val toks = docs.map { case (id, t, _, _, _) =>
        id -> t.split("\\s+").filter(_.nonEmpty).toSeq
      }.toMap
      val rank = toks.values.flatten.groupBy(identity).view.mapValues(_.size)
        .toSeq.sortBy { case (tok, n) => (-n, tok) }
        .zipWithIndex.map { case ((tok, _), i) => tok -> (i + 1L) }.toMap
      val expected = toks.map { case (id, ts) =>
        id -> ((ts.size.toLong, ts.map(rank).sum))
      }
      got == expected
    }
    val r = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(r.passed, s"property falsified: ${r.status}")
  }

  test("lmScore: Zipf ranks by (freq desc, tok asc); doc sums are exact") {
    import spark.implicits._
    val dir = "/tmp/graft_test_lmscore"
    // corpus freq: the×4, cat×2, dog×2, zebra×1
    // ranks: the=1, cat=2 (tie with dog broken by token order), dog=3, zebra=4
    Seq(
      (1L, "the cat the dog", "en", "s", 1L),
      (2L, "the the cat dog zebra", "en", "s", 1L),
      (3L, "", "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextStats.lmScore(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(1L) === ((4L, 1L + 2L + 1L + 3L, 7.0 / 4)))
    assert(out(2L) === ((5L, 1L + 1L + 2L + 3L + 4L, 11.0 / 5)))
    assert(out(3L) === ((0L, 0L, 0.0)), "empty doc surfaces with zeros")
  }

  test("vocabCoverage: full-vocab topK covers everything; tiny topK leaves OOV") {
    val full = TextStats.vocabCoverage(spark, sf, topK = 1000).collect()
    full.foreach { r =>
      assert(r.getAs[Long]("n_covered") === r.getAs[Long]("n_tokens"))
      assert(r.getAs[Double]("oov_rate") === 0.0)
      assert(r.getAs[Long]("n_oov_types") === 0L)
    }
    val tiny = TextStats.vocabCoverage(spark, sf, topK = 4).collect()
    assert(tiny.exists(_.getAs[Long]("n_oov_types") > 0L))
    tiny.foreach { r =>
      val (tok, cov) = (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_covered"))
      assert(cov <= tok)
      assert(r.getAs[Double]("oov_rate") === 1.0 - cov.toDouble / tok.toDouble)
    }
  }

  test("sourceNovelty matches a brute-force per-source trigram set reference") {
    def trigrams(text: String): Seq[String] = {
      val t = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
      (0 to t.length - 3).map(i => t.slice(i, i + 3).mkString(" "))
    }
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .selectExpr("source", "text").collect()
    val bySource = docs.groupBy(_.getString(0)).map { case (src, rows) =>
      src -> rows.flatMap(r => trigrams(r.getString(1))).toSet
    }
    val counts = bySource.values.flatten.groupBy(identity)
      .view.mapValues(_.size).toMap // gram -> n_sources (sets, so distinct)
    val expected = bySource.map { case (src, gs) =>
      val unique = gs.count(counts(_) == 1)
      src -> ((gs.size.toLong, unique.toLong))
    }
    val out = TextStats.sourceNovelty(spark, sf).collect().map { r =>
      assert(r.getAs[Double]("novelty_rate") ===
        r.getAs[Long]("n_unique_grams").toDouble / r.getAs[Long]("n_grams"))
      r.getAs[String]("source") ->
        ((r.getAs[Long]("n_grams"), r.getAs[Long]("n_unique_grams")))
    }.toMap
    assert(out === expected)
  }
}

class MultimodalSpec extends SparkSpec {

  /** A minimal but REAL 24-bit BMP: BITMAPFILEHEADER + BITMAPINFOHEADER +
    * zeroed pixel rows padded to 4 bytes. Any image viewer opens it.
    */
  private def bmpBytes(w: Int, h: Int): Array[Byte] = {
    val rowBytes = (w * 3 + 3) / 4 * 4
    val pixelBytes = rowBytes * h
    val buf = java.nio.ByteBuffer.allocate(54 + pixelBytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put('B'.toByte).put('M'.toByte).putInt(54 + pixelBytes)
      .putShort(0).putShort(0).putInt(54)                  // file header
    buf.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
      .putInt(0).putInt(pixelBytes).putInt(2835).putInt(2835)
      .putInt(0).putInt(0)                                 // info header
    buf.array()                                            // pixels stay 0
  }

  /** A minimal but REAL 8-bit grayscale PNG: signature + IHDR + IDAT
    * (deflated filter-byte-prefixed scanlines) + IEND, all CRC'd.
    */
  private def pngBytes(w: Int, h: Int): Array[Byte] = {
    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val crc = new java.util.zip.CRC32
      crc.update(typ.getBytes("US-ASCII")); crc.update(data)
      java.nio.ByteBuffer.allocate(12 + data.length)
        .putInt(data.length).put(typ.getBytes("US-ASCII")).put(data)
        .putInt(crc.getValue.toInt).array()
    }
    val ihdr = java.nio.ByteBuffer.allocate(13)
      .putInt(w).putInt(h).put(8.toByte).put(0.toByte)
      .put(0.toByte).put(0.toByte).put(0.toByte).array()
    val raw = new Array[Byte]((w + 1) * h) // filter byte 0 + w gray pixels/row
    val deflater = new java.util.zip.Deflater
    deflater.setInput(raw); deflater.finish()
    val out = new Array[Byte](raw.length + 64)
    val n = deflater.deflate(out)
    val sig = Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte)
    sig ++ chunk("IHDR", ihdr) ++ chunk("IDAT", out.take(n)) ++
      chunk("IEND", Array.empty[Byte])
  }

  test("decode REALLY parses BMP/PNG dimensions from binaryFile payloads") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_media").toString
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/img_1.bmp"), bmpBytes(640, 480))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/img_2.bmp"), bmpBytes(31, 7))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/img_3.png"), pngBytes(123, 456))
    // javax.imageio agrees these are real images (PNG reader validates CRCs)
    val sanity = javax.imageio.ImageIO.read(new java.io.File(s"$dir/img_3.png"))
    assert(sanity.getWidth === 123 && sanity.getHeight === 456)
    val media = spark.read.format("binaryFile").load(dir)
      .select(
        regexp_extract(col("path"), "img_(\\d+)", 1).cast("long").as("media_id"),
        lit("image").as("media_type"),
        col("content"))
    val dims = Multimodal.decode(media).collect()
      .map(r => r.getAs[Long]("media_id") ->
        ((r.getAs[Int]("width"), r.getAs[Int]("height")))).toMap
    assert(dims === Map(1L -> ((640, 480)), 2L -> ((31, 7)), 3L -> ((123, 456))))
  }

  /** A minimal but REAL GIF89a: header + logical screen descriptor (no
    * global color table) + trailer.
    */
  private def gifBytes(w: Int, h: Int): Array[Byte] =
    "GIF89a".getBytes("US-ASCII") ++ Array(
      (w & 0xFF).toByte, ((w >> 8) & 0xFF).toByte,
      (h & 0xFF).toByte, ((h >> 8) & 0xFF).toByte,
      0x00.toByte, 0x00.toByte, 0x00.toByte, // packed, bg index, aspect
      0x3B.toByte) // trailer

  /** A structurally real JPEG marker stream: SOI, APP0/JFIF, DQT, a 0xFF
    * fill byte, then the frame header (`sofMarker`, default baseline SOF0)
    * and SOS. Exercises every branch of the marker walk: variable-length
    * skips, fill-byte padding, and the SOFn dimension read.
    */
  private def jpegBytes(w: Int, h: Int, sofMarker: Int = 0xC0): Array[Byte] = {
    def seg(marker: Int, payload: Array[Byte]): Array[Byte] =
      Array(0xFF.toByte, marker.toByte,
        (((payload.length + 2) >> 8) & 0xFF).toByte,
        ((payload.length + 2) & 0xFF).toByte) ++ payload
    val app0 = seg(0xE0, "JFIF".getBytes("US-ASCII") ++
      Array[Byte](0, 1, 1, 0, 0, 1, 0, 1, 0, 0))
    val dqt = seg(0xDB, Array.fill[Byte](65)(1))
    val sof = seg(sofMarker, Array[Byte](8,
      ((h >> 8) & 0xFF).toByte, (h & 0xFF).toByte,
      ((w >> 8) & 0xFF).toByte, (w & 0xFF).toByte,
      1, 1, 0x11, 0))
    val sos = seg(0xDA, Array[Byte](1, 1, 0, 0, 63, 0))
    Array(0xFF.toByte, 0xD8.toByte) ++ app0 ++ dqt ++
      Array(0xFF.toByte) ++ sof ++ sos // fill byte before the SOF marker
  }

  test("parseDims reads GIF and JPEG headers for real (r6: stub = audio/video only)") {
    assert(Multimodal.parseDims("image", gifBytes(320, 200)) === Some((320, 200, 0L)))
    assert(Multimodal.parseDims("image", gifBytes(65535, 1)) === Some((65535, 1, 0L)))
    // baseline AND progressive frame headers; DHT's 0xC4 must be skipped
    assert(Multimodal.parseDims("image", jpegBytes(640, 480)) === Some((640, 480, 0L)))
    assert(Multimodal.parseDims("image", jpegBytes(19, 7, sofMarker = 0xC2))
      === Some((19, 7, 0L)))
    // SOS before any SOF → no guess, stub path
    assert(Multimodal.jpegDims(
      Array(0xFF, 0xD8, 0xFF, 0xDA, 0, 4, 0, 0).map(_.toByte)).isEmpty)
    // truncated mid-segment → None, never an index crash
    assert(Multimodal.parseDims("image", jpegBytes(640, 480).take(9)).isEmpty)
    assert(Multimodal.parseDims("image", gifBytes(320, 200).take(7)).isEmpty)
    // text that merely mentions GIF fails the 6-byte magic
    assert(Multimodal.parseDims("image",
      "GIF is an image format from 1987".getBytes("UTF-8")).isEmpty)
  }

  /** A structurally real RIFF/WAVE header: fmt chunk (PCM, `channels`,
    * `sampleRate`, 16-bit) followed by a `data` chunk of `dataBytes`
    * zeros. An extra odd-sized LIST chunk exercises the even-padding walk.
    */
  private def wavBytes(sampleRate: Int, channels: Int,
      dataBytes: Int): Array[Byte] = {
    def le32b(v: Int) = Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte,
      ((v >> 16) & 0xFF).toByte, ((v >> 24) & 0xFF).toByte)
    def le16b(v: Int) = Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte)
    val byteRate = sampleRate * channels * 2
    val fmt = "fmt ".getBytes("US-ASCII") ++ le32b(16) ++
      le16b(1) ++ le16b(channels) ++ le32b(sampleRate) ++ le32b(byteRate) ++
      le16b(channels * 2) ++ le16b(16)
    val list = "LIST".getBytes("US-ASCII") ++ le32b(5) ++
      "INFOx\u0000".getBytes("US-ASCII") // 5 data bytes + 1 pad byte
    val data = "data".getBytes("US-ASCII") ++ le32b(dataBytes) ++
      Array.fill[Byte](dataBytes)(0)
    val body = "WAVE".getBytes("US-ASCII") ++ fmt ++ list ++ data
    "RIFF".getBytes("US-ASCII") ++ le32b(body.length) ++ body
  }

  /** A structurally real ISO-BMFF skeleton: ftyp + moov(mvhd v0 + an
    * audio trak (zero geometry) + a video trak with 16.16 fixed-point
    * `w`×`h`). Duration is `durMs` at a 1000-tick timescale.
    */
  private def mp4Bytes(w: Int, h: Int, durMs: Long,
      mvhdV1: Boolean = false): Array[Byte] = {
    def be32b(v: Int) = Array(((v >> 24) & 0xFF).toByte,
      ((v >> 16) & 0xFF).toByte, ((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
    def be64b(v: Long) = be32b((v >> 32).toInt) ++ be32b(v.toInt)
    def box(typ: String, content: Array[Byte]): Array[Byte] =
      be32b(content.length + 8) ++ typ.getBytes("US-ASCII") ++ content
    val ftyp = box("ftyp", "isom".getBytes("US-ASCII") ++ be32b(512) ++
      "isomiso2avc1mp41".getBytes("US-ASCII"))
    val mvhd =
      if (mvhdV1) box("mvhd", Array[Byte](1, 0, 0, 0) ++ be64b(0L) ++
        be64b(0L) ++ be32b(1000) ++ be64b(durMs) ++ Array.fill[Byte](80)(0))
      else box("mvhd", Array[Byte](0, 0, 0, 0) ++ be32b(0) ++ be32b(0) ++
        be32b(1000) ++ be32b(durMs.toInt) ++ Array.fill[Byte](80)(0))
    def tkhd(tw: Int, th: Int) = box("tkhd",
      Array[Byte](0, 0, 0, 0) ++ Array.fill[Byte](72)(0) ++
        be32b(tw << 16) ++ be32b(th << 16))
    val audioTrak = box("trak", tkhd(0, 0))
    val videoTrak = box("trak", tkhd(w, h))
    ftyp ++ box("moov", mvhd ++ audioTrak ++ videoTrak)
  }

  test("wavDuration parses real RIFF/WAVE headers (r6: stub = headerless only)") {
    // 44.1k stereo 16-bit = 176400 B/s; 882000 data bytes = 5000 ms
    assert(Multimodal.wavDuration(wavBytes(44100, 2, 882000))
      === Some((0, 0, 5000L)))
    assert(Multimodal.wavDuration(wavBytes(8000, 1, 16000)) // 1 s mono
      === Some((0, 0, 1000L)))
    // truncated mid-chunk / wrong magic / text → None, never a crash
    assert(Multimodal.wavDuration(wavBytes(8000, 1, 16000).take(20)).isEmpty)
    assert(Multimodal.wavDuration(
      "RIFF raff audio essay".getBytes("UTF-8")).isEmpty)
    // a declared chunk size near IntMax must not wrap the Int offset
    // negative and read out of bounds — None, never an index crash
    def le32b(v: Long) = Array[Byte](
      (v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte,
      ((v >> 16) & 0xFF).toByte, ((v >> 24) & 0xFF).toByte)
    val overflow = "RIFF".getBytes("US-ASCII") ++ le32b(0x7FFFFFF0L) ++
      "WAVE".getBytes("US-ASCII") ++ "LIST".getBytes("US-ASCII") ++
      le32b(2147483627L) ++ Array.fill[Byte](8)(0)
    assert(Multimodal.wavDuration(overflow).isEmpty)
    // ...including sizes whose NEXT offset fits an Int but whose o+8 in
    // the loop condition would wrap (the off-by-8 band near IntMax)
    val nearMax = "RIFF".getBytes("US-ASCII") ++ le32b(0x7FFFFFF0L) ++
      "WAVE".getBytes("US-ASCII") ++ "LIST".getBytes("US-ASCII") ++
      le32b(2147483620L) ++ Array.fill[Byte](8)(0)
    assert(Multimodal.wavDuration(nearMax).isEmpty)
  }

  test("mp4Info parses real ISO-BMFF geometry + duration, v0 and v1 mvhd") {
    assert(Multimodal.mp4Info(mp4Bytes(1920, 1080, 42000L))
      === Some((1920, 1080, 42000L)))
    assert(Multimodal.mp4Info(mp4Bytes(640, 360, 90000L, mvhdV1 = true))
      === Some((640, 360, 90000L)))
    // audio-only .m4a: no video trak → zero geometry, real duration
    val m4a = {
      val full = mp4Bytes(0, 0, 7500L)
      full // both traks carry zero geometry when w=h=0
    }
    assert(Multimodal.mp4Info(m4a) === Some((0, 0, 7500L)))
    // truncation and text payloads fall through to the stub path
    assert(Multimodal.mp4Info(mp4Bytes(640, 360, 1000L).take(30)).isEmpty)
    assert(Multimodal.mp4Info(
      "ftyp is a box type in mp4 files".getBytes("UTF-8")).isEmpty)
  }

  test("decode routes audio through WAV/MP4 parse and video through MP4") {
    import spark.implicits._
    val media = Seq(
      (1L, "audio", wavBytes(16000, 1, 64000)), // 2000 ms
      (2L, "audio", mp4Bytes(0, 0, 3000L)),     // .m4a route
      (3L, "video", mp4Bytes(1280, 720, 60000L)),
      (4L, "video", "no header here".getBytes("UTF-8")) // stub fallback
    ).toDF("media_id", "media_type", "content")
    val out = Multimodal.decode(media).collect()
      .map(r => r.getAs[Long]("media_id") ->
        ((r.getAs[Int]("width"), r.getAs[Int]("height"),
          r.getAs[Long]("duration_ms")))).toMap
    assert(out(1L) === ((0, 0, 2000L)))
    assert(out(2L) === ((0, 0, 3000L)))
    assert(out(3L) === ((1280, 720, 60000L)))
    assert(out(4L)._3 >= 1L) // deterministic stub kicked in
  }

  test("parseDims rejects text payloads that merely start with 'BM'") {
    // stand-in payloads are TEXT; a doc opening with "BM25..." must fall
    // through to the stub, not decode ASCII bytes as BMP geometry
    val fake = "BM25 scoring beats tf-idf on long documents mostly".getBytes("UTF-8")
    assert(Multimodal.parseDims("image", fake).isEmpty)
    // a real header still parses (DIB size field validates)
    assert(Multimodal.parseDims("image", bmpBytes(17, 9)) === Some((17, 9, 0L)))
  }

  test("decode is deterministic and dimension-plausible per media type") {
    val decoded = Multimodal.decode(Multimodal.mediaTable(spark, sf)).cache()
    val again = Multimodal.decode(Multimodal.mediaTable(spark, sf))
    assert(decoded.orderBy("media_id").collect().toSeq ===
      again.orderBy("media_id").collect().toSeq)
    decoded.collect().foreach { r =>
      r.getAs[String]("media_type") match {
        case "image" =>
          assert(r.getAs[Int]("width") >= 1 && r.getAs[Int]("width") <= 1920)
          assert(r.getAs[Long]("duration_ms") === 0L)
        case "audio" =>
          assert(r.getAs[Int]("width") === 0)
          assert(r.getAs[Long]("duration_ms") >= 1L)
        case "video" =>
          assert(r.getAs[Int]("width") >= 1 && r.getAs[Long]("duration_ms") >= 1L)
      }
    }
    decoded.unpersist()
    ()
  }

  test("sampleFrames explodes one row per minute of video") {
    val decoded = Multimodal.decode(Multimodal.mediaTable(spark, sf))
    val frames = Multimodal.sampleFrames(decoded, everyMs = 60000L)
    val perVideo = frames.groupBy("media_id").count().collect()
    val durations = decoded.filter(col("media_type") === "video")
      .select("media_id", "duration_ms").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    perVideo.foreach { r =>
      val expected = (durations(r.getLong(0)) + 59999L) / 60000L
      assert(r.getLong(1) === expected)
    }
  }

  test("resizePlan: aspect preserved, bounded by maxSide, never upscales") {
    val plan = Multimodal.resizePlan(
      Multimodal.decode(Multimodal.mediaTable(spark, sf)), maxSide = 512).collect()
    assert(plan.nonEmpty)
    plan.foreach { r =>
      val (w, h) = (r.getAs[Int]("width"), r.getAs[Int]("height"))
      val (ow, oh) = (r.getAs[Int]("out_width"), r.getAs[Int]("out_height"))
      assert(r.getAs[String]("media_type") !== "audio")
      assert(ow <= 512 && oh <= 512 && ow <= w && oh <= h, s"($w,$h)->($ow,$oh)")
      if (r.getAs[Boolean]("resize_needed")) {
        // exact floor semantics of the single shared scale factor
        val scale = 512.0 / math.max(w, h)
        assert(ow === math.floor(w * scale).toInt, s"($w,$h)->($ow,$oh)")
        assert(oh === math.floor(h * scale).toInt, s"($w,$h)->($ow,$oh)")
      } else assert(ow === w && oh === h)
    }
  }

  test("extractFeatures yields fixed-dim deterministic vectors in [0,1)") {
    import spark.implicits._
    val f = Multimodal.extractFeatures(Multimodal.mediaTable(spark, sf), dim = 16)
    val rows = f.select("features").as[Seq[Double]].collect()
    assert(rows.forall(_.length == 16))
    assert(rows.forall(_.forall(v => v >= 0.0 && v < 1.0)))
  }

  /** A 3×1 uncompressed 24-bit BMP: pixels blue, green, red (BGR byte
    * order in the file), row padded 9 → 12 bytes. Hand-computable sums.
    */
  private def tinyBmp(height22: Int = 1): Array[Byte] = {
    val out = new Array[Byte](54 + 12)
    def le32(o: Int, v: Int): Unit = {
      out(o) = (v & 0xFF).toByte; out(o + 1) = ((v >> 8) & 0xFF).toByte
      out(o + 2) = ((v >> 16) & 0xFF).toByte; out(o + 3) = ((v >> 24) & 0xFF).toByte
    }
    out(0) = 'B'.toByte; out(1) = 'M'.toByte
    le32(2, out.length); le32(10, 54) // file size, pixel-array offset
    le32(14, 40); le32(18, 3); le32(22, height22) // DIB size, width, height
    out(26) = 1; out(28) = 24 // planes, bpp (compression @30 stays 0)
    // pixel row: blue (255,0,0), green (0,255,0), red (0,0,255) + 3 pad
    val px = Array(255, 0, 0, 0, 255, 0, 0, 0, 255).map(_.toByte)
    px.copyToArray(out, 54)
    out
  }

  test("bmpFeatures computes real channel means + luma histogram from pixels") {
    val f = Multimodal.bmpFeatures(tinyBmp(), dim = 16).get
    assert(f.length === 16)
    // channel means: each channel is 255 in exactly one of 3 pixels
    val mean = 85.0 / 256.0 // (255+0+0)/3 / 256
    assert(f(0) === mean && f(1) === mean && f(2) === mean)
    // luma per pixel (integer /1000): blue 29, green 149, red 76
    assert(f(3) === ((29 + 149 + 76) / 3.0) / 256.0)
    // 12-bin histogram: lumas land in bins 29*12/256=1, 149*12/256=6,
    // 76*12/256=3 — one third of the pixels each, all other bins empty
    val hist = f.drop(4)
    assert(hist(1) === 1.0 / 3 && hist(6) === 1.0 / 3 && hist(3) === 1.0 / 3)
    assert(math.abs(hist.sum - 1.0) < 1e-12)
    // top-down variant (negative height) yields identical order-invariant
    // features; truncated pixel data and compressed BMPs take the stub
    assert(Multimodal.bmpFeatures(tinyBmp(height22 = -1), 16).get.toSeq ===
      Multimodal.bmpFeatures(tinyBmp(), 16).get.toSeq)
    assert(Multimodal.bmpFeatures(tinyBmp().take(60), 16).isEmpty)
    val compressed = tinyBmp(); compressed(30) = 1 // BI_RLE8
    assert(Multimodal.bmpFeatures(compressed, 16).isEmpty)
    // hostile height Int.MinValue: abs() stays negative — must reject, not
    // return features computed over zero pixels with a negative n
    assert(Multimodal.bmpFeatures(tinyBmp(height22 = Int.MinValue), 16).isEmpty)
  }

  test("extractFeatures routes a real BMP payload to the pixel path") {
    import spark.implicits._
    val media = Seq(
      (1L, tinyBmp(), "image"),        // real pixel features
      (2L, "no header here".getBytes("UTF-8"), "image"), // stub
      (3L, tinyBmp(), "audio"))        // wrong modality → stub
      .toDF("media_id", "content", "media_type")
    val out = Multimodal.extractFeatures(media, dim = 16).collect()
      .map(r => r.getAs[Long]("media_id") ->
        r.getSeq[Double](r.fieldIndex("features")).toVector)
      .toMap
    assert(out(1L)(0) === 85.0 / 256.0, "BMP image must use pixel features")
    assert(out(2L).forall(v => v >= 0.0 && v < 1.0))
    assert(out(2L) !== out(1L))
    assert(out(3L) !== out(1L), "non-image BMP bytes stay on the stub")
    assert(out.values.forall(_.length === 16))
  }

  /** RIFF/WAVE with REAL 16-bit PCM samples (LE16 signed, interleaved) —
    * [[wavBytes]] with a sample payload instead of zero fill.
    */
  private def wavPcm(samples: Seq[Int], channels: Int = 1,
      sampleRate: Int = 8000, bits: Int = 16): Array[Byte] = {
    def le32b(v: Int) = Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte,
      ((v >> 16) & 0xFF).toByte, ((v >> 24) & 0xFF).toByte)
    def le16b(v: Int) = Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte)
    val byteRate = sampleRate * channels * (bits / 8)
    val fmt = "fmt ".getBytes("US-ASCII") ++ le32b(16) ++
      le16b(1) ++ le16b(channels) ++ le32b(sampleRate) ++ le32b(byteRate) ++
      le16b(channels * (bits / 8)) ++ le16b(bits)
    val pcm = samples.toArray.flatMap(le16b)
    val data = "data".getBytes("US-ASCII") ++ le32b(pcm.length) ++ pcm
    val body = "WAVE".getBytes("US-ASCII") ++ fmt ++ data
    "RIFF".getBytes("US-ASCII") ++ le32b(body.length) ++ body
  }

  test("pcmFeatures computes exact sample statistics from 16-bit PCM") {
    // samples chosen to exercise sign changes, the peak, and |MinValue|
    val s = Seq(1000, -1000, 0, 32767, -32768, 16384)
    val f = Multimodal.pcmFeatures(wavPcm(s), dim = 16).get
    assert(f.length === 16)
    val abs = s.map(v => math.abs(v.toLong))
    val n = s.length
    assert(f(0) === abs.sum.toDouble / n / 32768.0)            // mean |s|
    assert(f(1) === math.sqrt(abs.map(a => a * a).sum.toDouble / n) / 32768.0)
    // sign transitions: +,-,0(+),+,-,+ → -,+ at 1, +? 0 counts nonneg:
    // signs are (+,-,+,+,-,+) → crossings at 1,2,4,5 = 4 of n-1=5
    assert(f(2) === 4.0 / 5.0)
    assert(f(3) === 32768.0 / 32768.0)                         // peak = |MIN|
    // 12-bin |s| histogram, bin = min(a*12/32768, 11)
    val hist = f.drop(4)
    val expBins = abs.map(a => math.min(a * 12 / 32768, 11L).toInt)
    (0 until 12).foreach { b =>
      assert(hist(b) === expBins.count(_ == b).toDouble / n, s"bin $b")
    }
    // hostile/unsupported → stub path (None), never a crash or a guess:
    // 8-bit PCM, odd data size, truncated samples, headerless text
    assert(Multimodal.pcmFeatures(wavPcm(s, bits = 8), 16).isEmpty)
    // truncated sample array: declared data size exceeds the payload
    assert(Multimodal.pcmFeatures(wavPcm(s).dropRight(1), 16).isEmpty)
    assert(Multimodal.pcmFeatures(
      "RIFF raff audio essay".getBytes("UTF-8"), 16).isEmpty)
    // stereo interleave is accepted (channel-agnostic stats)
    assert(Multimodal.pcmFeatures(wavPcm(s, channels = 2), 16).isDefined)
  }

  test("extractFeatures routes a real PCM payload to the sample path") {
    import spark.implicits._
    val s = Seq(1000, -1000, 0, 32767, -32768, 16384)
    val media = Seq(
      (1L, wavPcm(s), "audio"),   // real sample features
      (2L, wavPcm(s), "image"),   // wrong modality → stub
      (3L, "no header".getBytes("UTF-8"), "audio")) // stub
      .toDF("media_id", "content", "media_type")
    val out = Multimodal.extractFeatures(media, dim = 16).collect()
      .map(r => r.getAs[Long]("media_id") ->
        r.getSeq[Double](r.fieldIndex("features")).toVector)
      .toMap
    assert(out(1L)(3) === 1.0, "PCM audio must use sample features")
    assert(out(2L) !== out(1L), "non-audio WAVE bytes stay on the stub")
    assert(out(3L).forall(v => v >= 0.0 && v < 1.0))
  }

  /** A real 24-bit BMP whose pixels follow `gray(x, y)` in IMAGE
    * coordinates (grayscale, so luma == gray exactly). BMPs store rows
    * bottom-up, so image row y is written to file row h-1-y — exactly
    * what a standard encoder does, which is what makes the cross-format
    * pHash assertions below meaningful for vertically ASYMMETRIC
    * patterns.
    */
  private def bmpPattern(w: Int, h: Int, gray: (Int, Int) => Int): Array[Byte] = {
    val out = bmpBytes(w, h)
    val rowBytes = (w * 3 + 3) / 4 * 4
    for (y <- 0 until h; x <- 0 until w) {
      val g = (gray(x, y) & 0xFF).toByte
      val p = 54 + (h - 1 - y) * rowBytes + x * 3
      out(p) = g; out(p + 1) = g; out(p + 2) = g
    }
    out
  }

  private def hamming(a: Long, b: Long): Int =
    java.lang.Long.bitCount(a ^ b)

  test("bmpPHash: resize-invariant, noise-tolerant, content-sensitive") {
    def leftRight(x: Int, y: Int, w: Int): Int = if (x < w / 2) 0 else 255
    val base = Multimodal.bmpPHash(bmpPattern(64, 64, (x, y) => leftRight(x, y, 64))).get
    // same content at 2× the resolution → identical block means → equal hash
    val scaled = Multimodal.bmpPHash(bmpPattern(128, 128, (x, y) => leftRight(x, y, 128))).get
    assert(hamming(base, scaled) === 0, "block-mean hash must survive resize")
    // a corrupted 8x8 corner block (one grid cell of the 64x64 image)
    // moves few bits — a near-duplicate
    val noisy = Multimodal.bmpPHash(bmpPattern(64, 64, (x, y) =>
      if (x < 8 && y < 8) 255 - leftRight(x, y, 64) else leftRight(x, y, 64))).get
    val dNoise = hamming(base, noisy)
    assert(dNoise >= 1 && dNoise <= 8, s"noise hamming $dNoise")
    // different content (top/bottom split) is far
    val other = Multimodal.bmpPHash(bmpPattern(64, 64, (_, y) =>
      if (y < 32) 0 else 255)).get
    assert(hamming(base, other) > 16, s"got ${hamming(base, other)}")
    // non-BMP payloads refuse (stub path upstream)
    assert(Multimodal.bmpPHash("BM25 text".getBytes("UTF-8")).isEmpty)
  }

  /** A real 8-bit grayscale PNG whose pixels follow `gray(x, y)`, with
    * row `y` encoded under filter `y % 5` — every PNG filter type
    * (None/Sub/Up/Average/Paeth) round-trips through the decoder.
    */
  private def pngPattern(w: Int, h: Int, gray: (Int, Int) => Int): Array[Byte] = {
    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val crc = new java.util.zip.CRC32
      crc.update(typ.getBytes("US-ASCII")); crc.update(data)
      java.nio.ByteBuffer.allocate(12 + data.length)
        .putInt(data.length).put(typ.getBytes("US-ASCII")).put(data)
        .putInt(crc.getValue.toInt).array()
    }
    val ihdr = java.nio.ByteBuffer.allocate(13)
      .putInt(w).putInt(h).put(8.toByte).put(0.toByte)
      .put(0.toByte).put(0.toByte).put(0.toByte).array()
    def paeth(a: Int, b: Int, c: Int): Int = {
      val p = a + b - c
      val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
      if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
    }
    val raw = new Array[Byte]((w + 1) * h)
    for (y <- 0 until h) {
      val f = y % 5
      raw(y * (w + 1)) = f.toByte
      for (x <- 0 until w) {
        val cur = gray(x, y) & 0xFF
        val left = if (x > 0) gray(x - 1, y) & 0xFF else 0
        val up = if (y > 0) gray(x, y - 1) & 0xFF else 0
        val ul = if (x > 0 && y > 0) gray(x - 1, y - 1) & 0xFF else 0
        val enc = f match {
          case 0 => cur
          case 1 => cur - left
          case 2 => cur - up
          case 3 => cur - (left + up) / 2
          case _ => cur - paeth(left, up, ul)
        }
        raw(y * (w + 1) + 1 + x) = (enc & 0xFF).toByte
      }
    }
    val deflater = new java.util.zip.Deflater
    deflater.setInput(raw); deflater.finish()
    val out = new Array[Byte](raw.length + 64)
    val n = deflater.deflate(out)
    val sig = Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte)
    sig ++ chunk("IHDR", ihdr) ++ chunk("IDAT", out.take(n)) ++
      chunk("IEND", Array.empty[Byte])
  }

  test("pngPixels round-trips all five scanline filters; pHash matches BMP cross-format") {
    def grad(x: Int, y: Int): Int = (x * 7 + y * 3) % 256
    val png = pngPattern(40, 25, grad)
    // javax.imageio agrees the multi-filter encoding is a valid PNG
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    assert(img.getWidth === 40 && img.getHeight === 25)
    val (w, h, rgb) = Multimodal.pngPixels(png).get
    assert(w === 40 && h === 25)
    for (y <- 0 until h; x <- 0 until w) {
      val p = (y * w + x) * 3
      assert((rgb(p) & 0xFF) === grad(x, y), s"pixel ($x,$y)")
      assert(rgb(p + 1) === rgb(p) && rgb(p + 2) === rgb(p))
    }
    // cross-format perceptual identity: the SAME pattern as BMP and as
    // PNG must produce the IDENTICAL block-mean hash
    def leftRight(x: Int, y: Int): Int = if (x < 32) 0 else 255
    val viaPng = Multimodal.pngPHash(pngPattern(64, 64, leftRight)).get
    val viaBmp = Multimodal.bmpPHash(bmpPattern(64, 64, leftRight)).get
    assert(viaPng === viaBmp, "block-mean hash must be format-invariant")
    // hostile/unsupported payloads refuse: truncated IDAT, interlaced
    // flag, text — stub path, never a crash
    assert(Multimodal.pngPixels(png.dropRight(30)).isEmpty)
    val interlaced = png.clone(); interlaced(8 + 8 + 12) = 1.toByte
    assert(Multimodal.pngPixels(interlaced).isEmpty)
    assert(Multimodal.pngPixels("PNG is a format".getBytes("UTF-8")).isEmpty)
  }

  test("mediaNearDup pairs a BMP with its PNG re-encode as a perceptual duplicate") {
    import spark.implicits._
    def checker(x: Int, y: Int): Int =
      if (((x / 8) + (y / 8)) % 2 == 0) 30 else 225
    val media = Seq(
      (1L, "image", bmpPattern(64, 64, checker)),
      (2L, "image", pngPattern(64, 64, checker)),          // re-encode
      (3L, "image", bmpPattern(64, 64, (x, _) => if (x < 32) 0 else 255)),
      (4L, "image", "not an image at all".getBytes("UTF-8")))
      .toDF("media_id", "media_type", "content")
    val pairs = Multimodal.mediaNearDupOf(media, maxHamming = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getBoolean(3)))
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 0 && p._4),
      s"BMP/PNG re-encode must pair at Hamming 0; got ${pairs.toSeq}")
    assert(!pairs.exists(p => p._2 == 3L || p._1 == 3L),
      "different content must not pair")
  }

  test("stubSimHash60 is bit-identical to the SQL shingle-vote formulation") {
    import spark.implicits._
    // The distributed formulation the row-local kernel replaced (r13):
    // decode → per-position explode → distinct 4-grams → sha-60 → 60
    // vote aggregates. Rebuilt here as the differential oracle over the
    // LIVE corpus payloads plus planted edges (empty, shorter than one
    // shingle, supplementary code points, shingle repeats) — one
    // diverging bit on any payload fails the map compare.
    val corpus = Multimodal.mediaTable(spark, sf)
      .select(col("media_id"), col("content"))
    val planted = Seq(
      (90001L, ""), (90002L, "ab"), (90003L, "abcd"),
      (90004L, "a😀b😀cdef"), (90005L, "😀"),
      (90006L, "xyxyxyxyxyxyxyxy"), // every shingle repeats
      (90007L, "héllo wörld héllo wörld"))
      .toDF("media_id", "__s")
      .select(col("media_id"), encode(col("__s"), "UTF-8").as("content"))
    val media = corpus.unionByName(planted)
    val shingles = media
      .select(col("media_id"),
        org.apache.spark.sql.functions.decode(col("content"), "UTF-8")
          .as("__t"))
      .select(col("media_id"),
        explode(expr("sequence(1, greatest(length(__t) - 3, 1))")).as("__p"),
        col("__t"))
      .select(col("media_id"), expr("substring(__t, __p, 4)").as("sh"))
      .distinct()
      .withColumn("__h",
        conv(substring(sha2(col("sh"), 256), 1, 15), 16, 10).cast("long"))
    val votes = (0 until 60).map { j =>
      sum(when(shiftright(col("__h"), j).bitwiseAND(lit(1L)) === 1L, 1L)
        .otherwise(-1L)).as(s"__v$j")
    }
    val bits = (0 until 60).map { j =>
      when(col(s"__v$j") > 0, shiftleft(lit(1L), j)).otherwise(lit(0L))
    }.reduce(_ + _)
    val expected = shingles.groupBy(col("media_id")).agg(votes.head, votes.tail: _*)
      .select(col("media_id"), bits.as("phash"))
      .as[(Long, Long)].collect().toMap
    val actual = media.select("media_id", "content").collect()
      .map(r => r.getLong(0) ->
        Multimodal.stubSimHash60(r.getAs[Array[Byte]](1))).toMap
    assert(actual.size === expected.size)
    assert(actual === expected)
  }

  test("oracle-corpus payloads derive ONLY stub signatures (the media-twin invariant)") {
    // the DuckDB media twins rebuild every signature with the stub
    // formula and cap candidate buckets without an is_perceptual
    // discriminator (ADVICE r12) — sound exactly because text-byte
    // payloads are never claimed by a container decoder. Pin it: one
    // decodable payload in the fixture corpus fails here (and would
    // break the media_signatures hash at the driver's SFs).
    val sigs = Multimodal.mediaSignatures(spark, sf)
    assert(sigs.filter(col("is_perceptual")).count() === 0L,
      "a fixture payload decoded as real media — the media twins' " +
        "stub-only assumption no longer holds")
  }

  test("stubSimHash60 is total on invalid UTF-8 (the SQL form threw)") {
    // replacement-decode semantics: hostile bytes hash deterministically
    val hostile = Array[Byte](0x80.toByte, 0x41, 0xC3.toByte, 0x28)
    assert(Multimodal.stubSimHash60(hostile) ===
      Multimodal.stubSimHash60(hostile.clone()))
    assert(Multimodal.stubSimHash60(hostile) >= 0L)
  }

  /** A real GIF encoded by javax.imageio from the pattern — exercises a
    * PRODUCTION LZW encoder against our decoder, not a hand-rolled one.
    */
  private def gifPattern(w: Int, h: Int, gray: (Int, Int) => Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val g = gray(x, y) & 0xFF
      img.setRGB(x, y, (g << 16) | (g << 8) | g)
    }
    val out = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "gif", out))
    out.toByteArray
  }

  test("gifPixels LZW-decodes ImageIO-encoded GIFs; pHash matches BMP cross-format") {
    def grad(x: Int, y: Int): Int = (x * 5 + y * 11) % 2 * 200 + 20
    val gif = gifPattern(48, 30, grad)
    val (w, h, rgb) = Multimodal.gifPixels(gif).get
    assert(w === 48 && h === 30)
    // pixel-exact round trip through a production encoder (grayscale
    // values land verbatim in the color table)
    for (y <- 0 until h; x <- 0 until w) {
      val p = (y * w + x) * 3
      assert((rgb(p) & 0xFF) === grad(x, y), s"pixel ($x,$y)")
      assert(rgb(p + 1) === rgb(p) && rgb(p + 2) === rgb(p))
    }
    // cross-format perceptual identity with BMP (third format now) — on
    // a vertically ASYMMETRIC pattern, so the bottom-up BMP row order
    // must actually be un-flipped (a file-order hash would come out
    // mirrored and fail here)
    def topBottom(x: Int, y: Int): Int = if (y < 20) 0 else 255
    val viaGif = Multimodal.gifPHash(gifPattern(64, 64, topBottom)).get
    val viaBmp = Multimodal.bmpPHash(bmpPattern(64, 64, topBottom)).get
    val viaPngA = Multimodal.pngPHash(pngPattern(64, 64, topBottom)).get
    assert(viaGif === viaBmp && viaPngA === viaBmp,
      "block-mean hash must be format-invariant on asymmetric content")
    // ImageIO cross-check: our BMP builder + decoder agree with a
    // production decoder on the SAME image
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(bmpPattern(64, 64, topBottom)))
    assert((img.getRGB(0, 0) & 0xFF) === 0 && (img.getRGB(0, 63) & 0xFF) === 255,
      "bmpPattern must paint image coordinates per a production decoder")
    // hostile payloads refuse: truncated stream, bare header, text
    assert(Multimodal.gifPixels(gif.dropRight(20)).isEmpty)
    assert(Multimodal.gifPixels(gifBytes(320, 200)).isEmpty) // no frame
    assert(Multimodal.gifPixels("GIF89a la la".getBytes("UTF-8")).isEmpty)
    // a BMP, its PNG re-encode AND its GIF re-encode all pair at
    // Hamming 0 through the registered machinery
    import spark.implicits._
    def checker(x: Int, y: Int): Int =
      if (((x / 8) + (y / 8)) % 2 == 0) 30 else 225
    val media = Seq(
      (1L, "image", bmpPattern(64, 64, checker)),
      (2L, "image", pngPattern(64, 64, checker)),
      (3L, "image", gifPattern(64, 64, checker)))
      .toDF("media_id", "media_type", "content")
    val pairs = Multimodal.mediaNearDupOf(media, maxHamming = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getBoolean(3)))
      .toSet
    assert(pairs === Set((1L, 2L, 0, true), (1L, 3L, 0, true),
      (2L, 3L, 0, true)), s"got $pairs")
  }

  /** A real JPEG encoded by javax.imageio from the pattern — a PRODUCTION
    * baseline encoder (DQT/DHT/SOF0/SOS, 4:2:0 for RGB, single-component
    * for grayscale) against our T.81 decoder.
    */
  private def jpegPattern(
      w: Int, h: Int, gray: (Int, Int) => Int,
      grayscale: Boolean = false): Array[Byte] = {
    val typ =
      if (grayscale) java.awt.image.BufferedImage.TYPE_BYTE_GRAY
      else java.awt.image.BufferedImage.TYPE_INT_RGB
    val img = new java.awt.image.BufferedImage(w, h, typ)
    for (y <- 0 until h; x <- 0 until w) {
      val g = gray(x, y) & 0xFF
      img.setRGB(x, y, (g << 16) | (g << 8) | g)
    }
    val out = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "jpg", out))
    out.toByteArray
  }

  test("jpegLuma decodes baseline ImageIO JPEGs; pHash pairs cross-format") {
    // sample-level conformance: our Y plane vs a production decoder's
    // luma of the SAME grayscale JPEG (two conforming IDCTs may differ
    // by a couple of levels per sample, never more)
    def grad(x: Int, y: Int): Int = math.min(255, x * 3 + y * 2)
    val gjpg = jpegPattern(40, 24, grad, grayscale = true)
    val (w, h, yPlane) = Multimodal.jpegLuma(gjpg).get
    assert(w === 40 && h === 24)
    val ref = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(gjpg))
    var maxDiff = 0; var sumDiff = 0L
    for (y <- 0 until h; x <- 0 until w) {
      val ours = yPlane(y * w + x) & 0xFF
      // raster sample, NOT getRGB: getRGB would run the linear-gray →
      // sRGB color transform and skew every level
      val theirs = ref.getRaster.getSample(x, y, 0)
      val d = math.abs(ours - theirs)
      maxDiff = math.max(maxDiff, d); sumDiff += d
    }
    assert(maxDiff <= 4, s"max per-sample decoder divergence $maxDiff")
    assert(sumDiff.toDouble / (w * h) <= 1.0,
      s"mean decoder divergence ${sumDiff.toDouble / (w * h)}")
    // non-square dims at 4:2:0 (41×27 forces MCU edge padding + crop)
    val odd = jpegPattern(41, 27, grad)
    val (ow, oh, _) = Multimodal.jpegLuma(odd).get
    assert(ow === 41 && oh === 27)
    // cross-format perceptual identity on asymmetric content: the JPEG
    // re-encode (lossy, 4:2:0 COLOR path — interleaved 6-block MCUs)
    // must land within a few bits of the lossless formats
    def topBottom(x: Int, y: Int): Int = if (y < 20) 0 else 255
    val viaJpeg = Multimodal.jpegPHash(jpegPattern(64, 64, topBottom)).get
    val viaBmp = Multimodal.bmpPHash(bmpPattern(64, 64, topBottom)).get
    assert(hamming(viaJpeg, viaBmp) <= 4,
      s"JPEG re-encode drifted ${hamming(viaJpeg, viaBmp)} bits from BMP")
    // a BMP and its JPEG re-encode pair as perceptual near-dups through
    // the registered machinery (the round-9 'What's missing' closure)
    import spark.implicits._
    def checker(x: Int, y: Int): Int =
      if (((x / 8) + (y / 8)) % 2 == 0) 30 else 225
    val media = Seq(
      (1L, "image", bmpPattern(64, 64, checker)),
      (2L, "image", jpegPattern(64, 64, checker)))
      .toDF("media_id", "media_type", "content")
    val pairs = Multimodal.mediaNearDupOf(media, maxHamming = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(3)))
    assert(pairs.toSeq === Seq((1L, 2L, true)),
      s"BMP and its JPEG re-encode must pair perceptually, got ${pairs.toSeq}")
    // hostile/unsupported payloads refuse — the documented stub path:
    // a headers-only SOF2 stream (progressive is now decoded for real,
    // but this one carries no DHT/scan data), scan with no entropy data,
    // truncation mid-scan, plain text with a JPEG-y prefix
    assert(Multimodal.jpegLuma(jpegBytes(19, 7, sofMarker = 0xC2)).isEmpty)
    assert(Multimodal.jpegLuma(jpegBytes(16, 16)).isEmpty) // no DHT/data
    assert(Multimodal.jpegLuma(gjpg.dropRight(30)).isEmpty)
    assert(Multimodal.jpegLuma(Array(0xFF, 0xD8).map(_.toByte) ++
      "not a jpeg".getBytes("UTF-8")).isEmpty)
  }

  test("jpegPixels full-RGB decode; hand-built DRI stream exercises restart resync") {
    // COLOR fidelity: a smooth color gradient through ImageIO's 4:2:0
    // encoder — our nearest-neighbor chroma upsample vs libjpeg's
    // triangle filter differ most at chroma edges, so smooth content
    // bounds the decoder itself
    val w = 48; val h = 32
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w)
      img.setRGB(x, y, ((x * 4) << 16) | ((y * 6) << 8) | 128)
    val out = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "jpg", out))
    val jpg = out.toByteArray
    val (dw, dh, rgb) = Multimodal.jpegPixels(jpg).get
    assert(dw === w && dh === h)
    val ref = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(jpg))
    var sum = 0L; var maxD = 0
    for (y <- 0 until h; x <- 0 until w; c <- 0 until 3) {
      val ours = rgb((y * w + x) * 3 + c) & 0xFF
      val theirs = (ref.getRGB(x, y) >> (16 - 8 * c)) & 0xFF
      val d = math.abs(ours - theirs)
      sum += d; maxD = math.max(maxD, d)
    }
    assert(maxD <= 24, s"max channel divergence $maxD (upsample filters differ)")
    assert(sum.toDouble / (w * h * 3) <= 3.0,
      s"mean channel divergence ${sum.toDouble / (w * h * 3)}")
    // features: channel means off the full decode match ImageIO's means
    val fs = Multimodal.jpegFeatures(jpg, 16).get
    var mr = 0L; var mg = 0L; var mb = 0L
    for (y <- 0 until h; x <- 0 until w) {
      val p = ref.getRGB(x, y)
      mr += (p >> 16) & 0xFF; mg += (p >> 8) & 0xFF; mb += p & 0xFF
    }
    val n = (w * h).toDouble
    assert(math.abs(fs(0) - mr / n / 256.0) < 0.02, "mean R")
    assert(math.abs(fs(1) - mg / n / 256.0) < 0.02, "mean G")
    assert(math.abs(fs(2) - mb / n / 256.0) < 0.02, "mean B")

    // HAND-BUILT baseline stream: 16×8 single-component, DC-only blocks,
    // 16-bit DQT, DRI=1 with an RST0 between the two MCUs — the restart
    // resync AND the DC-predictor reset are both load-bearing (without
    // the reset MCU1 decodes 136, not 132)
    def seg(marker: Int, payload: Array[Byte]): Array[Byte] =
      Array(0xFF.toByte, marker.toByte,
        (((payload.length + 2) >> 8) & 0xFF).toByte,
        ((payload.length + 2) & 0xFF).toByte) ++ payload
    val dqt16 = seg(0xDB,
      Array(0x10.toByte) ++ Array.fill(64)(Array(0x00, 0x01)).flatten
        .map(_.toByte))
    val sof = seg(0xC0, Array[Byte](8, 0, 8, 0, 16, 1, 1, 0x11, 0))
    val dhtDc = seg(0xC4, Array[Byte](0x00, 1) ++ Array.fill[Byte](15)(0)
      ++ Array[Byte](6))
    val dhtAc = seg(0xC4, Array[Byte](0x10, 1) ++ Array.fill[Byte](15)(0)
      ++ Array[Byte](0))
    val dri = seg(0xDD, Array[Byte](0, 1))
    val sos = seg(0xDA, Array[Byte](1, 1, 0x00, 0, 63, 0))
    val stream = Array(0xFF, 0xD8).map(_.toByte) ++ dqt16 ++ sof ++
      dhtDc ++ dhtAc ++ dri ++ sos ++
      Array(0x40, 0xFF, 0xD0, 0x40, 0xFF, 0xD9).map(_.toByte)
    val (lw, lh, plane) = Multimodal.jpegLuma(stream).get
    assert(lw === 16 && lh === 8)
    assert(plane.forall(b => (b & 0xFF) === 132),
      s"DC-only blocks must decode flat 132 on BOTH sides of the RST " +
        s"(got ${plane.map(_ & 0xFF).distinct.mkString(",")})")
    // a wrong restart-marker number must bail to the stub path
    val broken = stream.clone()
    broken(stream.length - 4) = 0xD3.toByte // RST3 where RST0 expected
    assert(Multimodal.jpegLuma(broken).isEmpty)
  }

  test("jpeg hostile-byte guards: len-2 SOS bounds, Adobe APP14 RGB, RGB component ids") {
    def seg(marker: Int, payload: Array[Byte]): Array[Byte] =
      Array(0xFF.toByte, marker.toByte,
        (((payload.length + 2) >> 8) & 0xFF).toByte,
        ((payload.length + 2) & 0xFF).toByte) ++ payload
    // 1) a len==2 SOS (empty payload) as the LAST segment after a valid
    //    SOF: seg == segEnd == bytes.length — must take the stub path,
    //    never an ArrayIndexOutOfBounds escaping to the executor
    val dqt = seg(0xDB, Array.fill[Byte](65)(1))
    val sof1 = seg(0xC0, Array[Byte](8, 0, 8, 0, 8, 1, 1, 0x11, 0))
    val emptySos = Array(0xFF.toByte, 0xDA.toByte, 0x00.toByte, 0x02.toByte)
    assert(Multimodal.jpegLuma(
      Array(0xFF, 0xD8).map(_.toByte) ++ dqt ++ sof1 ++ emptySos).isEmpty)
    // 2) Adobe APP14 transform=0 (RGB-coded 3-component): the JFIF
    //    YCbCr→RGB matrix would be wrong — splice APP14 into a real
    //    ImageIO color JPEG and require the stub path, while the
    //    unspliced original still decodes
    val img = new java.awt.image.BufferedImage(
      16, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 16; x <- 0 until 16) img.setRGB(x, y, 0x6090C0)
    val out = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "jpg", out))
    val jpg = out.toByteArray
    assert(Multimodal.jpegPixels(jpg).nonEmpty)
    val app14 = seg(0xEE, "Adobe".getBytes("US-ASCII") ++
      Array[Byte](0, 100, 0, 0, 0, 0, 0)) // version+flags, transform=0
    val spliced = jpg.take(2) ++ app14 ++ jpg.drop(2)
    assert(Multimodal.jpegPixels(spliced).isEmpty,
      "APP14 transform=0 (RGB-coded) must refuse, not decode wrong colors")
    // transform=1 (YCbCr, the common Adobe case) must still decode
    val app14Ycc = seg(0xEE, "Adobe".getBytes("US-ASCII") ++
      Array[Byte](0, 100, 0, 0, 0, 0, 1))
    assert(Multimodal.jpegPixels(jpg.take(2) ++ app14Ycc ++ jpg.drop(2))
      .nonEmpty)
    // PADDED APP14 (payload > 12 bytes): the transform lives at the
    // fixed spec offset, not the segment's last byte — trailing padding
    // of 0 must not misread a YCbCr file as RGB-coded (and vice versa)
    val app14YccPad = seg(0xEE, "Adobe".getBytes("US-ASCII") ++
      Array[Byte](0, 100, 0, 0, 0, 0, 1, 0, 0, 0))
    assert(Multimodal.jpegPixels(jpg.take(2) ++ app14YccPad ++ jpg.drop(2))
      .nonEmpty, "padded APP14 transform=1 must still decode")
    val app14RgbPad = seg(0xEE, "Adobe".getBytes("US-ASCII") ++
      Array[Byte](0, 100, 0, 0, 0, 0, 0, 1, 1, 1))
    assert(Multimodal.jpegPixels(jpg.take(2) ++ app14RgbPad ++ jpg.drop(2))
      .isEmpty, "padded APP14 transform=0 must still refuse")
    // 3) SOF component ids 'R','G','B' without APP14 — same refusal
    val sofRgb = seg(0xC0, Array[Byte](8, 0, 8, 0, 8, 3,
      'R', 0x11, 0, 'G', 0x11, 0, 'B', 0x11, 0))
    val sosRgb = seg(0xDA, Array[Byte](3, 'R', 0, 'G', 0, 'B', 0, 0, 63, 0))
    assert(Multimodal.jpegPixels(
      Array(0xFF, 0xD8).map(_.toByte) ++ dqt ++ sofRgb ++ sosRgb).isEmpty)
  }

  /** A PROGRESSIVE JPEG encoded by javax.imageio — the JDK writer emits
    * a real SOF2 multi-scan script (interleaved DC first, per-component
    * spectral-selection AC scans, successive-approximation refinements)
    * when progressive mode is requested: a production progressive
    * encoder against our T.81 §G decoder.
    */
  private def jpegProgressive(
      w: Int, h: Int, rgb: (Int, Int) => Int,
      grayscale: Boolean = false): Array[Byte] = {
    val typ =
      if (grayscale) java.awt.image.BufferedImage.TYPE_BYTE_GRAY
      else java.awt.image.BufferedImage.TYPE_INT_RGB
    val img = new java.awt.image.BufferedImage(w, h, typ)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb(x, y))
    val writer =
      javax.imageio.ImageIO.getImageWritersByFormatName("jpg").next()
    val param = writer.getDefaultWriteParam
    param.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT)
    val out = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(out)
    writer.setOutput(ios)
    writer.write(null, new javax.imageio.IIOImage(img, null, null), param)
    ios.close(); writer.dispose()
    out.toByteArray
  }

  /** True iff the stream's FRAME HEADER is SOF2 (checked by segment
    * walk up to the first scan — raw byte search could hit entropy data).
    */
  private def isSof2(jpg: Array[Byte]): Boolean = {
    var o = 2
    while (o + 4 <= jpg.length) {
      val m = jpg(o + 1) & 0xFF
      if (m == 0xC2) return true
      if (m == 0xDA || (m >= 0xC0 && m <= 0xC1)) return false
      o += 2 + (((jpg(o + 2) & 0xFF) << 8) | (jpg(o + 3) & 0xFF))
    }
    false
  }

  test("progressive JPEG (SOF2): full §G decode matches ImageIO; pairs cross-format") {
    // the JDK writer must actually emit a progressive frame, or this
    // test is vacuous
    val w = 48; val h = 32
    val jpg = jpegProgressive(w, h,
      (x, y) => ((x * 4) << 16) | ((y * 6) << 8) | 128)
    assert(isSof2(jpg), "ImageIO progressive mode must emit SOF2")
    // color conformance: same divergence bounds as the baseline test
    // (nearest-neighbor vs triangle chroma upsample differences only)
    val (dw, dh, rgb) = Multimodal.jpegPixels(jpg).get
    assert(dw === w && dh === h)
    val ref = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(jpg))
    var sum = 0L; var maxD = 0
    for (y <- 0 until h; x <- 0 until w; c <- 0 until 3) {
      val ours = rgb((y * w + x) * 3 + c) & 0xFF
      val theirs = (ref.getRGB(x, y) >> (16 - 8 * c)) & 0xFF
      val d = math.abs(ours - theirs)
      sum += d; maxD = math.max(maxD, d)
    }
    assert(maxD <= 24, s"max channel divergence $maxD")
    assert(sum.toDouble / (w * h * 3) <= 3.0,
      s"mean channel divergence ${sum.toDouble / (w * h * 3)}")
    // grayscale progressive (single component, AC scans non-interleaved)
    val grad = (x: Int, y: Int) => { val g = (x * 5 + y * 3) & 0xFF
      (g << 16) | (g << 8) | g }
    val gjpg = jpegProgressive(40, 24, grad, grayscale = true)
    assert(isSof2(gjpg))
    val (gw, gh, yPlane) = Multimodal.jpegLuma(gjpg).get
    val gref = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(gjpg))
    var gmax = 0
    for (y <- 0 until gh; x <- 0 until gw) {
      // raster sample, NOT getRGB (linear-gray → sRGB would skew levels)
      val d = math.abs((yPlane(y * gw + x) & 0xFF) -
        gref.getRaster.getSample(x, y, 0))
      gmax = math.max(gmax, d)
    }
    assert(gmax <= 4,
      s"grayscale progressive luma diverged $gmax from ImageIO")
    // cross-format perceptual identity: a progressive re-encode pairs
    // with the BMP source at low Hamming, like the baseline path
    val topBottom = (x: Int, y: Int) => if (y < 32) 230 else 25
    val pj = jpegProgressive(64, 64,
      (x, y) => { val g = topBottom(x, y); (g << 16) | (g << 8) | g })
    val viaProg = Multimodal.jpegPHash(pj).get
    val viaBmp = Multimodal.bmpPHash(bmpPattern(64, 64, topBottom)).get
    assert(hamming(viaProg, viaBmp) <= 4,
      s"progressive re-encode drifted ${hamming(viaProg, viaBmp)} bits")
    // ...and through the registered dedup machinery, like the baseline
    // closure: a BMP and its PROGRESSIVE re-encode pair perceptually
    import spark.implicits._
    def checker(x: Int, y: Int): Int =
      if (((x / 8) + (y / 8)) % 2 == 0) 30 else 225
    val media = Seq(
      (1L, "image", bmpPattern(64, 64, checker)),
      (2L, "image", jpegProgressive(64, 64,
        (x, y) => { val g = checker(x, y); (g << 16) | (g << 8) | g })))
      .toDF("media_id", "media_type", "content")
    val mPairs = Multimodal.mediaNearDupOf(media, maxHamming = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(3)))
    assert(mPairs.toSeq === Seq((1L, 2L, true)),
      s"BMP and its progressive re-encode must pair, got ${mPairs.toSeq}")
    // malformed: truncation mid-scan and EOI-less streams take the
    // stub path (None), never a throw
    assert(Multimodal.jpegPixels(jpg.dropRight(20)).isEmpty)
    assert(Multimodal.jpegPixels(jpg.dropRight(2)).isEmpty,
      "a progressive stream without EOI must not decode")
    assert(Multimodal.jpegLuma(gjpg.take(gjpg.length / 2)).isEmpty)
  }

  test("jpeg scan-walker fuzzer: mutated SOF2 streams never throw; a second SOF is malformed") {
    val w = 48; val h = 32
    val jpg = jpegProgressive(w, h,
      (x, y) => ((x * 4) << 16) | ((y * 6) << 8) | 128)
    assert(isSof2(jpg))
    // double SOF (ADVICE r11): T.81 allows ONE frame per image — a
    // second SOF2 after progressive scans have decoded must take the
    // documented None stub path, never return all-gray planes
    val sofSeg: Array[Byte] = {
      var o = 2; var res: Array[Byte] = null
      while (res == null && o + 4 <= jpg.length) {
        val m = jpg(o + 1) & 0xFF
        val len = ((jpg(o + 2) & 0xFF) << 8) | (jpg(o + 3) & 0xFF)
        if (m == 0xC2) res = jpg.slice(o, o + 2 + len)
        else o += 2 + len
      }
      res
    }
    assert(sofSeg != null)
    val doubled = jpg.dropRight(2) ++ sofSeg ++ jpg.takeRight(2)
    assert(Multimodal.jpegPixels(doubled).isEmpty,
      "a second SOF after progressive scans must be malformed (None)")
    assert(Multimodal.jpegLuma(doubled).isEmpty)
    // fuzz over untrusted bytes: every mutation of a valid progressive
    // stream — truncation, bit flip, byte splice — must yield Some or
    // None, NEVER an executor-killing throw (the 100 TB media-ingest
    // insurance; deterministic seed so a failure reproduces)
    val rnd = new scala.util.Random(0xA11CE)
    val fuzzN = sys.env.get("GRAFT_FUZZ_N").flatMap(_.toIntOption)
      .getOrElse(300) // CI default; deep soak via GRAFT_FUZZ_N
    for (i <- 0 until fuzzN) {
      val mutated: Array[Byte] =
        if (i % 3 == 0) jpg.take(2 + rnd.nextInt(jpg.length - 1))
        else if (i % 3 == 1) {
          val b = jpg.clone
          val p = rnd.nextInt(b.length)
          b(p) = (b(p) ^ (1 << rnd.nextInt(8))).toByte
          b
        } else {
          val b = jpg.clone
          b(2 + rnd.nextInt(b.length - 2)) = rnd.nextInt(256).toByte
          b
        }
      try { Multimodal.jpegPixels(mutated); () }
      catch {
        case e: Throwable =>
          fail(s"fuzz case $i (mode ${i % 3}) threw: $e at " +
            e.getStackTrace.take(4).mkString(" <- "))
      }
    }
  }

  test("container fuzzer: mutated BMP/PNG/GIF/WAV/MP4 streams never throw") {
    // same insurance as the JPEG scan-walker fuzzer, over every other
    // from-scratch container/pixel decoder the 100 TB media ingest runs
    // on untrusted bytes: any mutation of a valid stream — truncation,
    // bit flip, byte splice — must yield Some or None, never a throw.
    // (The JPEG fuzzer caught a real OOB on its first run; this pins
    // the rest of the family at the same bar.) Deterministic seed.
    val grad = (x: Int, y: Int) => (x * 5 + y * 3) & 0xFF
    val subjects: Seq[(String, Array[Byte], Array[Byte] => Unit)] = Seq(
      ("bmp", bmpPattern(40, 24, grad),
        (b: Array[Byte]) => { Multimodal.bmpPHash(b); () }),
      ("png", pngPattern(40, 24, grad),
        (b: Array[Byte]) => { Multimodal.pngPHash(b); () }),
      ("gif", gifPattern(40, 24, grad),
        (b: Array[Byte]) => { Multimodal.gifPHash(b); () }),
      ("wav", wavPcm((0 until 2048).map(i => (i * 37) % 9000 - 4500)),
        (b: Array[Byte]) => { Multimodal.pcmPHash(b); () }),
      ("mp4", mp4Bytes(640, 360, 42000L),
        (b: Array[Byte]) => { Multimodal.mp4Info(b); () }),
      // the shared dims walker sees every image format too
      ("dims", pngPattern(40, 24, grad),
        (b: Array[Byte]) => { Multimodal.parseDims("image", b); () }))
    val rnd = new scala.util.Random(0xFACADE)
    val fuzzN = sys.env.get("GRAFT_FUZZ_N").flatMap(_.toIntOption)
      .getOrElse(200) // per format; deep soak via GRAFT_FUZZ_N
    for ((name, valid, decode) <- subjects; i <- 0 until fuzzN) {
      val mutated: Array[Byte] =
        if (i % 3 == 0) valid.take(1 + rnd.nextInt(valid.length))
        else if (i % 3 == 1) {
          val b = valid.clone
          val p = rnd.nextInt(b.length)
          b(p) = (b(p) ^ (1 << rnd.nextInt(8))).toByte
          b
        } else {
          val b = valid.clone
          b(rnd.nextInt(b.length)) = rnd.nextInt(256).toByte
          b
        }
      try { decode(mutated); () }
      catch {
        case e: Throwable =>
          fail(s"$name fuzz case $i (mode ${i % 3}) threw: $e at " +
            e.getStackTrace.take(4).mkString(" <- "))
      }
    }
  }

  test("pcmPHash: volume-invariant, corruption-tolerant, content-sensitive audio fingerprint") {
    // deterministic pseudo-waveform with distinct per-window energies
    def wave(n: Int, seed: Int): Seq[Int] =
      (0 until n).map(i => (((i * 2654435761L + seed * 40503L) >> 7)
        % 20000L).toInt - 10000)
    val base = wave(4096, 1)
    val ph = Multimodal.pcmPHash(wavPcm(base)).get
    // uniform gain change preserves every energy-delta sign exactly
    val quieter = base.map(_ / 2)
    assert(Multimodal.pcmPHash(wavPcm(quieter)).get === ph ||
      java.lang.Long.bitCount(
        Multimodal.pcmPHash(wavPcm(quieter)).get ^ ph) <= 4,
      "volume scaling must preserve (almost) every delta sign")
    // corrupting one 64-sample window moves at most 2 bits
    val corrupted = base.zipWithIndex.map { case (s, i) =>
      if (i < 64) 0 else s }
    val dCorrupt = java.lang.Long.bitCount(
      Multimodal.pcmPHash(wavPcm(corrupted)).get ^ ph)
    assert(dCorrupt <= 4, s"local corruption moved $dCorrupt bits")
    // a different waveform is far
    val other = Multimodal.pcmPHash(wavPcm(wave(4096, 99))).get
    assert(java.lang.Long.bitCount(other ^ ph) > 16)
    // too short / non-PCM refuse
    assert(Multimodal.pcmPHash(wavPcm(base.take(100))).isEmpty)
    assert(Multimodal.pcmPHash("RIFF raff".getBytes("UTF-8")).isEmpty)
    // mediaNearDup pairs the re-gained copy as a perceptual duplicate
    import spark.implicits._
    val media = Seq(
      (1L, "audio", wavPcm(base)),
      (2L, "audio", wavPcm(quieter)),
      (3L, "audio", wavPcm(wave(4096, 99))),
      (4L, "audio", "no audio header".getBytes("UTF-8")))
      .toDF("media_id", "media_type", "content")
    val pairs = Multimodal.mediaNearDupOf(media, maxHamming = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(3)))
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3),
      s"re-gained audio must pair perceptually; got ${pairs.toSeq}")
    assert(!pairs.exists(p => p._2 == 3L),
      "different waveform must not pair")
  }

  test("mediaNearDup finds planted perceptual near-duplicates with full recall") {
    import spark.implicits._
    def leftRight(w: Int): (Int, Int) => Int =
      (x, _) => if (x < w / 2) 0 else 255
    // 4 planted (base, near-twin) image pairs + unrelated images + text
    // stand-ins; twins differ by one corrupted grid cell
    def withNoise(w: Int, h: Int, f: (Int, Int) => Int): (Int, Int) => Int =
      (x, y) => if (x < w / 8 && y < h / 8) 255 - f(x, y) else f(x, y)
    val patterns: Seq[(Int, Int) => Int] = Seq(
      leftRight(64),
      (_, y) => if (y < 32) 0 else 255,
      (x, y) => if (((x / 8) + (y / 8)) % 2 == 0) 40 else 220,
      (x, y) => if (x < 32 && y < 32) 230 else 20)
    val rows = patterns.zipWithIndex.flatMap { case (f, i) =>
      Seq(
        (i * 10L, "image", bmpPattern(64, 64, f)),
        (i * 10L + 1L, "image", bmpPattern(64, 64, withNoise(64, 64, f))))
    } ++ Seq(
      (900L, "image", bmpPattern(64, 64, (x, y) => (x * 4 + y * 2) % 256)),
      (901L, "image", "no bmp header at all".getBytes("UTF-8")),
      (902L, "audio", "some audio stand-in text".getBytes("UTF-8")))
    val media = rows.toDF("media_id", "media_type", "content")
    val pairs = Multimodal.mediaNearDupOf(media, maxHamming = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getBoolean(3)))
    val found = pairs.map(p => (p._1, p._2)).toSet
    // full recall on the planted twins, flagged perceptual
    patterns.indices.foreach { i =>
      assert(found.contains((i * 10L, i * 10L + 1L)),
        s"planted pair $i missed; found=$found")
    }
    pairs.filter(p => p._1 % 10 == 0 && p._2 == p._1 + 1).foreach { p =>
      assert(p._4 === true, s"planted pair $p must be perceptual")
      assert(p._3 >= 1 && p._3 <= 8)
    }
    // no cross-pattern false positives among the planted bases
    patterns.indices.combinations(2).foreach { c =>
      assert(!found.contains((c(0) * 10L, c(1) * 10L)),
        s"patterns ${c(0)} and ${c(1)} must not match")
    }
    ()
  }
}
