package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Round-8 retrieval/curation additions: asymmetric containment dedup,
  * hard-negative mining, and reciprocal-rank hybrid fusion. Each op is
  * hash-checked against its DuckDB twin by the driver; these specs pin
  * the semantics a twin can't express as sharply — the "Jaccard misses
  * it, containment catches it" separation, the near-dup exclusion band,
  * and the fused list being exactly the deterministic function of its
  * two legs.
  */
class RetrievalOpsSpec extends SparkSpec {

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  // ---------------------------------------------------------------- //
  // containment                                                       //
  // ---------------------------------------------------------------- //

  /** Driver reference of the operator's shingle definition: word 3-grams
    * from the whitespace-lowercase token stream, tail positions yielding
    * 2/1-gram shingles (concat_ws skips the null leads), distinct per doc.
    */
  private def shingleSet(text: String): Set[String] = {
    val toks = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
    toks.indices.map { i =>
      toks.slice(i, math.min(i + 3, toks.length)).mkString(" ")
    }.toSet
  }

  test("containmentPairs finds planted subset duplication that Jaccard misses") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val vocab = (0 until 60).map(i => s"w$i")
    def doc(n: Int): String =
      Seq.fill(n)(vocab(rnd.nextInt(vocab.length))).mkString(" ")
    val big = doc(40)
    val smallInside = big.split(" ").take(20).mkString(" ")
    val docs = ((1L, big) +: (2L, smallInside) +:
      (10 until 22).map(i => (i.toLong, doc(10 + rnd.nextInt(20)))))
      .map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")

    val got = Dedup.containmentPairsOf(docs).collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getDouble(2), r.getDouble(3)))).toMap

    // brute-force reference over the same shingle definition (the small
    // corpus keeps every df far below the prefix cap → lossless here)
    val sets = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> shingleSet(r.getString(1))).toMap
    val ids = sets.keys.toSeq.sorted
    val expect = (for {
      a <- ids; b <- ids if a < b
      inter = (sets(a) & sets(b)).size.toDouble
      ca = inter / sets(a).size
      cb = inter / sets(b).size
      if math.max(ca, cb) >= 0.8
    } yield ((a, b), (round6(ca), round6(cb)))).toMap

    assert(got.keySet == expect.keySet)
    got.foreach { case (k, (ca, cb)) =>
      assert(math.abs(ca - expect(k)._1) < 1e-9)
      assert(math.abs(cb - expect(k)._2) < 1e-9)
    }

    // the planted pair IS found by containment...
    assert(got.contains((1L, 2L)))
    assert(got((1L, 2L))._2 >= 0.8) // small doc mostly inside the big one
    // ...and is structurally invisible to symmetric Jaccard at 0.5
    val jacc = (sets(1L) & sets(2L)).size.toDouble /
      (sets(1L) | sets(2L)).size
    assert(jacc < 0.5)
    val jaccPairs = Dedup.jaccardPrefixPairsOf(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!jaccPairs.contains((1L, 2L)))
  }

  test("shingle_stats artifact path equals the live path for both prefix consumers") {
    import spark.implicits._
    val dir = testDir("graft_test_shstats")
    val rnd = new scala.util.Random(23)
    val vocab = (0 until 40).map(i => s"v$i")
    def doc(n: Int): String =
      Seq.fill(n)(vocab(rnd.nextInt(vocab.length))).mkString(" ")
    val big = doc(36)
    val dup = big.replace("v1 ", "v2 ") // near-dup for the Jaccard side
    val inside = big.split(" ").take(18).mkString(" ")
    ((1L, big) +: (2L, dup) +: (3L, inside) +:
      (10 until 20).map(i => (i.toLong, doc(12 + rnd.nextInt(12)))))
      .map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val docs = spark.read.parquet(s"$dir/documents.parquet")

    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq
    assert(rows(Dedup.jaccardPrefixPairs(spark, dir)) ==
      rows(Dedup.jaccardPrefixPairsOf(docs)))
    assert(rows(Dedup.containmentPairs(spark, dir)) ==
      rows(Dedup.containmentPairsOf(docs)))
    // and both found their plants through the artifact path
    assert(Dedup.jaccardPrefixPairs(spark, dir).collect()
      .exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L))
    assert(Dedup.containmentPairs(spark, dir).collect()
      .exists(r => r.getLong(0) == 1L && r.getLong(1) == 3L))
  }

  // ---------------------------------------------------------------- //
  // hard negatives                                                    //
  // ---------------------------------------------------------------- //

  private val negDir = testDir("graft_test_hardneg")

  /** 30 float vectors, dim 8: positive random entries (cosines land in
    * the hard band), plus vec 22 planted parallel to anchor 9 (cosine
    * ≈ 1 — a positive that must be EXCLUDED from 9's negatives).
    */
  private def writeNegFixture(): Unit = {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val base = (0 until 30).map { i =>
      (i.toLong, Array.fill(8)(rnd.nextFloat()), i % 3)
    }
    val rows = base.map {
      case (22L, _, l) => (22L, base(9)._2.map(_ * 1.5f), l)
      case r => r
    }
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$negDir/embeddings.parquet")
  }

  /** The engine's exact float→double chain: dot accumulates widened
    * floats in index order; norms are sqrt of the self-dot.
    */
  private def dotFF(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }
  private def dotFD(a: Array[Float], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i).toDouble * b(i); i += 1 }
    s
  }

  test("hardNegatives matches a driver replay; near-dups and eval vectors excluded") {
    writeNegFixture()
    val vecs = spark.read.parquet(s"$negDir/embeddings.parquet")
      .collect().map(r => (r.getLong(0),
        r.getSeq[Float](1).toArray, r.getInt(2)))
      .sortBy(_._1)
    val norm = vecs.map { case (id, v, _) => id -> math.sqrt(dotFF(v, v)) }.toMap
    // seed cells: 16 lowest ids, normalized in double
    val seeds = vecs.take(16).map { case (id, v, _) =>
      v.map(_.toDouble / norm(id))
    }
    def cellOf(v: Array[Float], n: Double): Int =
      seeds.zipWithIndex.map { case (c, i) => (dotFD(v, c) / n, i) }
        .maxBy { case (s, i) => (s, -i) }._2
    val cell = vecs.map { case (id, v, _) => id -> cellOf(v, norm(id)) }.toMap

    val anchors = vecs.filter(_._1 % 10 == 9)
    val train = vecs.filter(_._1 % 10 != 9)
    val expect = anchors.flatMap { case (qid, qv, _) =>
      train.filter(t => cell(t._1) == cell(qid))
        .map { case (cid, cv, cl) =>
          (cid, cl, dotFF(qv, cv) / (norm(qid) * norm(cid)))
        }
        .filter { case (_, _, s) => s >= 0.2 && s < 0.95 }
        .sortBy { case (cid, _, s) => (-s, cid) }
        .take(3).zipWithIndex
        .map { case ((cid, cl, s), i) =>
          (qid, i + 1, cid, cl, round6(s))
        }
    }.sortBy(r => (r._1, r._2))

    val got = Similarity.hardNegatives(spark, negDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3),
        r.getDouble(4)))
    assert(got.toSeq == expect.toSeq)

    // the planted near-dup sits in the anchor's cell at cosine ≥ 0.95 —
    // a contaminant, never a negative
    assert(cell(22L) == cell(9L))
    assert(dotFF(vecs(9)._2, vecs(22)._2) / (norm(9L) * norm(22L)) >= 0.95)
    assert(!got.filter(_._1 == 9L).exists(_._3 == 22L))
    // negatives only ever come from the train split
    assert(got.forall(_._3 % 10 != 9))
  }

  // ---------------------------------------------------------------- //
  // reciprocal-rank fusion                                            //
  // ---------------------------------------------------------------- //

  test("rrfFusion is exactly the RRF of its bm25 and dense legs") {
    // lexical leg: the registered bm25 list, rank = (rounded score desc, id asc)
    val lex = Search.bm25(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(2)))
      .sortBy { case (id, s) => (-s, id) }
      .zipWithIndex.map { case ((id, _), i) => id -> (i + 1) }.toMap
    assert(lex.nonEmpty)
    val anchor = lex.minBy(_._2)._1

    // dense leg: brute cosine around the anchor embedding, engine chain
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val qv = vecs.find(_._1 == anchor).get._2
    val qn = math.sqrt(dotFF(qv, qv))
    val dense = vecs.filter(_._1 != anchor)
      .map { case (id, v) => (id, dotFF(qv, v) / (qn * math.sqrt(dotFF(v, v)))) }
      .sortBy { case (id, s) => (-s, id) }
      .take(20).zipWithIndex.map { case ((id, _), i) => id -> (i + 1) }.toMap

    val expect = (lex.keySet ++ dense.keySet).toSeq.map { id =>
      val lr = lex.getOrElse(id, 0)
      val dr = dense.getOrElse(id, 0)
      val score = (if (lr > 0) 1.0 / (60 + lr) else 0.0) +
        (if (dr > 0) 1.0 / (60 + dr) else 0.0)
      (id, lr, dr, round6(score))
    }.sortBy { case (id, _, _, s) => (-s, id) }

    val got = Search.rrfFusion(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getDouble(3)))
    assert(got.toSeq == expect)
    // every dual-presence doc beats any doc holding only one of its two
    // ranks — the fused score is strictly additive across modalities
    got.filter(r => r._2 > 0 && r._3 > 0).foreach { r =>
      assert(r._4 > round6(1.0 / (60 + r._2)) - 1e-9)
      assert(r._4 > round6(1.0 / (60 + r._3)) - 1e-9)
    }
  }

  // ---------------------------------------------------------------- //
  // retrieval metrics                                                 //
  // ---------------------------------------------------------------- //

  test("retrievalMetrics: hit counts agree with annRecall; MRR/AP bounded and consistent") {
    val m = Similarity.retrievalMetrics(spark, sf, Similarity.lshTopK).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(m.nonEmpty)
    val recall = Similarity.annRecall(spark, sf, Similarity.lshTopK).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    m.foreach { case (q, hits, mrr, ap) =>
      assert(hits == recall(q), s"probe $q: n_hits diverges from annRecall")
      assert(mrr >= 0.0 && mrr <= 1.0)
      assert(ap >= 0.0 && ap <= 1.0)
      // AP can only reach 1 when every retrieved rank is a hit from the
      // top — which forces MRR = 1; zero hits force both to 0
      if (ap == 1.0) assert(mrr == 1.0)
      if (hits == 0L) assert(mrr == 0.0 && ap == 0.0)
      if (hits > 0L) assert(mrr > 0.0 && ap > 0.0)
    }
  }

  // ---------------------------------------------------------------- //
  // winnowing                                                         //
  // ---------------------------------------------------------------- //

  /** The operator's twinnable hash: lowercase-hex sha-256, 15-char prefix. */
  private def sha15(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString.take(15)

  test("winnowing matches a brute-force replay and honors the window guarantee") {
    import spark.implicits._
    val k = 4; val w = 4
    val rnd = new scala.util.Random(5)
    val vocab = (0 until 30).map(i => s"t$i")
    def doc(n: Int): String =
      Seq.fill(n)(vocab(rnd.nextInt(vocab.length))).mkString(" ")
    // 12 shared tokens ≥ the w+k−1 = 7 guarantee threshold, with margin:
    // 9 shared grams ⇒ at least one full window inside the shared run
    val shared = doc(12)
    val d1 = doc(10) + " " + shared + " " + doc(8)
    val d2 = doc(5) + " " + shared + " " + doc(15)
    val dir = testDir("graft_test_winnow")
    ((1L, d1) +: (2L, d2) +:
      (10 until 18).map(i => (i.toLong, doc(20 + rnd.nextInt(10)))))
      .map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val docs = spark.read.parquet(s"$dir/documents.parquet")

    val sel = Dedup.winnowSelectedOf(docs, k, w).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))

    // brute-force replay: per window, min hash, rightmost on ties
    val expect = docs.select("doc_id", "text").collect().flatMap { r =>
      val id = r.getLong(0)
      val toks = r.getString(1).toLowerCase.split("\\s+").filter(_.nonEmpty)
      val grams = (0 to toks.length - k)
        .map(i => (i, sha15(toks.slice(i, i + k).mkString(" "))))
      ((w - 1) until grams.length).map { e =>
        val winRows = grams.slice(e - w + 1, e + 1)
        val m = winRows.map(_._2).min
        val pos = winRows.filter(_._2 == m).map(_._1).max
        (id, pos.toLong, m)
      }.distinct
    }.toSet
    assert(sel.toSet == expect)

    // the density guarantee on the engine's own output: consecutive
    // selected positions within a doc are never more than w grams apart
    sel.groupBy(_._1).foreach { case (_, rows) =>
      val ps = rows.map(_._2).distinct.sorted
      ps.zip(ps.drop(1)).foreach { case (a, b) =>
        assert(b - a <= w, s"selection gap $a→$b exceeds the window")
      }
    }

    // the planted ≥7-token overlap MUST surface as a shared fingerprint
    // pair (the winnowing detection guarantee), and the pair query finds it
    // minShared = 1: the guarantee promises ≥1 shared fp, not ≥2
    val pairs = Dedup.winnowPairs(spark, dir, k, w, minShared = 1L).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
  }
}
