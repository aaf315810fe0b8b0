package graft.ext

import graft.SparkSpec

class ContaminationSpec extends SparkSpec {
  import spark.implicits._

  private val dir = testDir("graft_test_contamination")

  private def writeDocs(rows: Seq[(Long, String)]): Unit =
    rows.map { case (id, text) => (id, text, "en", "s", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

  test("benchmarkOverlap flags exactly the docs sharing a 5-gram with the eval set") {
    writeDocs(Seq(
      // doc 0: eval set (0 % 13 == 0)
      0L -> "alpha beta gamma delta epsilon zeta",
      // doc 1: contains eval 5-gram "beta gamma delta epsilon zeta"
      1L -> "prefix beta gamma delta epsilon zeta suffix",
      // doc 2: shares words but no full 5-gram
      2L -> "alpha beta gamma delta other epsilon zeta",
      // doc 3: too short for any 5-gram — absent from the report
      3L -> "alpha beta gamma delta",
      // doc 13: eval set, never reported as training
      13L -> "one two three four five six"))
    val out = Contamination.benchmarkOverlap(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_grams"), r.getAs[Long]("n_contaminated"),
          r.getAs[Boolean]("contaminated")))).toMap
    assert(out.keySet === Set(1L, 2L))
    // doc 1: 3 distinct 5-grams; only "beta gamma delta epsilon zeta"
    // is also a full 5-gram of eval doc 0
    assert(out(1L) === ((3L, 1L, true)))
    assert(out(2L) === ((3L, 0L, false)))
  }

  test("benchmarkOverlap counts distinct grams once even when repeated") {
    writeDocs(Seq(
      0L -> "a b c d e",
      1L -> "a b c d e a b c d e")) // the eval gram occurs twice + wraparound grams
    val out = Contamination.benchmarkOverlap(spark, dir).collect()
    val r = out.find(_.getAs[Long]("doc_id") == 1L).get
    // doc 1 grams (distinct): "a b c d e", "b c d e a", "c d e a b",
    // "d e a b c", "e a b c d", "a b c d e"(dup) → 5 distinct, 1 contaminated
    assert(r.getAs[Long]("n_grams") === 5L)
    assert(r.getAs[Long]("n_contaminated") === 1L)
    assert(r.getAs[Boolean]("contaminated"))
  }

  test("attribution picks the eval doc sharing the most 5-grams, ties to lowest id") {
    writeDocs(Seq(
      // eval docs (id % 13 == 0)
      0L  -> "alpha beta gamma delta epsilon zeta eta",
      13L -> "alpha beta gamma delta epsilon theta iota",
      // doc 1 shares 2 grams with eval 0 ("alpha..epsilon", "beta..zeta")
      // and 1 with eval 13 ("alpha..epsilon") → attributed to 0
      1L -> "alpha beta gamma delta epsilon zeta",
      // doc 2 shares exactly 1 gram with each eval doc → tie → lowest id 0
      2L -> "alpha beta gamma delta epsilon",
      // doc 3 shares nothing → absent
      3L -> "one two three four five six seven"))
    val out = Contamination.attribution(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("eval_doc_id"), r.getAs[Long]("n_shared_grams")))).toMap
    assert(out.keySet === Set(1L, 2L))
    assert(out(1L) === ((0L, 2L)))
    assert(out(2L) === ((0L, 1L)))
  }

  test("attribution agrees with a brute-force argmax on the fixture corpus") {
    def grams(text: String): Set[String] = {
      val t = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
      (0 to t.length - 5).map(i => t.slice(i, i + 5).mkString(" ")).toSet
    }
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .selectExpr("doc_id", "text").collect()
      .map(r => r.getLong(0) -> grams(r.getString(1))).toMap
    val evalDocs = docs.filter(_._1 % 13 == 0)
    val expected = docs.filter(_._1 % 13 != 0).flatMap { case (id, gs) =>
      val shared = evalDocs.toSeq
        .map { case (eid, egs) => (eid, (gs & egs).size) }
        .filter(_._2 > 0)
      if (shared.isEmpty) None
      else Some(id -> shared.minBy { case (eid, n) => (-n, eid) })
    }
    val out = Contamination.attribution(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("eval_doc_id"), r.getAs[Long]("n_shared_grams")))).toMap
    assert(out === expected.map { case (id, (eid, n)) => id -> ((eid, n.toLong)) })
  }

  test("repetitionSignals measures within-doc duplication exactly") {
    writeDocs(Seq(
      // "x x x x": 4 unigrams all "x" → top frac 1.0;
      // bigrams: 3 × "x x" → dup frac (3-1)/3; trigrams: 2 × "x x x" → (2-1)/2
      1L -> "x x x x",
      // all-distinct tokens: no duplication anywhere
      2L -> "a b c d",
      // single token: no bigrams/trigrams → dup fracs pinned to 0
      3L -> "solo"))
    val out = TextStats.repetitionSignals(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    val r1 = out(1L)
    assert(r1.getAs[Long]("n_tokens") === 4L)
    assert(r1.getAs[Double]("top_unigram_frac") === 1.0)
    assert(math.abs(r1.getAs[Double]("dup_bigram_frac") - 2.0 / 3.0) < 1e-12)
    assert(r1.getAs[Double]("dup_trigram_frac") === 0.5)
    assert(r1.getAs[Boolean]("is_repetitive"))
    val r2 = out(2L)
    assert(r2.getAs[Double]("top_unigram_frac") === 0.25)
    assert(r2.getAs[Double]("dup_bigram_frac") === 0.0)
    assert(r2.getAs[Double]("dup_trigram_frac") === 0.0)
    assert(!r2.getAs[Boolean]("is_repetitive"))
    val r3 = out(3L)
    assert(r3.getAs[Long]("n_tokens") === 1L)
    assert(r3.getAs[Double]("top_unigram_frac") === 1.0)
    assert(r3.getAs[Double]("dup_bigram_frac") === 0.0)
    assert(r3.getAs[Boolean]("is_repetitive")) // top unigram frac 1.0 > 0.3
  }
}
