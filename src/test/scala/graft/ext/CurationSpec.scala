package graft.ext

import graft.SparkSpec

/** End-to-end curation pipeline: every stage must drop exactly its own
  * casualties — C4 cleaning, exact dedup, near-dup clustering, sampling.
  */
class CurationSpec extends SparkSpec {

  test("trainingSet survivors: c4-fail, exact dups, and near-dups drop") {
    import spark.implicits._
    val dir = testDir("graft_test_curation")
    val base = "the quick brown fox jumps over the lazy dog and runs far away home tonight."
    val tweaked = base.replace("lazy", "sleepy")
    val other = "completely different content about spark query engines and columnar formats here."
    Seq(
      (1L, base, "en", "s", base.length.toLong),     // keeper
      (2L, base, "en", "s", base.length.toLong),     // exact dup of 1
      (3L, "bad { brace document.", "en", "s", 22L), // c4 casualty
      (4L, base, "en", "s", base.length.toLong),     // exact dup of 1
      (5L, other, "en", "s", other.length.toLong),   // distinct survivor
      (6L, tweaked, "en", "s", tweaked.length.toLong)) // near-dup of 1
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // sampling disabled (fraction 1.0): this test isolates the dedup stages
    val out = Curation.trainingSet(spark, dir,
      fractions = Map.empty, defaultFraction = 1.0)
      .select("doc_id").as[Long].collect().toSet
    assert(out === Set(1L, 5L))
  }

  test("trainingSet sampling stage drops by the sha bucket, nothing else") {
    // on the real fixture: full-fraction run ⊇ sampled run, and the
    // sampled run equals the full run filtered by the sample predicate
    import spark.implicits._
    val full = Curation.trainingSet(spark, sf,
      fractions = Map.empty, defaultFraction = 1.0)
      .select("doc_id").as[Long].collect().toSet
    val sampled = Curation.trainingSet(spark, sf).select("doc_id")
      .as[Long].collect().toSet
    assert(sampled.subsetOf(full))
    val keepSet = Corpus.stratifiedSample(
      spark, sf, Map("en" -> 0.5), defaultFraction = 0.2, twinnable = true)
      .select("doc_id").as[Long].collect().toSet
    assert(sampled === full.intersect(keepSet))
  }
}
