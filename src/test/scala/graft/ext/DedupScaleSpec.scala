package graft.ext

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.GraftFunctions

/** Round-5 scale-path coverage: the distributed connected-components
  * branch reached through the REAL operator entry points (not a
  * hand-built edge list), span drop-visibility consistency, and the
  * arity guard on the injected native functions. The 100× volume tier
  * itself runs via [[graft.tools.StressTier]] (recorded in STRESS_r5.md);
  * these specs pin the same code paths at fixture size.
  */
class DedupScaleSpec extends SparkSpec {

  private val dir = testDir("graft_test_ccscale")

  private def writeFixture(): Unit = DedupScaleSpec.writeFixture(spark, dir)

  test("minHashMembership: distributed CC branch equals the driver union-find") {
    writeFixture()
    val viaDriver = Dedup.minHashMembership(spark, dir)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // driver budget 0 forces the distributed min-label loop through the
    // same public operator — both paths must label identically
    val viaLoop = withDriverBudget(0)(Dedup.minHashMembership(spark, dir)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq)
    assert(viaDriver === viaLoop)
    // and the planted family actually clustered (the test is not vacuous)
    assert(viaDriver.count { case (d, c) => c === 1L } >= 2)
    assert(spark.sharedState.cacheManager.isEmpty,
      "both CC paths must leave the CacheManager empty")
  }

  test("minHashPairsDistributed equals the driver-materialized pair list") {
    writeFixture()
    val local = Dedup.minHashPairs(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val dist = Dedup.minHashPairsDistributed(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(local === dist)
    assert(local.nonEmpty, "fixture must produce pairs (non-vacuous)")
    assert(spark.sharedState.cacheManager.isEmpty,
      "the distributed variant must also leave the CacheManager empty")
  }

  test("incrementalMinHash reports the best corpus match per delta doc") {
    writeFixture()
    // delta = odd ids {1, 3}; corpus index = {2, 10, 20}
    val rows = Dedup.incrementalMinHash(spark, dir, deltaMod = 2, deltaRem = 1)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getBoolean(3))))
      .toMap
    assert(rows.keySet === Set(1L, 3L))
    // doc 1 has an exact twin (2) in the corpus: jaccard 1
    assert(rows(1L)._1 === 2L && rows(1L)._2 === 1.0 && rows(1L)._3)
    // doc 3 is one word off the family: near-dup of 2, jaccard < 1
    assert(rows(3L)._1 === 2L && rows(3L)._2 < 1.0 && rows(3L)._3)
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("trainingSet maxIter knob threads through to the distributed CC loop") {
    writeFixture()
    // the r8 CONTRACTION loop collapses the planted cliques in ONE round
    // (every member relabels to the min and the contracted graph loses
    // its edges), so maxIter=1 is now the tightest bound that converges;
    // maxIter=0 — zero rounds against a non-empty dup graph — must still
    // throw the loud non-convergence error, which is the knob (and the
    // loud-failure contract) working as intended.
    withDriverBudget(0) {
      val out = Curation.trainingSet(
        spark, dir, fractions = Map("en" -> 1.0), defaultFraction = 1.0,
        maxIter = 1)
      assert(out.count() >= 1)
      intercept[IllegalStateException] {
        Curation.trainingSet(
          spark, dir, fractions = Map("en" -> 1.0), defaultFraction = 1.0,
          maxIter = 0).count()
      }
    }
  }

  test("spanStats books every shared span as emitted or dropped; summary agrees") {
    writeFixture()
    val stats = Dedup.spanStats(spark, dir).collect().head
    val shared = stats.getAs[Long]("n_spans_shared")
    val dropped = stats.getAs[Long]("n_spans_dropped")
    val candidates = stats.getAs[Long]("candidate_pairs")
    // family A shares all its spans; nothing exceeds the default cap here
    assert(shared > 0 && dropped === 0L && candidates > 0L)
    // with a cap of 1 every shared span is dropped and no pair survives
    val capped = Dedup.spanStats(spark, dir, maxDocsPerSpan = 1).collect().head
    assert(capped.getAs[Long]("n_spans_dropped") === shared)
    assert(capped.getAs[Long]("candidate_pairs") === 0L)
    assert(Dedup.spanPairs(spark, dir, maxDocsPerSpan = 1).count() === 0L)
    // per-doc summary: dup fraction is 1 for the identical family, 0 for
    // the unrelated doc; short docs surface with zero spans
    val perDoc = Dedup.spanDocSummary(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(perDoc(1L).getAs[Double]("dup_span_frac") === 1.0)
    assert(perDoc(10L).getAs[Double]("dup_span_frac") === 0.0)
    assert(perDoc(20L).getAs[Long]("n_spans") === 0L)
  }

  test("native function arity errors name the function, not an index") {
    GraftFunctions.register(spark)
    val e = intercept[Exception] {
      spark.sql("SELECT graft_dot(array(1.0D))").collect()
    }
    assert(e.getMessage.contains("graft_dot") &&
      e.getMessage.contains("2 arguments"), e.getMessage)
  }
}

object DedupScaleSpec {

  /** Two planted dup families plus unrelated docs, long enough for
    * 16-token spans: family A = identical docs, family B = near-identical
    * docs. Written as `dir/documents.parquet`.
    */
  def writeFixture(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val b = a.replace("kappa", "koppa")
    val c = "one two three four five six seven eight nine ten eleven " +
      "twelve thirteen fourteen fifteen sixteen seventeen eighteen"
    Seq(
      (1L, a, "en", "s"), (2L, a, "en", "s"), (3L, b, "en", "s"),
      (10L, c, "en", "s"),
      (20L, "short text only", "en", "s"))
      .map { case (id, t, l, s) => (id, t, l, s, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }
}
