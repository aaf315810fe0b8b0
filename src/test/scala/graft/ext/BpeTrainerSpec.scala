package graft.ext

import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.SparkSpec

/** BPE trainer correctness is pinned differentially: a brute-force Scala
  * reference (pair counts weighted by word frequency, argmax by (count
  * desc, pair asc), greedy left-to-right merge application) must produce
  * the identical merge sequence on crafted and random corpora.
  */
class BpeTrainerSpec extends SparkSpec {

  private def referenceMerges(
      texts: Seq[String], nMerges: Int): Seq[(Int, String, String, String, Long)] = {
    var words: Map[List[String], Long] = texts
      .flatMap(_.toLowerCase.split("\\s+").filter(_.nonEmpty))
      .groupBy(identity).view.mapValues(_.size.toLong)
      .map { case (w, c) => w.split("").toList -> c }.toMap
    def applyMerge(sym: List[String], a: String, b: String): List[String] =
      sym.foldLeft(List.empty[String]) { (acc, x) =>
        if (acc.nonEmpty && acc.last == a && x == b) acc.init :+ (a + b)
        else acc :+ x
      }
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    var round = 1
    var done = false
    while (round <= nMerges && !done) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      words.foreach { case (sym, wf) =>
        sym.zip(sym.drop(1)).foreach(p => counts(p) = counts.getOrElse(p, 0L) + wf)
      }
      val best = counts.toSeq.sortBy { case ((l, r), c) => (-c, l, r) }.headOption
      best match {
        case Some(((l, r), c)) if c >= 2 =>
          out += ((round, l, r, l + r, c))
          words = words.toSeq
            .map { case (sym, wf) => applyMerge(sym, l, r) -> wf }
            .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
          round += 1
        case _ => done = true
      }
    }
    out.toSeq
  }

  private def trainOn(texts: Seq[String], dir: String, nMerges: Int,
      driverVocabLimit: Long = 1_000_000L) = {
    import spark.implicits._
    texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    BpeTrainer.train(spark, dir, nMerges, driverVocabLimit).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSeq
  }

  test("classic subword corpus learns the expected early merges") {
    val texts = Seq("low low low lower lower lowest", "newer newer new wider")
    val got = trainOn(texts, testDir("graft_test_bpe"), nMerges = 8)
    assert(got === referenceMerges(texts, 8))
    // sanity on content, not just agreement: 'lo' or 'er'-family merges
    // must surface early in this corpus
    val learned = got.map(_._4)
    assert(learned.contains("lo") || learned.contains("er"), learned.toString)
  }

  test("distributed loop (forced) equals the driver fast path") {
    val texts = Seq("low low low lower lower lowest", "newer newer new wider")
    val dist = trainOn(texts, testDir("graft_test_bpe_dist"), nMerges = 6,
      driverVocabLimit = 0L) // force the distributed per-round loop
    assert(dist === referenceMerges(texts, 6))
  }

  test("non-BMP argmax ties break identically on driver and distributed paths") {
    // U+1F600 (a surrogate pair, D83D DE00) vs U+FFFD: UTF-16 code-UNIT
    // order sorts the emoji first, UTF-8/code-point order (Spark's
    // UTF8_BINARY) sorts U+FFFD first — a tie between pairs of these
    // symbols distinguishes the two orderings.
    val hi = "\uFFFD"
    val emoji = new String(Character.toChars(0x1F600))
    val texts = Seq(s"$emoji$emoji $hi$hi", s"$emoji$emoji $hi$hi")
    val drv = trainOn(texts, testDir("graft_test_bpe_nonbmp"), nMerges = 2)
    val dist = trainOn(texts, testDir("graft_test_bpe_nonbmp_d"), nMerges = 2,
      driverVocabLimit = 0L)
    assert(drv === dist)
    // code-point order: U+FFFD < U+1F600 ⇒ the tied round-1 argmax is hi
    assert(drv.head._2 === hi && drv.head._3 === hi)
  }

  /** Reference tokenizer: the greedy left-to-right fold, per word. */
  private def foldTokens(w: String, merges: Seq[(String, String)]): Int = {
    var sym = w.split("").toList
    for ((a, b) <- merges)
      sym = sym.foldLeft(List.empty[String]) { (acc, x) =>
        if (acc.nonEmpty && acc.last == a && x == b) acc.init :+ (a + b)
        else acc :+ x
      }
    sym.length
  }

  private def applyOn(texts: Seq[String], dir: String) = {
    import spark.implicits._
    texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    BpeTrainer.applyMerges(spark, dir, BpeTrainer.FixedMerges).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
  }

  private def referenceApply(texts: Seq[String]) =
    texts.zipWithIndex.map { case (t, i) =>
      val ws = t.toLowerCase.split("\\s+").filter(_.nonEmpty)
      (i.toLong, ws.length.toLong,
        ws.map(foldTokens(_, BpeTrainer.FixedMerges)).sum.toLong)
    }

  test("applyMerges (chained replace) equals the brute-force fold") {
    val texts = Seq(
      "The rat sat on the mat in the rain",
      "thththth anananan rere",  // chained + immediate re-participation
      "xyz q",                   // no merge applies
      "")                        // empty doc: 0 words, 0 tokens
    assert(applyOn(texts, testDir("graft_test_bpe_apply")) === referenceApply(texts))
  }

  test("applyMerges matches the fold on random corpora (property)") {
    val wordGen = Gen.choose(1, 10).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('t', 'h', 'e', 'a', 'n', 'r', 'o')).map(_.mkString))
    val docGen = Gen.listOfN(3, Gen.listOfN(5, wordGen).map(_.mkString(" ")))
    val prop = Prop.forAll(docGen) { texts =>
      applyOn(texts, testDir("graft_test_bpe_apply_prop")) == referenceApply(texts)
    }
    val r = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(4), prop)
    assert(r.passed, s"property falsified: ${r.status}")
  }

  test("trainer matches the reference on random corpora (property)") {
    val docGen = Gen.listOfN(4, Gen.choose(1, 6).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("ab", "aab", "abab", "ba", "bb", "a"))
        .map(_.mkString(" "))))
    val prop = Prop.forAll(docGen) { texts =>
      trainOn(texts, testDir("graft_test_bpe_prop"), nMerges = 6) ==
        referenceMerges(texts, 6)
    }
    val r = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(6), prop)
    assert(r.passed, s"property falsified: ${r.status}")
  }
}
