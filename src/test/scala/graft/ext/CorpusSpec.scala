package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkSpec

class CorpusSpec extends SparkSpec {
  import spark.implicits._

  test("chunk: windows cover every token, overlap by size-stride, idx contiguous") {
    val dir = testDir("graft_test_chunk")
    Seq(
      (1L, (1 to 80).map(i => s"t$i").mkString(" "), "en", "s", 80L),
      (2L, "a b c", "en", "s", 3L),
      (3L, "", "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Corpus.chunk(spark, dir, size = 32, stride = 24)
      .collect().groupBy(_.getAs[Long]("doc_id"))
    // doc 1: starts 0,24,48,72 → sizes 32,32,32,8
    val d1 = out(1L).sortBy(_.getAs[Int]("chunk_idx"))
    assert(d1.map(_.getAs[Int]("n_tokens")).toSeq === Seq(32, 32, 32, 8))
    assert(d1.map(_.getAs[Int]("chunk_idx")).toSeq === Seq(0, 1, 2, 3))
    // consecutive chunks overlap by size-stride = 8 tokens
    val c0 = d1(0).getAs[String]("chunk_text").split(" ")
    val c1 = d1(1).getAs[String]("chunk_text").split(" ")
    assert(c0.takeRight(8).toSeq === c1.take(8).toSeq)
    // every token appears in some chunk
    val covered = d1.flatMap(_.getAs[String]("chunk_text").split(" ")).toSet
    assert(covered === (1 to 80).map(i => s"t$i").toSet)
    // short and empty docs still produce exactly one chunk
    assert(out(2L).map(_.getAs[Int]("n_tokens")).toSeq === Seq(3))
    assert(out(3L).map(_.getAs[Int]("n_tokens")).toSeq === Seq(0))
  }

  test("split: disjoint, exhaustive, deterministic, near the target ratios") {
    val a = Corpus.split(spark, sf).collect()
    assert(a.length === 500)
    val bySplit = a.groupBy(_.getAs[String]("split")).view.mapValues(_.length).toMap
    assert(bySplit.values.sum === 500)
    // hash buckets target 10/10/80; allow generous tolerance at n=500
    assert(bySplit("test") > 20 && bySplit("test") < 90)
    assert(bySplit("val") > 20 && bySplit("val") < 90)
    assert(bySplit("train") > 330)
    // re-run selects identical assignments (value-hash, not RNG)
    val b = Corpus.split(spark, sf).collect()
    assert(a.map(r => (r.getLong(0), r.getString(3))).toSet ===
      b.map(r => (r.getLong(0), r.getString(3))).toSet)
  }

  test("weightedMix keeps each source at its weight, tags provenance") {
    val docs = Corpus.split(spark, sf) // any frame with doc_id works
    val mixed = Corpus.weightedMix(Seq(
      ("all", docs, 1.0), ("half", docs, 0.5), ("none", docs, 0.0)), "doc_id")
    val bySrc = mixed.groupBy("mix_source").count().as[(String, Long)].collect().toMap
    assert(bySrc("all") === 500L)
    assert(bySrc.getOrElse("none", 0L) === 0L)
    assert(bySrc("half") > 150 && bySrc("half") < 350, s"half=${bySrc.get("half")}")
    // deterministic: same mixture on re-run
    assert(mixed.count() === Corpus.weightedMix(Seq(
      ("all", docs, 1.0), ("half", docs, 0.5), ("none", docs, 0.0)), "doc_id").count())
  }

  test("packChunks conserves tokens and bounds sequence occupancy") {
    val chunks = Corpus.chunk(spark, sf)
    val totalTokens = chunks.agg(org.apache.spark.sql.functions.sum("n_tokens"))
      .collect()(0).getLong(0)
    val manifest = Corpus.packChunks(spark, sf, maxTokens = 512).collect()
    // conservation: every chunk lands in exactly one sequence
    assert(manifest.map(_.getAs[Long]("n_chunks")).sum === chunks.count())
    assert(manifest.map(_.getAs[Long]("n_tokens")).sum === totalTokens)
    // occupancy: a sequence holds at most maxTokens plus one straddling
    // chunk (chunk size 32), and non-final sequences are full
    manifest.foreach { r =>
      assert(r.getAs[Long]("n_tokens") <= 512L + 32L,
        s"overfull sequence: $r")
    }
    val perShard = manifest.groupBy(_.getAs[Long]("shard"))
    perShard.values.foreach { seqs =>
      val last = seqs.map(_.getAs[Long]("seq_idx")).max
      // a straddling chunk can shift up to one chunk (32 tokens) of a
      // sequence's budget into its predecessor
      seqs.filter(_.getAs[Long]("seq_idx") < last).foreach { r =>
        assert(r.getAs[Long]("n_tokens") >= 512L - 32L, s"underfull non-final: $r")
      }
    }
  }

  test("c4Filters flags planted boilerplate and keeps clean prose") {
    val dir = testDir("graft_test_c4")
    val clean = "A perfectly reasonable sentence with enough words to pass."
    Seq(
      (1L, clean, "en", "s", clean.length.toLong),
      (2L, "Lorem ipsum dolor sit amet and more words here too.", "en", "s", 52L),
      (3L, "var x = {a: 1} with some javascript inside here today.", "en", "s", 54L),
      (4L, "No terminal punctuation on this line of prose", "en", "s", 45L),
      (5L, "Too short.", "en", "s", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextStats.c4Filters(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("keep")).toMap
    assert(out === Map(1L -> true, 2L -> false, 3L -> false,
      4L -> false, 5L -> false))
  }

  test("stratifiedSample keeps per-lang fractions and is deterministic") {
    val langTotals = Corpus.split(spark, sf).groupBy("lang").count()
      .as[(String, Long)].collect().toMap
    val sampled = Corpus.stratifiedSample(
      spark, sf, Map("en" -> 0.5, "zh" -> 0.0), defaultFraction = 1.0)
    val byLang = sampled.groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(!byLang.contains("zh"))
    val enRate = byLang("en").toDouble / langTotals("en")
    assert(enRate > 0.3 && enRate < 0.7, s"en rate $enRate")
    langTotals.keys.filterNot(Set("en", "zh")).foreach { l =>
      assert(byLang(l) === langTotals(l), s"default stratum $l must keep all")
    }
    assert(sampled.count() === Corpus.stratifiedSample(
      spark, sf, Map("en" -> 0.5, "zh" -> 0.0)).count())
  }

  test("twinnable sha2 bucket matches the DuckDB-computed reference value") {
    // ('0x' || substr(sha256('42#11'), 1, 8))::BIGINT % 1000 = 591 in
    // DuckDB — the cross-engine anchor for every twinnable sampling oracle
    val b = spark.range(42, 43)
      .select(Corpus.bucket1000(col("id"), salt = 11, twinnable = true).as("b"))
      .head().getLong(0)
    assert(b === 591L)
  }

  test("sampleBudget: exactly n rows, deterministic, TakeOrdered plan") {
    val s1 = Corpus.sampleBudget(spark, sf, n = 40)
    assert(s1.count() === 40L)
    assert(s1.collect().toSeq === Corpus.sampleBudget(spark, sf, n = 40).collect().toSeq)
    // a budget larger than the corpus returns everything, once
    assert(Corpus.sampleBudget(spark, sf, n = 10000).count() === 500L)
    // top-n plan, not a global sort
    val plan = s1.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(800))
  }

  test("shardManifest: shards partition the corpus; keys stay in-shard") {
    val out = Corpus.shardManifest(spark, sf).collect()
    assert(out.map(_.getLong(0)).toSeq === (0L until 8L))
    assert(out.map(_.getLong(1)).sum === 500L)
    out.foreach { r =>
      val (shard, kmin, kmax) = (r.getLong(0), r.getLong(3), r.getLong(4))
      assert(kmin <= kmax)
      assert(kmin % 8 === shard, "key range must belong to its shard")
      assert(kmax % 8 === shard)
    }
    // deterministic: same manifest on re-run
    assert(Corpus.shardManifest(spark, sf).collect().toSeq === out.toSeq)
  }

  test("mixSummary: weight-1.0 stratum keeps everything, lower weights less") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val totals = docs.groupBy("source").count().as[(String, Long)].collect().toMap
    val headTotal = (0 to 5).map(i => totals(s"src$i")).sum
    val midTotal = (6 to 12).map(i => totals(s"src$i")).sum
    val out = Corpus.mixSummary(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out.keySet === Set("head", "mid", "tail"))
    assert(out("head") === headTotal, "weight 1.0 must keep every doc")
    assert(out("mid") < midTotal, "weight 0.5 must drop some docs")
    assert(out("mid") > 0 && out("tail") > 0)
  }

  test("cdcChunks: content-defined boundaries survive a front insertion") {
    import spark.implicits._
    // the longest fixture doc gives several expected cuts at divisor 16
    val text = spark.read.parquet(s"$sf/documents.parquet")
      .orderBy(col("n_chars").desc, col("doc_id").asc)
      .select("text").as[String].first()
    val nToks = text.split("\\s+").count(_.nonEmpty)
    val base = Seq((1L, text)).toDF("doc_id", "text")
    val shifted = Seq((1L, "zzzz " + text)).toDF("doc_id", "text")
    def chunks(df: org.apache.spark.sql.DataFrame) =
      Corpus.cdcChunksOf(df).collect()
        .sortBy(_.getAs[Long]("chunk_idx"))
        .map(r => (r.getAs[Long]("start_pos"), r.getAs[Long]("n_tokens"),
          r.getAs[String]("chunk_sha")))
    val a = chunks(base)
    val b = chunks(shifted)
    // chunking is a partition of the token stream
    assert(a.map(_._2).sum === nToks.toLong)
    assert(b.map(_._2).sum === nToks.toLong + 1L)
    // the 3-token window means grams (hence cuts) coincide for base
    // positions >= 2: every chunk starting there must survive the
    // insertion byte-for-byte, just shifted one position right
    val aTail = a.filter(_._1 >= 2L).map(t => (t._1 + 1L, t._2, t._3))
    val bTail = b.filter(_._1 >= 3L)
    assert(aTail.nonEmpty, "fixture doc too short to exercise stability")
    assert(aTail.toSeq === bTail.toSeq,
      "chunks after the first content-defined boundary must re-align")
    // while a FIXED-stride chunking of the same insertion realigns nothing:
    // every fixed chunk shifts, so the survival above is the CDC property
    assert(a.length > 1 && b.length > 1)
  }

  test("domainMixReport: α=1/2 temperature flattens shares toward uniform") {
    val rows = Corpus.domainMixReport(spark, sf).collect()
    val share = rows.map(r => r.getAs[String]("source") ->
      r.getAs[Double]("token_share")).toMap
    val weight = rows.map(r => r.getAs[String]("source") ->
      r.getAs[Double]("mix_weight")).toMap
    val epochs = rows.map(r => r.getAs[String]("source") ->
      r.getAs[Double]("effective_epochs")).toMap
    // shares and weights are each a (rounded) partition of 1
    assert(math.abs(share.values.sum - 1.0) < 1e-4)
    assert(math.abs(weight.values.sum - 1.0) < 1e-4)
    // sqrt-temperature preserves the ORDER of shares but compresses the
    // ratio: biggest/smallest weight ratio is ~sqrt of the share ratio
    val bySh = share.toSeq.sortBy(_._2)
    val (lo, hi) = (bySh.head._1, bySh.last._1)
    assert(weight(hi) > weight(lo))
    assert(weight(hi) / weight(lo) < share(hi) / share(lo),
      "temperature must compress the spread")
    // effective epochs: over-sampled small sources repeat (>1), the
    // largest source is under-sampled (<1); epochs = weight/share
    assert(epochs(lo) > 1.0 && epochs(hi) < 1.0)
    rows.foreach { r =>
      val w = r.getAs[Double]("mix_weight"); val p = r.getAs[Double]("token_share")
      val e = r.getAs[Double]("effective_epochs")
      assert(p > 0 && math.abs(e - w / p) < 0.02 * e + 1e-6)
    }
  }

  test("upsampleBalanced repeats minority langs floor(max/n) times, capped") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val counts = docs.groupBy("lang").count().as[(String, Long)].collect().toMap
    val maxN = counts.values.max
    val out = Corpus.upsampleBalanced(spark, sf, cap = 4).collect()
    val copiesPerDoc = out.groupBy(_.getAs[Long]("doc_id"))
    // every doc present, each with exactly n_epochs copies numbered 1..n
    assert(copiesPerDoc.size === docs.count())
    for ((_, rows) <- copiesPerDoc) {
      val lang = rows.head.getAs[String]("lang")
      val expect = math.min(4L, math.max(1L, maxN / counts(lang)))
      assert(rows.map(_.getAs[Long]("epoch_copy")).sorted.toSeq
        === (1L to expect))
      assert(rows.forall(_.getAs[Long]("n_epochs") == expect))
    }
    // the majority language is never upsampled; at least one minority is
    val byLang = out.groupBy(_.getAs[String]("lang"))
      .map { case (l, rs) => l -> rs.map(_.getAs[Long]("n_epochs")).max }
    assert(byLang(counts.maxBy(_._2)._1) === 1L)
    assert(byLang.values.max > 1L, "fixture langs are skewed — expect upsampling")
  }

  test("weightedSample: n rows, deterministic, weight-proportional, top-n plan") {
    val s1 = Corpus.weightedSample(spark, sf, n = 40)
    assert(s1.count() === 40L)
    assert(s1.collect().toSeq === Corpus.weightedSample(spark, sf, n = 40).collect().toSeq)
    // order-by-limit must plan as per-partition top-n, not a global sort
    val plan = s1.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(800))
    // weight-proportionality: 1000 docs of weight 1 vs 1000 of weight 200;
    // A-ES says the heavy half should dominate any prefix of the sample
    val dir = testDir("graft_test_wsample")
    (1L to 2000L).map { i =>
      val w = if (i <= 1000L) 1L else 200L
      (i, "x", "en", "s", w) // n_chars carries the weight
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val picked = Corpus.weightedSample(spark, dir, n = 400)
      .collect().map(_.getAs[Long]("doc_id"))
    val heavy = picked.count(_ > 1000L)
    assert(heavy > 360, s"heavy=$heavy of 400 — weight bias missing")
    // mergeable reservoir: top-n of per-half top-ns == global top-n
    val keyed = Corpus.weightedSample(spark, dir, n = 2000)
    val half1 = keyed.filter($"doc_id" % 2 === 0)
      .orderBy($"sample_key".desc, $"doc_id".asc).limit(50)
    val half2 = keyed.filter($"doc_id" % 2 === 1)
      .orderBy($"sample_key".desc, $"doc_id".asc).limit(50)
    val merged = half1.union(half2)
      .orderBy($"sample_key".desc, $"doc_id".asc).limit(50)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    val global = Corpus.weightedSample(spark, dir, n = 50)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(merged === global)
  }

  test("filterAttribution: fixed spine, first-fail partitions, blame order") {
    val dir = testDir("graft_test_fattr")
    val clean = "A perfectly reasonable sentence with enough words to pass."
    Seq(
      (1L, clean, "en", "s", clean.length.toLong),
      // fails word bounds AND lorem: blame must go to word bounds (rule 1)
      (2L, "Lorem ipsum.", "en", "s", 12L),
      (3L, "Lorem ipsum dolor sit amet and more words here too.", "en", "s", 52L),
      (4L, "No terminal punctuation on this line of prose", "en", "s", 45L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = TextStats.filterAttribution(spark, dir).collect()
    val byRule = rows.map(r => r.getAs[String]("rule") ->
      (r.getAs[Long]("n_first_fail"), r.getAs[Long]("n_any_fail"))).toMap
    // all six rules report even when they never fire (fixed spine)
    assert(rows.length === 6)
    assert(byRule.keySet === Set("1_word_bounds", "2_terminal_punct",
      "3_lorem_ipsum", "4_curly_brace", "5_javascript", "6_kept"))
    // first-fail counts partition the corpus
    assert(rows.map(_.getAs[Long]("n_first_fail")).sum === 4L)
    // doc 2 blamed on word bounds, not lorem; any-fail still counts lorem
    assert(byRule("1_word_bounds") === ((1L, 1L)))
    assert(byRule("3_lorem_ipsum") === ((1L, 2L)))
    assert(byRule("2_terminal_punct") === ((1L, 1L)))
    assert(byRule("4_curly_brace") === ((0L, 0L)))
    assert(byRule("6_kept") === ((1L, 1L)))
    // share = first-fail / corpus size
    rows.foreach { r =>
      assert(r.getAs[Double]("first_fail_share")
        === r.getAs[Long]("n_first_fail").toDouble / 4.0)
    }
  }
}
