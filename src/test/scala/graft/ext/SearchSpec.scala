package graft.ext

import graft.SparkSpec

class SearchSpec extends SparkSpec {
  import spark.implicits._

  private val dir = testDir("graft_test_search")

  private def writeDocs(rows: Seq[(Long, String)]): Unit =
    rows.map { case (id, text) => (id, text, "en", "s", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

  test("bm25 ranks the term-dense short doc above a diluted long one") {
    writeDocs(Seq(
      1L -> "spark spark spark",                       // tf=3, dl=3
      2L -> "spark filler filler filler filler filler filler filler", // tf=1, dl=8
      3L -> "nothing relevant here"))                  // no query term
    val out = Search.bm25(spark, dir, terms = Seq("spark")).collect()
    assert(out.map(_.getAs[Long]("doc_id")).toSeq === Seq(1L, 2L))
    assert(out.forall(_.getAs[Double]("bm25") > 0.0))
    assert(out(0).getAs[Double]("bm25") > out(1).getAs[Double]("bm25"))
    assert(out.forall(_.getAs[Long]("n_terms") === 1L))
  }

  test("bm25 sums evidence across query terms and respects topK") {
    writeDocs(Seq(
      1L -> "spark stream",
      2L -> "spark only",
      3L -> "stream only",
      4L -> "neither word"))
    val out = Search.bm25(spark, dir, terms = Seq("spark", "stream"), topK = 2)
      .collect()
    assert(out.length === 2)
    // both-terms doc wins; equal single-term docs tie-break by doc_id
    assert(out(0).getAs[Long]("doc_id") === 1L)
    assert(out(0).getAs[Long]("n_terms") === 2L)
    assert(out(1).getAs[Long]("doc_id") === 2L)
  }

  test("bm25: empty query returns an empty, correctly-shaped frame") {
    val out = Search.bm25(spark, sf, terms = Seq.empty)
    assert(out.columns.toSeq === Seq("doc_id", "n_terms", "bm25"))
    assert(out.count() === 0L)
  }

  test("bm25: empty corpus returns an empty frame, no NPE on null avgdl") {
    val edir = testDir("graft_test_search_empty")
    Seq.empty[(Long, String, String, String, Long)]
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$edir/documents.parquet")
    assert(Search.bm25(spark, edir).count() === 0L)
    // all-whitespace corpus: token rows exist for no doc → same path
    Seq((1L, "   ", "en", "s", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$edir/documents.parquet")
    assert(Search.bm25(spark, edir).count() === 0L)
  }

  test("bm25: duplicate query terms do not double-count") {
    writeDocs(Seq(
      1L -> "spark spark spark",
      2L -> "spark filler filler filler filler filler filler filler",
      3L -> "nothing relevant here"))
    val once = Search.bm25(spark, dir, terms = Seq("spark")).collect().toSeq
    val duped = Search.bm25(spark, dir, terms = Seq("spark", "spark")).collect().toSeq
    assert(duped === once)
  }

  test("tfidfTerms surfaces the distinguishing term, not the shared one") {
    writeDocs(Seq(
      1L -> "common rare common",
      2L -> "common common common",
      3L -> "common boring common"))
    val top = Search.tfidfTerms(spark, dir, perDoc = 1).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("term")).toMap
    // "common" appears in all 3 docs → idf = ln(1) = 0; uniques win
    assert(top(1L) === "rare")
    assert(top(3L) === "boring")
    // doc 2 has only the zero-idf term; it still gets a (score 0) row
    assert(top(2L) === "common")
  }

  test("tfidfTerms rank is dense per doc and capped at perDoc") {
    writeDocs(Seq(
      1L -> "a a a b b c unique1 unique2",
      2L -> "a b c"))
    val rows = Search.tfidfTerms(spark, dir, perDoc = 2)
      .collect().filter(_.getAs[Long]("doc_id") == 1L)
    assert(rows.map(_.getAs[Int]("term_rank")).toSeq === Seq(1, 2))
  }

  test("invertedIndex reports df, occurrences, and sorted capped postings") {
    writeDocs(Seq(
      3L -> "zeta alpha alpha",
      1L -> "alpha beta",
      2L -> "beta alpha"))
    val idx = Search.invertedIndex(spark, dir, postingHead = 2).collect()
      .map(r => r.getAs[String]("term") ->
        ((r.getAs[Long]("df"), r.getAs[Long]("total_occurrences"),
          r.getAs[String]("postings_head")))).toMap
    assert(idx("alpha") === ((3L, 4L, "1,2")))  // capped to 2 of 3 docs
    assert(idx("beta") === ((2L, 2L, "1,2")))
    assert(idx("zeta") === ((1L, 1L, "3")))
    // presentation order is term-ascending
    assert(idx.keySet === Set("alpha", "beta", "zeta"))
  }

  test("eventTypeCube covers all four grouping sets with consistent totals") {
    val out = EventAnalytics.eventTypeCube(spark, sf).collect()
    val grand = out.filter(r => r.isNullAt(0) && r.isNullAt(1))
    assert(grand.length === 1)
    val total = grand.head.getAs[Long]("n_events")
    val byType = out.filter(r => !r.isNullAt(0) && r.isNullAt(1))
    val byDay = out.filter(r => r.isNullAt(0) && !r.isNullAt(1))
    assert(byType.map(_.getAs[Long]("n_events")).sum === total)
    assert(byDay.map(_.getAs[Long]("n_events")).sum === total)
    val cells = out.filter(r => !r.isNullAt(0) && !r.isNullAt(1))
    assert(cells.map(_.getAs[Long]("n_events")).sum === total)
  }

  test("eventAnomalies flags exactly the hours beyond z from exact moments") {
    import java.sql.Timestamp
    val hourly = graft.io.Tables.events(spark, sf)
      .selectExpr("date_trunc('hour', ts) AS hour", "event_type")
      .groupBy("hour", "event_type").count().collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Timestamp]("hour"),
        r.getAs[Long]("count")))
    val expected = hourly.groupBy(_._1).flatMap { case (tpe, rows) =>
      val ns = rows.map(_._3.toDouble)
      val n = ns.length.toDouble
      if (n <= 1) Seq.empty[(String, Timestamp, Long)]
      else {
        val mean = ns.sum / n
        val variance = (ns.map(x => x * x).sum - ns.sum * ns.sum / n) / (n - 1)
        if (variance <= 0) Seq.empty[(String, Timestamp, Long)]
        else rows.toSeq.collect {
          case (_, hour, cnt) if math.abs((cnt - mean) / math.sqrt(variance)) > 2.0 =>
            (tpe, hour, cnt)
        }
      }
    }.toSet
    val got = EventAnalytics.eventAnomalies(spark, sf).collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Timestamp]("hour"),
        r.getAs[Long]("n_events"))).toSet
    assert(got === expected)
    assert(got.nonEmpty || expected.isEmpty)
  }

  test("gapFill covers the full hour grid; zeros exactly where no events") {
    import java.sql.Timestamp
    val ev = graft.io.Tables.events(spark, sf)
    val hourly = ev.selectExpr("event_type", "date_trunc('hour', ts) AS hour")
      .groupBy("event_type", "hour").count().collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Timestamp]("hour")) ->
        r.getAs[Long]("count")).toMap
    val out = EventAnalytics.gapFill(spark, sf).collect()
    val types = hourly.keySet.map(_._1)
    val hours = out.map(_.getAs[Timestamp]("hour")).distinct
    assert(out.length === types.size * hours.length, "grid must be complete")
    // grid hours are contiguous (1h stride)
    val sortedH = hours.sorted(Ordering.by((t: Timestamp) => t.getTime))
    sortedH.sliding(2).foreach { case Array(a, b) =>
      assert(b.getTime - a.getTime === 3600 * 1000L)
    }
    out.foreach { r =>
      val k = (r.getAs[String]("event_type"), r.getAs[Timestamp]("hour"))
      assert(r.getAs[Long]("n_events") === hourly.getOrElse(k, 0L))
    }
    // at sf0.001 the series is sparse — the fill must actually add zeros
    assert(out.count(_.getAs[Long]("n_events") == 0L) > 0)
  }

  test("rollingCounts matches a brute-force trailing-24-row reference") {
    import java.sql.Timestamp
    val out = EventAnalytics.rollingCounts(spark, sf).collect()
    out.groupBy(_.getAs[String]("event_type")).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getAs[Timestamp]("hour").getTime)
      val ns = sorted.map(_.getAs[Long]("n_events"))
      sorted.zipWithIndex.foreach { case (r, i) =>
        val frame = ns.slice(math.max(0, i - 23), i + 1)
        assert(r.getAs[Long]("rolling_sum") === frame.sum)
        val avg = BigDecimal(frame.sum.toDouble / frame.length)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        assert(math.abs(r.getAs[Double]("rolling_avg") - avg) < 1e-9)
      }
    }
  }

  test("funnel counts ordered stage survivors exactly") {
    // ts is TIMESTAMP_NTZ → LocalDateTime at collect time; accept either
    def epochMs(x: Any): Long = x match {
      case t: java.sql.Timestamp      => t.getTime
      case d: java.time.LocalDateTime => d.toInstant(java.time.ZoneOffset.UTC).toEpochMilli
      case i: java.time.Instant       => i.toEpochMilli
    }
    val ev = graft.io.Tables.events(spark, sf)
      .selectExpr("user_id", "event_type", "ts").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("event_type"),
        epochMs(r.get(2))))
    val byUser = ev.groupBy(_._1)
    def stageTs(rows: Array[(Long, String, Long)], tpe: String,
        after: Option[Long]): Option[Long] = {
      val ts = rows.collect { case (_, t, x) if t == tpe => x }
      val eligible = after.fold(ts)(a => ts.filter(_ > a))
      if (eligible.isEmpty) None else Some(eligible.min)
    }
    var (nViewed, nClicked, nPurchased) = (0L, 0L, 0L)
    byUser.values.foreach { rows =>
      val v = stageTs(rows, "view", None)
      if (v.isDefined) nViewed += 1
      val c = v.flatMap(vt => stageTs(rows, "click", Some(vt)))
      if (c.isDefined) nClicked += 1
      val p = c.flatMap(ct => stageTs(rows, "purchase", Some(ct)))
      if (p.isDefined) nPurchased += 1
    }
    val r = EventAnalytics.funnel(spark, sf).collect().head
    assert(r.getAs[Long]("n_users") === byUser.size.toLong)
    assert(r.getAs[Long]("n_viewed") === nViewed)
    assert(r.getAs[Long]("n_clicked_after_view") === nClicked)
    assert(r.getAs[Long]("n_purchased_after_click") === nPurchased)
    // funnels only narrow
    assert(nViewed >= nClicked && nClicked >= nPurchased)
  }

  test("funnelLatency matches brute-force per-user lags and rank statistics") {
    def epochUs(x: Any): Long = x match {
      case t: java.sql.Timestamp =>
        t.getTime * 1000L + (t.getNanos % 1000000) / 1000
      case d: java.time.LocalDateTime =>
        val i = d.toInstant(java.time.ZoneOffset.UTC)
        i.getEpochSecond * 1000000L + i.getNano / 1000
      case i: java.time.Instant =>
        i.getEpochSecond * 1000000L + i.getNano / 1000
    }
    val ev = graft.io.Tables.events(spark, sf)
      .selectExpr("user_id", "event_type", "ts").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("event_type"),
        epochUs(r.get(2))))
    def first(rows: Array[(Long, String, Long)], tpe: String,
        after: Option[Long]): Option[Long] = {
      val ts = rows.collect { case (_, t, x) if t == tpe => x }
      val eligible = after.fold(ts)(a => ts.filter(_ > a))
      if (eligible.isEmpty) None else Some(eligible.min)
    }
    val lags = ev.groupBy(_._1).values.flatMap { rows =>
      for {
        v <- first(rows, "view", None)
        c <- first(rows, "click", Some(v))
        p <- first(rows, "purchase", Some(c))
      } yield (c - v, p - c, p - v)
    }.toSeq
    assert(lags.nonEmpty, "fixture must contain funnel completers")
    def rankStat(xs: Seq[Long], rank: Int): Long = xs.sorted.apply(rank - 1)
    val out = EventAnalytics.funnelLatency(spark, sf).collect()
      .map(r => r.getAs[String]("stage") -> r).toMap
    val n = lags.length
    val expect = Map(
      "1_view_to_click" -> lags.map(_._1),
      "2_click_to_purchase" -> lags.map(_._2),
      "3_view_to_purchase" -> lags.map(_._3))
    expect.foreach { case (stage, xs) =>
      val r = out(stage)
      assert(r.getAs[Long]("n_users") === n.toLong)
      assert(r.getAs[Long]("min_us") === xs.min)
      assert(r.getAs[Long]("max_us") === xs.max)
      assert(r.getAs[Long]("median_us") === rankStat(xs, (n + 1) / 2))
      assert(r.getAs[Long]("p90_us") === rankStat(xs, (n * 9 + 9) / 10))
    }
  }

  test("fuzzySearch expands the typo to near tokens and counts hits per doc") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .selectExpr("doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        r.getString(1).toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq).toMap
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val vocabHit = docs.values.flatten.toSet.filter(lev(_, "spak") <= 1)
    assert(vocabHit.nonEmpty, "fixture vocab must contain a near token")
    val expected = docs.view.mapValues(_.count(vocabHit)).toMap.filter(_._2 > 0)
    val top = expected.toSeq.sortBy { case (id, n) => (-n, id) }.take(20)
    val got = Search.fuzzySearch(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_hits"))
    assert(got.toSeq === top.map { case (id, n) => id -> n.toLong })
  }

  test("clusterKeywords: contiguous ranks, terms from own cell, tfidf desc") {
    val rows = Search.clusterKeywords(spark, sf).collect()
    val byCell = rows.groupBy(_.getAs[Long]("cell_id"))
    assert(byCell.nonEmpty)
    byCell.foreach { case (_, rs) =>
      val ranked = rs.sortBy(_.getAs[Int]("term_rank"))
      assert(ranked.map(_.getAs[Int]("term_rank")).toSeq
        === (1 to ranked.length), "ranks contiguous from 1")
      assert(ranked.length <= 5)
      // scores non-increasing in rank order (ties broken by term asc)
      val scores = ranked.map(_.getAs[Double]("tfidf"))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    }
    // every keyword term actually occurs in a document of its own cell
    val cellOf = graft.ext.Similarity.kmeansSeedAssign(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cell_id")).toMap
    val docToks = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text").collect()
      .map(r => r.getLong(0) ->
        r.getString(1).toLowerCase.split("\\s+").filter(_.nonEmpty).toSet)
    val cellVocab = docToks.groupBy { case (id, _) => cellOf(id) }
      .view.mapValues(_.flatMap(_._2).toSet).toMap
    rows.foreach { r =>
      assert(cellVocab(r.getAs[Long]("cell_id"))
        .contains(r.getAs[String]("term")))
    }
  }
}
