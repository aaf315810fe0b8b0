package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Differential coverage for the round-5c operators: each result is
  * recomputed independently in driver-side Scala from the collected
  * fixture and compared exactly.
  */
class PipelineOpsSpec extends SparkSpec {

  test("pqCodes matches a driver-side argmin over the same seed codebook") {
    import spark.implicits._
    val emb = graft.io.Tables.embeddings(spark, sf)
      .select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect().sortBy(_._1)
    val seeds = emb.take(16).map(_._2)
    def dot(a: Seq[Double], b: Seq[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val expected = emb.map { case (id, v) =>
      val x = v.map(_.toDouble)
      val codes = (0 until 4).map { m =>
        val xs = x.slice(m * 16, m * 16 + 16)
        (0 until 16).map { j =>
          val c = seeds(j).map(_.toDouble).slice(m * 16, m * 16 + 16)
          (dot(c, c) - 2.0 * dot(xs, c), j.toLong)
        }.min._2
      }
      (id, codes(0), codes(1), codes(2), codes(3))
    }.toSeq
    val got = Similarity.pqCodes(spark, sf)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got === expected)
  }

  test("annRecall equals the set intersection of the two retrieval paths") {
    import spark.implicits._
    val brute = Similarity.bruteForceTopK(spark, sf)
      .select("q_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val lsh = Similarity.lshTopK(spark, sf)
      .select("q_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val got = Similarity.annRecall(spark, sf, Similarity.lshTopK)
      .select("q_id", "n_hits").as[(Long, Long)].collect().toMap
    assert(got.keySet === brute.keySet)
    got.foreach { case (q, hits) =>
      assert(hits === brute(q).intersect(lsh.getOrElse(q, Set.empty)).size.toLong)
      assert(hits >= 0L && hits <= 5L)
    }
  }

  test("retention: day-0 actives equal cohort sizes; totals cover all users") {
    import spark.implicits._
    val ret = EventAnalytics.retention(spark, sf)
      .as[(java.sql.Date, Long, Long)].collect()
    val cohortSizes = graft.io.Tables.events(spark, sf)
      .groupBy(col("user_id")).agg(min(to_date(col("ts"))).as("c"))
      .groupBy(col("c")).count()
      .as[(java.sql.Date, Long)].collect().toMap
    val day0 = ret.filter(_._2 == 0L).map(r => r._1 -> r._3).toMap
    assert(day0 === cohortSizes)
    // offsets bounded and non-negative, actives never exceed the cohort
    ret.foreach { case (c, off, n) =>
      assert(off >= 0L && off <= 13L)
      assert(n <= cohortSizes(c))
    }
  }

  test("transitions: counts sum to total events minus distinct users") {
    import spark.implicits._
    val t = EventAnalytics.transitions(spark, sf)
      .as[(String, String, Long)].collect()
    val ev = graft.io.Tables.events(spark, sf)
    val total = ev.count()
    val users = ev.select("user_id").distinct().count()
    assert(t.map(_._3).sum === total - users)
    assert(t.forall(_._3 > 0))
  }

  test("winsorizedStats: threshold is the exact order statistic; caps counted") {
    import spark.implicits._
    val byType = graft.io.Tables.events(spark, sf)
      .select("event_type", "value").as[(String, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val got = EventAnalytics.winsorizedStats(spark, sf).collect()
    got.foreach { r =>
      val vs = byType(r.getAs[String]("event_type"))
      val p99 = vs(math.ceil(vs.length * 0.99).toInt - 1)
      assert(r.getAs[Long]("n_events") === vs.length.toLong)
      assert(math.abs(r.getAs[Double]("p99_value") - math.rint(p99 * 1e6) / 1e6) < 1e-9)
      assert(r.getAs[Long]("n_capped") === vs.count(_ > p99).toLong)
    }
  }

  test("sftPairs matches a brute-force sessionize+alternate+context reference") {
    val events = graft.io.Tables.events(spark, sf)
      .select("user_id", "ts", "event_id", "event_type").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[java.time.LocalDateTime]("ts"),
        r.getAs[Long]("event_id"), r.getAs[String]("event_type")))
    val expected = events.groupBy(_._1).toSeq.flatMap { case (uid, rows) =>
      val sorted = rows.sortBy(r => (r._2, r._3))
      // gaps-and-islands: new session after >30 min silence
      val sessIds = sorted.scanLeft((0L, Option.empty[java.time.LocalDateTime])) {
        case ((sid, prev), r) =>
          val fresh = prev.forall(p =>
            java.time.Duration.between(p, r._2).compareTo(
              java.time.Duration.ofMinutes(30)) > 0)
          (if (fresh) sid + 1 else sid, Some(r._2))
      }.tail.map(_._1)
      sorted.zip(sessIds).groupBy(_._2).toSeq.flatMap { case (sid, turns) =>
        val txts = turns.map(_._1).map(r => s"${r._4}#${r._3}")
        txts.zipWithIndex.collect { case (txt, i) if (i + 1) % 2 == 0 =>
          val ctx = txts.slice(math.max(0, i - 3), i).mkString(" | ")
          (uid, sid, ((i + 1) / 2).toLong, math.min(3L, i.toLong), ctx, txt)
        }
      }
    }.sortBy(t => (t._1, t._2, t._3))
    val got = EventAnalytics.sftPairs(spark, sf).collect().map(r =>
      (r.getAs[Long]("user_id"), r.getAs[Long]("session_id"),
        r.getAs[Long]("pair_idx"), r.getAs[Long]("n_context_turns"),
        r.getAs[String]("context"), r.getAs[String]("response")))
    assert(got.length === expected.length)
    assert(got.toSeq === expected)
    // every pair really alternates: response is always an even turn and
    // context is never empty (turn >= 2 guarantees >= 1 context turn)
    assert(got.forall(p => p._4 >= 1L && p._5.nonEmpty))
  }

  test("preferencePairs matches a brute-force best/worst-candidate reference") {
    val events = graft.io.Tables.events(spark, sf)
      .select("user_id", "ts", "event_id", "event_type", "value").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[java.time.LocalDateTime]("ts"),
        r.getAs[Long]("event_id"), r.getAs[String]("event_type"),
        r.getAs[Double]("value")))
    val expected = events.groupBy(_._1).toSeq.flatMap { case (uid, rows) =>
      val sorted = rows.sortBy(r => (r._2, r._3))
      val sessIds = sorted.scanLeft((0L, Option.empty[java.time.LocalDateTime])) {
        case ((sid, prev), r) =>
          val fresh = prev.forall(p =>
            java.time.Duration.between(p, r._2).compareTo(
              java.time.Duration.ofMinutes(30)) > 0)
          (if (fresh) sid + 1 else sid, Some(r._2))
      }.tail.map(_._1)
      sorted.zip(sessIds).groupBy(_._2).toSeq.flatMap { case (sid, turns) =>
        val ordered = turns.map(_._1)
        val prompt = s"${ordered.head._4}#${ordered.head._3}"
        val cands = ordered.tail
        if (cands.length < 2) Nil
        else {
          // chosen: max value, tie → lowest id; rejected: min value, tie → highest id
          val best = cands.maxBy(c => (c._5, -c._3))
          val worst = cands.minBy(c => (c._5, -c._3))
          if (best._5 > worst._5)
            Seq((uid, sid, prompt, s"${best._4}#${best._3}",
              s"${worst._4}#${worst._3}", best._5, worst._5,
              best._5 - worst._5, cands.length.toLong))
          else Nil
        }
      }
    }.sortBy(t => (t._1, t._2))
    val got = EventAnalytics.preferencePairs(spark, sf).collect().map(r =>
      (r.getAs[Long]("user_id"), r.getAs[Long]("session_id"),
        r.getAs[String]("prompt"), r.getAs[String]("chosen"),
        r.getAs[String]("rejected"), r.getAs[Double]("chosen_score"),
        r.getAs[Double]("rejected_score"), r.getAs[Double]("margin"),
        r.getAs[Long]("n_candidates")))
    assert(got.length === expected.length)
    assert(got.toSeq === expected)
    // a preference pair is only useful with a strict margin
    assert(got.forall(p => p._8 > 0.0 && p._4 != p._5))
  }

  test("snapshotDiff partitions ids into consistent statuses") {
    import spark.implicits._
    val ids = graft.io.Tables.documents(spark, sf)
      .select("doc_id").as[Long].collect().toSet
    val inOld = ids.filter(_ % 10 != 0)
    val inNew = ids.filter(_ % 7 != 3)
    val expected = Map(
      "added" -> (inNew -- inOld).size.toLong,
      "removed" -> (inOld -- inNew).size.toLong,
      "changed" -> (inOld & inNew).count(_ % 5 == 0).toLong,
      "unchanged" -> (inOld & inNew).count(_ % 5 != 0).toLong)
      .filter(_._2 > 0)
    val got = Corpus.snapshotDiff(spark, sf)
      .select("status", "n_docs").as[(String, Long)].collect().toMap
    assert(got === expected)
  }

  test("semanticDedup matches a driver-side cell-scoped pair search") {
    import spark.implicits._
    val emb = graft.io.Tables.embeddings(spark, sf)
      .select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect().sortBy(_._1)
    def dot(a: Seq[Double], b: Seq[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val vecs = emb.map { case (id, v) =>
      val x = v.map(_.toDouble); id -> (x, math.sqrt(dot(x, x)))
    }.toMap
    val seeds = emb.take(16).map { case (id, _) =>
      val (x, n) = vecs(id); x.map(_ / n)
    }
    val cellOf = emb.map { case (id, _) =>
      val (x, n) = vecs(id)
      id -> (0 until 16).map(c => (-dot(x, seeds(c)) / n, c)).min._2.toLong
    }.toMap
    val expected = emb.map { case (id, _) =>
      val (x, n) = vecs(id)
      val dupOf = emb.map(_._1)
        .filter(o => o < id && cellOf(o) == cellOf(id))
        .filter { o =>
          val (y, m) = vecs(o); dot(x, y) / (n * m) >= 0.4
        }.minOption
      (id, cellOf(id), dupOf, dupOf.isEmpty)
    }.toSeq
    val got = Similarity.semanticDedup(spark, sf)
      .as[(Long, Long, Option[Long], Boolean)].collect().toSeq
    assert(got === expected)
    // the synthetic corpus must actually exercise the drop path
    assert(got.exists(!_._4) && got.exists(_._4))
  }

  test("crossLabelMine matches a driver-side cell-scoped cross-label argmax") {
    import spark.implicits._
    val emb = graft.io.Tables.embeddings(spark, sf)
      .select("vec_id", "embedding", "label")
      .as[(Long, Seq[Float], Int)].collect().sortBy(_._1)
    def dot(a: Seq[Double], b: Seq[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val vecs = emb.map { case (id, v, _) =>
      val x = v.map(_.toDouble); id -> (x, math.sqrt(dot(x, x)))
    }.toMap
    val labelOf = emb.map(e => e._1 -> e._3).toMap
    val seeds = emb.take(16).map { case (id, _, _) =>
      val (x, n) = vecs(id); x.map(_ / n)
    }
    val cellOf = emb.map { case (id, _, _) =>
      val (x, n) = vecs(id)
      id -> (0 until 16).map(c => (-dot(x, seeds(c)) / n, c)).min._2.toLong
    }.toMap
    val expected = emb.flatMap { case (id, _, lbl) =>
      val (x, n) = vecs(id)
      val cands = emb.map(_._1)
        .filter(o => o != id && cellOf(o) == cellOf(id) && labelOf(o) != lbl)
        .map { o => val (y, m) = vecs(o); (o, dot(x, y) / (n * m)) }
        .filter(_._2 >= 0.3)
        .sortBy { case (o, s) => (-s, o) }
      cands.headOption.map { case (bestId, bestSim) =>
        val margin = bestSim - cands.drop(1).headOption.map(_._2).getOrElse(0.0)
        (id, lbl, bestId, labelOf(bestId),
          math.rint(bestSim * 1e6) / 1e6, math.rint(margin * 1e6) / 1e6)
      }
    }.toSeq
    val got = Similarity.crossLabelMine(spark, sf)
      .as[(Long, Int, Long, Int, Double, Double)].collect().toSeq
    assert(got.length === expected.length)
    got.zip(expected).foreach { case (g, e) =>
      assert(g._1 === e._1 && g._2 === e._2 && g._3 === e._3 && g._4 === e._4)
      assert(math.abs(g._5 - e._5) < 1e-9 && math.abs(g._6 - e._6) < 1e-9)
    }
    // margins are nonnegative and a real runner-up shrinks them
    assert(got.forall(_._6 >= 0.0))
    assert(got.exists(g => g._6 < g._5), "some query must have a runner-up")
  }

  test("semanticDecontaminate matches a driver-side eval-vs-train probe") {
    import spark.implicits._
    val emb = graft.io.Tables.embeddings(spark, sf)
      .select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect().sortBy(_._1)
    def dot(a: Seq[Double], b: Seq[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val vecs = emb.map { case (id, v) =>
      val x = v.map(_.toDouble); id -> (x, math.sqrt(dot(x, x)))
    }.toMap
    val seeds = emb.take(16).map { case (id, _) =>
      val (x, n) = vecs(id); x.map(_ / n)
    }
    val cellOf = emb.map { case (id, _) =>
      val (x, n) = vecs(id)
      id -> (0 until 16).map(c => (-dot(x, seeds(c)) / n, c)).min._2.toLong
    }.toMap
    val evalIds = emb.map(_._1).filter(_ % 10 == 9)
    val trainIds = emb.map(_._1).filter(_ % 10 != 9)
    val expected = evalIds.map { id =>
      val (x, n) = vecs(id)
      val hits = trainIds.filter(t => cellOf(t) == cellOf(id))
        .map { t => val (y, m) = vecs(t); (t, dot(x, y) / (n * m)) }
        .filter(_._2 >= 0.4)
      if (hits.isEmpty) (id, -1L, 0.0, false)
      else {
        val (t, s) = hits.minBy { case (t, s) => (-s, t) }
        (id, t, BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_EVEN)
          .toDouble, true)
      }
    }.toSeq
    val got = Similarity.semanticDecontaminate(spark, sf)
      .as[(Long, Long, Double, Boolean)].collect().toSeq
    assert(got.map(r => (r._1, r._2, r._4)) ===
      expected.map(r => (r._1, r._2, r._4)))
    got.zip(expected).foreach { case (g, e) =>
      assert(math.abs(g._3 - e._3) < 1e-6, s"similarity mismatch at ${g._1}")
    }
    // both outcomes must occur for the spec to mean anything
    assert(got.exists(_._4) && got.exists(!_._4))
  }

  test("partPageRank matches a driver-side power iteration, mass conserved") {
    import spark.implicits._
    val op = graft.io.Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_partkey").as[(Long, Long)].collect().distinct
    // multigraph: parallel edges weight rank flow by co-purchase frequency
    val edges = for {
      (o1, p1) <- op; (o2, p2) <- op if o1 == o2 && p1 != p2
    } yield (p1, p2)
    val deg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val nodes = deg.keys.toSeq.sorted
    val n = nodes.size.toLong
    val unit = 1000000000000L
    val base = (unit - unit * 85L / 100L) / n
    var rank = nodes.map(_ -> unit / n).toMap
    for (_ <- 1 to 5) {
      val contrib = edges
        .map { case (s, d) => d -> rank(s) / deg(s) } // integer floor div
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      rank = nodes.map { v =>
        v -> (base + 85L * contrib.getOrElse(v, 0L) / 100L)
      }.toMap
    }
    val expected = rank.toSeq
      .map { case (k, v) => (k, v, v.toDouble / 1e12) }
      .sortBy { case (k, v, _) => (-v, k) }.take(25)
    val got = Graph.partPageRank(spark, sf).as[(Long, Long, Double)]
      .collect().toSeq
    assert(got === expected)
    // total rank mass stays ≈ unit (floor-division leakage < n·(deg+1))
    val mass = rank.values.sum
    assert(math.abs(mass - unit).toDouble / unit < 1e-3, s"mass drifted: $mass")
  }

  test("partTriangles matches a brute-force clique-3 census") {
    import spark.implicits._
    def sha8(id: Long): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(id.toString.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.substring(0, 8), 16)
    val op = graft.io.Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_partkey").as[(Long, Long)].collect().distinct
      .filter { case (_, p) => sha8(p) % 4 == 0 } // the vertex sample
    val und = (for {
      (o1, p1) <- op; (o2, p2) <- op if o1 == o2 && p1 < p2
    } yield (p1, p2)).distinct.toSet
    val nodes = und.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    val triCount = scala.collection.mutable.Map.empty[Long, Long]
    for {
      Seq(a, b, c) <- nodes.combinations(3)
      if und((a, b)) && und((a, c)) && und((b, c))
      v <- Seq(a, b, c)
    } triCount(v) = triCount.getOrElse(v, 0L) + 1L
    val expected = triCount.toSeq
      .sortBy { case (k, n) => (-n, k) }.take(25)
    val got = Graph.partTriangles(spark, sf).as[(Long, Long)].collect().toSeq
    assert(got === expected)
    assert(got.nonEmpty) // the fixture must actually contain triangles
  }

  test("copurchaseCommunities matches a brute-force union-find over strong edges") {
    import spark.implicits._
    val op = graft.io.Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_partkey").as[(Long, Long)].collect().distinct
    val weights = (for {
      (o1, p1) <- op; (o2, p2) <- op if o1 == o2 && p1 < p2
    } yield (p1, p2)).groupBy(identity).view.mapValues(_.size.toLong).toMap
    val strong = weights.filter(_._2 >= 2L)
    // union-find over the strong edges
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x; while (parent.getOrElse(r, r) != r) r = parent(r); r
    }
    strong.keys.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    val nodes = strong.keys.flatMap(e => Seq(e._1, e._2)).toSet
    val label = nodes.map(v => v -> {
      // min-label: the root after union-by-min IS the min of the component
      var r = find(v)
      r
    }).toMap
    val expected = nodes.groupBy(label).map { case (lbl, members) =>
      val internal = strong.filter { case ((a, _), _) => label(a) == lbl }
      (lbl, members.size.toLong, internal.size.toLong, internal.values.sum)
    }.toSeq.sortBy { case (lbl, np, _, _) => (-np, lbl) }
    val got = Graph.copurchaseCommunities(spark, sf)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got === expected)
    assert(got.nonEmpty, "fixture must contain repeat co-purchases")
    // labels really are the component minimum
    got.foreach { case (lbl, np, ne, tw) =>
      assert(np >= 2L && ne >= 1L && tw >= 2L * ne)
    }
  }

  test("graph reports: driver fast path == distributed branch (r13)") {
    import spark.implicits._
    // driver budget 0 forces every call down the distributed loop; the
    // default takes the typed-collect fast path. Both must emit the same
    // rows in the same order — the optimization contract.
    def rows(df: => org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      df.collect().toSeq.map(_.toSeq)
    assert(rows(Graph.copurchaseKCore(spark, sf)) ===
      withDriverBudget(0)(rows(Graph.copurchaseKCore(spark, sf))))
    assert(rows(Graph.copurchaseCommunities(spark, sf)) ===
      withDriverBudget(0)(rows(Graph.copurchaseCommunities(spark, sf))))
    assert(rows(Graph.partTriangles(spark, sf)) ===
      withDriverBudget(0)(rows(Graph.partTriangles(spark, sf))))
  }

  test("rank reports: driver fast path == distributed branch (r13)") {
    // driver budget 0 forces the distributed exact-rank machinery; the
    // default takes the footer-probed collect + local ntile/census path.
    // Same rows, same order — the optimization contract.
    def rows(df: => org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      df.collect().toSeq.map(_.toSeq)
    assert(rows(TextStats.perplexityBuckets(spark, sf)) ===
      withDriverBudget(0)(rows(TextStats.perplexityBuckets(spark, sf))))
    assert(rows(TextStats.qualityCalibration(spark, sf)) ===
      withDriverBudget(0)(rows(TextStats.qualityCalibration(spark, sf))))
    assert(rows(TextStats.qualityThresholdByLang(spark, sf)) ===
      withDriverBudget(0)(rows(TextStats.qualityThresholdByLang(spark, sf))))
    // r14: zipf_fit's histogram-arithmetic driver branch vs the
    // exact-rank distributed branch, including a topK that cuts MID-tie
    // (same ln-micro sums either way: tied-cnt ranks share yi)
    assert(rows(TextStats.zipfFit(spark, sf)) ===
      withDriverBudget(0)(rows(TextStats.zipfFit(spark, sf))))
    assert(rows(TextStats.zipfFit(spark, sf, topK = 7)) ===
      withDriverBudget(0)(rows(TextStats.zipfFit(spark, sf, topK = 7))))
  }

  test("clusterBalancedSample: per-cell quota, disjoint, deterministic") {
    import spark.implicits._
    val s1 = Similarity.clusterBalancedSample(spark, sf)
      .as[(Long, Int, Long)].collect().toSeq
    val s2 = Similarity.clusterBalancedSample(spark, sf)
      .as[(Long, Int, Long)].collect().toSeq
    assert(s1 === s2)
    val byCell = s1.groupBy(_._1)
    byCell.foreach { case (_, rows) =>
      assert(rows.length <= 8)
      assert(rows.map(_._2).sorted === (1 to rows.length))
    }
    assert(s1.map(_._3).distinct.length === s1.length)
  }

  test("boilerplateNgrams matches a driver-side gram census") {
    import spark.implicits._
    val docs = graft.io.Tables.documents(spark, sf)
      .select("doc_id", "text").as[(Long, String)].collect()
    val gramDocs = docs.flatMap { case (id, text) =>
      val toks = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
      toks.sliding(8).filter(_.length == 8).map(_.mkString(" ")).toSet.iterator
        .map((g: String) => (g, id))
    }
    val census = gramDocs.groupBy(_._1).view
      .mapValues(ds => (ds.length.toLong, ds.map(_._2).min)).toMap
      .filter(_._2._1 >= 3L)
    val expected = census.toSeq
      .map { case (g, (df, first)) => (g, df, first) }
      .sortBy { case (g, df, _) => (-df, g) }
      .take(50)
    val got = Dedup.boilerplateNgrams(spark, sf)
      .as[(String, Long, Long)].collect().toSeq
    assert(got === expected)
  }

  test("pmiPairs matches a driver-side bigram/unigram census") {
    import spark.implicits._
    val docs = graft.io.Tables.documents(spark, sf)
      .select("text").as[String].collect()
      .map(_.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq)
    val uni = docs.flatten.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val big = docs.flatMap(_.sliding(2).filter(_.length == 2))
      .map(p => (p(0), p(1)))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val nTok = uni.values.sum.toDouble
    val nBig = big.values.sum.toDouble
    val expected = big.toSeq
      .filter(_._2 >= 5L)
      .sortBy { case ((a, b), c) => (-c, a, b) }
      .take(50)
      .map { case ((a, b), c) =>
        val pmi = math.log((c / nBig) / ((uni(a) / nTok) * (uni(b) / nTok)))
        (a, b, c, math.rint(pmi * 1e6) / 1e6)
      }
    val got = TextStats.pmiPairs(spark, sf)
      .as[(String, String, Long, Double)].collect().toSeq
    assert(got === expected)
  }

  test("valueHistogram: bins partition each type's values exactly") {
    import spark.implicits._
    val byType = graft.io.Tables.events(spark, sf)
      .select("event_type", "value").as[(String, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val got = EventAnalytics.valueHistogram(spark, sf).collect()
      .groupBy(_.getAs[String]("event_type"))
    byType.foreach { case (t, vs) =>
      val lo = vs.min; val hi = vs.max
      val expected = vs.groupBy { v =>
        if (hi == lo) 0L
        else math.min(math.floor((v - lo) * 20.0 / (hi - lo)).toLong, 19L)
      }.view.mapValues(_.length.toLong).toMap
      val rows = got(t).map(r => r.getAs[Long]("bin") -> r.getAs[Long]("n_events")).toMap
      assert(rows === expected, s"type $t")
      // bounds bracket the data
      got(t).foreach { r =>
        assert(r.getAs[Double]("bin_lo") <= r.getAs[Double]("bin_hi"))
      }
    }
  }

  test("fertility aggregates bpe_apply per language") {
    import spark.implicits._
    val langs = graft.io.Tables.documents(spark, sf)
      .select("doc_id", "lang").as[(Long, String)].collect().toMap
    val per = BpeTrainer.applyMerges(spark, sf, BpeTrainer.FixedMerges)
      .as[(Long, Long, Long)].collect()
    val expected = per.groupBy(r => langs(r._1)).view.mapValues { rs =>
      (rs.length.toLong, rs.map(_._2).sum, rs.map(_._3).sum)
    }.toMap
    val got = BpeTrainer.fertility(spark, sf).collect()
    assert(got.map(_.getAs[String]("lang")).toSet === expected.keySet)
    got.foreach { r =>
      val (nd, w, t) = expected(r.getAs[String]("lang"))
      assert(r.getAs[Long]("n_docs") === nd)
      assert(r.getAs[Long]("total_words") === w)
      assert(r.getAs[Long]("total_bpe_tokens") === t)
      assert(math.abs(r.getAs[Double]("fertility")
        - math.rint(t.toDouble / w.toDouble * 1e6) / 1e6) < 1e-9)
      // merges can only shrink token counts to no less than one per word
      assert(t >= w)
    }
  }

  test("keySkew reports the true heaviest keys with exact ratios") {
    import spark.implicits._
    val counts = graft.io.Tables.events(spark, sf)
      .select("user_id").as[Long].collect()
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val total = counts.values.sum.toDouble
    val avg = total / counts.size.toDouble
    val expected = counts.toSeq.sortBy { case (k, n) => (-n, k) }.take(20)
      .map { case (k, n) =>
        (k, n, math.rint(n / total * 1e6) / 1e6, math.rint(n / avg * 1e6) / 1e6)
      }
    val got = EventAnalytics.keySkew(spark, sf)
      .as[(Long, Long, Double, Double)].collect().toSeq
    assert(got === expected)
  }

  test("copurchasePairs matches a driver-side per-order pair expansion") {
    import spark.implicits._
    val orders = graft.io.Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_partkey").as[(Long, Long)].collect()
      .distinct.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val counts = orders.values.flatMap { parts =>
      for (i <- parts.indices; j <- (i + 1) until parts.length)
        yield (parts(i), parts(j))
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val expected = counts.toSeq
      .sortBy { case ((a, b), n) => (-n, a, b) }.take(25)
      .map { case ((a, b), n) => (a, b, n) }
    val got = graft.queries.Marketplace.copurchasePairs(spark, sf)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got === expected)
  }

  test("dailyTypePivot: wide cells sum back to the raw event count") {
    val out = EventAnalytics.dailyTypePivot(spark, sf).collect()
    val types = Seq("click", "error", "purchase", "signup", "view")
    val cellSum = out.map(r => types.map(t => r.getAs[Long](t)).sum).sum
    assert(cellSum === graft.io.Tables.events(spark, sf).count())
    // pinned value list → fixed schema regardless of which types occur
    assert(out.head.schema.fieldNames.toSeq === "day" +: types)
  }

  test("groupingSetsReport: levels are consistent projections of the base") {
    val rows = EventAnalytics.groupingSetsReport(spark, sf).collect()
    def lvl(t: Boolean, d: Boolean) = rows.filter(r =>
      (r.get(0) != null) == t && (r.get(1) != null) == d)
    val base = lvl(t = true, d = true)
    val total = graft.io.Tables.events(spark, sf).count()
    // each marginal and the grand total re-aggregate the finest level
    assert(lvl(t = false, d = false).map(_.getAs[Long]("n_events")).sum === total)
    assert(lvl(t = true, d = false).map(_.getAs[Long]("n_events")).sum === total)
    assert(lvl(t = false, d = true).map(_.getAs[Long]("n_events")).sum === total)
    assert(base.map(_.getAs[Long]("n_events")).sum === total)
    // dow derivation stays in [0, 6]
    assert(base.forall { r => val d = r.getAs[Int]("dow"); d >= 0 && d <= 6 })
  }

  test("dominantLang agrees with a driver-side per-source argmax") {
    val docs = graft.io.Tables.documents(spark, sf)
      .select("source", "lang").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val expected = docs.groupBy(_._1).map { case (src, rows) =>
      val byLang = rows.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      val (lang, n) = byLang.toSeq.sortBy { case (l, n) => (-n, l) }.head
      src -> ((lang, n, n.toDouble / rows.size))
    }
    val got = TextStats.dominantLang(spark, sf).collect()
    assert(got.length === expected.size)
    got.foreach { r =>
      val (lang, n, share) = expected(r.getAs[String]("source"))
      assert(r.getAs[String]("top_lang") === lang)
      assert(r.getAs[Long]("n_docs") === n)
      assert(math.abs(r.getAs[Double]("share") - share) < 1e-12)
    }
  }

  test("shippingPriority matches an independent flat-SQL recompute") {
    import graft.io.Tables
    Tables.customer(spark, sf).createOrReplaceTempView("__sp_c")
    Tables.orders(spark, sf).createOrReplaceTempView("__sp_o")
    Tables.lineitem(spark, sf).createOrReplaceTempView("__sp_l")
    val expected = spark.sql(
      """SELECT o_orderkey,
        |       round(CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount), 6)
        |                          AS DECIMAL(18,6))) AS DOUBLE), 6) AS revenue
        |FROM __sp_c JOIN __sp_o ON o_custkey = c_custkey
        |            JOIN __sp_l ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-07-01'
        |  AND l_shipdate > TIMESTAMP '1998-07-01'
        |GROUP BY o_orderkey
        |ORDER BY revenue DESC, o_orderkey ASC LIMIT 10""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val got = graft.queries.Marketplace.shippingPriority(spark, sf).collect()
      .map(r => (r.getAs[Long]("o_orderkey"), r.getAs[Double]("revenue")))
    assert(got.toSeq === expected.toSeq)
    // the dim filter + date predicates actually select something at sf0.001
    assert(got.nonEmpty)
  }

  test("incrementalDailyCounts: base ⊕ delta ≡ flat full aggregate") {
    import graft.io.Tables
    val merged = EventAnalytics.incrementalDailyCounts(spark, sf).collect()
    val full = Tables.events(spark, sf)
      .withColumn("day", to_date(col("ts")).cast("string"))
      .withColumn("__v", round(col("value"), 6).cast("decimal(18,6)"))
      .groupBy(col("day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("__v")).cast("double"), 6).as("value_sum"),
        min(col("value")).as("min_value"), max(col("value")).as("max_value"))
      .orderBy(col("day").asc, col("event_type").asc)
      .select("day", "event_type", "n_events", "value_sum",
        "min_value", "max_value")
      .collect()
    assert(merged.length === full.length)
    merged.zip(full).foreach { case (m, f) => assert(m === f) }
  }

  test("pricingSummary: groups cover the filtered scan; avgs derive from sums") {
    val out = graft.queries.Marketplace.pricingSummary(spark, sf).collect()
    val filtered = graft.io.Tables.lineitem(spark, sf)
      .filter(col("l_shipdate") <= lit("2001-06-01").cast("timestamp")).count()
    assert(out.map(_.getAs[Long]("count_order")).sum === filtered)
    out.foreach { r =>
      val n = r.getAs[Long]("count_order").toDouble
      assert(math.abs(r.getAs[Double]("avg_qty") -
        r.getAs[Double]("sum_qty") / n) < 1e-5)
      assert(r.getAs[Double]("sum_disc_price") <=
        r.getAs[Double]("sum_base_price") + 1e-9)
      assert(r.getAs[Double]("sum_charge") >=
        r.getAs[Double]("sum_disc_price") - 1e-9)
    }
  }

  test("gapFillInterpolate: observed exact, gaps strictly between neighbors") {
    val out = EventAnalytics.gapFillInterpolate(spark, sf).collect()
    val types = out.map(_.getAs[String]("event_type")).distinct
    val hours = out.map(_.getAs[Any]("hour")).distinct
    assert(out.length === types.length * hours.length) // full grid
    out.groupBy(_.getAs[String]("event_type")).foreach { case (_, rows) =>
      // rows arrive sorted by hour; interior gaps interpolate between the
      // nearest observed values, so they must lie inside that bracket
      var lastObs: Option[Double] = None
      val obsIdx = rows.zipWithIndex.filter(_._1.getAs[Boolean]("observed"))
      rows.zipWithIndex.foreach { case (r, i) =>
        val v = Option(r.getAs[Any]("value")).map(_.asInstanceOf[Double])
        if (r.getAs[Boolean]("observed")) { assert(v.isDefined); lastObs = v }
        else {
          val before = obsIdx.filter(_._2 < i).lastOption.map(_._1.getAs[Double]("value"))
          val after = obsIdx.find(_._2 > i).map(_._1.getAs[Double]("value"))
          (before, after) match {
            case (Some(b), Some(a)) =>
              val (lo, hi) = (math.min(b, a), math.max(b, a))
              assert(v.isDefined && v.get >= lo - 1e-6 && v.get <= hi + 1e-6)
            case _ => assert(v.isEmpty) // leading/trailing gap: stays null
          }
        }
      }
    }
  }

  test("fkAudit matches driver-side set arithmetic on every edge") {
    import spark.implicits._
    def keys(t: String, c: String): Seq[Long] =
      graft.io.Tables.table(spark, sf, t).select(col(c).cast("long"))
        .as[Long].collect().toSeq
    val edges = Seq(
      ("lineitem", "l_orderkey", "orders", "o_orderkey"),
      ("lineitem", "l_partkey", "part", "p_partkey"),
      ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
      ("orders", "o_custkey", "customer", "c_custkey"),
      ("customer", "c_nationkey", "nation", "n_nationkey"),
      ("nation", "n_regionkey", "region", "r_regionkey"))
    val expected = edges.map { case (ct, fk, pt, pk) =>
      val child = keys(ct, fk)
      val parent = keys(pt, pk).toSet
      (ct, fk, pt, child.size.toLong,
        child.count(k => !parent(k)).toLong,
        parent.size.toLong,
        (parent -- child.toSet).size.toLong)
    }.sortBy(e => (e._1, e._2))
    val got = graft.ops.Profiling.fkAudit(spark, sf).collect().map(r =>
      (r.getAs[String]("child_table"), r.getAs[String]("fk_column"),
        r.getAs[String]("parent_table"), r.getAs[Long]("n_child_rows"),
        r.getAs[Long]("n_orphan_child_rows"), r.getAs[Long]("n_parent_keys"),
        r.getAs[Long]("n_unreferenced_parents"))).toSeq
    assert(got === expected)
    // the fixture warehouse is internally consistent on the dim edges
    got.filter(_._3 != "orders").foreach(e => assert(e._5 === 0L, e.toString))
  }

  test("psiDrift: terms are non-negative, spine is fixed, drift shows where planted") {
    import spark.implicits._
    // crafted corpus: reference docs short (bucket 0), current slice
    // (doc_id % 10 == 9) long (bucket 5) — maximal planted drift
    val dir = "/tmp/graft_test_psi"
    (0L until 100L).map { i =>
      val cur = i % 10 == 9
      (i, "t", "en", "s", if (cur) 1000L else 50L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = graft.ops.Profiling.psiDrift(spark, dir).collect()
    // the 0..9 spine is complete even though 8 buckets are empty
    assert(rows.map(_.getAs[Long]("len_bucket")).toSeq === (0L to 9L))
    // (p-q)·ln(p/q) has matching signs — every term is >= 0
    rows.foreach(r => assert(r.getAs[Double]("psi_term") >= 0.0, r.toString))
    val byBucket = rows.map(r =>
      r.getAs[Long]("len_bucket") -> r.getAs[Double]("psi_term")).toMap
    // all reference mass sits in bucket 0, all current mass in bucket 5:
    // both carry large terms; untouched buckets carry ~0
    assert(byBucket(0L) > 1.0 && byBucket(5L) > 1.0)
    // empty-on-both-sides buckets hit the shared ε floor → exactly 0
    assert(byBucket(3L) === 0.0)
    val total = rows.map(_.getAs[Double]("psi_term")).sum
    assert(total > 0.2, s"planted shift must cross the PSI alert line: $total")
    // counts reconcile
    assert(rows.map(_.getAs[Long]("n_ref")).sum === 90L)
    assert(rows.map(_.getAs[Long]("n_cur")).sum === 10L)
    // and the homogeneous real fixture shows NO alert-level drift
    val calm = graft.ops.Profiling.psiDrift(spark, sf).collect()
      .map(_.getAs[Double]("psi_term")).sum
    assert(calm >= 0.0 && calm < 0.2, s"uniform fixture drifted: $calm")
  }

  test("shardChecksums matches a driver-side sha-256 digest recompute") {
    def sha(s: String): String = java.security.MessageDigest
      .getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    val docs = graft.io.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val expected = docs.groupBy { case (id, _) =>
      java.lang.Long.parseLong(sha(id.toString).substring(0, 8), 16) % 8
    }.view.mapValues { rows =>
      val hs = rows.map { case (id, t) =>
        java.lang.Long.parseLong(sha(s"$id|$t").substring(0, 15), 16)
      }
      (rows.size.toLong, hs.reduce(_ ^ _), hs.map(_ % 1000000007L).sum)
    }.toMap
    val got = graft.ops.Profiling.shardChecksums(spark, sf).collect()
    assert(got.map(_.getAs[Long]("n_docs")).sum === docs.length.toLong)
    got.foreach { r =>
      val (n, x, m) = expected(r.getAs[Long]("shard"))
      assert(r.getAs[Long]("n_docs") === n)
      assert(r.getAs[Long]("xor_digest") === x)
      assert(r.getAs[Long]("mod_digest") === m)
    }
  }

  test("perplexityBuckets: buckets partition docs, boundaries are ordered") {
    val out = TextStats.perplexityBuckets(spark, sf).collect()
    assert(out.map(_.getAs[Int]("ppl_bucket")).toSeq === (1 to out.length))
    assert(out.map(_.getAs[Long]("n_docs")).sum ===
      graft.io.Tables.documents(spark, sf).count())
    // quartile score ranges must be disjoint and increasing
    out.sliding(2).foreach {
      case Array(lo, hi) =>
        assert(lo.getAs[Double]("max_mean_rank") <=
          hi.getAs[Double]("min_mean_rank"))
      case _ =>
    }
  }
}
