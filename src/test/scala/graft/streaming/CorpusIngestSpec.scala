package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Streaming incremental corpus dedup: each micro-batch judged against the
  * fingerprint index as of its start, clean keepers extending the index
  * for later batches.
  */
class CorpusIngestSpec extends SparkSpec {

  test("dedupBatch resolves index dups, in-batch dups, and keepers") {
    import spark.implicits._
    val index = Seq(("fpX", 1L)).toDF("fp", "keeper") // placeholder, unused fp
    val corpusIndexed = Seq("old text").toDF("text")
      .select(sha2(col("text"), 256).as("fp"), lit(1L).as("keeper"))
    val batch = Seq(
      (10L, "old text", "en", "s"),   // dup of indexed keeper 1
      (11L, "fresh text", "en", "s"), // in-batch keeper
      (12L, "fresh text", "en", "s")  // in-batch dup of 11
    ).toDF("doc_id", "text", "lang", "source")
    val (report, newEntries) = CorpusIngest.dedupBatch(batch, corpusIndexed)
    val got = report.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(got === Map(
      10L -> ((1L, true)), 11L -> ((-1L, false)), 12L -> ((11L, true))))
    // only the genuinely new text joins the index, under its batch keeper
    assert(newEntries.collect().map(_.getLong(1)).toSeq === Seq(11L))
    assert(index.count() === 1) // untouched
  }

  test("ingestDedup: later batches see keepers appended by earlier ones") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft_ingest").toString
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF()
      .select(col("_1").as("doc_id"), col("_2").as("text"),
        lit("en").as("lang"), lit("s").as("source"))
    val q = CorpusIngest.ingestDedup(
      docs, s"$dir/index", s"$dir/report", s"$dir/ckpt")
    try {
      input.addData((1L, "alpha"), (2L, "alpha"), (3L, "beta"))
      q.processAllAvailable()
      input.addData((4L, "alpha"), (5L, "gamma"))
      q.processAllAvailable()
    } finally q.stop()
    val report = spark.read.parquet(s"$dir/report").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(report === Map(
      1L -> ((-1L, false)), 2L -> ((1L, true)), 3L -> ((-1L, false)),
      4L -> ((1L, true)),   // batch-2 dup of the batch-1 keeper via the index
      5L -> ((-1L, false))))
    val index = spark.read.parquet(s"$dir/index").collect()
      .map(_.getLong(1)).toSet
    assert(index === Set(1L, 3L, 5L)) // one keeper per distinct text ever seen
  }

  test("ingestDedup sink: every torn-write window converges to the uninterrupted result") {
    import spark.implicits._
    def doc(id: Long, t: String) = (id, t, "en", "s")
    val b0 = Seq(doc(1, "alpha"), doc(2, "alpha"), doc(3, "beta"))
      .toDF("doc_id", "text", "lang", "source")
    val b1 = Seq(doc(4, "alpha"), doc(5, "gamma"), doc(6, "gamma"))
      .toDF("doc_id", "text", "lang", "source")
    val b2 = Seq(doc(7, "gamma"), doc(8, "delta"))
      .toDF("doc_id", "text", "lang", "source")
    def indexOf(dir: String) = spark.read.parquet(s"$dir/index").collect()
      .map(r => (r.getString(0), r.getLong(1))).sortBy(_._2).toSeq
    def reportOf(dir: String) = spark.read.parquet(s"$dir/report").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    // reference: the uninterrupted run
    val ref = Files.createTempDirectory("graft_torn_ref").toString
    Seq(b0, b1, b2).foreach(b =>
      CorpusIngest.ingestDedupBody(b, s"$ref/index", s"$ref/report"))
    // window A — crash AFTER both appends, BEFORE the checkpoint commit:
    // the stream re-runs the whole batch body against an index that
    // already holds the batch's keepers
    val a = Files.createTempDirectory("graft_torn_a").toString
    CorpusIngest.ingestDedupBody(b0, s"$a/index", s"$a/report")
    CorpusIngest.ingestDedupBody(b1, s"$a/index", s"$a/report")
    CorpusIngest.ingestDedupBody(b1, s"$a/index", s"$a/report") // replay
    CorpusIngest.ingestDedupBody(b2, s"$a/index", s"$a/report")
    assert(indexOf(a) === indexOf(ref),
      "window-A replay changed the index (row-exact, no duplicate fingerprints)")
    assert(reportOf(a).toSet === reportOf(ref).toSet,
      "window-A replay changed the report's distinct content")
    assert(reportOf(a).groupBy(_._1).forall(_._2.distinct.size == 1),
      "replayed report rows must be VALUE-identical per doc_id")
    // window B — crash BETWEEN the report append and the index append:
    // the report landed, the keepers did not; the retry re-runs the body
    val b = Files.createTempDirectory("graft_torn_b").toString
    CorpusIngest.ingestDedupBody(b0, s"$b/index", s"$b/report")
    val (halfReport, _) = CorpusIngest.dedupBatch(
      b1, spark.read.parquet(s"$b/index"))
    halfReport.write.mode("append").parquet(s"$b/report") // crash here
    CorpusIngest.ingestDedupBody(b1, s"$b/index", s"$b/report") // retry
    CorpusIngest.ingestDedupBody(b2, s"$b/index", s"$b/report")
    assert(indexOf(b) === indexOf(ref),
      "window-B retry changed the index")
    assert(reportOf(b).toSet === reportOf(ref).toSet,
      "window-B retry changed the report's distinct content")
  }

  test("dedupBatch replay (keeper already indexed) reproduces the report") {
    import spark.implicits._
    val batch = Seq(
      (11L, "fresh text", "en", "s"),
      (12L, "fresh text", "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
    val empty = Seq.empty[(String, Long)].toDF("fp", "keeper")
    val (first, entries) = CorpusIngest.dedupBatch(batch, empty)
    // crash window: entries reached the index, the commit did not — the
    // re-run judges the SAME batch against an index holding its own keeper
    val (replay, replayEntries) = CorpusIngest.dedupBatch(batch, entries)
    def norm(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(norm(replay) === norm(first), "replayed report must be identical")
    assert(norm(first) === Set((11L, -1L, false), (12L, 11L, true)))
    assert(replayEntries.count() === 0L, "replay adds no duplicate index rows")
  }

  private val baseText = "the quick brown fox jumps over the lazy dog " +
    "and runs far away home tonight under bright winter stars"

  test("nearDupBatch resolves index near-dups, batch-mates, and keepers") {
    import spark.implicits._
    val indexSig = graft.ext.Dedup.minHashSignaturesOf(
      Seq((1L, baseText, "en", "s"))
        .toDF("doc_id", "text", "lang", "source"))
    val batch = Seq(
      (10L, baseText, "en", "s"),                          // exact dup of indexed 1
      (11L, baseText.replace("lazy", "sleepy"), "en", "s"), // near-dup of indexed 1
      (12L, "completely different words about columnar engines and shuffles everywhere", "en", "s"),
      (13L, "completely different words about columnar engines and shuffles everywhere", "en", "s")) // batch-mate dup of 12
      .toDF("doc_id", "text", "lang", "source")
    val (report, newEntries) = graft.ext.Dedup.nearDupBatch(
      graft.ext.Dedup.minHashSignaturesOf(batch), indexSig)
    val got = report.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(3)))).toMap
    assert(got(10L) === ((1L, true)))
    assert(got(11L) === ((1L, true)))
    assert(got(12L) === ((-1L, false)))
    assert(got(13L) === ((12L, true)))
    // only the new keeper's signature joins the index
    assert(newEntries.select("doc_id").collect().map(_.getLong(0)).toSeq === Seq(12L))
  }

  test("nearDupBatch replay (keeper already indexed) reproduces the report") {
    import spark.implicits._
    val batch = Seq(
      (11L, baseText, "en", "s"),
      (12L, baseText, "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
    val sig = graft.ext.Dedup.minHashSignaturesOf(batch)
    val emptyIndex = sig.filter(lit(false))
    val (first, entries) = graft.ext.Dedup.nearDupBatch(sig, emptyIndex)
    // crash window: entries reached the index, the commit did not
    val (replay, replayEntries) = graft.ext.Dedup.nearDupBatch(sig, entries)
    def norm(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(3))).toSet
    assert(norm(replay) === norm(first), "replayed report must be identical")
    assert(norm(first) === Set((11L, -1L, false), (12L, 11L, true)))
    assert(replayEntries.count() === 0L, "replay adds no duplicate index rows")
  }

  test("ingestNearDedup: later batches match keepers appended by earlier ones") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft_ingest_near").toString
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF()
      .select(col("_1").as("doc_id"), col("_2").as("text"),
        lit("en").as("lang"), lit("s").as("source"))
    val q = CorpusIngest.ingestNearDedup(
      docs, s"$dir/index", s"$dir/report", s"$dir/ckpt")
    try {
      input.addData((1L, baseText), (2L, "unrelated corpus text about engines and formats and very different things"))
      q.processAllAvailable()
      input.addData((3L, baseText.replace("lazy", "sleepy")), (4L, baseText))
      q.processAllAvailable()
    } finally q.stop()
    val report = spark.read.parquet(s"$dir/report").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(3)))).toMap
    assert(report === Map(
      1L -> ((-1L, false)), 2L -> ((-1L, false)),
      3L -> ((1L, true)),   // near-dup of the batch-1 keeper via the index
      4L -> ((1L, true))))  // exact dup via the index
    val index = spark.read.parquet(s"$dir/index").collect()
      .map(_.getLong(0)).toSet
    assert(index === Set(1L, 2L)) // keepers only, batch-2 added none
  }

  test("ingestVectors: streamed index equals the batch derivation; replays add nothing") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft_vecingest").toString
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    // frozen quantizer = the maintained index's seed vectors
    val seeds = emb.orderBy(col("vec_id").asc).limit(16)
      .select("vec_id", "embedding")
    val all = emb.filter(col("vec_id").between(100, 179))
      .select("vec_id", "embedding", "label").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1), r.getInt(2)))
    val input = MemoryStream[(Long, Seq[Float], Int)]
    val docs = input.toDF()
      .select(col("_1").as("vec_id"), col("_2").cast("array<float>").as("embedding"),
        col("_3").as("label"))
    val q = CorpusIngest.ingestVectors(docs, seeds, s"$dir/index", s"$dir/ckpt")
    try {
      input.addData(all.take(40).toIndexedSeq)
      q.processAllAvailable()
      input.addData(all.drop(40).toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    def indexRows() = spark.read.parquet(s"$dir/index")
      .select("vec_id", "cell", "cell_id", "sim", "norm",
        "code0", "code1", "code2", "code3")
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
    val streamed = indexRows()
    assert(streamed.length === 80)
    // row-for-row identical to the batch derivation under the same seeds
    val batchDerived = graft.ext.Similarity.deriveIndexRows(
      spark, emb.filter(col("vec_id").between(100, 179))
        .select("vec_id", "embedding", "label"), seeds)
      .select("vec_id", "cell", "cell_id", "sim", "norm",
        "code0", "code1", "code2", "code3")
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
    assert(streamed === batchDerived,
      "streamed index must equal the batch derivation under the frozen quantizer")
    // crash-window replay: re-running a completed batch derives ZERO rows
    val replayBatch = emb.filter(col("vec_id").between(140, 179))
      .select("vec_id", "embedding", "label")
    CorpusIngest.vectorBatchBody(replayBatch, seeds, s"$dir/index")
    assert(indexRows() === streamed, "replay must not duplicate index rows")
  }

  test("ingestPostings: streamed lexical index equals the batch derivation; replays add nothing") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft_postingest").toString
    val docsTable = spark.read.parquet(s"$sf/documents.parquet")
    val all = docsTable.filter(col("doc_id").between(100, 179))
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF()
      .select(col("_1").as("doc_id"), col("_2").as("text"))
    val q = CorpusIngest.ingestPostings(docs, s"$dir/index", s"$dir/ckpt")
    try {
      input.addData(all.take(40).toIndexedSeq)
      q.processAllAvailable()
      input.addData(all.drop(40).toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    def indexRows() = spark.read.parquet(s"$dir/index")
      .collect().map(_.toSeq)
      .sortBy(r => (r.head.asInstanceOf[Long], r(1).asInstanceOf[String]))
    val streamed = indexRows()
    // row-for-row identical to the batch kernel over the same docs —
    // tf AND the denormalized dl (dl is per-doc, so per-shard derivation
    // IS the global value)
    val batchDerived = graft.ext.Search.postingsOf(
      docsTable.filter(col("doc_id").between(100, 179))
        .select("doc_id", "text"))
      .collect().map(_.toSeq)
      .sortBy(r => (r.head.asInstanceOf[Long], r(1).asInstanceOf[String]))
    assert(streamed === batchDerived,
      "streamed postings must equal the batch derivation")
    // crash-window replay: re-running a completed shard derives ZERO rows
    CorpusIngest.postingsBatchBody(
      docsTable.filter(col("doc_id").between(140, 179))
        .select("doc_id", "text"), s"$dir/index")
    assert(indexRows() === streamed, "replay must not duplicate postings")
    // consumer-level: corpus stats derived from the streamed index agree
    // with the batch kernel's (no stale-global window for a stream to hit)
    val streamedStats = spark.read.parquet(s"$dir/index")
      .agg(count_distinct(col("doc_id")), sum(col("tf"))).first()
    val expectToks = all.map(_._2.toLowerCase.split("\\s+")
      .count(_.nonEmpty).toLong).sum
    assert(streamedStats.getLong(0) ===
      all.count(_._2.split("\\s+").exists(_.nonEmpty)).toLong)
    assert(streamedStats.getLong(1) === expectToks)
  }

  test("ingestEdges: streamed edge index equals the one-shot bounded derivation; replays net to zero") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft_edgeingest").toString
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .filter(col("l_orderkey") <= 400)
      .select(col("l_orderkey"), col("l_partkey"), col("l_linenumber"))
    val rows = li.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // split BY LINE PARITY so epoch 2's orders genuinely merge with
    // memberships epoch 1 committed (the new×old pair leg)
    val shard1 = rows.filter(_._3 % 2 == 0).map(t => (t._1, t._2))
    val shard2 = rows.filter(_._3 % 2 == 1).map(t => (t._1, t._2))
    assert(shard1.nonEmpty && shard2.nonEmpty)
    val input = MemoryStream[(Long, Long)]
    val lines = input.toDF()
      .select(col("_1").as("l_orderkey"), col("_2").as("l_partkey"))
    val q = CorpusIngest.ingestEdges(lines, s"$dir/index", s"$dir/ckpt")
    try {
      input.addData(shard1.toIndexedSeq)
      q.processAllAvailable()
      input.addData(shard2.toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    def merged() = CorpusIngest.readEdgeIndex(spark, s"$dir/index")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2)).toSeq
    val streamed = merged()
    // one-shot bounded derivation over the same lines (the batch
    // artifact's build kernel)
    val op = graft.ext.Graph.boundedBaskets(
      li.select("l_orderkey", "l_partkey").distinct())
    val oneShot = graft.ext.Graph.edgeAggW(graft.ext.Graph.edgePairsOf(op, op))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(streamed === oneShot,
      "streamed+merged edge index must equal the one-shot derivation")
    // crash-window replay of the SECOND epoch (epoch-scoped overwrite:
    // re-derives identical rows from epochs < 1, nets to zero)
    CorpusIngest.edgeBatchBody(
      shard2.toSeq.toDF("l_orderkey", "l_partkey"), s"$dir/index", 1L)
    assert(merged() === streamed, "replayed epoch must not change weights")
  }

  test("census leg: streamed denominators equal the one-shot census; part_affinity parity") {
    val dir = Files.createTempDirectory("graft_censusingest").toString
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_orderkey"), col("l_partkey"), col("l_linenumber"))
    // FULL-corpus ingest in two line-split epochs + a crash-window
    // replay — so the streamed census can be compared to the registered
    // artifact-backed part_affinity, not just a one-shot recompute
    def shard(r: Int) = li.filter(col("l_linenumber") % 2 === r)
      .select("l_orderkey", "l_partkey")
    CorpusIngest.edgeBatchBody(shard(0), s"$dir/index", 0L)
    CorpusIngest.edgeBatchBody(shard(1), s"$dir/index", 1L)
    CorpusIngest.edgeBatchBody(shard(1), s"$dir/index", 1L) // replay
    val streamed = CorpusIngest.readCensusIndex(spark, s"$dir/index")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val b = graft.ext.Graph.boundedBaskets(
      li.select("l_orderkey", "l_partkey").distinct())
    val oneShot = b.groupBy(col("l_partkey")).agg(count(lit(1)).as("pc"))
      .unionByName(b.select(col("l_orderkey")).distinct()
        .agg(count(lit(1)).as("pc"))
        .select(lit(-1L).as("l_partkey"), col("pc")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(streamed === oneShot,
      "merged census epochs must equal the one-shot bounded census")
    // part_affinity served entirely from the STREAMED index equals the
    // registered artifact-backed query row-for-row
    val viaStream = graft.queries.Marketplace.affinityOf(
      CorpusIngest.readCensusIndex(spark, s"$dir/index"),
      CorpusIngest.readEdgeIndex(spark, s"$dir/index"))
      .collect().toSeq
    val viaArtifact = graft.queries.Marketplace.partAffinity(spark, sf)
      .collect().toSeq
    assert(viaStream === viaArtifact,
      "part_affinity over the streamed index must match the batch artifact")
  }

  test("ingestEdges cap-crossing: an order crossing MaxBasket cancels its committed pairs") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_edgecap").toString
    val cap = graft.ext.Graph.MaxBasket.toInt
    // epoch 0: order 1 holds 3 parts (6 directed pairs commit); order 2
    // holds 2 parts
    val e0 = (Seq((1L, 101L), (1L, 102L), (1L, 103L)) ++
      Seq((2L, 201L), (2L, 202L))).toDF("l_orderkey", "l_partkey")
    CorpusIngest.edgeBatchBody(e0, s"$dir/index", 0L)
    assert(CorpusIngest.readEdgeIndex(spark, s"$dir/index").count() === 8)
    def census() = CorpusIngest.readCensusIndex(spark, s"$dir/index")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(census() === Map(101L -> 1L, 102L -> 1L, 103L -> 1L,
      201L -> 1L, 202L -> 1L, -1L -> 2L),
      "epoch 0 census: one membership per part, two bounded baskets")
    // epoch 1: order 1 crosses the cap (3 old + cap-2 new > cap) — its
    // committed pairs must CANCEL; order 2 gains one part under the cap
    val e1 = ((1 to (cap - 2)).map(i => (1L, 1000L + i)) ++
      Seq((2L, 203L))).toDF("l_orderkey", "l_partkey")
    CorpusIngest.edgeBatchBody(e1, s"$dir/index", 1L)
    def merged() = CorpusIngest.readEdgeIndex(spark, s"$dir/index")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val after = merged()
    // exactly the one-shot bounded derivation: order 1 excluded wholly,
    // order 2's 3 parts pair fully
    val expect = (for {
      a <- Seq(201L, 202L, 203L); b <- Seq(201L, 202L, 203L) if a != b
    } yield (a, b, 1L)).toSet
    assert(after === expect,
      s"crossing order's pairs must cancel; got ${after.size} rows")
    // census mirrors the cancel with its own ≥1 crossing bound: order
    // 1's three counted memberships net to zero (rows dropped), its
    // sentinel contribution is withdrawn, the crossing epoch's own
    // over-cap rows were never counted; order 2's new part counts
    val expectCensus = Map(201L -> 1L, 202L -> 1L, 203L -> 1L, -1L -> 1L)
    assert(census() === expectCensus,
      "crossing order's census counts + sentinel must cancel")
    // replay of the crossing epoch re-derives the same cancellation
    CorpusIngest.edgeBatchBody(e1, s"$dir/index", 1L)
    assert(merged() === expect, "replayed crossing epoch must be a net no-op")
    assert(census() === expectCensus,
      "replayed crossing epoch must not change the census")
  }

  /** Minimal REAL 24-bit grayscale BMP (the ExtSpec builder) so the
    * stream carries a payload the perceptual decoder accepts.
    */
  private def bmp(w: Int, h: Int, gray: (Int, Int) => Int): Array[Byte] = {
    val rowBytes = (w * 3 + 3) / 4 * 4
    val pixelBytes = rowBytes * h
    val buf = java.nio.ByteBuffer.allocate(54 + pixelBytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put('B'.toByte).put('M'.toByte).putInt(54 + pixelBytes)
      .putShort(0).putShort(0).putInt(54)
    buf.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
      .putInt(0).putInt(pixelBytes).putInt(2835).putInt(2835)
      .putInt(0).putInt(0)
    val out = buf.array()
    for (y <- 0 until h; x <- 0 until w) {
      val g = (gray(x, y) & 0xFF).toByte
      val p = 54 + (h - 1 - y) * rowBytes + x * 3
      out(p) = g; out(p + 1) = g; out(p + 2) = g
    }
    out
  }

  test("ingestMediaSignatures: streamed index equals the batch derivation; replays add nothing") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft_mediaingest").toString
    // fixture text payloads (SimHash stub path) PLUS two planted real
    // BMPs (perceptual path) — both signature families must flow
    // through the same stream
    val stubs = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("doc_id").between(100, 139))
      .select(col("doc_id").as("media_id"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("media_type"),
        encode(col("text"), "UTF-8").as("content"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getAs[Array[Byte]](2)))
    val planted = Seq(
      (9001L, "image", bmp(64, 64, (x, _) => if (x < 32) 0 else 255)),
      (9002L, "image", bmp(64, 64, (_, y) => if (y < 32) 0 else 255)))
    val all = stubs.toSeq ++ planted
    val input = MemoryStream[(Long, String, Array[Byte])]
    val media = input.toDF()
      .select(col("_1").as("media_id"), col("_2").as("media_type"),
        col("_3").as("content"))
    val q = CorpusIngest.ingestMediaSignatures(
      media, s"$dir/index", s"$dir/ckpt")
    try {
      input.addData(all.take(20).toIndexedSeq)
      q.processAllAvailable()
      input.addData(all.drop(20).toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    def indexRows() = spark.read.parquet(s"$dir/index")
      .select("media_id", "media_type", "phash", "is_perceptual")
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
    val streamed = indexRows()
    assert(streamed.length === all.length)
    // the planted BMPs hashed on the REAL perceptual path
    assert(streamed.filter(_.apply(3).asInstanceOf[Boolean]).map(_.head)
      === Seq(9001L, 9002L))
    // row-for-row identical to the batch kernel over the same media
    val batchDerived = graft.ext.Multimodal.mediaSignaturesOf(
      all.toDF("media_id", "media_type", "content"))
      .select("media_id", "media_type", "phash", "is_perceptual")
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
    assert(streamed === batchDerived,
      "streamed signature index must equal the batch derivation")
    // crash-window replay: re-running a completed shard derives ZERO rows
    CorpusIngest.mediaBatchBody(
      all.drop(20).toDF("media_id", "media_type", "content"), s"$dir/index")
    assert(indexRows() === streamed, "replay must not duplicate signatures")
  }

  test("resetDir sweeps legacy 32-bit-hashCode scratch dirs from warm warehouses") {
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val fs = new org.apache.hadoop.fs.Path(wh)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a pre-SHA-tag orphan (8 hex chars) and a non-matching neighbor
    val legacy = new org.apache.hadoop.fs.Path(s"$wh/graft_ingest_x_deadbeef")
    val keeper = new org.apache.hadoop.fs.Path(s"$wh/graft_ingest_x_keepme")
    fs.mkdirs(legacy); fs.mkdirs(keeper)
    val dir = CorpusIngest.resetDir(spark, "/tmp/some_sf_dir", "graft_ingest_x")
    assert(!fs.exists(legacy), "8-hex legacy orphan must be swept")
    assert(fs.exists(keeper), "non-hex-suffixed dirs must survive")
    // the SHA-tagged dir name is what the face will write into
    assert(dir.matches(".*graft_ingest_x_[0-9a-f]{24}"))
    fs.delete(keeper, true)
  }

  test("qualityMonitor windows doc/token/low-quality counts per lang") {
    import java.sql.Timestamp
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, String)]
    val docs = input.toDF().toDF("ts", "lang", "text")
    val agg = CorpusIngest.qualityMonitor(docs)
    val q = agg.writeStream.format("memory").queryName("qmon")
      .outputMode("complete").start()
    try {
      def t(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
      val long = (1 to 20).map(i => s"token$i").mkString(" ") // 20 toks, >50 ch
      input.addData(
        (t(10, 5), "en", long), (t(10, 40), "en", "short doc"),
        (t(10, 50), "de", long), (t(11, 10), "en", long))
      q.processAllAvailable()
      val rows = spark.table("qmon")
        .as[(Timestamp, String, Long, Long, Long)].collect().toSet
      assert(rows === Set(
        (t(10, 0), "en", 2L, 22L, 1L), // the 2-token doc is low quality
        (t(10, 0), "de", 1L, 20L, 0L),
        (t(11, 0), "en", 1L, 20L, 0L)))
      // unification: the SAME dataflow function over the SAME rows as a
      // BATCH frame must produce the identical aggregate (this is the
      // contract the registered stream_quality_windows query rests on)
      val batch = CorpusIngest.qualityMonitor(
        Seq(
          (t(10, 5), "en", long), (t(10, 40), "en", "short doc"),
          (t(10, 50), "de", long), (t(11, 10), "en", long))
          .toDF("ts", "lang", "text"))
        .as[(Timestamp, String, Long, Long, Long)].collect().toSet
      assert(batch === rows, "batch-mode qualityMonitor must equal streaming")
    } finally q.stop()
  }

  test("sessionMonitor: merging session state, append on watermark close, batch parity") {
    import java.sql.Timestamp
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def t(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val input = MemoryStream[(Timestamp, Long, String)]
    val events = input.toDF().toDF("ts", "user_id", "event_type")
    val q = CorpusIngest.sessionMonitor(events, watermarkDelay = "1 hour")
      .writeStream.format("memory").queryName("smon")
      .outputMode("append").start()
    try {
      // batch 1: user 1 one session; user 2 two (50 min gap); user 3 two
      // OPEN sessions 40 min apart that a later event will bridge
      input.addData(
        (t(10, 0), 1L, "view"), (t(10, 10), 1L, "error"),
        (t(10, 0), 2L, "view"), (t(10, 50), 2L, "view"),
        (t(10, 0), 3L, "view"), (t(10, 40), 3L, "view"))
      q.processAllAvailable()
      // watermark after batch 1 = 10:50 − 1h < every session end: append
      // mode must have emitted NOTHING yet
      assert(spark.table("smon").isEmpty,
        "sessions emitted before the watermark passed their end")
      // batch 2: 10:20 is within the gap of BOTH of user 3's open
      // sessions — the state store must MERGE them into one; the 13:00
      // event advances the watermark to 12:00 on completion
      input.addData((t(10, 20), 3L, "view"), (t(13, 0), 99L, "view"))
      q.processAllAvailable()
      // batch 3: push the watermark past every remaining session end
      input.addData((t(15, 0), 99L, "view"))
      q.processAllAvailable()
      val got = spark.table("smon")
        .as[(Long, Timestamp, Timestamp, Long, Long)]
        .collect().filter(_._1 < 50).toSet
      val expected = Set(
        (1L, t(10, 0), t(10, 40), 2L, 1L),
        (2L, t(10, 0), t(10, 30), 1L, 0L),
        (2L, t(10, 50), t(11, 20), 1L, 0L),
        (3L, t(10, 0), t(11, 10), 3L, 0L)) // merged: one 3-event session
      assert(got === expected)
      // unification: the shared aggregate body over the SAME rows as a
      // batch frame produces the identical sessions
      val batch = graft.ext.EventAnalytics.sessionWindowAgg(
        Seq(
          (t(10, 0), 1L, "view"), (t(10, 10), 1L, "error"),
          (t(10, 0), 2L, "view"), (t(10, 50), 2L, "view"),
          (t(10, 0), 3L, "view"), (t(10, 40), 3L, "view"),
          (t(10, 20), 3L, "view")).toDF("ts", "user_id", "event_type"),
        gapMinutes = 30)
        .as[(Long, Timestamp, Timestamp, Long, Long)].collect().toSet
      assert(batch === expected, "batch sessionWindowAgg must equal streaming")
    } finally q.stop()
  }

  test("heavyHitterMonitor: running MG summary keeps the ε bound across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft_hh").toString
    val input = MemoryStream[String]
    val docs = input.toDF().select(col("value").as("text"))
    val k = 8
    val q = CorpusIngest.heavyHitterMonitor(
      docs, s"$dir/summary", s"$dir/ckpt", k = k)
    val all = scala.collection.mutable.ArrayBuffer.empty[String]
    def feed(batch: Seq[String]): Unit = {
      input.addData(batch)
      q.processAllAvailable()
      all ++= batch.flatMap(_.toLowerCase.split("\\s+").filter(_.nonEmpty))
    }
    try {
      feed(Seq("alpha alpha alpha beta", "alpha gamma t1 t2"))
      feed(Seq("alpha alpha beta beta beta", "t3 t4 t5 t6 gamma"))
      feed(Seq("alpha beta t7 t8", "alpha alpha t9 t10 t11"))
      val exact = all.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val n = all.size.toLong
      val eps = n / (k + 1).toLong
      val est = spark.read.parquet(s"$dir/summary").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(est.size <= k)
      est.foreach { case (item, e) =>
        assert(e <= exact(item), s"$item overcounted across batches")
        assert(e >= exact(item) - eps, s"$item undercounted past stream n/(k+1)")
      }
      // items heavy over the WHOLE stream must survive the per-batch merges
      exact.filter(_._2 > eps).keys.foreach { h =>
        assert(est.contains(h), s"stream-heavy $h missing from running summary")
      }
    } finally q.stop()
  }

  test("topKMonitor: running top-k is EXACT over the whole stream; replay idempotent") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft_topk_mon").toString
    val input = MemoryStream[(Long, Long)]
    val docs = input.toDF().selectExpr("_1 AS doc_id", "_2 AS n_chars")
    val q = CorpusIngest.topKMonitor(docs, s"$dir/state", s"$dir/ckpt", k = 3)
    val all = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    def feed(batch: Seq[(Long, Long)]): Unit = {
      input.addData(batch)
      q.processAllAvailable()
      all ++= batch
    }
    def state(): Seq[(Double, Long)] =
      spark.read.parquet(s"$dir/state")
        .select("score", "id").collect()
        .map(r => (r.getDouble(0), r.getLong(1))).toSeq
        .sortBy { case (s, i) => (-s, i) }
    try {
      feed(Seq((1L, 10L), (2L, 50L), (3L, 30L)))
      feed(Seq((4L, 50L), (5L, 5L)))
      // exact: top-3 of everything seen so far, score desc / id asc
      val expect = all.map { case (id, n) => (n.toDouble, id) }
        .sortBy { case (s, i) => (-s, i) }.take(3)
      assert(state() === expect)
      feed(Seq((6L, 99L)))
      val expect2 = all.map { case (id, n) => (n.toDouble, id) }
        .sortBy { case (s, i) => (-s, i) }.take(3)
      assert(state() === expect2)
      // crash-retry: replaying the last batch must not change the state
      val b = Seq((6L, 99L)).toDF("doc_id", "n_chars")
      CorpusIngest.topKBatch(b, s"$dir/state", batchId = 2L, k = 3)
      assert(state() === expect2, "replay changed the exact running top-k")
    } finally q.stop()
  }

  test("heavyHitterBatch: replaying a batch is idempotent (crash-retry path)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_hh_replay").toString
    val path = s"$dir/summary"
    def state(): Map[String, Long] = spark.read.parquet(path).collect()
      .map(r => r.getAs[String]("item") -> r.getAs[Long]("count_est")).toMap
    val b0 = Seq("alpha alpha beta").toDF("text")
    val b1 = Seq("alpha gamma gamma").toDF("text")
    CorpusIngest.heavyHitterBatch(b0, path, batchId = 0L, k = 8)
    CorpusIngest.heavyHitterBatch(b1, path, batchId = 1L, k = 8)
    val once = state()
    assert(once === Map("alpha" -> 3L, "beta" -> 1L, "gamma" -> 2L))
    // at-least-once foreachBatch: batch 1 fires again after a crash —
    // it must re-merge against the PRE-batch state, not double-count
    CorpusIngest.heavyHitterBatch(b1, path, batchId = 1L, k = 8)
    assert(state() === once, "replayed batch double-counted")
    // a SECOND retry of the same batch: publish must not have rotated the
    // first retry's own output into __prev (that stale generation holds
    // the batch's tokens and a further retry would re-merge them)
    CorpusIngest.heavyHitterBatch(b1, path, batchId = 1L, k = 8)
    assert(state() === once, "second replay double-counted — __prev lost the pre-batch state")
    CorpusIngest.heavyHitterBatch(b1, path, batchId = 1L, k = 8)
    assert(state() === once, "third replay double-counted")
    // and the stream continues normally afterwards
    CorpusIngest.heavyHitterBatch(Seq("beta").toDF("text"), path, 2L, k = 8)
    assert(state() === Map("alpha" -> 3L, "beta" -> 2L, "gamma" -> 2L))
  }

  test("driftMonitor: in-distribution windows stay calm, shifted windows alert") {
    import java.sql.Timestamp
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // reference: all corpus docs live in length bucket 0 (< 200 chars)
    val ref = 1.0 +: Seq.fill(9)(0.0)
    val input = MemoryStream[(Timestamp, String)]
    val docs = input.toDF().toDF("ts", "text")
    val agg = CorpusIngest.driftMonitor(docs, ref)
    val q = agg.writeStream.format("memory").queryName("dmon")
      .outputMode("complete").start()
    try {
      def t(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
      val short = "a short in-distribution document"
      val long = "x" * 1100 // bucket 5 — far from the reference mass
      // window 10: matches the reference; window 11: all mass shifted
      input.addData(
        (t(10, 5), short), (t(10, 20), short), (t(10, 40), short),
        (t(11, 10), long), (t(11, 30), long))
      q.processAllAvailable()
      val rows = spark.table("dmon")
        .as[(Timestamp, Long, Double)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      val (nCalm, psiCalm) = rows(t(10, 0))
      val (nHot, psiHot) = rows(t(11, 0))
      assert(nCalm === 3L && nHot === 2L)
      // in-distribution window: only ε-floor noise, far under the line
      assert(psiCalm < 0.05, s"calm window drifted: $psiCalm")
      // fully shifted window: way past the 0.2 investigate line
      assert(psiHot > 0.2, s"shifted window must alert: $psiHot")
      // every term has matching signs → psi is never negative
      assert(psiCalm >= 0.0 && psiHot >= 0.0)
      // batch-mode unification over the same rows
      val batch = CorpusIngest.driftMonitor(
        Seq((t(10, 5), short), (t(10, 20), short), (t(10, 40), short),
          (t(11, 10), long), (t(11, 30), long)).toDF("ts", "text"), ref)
        .as[(Timestamp, Long, Double)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      assert(batch === rows, "batch-mode driftMonitor must equal streaming")
    } finally q.stop()
  }

  test("restart: a NEW session resumes qualityMonitor from the on-disk checkpoint/state store") {
    // The real crash path at scale: the driver dies, a fresh session
    // rebuilds the SAME query from checkpointLocation and must recover
    // (a) source offsets — committed batches are not reprocessed — and
    // (b) the STATE STORE — open windows keep their pre-crash partial
    // counts. newSession() gives a fresh SessionState/StreamingQueryManager
    // over the shared context; everything that matters to recovery (offset
    // log, commit log, state store) is on disk under the checkpoint.
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_restart").toString
    val in = s"$dir/in"
    val out = s"$dir/out"
    val ckpt = s"$dir/ckpt"
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    def start(s: org.apache.spark.sql.SparkSession) = {
      val docs = s.readStream
        .schema("ts TIMESTAMP, text STRING, lang STRING")
        .parquet(in)
      CorpusIngest.qualityMonitor(docs)
        .writeStream
        .option("checkpointLocation", ckpt)
        .outputMode("append") // closed windows only — the file-sink mode
        .format("parquet")
        .option("path", out)
        .start()
    }
    // Session A: three docs land in window W1 [00:00,01:00), one in W2;
    // the W2 event advances the watermark past W1, closing it into the sink
    Seq(
      (ts("2024-01-01 00:10:00"), "a sufficiently long english document with many words in it", "en"),
      (ts("2024-01-01 00:20:00"), "x", "en"), // low-quality (short)
      (ts("2024-01-01 00:30:00"), "strumpf zehn elf zwölf dreizehn vierzehn fünfzehn sechzehn", "de"),
      (ts("2024-01-01 01:20:00"), "one two three four five six seven eight nine ten eleven", "en"))
      .toDF("ts", "text", "lang").write.parquet(in)
    val q1 = start(spark)
    try q1.processAllAvailable() finally q1.stop()
    val afterA = spark.read.parquet(out)
      .select("window_start", "lang", "n_docs").collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(afterA === Map(
      (ts("2024-01-01 00:00:00"), "en") -> 2L,
      (ts("2024-01-01 00:00:00"), "de") -> 1L),
      "window W1 must close before the crash")
    // "crash": q1 is stopped. While down, two more W2 docs arrive, plus a
    // W3 doc whose watermark closes W2
    Seq(
      (ts("2024-01-01 01:30:00"), "alpha beta gamma delta epsilon zeta eta theta iota kappa", "en"),
      (ts("2024-01-01 01:40:00"), "y", "en"), // low-quality
      (ts("2024-01-01 02:30:00"), "closer doc that advances the watermark past W2 end", "en"))
      .toDF("ts", "text", "lang").write.mode("append").parquet(in)
    // Session B: rebuilt from disk only
    val spark2 = spark.newSession()
    val q2 = start(spark2)
    try q2.processAllAvailable() finally q2.stop()
    val afterB = spark2.read.parquet(out)
      .select("window_start", "lang", "n_docs", "n_low_quality").collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    // W2's count merges the PRE-crash doc (held only in the recovered
    // state store) with the two post-restart arrivals — 3 docs, 1 low
    assert(afterB((ts("2024-01-01 01:00:00"), "en")) === ((3L, 1L)),
      s"state store did not recover W2's pre-crash partial: $afterB")
    // and the committed batch was NOT reprocessed: W1 rows stay single
    assert(afterB((ts("2024-01-01 00:00:00"), "en")) === ((2L, 1L)))
    assert(afterB((ts("2024-01-01 00:00:00"), "de"))._1 === 1L)
  }

  test("restart recovers the WATERMARK: late data is dropped exactly as without the restart") {
    // State recovery alone is not enough: if a restart reset the watermark
    // to zero, an event OLDER than the pre-crash watermark would re-open a
    // window already emitted to the append sink (a duplicate window row —
    // double counting downstream). The watermark lives in the checkpoint's
    // commit log; a restarted query must drop late data exactly as the
    // uninterrupted run would. Proven by running the SAME event sequence
    // (batch 1 → [crash] → late W1 doc + W2-closer) with and without the
    // restart and requiring identical sink contents.
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_wm_restart").toString
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    def start(s: org.apache.spark.sql.SparkSession, in: String, out: String,
        ckpt: String) = {
      val docs = s.readStream
        .schema("ts TIMESTAMP, text STRING, lang STRING")
        .parquet(in)
      CorpusIngest.qualityMonitor(docs)
        .writeStream
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .format("parquet")
        .option("path", out)
        .start()
    }
    // batch 1: two W1 docs + a W2 doc at 01:30 → watermark 01:20 > W1 end,
    // W1 closes into the sink
    val batch1 = Seq(
      (ts("2024-01-01 00:10:00"), "a sufficiently long english document with many words here", "en"),
      (ts("2024-01-01 00:30:00"), "another acceptable document with a workable number of words", "en"),
      (ts("2024-01-01 01:30:00"), "window two document that advances the watermark past window one", "en"))
    // batch 2: a LATE W1 doc (00:40 — inside W1, OLDER than the recovered
    // 01:20 watermark → must be dropped) and a W3 closer that seals W2
    val batch2 = Seq(
      (ts("2024-01-01 00:40:00"), "late straggler that must not re-open the emitted window", "en"),
      (ts("2024-01-01 02:30:00"), "closer document that advances the watermark past window two", "en"))
    // MULTISET of sink rows — a duplicate window row (the failure mode a
    // reset watermark would produce in the append sink) must be visible,
    // not swallowed by a Map overwrite
    def run(label: String, restart: Boolean): Seq[(java.sql.Timestamp, String, Long)] = {
      val in = s"$dir/$label/in"; val out = s"$dir/$label/out"
      val ckpt = s"$dir/$label/ckpt"
      batch1.toDF("ts", "text", "lang").write.parquet(in)
      val q1 = start(spark, in, out, ckpt)
      try q1.processAllAvailable() finally if (restart) q1.stop()
      // late data lands while the restarted variant is down
      batch2.toDF("ts", "text", "lang").write.mode("append").parquet(in)
      val q2 = if (restart) start(spark.newSession(), in, out, ckpt) else q1
      try q2.processAllAvailable() finally q2.stop()
      spark.read.parquet(out)
        .select("window_start", "lang", "n_docs").collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
        .toSeq.sortBy(t => (t._1.getTime, t._2, t._3))
    }
    val uninterrupted = run("base", restart = false)
    val restarted = run("restart", restart = true)
    assert(restarted === uninterrupted,
      s"restarted run diverged from the uninterrupted one:\n" +
        s"  restarted   = $restarted\n  uninterrupted = $uninterrupted")
    // and concretely: the late 00:40 doc was dropped — exactly one W1 row,
    // still counting 2
    assert(restarted.filter(_._1 === ts("2024-01-01 00:00:00")) ===
      Seq((ts("2024-01-01 00:00:00"), "en", 2L)),
      "the recovered watermark must drop the pre-watermark straggler")
    assert(restarted.contains((ts("2024-01-01 01:00:00"), "en", 1L)))
  }

  test("heavyHitterBatch: crash INSIDE a replay's publish window still recovers") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_hh_replay2").toString
    val path = s"$dir/summary"
    def state(): Map[String, Long] = spark.read.parquet(path).collect()
      .map(r => r.getAs[String]("item") -> r.getAs[Long]("count_est")).toMap
    CorpusIngest.heavyHitterBatch(Seq("a a b").toDF("text"), path, 0L, k = 8)
    CorpusIngest.heavyHitterBatch(Seq("a c").toDF("text"), path, 1L, k = 8)
    val once = state()
    // simulate the replay-path crash between delete(live) and rename(tmp):
    // live gone, __prev = pre-batch state — the retry must read __prev
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    CorpusIngest.heavyHitterBatch(Seq("a c").toDF("text"), path, 1L, k = 8)
    assert(state() === once, "crash-window replay diverged")
    // an out-of-order replay the two-generation scheme cannot serve must
    // fail loudly, never double-count: batch 1 again after batch 2 landed
    CorpusIngest.heavyHitterBatch(Seq("d").toDF("text"), path, 2L, k = 8)
    val e = intercept[IllegalStateException] {
      CorpusIngest.heavyHitterBatch(Seq("a c").toDF("text"), path, 1L, k = 8)
    }
    assert(e.getMessage.contains("refusing"), e.getMessage)
  }

  test("heavyHitterBatch: crash in the NORMAL publish window keeps __prev alive") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_hh_window").toString
    val path = s"$dir/summary"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def gen(p: String): Map[String, Long] = spark.read.parquet(p).collect()
      .map(r => r.getAs[String]("item") -> r.getAs[Long]("count_est")).toMap
    CorpusIngest.heavyHitterBatch(Seq("a a b").toDF("text"), path, 0L, k = 8)
    val preBatch = gen(path)
    // simulate batch 1 crashing between rename(live→prev) and
    // rename(tmp→live): only __prev (the pre-batch state) survives
    assert(fs.rename(new org.apache.hadoop.fs.Path(path),
      new org.apache.hadoop.fs.Path(path + "__prev")))
    // the retry must (a) merge from __prev and (b) NOT delete it before
    // its own publish lands — a crash of the retry in the same window
    // must still find the pre-batch state
    CorpusIngest.heavyHitterBatch(Seq("a c").toDF("text"), path, 1L, k = 8)
    assert(gen(path) === Map("a" -> 3L, "b" -> 1L, "c" -> 1L))
    assert(fs.exists(new org.apache.hadoop.fs.Path(path + "__prev")),
      "__prev must survive a crash-window retry (sole pre-batch copy)")
    assert(gen(path + "__prev") === preBatch,
      "__prev no longer holds the pre-batch state")
    // and a SECOND simulated crash of the same window still recovers
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    CorpusIngest.heavyHitterBatch(Seq("a c").toDF("text"), path, 1L, k = 8)
    assert(gen(path) === Map("a" -> 3L, "b" -> 1L, "c" -> 1L),
      "second crash-window retry lost or double-counted state")
  }

  test("edge body: driver-local fast path derives the distributed branch's epochs row-for-row") {
    import spark.implicits._
    val cap = graft.ext.Graph.MaxBasket.toInt
    // covers every leg both branches own: brand-new baskets, a brand-new
    // OVER-cap order (never counted), new-x-old merge pairs, an in-batch
    // duplicate membership, a cap-CROSSING order (edge + census + sentinel
    // cancels), and a replayed epoch (must overwrite identical rows)
    def run(dir: String): Unit = {
      val e0 = (Seq((1L, 101L), (1L, 102L), (1L, 103L)) ++
        Seq((2L, 201L), (2L, 202L)) ++
        (1 to cap + 1).map(i => (9L, 9000L + i.toLong)))
        .toDF("l_orderkey", "l_partkey")
      val e1 = ((1 to (cap - 2)).map(i => (1L, 1000L + i.toLong)) ++
        Seq((2L, 203L), (2L, 201L)) ++
        Seq((3L, 301L), (3L, 302L)))
        .toDF("l_orderkey", "l_partkey")
      CorpusIngest.edgeBatchBody(e0, s"$dir/index", 0L)
      CorpusIngest.edgeBatchBody(e1, s"$dir/index", 1L)
      CorpusIngest.edgeBatchBody(e1, s"$dir/index", 1L) // replay
    }
    val dL = Files.createTempDirectory("graft_edgepar_l").toString
    run(dL) // default cap: the driver-local body
    val dD = Files.createTempDirectory("graft_edgepar_d").toString
    withDriverBudget(0)(run(dD)) // force distributed
    def rows(dir: String, kind: String, epoch: Long): Map[Seq[Any], Int] =
      spark.read.parquet(s"$dir/index/$kind/epoch=$epoch")
        .collect().toSeq.map(_.toSeq)
        .groupBy(identity).view.mapValues(_.length).toMap
    for (kind <- Seq("edges", "census", "members"); ep <- Seq(0L, 1L))
      assert(rows(dL, kind, ep) === rows(dD, kind, ep),
        s"$kind epoch=$ep must be multiset-identical across branches")
  }

  test("edge body: every job an epoch starts carries the caller's job group") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    // a shared pool's threads keep the local properties they inherited
    // when the pool made them; start some before the caller sets its
    // group, the state a long-lived driver is in
    Await.result(Future.sequence((1 to 8).map(_ => Future(Thread.sleep(50)))),
      scala.concurrent.duration.Duration(60, "s"))
    val sc = spark.sparkContext
    val group = s"edge_group_${java.util.UUID.randomUUID()}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val opened = new java.util.concurrent.CountDownLatch(1)
    val closed = new java.util.concurrent.CountDownLatch(1)
    // record only between two fence jobs: the bus delivers in order, so
    // nothing scheduled before the first fence is counted
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val g = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse("<none>")
        if (g == s"${group}_open") opened.countDown()
        else if (g == s"${group}_close") closed.countDown()
        else if (opened.getCount == 0 && closed.getCount == 1) seen.add(g)
      }
    }
    def fence(tag: String, latch: java.util.concurrent.CountDownLatch): Unit = {
      sc.setJobGroup(s"${group}_$tag", tag)
      sc.parallelize(Seq(1), 1).count()
      assert(latch.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener bus never drained")
    }
    def run(dir: String): Unit = {
      val e0 = Seq((1L, 101L), (1L, 102L), (2L, 201L), (2L, 202L))
        .toDF("l_orderkey", "l_partkey")
      val e1 = Seq((1L, 103L), (3L, 301L), (3L, 302L))
        .toDF("l_orderkey", "l_partkey")
      CorpusIngest.edgeBatchBody(e0, s"$dir/index", 0L)
      CorpusIngest.edgeBatchBody(e1, s"$dir/index", 1L)
    }
    sc.addSparkListener(listener)
    try {
      fence("open", opened)
      sc.setJobGroup(group, group)
      run(Files.createTempDirectory("graft_edgegrp_l").toString)
      withDriverBudget(0)( // the distributed branch
        run(Files.createTempDirectory("graft_edgegrp_d").toString))
      fence("close", closed)
    } finally { sc.clearJobGroup(); sc.removeSparkListener(listener) }
    import scala.jdk.CollectionConverters._
    val groups = seen.asScala.toSeq
    assert(groups.nonEmpty)
    assert(groups.forall(_ == group),
      s"${groups.count(_ != group)} of ${groups.size} epoch jobs ran " +
        s"outside the caller's group: ${groups.distinct.mkString(", ")}")
  }
}
