package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** Streaming corpus ingestion with INCREMENTAL exact dedup — the streaming
  * face of [[graft.ext.Dedup.incrementalExact]]: documents arrive as a
  * stream, each micro-batch is checked against a persistent fingerprint
  * index (sha-256 → keeper doc id), in-batch duplicates resolve to the
  * smallest id, and clean keepers APPEND to the index so later batches see
  * them. This is the 100 TB ingest shape: the index holds one fixed-width
  * row per distinct text ever seen, each batch does one fingerprint-keyed
  * join against it, and the corpus itself is never re-scanned.
  *
  * No analog in the reference (its ingest is request-at-a-time Prisma
  * inserts); new capability per SURVEY §7.5.
  *
  * Scale notes: at production scale the index lives in a format with upsert
  * + compaction (the parquet append here models the contract, not the
  * format); the per-batch join broadcasts the BATCH side (small) against
  * the index scan, so index size bounds nothing but storage.
  */
object CorpusIngest {

  /** Arriving document rows: (doc_id, text, lang, source). */
  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType)))

  private val indexSchema = StructType(Seq(
    StructField("fp", StringType),
    StructField("keeper", LongType)))

  /** The committed entries directly under `root` that `keep` accepts, as
    * paths; none when `root` does not exist. Hadoop FileSystem, not
    * java.io.File: an index lives wherever the deployment points it
    * (hdfs://, s3a://, file:), and a local-only listing would silently
    * judge every batch against an EMPTY index.
    */
  private def listCommitted(spark: SparkSession, root: String)(
      keep: org.apache.hadoop.fs.FileStatus => Boolean): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.listStatus(p).toSeq.filter(keep).map(_.getPath.toString)
    else Seq.empty
  }

  /** Snapshot read: the plan binds to `paths` — part-files or epoch dirs
    * listed NOW by [[listCommitted]] — not to their directory. Parquet
    * files are immutable and appends only ADD files, so the explicit list
    * is a consistent snapshot by construction: every consumer of one
    * micro-batch sees the same state while the batch appends. Read with
    * the known `schema`, so an epoch starts no footer-inference job; an
    * empty list (an index that does not exist yet) reads as an empty
    * frame.
    */
  private def readSnapshot(
      spark: SparkSession, paths: Seq[String], schema: StructType): DataFrame =
    if (paths.isEmpty)
      spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    else spark.read.schema(schema).parquet(paths: _*)

  /** Snapshot of the parquet part-files (no marker or hidden file)
    * committed under `indexPath`.
    */
  private def readIndexFiles(
      spark: SparkSession, indexPath: String, schema: StructType): DataFrame =
    readSnapshot(spark, listCommitted(spark, indexPath) { s =>
      val n = s.getPath.getName
      n.endsWith(".parquet") && !n.startsWith(".") && !n.startsWith("_")
    }, schema)

  /** Dedup one (micro-)batch against the index: returns the per-doc report
    * (new_doc_id, dup_of, is_dup) and the index rows the batch contributes.
    * `dup_of` is the surviving keeper — from the index when the text was
    * seen in an earlier batch, else the smallest same-text id in THIS
    * batch; −1 for keepers themselves.
    *
    * A doc that IS the index keeper for its fingerprint reports as a
    * keeper, not a dup of itself — which is what makes foreachBatch
    * replays idempotent: if a crash lands between the index append and
    * the stream commit, the re-run sees its own keepers in the index and
    * produces the same report rows as the first attempt, instead of
    * re-classifying a keeper as its own duplicate. Exposed for both the
    * streaming sink and direct batch use (and the spec).
    */
  def dedupBatch(batch: DataFrame, index: DataFrame): (DataFrame, DataFrame) = {
    val hashed = batch.select(col("doc_id"), sha2(col("text"), 256).as("fp"))
    val batchKeeper = hashed.groupBy("fp").agg(min("doc_id").as("__bk"))
    val keeperIsOther = col("keeper").isNotNull && col("keeper") =!= col("doc_id")
    val batchDup = col("keeper").isNull && col("doc_id") =!= col("__bk")
    val report = hashed
      .join(batchKeeper, Seq("fp"))
      .join(index, Seq("fp"), "left")
      .select(
        col("doc_id").as("new_doc_id"),
        when(keeperIsOther, col("keeper"))
          .when(batchDup, col("__bk"))
          .otherwise(lit(-1L)).as("dup_of"),
        (keeperIsOther || batchDup).as("is_dup"))
    val newEntries = batchKeeper
      .join(index, Seq("fp"), "left_anti")
      .select(col("fp"), col("__bk").as("keeper"))
    (report, newEntries)
  }

  /** Streaming corpus-quality monitor — the streaming face of
    * [[graft.ext.TextStats.qualityScore]]/`langStats`: per (event-time
    * window, lang) doc counts, exact token sums, and the low-quality doc
    * count, under a watermark so window state is bounded and late
    * documents beyond the horizon drop instead of growing state forever.
    * The aggregation is a plain hash-agg with map-side partials per
    * micro-batch — the same single-pass shape as the batch operator, fed
    * incrementally.
    */
  def qualityMonitor(
      docs: DataFrame,
      watermarkDelay: String = "10 minutes",
      windowLength: String = "1 hour"): DataFrame = {
    val toks = when(length(trim(col("text"))) === 0, lit(0))
      .otherwise(size(split(trim(col("text")), "\\s+")))
    docs
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowLength), col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(toks.cast("long")).as("total_tokens"),
        count_if(length(col("text")) < 50 || toks < 8).as("n_low_quality"))
      .select(col("window.start").as("window_start"), col("lang"),
        col("n_docs"), col("total_tokens"), col("n_low_quality"))
  }

  /** Streaming DRIFT monitor — the streaming face of
    * [[graft.ops.Profiling.psiDrift]]: per event-time window, the
    * population-stability index of the arriving documents' length
    * distribution against a FIXED reference histogram (the corpus the
    * stream is joining — in production, read off the maintained
    * artifact before the stream starts). One row per closed window:
    * doc count plus total PSI; `psi >= 0.2` is the conventional
    * "investigate before trusting this window's shard" line, the
    * streaming gate that pairs with the append-only artifact refresh.
    *
    * Same determinism discipline as the batch op (ε-floored fractions,
    * ln rounded to 6dp per bucket) and the same scale shape as
    * [[qualityMonitor]]: a watermarked hash-agg with map-side partials —
    * the `nBuckets` conditional counts collapse per partition before
    * anything moves.
    */
  def driftMonitor(
      docs: DataFrame, refFracs: Seq[Double],
      widthChars: Int = 200,
      watermarkDelay: String = "10 minutes",
      windowLength: String = "1 hour",
      lengthValue: Column = length(col("text"))): DataFrame = {
    val nB = refFracs.length
    val eps = 1e-4
    // `lengthValue` MUST be the same quantity `refFracs` was histogrammed
    // from: the batch psiDrift buckets the maintained corpus by its
    // n_chars column, so a caller pairing this monitor with that report
    // passes col("n_chars") (or a cast matching its byte/char convention)
    // — silently mixing length(text) chars against byte-counted reference
    // fractions would shift every bucket boundary and fake drift.
    val bucket = least(lit(nB - 1L),
      (lengthValue.cast("long") / lit(widthChars.toLong)).cast("long"))
    val counts = (0 until nB).map(i =>
      count_if(bucket === i.toLong).as(s"__c$i"))
    val total = (0 until nB).map(i => col(s"__c$i")).reduce(_ + _)
    val psi = (0 until nB).map { i =>
      val p = lit(math.max(refFracs(i), eps))
      val q = greatest(col(s"__c$i").cast("double") / total.cast("double"),
        lit(eps))
      (p - q) * round(log(p / q), 6)
    }.reduce(_ + _)
    docs
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowLength))
      .agg(counts.head, counts.tail: _*)
      .select(col("window.start").as("window_start"),
        total.as("n_docs"), round(psi, 6).as("psi"))
  }

  /** Streaming SESSION monitor — the streaming face of the batch
    * `session_windows` query, and literally the same aggregate body
    * ([[graft.ext.EventAnalytics.sessionWindowAgg]] is shared verbatim;
    * only the watermark and the unstreamable presentation sort differ).
    * Unlike the fixed-grid [[qualityMonitor]], session_window state
    * MERGES: an out-of-order event can fuse two open sessions into one,
    * and the state store tracks per-user open sessions until the
    * watermark passes their end — which is why the watermark is not
    * optional here (append mode emits a session only once it can no
    * longer grow, and state for closed sessions is dropped instead of
    * accumulating per user forever).
    */
  def sessionMonitor(
      events: DataFrame,
      watermarkDelay: String = "10 minutes",
      gapMinutes: Int = 30): DataFrame =
    graft.ext.EventAnalytics.sessionWindowAgg(
      events.withWatermark("ts", watermarkDelay), gapMinutes)

  /** The streaming pipeline: per micro-batch, dedup against the index,
    * append the report, then append the batch's new keepers to the index
    * (report first — it reads the index state this batch was judged
    * against). foreachBatch gives at-least-once appends on retry; the
    * report is keyed by (batch's) doc_id so replays are idempotent to
    * downstream consumers that dedup on it — the standard contract for
    * parquet-append sinks.
    */
  /** One foreachBatch body of [[ingestDedup]], exposed so the torn-write
    * spec can drive the exact sink sequence (report append, then index
    * append) around simulated crash points. The two appends plus the
    * stream's checkpoint commit give three crash windows; every one
    * converges on replay because (a) the report re-computed against an
    * index already holding this batch's keepers is IDENTICAL to the first
    * attempt ([[dedupBatch]]'s keeper-sees-itself contract — duplicated
    * report ROWS are the documented at-least-once surface, deduped
    * downstream on doc_id), and (b) the index append is an anti-join
    * against the index itself, so a replay adds ZERO rows — the index
    * never holds a duplicate fingerprint no matter how many times the
    * batch retries.
    */
  private[graft] def ingestDedupBody(
      batch: DataFrame, indexPath: String, reportPath: String): Unit = {
    batch.persist()
    try {
      val spark = batch.sparkSession
      // the snapshot binds to the current file list, so both consumers
      // see the same index while newEntries appends to the path
      val index = readIndexFiles(spark, indexPath, indexSchema)
      val (report, newEntries) = dedupBatch(batch, index)
      report.write.mode("append").parquet(reportPath)
      newEntries.write.mode("append").parquet(indexPath)
    } finally { batch.unpersist(); () }
  }

  def ingestDedup(
      docs: DataFrame,
      indexPath: String,
      reportPath: String,
      checkpoint: String): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        ingestDedupBody(batch, indexPath, reportPath)
      }
      .start()

  /** The [[graft.ext.Dedup.minHashSignaturesOf]] index schema: doc_id,
    * sorted shingle-hash set, 64 minhash slots.
    */
  private val sigIndexSchema: StructType = StructType(
    StructField("doc_id", LongType) +:
      StructField("shset", ArrayType(LongType)) +:
      (0 until 64).map(j => StructField(s"__m$j", LongType)))

  /** Streaming incremental NEAR-dup ingest — the minhash face of
    * [[ingestDedup]], and the streaming face of
    * [[graft.ext.Dedup.incrementalMinHash]]: per micro-batch, compute the
    * batch's minhash signature table ONCE, probe the persistent signature
    * index on band keys (plus smaller-id batch-mates), verify exact
    * Jaccard on candidates, append the per-doc report, then append the
    * batch's keeper signatures to the index so later batches see them.
    * The corpus is never re-paired: per batch, work scales with the
    * delta's bucket collisions — the 100 TB ingest shape, fed
    * incrementally. Replay idempotence mirrors [[dedupBatch]]
    * (see [[graft.ext.Dedup.nearDupBatch]]).
    */
  def ingestNearDedup(
      docs: DataFrame,
      indexPath: String,
      reportPath: String,
      checkpoint: String,
      threshold: Double = 0.5,
      maxBucket: Int = 64): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        nearDedupBody(batch, indexPath, reportPath, threshold, maxBucket)
      }
      .start()

  /** One foreachBatch body of [[ingestNearDedup]], exposed (like
    * [[ingestDedupBody]]) for the replay spec and the tier-M scale
    * harness: signature the batch ONCE (persisted — the report and the
    * index append both read it, and the tokenize+window+64-agg pass is
    * the expensive part), probe the committed signature index, append
    * report then keepers.
    */
  private[graft] def nearDedupBody(
      batch: DataFrame, indexPath: String, reportPath: String,
      threshold: Double = 0.5, maxBucket: Int = 64): Unit = {
    val sig = graft.ext.Dedup.minHashSignaturesOf(batch).persist()
    try {
      val index = readIndexFiles(batch.sparkSession, indexPath, sigIndexSchema)
      val (report, newEntries) =
        graft.ext.Dedup.nearDupBatch(sig, index, threshold, maxBucket)
      report.write.mode("append").parquet(reportPath)
      newEntries.write.mode("append").parquet(indexPath)
    } finally { sig.unpersist(); () }
  }

  /** Snapshot of one long id column off an index dir's committed files;
    * empty when the index does not exist yet. Shared by the vector,
    * postings and media ingest faces.
    */
  private def committedIds(
      spark: SparkSession, indexPath: String, idCol: String): DataFrame =
    readIndexFiles(spark, indexPath, StructType(Seq(StructField(idCol, LongType))))

  /** Append `rows` to the index at `indexPath`; returns their schema, which
    * reads the committed index back with no footer-inference job.
    */
  private def appendTo(indexPath: String, rows: DataFrame): StructType = {
    rows.write.mode("append").parquet(indexPath)
    rows.schema
  }

  /** One foreachBatch body of [[ingestVectors]], exposed for the
    * replay-idempotence spec: anti-join the batch against the index's
    * current vec_ids (the file-list snapshot), derive cell assignments +
    * PQ codes for only the UNSEEN vectors under the frozen quantizer, and
    * append. A replay after any crash window re-derives zero rows — the
    * index never holds a duplicate vec_id, the same convergence contract
    * as [[ingestDedupBody]].
    */
  private[graft] def vectorBatchBody(
      batch: DataFrame, quantizerSeeds: DataFrame,
      indexPath: String): StructType = {
    batch.persist()
    try {
      val spark = batch.sparkSession
      val fresh = batch.join(
        committedIds(spark, indexPath, "vec_id"), Seq("vec_id"), "left_anti")
      appendTo(indexPath,
        graft.ext.Similarity.deriveIndexRows(spark, fresh, quantizerSeeds))
    } finally { batch.unpersist(); () }
  }

  /** Streaming ANN-INDEX ingest — the streaming face of
    * [[graft.ext.Similarity.ivfCellIndex]]'s append-only refresh: vector
    * rows (vec_id, embedding, label) arrive as a stream, each micro-batch
    * is assigned to cells and PQ-encoded against the FROZEN quantizer
    * (`quantizerSeeds` — the maintained index's seed vectors, a bounded
    * k-row frame), and only unseen vec_ids append to the index dir. This
    * is the 100 TB embedding-ingest shape: new shards cost delta
    * assignment work against a stable model, the corpus is never
    * re-quantized, and batch/stream derivations agree row-for-row
    * (spec-pinned). Retraining the quantizer is a deliberate OFFLINE
    * event (rebuild the batch artifact), exactly as in production ANN
    * deployments.
    */
  def ingestVectors(
      vectors: DataFrame,
      quantizerSeeds: DataFrame,
      indexPath: String,
      checkpoint: String): StreamingQuery = {
    // register BEFORE start: the micro-batch executor clones the session
    // (and its function registry) when the stream launches
    graft.functions.GraftFunctions.register(vectors.sparkSession)
    vectors.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        vectorBatchBody(batch, quantizerSeeds, indexPath); ()
      }
      .start()
  }

  /** One foreachBatch body of [[ingestPostings]], exposed for the
    * replay-idempotence spec: anti-join the batch against the index's
    * current doc_ids, tokenize only the UNSEEN documents, append their
    * postings. Postings (tf, dl) are per-doc deterministic, so a replay
    * after any crash window re-derives zero rows and the index never
    * holds a duplicate doc's rows — the [[vectorBatchBody]] contract.
    */
  private[graft] def postingsBatchBody(
      batch: DataFrame, indexPath: String): StructType = {
    batch.persist()
    try {
      val spark = batch.sparkSession
      // a doc_id repeated WITHIN one micro-batch (an at-least-once source
      // delivering the same shard row twice) would double its tf/dl in
      // the groupBy — collapse to one row per doc before tokenizing
      val fresh = batch.dropDuplicates("doc_id").join(
        committedIds(spark, indexPath, "doc_id"), Seq("doc_id"), "left_anti")
      appendTo(indexPath, graft.ext.Search.postingsOf(fresh))
    } finally { batch.unpersist(); () }
  }

  /** Streaming LEXICAL-INDEX ingest — the streaming face of
    * [[graft.ext.Search.postingsShared]]'s append-only refresh: document
    * shards arrive as a stream and each micro-batch tokenizes ONLY its
    * unseen docs into (doc_id, tok, tf, dl) postings rows. Corpus
    * statistics (N, avgdl, df) are deliberately NOT maintained as stream
    * state: every lexical consumer derives them from the index at query
    * time (the same no-stale-global contract as the batch artifact), so
    * the stream's only job is the per-doc rows — which makes it
    * replay-idempotent with no generation bookkeeping.
    */
  def ingestPostings(
      docs: DataFrame,
      indexPath: String,
      checkpoint: String): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        postingsBatchBody(batch, indexPath); ()
      }
      .start()

  /** [[ingestVectors]]'s dataflow run end-to-end in BATCH mode — the
    * registered, ORACLE-CHECKED face of the streaming vector-ingest
    * kernel (`ingest_vector_index`): a deterministic quarter of the
    * embedding corpus (vec_id % 4 = 0 — enough to prove the per-row
    * contract, 1/4 the face cost) arrives as two
    * disjoint shards through [[vectorBatchBody]] (so the second shard
    * really anti-joins against the first's committed files), the second
    * shard is then REPLAYED (the crash-window retry — must derive zero
    * rows, which the oracle hash proves: one duplicated index row would
    * break the match), and the committed index is read back. The index
    * dir is reset per call (the S8 DDL-reset discipline), so the row is
    * deterministic at any sfDir.
    */
  def vectorIngestFace(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = resetDir(spark, sfDir, "graft_ingest_vec")
    val emb = graft.io.Tables.embeddings(spark, sfDir)
    // quantizer stays the MAINTAINED index's contract (the 16 lowest-id
    // vectors of the FULL corpus) — only the ingested volume is sliced
    val seeds = emb.orderBy(col("vec_id").asc).limit(16)
      .select("vec_id", "embedding")
    // deterministic quarter (vec_id % 4 = 0): the face proves the same
    // anti-join idempotence contract at 1/4 the derive+write cost — the
    // kernel under test is per-row, so the slice loses no coverage
    def shard(r: Int): DataFrame = emb
      .filter(pmod(col("vec_id"), lit(8L)) === r.toLong)
      .select("vec_id", "embedding", "label")
    val written = withMicroBatchPartitions(spark) {
      vectorBatchBody(shard(0), seeds, dir)
      vectorBatchBody(shard(4), seeds, dir)
      vectorBatchBody(shard(4), seeds, dir) // replay: must append nothing
    }
    spark.read.schema(written).parquet(dir)
      .select(Seq(col("vec_id"), col("cell_id"),
        round(col("sim"), 6).as("sim")) ++
        (0 to 3).map(m => col(s"code$m").cast("long").as(s"code$m")): _*)
      .orderBy(col("vec_id").asc)
  }

  /** [[ingestPostings]]'s dataflow in BATCH mode — the registered face
    * (`ingest_postings_index`), same contract as [[vectorIngestFace]]:
    * two disjoint document shards through [[postingsBatchBody]], a
    * replayed second shard that must tokenize and append NOTHING, then
    * the committed postings read back. A deterministic quarter
    * (doc_id % 4 = 0) is ingested; the dumped rows are a further 1/23
    * doc slice of it so the oracle artifact stays small at any sfDir.
    */
  def postingsIngestFace(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = resetDir(spark, sfDir, "graft_ingest_post")
    // deterministic quarter (doc_id % 4 = 0), the vectorIngestFace
    // discipline: postings are per-doc, so the idempotence contract is
    // the same at 1/4 the tokenize+write cost
    val docs = graft.io.Tables.documents(spark, sfDir)
      .select("doc_id", "text")
      .filter(pmod(col("doc_id"), lit(4L)) === 0L)
    def shard(r: Int): DataFrame =
      docs.filter(pmod(col("doc_id"), lit(8L)) === r.toLong)
    val written = withMicroBatchPartitions(spark) {
      postingsBatchBody(shard(0), dir)
      postingsBatchBody(shard(4), dir)
      postingsBatchBody(shard(4), dir) // replay: must append nothing
    }
    spark.read.schema(written).parquet(dir)
      .filter(pmod(col("doc_id"), lit(23L)) === 0L)
      .select(col("doc_id"), col("tok"), col("tf"), col("dl"))
      .orderBy(col("doc_id").asc, col("tok").asc)
  }

  /** One foreachBatch body of [[ingestMediaSignatures]], exposed for the
    * replay-idempotence spec: anti-join the batch against the signature
    * index's committed media_ids, decode/hash only the UNSEEN payloads
    * ([[graft.ext.Multimodal.mediaSignaturesOf]] — real pHash where the
    * pixels are decodable, SimHash stub otherwise), append their
    * signature rows. Signatures are per-payload deterministic, so a
    * replay after any crash window re-derives zero rows — the
    * [[vectorBatchBody]] contract.
    */
  private[graft] def mediaBatchBody(
      batch: DataFrame, indexPath: String): StructType = {
    batch.persist()
    try {
      val spark = batch.sparkSession
      // a media_id repeated WITHIN one micro-batch would append its
      // signature twice — collapse before hashing
      val fresh = batch.dropDuplicates("media_id").join(
        committedIds(spark, indexPath, "media_id"), Seq("media_id"),
        "left_anti")
      appendTo(indexPath, graft.ext.Multimodal.mediaSignaturesOf(fresh))
    } finally { batch.unpersist(); () }
  }

  /** Streaming MEDIA-SIGNATURE ingest — the streaming face of
    * [[graft.ext.Multimodal.mediaSignaturesShared]]'s append-only
    * refresh, closing the face family (text postings ✓, vectors ✓, exact
    * + near dedup ✓, media ✓): media rows (media_id, media_type,
    * content) arrive as a stream, each micro-batch pays one
    * partition-local decode/hash pass for only its unseen payloads, and
    * the committed index is exactly what [[graft.ext.Multimodal
    * .mediaNearDup]] searches. This is the 100 TB crawl-ingest shape for
    * the pHash index: per shard, work is delta decode + one anti-join
    * against committed ids; the corpus is never re-hashed.
    */
  def ingestMediaSignatures(
      media: DataFrame,
      indexPath: String,
      checkpoint: String): StreamingQuery =
    media.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        mediaBatchBody(batch, indexPath); ()
      }
      .start()

  /** [[ingestMediaSignatures]]'s dataflow in BATCH mode — the registered
    * face (`ingest_media_index`), same contract as [[vectorIngestFace]]:
    * a deterministic quarter of the media corpus (media_id % 4 = 0, the
    * face-cost discipline) arrives as two disjoint shards through
    * [[mediaBatchBody]], the second shard is REPLAYED (must decode and
    * append nothing — one duplicated signature row would break the
    * oracle hash), and the committed signature index is read back.
    */
  def mediaIngestFace(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = resetDir(spark, sfDir, "graft_ingest_media")
    val media = graft.ext.Multimodal.mediaTable(spark, sfDir)
      .filter(pmod(col("media_id"), lit(4L)) === 0L)
    def shard(r: Int): DataFrame =
      media.filter(pmod(col("media_id"), lit(8L)) === r.toLong)
    val written = withMicroBatchPartitions(spark) {
      mediaBatchBody(shard(0), dir)
      mediaBatchBody(shard(4), dir)
      mediaBatchBody(shard(4), dir) // replay: must append nothing
    }
    spark.read.schema(written).parquet(dir)
      .select(col("media_id"), col("media_type"), col("phash"),
        col("is_perceptual"))
      .orderBy(col("media_id").asc)
  }

  private val memberSchema = StructType(Seq(
    StructField("l_orderkey", LongType),
    StructField("l_partkey", LongType)))

  private val edgeSchema = StructType(Seq(
    StructField("src", LongType),
    StructField("dst", LongType),
    StructField("w", LongType)))

  private val censusSchema = StructType(Seq(
    StructField("l_partkey", LongType),
    StructField("pc", LongType)))

  /** Committed `epoch=N` subdirs of an ingest index root; `before`
    * restricts to epochs strictly below it — the pre-batch state a
    * replayed epoch re-derives from.
    */
  private def epochDirList(
      spark: SparkSession, root: String, before: Option[Long]): Seq[String] =
    listCommitted(spark, root) { s =>
      val n = s.getPath.getName
      s.isDirectory && n.startsWith("epoch=") &&
        n.stripPrefix("epoch=").toLongOption.exists(e => before.forall(e < _))
    }

  /** One foreachBatch body of [[ingestEdges]] — the streaming face of
    * the BASKET family's generational contract
    * ([[graft.ext.Graph.coPurchaseEdges]]): a micro-batch of
    * (l_orderkey, l_partkey) order lines appends one epoch of
    * (src, dst, w) edge-DELTA rows, derived by the SAME kernel the batch
    * artifact's [[graft.ops.Layout.Append]] delta runs
    * ([[graft.ext.Graph.edgeDelta]] — pairs with ≥1 end among the
    * batch's genuinely-new memberships, old×old never re-joined), plus
    * the membership log the next epoch's dedup/size checks read.
    * Consumers merge generations at read ([[readEdgeIndex]]: sum weights
    * per (src, dst)) — the batch artifact's merge contract.
    *
    * Replay idempotence differs from the per-row faces ([[vectorBatchBody]]
    * — anti-join suffices when rows are keyed): edge deltas are NOT
    * per-row keyed, and the body writes TWO outputs, so a crash between
    * them would leave any anti-join-based retry either doubling weights
    * or dropping the epoch. Instead both outputs are EPOCH-SCOPED
    * OVERWRITES (the standard foreachBatch exactly-once recipe:
    * Structured Streaming guarantees a replayed micro-batch carries the
    * same batchId) and the body reads ONLY epochs < its own — so a
    * replay after ANY crash window re-derives from identical inputs and
    * overwrites identical outputs.
    *
    * The batch artifact's one inexpressible case — an order CROSSING the
    * [[graft.ext.Graph.MaxBasket]] cap, whose committed pairs a rebuild
    * would drop — cannot rebuild here (committed epochs are immutable),
    * so the epoch CANCELS instead: it emits the crossing order's old
    * pairs at negative weight, and the read-side merge (sums are linear
    * in per-order contributions, `w > 0` filter drops the zeroed rows)
    * equals the one-shot bounded derivation exactly (spec-pinned).
    *
    * Since r13 the body also maintains the basket CENSUS — the
    * association-rule denominators [[graft.ext.Graph.basketCensus]]
    * serves in batch and `part_affinity` reads — as a third epoch-scoped
    * output (`census/epoch=N`): per-part membership-count deltas for the
    * batch's genuinely-new rows of under-cap orders, one sentinel
    * (`l_partkey = -1`) increment per brand-new under-cap order, and —
    * mirroring the edge cancel with the census's own crossing bound (old
    * size ≥ 1, not ≥ 2: a 1-part order counts toward `pc` and the basket
    * total even though it holds no pairs) — negative counts for a
    * crossing order's committed memberships + sentinel. Counting is
    * exact by the monotone-prefix argument: an order's merged size only
    * grows, so every membership of a finally-bounded order is counted at
    * exactly the epoch it first arrived, and a crossing order's counted
    * prefix is cancelled at exactly its crossing epoch — the merged
    * census equals the one-shot bounded census row-for-row (spec-pinned;
    * the DuckDB oracle proves it through `ingest_edge_index`, whose
    * readback folds the census rows in under [[CensusMark]]).
    */
  /** One foreachBatch body of [[ingestEdges]] — dispatcher. A micro-batch
    * whose pair list AND touched committed memberships both fit the
    * [[graft.ops.Materialize]] driver budget takes the DRIVER-LOCAL body
    * (the r13 graph-report discipline: the probe IS the collect, pair
    * production over ≤[[graft.ext.Graph.MaxBasket]]-part baskets is
    * local integer arithmetic, and the three epoch writes become
    * single-task local-relation writes — the face measured 2.9 s of
    * almost pure plan/stage overhead at sf0.1, identical at sf0.001).
    * Bigger batches take the
    * unchanged distributed branch; both branches derive the SAME epoch
    * rows (multiset-identical, spec-pinned), so mixed local/distributed
    * replays converge exactly as before.
    */
  private[graft] def edgeBatchBody(
      batch: DataFrame, indexPath: String, epoch: Long): Unit = {
    val spark = batch.sparkSession
    val sp = spark; import sp.implicits._
    val batchPairs = graft.ops.Materialize.collectIfDriverSized(
      batch.select(col("l_orderkey"), col("l_partkey")).as[(Long, Long)])
    val localDone = batchPairs.exists { raw =>
      val priorDirs = epochDirList(spark, s"$indexPath/members", Some(epoch))
      val newRaw = raw.distinct
      val touched = newRaw.map(_._1).distinct
      val oldTouched: Option[Array[(Long, Long)]] =
        if (priorDirs.isEmpty) Some(Array.empty)
        else graft.ops.Materialize.collectIfDriverSized(
          readSnapshot(spark, priorDirs, memberSchema)
            .join(broadcast(touched.toSeq.toDF("l_orderkey")),
              Seq("l_orderkey"), "left_semi")
            .as[(Long, Long)])
      oldTouched.exists { old =>
        localEdgeBody(spark, newRaw, old, indexPath, epoch); true
      }
    }
    if (!localDone) edgeBatchBodyDistributed(batch, indexPath, epoch)
  }

  /** The driver-local epoch derivation — the same algebra as
    * [[edgeBatchBodyDistributed]] executed as plain Scala over the
    * collected pairs; every output multiset is pinned row-for-row against
    * the distributed branch by the parity spec. Mirrored invariants:
    * memberships are unique per (order, part) across epochs (each epoch
    * writes only its anti-joined newOnly), an order's pair delta is every
    * directed pair with ≥1 new end, the census counts new memberships of
    * under-cap orders plus one sentinel increment per brand-new under-cap
    * order, and a cap-CROSSING order (old size ≥ 1, merged > cap) emits
    * its committed pairs/counts negated — with the edge-cancel bound at
    * old ≥ 2 (a 1-part history holds no pairs) and the sentinel cancel
    * emitted only when nonzero.
    */
  private def localEdgeBody(
      spark: SparkSession,
      newRaw: Array[(Long, Long)], oldTouched: Array[(Long, Long)],
      indexPath: String, epoch: Long): Unit = {
    val maxB = graft.ext.Graph.MaxBasket
    val oldByOrder = scala.collection.mutable.LongMap
      .empty[scala.collection.mutable.ArrayBuffer[Long]]
    oldTouched.foreach { case (o, p) =>
      oldByOrder.getOrElseUpdate(o,
        scala.collection.mutable.ArrayBuffer.empty[Long]) += p
    }
    val newByOrder = scala.collection.mutable.LongMap
      .empty[scala.collection.mutable.ArrayBuffer[Long]]
    newRaw.foreach { case (o, p) =>
      val olds = oldByOrder.getOrElse(o, null)
      if (olds == null || !olds.contains(p))
        newByOrder.getOrElseUpdate(o,
          scala.collection.mutable.ArrayBuffer.empty[Long]) += p
    }
    val edgeW = scala.collection.mutable.HashMap.empty[(Long, Long), Long]
    val cancelW = scala.collection.mutable.HashMap.empty[(Long, Long), Long]
    val pcDelta = scala.collection.mutable.LongMap.empty[Long]
    val pcCancel = scala.collection.mutable.LongMap.empty[Long]
    var newBaskets = 0L
    var crossedBaskets = 0L
    val orders = (oldByOrder.keysIterator ++ newByOrder.keysIterator)
      .toArray.distinct
    orders.foreach { o =>
      val olds = oldByOrder.getOrElse(o, scala.collection.mutable.ArrayBuffer.empty[Long])
      val news = newByOrder.getOrElse(o, scala.collection.mutable.ArrayBuffer.empty[Long])
      val m = olds.length + news.length
      if (m <= maxB) {
        // delta: every directed pair with >= 1 new end, once per order
        news.foreach { a =>
          olds.foreach { b =>
            if (a != b) {
              edgeW((a, b)) = edgeW.getOrElse((a, b), 0L) + 1L
              edgeW((b, a)) = edgeW.getOrElse((b, a), 0L) + 1L
            }
          }
          news.foreach { b =>
            if (a != b) edgeW((a, b)) = edgeW.getOrElse((a, b), 0L) + 1L
          }
          pcDelta(a) = pcDelta.getOrElse(a, 0L) + 1L
        }
        if (olds.isEmpty) newBaskets += 1L
      } else if (olds.nonEmpty && olds.length <= maxB) {
        // CROSSED this epoch: cancel the committed prefix
        if (olds.length >= 2)
          olds.foreach { a =>
            olds.foreach { b =>
              if (a != b)
                cancelW((a, b)) = cancelW.getOrElse((a, b), 0L) - 1L
            }
          }
        olds.foreach(p => pcCancel(p) = pcCancel.getOrElse(p, 0L) - 1L)
        crossedBaskets += 1L
      }
    }
    val edgeRows: Seq[(Long, Long, Long)] =
      edgeW.iterator.map { case ((s, d), w) => (s, d, w) }.toSeq ++
        cancelW.iterator.map { case ((s, d), w) => (s, d, w) }.toSeq
    val censusRows: Seq[(Long, Long)] =
      pcDelta.iterator.map { case (p, c) => (p, c) }.toSeq ++
        Seq((-1L, newBaskets)) ++
        pcCancel.iterator.map { case (p, c) => (p, c) }.toSeq ++
        (if (crossedBaskets > 0L) Seq((-1L, -crossedBaskets)) else Nil)
    val memberRows: Seq[(Long, Long)] = newByOrder.iterator.flatMap {
      case (o, ps) => ps.iterator.map(p => (o, p))
    }.toSeq
    // The rows ship to the write tasks as PRIMITIVE ARRAYS regenerated
    // in-task (a LocalRelation/createDataset write java-serializes every
    // row object into the task binary — measured ~4 µs/row, 1.0 s on a
    // 240k-row edge delta; the array closures move the same data as bulk
    // bytes and the tuple encoder runs codegen'd inside the task). File
    // count is the micro-batch partition count; the three independent
    // sinks run through [[runSettled]] like the distributed branch's.
    val sp = spark; import sp.implicits._
    val mb = MicroBatchPartitions
    def stripe(s: Long, n: Int): Range =
      ((s * n / mb).toInt until ((s + 1) * n / mb).toInt)
    def writePairs(rows: Seq[(Long, Long)], names: (String, String),
        path: String): Unit = {
      val n = rows.length
      val a = new Array[Long](n); val b = new Array[Long](n)
      var i = 0
      rows.foreach { r => a(i) = r._1; b(i) = r._2; i += 1 }
      spark.range(0L, mb.toLong, 1L, mb)
        .flatMap(s => stripe(s.longValue, n).iterator.map(j => (a(j), b(j))))
        .toDF(names._1, names._2)
        .write.mode("overwrite").parquet(path)
    }
    def writeTriples(rows: Seq[(Long, Long, Long)],
        names: (String, String, String), path: String): Unit = {
      val n = rows.length
      val a = new Array[Long](n); val b = new Array[Long](n)
      val c = new Array[Long](n)
      var i = 0
      rows.foreach { r => a(i) = r._1; b(i) = r._2; c(i) = r._3; i += 1 }
      spark.range(0L, mb.toLong, 1L, mb)
        .flatMap(s => stripe(s.longValue, n).iterator
          .map(j => (a(j), b(j), c(j))))
        .toDF(names._1, names._2, names._3)
        .write.mode("overwrite").parquet(path)
    }
    runSettled(
      () => writeTriples(edgeRows, ("src", "dst", "w"),
        s"$indexPath/edges/epoch=$epoch"),
      () => writePairs(censusRows, ("l_partkey", "pc"),
        s"$indexPath/census/epoch=$epoch"),
      () => writePairs(memberRows, ("l_orderkey", "l_partkey"),
        s"$indexPath/members/epoch=$epoch"))
  }

  /** Run an epoch's independent sink writes concurrently — the standard
    * foreachBatch multi-sink recipe: epoch wall time is the slowest
    * write, not the sum. Each write runs on a thread created for this
    * call, so it inherits the caller's Spark local properties (job
    * group, `streaming.sql.batchId`); a pooled thread would carry
    * whatever it inherited when the pool made it. Failures SETTLE before
    * they rethrow: a fail-fast return would leave the surviving writers
    * holding the epoch=N dirs, and the stream's replay of this epoch
    * would then race those orphaned overwrites on the same paths — so
    * every write runs to termination and only then does the first
    * failure fail the batch, keeping the epoch-scoped-overwrite replay
    * contract intact.
    */
  private def runSettled(writes: (() => Unit)*): Unit = {
    val failures = new Array[Throwable](writes.size)
    val threads = writes.zipWithIndex.map { case (write, i) =>
      val t = new Thread(() =>
        try write() catch { case e: Throwable => failures(i) = e })
      t.start()
      t
    }
    threads.foreach(_.join())
    failures.find(_ != null).foreach(e => throw e)
  }

  private[graft] def edgeBatchBodyDistributed(
      batch: DataFrame, indexPath: String, epoch: Long): Unit = {
    val spark = batch.sparkSession
    val maxB = graft.ext.Graph.MaxBasket
    val newRaw = batch.select(col("l_orderkey"), col("l_partkey"))
      .distinct().persist()
    try {
      // the member-epoch listing is already driver-side metadata — when no
      // prior epoch exists (every stream's first batch, and the face's
      // epoch 0), the old-membership joins are identities and NOTHING can
      // cross the cap (crossing needs ≥1 committed membership), so the
      // whole body collapses to the three concurrent epoch writes with no
      // probe action and no join legs (r14: one scheduled wave, not two)
      val priorDirs = epochDirList(spark, s"$indexPath/members", Some(epoch))
      val oldMembers = readSnapshot(spark, priorDirs, memberSchema)
      val touched = newRaw.select("l_orderkey").distinct()
      val oldTouched =
        (if (priorDirs.isEmpty) oldMembers
         else oldMembers.join(touched, Seq("l_orderkey"), "left_semi"))
          .persist()
      try {
        val newOnly =
          (if (priorDirs.isEmpty) newRaw
           else newRaw.join(oldTouched,
             Seq("l_orderkey", "l_partkey"), "left_anti")).persist()
        val mergedSz = oldTouched.unionByName(newOnly)
          .groupBy(col("l_orderkey")).agg(count(lit(1)).as("__m")).persist()
        try {
          val okOrders = mergedSz.filter(col("__m") <= maxB)
            .select("l_orderkey")
          val delta = graft.ext.Graph.edgeDelta(newOnly, oldTouched, okOrders)
          // census delta: new memberships of under-cap orders count once
          // per part; brand-new under-cap orders (no committed
          // membership) grow the sentinel basket total
          val pcDelta = newOnly
            .join(okOrders, Seq("l_orderkey"), "left_semi")
            .groupBy(col("l_partkey")).agg(count(lit(1)).as("pc"))
          val nbDelta = mergedSz.filter(col("__m") <= maxB)
            .join(oldTouched.select("l_orderkey"), Seq("l_orderkey"),
              "left_anti")
            .agg(count(lit(1)).as("pc"))
            .select(lit(-1L).as("l_partkey"), col("pc"))
          val censusDelta = pcDelta.unionByName(nbDelta)
          // cap-crossing cancellation: old size in [2, cap] for edges
          // (0/1-part histories hold no pairs), [1, cap] for the census
          // (a 1-part order was counted); an order that crossed in an
          // EARLIER epoch has __o > cap and was cancelled then; merged >
          // cap. The emptiness probe is one bounded driver action (the
          // basketDelta eager-check discipline) that keeps the common
          // no-crossing epoch's write DAG free of the cancel legs —
          // probed on the cheap single-stage `__m > cap` filter of the
          // persisted sizes (no order over the cap ⇒ no crossing).
          // (r14 measured dead-end: wiring the cancel legs in
          // unconditionally to save the probe wave benched the face
          // 2.9 → 3.35 s — AQE only discovers the legs are empty AFTER
          // scheduling their map stages, so the "free" empty legs cost
          // more than the probe they replaced.)
          val (epochRows, censusRows) =
            if (priorDirs.isEmpty ||
              mergedSz.filter(col("__m") > maxB).isEmpty)
              (delta, censusDelta)
            else {
              val oldSz = oldTouched.groupBy(col("l_orderkey"))
                .agg(count(lit(1)).as("__o"))
              val overCap = mergedSz.filter(col("__m") > maxB)
                .join(oldSz, Seq("l_orderkey"))
              val crossed = overCap.filter(col("__o").between(2L, maxB))
                .select("l_orderkey")
              val crossedOld = oldTouched
                .join(crossed, Seq("l_orderkey"), "left_semi")
              val crossedC = overCap.filter(col("__o").between(1L, maxB))
                .select("l_orderkey")
              val pcCancel = oldTouched
                .join(crossedC, Seq("l_orderkey"), "left_semi")
                .groupBy(col("l_partkey"))
                .agg((-count(lit(1))).as("pc"))
              val nbCancel = crossedC
                .agg((-count(lit(1))).as("pc"))
                .select(lit(-1L).as("l_partkey"), col("pc"))
                .filter(col("pc") =!= 0L)
              (delta.unionByName(graft.ext.Graph.edgeAggW(
                graft.ext.Graph.edgePairsOf(crossedOld, crossedOld))
                .select(col("src"), col("dst"), (-col("w")).as("w"))),
                censusDelta.unionByName(pcCancel).unionByName(nbCancel))
            }
          // the three epoch outputs are independent sinks over the same
          // persisted frames (cache partitions are computed once and
          // shared under the cache locks)
          runSettled(
            () => epochRows.write.mode("overwrite")
              .parquet(s"$indexPath/edges/epoch=$epoch"),
            () => censusRows.write.mode("overwrite")
              .parquet(s"$indexPath/census/epoch=$epoch"),
            () => newOnly.write.mode("overwrite")
              .parquet(s"$indexPath/members/epoch=$epoch"))
        } finally { newOnly.unpersist(); mergedSz.unpersist(); () }
      } finally { oldTouched.unpersist(); () }
    } finally { newRaw.unpersist(); () }
  }

  /** The streamed edge index's consumer view: all committed epoch deltas
    * merged — sum weights per (src, dst), cancellations netting to zero
    * dropped. This is the [[graft.ops.Layout.Append]] read-side
    * merge applied to the stream's epoch generations.
    */
  private[graft] def readEdgeIndex(
      spark: SparkSession, indexPath: String): DataFrame =
    readSnapshot(spark, epochDirList(spark, s"$indexPath/edges", None), edgeSchema)
      .groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w"))
      .filter(col("w") > 0)

  /** The streamed CENSUS's consumer view: committed epoch deltas merged —
    * sum counts per part, a part whose counts net to zero (all its
    * memberships sat in since-crossed orders) dropped exactly as a batch
    * rebuild would drop it. The sentinel row (`l_partkey = -1`, the
    * bounded-basket total) survives even at zero: the batch census
    * always carries it.
    */
  private[graft] def readCensusIndex(
      spark: SparkSession, indexPath: String): DataFrame =
    readSnapshot(spark, epochDirList(spark, s"$indexPath/census", None),
      censusSchema)
      .groupBy(col("l_partkey")).agg(sum(col("pc")).as("pc"))
      .filter(col("pc") > 0 || col("l_partkey") === -1L)

  /** Streaming CO-PURCHASE-EDGE ingest — the streaming maintainer the
    * basket family lacked (r11 verdict, Missing #2): order-line rows
    * (l_orderkey, l_partkey) arrive as a stream and each micro-batch
    * appends one epoch of edge-delta rows through [[edgeBatchBody]].
    * At 100 TB each epoch's cost is delta-proportional (new×touched-old
    * pair production, never old×old), the committed epochs are immutable
    * files, and consumers pay one exchange-free-shaped merge hash-agg —
    * the same decade the batch artifact's generational refresh measured
    * (STRESS_r11 tier J: 0.34–0.38× build).
    */
  def ingestEdges(
      lines: DataFrame,
      indexPath: String,
      checkpoint: String): StreamingQuery =
    lines.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        edgeBatchBody(batch, indexPath, id)
      }
      .start()

  /** [[ingestEdges]]'s dataflow in BATCH mode — the registered face
    * (`ingest_edge_index`), same contract as [[vectorIngestFace]]: a
    * deterministic 1/8 of the orders (l_orderkey % 8 = 0 — the kernel
    * under test is per-order, so the slice loses no coverage and keeps
    * the face job-count-bound like its siblings) arrives as two shards
    * split BY LINE NUMBER — so the second epoch's orders genuinely
    * merge with memberships the first epoch committed, exercising the
    * new×old pair leg — the second shard is REPLAYED (epoch-scoped
    * overwrite: must re-derive identical rows, net-zero to the merge),
    * and the merged index is read back. The dumped rows are a src % 17
    * slice so the oracle artifact stays small at any sfDir.
    */
  def edgeIngestFace(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = resetDir(spark, sfDir, "graft_ingest_edge")
    val lines = graft.io.Tables.lineitem(spark, sfDir)
      .filter(pmod(col("l_orderkey"), lit(8L)) === 0L)
      .select(col("l_orderkey"), col("l_partkey"), col("l_linenumber"))
    def shard(r: Int): DataFrame = lines
      .filter(pmod(col("l_linenumber"), lit(2L)) === r.toLong)
      .select(col("l_orderkey"), col("l_partkey"))
    withMicroBatchPartitions(spark) {
      edgeBatchBody(shard(0), dir, 0L)
      edgeBatchBody(shard(1), dir, 1L)
      edgeBatchBody(shard(1), dir, 1L) // replay: same epoch, net no-op
    }
    val edges = readEdgeIndex(spark, dir)
      .filter(pmod(col("src"), lit(17L)) === 0L)
      .select(col("src"), col("dst"), col("w"))
    // the maintainer's CENSUS leg rides the same face (one set of epoch
    // bodies proves both outputs — a separate face would re-ingest the
    // identical slice for another ~10 fixed-overhead jobs): census rows
    // fold in as (l_partkey, CensusMark, pc). The marker dst cannot
    // collide with a real edge — part keys are positive — and the
    // sentinel part (-1, the bounded-basket total) rides within it, so
    // one double-counted membership, missed sentinel increment, or
    // uncancelled crossing breaks the face hash exactly as an edge
    // defect would.
    val census = readCensusIndex(spark, dir)
      .filter(col("l_partkey") % 7 === 0L || col("l_partkey") === -1L)
      .select(col("l_partkey").as("src"), lit(CensusMark).as("dst"),
        col("pc").as("w"))
    edges.unionByName(census)
      .orderBy(col("src").asc, col("dst").asc)
  }

  /** `dst` marker of the census rows folded into [[edgeIngestFace]]'s
    * readback: impossible as a real edge endpoint (part keys are
    * positive) and distinct from the census sentinel part (-1).
    */
  private[graft] val CensusMark = -9L

  /** Shuffle partitions of an epoch body, and write stripes of the edge
    * body's driver branch. The ingest-face bodies run ~10-stage DAGs over
    * DELTA-sized batches; at the session's cluster-sized partition count
    * those stages are task-launch-overhead bound (the edge face profiled
    * 2× faster at 4–8 partitions than at 32 on identical data — BASELINE
    * c12). Results are partition-count-invariant (hash-pinned at both
    * SFs); only the job overhead moves.
    */
  private val MicroBatchPartitions = 4

  /** Run `body` with [[MicroBatchPartitions]] shuffle partitions,
    * restoring the session's setting after.
    */
  private def withMicroBatchPartitions[T](spark: SparkSession)(body: => T): T = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", MicroBatchPartitions.toString)
    try body
    finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Per-(sfDir, face) scratch dir under the session warehouse, deleted
    * on entry — each face call re-ingests from scratch (determinism over
    * cleverness: a stale index from an earlier corpus can never leak in).
    */
  private[streaming] def resetDir(
      spark: SparkSession, sfDir: String, tag: String): String = {
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    // collision-resistant dir tag: a 32-bit hashCode can collide across
    // distinct sfDirs, and a collision here would delete another run's
    // committed index mid-flight. SHA-256 of the full path cannot.
    val sha = java.security.MessageDigest.getInstance("SHA-256")
      .digest(sfDir.getBytes("UTF-8"))
      .take(12).map(b => f"$b%02x").mkString
    val dir = s"$wh/${tag}_$sha"
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
    // Sweep pre-SHA-tag orphans: earlier trees named these dirs with an
    // 8-hex-char 32-bit hashCode suffix; the SHA rename left those dirs
    // unreachable in warm warehouses, accumulating as dead disk usage.
    val legacy = new org.apache.hadoop.fs.Path(wh)
    if (fs.exists(legacy)) {
      val pat = s"\\Q${tag}_\\E[0-9a-f]{8}".r
      fs.listStatus(legacy).foreach { st =>
        if (pat.pattern.matcher(st.getPath.getName).matches())
          fs.delete(st.getPath, true)
      }
    }
    dir
  }

  /** One micro-batch of the running heavy-hitter summary — the testable
    * kernel of [[heavyHitterMonitor]], mirroring [[dedupBatch]]'s
    * contract. Reads the summary state AS OF A BATCH BEFORE `batchId`,
    * merges this batch's tokens through the WEIGHTED Misra–Gries update
    * (`graft_heavy_hitters_w`: stored items re-enter at their counter
    * weight — never materialized as weight-many rows), and publishes the
    * new ≤k-row state stamped with `batchId`.
    *
    * REPLAY-IDEMPOTENT via two state generations, for ANY number of
    * retries: on the normal path publish rotates live→prev before
    * tmp→live; on the REPLAY path (live already carries batch_id ≥ the
    * current one, i.e. live is this batch's own earlier attempt) the read
    * side uses `prev` — the pre-batch state — and publish DELETES the
    * stale live instead of rotating it, so `prev` keeps the pre-batch
    * state across repeated crashes of the same batch (rotating the stale
    * attempt into `prev` would make a SECOND retry re-merge the batch's
    * own tokens and double-count). A crash between the delete/rename
    * pair leaves only `prev`, which is exactly the pre-batch state the
    * retry needs. A `prev` generation stamped ≥ the current batch (an
    * out-of-order replay this scheme cannot serve) fails loudly rather
    * than double-counting.
    */
  def heavyHitterBatch(
      batch: DataFrame, summaryPath: String, batchId: Long, k: Int): Unit = {
    val spark = batch.sparkSession
    graft.functions.GraftFunctions.register(spark)
    val words = batch.select(explode(
      expr("""filter(split(lower(text), '\\s+'), t -> t <> '')"""))
      .as("item")).withColumn("weight", lit(1L))
    runningSummaryBatch(spark, summaryPath, batchId, "heavyHitterBatch") {
      prior =>
        val priorRows = prior
          .map(_.select(col("item"), col("count_est").as("weight")))
          .getOrElse(words.limit(0).select(col("item"), col("weight")))
        words.unionByName(priorRows)
          .agg(expr(s"graft_heavy_hitters_w(item, weight, $k)").as("hh"))
          .select(explode(col("hh")).as("e"))
          .select(col("e.item").as("item"), col("e.count_est"))
    }
  }

  /** Shared generation-rotation discipline for RUNNING mergeable
    * summaries (`live` / `__prev` / `__next` dirs, batch_id-stamped):
    * reads the pre-batch state, hands it to `mergeWithPrior` (None =
    * first batch or crash-window retry whose pre-batch state is `__prev`
    * handled here), stamps the result with batch_id and publishes it
    * with the crash-safe delete/rename pair. Replay semantics (the
    * crash-window contracts the torn-write specs pin): a live generation
    * stamped ≥ the current batch is this batch's own stale attempt —
    * dropped, never rotated, so `__prev` keeps the pre-batch state for
    * further retries; an out-of-order `__prev` (stamped ≥ current) fails
    * loudly rather than double-counting.
    */
  private[graft] def runningSummaryBatch(
      spark: SparkSession, statePath: String, batchId: Long, tag: String)(
      mergeWithPrior: Option[DataFrame] => DataFrame): Unit = {
    // missing state (first batch, or a generation lost to the crash
    // window) is the ONLY silent fallback — any other read failure must
    // surface, not silently reset the stream's summary
    def readState(p: String): Option[DataFrame] =
      try {
        val df = spark.read.parquet(p)
        df.first() // force: an empty/corrupt dir fails here, not lazily
        Some(df)
      } catch { case _: org.apache.spark.sql.AnalysisException => None
                case _: java.util.NoSuchElementException => None }
    val liveState = readState(statePath)
    // live stamped ≥ this batch = this batch's own earlier attempt (replay)
    val liveIsReplay = liveState.exists(
      _.select(max(col("batch_id"))).first().getLong(0) >= batchId)
    val prior = if (liveState.isDefined && !liveIsReplay) liveState
    else {
      // live is this batch's stale attempt (replay) or missing (crash
      // window): the pre-batch state lives in __prev
      val prevState = readState(statePath + "__prev")
      prevState.foreach { p =>
        val pb = p.select(max(col("batch_id"))).first().getLong(0)
        if (pb >= batchId) throw new IllegalStateException(
          s"$tag: __prev generation is stamped batch $pb >= " +
            s"current batch $batchId — pre-batch state is unrecoverable; " +
            "refusing to double-count")
      }
      if (prevState.isEmpty && liveIsReplay && batchId > 0L)
        throw new IllegalStateException(
          s"$tag: replaying batch $batchId but no __prev " +
            "generation exists — pre-batch state lost; refusing to guess")
      prevState
    }
    val merged = mergeWithPrior(prior).withColumn("batch_id", lit(batchId))
    val fs = new org.apache.hadoop.fs.Path(statePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(statePath + "__next")
    val prev = new org.apache.hadoop.fs.Path(statePath + "__prev")
    val live = new org.apache.hadoop.fs.Path(statePath)
    merged.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    if (liveIsReplay) {
      // live is this batch's own stale attempt: drop it so __prev keeps the
      // PRE-batch state for any further retry — never rotate it into __prev
      if (fs.exists(live)) fs.delete(live, true)
    } else if (fs.exists(live)) {
      if (fs.exists(prev)) fs.delete(prev, true)
      if (!fs.rename(live, prev))
        throw new IllegalStateException(
          s"$tag: failed to rotate $statePath to __prev")
    }
    // no live and not a replay = the crash-window retry (live was already
    // rotated to __prev by the crashed attempt): __prev IS the pre-batch
    // state just merged from — it must survive until the publish rename
    // lands, so there is nothing to rotate OR delete here; deleting
    // __prev first would leave ZERO generations if this attempt also
    // crashes before the rename, silently resetting the summary
    if (!fs.rename(tmp, live))
      throw new IllegalStateException(
        s"$tag: failed to publish $statePath")
    ()
  }

  /** One batch of [[topKMonitor]]: merge the batch's top-k with the
    * stored one. Unlike the Misra–Gries summary, this running state is
    * EXACT, not an estimate — top-k under the (score desc, id asc) total
    * order is exactly mergeable (top-k of a union = top-k of the
    * per-part top-ks), so the stream's answer equals the batch answer
    * over the whole history at ≤ k rows of state.
    */
  private[graft] def topKBatch(
      batch: DataFrame, statePath: String, batchId: Long, k: Int): Unit = {
    val spark = batch.sparkSession
    graft.functions.GraftFunctions.register(spark)
    val scored = batch.select(
      col("n_chars").cast("double").as("score"), col("doc_id").as("id"))
    runningSummaryBatch(spark, statePath, batchId, "topKBatch") { prior =>
      val priorRows = prior.map(_.select(col("score"), col("id")))
        .getOrElse(scored.limit(0))
      scored.unionByName(priorRows)
        .agg(expr(s"graft_topk(score, id, $k)").as("top"))
        .select(explode(col("top")).as("e"))
        .select(col("e.score").as("score"), col("e.id").as("id"))
    }
  }

  /** Streaming top-k monitor: the RUNNING k highest-scoring documents
    * seen on the stream (score = n_chars here; any numeric works),
    * maintained by merging each micro-batch's top-k into the stored one
    * under the [[runningSummaryBatch]] crash discipline. The exact
    * streaming face of [[graft.functions.TopKAgg]]'s mergeability —
    * state is ≤ k rows regardless of stream length, never re-reads the
    * corpus, and the answer is EXACT over the whole history.
    */
  def topKMonitor(
      docs: DataFrame,
      statePath: String,
      checkpoint: String,
      k: Int = 16): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        topKBatch(batch, statePath, batchId, k)
      }
      .start()

  /** Streaming heavy-hitter monitor: a RUNNING Misra–Gries summary of the
    * token stream, maintained by merging each micro-batch's summary into
    * the stored one — the across-TIME face of the same mergeability that
    * [[graft.functions.MisraGriesAgg]] uses across partitions; see
    * [[heavyHitterBatch]] for the per-batch contract and replay story.
    *
    * Scale shape: per batch one tokenize pass + one bounded aggregate;
    * the merged state is ≤ k rows regardless of stream length — this
    * never re-reads the corpus, which is the point of a mergeable
    * summary.
    */
  def heavyHitterMonitor(
      docs: DataFrame,
      summaryPath: String,
      checkpoint: String,
      k: Int = 64): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        heavyHitterBatch(batch, summaryPath, batchId, k)
      }
      .start()
}
