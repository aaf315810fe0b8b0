package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.Tables

/** Training-data preparation operators over `documents` — the corpus-prep
  * stage of an LLM data pipeline (chunk → sample → split), all
  * deterministic so runs are reproducible and auditable.
  *
  * Scale shapes: chunking is a generator (explode) — a narrow stage whose
  * output is bounded by tokens/stride per doc; sampling and splitting are
  * pure hash predicates on the id — no shuffle, no stored state, stable
  * under repartitioning (they depend only on column VALUES, never on row
  * order — the trap with `rand()`/`sampleBy`, whose draw depends on
  * partition layout).
  */
object Corpus {

  private val toksExpr = """filter(split(text, '\\s+'), t -> t <> '')"""

  /** Overlapping token-window chunks: windows of `size` tokens every
    * `stride` tokens (stride < size ⇒ overlap, the usual embedding-input
    * shape). Empty docs yield one empty chunk — callers filter or keep by
    * policy. chunk_idx = start/stride is derivable, kept explicit for
    * downstream joins.
    */
  def chunk(spark: SparkSession, sfDir: String, size: Int = 32, stride: Int = 24): DataFrame =
    chunkRows(spark, sfDir, size, stride)
      .orderBy(col("doc_id").asc, col("chunk_idx").asc)

  /** [[chunk]] without the presentation sort — consumers that reshuffle
    * anyway (packing) skip the global sort.
    */
  private def chunkRows(
      spark: SparkSession, sfDir: String, size: Int, stride: Int): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), expr(toksExpr).as("toks"))
      .withColumn("n", expr("size(toks)"))
      .select(col("doc_id"), col("toks"),
        posexplode(expr(s"sequence(0, greatest(n - 1, 0), $stride)"))
          .as(Seq("chunk_idx", "start")))
      .select(
        col("doc_id"), col("chunk_idx"),
        expr(s"size(slice(toks, start + 1, $size))").as("n_tokens"),
        expr(s"concat_ws(' ', slice(toks, start + 1, $size))").as("chunk_text"))

  /** CONTENT-DEFINED chunking (CDC, the FastCDC/rolling-hash family):
    * chunk boundaries are cut where the hash of the trailing 3-token
    * window lands in a 1/`divisor` bucket, NOT at fixed offsets — so an
    * insertion near the front of a document perturbs only the chunks up
    * to the next content-defined boundary, and everything after
    * re-aligns (the property that makes sub-document dedup and delta
    * storage work; fixed-stride chunks shift wholesale). Expected chunk
    * length = `divisor` tokens. Per chunk: position, token count, and a
    * sha-256 content fingerprint — the unit a chunk-level dedup or
    * anti-entropy store keys on ([[graft.ops.Profiling.shardChecksums]]'
    * sub-document counterpart).
    *
    * Determinism/twin: the rolling window is an explicit 3-token concat
    * hashed with the engine-portable sha bucket
    * ([[Dedup.shaBucket]]'s recipe), boundary flags fold into chunk ids
    * with a running sum over one doc-partitioned window, and the chunk
    * fingerprint hashes the position-ordered token join — every step
    * reproduces in the DuckDB oracle byte-for-byte.
    *
    * Scale shape: one token explode, THREE window passes sharing one
    * doc_id exchange (lag gram build, running boundary sum — the
    * subset-clustering rule keeps them on a single shuffle), one
    * (doc, chunk) hash aggregation. No joins, no driver state.
    */
  def cdcChunks(
      spark: SparkSession, sfDir: String, divisor: Int = 16): DataFrame =
    cdcChunksOf(Tables.documents(spark, sfDir), divisor)
      .orderBy(col("doc_id").asc, col("chunk_idx").asc)

  /** [[cdcChunks]] over an arbitrary (doc_id, text) frame — also the
    * spec's seam for the insertion-stability property.
    */
  private[ext] def cdcChunksOf(
      docs: DataFrame, divisor: Int = 16): DataFrame = {
    val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos").asc)
    docs
      .select(col("doc_id"), posexplode(expr(toksExpr)).as(Seq("pos", "tok")))
      .withColumn("__gram", concat_ws(" ",
        coalesce(lag(col("tok"), 2).over(byPos), lit("")),
        coalesce(lag(col("tok"), 1).over(byPos), lit("")),
        col("tok")))
      .withColumn("__cut",
        when(col("pos") === 0 ||
          Dedup.shaBucket(col("__gram"), divisor.toLong) === 0L, 1L)
          .otherwise(0L))
      .withColumn("chunk_idx", sum(col("__cut")).over(
        byPos.rowsBetween(Window.unboundedPreceding, Window.currentRow)) - 1L)
      .groupBy(col("doc_id"), col("chunk_idx"))
      .agg(
        min(col("pos")).cast("long").as("start_pos"),
        count(lit(1)).as("n_tokens"),
        substring(sha2(array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          x => x.getField("tok")), " "), 256), 1, 16).as("chunk_sha"))
  }

  /** Sequence PACKING: chunks concatenate into fixed-budget training
    * sequences (`maxTokens`), the standard pretraining step that turns
    * ragged documents into dense batches. Deterministic and distributed:
    * chunks shard by doc-id hash, and WITHIN a shard a running token count
    * assigns each chunk to sequence floor(tokens_before / maxTokens) — a
    * shard-local window, so the only shuffle keys on `shard` and no global
    * order is ever imposed (a single global cumulative sum would serialize
    * the corpus through one partition; shard-local packing is what real
    * pipelines do, trading a straddling chunk per boundary for
    * parallelism). Returns per-sequence occupancy — the packing manifest a
    * downstream writer would consume.
    */
  def packChunks(
      spark: SparkSession, sfDir: String,
      maxTokens: Int = 512, shards: Int = 8,
      size: Int = 32, stride: Int = 24): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard"))
      .orderBy(col("doc_id").asc, col("chunk_idx").asc)
      .rowsBetween(Long.MinValue, -1)
    chunkRows(spark, sfDir, size, stride)
      .withColumn("shard", pmod(col("doc_id"), lit(shards.toLong)))
      .withColumn("__before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("seq_idx", floor(col("__before") / lit(maxTokens)))
      .groupBy(col("shard"), col("seq_idx"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(col("n_tokens")).as("n_tokens"),
        countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("shard").asc, col("seq_idx").asc)
  }

  /** Deterministic train/val/test split by id hash: bucket = xxhash64(id,
    * salt) mod 100. Disjoint, exhaustive, reproducible on any cluster and
    * stable when the corpus grows (a doc's split never changes). Rows-only
    * (xxhash64 has no DuckDB twin); invariants are property-tested.
    */
  def split(
      spark: SparkSession, sfDir: String,
      valPct: Int = 10, testPct: Int = 10, salt: Int = 7): DataFrame = {
    val bucket = pmod(xxhash64(col("doc_id"), lit(salt)), lit(100L))
    Tables.documents(spark, sfDir)
      .withColumn("split",
        when(bucket < testPct, "test")
          .when(bucket < testPct + valPct, "val")
          .otherwise("train"))
      .select("doc_id", "lang", "source", "split")
  }

  /** Per-split doc counts from [[split]] (rows-only: the xxhash64 bucket
    * has no DuckDB twin; invariants are property-tested in CorpusSpec).
    */
  def splitSummary(spark: SparkSession, sfDir: String): DataFrame =
    split(spark, sfDir)
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("split").asc)

  /** Oracle-checkable invariants of [[split]] as one row: the assignment
    * is exhaustive and disjoint (one row and one label per document —
    * n_assigned and n_unique_docs both equal the corpus count) and the
    * bucketing realizes all three classes. The per-split sizes themselves
    * are hash-dependent ([[splitSummary]], rows-only); this is the part a
    * SQL twin CAN pin down.
    */
  def splitCheck(spark: SparkSession, sfDir: String): DataFrame =
    split(spark, sfDir)
      .agg(
        count(lit(1)).as("n_assigned"),
        countDistinct(col("doc_id")).as("n_unique_docs"),
        countDistinct(col("split")).as("n_splits"))
      .crossJoin(broadcast(
        Tables.documents(spark, sfDir).agg(count(lit(1)).as("n_total"))))

  /** Weighted mix of corpora: each source DataFrame keeps a hash-determined
    * fraction of its rows (its mixing weight in [0,1]), tagged and unioned.
    * The standard pretraining-mixture shape (e.g. web 0.6 + code 0.3 +
    * books 1.0) — deterministic for the same reasons as
    * [[stratifiedSample]]: the keep decision is a value hash, not an RNG
    * draw, so the mixture is reproducible and incrementally stable.
    */
  def weightedMix(sources: Seq[(String, DataFrame, Double)], idCol: String,
      salt: Int = 13, twinnable: Boolean = false): DataFrame =
    sources.map { case (name, df, weight) =>
      df.filter(bucket1000(col(idCol), salt, twinnable) < weight * 1000)
        .withColumn("mix_source", lit(name))
    }.reduce(_ unionByName _)

  /** Deterministic bucket in [0, 1000) for sampling predicates. Two
    * families with identical statistical behavior: `twinnable = false`
    * (default on hot paths) — xxhash64, one codegen'd long op per row;
    * `twinnable = true` — the first 8 hex digits of sha2-256 of
    * `"<id>#<salt>"`, byte-for-byte reproducible in any engine with a
    * SHA-256 builtin (the DuckDB oracle computes the same number), at the
    * cost of a string hash per row.
    */
  private[ext] def bucket1000(id: Column, salt: Int, twinnable: Boolean): Column =
    if (twinnable)
      conv(substring(sha2(concat(id.cast("string"), lit(s"#$salt")), 256), 1, 8),
        16, 10).cast("long") % 1000L
    else pmod(xxhash64(id, lit(salt)), lit(1000L))

  /** Driver-registered mixture manifest: `documents` partitioned into three
    * sub-corpora by `source` (head/mid/tail) and mixed at weights
    * 1.0/0.5/0.25 — the per-source doc and char budget a pretraining run
    * would consume. sha2 buckets so the DuckDB twin reproduces the exact
    * keep set; integer sums, oracle-exact.
    */
  def mixSummary(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    def slice(srcs: Seq[Int]): DataFrame =
      docs.filter(col("source").isin(srcs.map(i => s"src$i"): _*))
    weightedMix(
      Seq(
        ("head", slice(0 to 5), 1.0),
        ("mid", slice(6 to 12), 0.5),
        ("tail", slice(13 to 19), 0.25)),
      idCol = "doc_id", twinnable = true)
      .groupBy(col("mix_source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      .orderBy(col("mix_source").asc)
  }

  /** Temperature-weighted source-mixing proposal — the "how much of each
    * domain goes into the next mix" planning report. Per source:
    * volume (docs, whitespace tokens), its natural token share p, the
    * temperature-sampled mix weight w ∝ p^(1/2) (α = 0.5, the standard
    * multilingual/domain rebalancing curve — sqrt because IEEE sqrt is
    * EXACTLY rounded, so both engines derive bit-identical weights; a
    * free-exponent pow is not), and the effective epoch count w/p the
    * weight implies (>1 ⇒ the source is over-sampled / repeated).
    *
    * Cross-engine float discipline: every derived number is built from
    * exactly-rounded ops only (÷, sqrt, ×) in the same evaluation order
    * as the twin, and the only SUM over non-integers runs on
    * DECIMAL(18,6) (exact, order-independent) — the round(·,6) quantizes
    * BEFORE the sum, never after.
    *
    * Scale shape: one map-side-combinable aggregation collapses the
    * corpus to |sources| rows; everything after runs on that tiny frame
    * (persisted call-scoped so the two scalar attaches don't rescan the
    * corpus). Driver-materialized report (|sources| rows).
    */
  def domainMixReport(spark: SparkSession, sfDir: String): DataFrame = {
    val perSource = Tables.documents(spark, sfDir)
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(TextStats.tokenCount(col("text")).cast("long"))
          .as("total_tokens"))
      .persist()
    try {
      val tot = perSource.agg(sum(col("total_tokens")).as("__tot"))
      val scored = perSource.crossJoin(broadcast(tot))
        .withColumn("__p",
          col("total_tokens").cast("double") / col("__tot").cast("double"))
        .withColumn("__s", round(sqrt(col("__p")), 6).cast("decimal(18,6)"))
      val sumS = scored.agg(sum(col("__s")).as("__sum_s"))
      val out = scored.crossJoin(broadcast(sumS))
        .withColumn("__w",
          col("__s").cast("double") / col("__sum_s").cast("double"))
        .select(
          col("source"), col("n_docs"), col("total_tokens"),
          round(col("__p"), 6).as("token_share"),
          round(col("__w"), 6).as("mix_weight"),
          round(col("__w") / col("__p"), 6).as("effective_epochs"))
        .orderBy(col("source").asc)
      graft.ops.Materialize.localOrSpill(out)
    } finally perSource.unpersist()
  }

  /** Deterministic global shuffle + shard manifest — the write-side step
    * that turns a curated corpus into training shards: every doc gets a
    * reproducible pseudo-random order key (60-bit sha2 prefix, the
    * twinnable form of [[bucket1000]]), its shard is `key mod nShards`,
    * and within a shard the serialization order is the key itself. No
    * corpus-sized sort ever runs HERE — the manifest is one hash
    * aggregation; the actual writer sorts WITHIN each shard
    * (`repartition(shard).sortWithinPartitions(key)`), which is the
    * parallel, spill-safe shape at 100 TB (a single global orderBy would
    * funnel the corpus through one range exchange).
    *
    * Emits per shard: doc count, char budget, and the key range — what a
    * downstream writer needs to size and order its output files.
    */
  def shardManifest(spark: SparkSession, sfDir: String,
      nShards: Int = 8, salt: Int = 19): DataFrame = {
    val key = conv(substring(
      sha2(concat(col("doc_id").cast("string"), lit(s"#$salt")), 256), 1, 15),
      16, 10).cast("long")
    Tables.documents(spark, sfDir)
      .withColumn("shuffle_key", key)
      .withColumn("shard", pmod(col("shuffle_key"), lit(nShards.toLong)))
      .groupBy(col("shard"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        min(col("shuffle_key")).as("key_min"),
        max(col("shuffle_key")).as("key_max"))
      .orderBy(col("shard").asc)
  }

  /** Fixed-BUDGET deterministic sample: exactly `n` documents (fewer only
    * if the corpus is smaller), chosen as the lowest sha2 shuffle keys —
    * the eval-set / holdout carve-out shape, where the budget is a count,
    * not a fraction. Reproducible on any cluster and STABLE under corpus
    * growth in expectation (a doc's key never changes; only keys below
    * the moving n-th smallest displace members). Spark plans the
    * order-by-limit as TakeOrdered (per-partition top-n + driver merge),
    * so no global sort runs at any corpus size.
    */
  def sampleBudget(
      spark: SparkSession, sfDir: String, n: Int = 100, salt: Int = 23): DataFrame = {
    val key = conv(substring(
      sha2(concat(col("doc_id").cast("string"), lit(s"#$salt")), 256), 1, 15),
      16, 10).cast("long")
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("source"), key.as("sample_key"))
      .orderBy(col("sample_key").asc, col("doc_id").asc)
      .limit(n)
  }

  /** Weighted sample WITHOUT replacement (Efraimidis–Spirakis A-ES): each
    * doc draws a deterministic uniform u from its sha2 key and competes on
    * u^(1/w) — the top-`n` keys are a true weight-proportional sample (a
    * doc with twice the weight is twice as likely in). The curation use:
    * "sample documents proportional to length/quality", the mix-building
    * dual of [[sampleBudget]]'s uniform carve-out.
    *
    * Determinism across engines, step by step:
    *  - u = (h+1)/2^48 with h the first 48 sha2 bits — a power-of-two
    *    denominator, so the double is EXACT (no rounding, both engines);
    *  - maximizing u^(1/w) ≡ maximizing ln(u)/w (ln monotone, w > 0); the
    *    only libm call, ln(u), is quantized to integer micros immediately
    *    (`round(ln(u)·1e6)` — the zipf_fit convention) so engines agree;
    *  - the ranking key is ONE correctly-rounded IEEE division of those
    *    identical integers (micros / weight) — bit-identical doubles —
    *    with a doc_id tie-break.
    *
    * Scale: order-by-limit plans as TakeOrdered (per-partition top-n +
    * driver merge of n·partitions rows) — no global sort, no RNG state, no
    * partition-order dependence; re-runs and replicas select the SAME
    * rows. Streaming/incremental face: the reservoir is mergeable — the
    * top-n of a union is the top-n of the per-batch top-ns.
    */
  def weightedSample(
      spark: SparkSession, sfDir: String, n: Int = 200, salt: Int = 31): DataFrame = {
    val h = conv(substring(
      sha2(concat(col("doc_id").cast("string"), lit(s"#$salt")), 256), 1, 12),
      16, 10).cast("long")
    // (h+1)/2^48 ∈ (0,1]; exact in double (numerator < 2^53, denom = 2^48).
    val u = (h + lit(1L)).cast("double") / lit(281474976710656.0)
    val lnuMicros = round(log(u) * lit(1e6), 0).cast("long")
    val w = greatest(col("n_chars"), lit(1)).cast("long")
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("source"),
        w.as("weight"), lnuMicros.as("lnu_micros"),
        (lnuMicros.cast("double") / w.cast("double")).as("sample_key"))
      .orderBy(col("sample_key").desc, col("doc_id").asc)
      .limit(n)
  }

  /** Stratified sample: per-language keep-fractions applied via the same
    * order-independent hash predicate (default fraction for unlisted
    * strata). The 100 TB contrast to `df.stat.sampleBy`: no RNG state, no
    * partition-order dependence, and re-runs select the SAME rows.
    * `twinnable = true` swaps the xxhash64 bucket for the sha2 form the
    * oracle can reproduce (see [[bucket1000]]).
    */
  def stratifiedSample(
      spark: SparkSession, sfDir: String,
      fractions: Map[String, Double], defaultFraction: Double = 1.0,
      salt: Int = 11, twinnable: Boolean = false): DataFrame = {
    val bucket = bucket1000(col("doc_id"), salt, twinnable)
    val threshold = fractions.foldLeft(lit(defaultFraction * 1000)) {
      case (acc, (lang, f)) => when(col("lang") === lang, lit(f * 1000)).otherwise(acc)
    }
    Tables.documents(spark, sfDir)
      .withColumn("bucket", bucket)
      .filter(col("bucket") < threshold)
      .select("doc_id", "lang", "source", "bucket")
      .orderBy(col("doc_id").asc)
  }

  /** Language-balanced epoch upsampling: each document is repeated
    * `n_epochs = clamp(1, cap, floor(max_lang_docs / lang_docs))` times so
    * under-represented languages see more training epochs — the standard
    * domain/language re-weighting step of an LLM data mix (the multi-epoch
    * dual of [[stratifiedSample]]'s down-sampling).
    *
    * Scale shape: the per-language census is a tiny aggregate (|langs|
    * rows) attached back by broadcast join, and the repetition is a
    * generator (`explode(sequence(...))`) — a narrow stage, no shuffle of
    * the corpus itself. Deterministic: the repeat count depends only on
    * corpus statistics, never row order. At 100 TB the same plan holds —
    * the census result is bytes, and output size is bounded by
    * `cap × corpus`.
    */
  def upsampleBalanced(spark: SparkSession, sfDir: String, cap: Int = 4): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val census = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
    // global max over the |langs|-row census via an unpartitioned window —
    // the frame is already tiny, and this keeps the plan free of the
    // cross-join scalar attach
    val withMax = census.withColumn("max_docs",
      max(col("n_docs")).over(Window.partitionBy()))
    // floor over an exact small-integer double division — bit-identical in
    // the DuckDB twin, which writes the same expression
    val epochs = withMax.select(
      col("lang"),
      least(lit(cap.toLong), greatest(lit(1L),
        floor(col("max_docs").cast("double") / col("n_docs").cast("double"))))
        .as("n_epochs"))
    docs
      .join(broadcast(epochs), Seq("lang"))
      .select(col("doc_id"), col("lang"), col("n_epochs"),
        explode(sequence(lit(1L), col("n_epochs"))).as("epoch_copy"))
      .orderBy(col("doc_id").asc, col("epoch_copy").asc)
  }

  /** Snapshot delta report: two corpus versions compared by content
    * fingerprint — per-status (added / removed / changed / unchanged) doc
    * counts and id ranges. This is the audit a versioned-corpus pipeline
    * runs between crawls: what churned, what a downstream incremental
    * consumer must reprocess.
    *
    * The two "snapshots" are derived deterministically from `documents`
    * (old = ids not ≡0 mod 10; new = ids not ≡3 mod 7, with every id ≡0
    * mod 5 carrying revised text) so the oracle twin reproduces them
    * exactly; in production the inputs are two real snapshot paths.
    *
    * Scale shape: each side reduces to (doc_id, 256-bit sha2 fingerprint)
    * at scan time — the full-outer join compares fingerprints, never
    * document bodies, and keys on doc_id (co-partitioned, linear). The
    * report is a 4-row hash-agg. At 100 TB this is one shuffle of two
    * fingerprint columns.
    */
  def snapshotDiff(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val oldSnap = docs.filter(col("doc_id") % 10 =!= 0)
      .select(col("doc_id"), sha2(col("text"), 256).as("old_fp"))
    val newSnap = docs.filter(col("doc_id") % 7 =!= 3)
      .select(col("doc_id"),
        sha2(when(col("doc_id") % 5 === 0, concat(col("text"), lit(" [rev2]")))
          .otherwise(col("text")), 256).as("new_fp"))
    oldSnap.join(newSnap, Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("old_fp").isNull, lit("added"))
          .when(col("new_fp").isNull, lit("removed"))
          .when(col("old_fp") =!= col("new_fp"), lit("changed"))
          .otherwise(lit("unchanged")))
      .groupBy(col("status"))
      .agg(
        count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("min_doc_id"),
        max(col("doc_id")).as("max_doc_id"))
      .orderBy(col("status").asc)
  }
}
