package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.Tables

/** Text-analysis operators over `documents` (doc_id, text, lang, source,
  * n_chars) — LLM-pipeline north-star capability.
  *
  * Everything is built-in string/regex arithmetic (codegen'd, no UDFs).
  * The oracle-checked queries stick to operations with identical semantics
  * in DuckDB (length/replace/split counting, integer sums); the language-ID
  * heuristic is rows-only.
  */
object TextStats {

  /** Whitespace token count with the empty/whitespace-only edge pinned
    * to 0 — the FILTERED-split form every other tokenizer in the file
    * uses: Spark's `trim` strips only ASCII spaces and `split` keeps
    * leading/trailing empty strings, so the earlier trim-based guard
    * overcounted text with edge tabs/newlines (r12 review; the pinned
    * fixtures are clean, so twins are untouched).
    */
  private[ext] def tokenCount(text: Column): Column =
    size(filter(split(text, "\\s+"), t => t =!= ""))

  /** Corpus statistics per language: doc counts, exact char/token sums
    * (integer — order-independent, oracle-exact), source diversity.
    *
    * Scale shape: single hash-agg pass with map-side partials; the count
    * distinct is a second expand pass — at 100 TB swap it for
    * approx_count_distinct (HLL) — kept exact here for oracle parity.
    */
  def langStats(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        sum(tokenCount(col("text")).cast("long")).as("total_tokens"),
        countDistinct(col("source")).as("n_sources"))
      .orderBy(col("lang").asc)

  /** Model-scored quality filtering — the fastText-style HASHED LINEAR
    * CLASSIFIER shape (CCNet/fineweb-style curation scores documents with
    * a cheap linear model over hashed n-gram features, then filters on
    * the score): unigram + bigram token features, an integer weight per
    * hashed feature, logit = intercept + Σ weights, kept = logit > 0.
    *
    * The weights here are sha-derived integer PLACEHOLDERS — a stand-in
    * model with the real serving shape: a production run swaps the hash
    * formula for a broadcast weight table (or bakes trained weights into
    * the plan as literals) with zero change to the dataflow. Everything
    * stays in integer arithmetic, so the DuckDB twin reproduces every
    * logit bit-exactly (a float sigmoid would hash-mismatch at ulp
    * boundaries; monotone in the logit, so filtering on logit > 0 is
    * filtering on probability > 0.5).
    *
    * Scale shape: a NARROW projection — tokenize, feature-expand and
    * score are per-row higher-order-function expressions inside one
    * codegen stage; no shuffle, no join, no state. At 100 TB this runs
    * at scan speed next to the parquet reader, which is exactly why the
    * hashed-linear family (not a transformer) is the industry's bulk
    * pre-filter.
    */
  def qualityClassifier(
      spark: SparkSession, sfDir: String, intercept: Long = 0L): DataFrame =
    classifierScored(Tables.documents(spark, sfDir), intercept)
      .select(col("doc_id"), col("lang"), col("n_feats"), col("logit"))
      .withColumn("kept", col("logit") > 0L)
      .orderBy(col("doc_id").asc)

  /** Per-language adaptive quality thresholds: the classifier-score value
    * cutting the worst `pct` of each language, found by the EXACT
    * order-statistic selection kernel ([[graft.ops.Ranks
    * .selectOrderStatistic]] — per group only ONE sampled bucket of rows
    * is ever ranked, everything else drops at the scan), then the keep /
    * cut census against that threshold. This is how a real curation run
    * sets per-language cutoffs: a single global threshold over-prunes
    * low-resource languages whose score distribution sits lower.
    *
    * Exactness: logits are exact integers, the selected threshold is an
    * actual data element (no interpolation), and the census is integer
    * counts — the twin states the same rank selection with a window.
    */
  def qualityThresholdByLang(
      spark: SparkSession, sfDir: String, pct: Double = 0.2): DataFrame = {
    import spark.implicits._
    val scoredLazy = classifierScored(Tables.documents(spark, sfDir))
      .select(col("doc_id"), col("lang"), col("logit"))
    // Size-adaptive fast path (r13 optimization): |docs| comes from the
    // parquet footers (driver-only, no job); under the cap one typed
    // collect runs the sha fold exactly once; per-language sort + the
    // identical `ceil(n·pct)` rank pick + integer census go local,
    // replacing the cache build, the selection kernel's
    // sample/histogram/target-bucket jobs and the census pass (~8 jobs
    // down to 1). The selected threshold is an actual data element and
    // every count is an integer — bit-identical; past the cap the
    // distributed branch runs unchanged.
    val langLogit = scoredLazy.select(col("lang"), col("logit"))
    if (Tables.parquetRowCount(spark, sfDir, "documents") <=
        graft.ops.Materialize.rowCap(spark, langLogit.schema)) {
      val rows = langLogit.as[(String, Long)].collect()
      return rows.groupBy(_._1).toSeq
          .flatMap { case (lang, rs) =>
            val logits = rs.map(_._2).sorted
            val n = logits.length.toLong
            // same IEEE multiply + ceil as the kernel's target expression
            val r = math.ceil(n * pct).toLong
            if (r < 1L || r > n) None
            else {
              val thr = logits((r - 1).toInt)
              val nCut = logits.count(_ < thr).toLong
              Some((lang, thr, n, nCut, n - nCut))
            }
          }
          .sortBy(_._1)(graft.ops.Ranks.utf8NullsFirst)
          .toDF("lang", "threshold", "n_docs", "n_cut", "n_kept")
    }
    // persist the scored frame CALL-SCOPED: the per-feature sha fold is
    // the expensive part, and the selection kernel alone reads its input
    // three times (sample, histogram, target-bucket rank) before the
    // census pass — unpersisted, the fold would run 4× over the corpus
    // (measured 9.3 s vs 1.9 s at sf0.1)
    val scored = scoredLazy.persist()
    try {
      val thresholds = graft.ops.Ranks.selectOrderStatistic(
        scored, Seq("lang"), col("logit"), pct, "threshold")
      graft.ops.Materialize.localOrSpill(
        scored.join(broadcast(thresholds), Seq("lang"))
          .groupBy(col("lang"), col("threshold"))
          .agg(
            count(lit(1)).as("n_docs"),
            count_if(col("logit") < col("threshold")).as("n_cut"),
            count_if(col("logit") >= col("threshold")).as("n_kept"))
          .orderBy(col("lang").asc))
    } finally { scored.unpersist(); () }
  }

  /** The [[qualityClassifier]] scoring pass as a frame transform: appends
    * `n_feats` (LONG) and `logit` (LONG) to a frame carrying `text` —
    * shared with the calibration report so the model definition has one
    * home. Narrow (no shuffle); original columns ride through.
    */
  private[ext] def classifierScored(
      docs: DataFrame, intercept: Long = 0L): DataFrame = {
    // w(f) = (sha32(f) mod 2001) - 1000 ∈ [-1000, 1000] — integer, exact
    val w = "(cast(conv(substring(sha2(f, 256), 1, 8), 16, 10) as bigint)" +
      " % 2001) - 1000"
    // r13 measured dead-end, do not redo: spreading the (single-file,
    // single-task) scan across the session width before this fold
    // (Tables.spreadIfUnderParallel) benched NET SLOWER on every consumer
    // (quality_threshold_by_lang 1.10→1.37 at a QUIETER sentinel): the
    // consumers cache the scored frame and re-read it 3–4×, and 32-task
    // scheduling overhead per pass over a 5k-row cache exceeds the
    // one-time single-task sha cost. At warehouse file counts the scan is
    // already wide and the question is moot.
    docs
      .withColumn("__toks",
        expr("""filter(split(lower(text), '\\s+'), t -> t <> '')"""))
      .withColumn("__feats", expr(
        """concat(__toks, case when size(__toks) >= 2
          |  then transform(sequence(1, size(__toks) - 1),
          |    i -> concat(element_at(__toks, i), ' ',
          |                element_at(__toks, i + 1)))
          |  else slice(__toks, 1, 0) end)""".stripMargin))
      .withColumn("n_feats", size(col("__feats")).cast("long"))
      .withColumn("logit",
        expr(s"aggregate(__feats, ${intercept}L, (a, f) -> a + ($w))"))
      .drop("__toks", "__feats")
  }

  /** Per-document quality signals: length, token count, punctuation /
    * digit / uppercase ratios, mean word length, and a low-quality flag.
    * Pure replace/regex counting — identical in the DuckDB twin.
    */
  def qualityScore(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val textLen = length(col("text"))
    def countOf(ch: String): Column =
      textLen - length(regexp_replace(col("text"), java.util.regex.Pattern.quote(ch), ""))
    val punct = Seq(".", ",", "!", "?", ";", ":").map(countOf).reduce(_ + _)
    val uppers = size(expr("regexp_extract_all(text, '[A-Z]', 0)"))
    val digits = size(expr("regexp_extract_all(text, '[0-9]', 0)"))
    val toks = tokenCount(col("text"))
    docs.select(
      col("doc_id"), col("lang"),
      textLen.as("text_len"),
      toks.as("n_tokens"),
      // empty docs get 0.0, not a NULL divide — the avg_word_len guard
      // applied to all three ratios (r12 review)
      when(textLen === 0, lit(0.0))
        .otherwise(punct.cast("double") / textLen.cast("double"))
        .as("punct_ratio"),
      when(textLen === 0, lit(0.0))
        .otherwise(uppers.cast("double") / textLen.cast("double"))
        .as("upper_ratio"),
      when(textLen === 0, lit(0.0))
        .otherwise(digits.cast("double") / textLen.cast("double"))
        .as("digit_ratio"),
      (when(toks === 0, lit(0.0)).otherwise(
        length(regexp_replace(col("text"), "\\s+", "")).cast("double") /
          toks.cast("double"))).as("avg_word_len"),
      (textLen < 50 || toks < 8).as("is_low_quality"))
      .orderBy(col("doc_id").asc)
  }

  /** Per-document adjacent-token bigram stream (doc_id, l, r): posexplode
    * the token array while CARRYING the array, and read the right
    * neighbour with `element_at(toks, pos + 2)` — every expression
    * codegen'd, one narrow chain off the scan. The `lead` window form
    * this replaces hash-partitions AND sorts the corpus-sized token
    * stream by doc_id before a single aggregate runs — a full corpus
    * Exchange that exists only to recover an adjacency the array still
    * has (r13 optimization, guide §2.4: remove shuffles outright; the
    * zip_with(slice, slice) struct form was tried first and benched
    * SLOWER than the window — higher-order-function lambdas evaluate
    * interpreted, per element). Docs with < 2 tokens contribute no rows,
    * exactly like the window form's `lead IS NOT NULL` filter.
    */
  private def adjacentBigrams(docs: DataFrame): DataFrame =
    docs
      .withColumn("__toks",
        expr("""filter(split(lower(text), '\\s+'), t -> t <> '')"""))
      .select(col("doc_id"), col("__toks"),
        posexplode(col("__toks")).as(Seq("pos", "tok")))
      .filter(col("pos") < size(col("__toks")) - 1)
      .select(col("doc_id"), col("tok").as("l"),
        element_at(col("__toks"), col("pos") + 2).as("r"))

  /** Per-document word n-gram stream off the carried token array —
    * (doc_id, `extra`..., gram), one gram per window start with
    * `pos <= size − n` guarding the boundary (the same surviving rows as
    * the window form's trailing-`lead IS NOT NULL` filter, without
    * shuffling the token stream; see [[adjacentBigrams]]).
    */
  private def carriedGrams(
      docs: DataFrame, n: Int, extra: Seq[String]): DataFrame =
    docs
      .withColumn("__toks",
        expr("""filter(split(lower(text), '\\s+'), t -> t <> '')"""))
      .select(col("doc_id") +: extra.map(col) :+ col("__toks") :+
        posexplode(col("__toks")).as(Seq("pos", "tok")): _*)
      .filter(col("pos") + n <= size(col("__toks")))
      .withColumn("gram", concat_ws(" ",
        col("tok") +: (1 until n).map(i =>
          element_at(col("__toks"), col("pos") + (i + 1))): _*))
      .select((col("doc_id") +: extra.map(col)) :+ col("gram"): _*)

  /** GPT-2-style pre-tokenizer regex, restricted to constructs with
    * identical semantics in Java regex (Spark) and RE2 (DuckDB oracle):
    * contractions, space-prefixed letter/digit runs, space-prefixed
    * punctuation runs. No lookahead (RE2 has none); leftmost-first
    * alternation matches in both engines.
    */
  private val bpeTokenRe =
    "'(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+"

  /** Per-document token counting two ways: whitespace tokens (the cheap
    * estimator) and BPE-style pre-tokenizer tokens (tracks LLM tokenizer
    * counts much closer on punctuation-heavy text), plus chars-per-token.
    * Single narrow projection — streams the corpus once at any scale.
    */
  def tokenCounts(spark: SparkSession, sfDir: String): DataFrame = {
    val bpe = size(regexp_extract_all(col("text"), lit(bpeTokenRe), lit(0)))
    Tables.documents(spark, sfDir)
      .select(
        col("doc_id"), col("lang"),
        tokenCount(col("text")).as("ws_tokens"),
        bpe.as("bpe_tokens"),
        when(bpe === 0, lit(0.0))
          .otherwise(length(col("text")).cast("double") / bpe.cast("double"))
          .as("chars_per_token"))
      .orderBy(col("doc_id").asc)
  }

  /** Gopher-style repetition quality signals per document: the fraction of
    * tokens taken by the single most frequent unigram, and the fraction of
    * bigram/trigram occurrences that are repeats of an earlier gram in the
    * same doc. High values flag boilerplate / degenerate text that exact
    * and near dedup both miss (the repetition is WITHIN the document).
    *
    * Scale shape: tokenize once, build uni/bi/tri-gram rows in one pass
    * (window `lead`s + one explode — no re-tokenization per n), then two
    * hash aggregations: per (doc, n, gram) counts with map-side partials,
    * then per (doc, n) totals pivoted to columns by conditional
    * aggregation. Everything shuffles on doc_id-rooted keys — fully
    * parallel at any corpus size.
    */
  def repetitionSignals(spark: SparkSession, sfDir: String): DataFrame =
    repetitionFrame(spark, sfDir).orderBy(col("doc_id").asc)

  /** Unordered per-doc repetition frame — shared by [[repetitionSignals]]
    * (presentation) and [[curationFunnel]] (flag consumer, no sort needed).
    */
  private def repetitionFrame(spark: SparkSession, sfDir: String): DataFrame = {
    // neighbours read off the carried token array (the [[adjacentBigrams]]
    // idiom) — the former lead-window form shuffled and sorted the whole
    // token stream by doc_id before the first aggregate; CaseWhen
    // evaluates the guarded element_at lazily, so the boundary rows never
    // touch an out-of-range index
    def nxt(i: Int): Column = element_at(col("__toks"), col("pos") + 1 + i)
    def hasNxt(i: Int): Column = col("pos") + 1 + i <= size(col("__toks"))
    val gramRows = Tables.documents(spark, sfDir)
      .withColumn("__toks",
        expr("""filter(split(lower(text), '\\s+'), t -> t <> '')"""))
      .select(col("doc_id"), col("__toks"),
        posexplode(col("__toks")).as(Seq("pos", "tok")))
      .withColumn("g2",
        when(hasNxt(1), concat_ws(" ", col("tok"), nxt(1))))
      .withColumn("g3",
        when(hasNxt(2), concat_ws(" ", col("tok"), nxt(1), nxt(2))))
      .select(col("doc_id"), explode(array(
        struct(lit(1).as("n"), col("tok").as("gram")),
        struct(lit(2).as("n"), col("g2").as("gram")),
        struct(lit(3).as("n"), col("g3").as("gram")))).as("ng"))
      .select(col("doc_id"), col("ng.n").as("n"), col("ng.gram").as("gram"))
      .filter(col("gram").isNotNull)
    val perGram = gramRows
      .groupBy(col("doc_id"), col("n"), col("gram"))
      .agg(count(lit(1)).as("cnt"))
    val perN = perGram
      .groupBy(col("doc_id"), col("n"))
      .agg(
        sum(col("cnt")).as("total"),
        count(lit(1)).as("n_distinct"),
        max(col("cnt")).as("max_cnt"))
    def at(n: Int, c: String): Column = max(when(col("n") === n, col(c)))
    def dupFrac(t: Column, d: Column): Column =
      coalesce((t - d).cast("double") / t.cast("double"), lit(0.0))
    perN.groupBy(col("doc_id"))
      .agg(
        at(1, "total").as("n_tokens"), at(1, "max_cnt").as("__m1"),
        at(2, "total").as("__t2"), at(2, "n_distinct").as("__d2"),
        at(3, "total").as("__t3"), at(3, "n_distinct").as("__d3"))
      .select(
        col("doc_id"), col("n_tokens"),
        (col("__m1").cast("double") / col("n_tokens").cast("double"))
          .as("top_unigram_frac"),
        dupFrac(col("__t2"), col("__d2")).as("dup_bigram_frac"),
        dupFrac(col("__t3"), col("__d3")).as("dup_trigram_frac"))
      .withColumn("is_repetitive",
        col("dup_trigram_frac") > 0.15 || col("top_unigram_frac") > 0.3)
  }

  /** Curation-funnel yield report — ONE summary row: how many documents
    * survive each successive filter stage of a standard training-data
    * pipeline (quality gate → repetition gate → exact dedup keeper). The
    * per-stage counts are what a curation run reports at any scale; each
    * flag is computed in its own doc_id-keyed pass and the flags join
    * before a single global aggregate, so no stage ever materializes a
    * filtered copy of the corpus.
    */
  def curationFunnel(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val quality = docs.select(
      col("doc_id"),
      (!(length(col("text")) < 50 || tokenCount(col("text")) < 8)).as("q"))
    val rep = repetitionFrame(spark, sfDir)
      .select(col("doc_id"), col("is_repetitive"))
    val keeper = docs.select(
      col("doc_id"),
      (row_number().over(
        Window.partitionBy(sha2(col("text"), 256)).orderBy(col("doc_id").asc))
        === 1).as("k"))
    quality
      .join(rep, Seq("doc_id"), "left")
      .join(keeper, Seq("doc_id"))
      .select(col("q"),
        (col("q") && !coalesce(col("is_repetitive"), lit(false))).as("qr"),
        col("k"))
      .agg(
        count(lit(1)).as("n_total"),
        count_if(col("q")).as("n_after_quality"),
        count_if(col("qr")).as("n_after_repetition"),
        count_if(col("qr") && col("k")).as("n_after_dedup"))
  }

  /** Sketch-based corpus profile — the 100 TB formulation of the exact
    * stats above: HyperLogLog distinct counts and quantile sketches
    * (constant memory, one pass, mergeable across partitions).
    *
    * PERMANENTLY rows-only — the one registered query without a hash
    * twin, and that is final: the outputs are sketch INTERNALS
    * (Spark's HLL++ register layout and its `percentile_approx`
    * Greenwald-Khanna variant), which no other engine reproduces
    * bit-for-bit by design — DuckDB's approx_count_distinct is a
    * different HLL implementation with different hashing, so even a
    * "same algorithm" twin would be a coincidence-match, not a check.
    * The estimates themselves ARE pinned: CorpusSketchSpec bounds each
    * sketch against the exact value computed the way the hash-checked
    * exact siblings (`dedup_exact`, `length_quantiles`) compute theirs.
    */
  def corpusSketch(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir).agg(
      count(lit(1)).as("n_docs"),
      approx_count_distinct(col("text")).as("approx_distinct_texts"),
      approx_count_distinct(col("source")).as("approx_sources"),
      percentile_approx(col("n_chars"), lit(0.5), lit(10000)).as("p50_chars"),
      percentile_approx(col("n_chars"), lit(0.9), lit(10000)).as("p90_chars"),
      percentile_approx(col("n_chars"), lit(0.99), lit(10000)).as("p99_chars"))

  /** Exact interpolated quantiles (p25/p50/p90/p99, linear "type 7" — the
    * numpy/R default) of document length per language — the EXACT
    * complement to [[corpusSketch]]'s `percentile_approx` sketches. On a
    * bounded-cardinality measure (integer char counts) the full
    * distribution compresses losslessly to a per-(lang, value) histogram,
    * so exact quantiles cost two hash-aggs plus a window over the TINY
    * histogram — never a per-row sort, and no language ever funnels its
    * rows through one reducer (the naive `row_number OVER (PARTITION BY
    * lang)` would; [[graft.ops.Ranks]]' sampled-boundary buckets extend
    * the same trick to unbounded domains).
    *
    * Cross-engine exactness: rank position h = q·(n−1)+1 and the
    * interpolation x_lo + frac·(x_hi − x_lo) are literal-identical
    * expression chains of single exactly-rounded IEEE ops over
    * integer-valued doubles; output rounded to 6dp.
    */
  def lengthQuantiles(spark: SparkSession, sfDir: String): DataFrame = {
    val qs = Seq(("p25", 0.25), ("p50", 0.5), ("p90", 0.9), ("p99", 0.99))
    histQuantiles(
      Tables.documents(spark, sfDir)
        .select(col("lang").as("g"), col("n_chars").cast("double").as("x")),
      qs)
      .select(col("g").as("lang") +: col("n").as("n_docs") +:
        qs.map { case (nm, _) => round(col(nm), 6).as(nm) }: _*)
      .orderBy(col("lang").asc)
  }

  /** Exact type-7 quantile kernel over (g, x) observation rows: compress
    * to a per-(g, x) histogram, rank by cumulative counts over the tiny
    * histogram, and interpolate at h = q·(n−1)+1 — one output row per
    * group carrying `n` and an UN-rounded double column per requested
    * quantile. Shared by [[lengthQuantiles]] and [[robustStats]] (which
    * applies it twice — median, then median of absolute deviations).
    */
  private[ext] def histQuantiles(
      rows: DataFrame, qs: Seq[(String, Double)]): DataFrame = {
    val hist = rows.groupBy(col("g"), col("x")).agg(count(lit(1)).as("cnt"))
    val ranked = hist
      .withColumn("cum",
        sum(col("cnt")).over(Window.partitionBy(col("g")).orderBy(col("x").asc)))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy(col("g"))))
      .withColumn("start", col("cum") - col("cnt") + 1)
    val aggs = qs.flatMap { case (nm, q) =>
      val h = lit(q) * (col("n") - 1) + 1
      val loRk = floor(h).cast("long")
      val hiRk = least(loRk + 1, col("n"))
      Seq(
        max(when(col("start") <= loRk && loRk <= col("cum"), col("x")))
          .as(s"__lo_$nm"),
        max(when(col("start") <= hiRk && hiRk <= col("cum"), col("x")))
          .as(s"__hi_$nm"),
        // h is constant within a group (function of n alone) — max = value
        max(h - floor(h)).as(s"__f_$nm"))
    }
    val all = max(col("n")).as("n") +: aggs
    ranked.groupBy(col("g"))
      .agg(all.head, all.tail: _*)
      .select(col("g") +: col("n") +: qs.map { case (nm, _) =>
        (col(s"__lo_$nm") +
          col(s"__f_$nm") * (col(s"__hi_$nm") - col(s"__lo_$nm"))).as(nm)
      }: _*)
  }

  /** Robust per-source length profile: exact median, exact MAD (median
    * absolute deviation), and the count/fraction of documents beyond the
    * classic 3σ-equivalent gate `|x − med| > 3 · 1.4826 · MAD` — the
    * outlier report a curation run uses where mean/stddev would be
    * wrecked by the very outliers it hunts.
    *
    * Scale shape: two applications of the [[histQuantiles]] kernel (each
    * two hash-aggs + a tiny-histogram window) plus one broadcast join of
    * the |sources|-row med/MAD frames back onto the deviation stream —
    * three linear passes, no per-row sort.
    *
    * Cross-engine exactness: n_chars and the medians interpolate only at
    * .0/.5 fractions, so `abs(x − med)` is exact; the gate constant is
    * built `(3 · 1.4826) · MAD` in both engines.
    */
  def robustStats(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
      .select(col("source").as("g"), col("n_chars").cast("double").as("x"))
    val med = histQuantiles(d, Seq("med" -> 0.5))
    val dev = d.join(med.select(col("g"), col("med")), Seq("g"))
      .select(col("g"), abs(col("x") - col("med")).as("x"))
    val mad = histQuantiles(dev, Seq("mad" -> 0.5))
      .select(col("g"), col("mad"))
    dev.join(med, Seq("g")).join(mad, Seq("g"))
      .groupBy(col("g"), col("n"), col("med"), col("mad"))
      .agg(sum(when(col("x") > lit(3) * lit(1.4826) * col("mad"), 1L)
        .otherwise(0L)).as("n_outliers"))
      .select(col("g").as("source"), col("n").as("n_docs"),
        round(col("med"), 6).as("median_chars"),
        round(col("mad"), 6).as("mad_chars"),
        col("n_outliers"),
        round(col("n_outliers").cast("double") / col("n").cast("double"), 6)
          .as("outlier_frac"))
      .orderBy(col("source").asc)
  }

  /** Heuristic n-gram/stopword language ID (rows-only — argmax over
    * per-language evidence, not SQL-twin-able portably).
    *
    * Latin-script languages score by distinct stopword hits; zh scores by
    * CJK character presence. Deterministic tie-break: fixed language order.
    */
  def langId(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .withColumn("__toks",
        expr("""filter(split(lower(text), '[^\\p{L}]+'), t -> t <> '')"""))
    val stop = Map(
      "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it", "was", "for"),
      "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "ein", "mit", "auf", "sich"),
      "es" -> Seq("el", "la", "de", "que", "los", "se", "un", "por", "con", "una"),
      "fr" -> Seq("le", "la", "les", "des", "et", "est", "une", "dans", "que", "pour"))
    val scored = stop.foldLeft(docs) { case (df, (l, words)) =>
      df.withColumn(s"__s_$l",
        size(array_intersect(col("__toks"), array(words.map(lit): _*))))
    }.withColumn("__s_zh",
      // CJK presence: count of distinct common hanzi seen in the text
      Seq("的", "是", "了", "在", "我", "有", "和", "不", "人", "这")
        .map(ch => when(col("text").contains(ch), 1).otherwise(0))
        .reduce(_ + _))
    val langs = Seq("en", "de", "es", "fr", "zh")
    // greatest() over (score, lang) structs: score ties resolve to the
    // lexicographically LARGEST language code (zh > fr > es > de > en) -
    // deterministic and twin-identical, which is the property that
    // matters; stated so nobody reads a priority into the Seq order
    val best = langs.map(l => struct(col(s"__s_$l").as("score"), lit(l).as("lang")))
    scored
      .withColumn("__best", greatest(best: _*))
      .select(
        col("doc_id"), col("lang").as("actual_lang"),
        when(col("__best.score") === 0, lit("unknown"))
          .otherwise(col("__best.lang")).as("predicted_lang"))
      .withColumn("correct", col("predicted_lang") === col("actual_lang"))
      .orderBy(col("doc_id").asc)
  }

  /** PII patterns — restricted to the Java-regex ∩ RE2 common subset (no
    * lookarounds, no backrefs) so the DuckDB twin matches byte-for-byte.
    */
  private val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val phoneRe = "\\+[0-9][0-9 ()-]{7,}[0-9]"
  private val ipv4Re  = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  /** PII scan: per-document counts of email / E.164-style phone / IPv4
    * matches, a has_pii flag, and the redacted text length (each match
    * replaced by a fixed tag — the curation pipeline's scrub step, sized
    * here so the oracle can check the rewrite without hauling full text
    * through the compare). Pure regexp_extract_all/regexp_replace —
    * codegen'd, one corpus pass, identical RE2-safe patterns in DuckDB.
    */
  def piiScan(spark: SparkSession, sfDir: String): DataFrame = {
    def cnt(re: String): Column =
      size(regexp_extract_all(col("text"), lit(re), lit(0)))
    val redacted = regexp_replace(
      regexp_replace(
        regexp_replace(col("text"), emailRe, "<EMAIL>"),
        phoneRe, "<PHONE>"),
      ipv4Re, "<IP>")
    Tables.documents(spark, sfDir)
      .select(
        col("doc_id"),
        cnt(emailRe).as("n_emails"),
        cnt(phoneRe).as("n_phones"),
        cnt(ipv4Re).as("n_ips"),
        (cnt(emailRe) + cnt(phoneRe) + cnt(ipv4Re) > 0).as("has_pii"),
        length(redacted).as("redacted_len"))
      .orderBy(col("doc_id").asc)
  }

  /** C4-style cleaning rules (the web-corpus heuristics of the C4/T5
    * pipeline, doc-level): boilerplate markers (lorem ipsum, curly braces,
    * "javascript"), terminal-punctuation requirement, and word-count
    * bounds, folded into a keep decision. Pure contains/substring
    * arithmetic — codegen'd, one corpus pass, byte-identical in the DuckDB
    * twin.
    */
  def c4Filters(
      spark: SparkSession, sfDir: String,
      minWords: Int = 5, maxWords: Int = 100000): DataFrame = {
    val f = c4FlagExprs
    val wordOk = f.toks >= minWords && f.toks <= maxWords
    Tables.documents(spark, sfDir)
      .select(
        col("doc_id"),
        f.hasLorem.as("has_lorem"),
        f.hasBrace.as("has_brace"),
        f.hasJs.as("has_js"),
        f.endsTerminal.as("ends_terminal"),
        f.toks.cast("long").as("n_words"),
        (f.keep(minWords, maxWords)).as("keep"))
      .orderBy(col("doc_id").asc)
  }

  /** Per-RULE rejection attribution for the C4 cleaning pipeline — the
    * report a curation team reads before touching thresholds: for every
    * rule, how many docs it is RESPONSIBLE for dropping (first failing
    * rule in the canonical order) vs how many it flags at all (any-fail,
    * counting overlap with earlier rules). `curation_funnel` gives stage
    * yields; this gives rule-level blame within the stage, which is what
    * actually answers "if we relaxed the terminal-punctuation rule, how
    * many docs would come back?" (answer: its first-fail count, not its
    * any-fail count).
    *
    * One corpus pass: all six flags are narrow codegen'd expressions over
    * `text`, folded into a single-row aggregate of integer counters, then
    * unpivoted to a FIXED six-row rule spine (`stack`) so a rule that
    * fires zero times still reports — the psi_drift fixed-spine
    * convention. The twin replays the same counters in one CTE and
    * UNION ALLs the spine.
    */
  def filterAttribution(
      spark: SparkSession, sfDir: String,
      minWords: Int = 5, maxWords: Int = 100000): DataFrame = {
    val f = c4FlagExprs
    val wordBad = f.toks < minWords || f.toks > maxWords
    val termBad = !f.endsTerminal
    val firstFail = when(wordBad, "1_word_bounds")
      .when(termBad, "2_terminal_punct")
      .when(f.hasLorem, "3_lorem_ipsum")
      .when(f.hasBrace, "4_curly_brace")
      .when(f.hasJs, "5_javascript")
      .otherwise("6_kept")
    Tables.documents(spark, sfDir)
      .agg(
        count(lit(1)).as("n"),
        count_if(firstFail === "1_word_bounds").as("ff1"),
        count_if(firstFail === "2_terminal_punct").as("ff2"),
        count_if(firstFail === "3_lorem_ipsum").as("ff3"),
        count_if(firstFail === "4_curly_brace").as("ff4"),
        count_if(firstFail === "5_javascript").as("ff5"),
        count_if(firstFail === "6_kept").as("ff6"),
        count_if(wordBad).as("af1"),
        count_if(termBad).as("af2"),
        count_if(f.hasLorem).as("af3"),
        count_if(f.hasBrace).as("af4"),
        count_if(f.hasJs).as("af5"),
        count_if(f.keep(minWords, maxWords)).as("af6"))
      .selectExpr(
        """stack(6,
          |  '1_word_bounds',    ff1, af1,
          |  '2_terminal_punct', ff2, af2,
          |  '3_lorem_ipsum',    ff3, af3,
          |  '4_curly_brace',    ff4, af4,
          |  '5_javascript',     ff5, af5,
          |  '6_kept',           ff6, af6
          |) AS (rule, n_first_fail, n_any_fail)""".stripMargin,
        "n")
      .select(col("rule"), col("n_first_fail"), col("n_any_fail"),
        (col("n_first_fail").cast("double") / col("n").cast("double"))
          .as("first_fail_share"))
      .orderBy(col("rule").asc)
  }

  /** The C4 rule expressions over a `text` column, shared by [[c4Filters]]
    * and the calibration report so the rule set has one definition.
    */
  private[ext] final case class C4Flags(
      hasLorem: Column, hasBrace: Column, hasJs: Column,
      endsTerminal: Column, toks: Column) {
    def keep(minWords: Int, maxWords: Int): Column =
      !hasLorem && !hasBrace && !hasJs && endsTerminal &&
        toks >= minWords && toks <= maxWords
  }

  private[ext] def c4FlagExprs: C4Flags = {
    val lower_ = lower(col("text"))
    C4Flags(
      hasLorem = lower_.contains("lorem ipsum"),
      hasBrace = col("text").contains("{"),
      hasJs = lower_.contains("javascript"),
      // last NON-WHITESPACE char: trim strips only ASCII spaces, so a
      // newline after the period would otherwise fail the rule the text
      // satisfies (r12 review; fixtures are clean — twins untouched)
      endsTerminal = expr(
        "right(regexp_replace(text, '\\\\s+$', ''), 1)")
        .isin(".", "!", "?", "\""),
      toks = tokenCount(col("text")))
  }

  /** Classifier-vs-rules calibration report — the curation sanity check
    * run before trusting a model score as the bulk filter: bucket the
    * corpus into score deciles (exact rank over the [[qualityClassifier]]
    * logit) and measure the C4 rule-pass rate inside each. A monotone
    * keep_rate curve means the score orders quality the way the rules do;
    * a flat one means the model adds nothing over the rules.
    *
    * One scan computes BOTH signals (the logit and the rule flags are
    * narrow expressions over the same `text` column — no self-join of two
    * doc-level frames); deciles come from the two-level exact rank
    * ([[graft.ops.Ranks.withExactRank]] on (logit, doc_id) + integer
    * ntile arithmetic — no single-partition sort), and the report
    * collapses to `nBuckets` rows of integer counts plus one exact
    * count-ratio division. The scored frame is persisted call-scoped
    * (the rank primitive reads it multiple times).
    */
  def qualityCalibration(
      spark: SparkSession, sfDir: String, nBuckets: Int = 10,
      minWords: Int = 5, maxWords: Int = 100000): DataFrame = {
    import spark.implicits._
    val scoredLazy = classifierScored(Tables.documents(spark, sfDir))
      .select(col("doc_id"), col("logit"),
        c4FlagExprs.keep(minWords, maxWords).as("__keep"))
    // Size-adaptive fast path (r13 optimization): |docs| comes from the
    // parquet footers (driver-only, no job); under the cap one typed
    // collect runs the expensive per-feature sha fold exactly once and
    // the decile/census arithmetic goes local — replacing the cache
    // build + exact-rank sample/histogram/rank jobs + report collect
    // (~7 jobs down to 1). Integer ntile
    // ([[graft.ops.Ranks.ntileLocal]]), integer counts, one IEEE
    // division per bucket — bit-identical; past the cap the distributed
    // branch below runs unchanged.
    if (Tables.parquetRowCount(spark, sfDir, "documents") <=
        graft.ops.Materialize.rowCap(spark, scoredLazy.schema)) {
      val rows = scoredLazy.as[(Long, Long, Boolean)].collect()
      val n = rows.length.toLong
      val sorted = rows.sortWith { (a, b) =>
        if (a._2 != b._2) a._2 < b._2 else a._1 < b._1
      }
      return sorted.iterator.zipWithIndex
        .map { case ((_, logit, keep), i) =>
          (graft.ops.Ranks.ntileLocal(i + 1L, n, nBuckets), logit, keep)
        }
        .toSeq.groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (b, rs) =>
          val nDocs = rs.size.toLong
          val nPass = rs.count(_._3).toLong
          (b, nDocs, nPass,
            rs.iterator.map(_._2).min, rs.iterator.map(_._2).max,
            nPass.toDouble / nDocs.toDouble)
        }
        .toDF("score_decile", "n_docs", "n_rule_pass", "min_logit",
          "max_logit", "rule_pass_rate")
    }
    val scored = scoredLazy.persist()
    try {
      val out = graft.ops.Ranks.withExactRank(
          scored, Nil, Seq(col("logit"), col("doc_id")), "__rk", Some("__n"))
        .withColumn("score_decile",
          graft.ops.Ranks.ntileFromRank("__rk", "__n", nBuckets))
        .groupBy(col("score_decile"))
        .agg(
          count(lit(1)).as("n_docs"),
          count_if(col("__keep")).as("n_rule_pass"),
          min(col("logit")).as("min_logit"),
          max(col("logit")).as("max_logit"))
        .withColumn("rule_pass_rate",
          col("n_rule_pass").cast("double") / col("n_docs").cast("double"))
        .orderBy(col("score_decile").asc)
      graft.ops.Materialize.localOrSpill(out)
    } finally scored.unpersist()
  }

  /** Per-doc Shannon entropy signals — the compression-proxy quality
    * family (low char entropy ⇒ repetitive/boilerplate text, low token
    * entropy or type-token ratio ⇒ keyword stuffing / template spam;
    * the cheap stand-in for the gzip-ratio filters of the Gopher/C4
    * lineage). H = ln(n) − (Σ cnt·ln cnt)/n, in bits.
    *
    * Cross-engine float discipline: the only float SUM (Σ cnt·ln cnt)
    * runs over per-term values ROUNDED to 6 decimals and cast to
    * DECIMAL(18,6) — exact and order-independent, so engines agree
    * regardless of aggregation order ([[Similarity.normStats]]'s
    * pattern); the final entropy is exactly-rounded arithmetic over
    * that exact sum, rounded once at the end.
    *
    * Scale shape: two explode → two-level hash aggregations (per
    * (doc, term) then per doc), each map-side combinable and keyed by
    * doc_id — the same shuffle the other corpus statistics ride; no
    * windows, no driver state. Left joins restore empty docs as
    * zero-entropy rows.
    */
  def entropySignals(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    def level2(exploded: DataFrame, term: String, nDistinct: String,
        total: String, tsum: String): DataFrame =
      exploded
        .groupBy(col("doc_id"), col(term)).agg(count(lit(1)).as("__cnt"))
        .groupBy(col("doc_id"))
        .agg(
          count(lit(1)).as(nDistinct),
          sum(col("__cnt")).as(total),
          sum(round(col("__cnt").cast("double") *
            log(col("__cnt").cast("double")), 6).cast("decimal(18,6)"))
            .as(tsum))
    // Char stream = UNICODE CODE POINTS on both engines (r8 — replaces the
    // r7 ASCII pin): `regexp_extract_all(text, '(?s).')` steps one code
    // point per match in BOTH Java regex (Pattern's dot is code-point
    // aware, never splitting a surrogate pair) and DuckDB's RE2 (dot = one
    // code point in UTF-8 mode), with (?s) admitting line terminators. The
    // naive splits diverge — Spark's split("") steps UTF-16 code units,
    // DuckDB's string_split('') steps grapheme clusters — which is why r7
    // pinned to ASCII; the regex stream makes supplementary-plane and
    // combining text count identically instead of excluding it.
    val chars = level2(
      docs.select(col("doc_id"), explode(
        expr("regexp_extract_all(text, '(?s).', 0)")).as("ch")),
      "ch", "n_distinct_chars", "__nch", "__csum")
    val tokens = level2(
      docs.select(col("doc_id"),
        explode(expr("""filter(split(text, '\\s+'), x -> x <> '')"""))
          .as("w")),
      "w", "n_distinct_tokens", "__ntk", "__tsum")
    def entropyBits(n: Column, s: Column): Column =
      when(n.isNull || n === 0L, lit(0.0))
        .otherwise(round(
          (log(n.cast("double")) - s.cast("double") / n.cast("double")) /
            log(lit(2.0).cast("double")), 6))
    docs.select(col("doc_id"))
      .join(chars, Seq("doc_id"), "left")
      .join(tokens, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("__nch"), lit(0L)).as("n_chars_total"),
        coalesce(col("n_distinct_chars"), lit(0L)).as("n_distinct_chars"),
        entropyBits(col("__nch"), col("__csum")).as("char_entropy_bits"),
        coalesce(col("__ntk"), lit(0L)).as("n_tokens"),
        coalesce(col("n_distinct_tokens"), lit(0L)).as("n_distinct_tokens"),
        entropyBits(col("__ntk"), col("__tsum")).as("token_entropy_bits"),
        when(col("__ntk").isNull || col("__ntk") === 0L, lit(0.0))
          .otherwise(round(col("n_distinct_tokens").cast("double") /
            col("__ntk").cast("double"), 6)).as("type_token_ratio"))
      .orderBy(col("doc_id").asc)
  }

  /** DSIR-style IMPORTANCE WEIGHTS for domain-targeted resampling: per
    * document, the log likelihood ratio of its tokens under an add-1
    * unigram model of the TARGET domain (here: one source) vs the rest
    * of the corpus — the data-selection score behind "sample web data
    * that looks like the high-quality domain" (DSIR; also the hashed
    * n-gram form of CCNet's domain filter). log_weight > 0 ⇒ the doc is
    * more probable under the target model; resampling ∝ exp(weight)
    * shifts the mix toward the domain.
    *
    * Cross-engine float discipline: the only float SUM runs over
    * per-(doc, token) terms quantized to DECIMAL(18,6) ([[entropySignals]]'
    * pattern); each term is cnt · (ln p_t − ln p_r) with both
    * probabilities exact divisions of integer counts.
    *
    * Scale shape: one token explode → (doc, token) counts (map-side
    * combinable); the vocabulary table of log-ratios is Heaps-sublinear
    * in the corpus and joins back [broadcast when small, shuffle on the
    * token key otherwise]; one more doc-keyed aggregation. The two
    * 1-row total attaches are broadcast scalar joins.
    */
  def dsirWeights(
      spark: SparkSession, sfDir: String,
      targetSource: String = "src0"): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val isT = col("source") === targetSource
    val perDocTok = docs
      .select(col("doc_id"), col("source"),
        explode(expr("""filter(split(lower(text), '\\s+'), t -> t <> '')"""))
          .as("w"))
      .groupBy(col("doc_id"), col("source"), col("w"))
      .agg(count(lit(1)).as("cnt"))
    val vocab = perDocTok.groupBy(col("w"))
      .agg(
        sum(when(isT, col("cnt")).otherwise(0L)).as("c_t"),
        sum(when(!isT, col("cnt")).otherwise(0L)).as("c_r"))
    val tot = vocab.agg(
      sum(col("c_t")).as("n_t"), sum(col("c_r")).as("n_r"),
      count(lit(1)).as("v"))
    val ratios = vocab.crossJoin(broadcast(tot))
      .select(col("w"),
        (log((col("c_t") + 1L).cast("double") /
          (col("n_t") + col("v")).cast("double")) -
          log((col("c_r") + 1L).cast("double") /
            (col("n_r") + col("v")).cast("double"))).as("__lr"))
    val per = perDocTok.join(ratios, Seq("w"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("cnt")).as("__ntk"),
        sum(round(col("cnt").cast("double") * col("__lr"), 6)
          .cast("decimal(18,6)")).as("__s"))
    docs.select(col("doc_id"), isT.as("in_target"))
      .join(per, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("__ntk"), lit(0L)).as("n_tokens"),
        when(col("__ntk").isNull, lit(0.0))
          .otherwise(round(col("__s").cast("double"), 6)).as("log_weight"),
        col("in_target"))
      .orderBy(col("doc_id").asc)
  }

  /** Language-ID accuracy summary (rows-only, derived from [[langId]]). */
  def langIdAccuracy(spark: SparkSession, sfDir: String): DataFrame =
    langId(spark, sfDir)
      .groupBy(col("actual_lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        count_if(col("correct")).as("n_correct"))
      .withColumn("accuracy",
        col("n_correct").cast("double") / col("n_docs").cast("double"))
      .orderBy(col("actual_lang").asc)

  /** Full language-ID CONFUSION MATRIX — which labels the n-gram
    * heuristic confuses with which (the per-class view behind
    * [[langIdAccuracy]]'s per-label rate: a 90% accuracy hiding
    * systematic es→fr confusion reads very differently from uniform
    * noise). Only observed (actual, predicted) cells emit — at 100 TB
    * the matrix is ≤ |langs|² rows either way.
    */
  def langConfusion(spark: SparkSession, sfDir: String): DataFrame =
    langId(spark, sfDir)
      .groupBy(col("actual_lang"), col("predicted_lang"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("actual_lang").asc, col("predicted_lang").asc)

  /** Document fingerprints: whole-text hash + a winnowing-style content
    * fingerprint (min shingle hash) robust to reordering at the margins.
    *
    * sha-256 rather than xxhash64 so the DuckDB twin can hash-check both
    * columns (the min-over-shingle-hashes structure is identical either
    * way; a throughput-critical 100 TB run would swap sha2 → xxhash64 and
    * lose only the cross-engine check, not the operator shape).
    */
  def fingerprints(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .withColumn("__toks",
        expr("""filter(split(lower(text), '\\s+'), t -> t <> '')"""))
      .select(
        col("doc_id"),
        sha2(lower(trim(col("text"))), 256).as("exact_fp"),
        expr("""IF(size(__toks) >= 3,
               |  array_min(transform(sequence(0, size(__toks) - 3),
               |    i -> sha2(concat_ws(' ', slice(__toks, i + 1, 3)), 256))),
               |  sha2(concat_ws(' ', __toks), 256))""".stripMargin).as("content_fp"))
      .orderBy(col("doc_id").asc)

  /** Gopher-style outlier-length removal with EXACT rank arithmetic: per
    * language, keep documents whose n_chars rank sits in the middle band
    * (default P10–P90). Rank-based rather than value-interpolated
    * percentiles (percentile_approx / quantile_cont) because integer
    * ranks are cross-engine-exact where interpolation drifts; ties break
    * on doc_id so the cut is total and reproducible.
    *
    * Scale shape: a TWO-LEVEL exact rank
    * ([[graft.ops.Ranks.withExactRankDense]]) — `n_chars` has bounded
    * distinct values, so the per-(lang, n_chars) histogram is tiny and the
    * only corpus-touching window partitions on (lang, n_chars), never on
    * `lang` alone (which would funnel each language's 100 TB slice through
    * one reducer). Emitted columns are fixed-width.
    */
  def lengthBand(
      spark: SparkSession, sfDir: String,
      lowPct: Int = 10, highPct: Int = 90): DataFrame = {
    graft.ops.Ranks.withExactRankDense(
        Tables.documents(spark, sfDir)
          .select(col("doc_id"), col("lang"), col("n_chars")),
        Seq("lang"), Seq(col("n_chars"), col("doc_id")), "rk", Some("n"))
      // keep rk in (n*low/100, n*high/100]: integer products, no rounding
      .filter(col("rk") * 100 > col("n") * lowPct &&
        col("rk") * 100 <= col("n") * highPct)
      .select("doc_id", "lang", "n_chars")
      .orderBy(col("doc_id").asc)
  }

  /** Unigram-LM document scoring, CCNet's shape with cross-engine-exact
    * arithmetic: rank every vocabulary token by corpus frequency (Zipf
    * rank 1 = most frequent; ties broken by token), then score each
    * document by the SUM and MEAN of its tokens' ranks. Low mean-rank ≈
    * common, fluent text; high ≈ rare-token soup — the same ordering a
    * perplexity filter induces, minus the external LM. Integer rank sums
    * (order-independent) plus one IEEE-exact division keep the DuckDB twin
    * byte-identical, where a log-prob sum would drift by summation order.
    *
    * Scale shape: two corpus passes over the token generator — the vocab
    * ranking must complete before scoring can start, and caching the
    * corpus-sized token rows between them would cost more than the second
    * tokenize (they are a multiple of the corpus bytes) — then one
    * vocab-sized join. The rank runs as a TWO-LEVEL exact rank over the
    * VOCABULARY, not the corpus ([[graft.ops.Ranks.withExactRankDense]]
    * bucketed by `-tf`): Heaps'-law sublinear (~1e8 rows at 100 TB) and
    * never single-partition — each tf class ranks in its own task, with
    * the tiny tf histogram broadcast back as offsets. The Zipf tail
    * (`tf = 1`, roughly half the vocab) is the widest single class and
    * bounds the largest rank task; it costs one extra vocab derivation
    * (a third corpus tokenize) versus the one-reducer window it replaces.
    * Docs with no tokens surface with zero counts rather than vanishing.
    */
  def lmScore(spark: SparkSession, sfDir: String): DataFrame =
    lmScored(spark, sfDir).orderBy(col("doc_id").asc)

  /** [[lmScore]] WITHOUT the presentation sort — what [[perplexityBuckets]]
    * persists: caching the sorted form would re-execute the whole scoring
    * pipeline a second time just to sample the range-partition boundaries
    * of an ordering the consumer immediately discards.
    */
  private def lmScored(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        explode(expr("""filter(split(lower(text), '\\s+'), t -> t <> '')"""))
          .as("tok"))
    val ranked = graft.ops.Ranks.withExactRankDense(
      toks.groupBy(col("tok")).agg(count(lit(1)).as("tf")),
      Nil, Seq(col("tf") * lit(-1L), col("tok")), "rank")
    val scored = toks.join(ranked.select("tok", "rank"), Seq("tok"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("rank")).as("rank_sum"))
    Tables.documents(spark, sfDir).select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("rank_sum"), lit(0L)).as("rank_sum"),
        when(coalesce(col("n_tokens"), lit(0L)) === 0L, lit(0.0))
          .otherwise(col("rank_sum").cast("double") / col("n_tokens").cast("double"))
          .as("mean_rank"))
  }

  /** Tokenizer-vocabulary coverage per source: with a vocab of the `topK`
    * most frequent corpus words (ties broken by word, the trainer's
    * count-desc/token-asc order), how many token occurrences each source
    * covers and how many OOV word TYPES it contributes. The go/no-go
    * report before freezing a tokenizer on a new data mix — a source with
    * high OOV rate will fragment into bytes at training time.
    *
    * Scale shape: one tokenize pass feeds both the frequency census and
    * the coverage join; the vocab is `topK` rows (TakeOrdered — no global
    * sort) and broadcasts, so coverage is a map-side pass over the token
    * stream followed by one hash-agg on source. The OOV-type count is the
    * only expand; at 100 TB swap it for approx_count_distinct.
    */
  def vocabCoverage(spark: SparkSession, sfDir: String, topK: Int = 16): DataFrame = {
    val words = Tables.documents(spark, sfDir)
      .select(col("source"),
        explode(expr("""filter(split(lower(text), '\\s+'), t -> t <> '')"""))
          .as("w"))
    val vocab = words.groupBy(col("w")).agg(count(lit(1)).as("wf"))
      .orderBy(col("wf").desc, col("w").asc).limit(topK)
      .select(col("w"), lit(1).as("__in_vocab"))
    words.join(broadcast(vocab), Seq("w"), "left")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_tokens"),
        count_if(col("__in_vocab").isNotNull).as("n_covered"),
        countDistinct(when(col("__in_vocab").isNull, col("w")))
          .as("n_oov_types"))
      .select(col("source"), col("n_tokens"), col("n_covered"),
        // exact-integer division — the twin writes the same expression
        (lit(1.0) - col("n_covered").cast("double") /
          col("n_tokens").cast("double")).as("oov_rate"),
        col("n_oov_types"))
      .orderBy(col("source").asc)
  }

  /** Per-source n-gram novelty: the fraction of a source's distinct word
    * `n`-grams that occur in NO other source — the diversity signal data-
    * mixing uses to decide whether a source adds new content or restates
    * the corpus (high novelty → keep even if small; near-zero → a candidate
    * to down-weight before training).
    *
    * Scale shape: gram assembly is a narrow pass off the carried token
    * array ([[carriedGrams]] — no corpus shuffle); then two hash-aggs —
    * per (gram → n_sources) and per source — joined on the gram. All keys
    * are gram/source-rooted, fully parallel; at 100 TB join on
    * `xxhash64(gram)` to keep shuffle rows fixed-width (string grams kept
    * here for oracle parity).
    */
  def sourceNovelty(spark: SparkSession, sfDir: String, n: Int = 3): DataFrame = {
    // grams off the carried token array ([[carriedGrams]]) — the former
    // doc_id-window assembly shuffled the whole token stream first
    val grams = carriedGrams(Tables.documents(spark, sfDir), n, Seq("source"))
      .select(col("source"), col("gram"))
      .distinct()
    val gramSpread = grams.groupBy(col("gram"))
      .agg(countDistinct(col("source")).as("n_sources"))
    grams.join(gramSpread, Seq("gram"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_grams"),
        count_if(col("n_sources") === 1).as("n_unique_grams"))
      .select(col("source"), col("n_grams"), col("n_unique_grams"),
        (col("n_unique_grams").cast("double") / col("n_grams").cast("double"))
          .as("novelty_rate"))
      .orderBy(col("source").asc)
  }

  /** Zipf-law fit per source: OLS slope/intercept of ln(term frequency)
    * against ln(rank) over each source's `topK` most frequent terms — the
    * power-law health check of a text corpus (natural language sits near
    * slope −1; generated/boilerplate corpora flatten or steepen, so the
    * slope is a cheap source-level quality signal next to
    * [[sourceNovelty]]).
    *
    * Determinism (oracle-exact): ranks are EXACT row numbers per source
    * (cnt desc, term asc tie-break) via the distributed two-level rank
    * primitive ([[graft.ops.Ranks.withExactRank]] — no low-cardinality
    * reducer even though sources are few, because ranks come from
    * histogram offsets, not a per-source sort); ln values quantize to
    * integer MICROS (round(ln·1e6) — the cross-engine ln convention), all
    * sums run in exact integer/decimal arithmetic, and only the final
    * slope/intercept divisions touch doubles, written as the identical
    * expression in the twin.
    *
    * Scale shape: one tokenize pass, one (source, term) hash-agg, the
    * two-level rank, then a 4-sum aggregation per source — linear, no
    * corpus-wide sort anywhere.
    */
  def zipfFit(
      spark: SparkSession, sfDir: String, topK: Int = 2000): DataFrame = {
    val tf = Tables.documents(spark, sfDir)
      .select(col("source"),
        explode(expr("""filter(split(lower(text), '\\s+'), t -> t <> '')"""))
          .as("term"))
      .groupBy(col("source"), col("term"))
      .agg(count(lit(1)).as("cnt"))
    // r14 driver fast path: the regression never needs the TERMS — ranks
    // within a tied-cnt class are consecutive and share yi = ln(cnt), so
    // which tied terms fall inside topK cannot change any sum, and the
    // whole fit is arithmetic over the (source, cnt, class size)
    // HISTOGRAM — a frame bounded by the distinct frequency values per
    // source (O(√corpus) by Zipf itself), probe-collected under the
    // driver budget. One tokenize pass + one tiny extra hash-agg replaces
    // the rank primitive's sample pass + bucketed windows over the full
    // tf frame. Past the cap, the distributed rank path below runs
    // unchanged (parity spec-pinned).
    val sp = spark; import sp.implicits._
    val histoProbe = graft.ops.Materialize.collectIfDriverSized(
      tf.groupBy(col("source"), col("cnt"))
        .agg(count(lit(1)).as("freq"))
        .as[(String, Long, Long)])
    histoProbe match {
      case Some(rows) => return zipfFitLocal(spark, rows, topK)
      case None       => ()
    }
    val ranked = graft.ops.Ranks.withExactRank(
      tf, Seq("source"), Seq(negate(col("cnt")), col("term")), "rank")
      .filter(col("rank") <= topK)
    def micros(c: Column): Column = round(log(c.cast("double")) * 1e6, 0).cast("long")
    val sums = ranked
      .select(col("source"), micros(col("rank")).as("xi"), micros(col("cnt")).as("yi"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_terms"),
        sum(col("xi")).as("sx"), sum(col("yi")).as("sy"),
        sum(col("xi") * col("xi")).as("sxx"),
        sum(col("xi") * col("yi")).as("sxy"))
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val num = dec(col("n_terms")) * dec(col("sxy")) - dec(col("sx")) * dec(col("sy"))
    val den = dec(col("n_terms")) * dec(col("sxx")) - dec(col("sx")) * dec(col("sx"))
    val slopeRaw = num.cast("double") / den.cast("double")
    // a 1-term source has zero rank variance → 0/0; a fit needs ≥2 points
    // (distinct ranks give den > 0), so degenerate sources are excluded
    // rather than emitting engine-dependent NaN
    sums.filter(col("n_terms") >= 2).select(
      col("source"), col("n_terms"),
      round(slopeRaw, 6).as("zipf_slope"),
      round((col("sy").cast("double") / 1e6 -
        slopeRaw * (col("sx").cast("double") / 1e6)) /
        col("n_terms").cast("double"), 6).as("zipf_intercept"))
      .orderBy(col("source").asc)
  }

  /** [[zipfFit]]'s driver branch over the collected (source, cnt, freq)
    * histogram — bit-identical to the distributed rank path (parity
    * spec-pinned): ranks are histogram offsets (cnt desc, classes
    * consecutive), ln quantization replays Spark's `round(x, n)` exactly
    * (java BigDecimal.valueOf + HALF_UP — the same codepath Round
    * executes on doubles), num/den run in BigInt (the twin's
    * decimal(38,0)), the final divisions follow the identical IEEE
    * operand order, and sources sort in UTF-8 byte order, nulls first
    * (Spark's string asc), not Ordering[String]'s UTF-16 code units.
    */
  private def zipfFitLocal(
      spark: SparkSession, histo: Array[(String, Long, Long)],
      topK: Int): DataFrame = {
    def sparkRound(x: Double, scale: Int): Double =
      java.math.BigDecimal.valueOf(x)
        .setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue()
    def micros(v: Long): Long =
      sparkRound(math.log(v.toDouble) * 1e6, 0).toLong
    val out = histo.groupBy(_._1).toSeq
      .sortBy(_._1)(graft.ops.Ranks.utf8NullsFirst)
      .flatMap { case (source, classes) =>
        var n = 0L; var sx = 0L; var sy = 0L; var sxx = 0L; var sxy = 0L
        var rank = 0L
        classes.sortBy(-_._2).foreach { case (_, cnt, freq) =>
          if (rank < topK) {
            val kept = math.min(freq, topK - rank)
            val yi = micros(cnt)
            var r = rank + 1
            while (r <= rank + kept) {
              val xi = micros(r)
              sx += xi; sxx += xi * xi; sxy += xi * yi
              r += 1
            }
            sy += kept * yi
            n += kept
          }
          rank += freq
        }
        if (n < 2) None
        else {
          val num = BigInt(n) * BigInt(sxy) - BigInt(sx) * BigInt(sy)
          val den = BigInt(n) * BigInt(sxx) - BigInt(sx) * BigInt(sx)
          val slopeRaw = num.toDouble / den.toDouble
          val intercept = sparkRound(
            (sy.toDouble / 1e6 - slopeRaw * (sx.toDouble / 1e6)) / n.toDouble,
            6)
          Some((source, n, sparkRound(slopeRaw, 6), intercept))
        }
      }
    val sp = spark; import sp.implicits._
    out.toDF("source", "n_terms", "zipf_slope", "zipf_intercept")
  }

  /** Pairwise source-overlap matrix: exact Jaccard similarity between the
    * DISTINCT word-trigram sets of every source pair — the cross-source
    * dual of [[sourceNovelty]] (that reports how much of a source is
    * unique; this reports WHICH sources share content, the signal that
    * catches a mirrored crawl or a re-labeled slice before mixing weights
    * are assigned).
    *
    * Scale shape: gram assembly is a narrow pass off the carried token
    * array ([[carriedGrams]]); then one distinct (source, gram) frame
    * self-joined on the
    * gram with `source_a < source_b` — the join key is the gram, fully
    * parallel, and the output is |sources|² rows. At 100 TB join on
    * xxhash64(gram) for fixed-width shuffle rows (strings kept here for
    * oracle parity).
    */
  def sourceSimilarity(
      spark: SparkSession, sfDir: String, n: Int = 3): DataFrame = {
    // grams off the carried token array ([[carriedGrams]]) — no corpus
    // Exchange+Window before the distinct
    val grams = carriedGrams(Tables.documents(spark, sfDir), n, Seq("source"))
      .select(col("source"), col("gram"))
      .distinct()
    val sizes = grams.groupBy(col("source")).agg(count(lit(1)).as("n_grams"))
    val isect = grams.select(col("source").as("source_a"), col("gram"))
      .join(grams.select(col("source").as("source_b"), col("gram")), Seq("gram"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_shared"))
    // fixed output contract: EVERY unordered source pair appears, shared
    // or not — the |sources|² pair spine is a tiny broadcast cross
    sizes.select(col("source").as("source_a"), col("n_grams").as("n_grams_a"))
      .crossJoin(
        sizes.select(col("source").as("source_b"), col("n_grams").as("n_grams_b")))
      .filter(col("source_a") < col("source_b"))
      .join(isect, Seq("source_a", "source_b"), "left")
      .select(
        col("source_a"), col("source_b"),
        col("n_grams_a"), col("n_grams_b"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        round(coalesce(col("n_shared"), lit(0L)).cast("double") /
          (col("n_grams_a") + col("n_grams_b") -
            coalesce(col("n_shared"), lit(0L))).cast("double"),
          6).as("jaccard"))
      .orderBy(col("source_a").asc, col("source_b").asc)
  }

  /** Collocation mining: adjacent-token pair counts with pointwise mutual
    * information — PMI = ln(P(ab) / (P(a)·P(b))) with P estimated from the
    * bigram/unigram tables. High-PMI pairs are the multi-word expressions
    * a tokenizer or phrase-merging pass should treat as units.
    *
    * Determinism: counts are exact integers; PMI is one double expression
    * rounded to 6dp (the tfidf_terms precedent — ln agrees across engines
    * far inside 6dp), and the REPORT is ordered/limited by the integer
    * count with lexicographic tie-breaks, never by the float.
    *
    * Scale shape: bigrams sliced from the token array
    * ([[adjacentBigrams]] — no corpus shuffle); then two hash-aggs (pair
    * and unigram) and a broadcast of the 1-row totals. Linear,
    * TakeOrdered top-k.
    */
  def pmiPairs(
      spark: SparkSession, sfDir: String,
      minCount: Int = 5, topK: Int = 50): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val toks = docs
      .select(explode(
        expr("""filter(split(lower(text), '\\s+'), t -> t <> '')"""))
          .as("tok"))
    val bigrams = adjacentBigrams(docs)
      .groupBy(col("l").as("w1"), col("r").as("w2"))
      .agg(count(lit(1)).as("pair_count"))
    val unigrams = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val totals = unigrams.agg(
      sum(col("c")).as("n_tokens")).crossJoin(
      bigrams.agg(sum(col("pair_count")).as("n_bigrams")))
    bigrams
      .filter(col("pair_count") >= minCount)
      .join(unigrams.select(col("tok").as("w1"), col("c").as("c1")), Seq("w1"))
      .join(unigrams.select(col("tok").as("w2"), col("c").as("c2")), Seq("w2"))
      .crossJoin(broadcast(totals))
      .select(col("w1"), col("w2"), col("pair_count"),
        round(log(
          (col("pair_count").cast("double") / col("n_bigrams").cast("double")) /
            ((col("c1").cast("double") / col("n_tokens").cast("double")) *
              (col("c2").cast("double") / col("n_tokens").cast("double")))), 6)
          .as("pmi"))
      .orderBy(col("pair_count").desc, col("w1").asc, col("w2").asc)
      .limit(topK)
  }

  /** Per-source curation scorecard: the one-page report a data-mixing team
    * reads to set source weights — volume (docs, tokens, chars), quality
    * (low-quality fraction via the [[qualityScore]] flag), redundancy
    * (exact-duplicate fraction: docs that are not the keeper of their
    * sha-256 fingerprint), and language spread. The reference has no
    * analog; this is the `documents`-table capstone of its per-group
    * aggregate patterns (`src/routes/admin.ts:20-45`'s dashboard shape).
    *
    * Scale shape: one projection pass computes the per-doc signals; the
    * fingerprint-keeper window shuffles on the fixed-width sha-256 (text
    * itself never moves, the [[Dedup.exactSummary]] argument); then a
    * single hash-agg on source. The countDistinct(lang) expand is bounded
    * by the tiny lang alphabet; everything else is map-side-combinable.
    */
  def sourceScorecard(spark: SparkSession, sfDir: String): DataFrame = {
    val fpW = Window.partitionBy(col("fp"))
    Tables.documents(spark, sfDir)
      .select(col("source"), col("doc_id"), col("lang"), col("n_chars"),
        length(col("text")).as("text_len"),
        tokenCount(col("text")).as("toks"),
        sha2(col("text"), 256).as("fp"))
      .withColumn("fp_keeper", min(col("doc_id")).over(fpW))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("toks").cast("long")).as("total_tokens"),
        sum(col("n_chars")).as("total_chars"),
        count_if(col("text_len") < 50 || col("toks") < 8).as("n_low_quality"),
        count_if(col("doc_id") =!= col("fp_keeper")).as("n_exact_dups"),
        countDistinct(col("lang")).as("n_langs"))
      .withColumn("dup_rate",
        col("n_exact_dups").cast("double") / col("n_docs").cast("double"))
      .orderBy(col("source").asc)
  }

  /** Kneser–Ney smoothing ingredients for the top-`topK` vocabulary: the
    * raw unigram count plus the two CONTINUATION diversities KN interpolates
    * with — N1+(·w) (distinct left contexts: how many different words
    * precede w — the "novel continuation" numerator) and N1+(w·) (distinct
    * right contexts — the normalizer of w's backoff mass). "san" vs "the"
    * is the classic: both frequent, but "francisco" follows few distinct
    * lefts, so its continuation count is tiny. Complements [[pmiPairs]]
    * (association) with the smoothing-table view of the same bigram pass.
    *
    * Scale shape: one tokenize pass; bigrams sliced from the token array
    * ([[adjacentBigrams]] — no corpus shuffle); three hash-aggs (unigram
    * count + two distinct-context aggs, each shuffling (word, context)
    * pairs once); TakeOrdered top-k. The
    * distinct aggs are the expand — at 100 TB swap for
    * approx_count_distinct, exact here for oracle parity.
    */
  def knContinuationCounts(
      spark: SparkSession, sfDir: String, topK: Int = 30): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    // bigrams from the token array ([[adjacentBigrams]]) — no corpus
    // Exchange+Window; the unigram census explodes without positions
    val toks = docs
      .select(explode(
        expr("""filter(split(lower(text), '\\s+'), t -> t <> '')"""))
          .as("tok"))
    val bigrams = adjacentBigrams(docs).select(col("l"), col("r"))
    val uni = toks.groupBy(col("tok"))
      .agg(count(lit(1)).as("n_unigram"))
      .select(col("tok").as("word"), col("n_unigram"))
    val leftCtx = bigrams.groupBy(col("r"))
      .agg(countDistinct(col("l")).as("n_left_contexts"))
      .select(col("r").as("word"), col("n_left_contexts"))
    val rightCtx = bigrams.groupBy(col("l"))
      .agg(countDistinct(col("r")).as("n_right_contexts"))
      .select(col("l").as("word"), col("n_right_contexts"))
    uni
      .join(leftCtx, Seq("word"), "left")
      .join(rightCtx, Seq("word"), "left")
      .select(col("word"), col("n_unigram"),
        coalesce(col("n_left_contexts"), lit(0L)).as("n_left_contexts"),
        coalesce(col("n_right_contexts"), lit(0L)).as("n_right_contexts"))
      .orderBy(col("n_unigram").desc, col("word").asc)
      .limit(topK)
  }

  /** Per-document interpolated Kneser–Ney bigram log-probability — the
    * LM-quality score the [[knContinuationCounts]] smoothing tables
    * exist to feed (lm_score is the unigram Zipf proxy; this is the real
    * bigram model with absolute discounting and continuation backoff,
    * the classic filter for "reads like language" vs keyword soup):
    *
    *   P(r|l) = (c(l,r) − D)/c(l·) + (D·N1+(l·)/c(l·)) · N1+(·r)/T
    *
    * with discount D = 0.75, c(l·) the bigram-left total, N1+ the
    * continuation diversities, and T the number of distinct bigram
    * types. The model is trained on the corpus itself, so every scored
    * bigram has c(l,r) ≥ 1 and the max(·,0) clamp never binds.
    *
    * Determinism: counts are exact integers; every model probability is
    * a composition of exactly-rounded IEEE ops written in the SAME shape
    * in the twin; only ln crosses engines and rounds to 6dp per bigram,
    * then per-doc sums run over DECIMAL(18,6)-quantized terms (the
    * entropy convention). The final mean rounds in INTEGER MICRO-UNITS:
    * sum·10⁶ is an exact BIGINT, and when sum_micro/n lands exactly on
    * .5 that value IS representable in a double (integers±.5 are exact
    * below 2⁵²), so Spark's HALF_UP and DuckDB's half-away agree — the
    * direct round(sum/n, 6) form diverged at sf0.1 on doc 3611, whose
    * mean is exactly −3.4163865 but whose double is a hair BELOW it.
    *
    * Scale shape: bigrams are sliced from the token array
    * ([[adjacentBigrams]] — narrow, no corpus shuffle anywhere); the
    * stream joins the bigram table on (l,r) and the two word-level
    * tables on their single keys — all hash joins on token keys, fully
    * parallel, no driver materialization.
    */
  def knScore(spark: SparkSession, sfDir: String): DataFrame = {
    // bigrams from the token array ([[adjacentBigrams]]) — both executions
    // of the stream (the model build and the scoring join) drop the
    // corpus-wide Exchange+Window the posexplode/lead form paid
    val docBigrams = adjacentBigrams(Tables.documents(spark, sfDir))
    val big = docBigrams.groupBy(col("l"), col("r"))
      .agg(count(lit(1)).as("c12"))
    val left = big.groupBy(col("l"))
      .agg(sum(col("c12")).as("c1"), count(lit(1)).as("n1r"))
    val cont = big.groupBy(col("r"))
      .agg(count(lit(1)).as("n1l"))
    val types = big.agg(count(lit(1)).as("t_types"))
    val d = lit(0.75)
    val p = (col("c12").cast("double") - d) / col("c1").cast("double") +
      (d * col("n1r").cast("double") / col("c1").cast("double")) *
        (col("n1l").cast("double") / col("t_types").cast("double"))
    docBigrams
      .join(big, Seq("l", "r"))
      .join(left, Seq("l"))
      .join(cont, Seq("r"))
      .crossJoin(broadcast(types))
      .select(col("doc_id"),
        round(log(p), 6).cast("decimal(18,6)").as("__lp"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("__lp")).as("__s"))
      .select(col("doc_id"), col("n_bigrams"),
        (round((col("__s") * 1000000).cast("long").cast("double") /
            col("n_bigrams").cast("double")) / lit(1000000.0))
          .as("kn_avg_logprob"))
      .orderBy(col("doc_id").asc)
  }

  /** Corpus-global heavy hitters: every token whose frequency is at least
    * `1/perMille` of the total token count. The threshold test is exact
    * integer arithmetic (`n · perMille ≥ total`) so the cut is
    * reproducible in any engine — no float boundary. The share column is
    * reporting only; ordering is by the integer count.
    *
    * Scale shape: one tokenize pass + one map-side-combinable hash-agg;
    * the total is a 1-row broadcast. Output is bounded by construction
    * (≤ perMille items can each hold ≥ 1/perMille of the mass). At
    * 100 TB the same report comes from a Misra–Gries/count-min pass with
    * `perMille` capacity when an approximate cut is acceptable; the exact
    * hash-agg here is itself scale-safe (token-keyed, fully parallel),
    * just heavier.
    */
  def heavyHitters(
      spark: SparkSession, sfDir: String, perMille: Int = 1000): DataFrame = {
    val words = Tables.documents(spark, sfDir)
      .select(explode(
        expr("""filter(split(lower(text), '\\s+'), t -> t <> '')""")).as("w"))
    val counts = words.groupBy(col("w")).agg(count(lit(1)).as("n"))
    val total = words.agg(count(lit(1)).as("total_tokens"))
    counts.crossJoin(broadcast(total))
      .filter(col("n") * perMille >= col("total_tokens"))
      .select(col("w").as("word"), col("n"),
        (col("n").cast("double") / col("total_tokens").cast("double"))
          .as("share"))
      .orderBy(col("n").desc, col("word").asc)
  }

  /** Deterministic per-group MODE: the dominant language of each source,
    * with its doc count and share. Mode via count + rank window, NOT a
    * native `mode()` aggregate — engines break frequency ties arbitrarily
    * (first-seen, hash order); ranking by (count desc, lang asc) pins one
    * winner every engine reproduces.
    *
    * Scale shape: the mode of a 100 TB group never materializes the group —
    * one (source, lang) hash-agg (map-side combinable, |sources|×|langs|
    * rows out), then a window over that TINY aggregate, not over the
    * corpus.
    */
  def dominantLang(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = Tables.documents(spark, sfDir)
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("source"))
    counts
      .withColumn("total", sum(col("n_docs")).over(w))
      .withColumn("__rk", row_number().over(
        w.orderBy(col("n_docs").desc, col("lang").asc)))
      .filter(col("__rk") === 1)
      .select(col("source"), col("lang").as("top_lang"), col("n_docs"),
        (col("n_docs").cast("double") / col("total").cast("double"))
          .as("share"))
      .orderBy(col("source").asc)
  }

  /** Perplexity-bucketed corpus report: docs quartiled by the [[lmScore]]
    * mean Zipf rank (the deterministic LM-score proxy), the standard
    * pre-mixing view — CCNet's "head/middle/tail" perplexity thirds
    * generalized to `nBuckets`. Bucket boundaries come from ntile over the
    * TOTAL order (score asc, doc_id asc) so every engine assigns identical
    * membership — no float quantile boundary to disagree on. Aggregates
    * per bucket are integer sums and double min/max (order-independent).
    *
    * Scale shape: the scored frame is |docs| rows of four numbers,
    * persisted call-scoped (it would otherwise recompute the two-pass
    * [[lmScore]] per rank stage); the ntile derives from a TWO-LEVEL exact
    * rank ([[graft.ops.Ranks.withExactRank]] — sampled literal boundaries
    * on (mean_rank, doc_id), per-bucket parallel sort, histogram offsets
    * broadcast back) plus pure integer `ntile` arithmetic
    * ([[graft.ops.Ranks.ntileFromRank]]) — bit-equal to
    * `ntile() OVER (ORDER BY ...)` with NO single-partition sort anywhere.
    * The nBuckets-row report is driver-materialized so the cache drops
    * before returning (library convention for call-scoped caches).
    */
  def perplexityBuckets(
      spark: SparkSession, sfDir: String, nBuckets: Int = 4): DataFrame = {
    import spark.implicits._
    val scoredLazy = lmScored(spark, sfDir)
    // Size-adaptive fast path (r13 optimization, the [[graft.ext.Graph]]
    // discipline): the scored frame is |docs| rows of four fixed-width
    // numbers, and |docs| is already known from the parquet FOOTERS — a
    // driver-only metadata probe, cheaper than a limit-probe whose
    // executeTake re-fetches the final stage in growing rounds. Under the
    // cap, one typed collect (executing the lmScored pipeline exactly
    // once — no call-scoped cache needed) plus local ntile/aggregate
    // arithmetic replaces the cache build, the two-level rank's
    // sample/histogram/rank-join jobs and the report collect: ~7
    // scheduled jobs down to 1. The ntile CASE is the identical integer
    // arithmetic ([[graft.ops.Ranks.ntileLocal]]), sums are integer,
    // min/max are order-independent — bit-identical report; past the cap
    // the distributed exact-rank branch runs unchanged.
    val scoredCols = scoredLazy.select(col("doc_id"), col("n_tokens"),
      col("rank_sum"), col("mean_rank"))
    if (Tables.parquetRowCount(spark, sfDir, "documents") <=
        graft.ops.Materialize.rowCap(spark, scoredCols.schema)) {
      val rows = scoredCols.as[(Long, Long, Long, Double)].collect()
      val n = rows.length.toLong
      val sorted = rows.sortWith { (a, b) =>
        val c = java.lang.Double.compare(a._4, b._4)
        if (c != 0) c < 0 else a._1 < b._1
      }
      return sorted.iterator.zipWithIndex
        .map { case ((_, toks, rsum, mean), i) =>
          (graft.ops.Ranks.ntileLocal(i + 1L, n, nBuckets), toks, rsum, mean)
        }
        .toSeq.groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (b, rs) =>
          (b, rs.size.toLong, rs.iterator.map(_._2).sum,
            rs.iterator.map(_._3).sum,
            rs.iterator.map(_._4).min, rs.iterator.map(_._4).max)
        }
        .toDF("ppl_bucket", "n_docs", "total_tokens", "total_rank_sum",
          "min_mean_rank", "max_mean_rank")
    }
    val scored = scoredLazy.persist()
    try {
      val out = graft.ops.Ranks.withExactRank(
          scored, Nil, Seq(col("mean_rank"), col("doc_id")), "__rk",
          Some("__n"))
        .withColumn("ppl_bucket",
          graft.ops.Ranks.ntileFromRank("__rk", "__n", nBuckets))
        .groupBy(col("ppl_bucket"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          sum(col("rank_sum")).as("total_rank_sum"),
          min(col("mean_rank")).as("min_mean_rank"),
          max(col("mean_rank")).as("max_mean_rank"))
        .orderBy(col("ppl_bucket").asc)
      graft.ops.Materialize.localOrSpill(out)
    } finally scored.unpersist()
  }
}
