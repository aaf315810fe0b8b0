package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Tables

/** End-to-end corpus curation — the composition a real training-data run
  * executes, as ONE dataflow: C4-style cleaning → exact dedup (keep the
  * smallest id per identical text) → MinHash near-dup clustering (keep
  * each cluster's representative) → stratified sampling. Every stage is
  * an operator with its own registered, oracle-checked query
  * ([[TextStats.c4Filters]], [[Dedup.exactKeepers]],
  * [[Dedup.minHashClusters]], [[Corpus.stratifiedSample]]); composing
  * them stays oracle-checked because each stage is a deterministic
  * relation of the input.
  *
  * Scale shape: the stages are independent semi-join filters on doc_id —
  * Catalyst plans them as successive fixed-width-key joins against the
  * (much smaller) survivor sets, and the document text itself is only
  * read where a stage needs it. Nothing here is a new shuffle pattern:
  * the cost profile is the SUM of the component operators, which is how
  * a production curation run budgets too.
  */
object Curation {

  /** The final training-set manifest: documents surviving all four
    * stages, with their routing columns. `fractions`/`defaultFraction`
    * parameterize the last stage ([[Corpus.stratifiedSample]] semantics).
    * `requireTerminal` gates C4's terminal-punctuation rule — OFF by
    * default because corpora without sentence punctuation (code, logs,
    * the synthetic fixture) would be wiped to zero by it; a web-text run
    * turns it on.
    */
  def trainingSet(
      spark: SparkSession, sfDir: String,
      fractions: Map[String, Double] = Map("en" -> 0.5),
      defaultFraction: Double = 0.2,
      requireTerminal: Boolean = false,
      maxIter: Int = 10): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val c4 = TextStats.c4Filters(spark, sfDir)
    val c4Survivors = c4.filter(
      !col("has_lorem") && !col("has_brace") && !col("has_js") &&
        (if (requireTerminal) col("ends_terminal") else lit(true)) &&
        col("n_words").between(5, 100000))
      .select("doc_id")
    val exactKeepers = Dedup.exactSurvivorIds(spark, sfDir)
    // maxIter threads through to connectedComponents: a dup graph with
    // diameter > 10 on the distributed path fails LOUDLY there, and the
    // caller needs a knob to raise the bound without forking the pipeline.
    val nearDupKeepers = Dedup.minHashMembership(
      spark, sfDir, twinnable = true, maxIter = maxIter)
      .filter(col("cluster_id") === col("doc_id"))
      .select("doc_id")
    val sampled = Corpus.stratifiedSample(
      spark, sfDir, fractions, defaultFraction, twinnable = true)
      .select("doc_id")
    docs
      .join(c4Survivors, Seq("doc_id"), "left_semi")
      .join(exactKeepers, Seq("doc_id"), "left_semi")
      .join(nearDupKeepers, Seq("doc_id"), "left_semi")
      .join(sampled, Seq("doc_id"), "left_semi")
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy(col("doc_id").asc)
  }

  /** Leakage-safe train/val/test split: the split is assigned per near-dup
    * CLUSTER, not per document, so two near-duplicates can never straddle
    * train and test — the eval-contamination failure mode a plain
    * per-doc hash split ([[Corpus.split]]) cannot prevent. Every member
    * inherits its cluster's bucket (singletons are their own cluster,
    * `cluster_id = doc_id`), and the bucket is the sha-256-derived
    * twinnable hash of the cluster id, byte-reproducible in the oracle.
    *
    * Output is the per-split audit summary: sizes, distinct clusters, and
    * how many docs sit in a multi-member family (the population the
    * cluster-level assignment actually protects). Leak-freedom is
    * structural — one bucket per cluster id — so there is no "leaky
    * clusters" column to report; the DuckDB twin re-deriving identical
    * numbers from its own recursive-CTE cluster walk IS the check.
    *
    * Scale shape: the membership pass is [[Dedup.minHashMembership]]
    * (banded LSH + size-adaptive connected components); on top of it,
    * one window for cluster size (cluster-keyed shuffle) and one tiny
    * hash-agg. At 100 TB the countDistinct expand swaps for
    * approx_count_distinct; exact here for oracle parity.
    */
  /** Per-document curation PROVENANCE — the auditable "why is my document
    * not in the training set": each doc gets its FIRST-failing stage in
    * pipeline order (`cut_c4` → `cut_exact_dup` → `cut_near_dup` →
    * `cut_sample` → `kept`) and, for the two dedup cuts, the keeper it
    * lost to (the min-id copy of identical text; the near-dup cluster's
    * representative). [[trainingSet]]'s stages are independent per-doc
    * predicates, so first-fail attribution is well-defined — the same
    * convention as [[TextStats.filterAttribution]] inside the C4 stage.
    *
    * Scale shape: all four stage flags are doc-keyed frames joined on
    * doc_id (the exact-keeper frame groups on the 32-byte text
    * fingerprint, never the text) — no new shuffle pattern beyond the
    * component operators the pipeline already runs.
    */
  def curationProvenance(
      spark: SparkSession, sfDir: String,
      fractions: Map[String, Double] = Map("en" -> 0.5),
      defaultFraction: Double = 0.2,
      maxIter: Int = 10): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val c4Fail = TextStats.c4Filters(spark, sfDir)
      .select(col("doc_id"),
        (col("has_lorem") || col("has_brace") || col("has_js") ||
          !col("n_words").between(5, 100000)).as("__c4_fail"))
    val exactKeeper = docs
      .select(col("doc_id"), sha2(col("text"), 256).as("__fp"))
      .withColumn("__keeper", min(col("doc_id")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("__fp"))))
      .select(col("doc_id"), col("__keeper"))
    val membership = Dedup.minHashMembership(
      spark, sfDir, twinnable = true, maxIter = maxIter)
      .select(col("doc_id"), col("cluster_id"))
    val sampled = Corpus.stratifiedSample(
      spark, sfDir, fractions, defaultFraction, twinnable = true)
      .select(col("doc_id"), lit(true).as("__sampled"))
    docs.select(col("doc_id"), col("lang"))
      .join(c4Fail, Seq("doc_id"))
      .join(exactKeeper, Seq("doc_id"))
      .join(membership, Seq("doc_id"))
      .join(sampled, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("__c4_fail"), "cut_c4")
          .when(col("doc_id") =!= col("__keeper"), "cut_exact_dup")
          .when(col("doc_id") =!= col("cluster_id"), "cut_near_dup")
          .when(col("__sampled").isNull, "cut_sample")
          .otherwise("kept").as("status"),
        when(col("__c4_fail"), -1L)
          .when(col("doc_id") =!= col("__keeper"), col("__keeper"))
          .when(col("doc_id") =!= col("cluster_id"), col("cluster_id"))
          .otherwise(-1L).as("keeper_id"))
      .orderBy(col("doc_id").asc)
  }

  /** Leakage AUDIT of the cluster-level split — the verifiable claim
    * behind [[clusterSplit]], stated as data: every verified near-dup
    * pair is joined against its endpoints' split assignments and counted
    * by whether it straddles train/val/test. Under cluster-level
    * splitting the straddle count is ZERO by construction (both
    * endpoints share a cluster, clusters split atomically) — the oracle
    * hash-checks that invariant — while the naive doc-hash split on the
    * SAME pairs shows the leakage it would have admitted (the
    * counterfactual that justifies the cluster walk's cost).
    *
    * Scale shape: |pairs| rows join two |docs| assignment frames on
    * doc ids — dup-density-bounded, never corpus-quadratic.
    */
  def splitLeakageAudit(
      spark: SparkSession, sfDir: String,
      valPct: Int = 10, testPct: Int = 10, salt: Int = 29,
      maxIter: Int = 10): DataFrame = {
    def bucket(c: Column): Column = conv(
      substring(sha2(concat(c.cast("string"), lit(s"#$salt")), 256), 1, 8),
      16, 10).cast("long") % 1000L
    def splitOf(c: Column): Column =
      when(bucket(c) < testPct * 10L, "test")
        .when(bucket(c) < (testPct + valPct) * 10L, "val")
        .otherwise("train")
    val membership = Dedup.minHashMembership(
      spark, sfDir, twinnable = true, maxIter = maxIter)
    val pairs = Dedup.minHashPairsShared(spark, sfDir)
      .select(col("doc_a"), col("doc_b"))
    def audit(assign: DataFrame, method: String): DataFrame =
      pairs
        .join(assign.select(col("doc_id").as("doc_a"),
          col("split").as("__sa")), Seq("doc_a"))
        .join(assign.select(col("doc_id").as("doc_b"),
          col("split").as("__sb")), Seq("doc_b"))
        .agg(
          count(lit(1)).as("n_pairs"),
          count_if(col("__sa") =!= col("__sb")).as("n_straddling"))
        .select(lit(method).as("method"), col("n_pairs"),
          col("n_straddling"))
    val byCluster = membership
      .select(col("doc_id"), splitOf(col("cluster_id")).as("split"))
    val byDoc = membership
      .select(col("doc_id"), splitOf(col("doc_id")).as("split"))
    audit(byCluster, "cluster")
      .unionByName(audit(byDoc, "naive_doc"))
      .orderBy(col("method").asc)
  }

  def clusterSplit(
      spark: SparkSession, sfDir: String,
      valPct: Int = 10, testPct: Int = 10, salt: Int = 29,
      maxIter: Int = 10): DataFrame = {
    val membership = Dedup.minHashMembership(
      spark, sfDir, twinnable = true, maxIter = maxIter)
    val bucket = conv(
      substring(sha2(concat(col("cluster_id").cast("string"), lit(s"#$salt")),
        256), 1, 8), 16, 10).cast("long") % 1000L
    membership
      .withColumn("cluster_size",
        count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("cluster_id"))))
      .withColumn("split",
        when(bucket < testPct * 10L, "test")
          .when(bucket < (testPct + valPct) * 10L, "val")
          .otherwise("train"))
      .groupBy(col("split"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("cluster_id")).as("n_clusters"),
        count_if(col("cluster_size") > 1).as("n_clustered_docs"))
      .orderBy(col("split").asc)
  }
}
