package graft.tools

import org.apache.spark.sql.functions._

import graft.io.Tables

/** r14 optimization-round probes: stage-level decomposition of the
  * remaining ~1 s bench rows, timed with the noop sink (guide §1.4).
  * Usage: sbt "runMain graft.tools.ProfileR14 <sfDir>"
  */
object ProfileR14 {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.GraftSession.local(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def timed(name: String)(f: => Unit): Unit = {
      spark.sparkContext.setJobDescription(name)
      val t0 = System.nanoTime(); f
      val cold = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      val t1 = System.nanoTime(); f
      val warm = (System.nanoTime() - t1) / 1e9
      println(f"PROFILE $name cold=$cold%.3f warm=$warm%.3f")
      spark.sparkContext.setJobDescription(null)
      spark.catalog.clearCache()
    }
    // warm the session + artifacts
    spark.range(100).selectExpr("count(*)").collect()
    noop(Tables.documents(spark, sfDir))
    timed("warm2")(noop(Tables.documents(spark, sfDir)))

    // search-fusion family
    timed("bm25_alone")(
      { graft.ext.Search.bm25(spark, sfDir,
          graft.ext.Search.defaultQueryTerms, topK = 20).count(); () })
    timed("rrf_fusion")(
      { graft.ext.Search.rrfFusion(spark, sfDir).count(); () })
    // LSH retrieval family
    timed("knn_brute")(
      { graft.ext.Similarity.bruteForceTopK(spark, sfDir).count(); () })
    timed("knn_lsh")(
      { graft.ext.Similarity.lshTopK(spark, sfDir).count(); () })
    timed("ann_recall")(
      { graft.ext.Similarity.annRecall(
        spark, sfDir, graft.ext.Similarity.lshTopK).count(); () })
    timed("retrieval_metrics")(
      { graft.ext.Similarity.retrievalMetrics(
        spark, sfDir, graft.ext.Similarity.lshTopK).count(); () })
    // containment
    timed("containment_pairs")(
      { graft.ext.Dedup.containmentPairs(spark, sfDir).count(); () })
    if (args.contains("--containment-plan")) {
      val stats = graft.ext.Dedup.shingleStatsShared(spark, sfDir)
      val threshold = 0.8
      timed("c_stats_scan")(noop(stats))
      val prefix = stats
        .filter(col("rk") <= col("sz") - ceil(lit(threshold) * col("sz")) + 1)
        .filter(col("df") <= 256L)
        .select(col("sh"), col("doc_id").as("probe_id"))
      timed("c_prefix")(noop(prefix))
      val candPlan = prefix
        .join(stats.select(col("sh"), col("doc_id").as("other_id")), Seq("sh"))
        .filter(col("probe_id") =!= col("other_id"))
        .select(
          least(col("probe_id"), col("other_id")).as("doc_a"),
          greatest(col("probe_id"), col("other_id")).as("doc_b"))
        .distinct()
      timed("c_cand_noop")(noop(candPlan))
      val cand = graft.ops.Materialize.localOrSpill(candPlan)
      println(s"cand rows=${cand.count()}")
      val candDocs = cand.select(col("doc_a").as("doc_id"))
        .unionByName(cand.select(col("doc_b").as("doc_id")))
        .distinct()
      val setsPlan = stats
        .join(org.apache.spark.sql.functions.broadcast(candDocs),
          Seq("doc_id"), "left_semi")
        .groupBy(col("doc_id"))
        .agg(array_sort(collect_set(col("sh"))).as("shset"))
      timed("c_sets_noop")(noop(setsPlan))
      val oldSets = stats.groupBy(col("doc_id"))
        .agg(array_sort(collect_set(col("sh"))).as("shset"))
      timed("c_sets_corpuswide_old")(noop(oldSets))
    }
    spark.stop()
  }
}
