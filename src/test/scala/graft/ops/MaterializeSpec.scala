package graft.ops

import java.io.File

import graft.SparkSpec
import graft.ext.{Dedup, Graph, TextStats}
import graft.io.Tables
import graft.streaming.CorpusIngest

class MaterializeSpec extends SparkSpec {

  private def spillDirs(): Set[String] =
    Option(new File(System.getProperty("java.io.tmpdir")).listFiles())
      .getOrElse(Array.empty[File])
      .filter(_.getName.startsWith("graft_spill")).map(_.getPath).toSet

  test("localOrSpill spills frames past the budget; release leaves no spill dir") {
    import spark.implicits._
    Materialize.releaseSpills()
    val before = spillDirs()
    val big = spark.range(1000).toDF("id")
    // a ten-row budget: the frame must spill, not land on the driver
    val spilled = withDriverBudget(10 * Materialize.rowBytes(big.schema)) {
      Materialize.localOrSpill(big)
    }
    assert(spilled.inputFiles.nonEmpty &&
      spilled.inputFiles.forall(_.contains("graft_spill")),
      "past the budget the frame must be backed by the spill store")
    assert(spilled.as[Long].collect().sorted.toSeq === (0L until 1000L))
    // the distributed pair list is pinned to the same store at any budget
    val pairsDir = java.nio.file.Files.createTempDirectory("graft_pairs").toString
    graft.ext.DedupScaleSpec.writeFixture(spark, pairsDir)
    val pairs = Dedup.minHashPairsDistributed(spark, pairsDir)
    assert(pairs.inputFiles.nonEmpty &&
      pairs.inputFiles.forall(_.contains("graft_spill")),
      "the distributed pair list must be backed by the spill store")
    assert(pairs.count() > 0L)
    // a call still in flight keeps its root through a concurrent release
    Materialize.withSpillRoot { root =>
      Materialize.releaseSpills()
      assert(new File(root).exists(), "release deleted an in-flight root")
    }
    Materialize.releaseSpills()
    assert((spillDirs() -- before).isEmpty,
      s"spill dirs left after release: ${spillDirs() -- before}")
  }

  test("localOrSpill round-trips schema and rows for genuinely small frames") {
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val local = Materialize.localOrSpill(df)
    assert(local.isLocal, "a small frame must come back as a local relation")
    assert(local.schema === df.schema)
    assert(local.orderBy("k").collect().map(_.getString(1)).toSeq === Seq("a", "b"))
  }

  test("driver budget: one byte budget, a row cap per schema") {
    import spark.implicits._
    val budget = Materialize.budgetBytes(spark)
    assert(budget === Runtime.getRuntime.maxMemory / 20)
    val edge = Seq((1L, 2L)).toDF("src", "dst").schema
    // zipf_fit's (source, cnt, freq) histogram: the widest row any
    // size-adaptive probe collects
    val widest = Seq(("s", 1L, 1L)).toDF("source", "cnt", "freq").schema
    assert(Materialize.rowBytes(edge) === 48L)
    assert(Materialize.rowBytes(widest) === 68L)
    for (schema <- Seq(edge, widest)) {
      val cap = Materialize.rowCap(spark, schema).toLong
      assert(cap > 0L)
      assert(cap * Materialize.rowBytes(schema) <= budget)
      assert((cap + 1L) * Materialize.rowBytes(schema) > budget)
    }
    // at 100 MB (a 2 GB driver) the edge cap is the ~2M rows each family
    // used to hard-code; 0 leaves no rows; a huge budget stays probeable
    withDriverBudget(100L << 20) {
      assert(Materialize.rowCap(spark, edge) === 2184533)
      assert(Materialize.rowCap(spark, widest) === 1542023)
    }
    withDriverBudget(0)(assert(Materialize.rowCap(spark, edge) === 0))
    withDriverBudget(Long.MaxValue) {
      assert(Materialize.rowCap(spark, edge) === Int.MaxValue - 2)
    }
  }

  test("driver budget: every dual-path family runs local by default, distributed at 0") {
    import spark.implicits._
    def edgeEpochs(): Unit = {
      val dir = java.nio.file.Files.createTempDirectory("graft_budget_edge")
      val e0 = Seq((1L, 101L), (1L, 102L), (2L, 201L)).toDF("l_orderkey", "l_partkey")
      val e1 = Seq((1L, 103L), (3L, 301L), (3L, 302L)).toDF("l_orderkey", "l_partkey")
      CorpusIngest.edgeBatchBody(e0, s"$dir/index", 0L)
      CorpusIngest.edgeBatchBody(e1, s"$dir/index", 1L)
      Materialize.deleteRecursively(dir.toFile)
    }
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("doc_a", "doc_b")
    val docs = (1L to 6L).toDF("doc_id")
    val families: Seq[(String, () => Unit)] = Seq(
      "copurchase_kcore" -> (() => Graph.copurchaseKCore(spark, sf).collect()),
      "copurchase_communities" ->
        (() => Graph.copurchaseCommunities(spark, sf).collect()),
      "part_triangles" -> (() => Graph.partTriangles(spark, sf).collect()),
      "ppl_buckets" -> (() => TextStats.perplexityBuckets(spark, sf).collect()),
      "quality_calibration" ->
        (() => TextStats.qualityCalibration(spark, sf).collect()),
      "quality_threshold_by_lang" ->
        (() => TextStats.qualityThresholdByLang(spark, sf).collect()),
      "zipf_fit" -> (() => TextStats.zipfFit(spark, sf).collect()),
      "connected_components" ->
        (() => Dedup.connectedComponents(pairs, docs).collect()),
      "edge_epoch_body" -> (() => edgeEpochs()))
    for ((name, run) <- families) {
      run() // warm: both counts see the same artifacts and caches
      val local = jobsOf(run())
      val distributed = withDriverBudget(0)(jobsOf(run()))
      info(s"$name: $local jobs local, $distributed distributed")
      assert(local < distributed,
        s"$name: $local jobs under the default budget, $distributed at 0")
    }
    Materialize.releaseSpills()
  }

  test("parquetRowCount (footer metadata) equals a full count() action") {
    for (name <- Seq("documents", "embeddings", "lineitem")) {
      val expected = Tables.table(spark, sf, name).count()
      assert(Tables.parquetRowCount(spark, sf, name) === expected, name)
    }
  }
}
