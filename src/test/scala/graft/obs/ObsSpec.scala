package graft.obs

import java.nio.file.Files

import org.apache.spark.sql.DataFrame

import graft.{SparkEntry, SparkSpec}
import graft.ops.Materialize

class ObsSpec extends SparkSpec {
  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Records `name`'s build and full-output exec as two phases. */
  private def recorded(name: String): QueryRecorder = {
    val fn = SparkEntry.queries(name)
    val rec = QueryRecorder.attach(spark)
    try {
      val df = rec.phase(s"$name/build")(fn(spark, sf))
      rec.phase(s"$name/exec")(noop(df))
      rec
    } finally { rec.detach(); spark.catalog.clearCache() }
  }

  test("per-phase job counts equal jobsOf for the same calls") {
    for (name <- Seq("ppl_buckets", "zipf_fit")) {
      val fn = SparkEntry.queries(name)
      // a first run builds the artifacts both measured runs then read
      noop(fn(spark, sf))
      spark.catalog.clearCache()
      var df: DataFrame = null
      val buildJobs = jobsOf { df = fn(spark, sf) }
      val execJobs = jobsOf(noop(df))
      spark.catalog.clearCache()
      val rec = recorded(name)
      assert(rec(s"$name/build").jobs === buildJobs.toLong, name)
      assert(rec(s"$name/exec").jobs === execJobs.toLong, name)
      assert(rec(s"$name/exec").stages > 0L && rec(s"$name/exec").tasks > 0L)
    }
  }

  test("build and exec are attributed separately") {
    // ppl_buckets collects its driver-side model inside the registry
    // call, so both of its phases run jobs
    val rec = recorded("ppl_buckets")
    val (build, exec) = (rec("ppl_buckets/build"), rec("ppl_buckets/exec"))
    assert(build.jobs > 0L && exec.jobs > 0L)
    assert(exec.planNs > 0L, "the noop write's plan was timed")
  }

  test("a shuffling query reports shuffle bytes") {
    val exec = recorded("pricing_summary")("pricing_summary/exec")
    assert(exec.shuffleWriteBytes > 0L && exec.shuffleReadBytes > 0L)
    assert(exec.resultBytes > 0L)
  }

  test("the profile tool writes one row per name plus totals") {
    val out = Files.createTempFile("graft_profile", ".json")
    val lines = graft.tools.Profile.run(
      spark, sf, Seq("zipf_fit", "ppl_buckets"), Some(0L), out)
    assert(lines.size === 3)
    assert(spark.conf.getOption(Materialize.BudgetConf).isEmpty,
      "the run's budget is unset after it")
    val rec = spark.read.option("multiLine", "true").json(out.toString)
      .selectExpr("budget_bytes", "transform(rows, r -> r.name) AS names",
        "totals.rows AS n", "totals.failed AS failed",
        "totals.exec.jobs AS exec_jobs", "totals.untraced_full_s AS untraced")
      .collect().head
    assert(rec.getAs[Long]("budget_bytes") === 0L)
    assert(rec.getSeq[String](1) === Seq("ppl_buckets", "zipf_fit"))
    assert(rec.getAs[Long]("n") === 2L && rec.getAs[Long]("failed") === 0L)
    assert(rec.getAs[Long]("exec_jobs") > 0L && rec.getAs[Double]("untraced") > 0.0)
  }
}
