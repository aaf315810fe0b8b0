package graft.tools

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{SparkEntry, Verify}
import graft.obs.{Counts, QueryRecorder}
import graft.ops.{Layout, Materialize}

/** Profiles registered queries: one record per query, split into its
  * build (the registry call that returns the frame, with any eager driver
  * work and artifact builds) and its exec (the whole result written to a
  * `noop` sink). Usage:
  *
  *   sbt "runMain graft.tools.Profile [sfDir] [--budget BYTES] [name ...]"
  *
  * `sfDir` defaults to `$SPARK_GRAFT_SF_DIR`; no names profiles the whole
  * registry. `--budget` sets the driver budget (`graft.driverBudgetBytes`)
  * for the run; 0 sends every size-adaptive operator down its distributed
  * branch and every local-or-spill materialization to the spill store.
  *
  * Each query runs four times, dropping its cached frames after each:
  * a warm-up (build, `count()`, noop) that builds artifacts and compiles
  * the code of both plans (`count()` prunes the output, so its plans
  * differ); an untraced full-output run (build, noop); and a traced run,
  * which runs build and exec under the job groups `<name>/build` and
  * `<name>/exec` of a [[QueryRecorder]], then times `count()` of the same
  * frame outside either group. Even-numbered queries run untraced first,
  * odd ones traced first, so warm-up drift does not favour either side;
  * the untraced and traced full-output totals measure the recorder's own
  * overhead.
  *
  * Prints one JSON line per query and one of totals, and writes the same
  * record to PROFILE_LAST.json.
  */
object Profile {
  private final case class Phase(
      s: Double = 0.0, counts: Counts = Counts(),
      builds: Long = 0L, refreshes: Long = 0L) {
    def +(o: Phase): Phase =
      Phase(s + o.s, counts + o.counts, builds + o.builds, refreshes + o.refreshes)
    def json: String = Seq(
      "s" -> num(s), "jobs" -> counts.jobs, "stages" -> counts.stages,
      "tasks" -> counts.tasks, "plan_ms" -> num(counts.planNs / 1e6),
      "shuffle_read_b" -> counts.shuffleReadBytes,
      "shuffle_write_b" -> counts.shuffleWriteBytes,
      "spill_b" -> counts.spillBytes, "result_b" -> counts.resultBytes,
      "artifact_builds" -> builds, "artifact_refreshes" -> refreshes)
      .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
  }

  private final case class Row(name: String, build: Phase = Phase(),
      exec: Phase = Phase(), countS: Double = 0.0, untracedS: Double = 0.0,
      error: Option[String] = None) {
    def json: String =
      s"""{"name":${Verify.jsonString(name)},"count_s":${num(countS)},""" +
        s""""untraced_full_s":${num(untracedS)},""" +
        s""""build":${build.json},"exec":${exec.json}""" +
        error.fold("")(e => s""","error":${Verify.jsonString(e)}""") + "}"
  }

  private def num(d: Double): String =
    BigDecimal(d).setScale(4, BigDecimal.RoundingMode.HALF_UP).toString

  def main(args: Array[String]): Unit = {
    val usage = "usage: Profile [sfDir] [--budget BYTES] [name ...]"
    val i = args.indexOf("--budget")
    val budget = if (i < 0) None else Some(args(i + 1).toLong)
    val pos = (if (i < 0) args else args.take(i) ++ args.drop(i + 2)).toSeq
    val (sfDir, names) = pos match {
      case sf +: rest if !SparkEntry.queries.contains(sf) => (sf, rest)
      case _ => (sys.env.getOrElse("SPARK_GRAFT_SF_DIR", sys.error(usage)), pos)
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = graft.GraftSession.local(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    try run(spark, sfDir, names, budget, Paths.get("PROFILE_LAST.json"))
      .foreach(println)
    finally spark.stop()
  }

  /** Profiles `names` (all registered queries when empty) over `sfDir`,
    * writes the record to `out` and returns the lines it prints.
    */
  def run(spark: SparkSession, sfDir: String, names: Seq[String],
      budget: Option[Long], out: Path): Seq[String] = {
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"not registered: ${unknown.mkString(", ")}")
    val fns = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(q => names.isEmpty || names.contains(q._1))
    val prevBudget = spark.conf.getOption(Materialize.BudgetConf)
    budget.foreach(b => spark.conf.set(Materialize.BudgetConf, b.toString))
    try {
      spark.range(100).selectExpr("count(*)").collect()
      def noop(df: DataFrame): Unit =
        df.write.format("noop").mode("overwrite").save()
      def once[T](body: => T): T = try body finally spark.catalog.clearCache()
      val rows = fns.zipWithIndex.map { case ((name, fn), i) =>
        def untraced(): Double = once(timed(noop(fn(spark, sfDir)))._2)
        def traced(): Row = once {
          val rec = QueryRecorder.attach(spark)
          try {
            val (df, build) = phase(rec, s"$name/build")(fn(spark, sfDir))
            val (_, exec) = phase(rec, s"$name/exec")(noop(df))
            Row(name, build, exec, timed(df.count())._2)
          } finally rec.detach()
        }
        try {
          once { val df = fn(spark, sfDir); df.count(); noop(df) }
          if (i % 2 == 0) { val u = untraced(); traced().copy(untracedS = u) }
          else traced().copy(untracedS = untraced())
        } catch { case e: Exception =>
          Row(name, error = Some(String.valueOf(e.getMessage)))
        }
      }
      val ok = rows.filter(_.error.isEmpty)
      val build = ok.map(_.build).foldLeft(Phase())(_ + _)
      val exec = ok.map(_.exec).foldLeft(Phase())(_ + _)
      val totals = s"""{"rows":${rows.size},"failed":${rows.size - ok.size},""" +
        s""""count_s":${num(ok.map(_.countS).sum)},"build":${build.json},""" +
        s""""exec":${exec.json},""" +
        s""""untraced_full_s":${num(ok.map(_.untracedS).sum)},""" +
        s""""traced_full_s":${num(build.s + exec.s)}}"""
      val rowLines = rows.map(_.json)
      Files.write(out, (s"""{"sf":${Verify.jsonString(sfDir)},""" +
        s""""cpus":${spark.sparkContext.defaultParallelism},""" +
        s""""budget_bytes":${budget.fold("null")(_.toString)},""" +
        s""""rows":[\n${rowLines.mkString(",\n")}\n],""" +
        s""""totals":$totals}""" + "\n").getBytes("UTF-8"))
      rowLines :+ totals
    } finally prevBudget.fold(spark.conf.unset(Materialize.BudgetConf))(
      spark.conf.set(Materialize.BudgetConf, _))
  }

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Runs `body` as one recorded phase: its wall seconds, its Spark counts
    * and the artifact builds and refreshes it caused.
    */
  private def phase[T](rec: QueryRecorder, group: String)(body: => T): (T, Phase) = {
    val (b0, r0) = (Layout.buildCount.get, Layout.refreshCount.get)
    val (out, s) = rec.phase(group)(timed(body))
    (out, Phase(s, rec(group), Layout.buildCount.get - b0,
      Layout.refreshCount.get - r0))
  }
}
