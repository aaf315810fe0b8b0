package enginebench

import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload in a fresh JVM.
  *
  *   enginebench.Main --workload read_mix|ingest_stream
  *     --seed N --seconds S --trace 0|1 --data DIR --work DIR
  *     --result FILE [--trace-out FILE]
  *
  * Set-up (session, warm-up pass) is timed as `setup_s`; then one timed
  * phase of about S seconds gives the end-to-end metrics. With `--trace 1`
  * a second timed phase follows with the listeners attached: it gives the
  * per-layer metrics, and its throughput against the first phase's is the
  * tracing overhead. Human-readable lines go to stdout; the result object
  * goes to the result file.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val tMain = System.nanoTime()
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    // two task slots leave cores to the Spark driver and stream threads: with
    // four, the maintainers' epochs ran at 1.4 s side by side, with two 0.8 s
    val cpus = math.min(2, Runtime.getRuntime.availableProcessors)
    val spark = graft.GraftSession.local(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val trace = new Trace(spark)
    val ctx = Ctx(spark, opt("data"), opt("work"), opt("seed").toLong, trace)

    // a short run of the sentinel compiles its code; the full one is timed
    val (sentinel0, sentinelNs) = timeMs { sentinel(spark, cpus, 4000000L); sentinel(spark, cpus) }
    val wl: Workload = workload match {
      case "read_mix"      => new ReadMix(ctx)
      case "ingest_stream" => new Ingest(ctx, seconds)
      case w               => sys.error(s"unknown workload $w")
    }
    wl.setup()
    System.gc()
    val setupS = (System.nanoTime() - tMain - sentinelNs) / 1e9

    val plain = wl.timed(seconds, 0)
    val heapMb = Heap.liveMb()
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("ops_per_s", plain.opsPerS, "1/s"),
      ("op_ms", plain.opMs, "ms"),
      ("op_tail_ms", plain.tailMs, "ms"),
      ("heap_live_mb", heapMb, "MB"))

    val phases = if (traced) {
      trace.attach()
      val gc0 = Heap.gcMs()
      val p = wl.timed(seconds, 1)
      trace.drain()
      val n = math.max(p.attempted, 1).toDouble
      Seq(plain, p.copy(layer = p.layer ++ Seq(
        ("gc_ms", (Heap.gcMs() - gc0) / n, "ms"),
        ("trace_overhead_pct", (plain.opsPerS / p.opsPerS - 1) * 100, "%"))))
    } else Seq(plain)
    val sentinel1 = sentinel(spark, cpus)
    val sentinelMs = math.max(sentinel0, sentinel1)

    val attempted = phases.map(_.attempted).sum
    val failed = phases.map(_.failed).sum
    val layer = if (traced) {
      val byName = (phases.last.layer :+ (("sentinel_ms", sentinelMs, "ms")))
        .map(x => x._1 -> x._2).toMap
      Main.Layers.map { case (n, u) => (n, byName.getOrElse(n, 0.0), u) }
    } else Nil
    e2e.foreach { case (n, v, u) => println(f"$workload%-14s $n%-18s $v%14.4f $u") }
    println(s"$workload op_tail_ms is ${plain.tailNote}")
    println(f"$workload%-14s sentinel_ms        $sentinel0%14.1f before, $sentinel1%.1f after")
    layer.foreach { case (n, v, u) => println(f"$workload%-14s $n%-28s $v%14.4f $u") }
    println(s"$workload attempted=$attempted failed=$failed")

    val metrics = (if (traced) layer else e2e).map { case (n, v, u) =>
      s"${Json.str(n)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}"
    }.mkString(",")
    val result =
      s"""{"correct":${failed == 0 && attempted > 0},"attempted":$attempted,"failed":$failed,"metrics":{$metrics}}"""
    trace.write(opt.getOrElse("trace-out", null),
      s"""{"workload":"$workload","seed":${ctx.seed},"seconds":$seconds,"result":$result}""")
    java.nio.file.Files.write(java.nio.file.Paths.get(opt("result")), (result + "\n").getBytes("UTF-8"))
    spark.stop()
  }

  /** `graft.Bench`'s fixed pure-CPU host-load job (`rows` = 64M), in ms. */
  def sentinel(spark: SparkSession, cpus: Int, rows: Long = 64000000L): Double = timeMs {
    spark.range(0L, rows, 1L, cpus).selectExpr("max(xxhash64(id))").collect()
  }._2 / 1e6

  private def timeMs[T](body: => T): (T, Long) = {
    val t0 = System.nanoTime()
    val r = body
    (r, System.nanoTime() - t0)
  }

  /** Every per-layer metric with its unit, in the order the traced run
    * prints them; a workload reports 0 for a layer it does not run.
    */
  val Layers: Seq[(String, String)] = Seq(
    "build_ms" -> "ms", "build_jobs" -> "count", "plan_ms" -> "ms",
    "jobs_per_op" -> "count", "stages_per_op" -> "count", "tasks_per_op" -> "count",
    "exec_ms" -> "ms", "task_s" -> "s", "shuffle_read_mb" -> "MB",
    "shuffle_write_mb" -> "MB", "spill_mb" -> "MB", "gc_ms" -> "ms",
    "driver_result_mb" -> "MB", "build_result_mb" -> "MB",
    "artifact_builds_setup" -> "count", "artifact_refreshes_setup" -> "count",
    "artifact_build_s_setup" -> "s", "artifact_builds_timed" -> "count",
    "artifact_refreshes_timed" -> "count", "artifact_build_s_timed" -> "s",
    "warehouse_mb" -> "MB") ++
    Seq("vector", "postings", "media", "edge").flatMap(m => Seq(
      "epoch_ms" -> "ms", "epoch_body_ms" -> "ms", "epoch_commit_ms" -> "ms",
      "epoch_source_ms" -> "ms", "epoch_plan_ms" -> "ms", "epoch_jobs" -> "count",
      "epoch_drift" -> "ratio", "index_mb" -> "MB").map { case (n, u) => s"$n.$m" -> u }) ++
    Seq("backlog_max" -> "count", "generator_lag_ms" -> "ms",
      "trace_overhead_pct" -> "%", "sentinel_ms" -> "ms")
}
