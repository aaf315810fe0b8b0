package enginebench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.queries.{Marketplace, Social}
import graft.queries.Marketplace.AdsSearchParams

/** What a workload runs against: the session, the generated tables, a
  * work directory of its own, the seed, and the run's trace.
  */
final case class Ctx(
    spark: SparkSession, data: String, work: String, seed: Long, trace: Trace)

/** One timed phase: median and tail op latency (ms, with how the tail was
  * taken), counts, throughput and the workload's own layer metrics.
  */
final case class Phase(
    opMs: Double, tailMs: Double, tailNote: String,
    attempted: Int, failed: Int, opsPerS: Double,
    layer: Seq[(String, Double, String)])

object Phase {
  /** Median and tail of one pool of latencies, each op one sample. */
  def pooled(latMs: Seq[Double]): (Double, Double, String) = {
    val (t, pct, n) = Stats.tail(latMs)
    (Stats.median(latMs), t, s"p$pct over $n samples")
  }
}

trait Workload {
  /** Untimed pass over the same code the timed phase runs. */
  def setup(): Unit
  /** Runs a fixed amount of work sized to take about `seconds` on a
    * 4-core host; `round` tells a phase's ops and directories from
    * another's.
    */
  def timed(seconds: Double, round: Int): Phase
}

/** One call into the engine: the call that returns the DataFrame (build),
  * then its execution to full output (exec), timed apart.
  */
final case class OpResult(
    kind: String, buildNs: Long, execNs: Long, planMs: Double,
    digest: Digest, error: Option[String]) {
  def ms: Double = (buildNs + execNs) / 1e6
}

object Op {
  /** Runs one op. `collect` executes as a client reading the rows would
    * (the plan's collect path, limits included); otherwise every output
    * partition is consumed on the executors, as a `noop` sink would, and
    * only its digest returns.
    */
  def run(ctx: Ctx, op: String, kind: String, collect: Boolean)(build: => DataFrame): OpResult =
    try {
      val (df, bNs) = ctx.trace.span(op, "build")(build)
      val qe = queryExecution(df)
      val (d, eNs) = ctx.trace.span(op, "exec")(execute(df, collect))
      OpResult(kind, bNs, eNs, Trace.planMs(qe), d, None)
    } catch {
      case e: Throwable => OpResult(kind, 0L, 0L, 0.0, Digest.empty, Some(e.toString))
    } finally ctx.spark.catalog.clearCache()

  private def queryExecution(df: DataFrame) =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]].queryExecution

  private def execute(df: DataFrame, collect: Boolean): Digest = {
    val qe = queryExecution(df)
    val schema = df.schema
    SQLExecution.withNewExecutionId(qe, None) {
      if (collect) Digest.of(qe.executedPlan.executeCollect().iterator, schema)
      else qe.toRdd.mapPartitions(it => Iterator(Digest.of(it, schema)))
        .collect().foldLeft(Digest.empty)(_ + _)
    }
  }

  /** Digest of a frame's full output, untimed. */
  def digest(df: DataFrame): Digest = execute(df, collect = false)

  /** Layer metrics of the ops `rs`, whose ids start with `prefix`,
    * averaged per op.
    */
  def layers(ctx: Ctx, prefix: String, rs: Seq[OpResult]): Seq[(String, Double, String)] = {
    import LayerListener._
    val l = ctx.trace.layers
    val n = math.max(rs.size, 1).toDouble
    def build(f: Int) = l.total(f)(k => k.startsWith(prefix) && k.endsWith("/build")).toDouble / n
    Seq(
      ("build_ms", rs.map(_.buildNs / 1e6).sum / n, "ms"),
      ("build_jobs", build(Jobs), "count"),
      ("plan_ms", rs.map(_.planMs).sum / n + ctx.trace.plans.planNs.get / 1e6 / n, "ms"),
      ("exec_ms", rs.map(_.execNs / 1e6).sum / n, "ms"),
      ("build_result_mb", build(ResultBytes) / 1048576.0, "MB")) ++
      scheduler(ctx, prefix, rs.size)
  }

  /** Scheduler and execution counts per op over the ops whose id starts
    * with `prefix`.
    */
  def scheduler(ctx: Ctx, prefix: String, ops: Int): Seq[(String, Double, String)] = {
    import LayerListener._
    val n = math.max(ops, 1).toDouble
    def all(f: Int) = ctx.trace.layers.total(f)(_.startsWith(prefix)).toDouble / n
    Seq(
      ("jobs_per_op", all(Jobs), "count"),
      ("stages_per_op", all(Stages), "count"),
      ("tasks_per_op", all(Tasks), "count"),
      ("task_s", all(TaskNs) / 1e9, "s"),
      ("shuffle_read_mb", all(ShuffleRead) / 1048576.0, "MB"),
      ("shuffle_write_mb", all(ShuffleWrite) / 1048576.0, "MB"),
      ("spill_mb", all(Spill) / 1048576.0, "MB"),
      ("driver_result_mb", all(ResultBytes) / 1048576.0, "MB"))
  }

  def record(ctx: Ctx, op: String, r: OpResult, params: String, ok: Boolean): Unit =
    ctx.trace.record(
      s"""{"op":${Json.str(op)},"kind":${Json.str(r.kind)},"params":${Json.str(params)},"build_ms":${Json.num(r.buildNs / 1e6)},"exec_ms":${Json.num(r.execNs / 1e6)},"plan_ms":${Json.num(r.planMs)},"rows":${r.digest.rows},"ok":$ok,"error":${Json.str(r.error.orNull)}}""")
}

/** Read traffic of the marketplace backend as a closed loop with one
  * client: the reference's eight read endpoints, each with keys the seed
  * draws from the tables, and the registered report queries of
  * [[ReadMix.Reports]]. A pass sends every request once in a seeded order;
  * set-up is two untimed passes (the first also builds the warehouse
  * artifacts the reports read); the timed phase runs [[ReadMix.passes]]
  * passes.
  * Endpoints are read as a client would (collect, limits included);
  * reports are consumed to full output on the executors. Throughput is
  * the median over passes of requests per second.
  */
final class ReadMix(ctx: Ctx) extends Workload {
  import ReadMix._
  private val spark = ctx.spark
  private val d = ctx.data
  private val rnd = new scala.util.Random(ctx.seed)

  private final case class Req(name: String, params: String, collect: Boolean, build: () => DataFrame)

  private def sample(df: DataFrame, key: String, n: Int): Array[Row] =
    df.orderBy(xxhash64(col(key), lit(ctx.seed))).limit(n).collect()

  private val pool: IndexedSeq[Req] = {
    val orders = sample(Tables.orders(spark, d).select("o_orderkey", "o_custkey"), "o_orderkey", 1).head
    val line = sample(Tables.lineitem(spark, d).select("l_orderkey", "l_partkey"), "l_orderkey", 1).head
    val user = sample(Tables.events(spark, d).select("user_id").distinct(), "user_id", 1).head.getLong(0)
    val maxPart = Tables.part(spark, d).agg(max("p_partkey")).head().getLong(0)
    def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))
    def params(): AdsSearchParams = {
      val lo = 900.0 + 10 * rnd.nextInt(7)
      AdsSearchParams(
        search = Some(pick(Terms)), minPrice = Some(lo),
        maxPrice = Some(lo + 20 + 10 * rnd.nextInt(5)),
        sortBy = pick(Sorts), page = 1 + rnd.nextInt(3))
    }
    val (ok, ck, pk) = (orders.getLong(0), orders.getLong(1), line.getLong(1))
    val search = params()
    val count = params()
    val after = params().copy(sortBy = "price_low", page = 1)
    val (ap, ak) = (after.minPrice.get + 5.0, rnd.nextLong(maxPart + 1))
    val checkPart = if (rnd.nextBoolean()) pk else rnd.nextLong(maxPart + 1)
    val fns = graft.SparkEntry.queries
    Vector(
      Req("adsSearch", search.toString, true, () => Marketplace.adsSearch(spark, d, search)),
      Req("adById", s"orderkey=$ok", true, () => Marketplace.adById(spark, d, ok)),
      Req("adsCount", count.toString, true, () => Marketplace.adsCount(spark, d, count)),
      Req("adsSearchAfter", s"$after after=($ap,$ak)", true,
        () => Marketplace.adsSearchAfter(spark, d, after, ap, ak)),
      Req("myAds", s"custkey=$ck", true, () => Marketplace.myAds(spark, d, ck)),
      Req("messages", s"user=$user", true, () => Social.messages(spark, d, user)),
      Req("favoritesList", s"partkey=$pk", true, () => Marketplace.favoritesList(spark, d, pk)),
      Req("favoriteCheck", s"orderkey=${line.getLong(0)} partkey=$checkPart", true,
        () => Marketplace.favoriteCheck(spark, d, line.getLong(0), checkPart))) ++
      Reports.map(n => Req(n, "", false, () => fns(n)(spark, d)))
  }
  private val expected = new Array[Digest](pool.size)
  private var setupBuilds = 0
  private var setupRefreshes = 0
  private var setupBuildS = 0.0

  private def pass(label: String)(f: (Int, String, OpResult) => Unit): Unit =
    rnd.shuffle(pool.indices.toList).foreach { i =>
      val op = s"$label.${pool(i).name}"
      f(i, op, Op.run(ctx, op, pool(i).name, pool(i).collect)(pool(i).build()))
    }

  def setup(): Unit = {
    graft.ops.Layout.resetBuildStats()
    pass("warm") { (i, _, r) =>
      r.error.foreach(e => throw new IllegalStateException(s"${r.kind} failed in set-up: $e"))
      expected(i) = r.digest
      val b = graft.ops.Layout.buildCount.get()
      println(f"read_mix set-up ${r.kind}%-22s ${r.ms}%9.1f ms, ${b - setupBuilds} artifact builds")
      setupBuilds = b
    }
    setupRefreshes = graft.ops.Layout.refreshCount.get()
    setupBuildS = graft.ops.Layout.buildNanos.get() / 1e9
    // a second pass, so the timed phase starts with the code compiled
    pass("warm2") { (i, _, r) =>
      require(r.error.isEmpty && r.digest == expected(i), s"${r.kind} changed in set-up")
    }
  }

  def timed(seconds: Double, round: Int): Phase = {
    graft.ops.Layout.resetBuildStats()
    val rs = scala.collection.mutable.ArrayBuffer.empty[OpResult]
    var failed = 0
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    val p = passes(seconds)
    val passRates = (0 until p).map { k =>
      val s0 = elapsed
      pass(s"r$round.p$k") { (i, op, r) =>
        val ok = r.error.isEmpty && r.digest == expected(i)
        if (!ok) failed += 1
        Op.record(ctx, op, r, pool(i).params, ok)
        rs += r
      }
      pool.size / (elapsed - s0)
    }
    val builds = graft.ops.Layout.buildCount.get()
    val refreshes = graft.ops.Layout.refreshCount.get()
    // a timed phase that builds or refreshes an artifact measured set-up
    // work: every op of it counts as failed
    if (builds + refreshes > 0) failed = rs.size
    val wh = new java.io.File(ctx.spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
    // the median takes one sample per request, its median over the passes:
    // a single execution can take half or twice its usual time. The tail
    // is pooled over executions; the slowest per-request median, the
    // maximum of fifteen noisy values, spread 21 % between runs.
    val perReq = rs.groupBy(_.kind).values.map(q => Stats.median(q.map(_.ms).toSeq)).toSeq
    val (_, tail, note) = Phase.pooled(rs.map(_.ms).toSeq)
    Phase(Stats.median(perReq), tail, s"$note over $p passes",
      rs.size, failed, Stats.median(passRates),
      Op.layers(ctx, s"r$round.", rs.toSeq) ++ Seq(
        ("artifact_builds_setup", setupBuilds.toDouble, "count"),
        ("artifact_refreshes_setup", setupRefreshes.toDouble, "count"),
        ("artifact_build_s_setup", setupBuildS, "s"),
        ("artifact_builds_timed", builds.toDouble, "count"),
        ("artifact_refreshes_timed", refreshes.toDouble, "count"),
        ("artifact_build_s_timed", graft.ops.Layout.buildNanos.get() / 1e9, "s"),
        ("warehouse_mb", Files.sizeMb(wh), "MB")))
  }
}

object ReadMix {
  /** Seconds one warm pass takes on a loaded 4-core host (5 to 7 s). */
  val PassS = 7.0

  /** Passes in a timed phase of about `seconds`. The count is fixed, not
    * timed: a phase that stopped when its time was up took two passes on
    * a slow host and three on a fast one, and so measured different
    * points of the JIT's warm-up (pass times still fall 15 % over the
    * first ten passes of a JVM).
    */
  def passes(seconds: Double): Int = math.max(2, math.round(seconds / PassS).toInt)

  val Terms: Seq[String] = Seq("blue", "red", "small", "large", "widget", "gear", "bolt", "ring")
  val Sorts: Seq[String] = Seq("newest", "price_low", "price_high")

  /** Registered report queries (`graft.SparkEntry.queries`), chosen to
    * cover the layers: artifact reads from the `ops/Layout` warehouse (the
    * first three), eager driver work and `ops/Materialize` collects in the
    * build call (`rrf_fusion`, `ppl_buckets`, `nation_market_share`), and
    * full output far costlier than a count (the last two).
    */
  val Reports: Seq[String] = Seq(
    "zorder_scan", "bm25_search", "rrf_fusion",
    "ppl_buckets", "nation_market_share",
    "pricing_summary", "text_normalize")
}

object Files {
  def sizeMb(f: java.io.File): Double = {
    def bytes(x: java.io.File): Long =
      if (x.isDirectory) Option(x.listFiles()).map(_.map(bytes).sum).getOrElse(0L) else x.length()
    bytes(f) / 1048576.0
  }
  def delete(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete(); ()
  }
}
