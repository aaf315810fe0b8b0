package enginebench

import java.io.File
import java.nio.file.{Files => NF, StandardCopyOption}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import org.apache.spark.sql.types.StructType

import graft.io.Tables
import graft.streaming.CorpusIngest

/** One streaming index maintainer under test. */
final case class Maintainer(
    name: String, periodMs: Long, shardRows: Int, key: String,
    rows: () => DataFrame,
    start: (DataFrame, String, String) => StreamingQuery,
    index: String => DataFrame)

/** The four `CorpusIngest` maintainers side by side, each a real
  * `writeStream` over a parquet file source that takes one shard file per
  * epoch. One generator publishes every maintainer's shards open loop, one
  * every `periodMs`, by atomic rename, the four maintainers' shards at the
  * same instants; a shard's freshness runs from its due time to the commit
  * of its epoch.
  *
  * Set-up stages the shards and builds each maintainer's reference index
  * from all of them in one epoch; a timed round's index must equal it.
  */
final class Ingest(ctx: Ctx, seconds: Double) extends Workload {
  private val spark = ctx.spark
  private val d = ctx.data
  private val root = new File(ctx.work, "ingest")

  private def sample(df: DataFrame, key: String, n: Int): DataFrame =
    df.withColumn("_rank", row_number().over(Window.orderBy(xxhash64(col(key), lit(ctx.seed)))))
      .filter(col("_rank") <= n)

  private lazy val seeds: DataFrame = {
    // the maintained index's frozen quantizer: the 16 lowest-id vectors
    val emb = Tables.embeddings(spark, d)
    val rows = emb.orderBy(col("vec_id")).limit(16).select("vec_id", "embedding").collect()
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), rows.head.schema)
  }

  val maintainers: Seq[Maintainer] = Seq(
    Maintainer("vector", Ingest.PeriodMs("vector"), 40, "vec_id",
      () => Tables.embeddings(spark, d).select("vec_id", "embedding", "label"),
      (in, idx, ck) => CorpusIngest.ingestVectors(in, seeds, idx, ck),
      idx => spark.read.parquet(idx)),
    Maintainer("postings", Ingest.PeriodMs("postings"), 40, "doc_id",
      () => Tables.documents(spark, d).select("doc_id", "text"),
      (in, idx, ck) => CorpusIngest.ingestPostings(in, idx, ck),
      idx => spark.read.parquet(idx)),
    Maintainer("media", Ingest.PeriodMs("media"), 40, "media_id",
      () => graft.ext.Multimodal.mediaTable(spark, d),
      (in, idx, ck) => CorpusIngest.ingestMediaSignatures(in, idx, ck),
      idx => spark.read.parquet(idx)),
    Maintainer("edge", Ingest.PeriodMs("edge"), 400, "l_orderkey",
      () => Tables.lineitem(spark, d).select("l_orderkey", "l_partkey"),
      (in, idx, ck) => CorpusIngest.ingestEdges(in, idx, ck),
      // the consumer view: epoch deltas merged, cancelled pairs dropped
      idx => spark.read.parquet(s"$idx/edges")
        .groupBy("src", "dst").agg(sum("w").as("w")).filter(col("w") > 0)
        .unionByName(spark.read.parquet(s"$idx/census")
          .groupBy("l_partkey").agg(sum("pc").as("w"))
          .filter(col("w") > 0 || col("l_partkey") === -1L)
          .select(col("l_partkey").as("src"), lit(-2L).as("dst"), col("w")))))

  /** Shards per maintainer: the run's time at its rate, as many as its
    * table holds (12 of the 40-document shards at scale factor 0.01).
    */
  def shards(m: Maintainer): Int = math.min(
    math.max(4, (seconds * 1000 / m.periodMs).toInt), (m.rows().count() / m.shardRows).toInt)

  private val schemas = scala.collection.mutable.Map.empty[String, StructType]
  private val staged = scala.collection.mutable.Map.empty[String, IndexedSeq[File]]
  private val reference = scala.collection.mutable.Map.empty[String, Digest]
  private val baseMtime = System.currentTimeMillis() - 3600000L

  /** Writes the seeded shards of `m` as one parquet file each; returns
    * their schema and files.
    */
  private def stage(m: Maintainer): (StructType, IndexedSeq[File]) = {
    val n = shards(m)
    val df = sample(m.rows(), m.key, n * m.shardRows)
      .withColumn("_shard", ((col("_rank") - 1) / m.shardRows).cast("int"))
    val tmp = new File(root, s"${m.name}/staging")
    df.drop("_rank").repartition(col("_shard")).write.partitionBy("_shard").parquet(tmp.getPath)
    val dir = new File(root, s"${m.name}/shards")
    dir.mkdirs()
    val files = (0 until n).map { k =>
      val part = new File(tmp, s"_shard=$k").listFiles().filter(_.getName.endsWith(".parquet"))
      require(part.length == 1, s"${m.name} shard $k has ${part.length} files")
      val f = new File(dir, f"shard-$k%05d.parquet")
      NF.move(part.head.toPath, f.toPath)
      // the file source takes the oldest file first: order by shard
      f.setLastModified(baseMtime + k * 1000L)
      f
    }
    Files.delete(tmp)
    (df.drop("_rank", "_shard").schema, files)
  }

  private def source(m: Maintainer, in: File, perTrigger: Boolean): DataFrame = {
    val r = spark.readStream.schema(schemas(m.name))
    (if (perTrigger) r.option("maxFilesPerTrigger", "1") else r).parquet(in.getPath)
  }

  def setup(): Unit = {
    // the four stagings are independent jobs: run them side by side
    implicit val ec: ExecutionContext = ExecutionContext.global
    Await.result(Future.traverse(maintainers)(m => Future(m.name -> stage(m))), Duration.Inf)
      .foreach { case (name, (schema, files)) => schemas(name) = schema; staged(name) = files }
    // reference: every shard in one epoch, through the same maintainer;
    // the four streams run together, as in the timed phase
    val qs = maintainers.map { m =>
      val in = new File(root, s"${m.name}/ref-in")
      in.mkdirs()
      staged(m.name).foreach(f => NF.copy(f.toPath, new File(in, f.getName).toPath,
        StandardCopyOption.COPY_ATTRIBUTES))
      ctx.trace.span(s"ref.${m.name}", "start") {
        m.start(source(m, in, perTrigger = false), refIndex(m),
          new File(root, s"${m.name}/ref-ckpt").getPath)
      }._1
    }
    try qs.foreach(_.processAllAvailable()) finally qs.foreach(_.stop())
    maintainers.zip(qs).foreach { case (m, q) =>
      val epochs = q.recentProgress.count(_.numInputRows > 0)
      require(epochs == 1, s"${m.name} reference took $epochs epochs")
      reference(m.name) = Op.digest(m.index(refIndex(m)))
    }
    // warm-up: whole rounds of the timed phase's one-shard epochs, back to back
    (1 to Ingest.WarmRounds).foreach(w => drive(s"warm$w", m => staged(m.name).size, _ => 0L))
  }

  private def refIndex(m: Maintainer): String = new File(root, s"${m.name}/ref-index").getPath

  private final case class Epoch(shard: Int, due: Long, commit: Long, p: StreamingQueryProgress)

  /** One maintainer's stream in a round over its first `n` shards. */
  private final class Feed(val m: Maintainer, round: String, val n: Int) {
    val dir = new File(root, s"${m.name}/$round")
    val in = new File(dir, "in")
    in.mkdirs()
    // copies sit hidden (the file source skips names starting with '.')
    // until their due time, when one rename publishes each
    val hidden: IndexedSeq[File] = staged(m.name).take(n).map { f =>
      val h = new File(in, "." + f.getName)
      NF.copy(f.toPath, h.toPath, StandardCopyOption.COPY_ATTRIBUTES)
      h
    }
    val idx: String = new File(dir, "index").getPath
    val tag = s"$round.${m.name}"
    val q: StreamingQuery = ctx.trace.span(tag, "start") {
      m.start(source(m, in, perTrigger = true), idx, new File(dir, "ckpt").getPath)
    }._1
    val due = new Array[Long](n)
    val published = new Array[Long](n)
    def publish(k: Int): Unit = {
      NF.move(hidden(k).toPath, new File(in, hidden(k).getName.drop(1)).toPath,
        StandardCopyOption.ATOMIC_MOVE)
      published(k) = System.currentTimeMillis()
    }
    def committed: Int = q.recentProgress.count(_.numInputRows > 0)
  }

  /** Runs the four streams over their first `n(m)` shards, each
    * publishing shard k at t0 + k * gap(m), until every shard is committed.
    * One generator thread publishes all of them, open loop.
    */
  private def drive(round: String, n: Maintainer => Int, gap: Maintainer => Long): Seq[Feed] = {
    val feeds = maintainers.map(m => new Feed(m, round, n(m)))
    try {
      feeds.foreach(f => waitFor(30000)(f.q.status.message.startsWith("Waiting for data")))
      val t0 = System.currentTimeMillis() + 50
      val schedule = feeds.flatMap { f =>
        (0 until f.n).map { k =>
          f.due(k) = t0 + k * gap(f.m)
          (f.due(k), f, k)
        }
      }.sortBy(_._1)
      for ((due, f, k) <- schedule) {
        val w = due - System.currentTimeMillis()
        if (w > 0) Thread.sleep(w)
        f.publish(k)
      }
      waitFor(60000)(feeds.forall(f => f.committed >= f.n || f.q.exception.isDefined))
    } finally feeds.foreach(_.q.stop())
    feeds
  }

  def timed(seconds: Double, round: Int): Phase = {
    // the four streams' epochs start together, so each epoch shares the
    // task slots with the other three for the whole of it. With the
    // schedules staggered by a quarter period, how far epochs overlapped
    // grew with their length, and a slower host slowed them twice over.
    val feeds = drive(s"r$round", m => staged(m.name).size, _.periodMs)

    val lat = scala.collection.mutable.ArrayBuffer.empty[Double]
    val layer = scala.collection.mutable.ArrayBuffer.empty[(String, Double, String)]
    var attempted = 0
    var failed = 0
    val busyMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    var backlogMax = 0
    for (f <- feeds) {
      val m = f.m
      f.q.exception.foreach(e => System.err.println(s"[enginebench] ${m.name} stream failed: $e"))
      val progress = f.q.recentProgress.filter(_.numInputRows > 0).sortBy(_.batchId)
      val epochs = progress.indices.map { j =>
        val p = progress(j)
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli
        Epoch(j, f.due(math.min(j, f.n - 1)), start + dur(p, "triggerExecution").toLong, p)
      }
      // one shard per epoch, in publication order, and the same index as
      // the one-epoch reference
      val ok = f.q.exception.isEmpty && epochs.size == f.n &&
        epochs.forall(_.p.numInputRows == m.shardRows.toLong) &&
        Op.digest(m.index(f.idx)) == reference(m.name)
      attempted += f.n
      if (!ok) failed += f.n
      lat ++= epochs.map(e => (e.commit - e.due).toDouble)
      busyMs ++= epochs.map(e => dur(e.p, "triggerExecution"))
      val commits = epochs.map(_.commit)
      backlogMax = math.max(backlogMax, (f.published.toSeq ++ commits).map { t =>
        f.published.count(_ <= t) - commits.count(_ <= t)
      }.max)
      epochs.foreach(e => ctx.trace.record(
        s"""{"op":${Json.str(s"${f.tag}#${e.p.batchId}")},"kind":"epoch","maintainer":"${m.name}","shard":${e.shard},"due_ms":${e.due},"commit_ms":${e.commit},"freshness_ms":${e.commit - e.due},"progress":${e.p.json}}"""))
      def avg(g: StreamingQueryProgress => Double) = Stats.mean(epochs.map(e => g(e.p)))
      val ems = epochs.map(e => dur(e.p, "triggerExecution"))
      val quarter = math.max(1, ems.size / 4)
      val jobs = ctx.trace.layers.total(LayerListener.Jobs)(_.startsWith(s"${f.tag}/")).toDouble
      layer ++= Seq(
        (s"epoch_ms.${m.name}", Stats.mean(ems), "ms"),
        (s"epoch_body_ms.${m.name}", avg(dur(_, "addBatch")), "ms"),
        (s"epoch_commit_ms.${m.name}", avg(p => dur(p, "walCommit") + dur(p, "commitOffsets")), "ms"),
        (s"epoch_source_ms.${m.name}", avg(p => dur(p, "latestOffset") + dur(p, "getBatch")), "ms"),
        (s"epoch_plan_ms.${m.name}", avg(dur(_, "queryPlanning")), "ms"),
        (s"epoch_jobs.${m.name}", jobs / math.max(epochs.size, 1), "count"),
        (s"epoch_drift.${m.name}", Stats.mean(ems.takeRight(quarter)) / Stats.mean(ems.take(quarter)), "ratio"),
        (s"index_mb.${m.name}", Files.sizeMb(new File(f.idx)), "MB"))
    }
    val lagMax = feeds.map(f => (0 until f.n).map(k => f.published(k) - f.due(k)).max).max
    layer ++= Op.scheduler(ctx, s"r$round.", attempted) ++ Seq(
      ("plan_ms", ctx.trace.plans.planNs.get / 1e6 / math.max(attempted, 1), "ms"),
      ("backlog_max", backlogMax.toDouble, "count"),
      ("generator_lag_ms", lagMax.toDouble, "ms"))
    val (med, tail, note) = Phase.pooled(lat.toSeq)
    // capacity: shards per second of epoch busy time, from the median
    // epoch so that one stalled epoch does not move it
    Phase(med, tail, note, attempted, failed, 1000.0 / Stats.median(busyMs.toSeq), layer.toSeq)
  }

  private def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  private def waitFor(ms: Long)(cond: => Boolean): Unit = {
    val end = System.currentTimeMillis() + ms
    while (!cond && System.currentTimeMillis() < end) Thread.sleep(5)
  }
}

object Ingest {
  /** Warm-up rounds in set-up, each every staged shard, one per epoch.
    * Open-loop rounds run after a four-epoch warm-up sped up by half over
    * the first four (median freshness 1096, 661, 579, 521 ms); after one
    * closed-loop round the first two still differed by 24 %, after two
    * the traced phase ran 3 to 10 % faster than the untraced one.
    */
  val WarmRounds = 2

  /** Publication period of each maintainer's generator, well above the
    * epoch time: epochs of the four streams side by side take 1.0 to
    * 1.3 s on a loaded 4-core host, so the backlog stays flat on a host
    * half as fast again.
    */
  val PeriodMs: Map[String, Long] = Map(
    "vector" -> 2500L, "postings" -> 2500L, "media" -> 2500L, "edge" -> 2500L)
}
