package enginebench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Scheduler and execution counts, read from Spark's public listeners.
  *
  * Every call into the engine runs under the local property [[OpKey]]
  * (`<op id>/<phase>`, phase `build`, `exec` or `start`); jobs carry it in
  * their properties, stages and tasks inherit it from their job. Streams
  * inherit it from the thread that started them. Counts are kept per op id
  * for the trace file and per phase for the metrics.
  */
final class LayerListener extends SparkListener {
  import LayerListener._
  private val stageOp = new ConcurrentHashMap[Int, String]()
  val perOp = new ConcurrentHashMap[String, Array[Long]]()

  private def add(op: String, field: Int, v: Long): Unit = if (op != null) {
    perOp.computeIfAbsent(op, _ => new Array[Long](NFields))
    perOp.get(op).synchronized { perOp.get(op)(field) += v }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    val op = p.flatMap(x => Option(x.getProperty(OpKey))).orNull
    val batch = p.flatMap(x => Option(x.getProperty("streaming.sql.batchId")))
    val key = batch.fold(op)(b => if (op == null) null else s"$op#$b")
    e.stageInfos.foreach(s => if (key != null) stageOp.put(s.stageId, key))
    add(key, Jobs, 1)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    add(stageOp.get(e.stageInfo.stageId), Stages, 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val op = stageOp.get(e.stageId)
    val m = e.taskMetrics
    add(op, Tasks, 1)
    if (m != null) {
      add(op, TaskNs, m.executorRunTime * 1000000L)
      add(op, ShuffleRead, m.shuffleReadMetrics.totalBytesRead)
      add(op, ShuffleWrite, m.shuffleWriteMetrics.bytesWritten)
      add(op, Spill, m.memoryBytesSpilled + m.diskBytesSpilled)
      add(op, ResultBytes, m.resultSize)
    }
  }

  /** Sum of one field over the ops whose key satisfies `p`. */
  def total(field: Int)(p: String => Boolean): Long =
    perOp.asScala.iterator.filter(kv => p(kv._1)).map(_._2(field)).sum
}

object LayerListener {
  val OpKey = "enginebench.op"
  val Jobs = 0; val Stages = 1; val Tasks = 2; val TaskNs = 3
  val ShuffleRead = 4; val ShuffleWrite = 5; val Spill = 6; val ResultBytes = 7
  val NFields = 8
  val FieldNames = Seq("jobs", "stages", "tasks", "task_ns", "shuffle_read_b",
    "shuffle_write_b", "spill_b", "result_b")
}

/** Planning time of the queries the engine runs through Dataset actions
  * (eager driver work inside a build call, writes inside an epoch body).
  */
final class PlanListener extends QueryExecutionListener {
  val planNs = new AtomicLong()
  private def record(qe: QueryExecution): Unit = {
    planNs.addAndGet(Trace.planMs(qe).toLong * 1000000L); ()
  }
  override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
}

/** One timed interval of one op: its `build` or `exec` call, or the start
  * of a stream. Spans of one op share its id.
  */
final case class Span(op: String, name: String, startNs: Long, endNs: Long)

/** Listeners, spans and per-op records of a traced phase, kept in memory
  * and written as one JSON file when the run ends. Until [[attach]] no
  * listener is attached and nothing is kept.
  */
final class Trace(spark: SparkSession) {
  val layers = new LayerListener
  val plans = new PlanListener
  private val spans = scala.collection.mutable.ArrayBuffer.empty[Span]
  private val records = scala.collection.mutable.ArrayBuffer.empty[String]
  @volatile private var on = false

  /** Starts listening and keeping spans; counts start from zero here. */
  def attach(): Unit = {
    spark.sparkContext.addSparkListener(layers)
    spark.listenerManager.register(plans)
    on = true
  }

  def drain(): Unit = if (on) org.apache.spark.BusAccess.drain(spark.sparkContext)

  /** Runs `body` as phase `phase` of op `op`, tagging its Spark jobs. */
  def span[T](op: String, phase: String)(body: => T): (T, Long) = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(LayerListener.OpKey)
    sc.setLocalProperty(LayerListener.OpKey, s"$op/$phase")
    val t0 = System.nanoTime()
    try {
      val r = body
      val t1 = System.nanoTime()
      if (on) spans.synchronized { spans += Span(op, phase, t0, t1) }
      (r, t1 - t0)
    } finally sc.setLocalProperty(LayerListener.OpKey, prev)
  }

  def record(json: String): Unit = if (on) records.synchronized { records += json }

  def write(path: String, header: String): Unit = if (on && path != null) {
    val sb = new StringBuilder
    sb ++= "{\"run\":" ++= header ++= ",\"spans\":["
    sb ++= spans.map(s =>
      s"""{"op":${Json.str(s.op)},"name":${Json.str(s.name)},"start_ns":${s.startNs},"end_ns":${s.endNs}}""")
      .mkString(",")
    sb ++= "],\"op_counts\":{"
    sb ++= layers.perOp.asScala.toSeq.sortBy(_._1).map { case (k, v) =>
      Json.str(k) + ":{" + LayerListener.FieldNames.zip(v)
        .map { case (n, x) => s""""$n":$x""" }.mkString(",") + "}"
    }.mkString(",")
    sb ++= "},\"records\":[" ++= records.mkString(",") ++= "]}\n"
    val f = new java.io.File(path)
    Option(f.getParentFile).foreach(_.mkdirs())
    java.nio.file.Files.write(f.toPath, sb.toString.getBytes("UTF-8"))
  }
}

object Trace {
  /** Optimization plus physical planning time of one query. */
  def planMs(qe: QueryExecution): Double = {
    val ph = qe.tracker.phases
    Seq("optimization", "planning").flatMap(ph.get).map(_.durationMs).sum.toDouble
  }
}

object Json {
  def str(s: String): String =
    if (s == null) "null"
    else "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
}
