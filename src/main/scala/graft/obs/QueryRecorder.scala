package graft.obs

import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** What Spark did for one job group: the jobs, stages and tasks it ran,
  * the Catalyst planning time of its queries, and its tasks' summed
  * shuffle, spill and result bytes.
  */
final case class Counts(
    jobs: Long = 0L, stages: Long = 0L, tasks: Long = 0L, planNs: Long = 0L,
    shuffleReadBytes: Long = 0L, shuffleWriteBytes: Long = 0L,
    spillBytes: Long = 0L, resultBytes: Long = 0L) {
  def +(o: Counts): Counts = Counts(jobs + o.jobs, stages + o.stages,
    tasks + o.tasks, planNs + o.planNs,
    shuffleReadBytes + o.shuffleReadBytes,
    shuffleWriteBytes + o.shuffleWriteBytes,
    spillBytes + o.spillBytes, resultBytes + o.resultBytes)
}

/** One listener for query-scoped records, read from Spark's public
  * listener interfaces.
  *
  * Work is recorded per job group. [[phase]] runs a block under a group:
  * jobs carry the group in their properties, and stages and tasks inherit
  * it from the job that submitted them, so task-end metrics are summed
  * per group. Planning time comes from the session's query-execution
  * callbacks (`qe.tracker`: optimization plus physical planning), which
  * carry no job group; it is charged to the group of the open phase,
  * which is exact because a phase returns only after the listener bus
  * has delivered every event the phase posted. Work outside a phase is
  * not recorded.
  */
final class QueryRecorder private (spark: SparkSession)
    extends SparkListener with QueryExecutionListener {
  private val sc = spark.sparkContext
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val byGroup = new ConcurrentHashMap[String, Counts]()
  private val fences = new ConcurrentHashMap[String, CountDownLatch]()
  @volatile private var open: String = null

  private def add(group: String, c: Counts): Unit =
    if (group != null) { byGroup.merge(group, c, _ + _); () }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty(QueryRecorder.GroupKey)))
    group.foreach { g =>
      val fence = fences.get(g)
      if (fence != null) fence.countDown()
      else {
        e.stageInfos.foreach(s => stageGroup.put(s.stageId, g))
        add(g, Counts(jobs = 1L))
      }
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    add(stageGroup.get(e.stageInfo.stageId), Counts(stages = 1L))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    add(stageGroup.get(e.stageId),
      if (m == null) Counts(tasks = 1L)
      else Counts(tasks = 1L,
        shuffleReadBytes = m.shuffleReadMetrics.totalBytesRead,
        shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
        spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled,
        resultBytes = m.resultSize))
  }

  private def planned(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    val ms = Seq("optimization", "planning").flatMap(ph.get).map(_.durationMs).sum
    add(open, Counts(planNs = ms * 1000000L))
  }
  override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = planned(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = planned(qe)

  /** Runs `body` with its Spark work recorded under `group`, then waits
    * for the listener bus to deliver the block's events. The calling
    * thread's job group is cleared afterwards.
    */
  def phase[T](group: String)(body: => T): T = {
    sc.setJobGroup(group, group)
    open = group
    try body
    finally { sc.clearJobGroup(); drain(); open = null }
  }

  /** Everything recorded under `group` so far. */
  def apply(group: String): Counts = byGroup.getOrDefault(group, Counts())

  /** Stops listening; recorded counts stay readable. */
  def detach(): Unit = {
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Runs one fence job and waits until its start reaches this listener:
    * the bus delivers events in order, so every earlier event has too.
    */
  private def drain(): Unit = {
    val id = s"graft.obs.fence.${UUID.randomUUID()}"
    val fence = new CountDownLatch(1)
    fences.put(id, fence)
    try {
      sc.setJobGroup(id, id)
      sc.parallelize(Seq(1), 1).count()
      if (!fence.await(60, TimeUnit.SECONDS))
        throw new IllegalStateException("listener bus did not drain in 60 s")
    } finally { sc.clearJobGroup(); fences.remove(id) }
  }
}

object QueryRecorder {
  private val GroupKey = "spark.jobGroup.id"

  /** A recorder listening to `spark`'s scheduler and query executions. */
  def attach(spark: SparkSession): QueryRecorder = {
    val r = new QueryRecorder(spark)
    spark.sparkContext.addSparkListener(r)
    spark.listenerManager.register(r)
    r
  }
}
