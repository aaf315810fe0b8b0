package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM-wide session — Spark
  * sessions are expensive; suites must not stop() it).
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.local(4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  /** Smallest provided scale factor — fixture-sized real tables. */
  val sf: String = "/root/testdata/sf0.001"

  /** Directory `name` under the test JVM's `java.io.tmpdir` (build.sbt
    * points it at a per-run root under target/, deleted when the run
    * ends), created if missing; one name is one directory for the run.
    */
  def testDir(name: String): String = {
    val d = new java.io.File(System.getProperty("java.io.tmpdir"), name)
    d.mkdirs()
    d.getPath
  }

  /** Run `f` with the [[graft.ops.Materialize]] driver budget set to
    * `bytes`; 0 sends every size-adaptive operator down its distributed
    * branch and every local-or-spill materialization to the spill store.
    */
  def withDriverBudget[T](bytes: Long)(f: => T): T = {
    spark.conf.set(graft.ops.Materialize.BudgetConf, bytes.toString)
    try f finally spark.conf.unset(graft.ops.Materialize.BudgetConf)
  }

  /** Spark jobs `f` schedules, counted off the listener bus; one trailing
    * fence job guarantees every earlier job's event has been delivered.
    */
  def jobsOf(f: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"spec_jobs_${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger()
    val fence = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(g) if g == group => jobs.incrementAndGet(); ()
          case Some(g) if g == s"${group}_fence" => fence.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      f
      sc.setJobGroup(s"${group}_fence", group)
      sc.parallelize(Seq(1), 1).count()
      assert(fence.await(60, TimeUnit.SECONDS), "listener bus never drained")
      jobs.get
    } finally { sc.clearJobGroup(); sc.removeSparkListener(listener) }
  }
}
