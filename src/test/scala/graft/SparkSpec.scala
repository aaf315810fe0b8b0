package graft

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

  /** Run `f` with the [[graft.ops.Materialize]] driver budget set to
    * `bytes`; 0 sends every size-adaptive operator down its distributed
    * branch and every local-or-spill materialization to the spill store.
    */
  def withDriverBudget[T](bytes: Long)(f: => T): T = {
    spark.conf.set(graft.ops.Materialize.BudgetConf, bytes.toString)
    try f finally spark.conf.unset(graft.ops.Materialize.BudgetConf)
  }
}
