package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.types.StructType

/** The driver budget, and every materialization that spends it.
  *
  * ONE BUDGET, IN BYTES. Size-adaptive operators collect a frame and
  * finish on the driver when it fits, and run distributed past it. Only
  * this object decides "fits": the budget is 1/20 of the driver heap
  * (≈100 MB at a 2 GB driver), or the session conf
  * `graft.driverBudgetBytes` when set. A schema's row cap is the budget
  * over an estimated row size — the schema's `defaultSize` plus a fixed
  * per-row object overhead — so a collect under the cap stays inside the
  * budget whatever the row width. Budget 0 sends every caller down its
  * distributed branch (how the parity specs pin both branches).
  *
  * Why collect at all: collecting a small result to the driver and
  * rebuilding a local relation costs one pass, keeps the frame immune to
  * executor loss (the rows ARE the data), and leaves the CacheManager
  * empty.
  *
  * ONE WAY TO CUT LINEAGE TO STORAGE. A frame that must outlive a
  * call-scoped cache, or a loop whose plan would otherwise grow every
  * round, is pinned with [[pin]]: written to parquet under a spill root
  * ([[withSpillRoot]]) and read back with its own schema. Parquet, not an
  * RDD checkpoint: a checkpointed `LogicalRDD` reports unknown stats
  * (`Long.MaxValue`), which the planner multiplies through every join
  * above it, while a parquet `FileScan` carries the real file sizes.
  *
  * Lifecycle of a spill root: in flight while the owning call runs,
  * releasable once it returns ([[releaseSpills]] deletes it, and with it
  * the files behind every frame the call returned), and swept by one
  * shutdown hook at JVM exit. A loop may delete what it no longer reads
  * under its root as it advances.
  */
object Materialize {

  private[graft] val BudgetConf = "graft.driverBudgetBytes"

  private val DefaultBudgetBytes = Runtime.getRuntime.maxMemory / 20

  /** Driver bytes per collected row beyond the fields' own: object
    * header, boxed fields and the array slot. A (Long, Long) row counts
    * 48 bytes, two boxed longs plus the Tuple2.
    */
  private val RowOverheadBytes = 32L

  private[graft] def budgetBytes(spark: SparkSession): Long =
    spark.conf.getOption(BudgetConf).map(_.toLong)
      .getOrElse(DefaultBudgetBytes)

  private[graft] def rowBytes(schema: StructType): Long =
    schema.defaultSize + RowOverheadBytes

  /** Rows of `schema` the driver may hold. Clamped below `Int.MaxValue - 1`
    * because `limit()` cannot probe past it: a larger cap would let a
    * silently truncated probe pass the `length <= cap` test.
    */
  private[graft] def rowCap(spark: SparkSession, schema: StructType): Int =
    math.min(budgetBytes(spark) / rowBytes(schema), Int.MaxValue - 2L).toInt

  /** Probe-collect a typed frame for a size-adaptive driver fast path:
    * `Some(rows)` when it fits the row cap (the probe IS the collect —
    * `limit(cap+1)`, one scheduled job, no separate count), `None` past
    * it or at budget 0, where the caller takes its distributed branch.
    * Past the cap the single wasted pass costs what a `count()` probe
    * would have. `budgetDivisor` lets a caller whose local COMPUTE, not
    * its heap, grows faster than its input spend a fraction of the
    * budget.
    */
  def collectIfDriverSized[T](
      ds: Dataset[T], budgetDivisor: Int = 1): Option[Array[T]] = {
    val cap = rowCap(ds.sparkSession, ds.schema) / budgetDivisor
    if (cap <= 0) None
    else {
      val rows = ds.limit(cap + 1).collect()
      if (rows.length <= cap) Some(rows) else None
    }
  }

  /** Materialize a result frame whose plan hangs off call-scoped caches
    * (persisted frames the caller unpersists before returning): under
    * the budget it lands on the driver and comes back as a local frame
    * with the same schema; past it (a flooded corpus multiplying
    * candidate pairs) it SPILLS to the spill store and is read back with
    * `df`'s own schema (no footer-inference job) — distributed, lineage
    * severed, bounded only by storage. The spill
    * write re-executes the plan once, same as any storage-backed
    * materialization, and the flood case is the rare one.
    */
  def localOrSpill(df: DataFrame): DataFrame = {
    import scala.jdk.CollectionConverters._
    collectIfDriverSized(df) match {
      case Some(rows) =>
        df.sparkSession.createDataFrame(rows.toSeq.asJava, df.schema)
      case None => withSpillRoot(pin(df, _))
    }
  }

  /** Write `df` to parquet at `dir` (under a [[withSpillRoot]] root) and
    * return it read back with `df`'s own schema, so the read starts no
    * footer-inference job. The returned frame is a parquet scan: its
    * lineage ends at `dir`, and it lives as long as `dir` does.
    */
  private[graft] def pin(df: DataFrame, dir: String): DataFrame = {
    df.write.mode("overwrite").parquet(dir)
    df.sparkSession.read.schema(df.schema).parquet(dir)
  }

  // roots whose owning call has returned: their files back returned
  // frames until releaseSpills() or JVM exit
  private val releasable =
    new java.util.concurrent.ConcurrentLinkedQueue[String]()
  // roots of calls still EXECUTING: moved to `releasable` only when the
  // call exits, so releaseSpills() never deletes files a concurrent call
  // is still writing or reading
  private val inFlight =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private lazy val shutdownSweep: Unit = {
    sys.addShutdownHook {
      releasable.forEach(r => deleteRecursively(new java.io.File(r)))
      inFlight.forEach(r => deleteRecursively(new java.io.File(r)))
    }
    ()
  }

  private[graft] def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(); ()
  }

  /** Run `body` with a fresh spill root (a `graft_spill*` temp dir). The
    * root is in flight while `body` runs and becomes releasable when it
    * exits, on failure too (an aborted call's frames are never consumed).
    * `body` may delete what it no longer needs under the root; whatever
    * is left backs the frames it returns.
    */
  private[graft] def withSpillRoot[A](body: String => A): A = {
    shutdownSweep
    val root = java.nio.file.Files.createTempDirectory("graft_spill").toString
    inFlight.add(root)
    try body(root)
    finally { inFlight.remove(root); releasable.add(root); () }
  }

  /** Delete every spill root whose owning call has returned, NOW instead
    * of at JVM exit. Caller contract: no frame returned by an earlier
    * pinning call ([[localOrSpill]] past the budget, the distributed
    * [[graft.ext.Dedup.connectedComponents]],
    * [[graft.ext.Dedup.minHashPairsDistributed]]) may be consumed after this
    * — its backing files are gone (reads throw, they do not corrupt).
    * Calls in flight on other threads are safe: their roots are not
    * releasable until they exit.
    */
  def releaseSpills(): Unit = {
    var r = releasable.poll()
    while (r != null) { deleteRecursively(new java.io.File(r)); r = releasable.poll() }
  }
}
