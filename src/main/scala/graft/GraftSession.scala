package graft

import org.apache.spark.sql.SparkSession

/** The blessed session configuration for this library — one place for the
  * settings every entry point (Verify/Bench/Explain, library users) must
  * share:
  *
  *   - `shuffle.partitions` sized to the executor count (the harness runs
  *     local[$cpus]; a cluster deployment sets this to its reducer budget
  *     instead of Spark's default 200),
  *   - UTC session timezone (timestamp determinism vs the DuckDB oracle),
  *   - ICU case mappings OFF: the first `lower()` otherwise pays an ~80s
  *     one-time CollationAwareUTF8String static init in this environment,
  *   - nanos-as-long parquet reads (the `events.ts` column is
  *     TIMESTAMP(NANOS); see graft.io.Tables.events for the conversion).
  *
  * AQE (adaptive execution) and parquet filter pushdown are Spark defaults
  * and intentionally not overridden.
  */
object GraftSession {
  def build(master: String, shufflePartitions: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.icu.caseMappings.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Janino class cache (static conf, default 100 entries): a session
      // serving the whole ~200-query registry generates far more than 100
      // distinct codegen units per pass, so at the default every
      // driver-report loop recompiles what the previous pass evicted —
      // measured as ~0.1 s/query of pure compile churn in the bench's
      // isolated-vs-registry gap. 4096 entries keeps every unit of a full
      // registry sweep resident (compiled classes are small; the cache is
      // weak-ref'd) and makes repeat passes compile-free.
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      // ContextCleaner reads this at context startup: checkpoint files of
      // GC'd RDDs are deleted instead of accumulating per clustering call
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .getOrCreate()
    // Reliable-checkpoint root for distributed frames whose lineage must
    // be severed off a call-scoped aggregation (the heavy-dup pair lists
    // and signatures in graft.ext.Dedup, the term counts in
    // graft.ext.TextStats; connectedComponents pins its rounds to parquet
    // in the graft.ops.Materialize spill store instead).
    // Local mode: a tmp dir. Cluster deployment: point this at shared
    // storage (HDFS/S3) so checkpointed blocks survive executor loss —
    // unlike localCheckpoint, which pins them to unreplicated executors.
    if (spark.sparkContext.getCheckpointDir.isEmpty) {
      val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-")
      spark.sparkContext.setCheckpointDir(dir.toString)
      // the ContextCleaner (enabled above) removes per-RDD checkpoints as
      // they are GC'd; the temp ROOT itself is swept at exit
      sys.addShutdownHook(graft.ops.Materialize.deleteRecursively(dir.toFile))
    }
    spark
  }

  /** Harness form: local[cpus] with one shuffle partition per core. */
  def local(cpus: Int): SparkSession = build(s"local[$cpus]", cpus)
}
