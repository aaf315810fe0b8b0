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
  * and intentionally not overridden. No checkpoint dir is set: the library
  * cuts lineage only with [[graft.ops.Materialize.pin]]'s parquet spill.
  */
object GraftSession {
  def build(master: String, shufflePartitions: Int): SparkSession =
    SparkSession.builder()
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
      .getOrCreate()

  /** Harness form: local[cpus] with one shuffle partition per core. */
  def local(cpus: Int): SparkSession = build(s"local[$cpus]", cpus)
}
