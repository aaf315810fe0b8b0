package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Parquet readers for the driver-generated test tables (TESTDATA.md) and
  * the warehouse artifacts queries read by path.
  *
  * Schemas are fixed and carried by the parquet footers; we deliberately do
  * NOT re-declare them here so Catalyst's vectorized parquet reader can prune
  * columns straight from the file metadata. The footers stay the source of
  * truth, but they are read once per file listing, not once per query:
  * [[parquet]] infers a path's schema the first time it sees that path's
  * data files and hands the cached schema to every later read, so building
  * a query starts no Spark job. At cluster scale these would be catalog
  * tables (possibly bucketed); the `sfDir` parameter stands in for the
  * warehouse location.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** One entry per path: the data-file listing its footer schema was read
    * under, and that schema. A rewritten, rebuilt or compacted path lists
    * differently, so its next read infers again and replaces the entry.
    */
  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[String, (Seq[String], StructType)]()

  /** `spark.read.parquet(path)` with the footer schema supplied: inference
    * (one Spark job reading a footer) runs only when `path`'s data-file
    * listing differs from the one last seen for it. The listing is taken
    * BEFORE inference, so a file landing in between at worst costs one
    * more inference on the next read, never a stale schema.
    */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val listing = dataFiles(spark, path)
    val cached = schemas.get(path)
    val schema =
      if (cached != null && cached._1 == listing) cached._2
      else {
        val inferred = spark.read.parquet(path).schema
        schemas.put(path, (listing, inferred))
        inferred
      }
    spark.read.schema(schema).parquet(path)
  }

  /** "<len>|<mtime>|<absolute path>" per data file under `path` (the path
    * itself when it is a file), listed recursively, sorted; empty when
    * `path` does not exist. Marker and hidden files (`_SUCCESS`, `.crc`)
    * are skipped at every level: parquet readers ignore them, and Spark's
    * own append rewrites `_SUCCESS`.
    */
  private[graft] def dataFiles(spark: SparkSession, path: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val buf = scala.collection.mutable.ArrayBuffer.empty[String]
    if (fs.exists(p)) {
      val it = fs.listFiles(p, true)
      while (it.hasNext) {
        val s = it.next()
        val n = s.getPath.getName
        if (!n.startsWith("_") && !n.startsWith("."))
          buf += s"${s.getLen}|${s.getModificationTime}|${s.getPath.toString}"
      }
    }
    buf.sorted.toSeq
  }

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    parquet(spark, s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame     = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = table(s, d, "lineitem")
  /** `events.ts` has shipped as parquet TIMESTAMP(NANOS) in some fixture
    * generations, which Spark's TimestampType (micros) cannot represent
    * natively — with `spark.sql.legacy.parquet.nanosAsLong=true` (set in
    * every session builder) it arrives as a LongType of ns since epoch and
    * is converted here (exact: the generator's values are µs-grained).
    * Current fixtures write TIMESTAMP(MICROS) without the UTC flag, which
    * passes through as TIMESTAMP_NTZ — downstream session/range ops use
    * NTZ-safe arithmetic (interval comparison, TIMESTAMP-intermediate
    * casts) so both generations work. At cluster scale this is the
    * standard ingestion shape: normalize once at the scan boundary.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Exact row count from parquet footers — a driver-only metadata read, no
    * Spark job. For size GUARDS (e.g. refusing an n² plan above a cap) this
    * replaces a full `count()` action: at 100 TB a count() schedules a
    * cluster-wide scan just to validate a precondition, while footers are a
    * few KB per file. Not for query results — footer counts ignore any
    * filters.
    */
  def parquetRowCount(spark: SparkSession, sfDir: String, name: String): Long = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(s"$sfDir/$name.parquet")
    val fs = root.getFileSystem(conf)
    val files: Seq[Path] =
      if (fs.getFileStatus(root).isDirectory)
        fs.listStatus(root).toSeq
          .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
          .map(_.getPath)
      else Seq(root)
    files.map { p =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
      try reader.getRecordCount finally reader.close()
    }.sum
  }
}
