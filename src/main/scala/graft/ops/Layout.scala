package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Storage-layout writers for scale (SURVEY §4: the parquet-side analogs of
  * the reference's physical indexes).
  *
  *   - Partitioned layout (status/date dirs) → partition pruning; covered
  *     by LayoutSpec's partitionBy test.
  *   - Bucketed layout → co-located joins: two tables bucketed (and
  *     sorted) on their join key with the same bucket count join with NO
  *     shuffle exchange and no sort — at 100 TB this turns every repeated
  *     fact-fact join on the bucket key (orders⋈lineitem style) into a
  *     zip of pre-shuffled files. Bucket count is fixed at write time:
  *     choose it for the TARGET cluster's reducer count, not today's.
  */
object Layout {

  /** Everything an [[Append]] delta kernel may consult: the committed
    * artifact content as built from `priorFiles`, plus the source files
    * that appeared since. `addedFiles` is the only corpus data the kernel
    * should re-process; `priorFiles` is there for the rare kernels whose
    * delta spans old×new (pair generation within a key).
    *
    * For a multi-generation predecessor, `oldArtifact` is served through
    * the kernel's `merge`: a kernel reading it sees committed per-key
    * values, never the raw per-generation partials.
    *
    * `addedFiles`/`priorFiles` are LEAF data-file paths. A
    * Hive-partitioned (key=value subdir) source still invalidates
    * correctly (the census lists recursively), but a kernel reading leaf
    * files with `spark.read.parquet` loses the directory-encoded
    * partition columns — such sources must either carry the partition
    * value as a real column or register without an append kernel (full
    * rebuild per census change, correct by construction). Every shipped
    * source is a flat file directory.
    */
  final case class RefreshCtx(
      oldArtifact: DataFrame,
      addedFiles: Seq[String],
      priorFiles: Seq[String])

  /** The append form of [[ensureDerived]]: `delta` returns only the
    * epoch's contribution, and `merge` collapses generations at read.
    * Per-row artifacts (signatures, postings, projected fact copies)
    * append strictly new rows and keep the default identity merge;
    * mergeable artifacts (`copurch_edges` weight sums, `name_census`
    * min/count) return rows that may repeat committed keys, and their
    * `merge` is the algebraic collapse (groupBy key + sum/min — over a
    * bucket-keyed scan, exchange-free).
    */
  final case class Append(
      delta: RefreshCtx => DataFrame,
      merge: DataFrame => DataFrame = Append.Unmerged)

  object Append {
    /** The default merge: appended rows never repeat a committed key, so
      * the served table needs no collapse (and the warm path reads no
      * generation marker).
      */
    val Unmerged: DataFrame => DataFrame = identity
  }

  /** Generations an appended artifact may hold before the next append
    * compacts it. Bounds both the read-side row inflation of a merging
    * artifact and the file count (≤ `buckets` files per generation); the
    * rewrite cost is paid 1 epoch in `MaxGenerations`.
    */
  val MaxGenerations = 8

  /** Control signal an [[Append]] delta kernel throws when the append
    * cannot be expressed as a delta generation (the MaxBasket
    * cap-crossing case, an invalidated frozen model) — [[ensureDerived]]
    * falls back to the full `build` for that epoch.
    */
  final class FullRebuild extends RuntimeException(
    "generational delta inexpressible; full rebuild requested")

  /** Marker file carrying an appended artifact's generation count;
    * absent ⇒ 1 (a fresh build or a compaction). Written into the tmp
    * dir before the atomic publish, like [[CensusFile]].
    */
  private val GenFile = "_graft_gen"

  /** Name of the census marker a committed artifact dir carries. Written
    * LAST (into the tmp dir, before the atomic publish rename), so its
    * presence + content is the commit point a later session trusts.
    */
  private val CensusFile = "_graft_census"

  /** Build-cost instrumentation for the bench: wall-clock nanos spent
    * inside artifact builds/refreshes this JVM, and how many ran. A
    * bench run reads these to separate "query time" from "one-time
    * materialization time" — a warm warehouse reports 0 builds, keeping
    * the headline honest about what it measured.
    */
  val buildNanos = new java.util.concurrent.atomic.AtomicLong(0L)
  val buildCount = new java.util.concurrent.atomic.AtomicInteger(0)
  val refreshCount = new java.util.concurrent.atomic.AtomicInteger(0)
  def resetBuildStats(): Unit = {
    buildNanos.set(0L); buildCount.set(0); refreshCount.set(0)
  }

  /** Per-(family, dir) monitors so two threads of one JVM ensuring the same
    * artifact serialize instead of double-building; cross-PROCESS safety
    * comes from the tmp-dir + atomic-rename commit (the loser of a rename
    * race adopts the winner's committed copy). Keyed on family+dirTag, NOT
    * the census-hashed table name: every refresh cycle mints a new census
    * hash, and a long-lived service appending shards would otherwise leak
    * one permanent map entry per refresh. The coarser key is also the
    * CORRECT serialization domain — two censuses of one family+dir are
    * successive generations of the same artifact and must not build
    * concurrently (the refresh predecessor scan reads the sibling dirs).
    */
  private val ensureLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Write `df` as a bucketed+sorted catalog table on `key`. Joins between
    * tables written with the same (key domain, buckets) are exchange-free.
    *
    * The writer is pre-shuffled onto the bucket key first: without it,
    * every upstream task writes its own file per bucket (tasks × buckets
    * small files — measured 513 for the co-purchase artifact, and ~0.5 s
    * of extra open/list cost on every later scan); aligned, each bucket
    * is one file. The one-time build pays one extra exchange; every
    * consumer scan is cheaper forever. Bucket count is the lever if the
    * per-bucket file outgrows comfortable task sizes at cluster scale.
    */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int = 32): Unit =
    df.repartition(buckets, col(key))
      .write
      .bucketBy(buckets, key)
      .sortBy(key)
      .mode("overwrite")
      .format("parquet")
      .saveAsTable(table)

  /** Session-cached DERIVED TABLE per (sfDir, sources, buckets): ensure a
    * bucketed+sorted catalog table named `graft_<family>_<tag>` exists —
    * building it with `build` on first use — and return it. The tag covers
    * the source dir, the bucket count, the recipe `version` and the source
    * files' (name, length, mtime) census, so a regenerated fixture, a
    * changed `buckets` or a bumped `version` (bump it whenever a family's
    * build logic or output schema changes) never silently reuses a stale
    * copy; stale tags of the same family are GC'd ([[dropStaleDerived]]).
    * A pipeline family that re-derives the same expensive aggregate
    * materializes it ONCE per sfDir, and every caller — and every later
    * session over the same warehouse — rejoins it exchange-free on the
    * bucket key.
    *
    * `append` keeps the artifact current when the census changed ONLY by
    * new files appearing (every previously-seen file identical) and a
    * committed predecessor exists: `delta` receives the [[RefreshCtx]]
    * and returns just the new generation's rows. The commit hardlinks the
    * predecessor's data files forward (byte-copied where links are
    * unavailable), writes the delta as additional bucket files and
    * publishes atomically — O(delta + #files) per epoch, the committed
    * rows never rewritten. Bucket ids live in file names, so bucketed
    * (exchange-free) reads hold across generations. Every append writes
    * the generation marker; once it reaches [[MaxGenerations]] the next
    * append COMPACTS instead: one rewrite of `merge(old ∪ delta)`, which
    * resets the generation to 1. A multi-generation artifact is served
    * through `merge`. A kernel that throws [[FullRebuild]] — eagerly or
    * from inside the commit's action, wrapped in Spark's exception chain
    * — gets the full `build` for that epoch instead.
    *
    * Any other census change (file rewritten or removed, version bump, no
    * committed predecessor, no `append`) runs the full `build`: which
    * derived rows came from a removed file is unknowable without its
    * bytes. Every path commits the same way — bucketed write to a tmp
    * dir, census marker, one atomic rename — so a crash leaves either the
    * old committed artifact or the new one, and a concurrent loser adopts
    * the winner's copy.
    */
  def ensureDerived(
      spark: SparkSession, sfDir: String, family: String,
      sources: Seq[String], key: String, buckets: Int = 32,
      version: Int = 1, append: Option[Append] = None)
      (build: => DataFrame): DataFrame = {
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val entries = censusEntries(spark, sfDir, sources)
    val censusStr = (s"v=$version" +: entries).mkString("\n")
    // two-segment tag: <dir identity>_<source census>. GC is scoped to
    // the SAME dir segment, so a session serving several sfDirs (base +
    // stress replicas, multiple fixtures) keeps one live artifact per
    // dir instead of destroying A's copy every time B is ensured
    val dirTag = hex(s"$sfDir#$buckets")
    val table = s"graft_${family}_${dirTag}_${hex(censusStr)}"
    val whRoot = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"))
    val wh = new org.apache.hadoop.fs.Path(whRoot, table.toLowerCase)
    val fs = wh.getFileSystem(hadoopConf)
    ensureLocks.computeIfAbsent(s"${family}_$dirTag", _ => new Object).synchronized {
      if (!spark.catalog.tableExists(table)) {
        // the in-memory catalog dies with the session but the warehouse
        // directory survives. A COMPLETE surviving dir (current tag,
        // _SUCCESS marker, at least one data file, census marker matching
        // — an empty or partially-written dir is NOT reusable) is the
        // artifact itself — re-REGISTER it as an external bucketed table
        // instead of rebuilding: bucket ids live in the file names, so
        // bucketed (exchange-free) reads apply to the re-registered copy
        // exactly as to the original.
        if (isCommitted(fs, wh, censusStr))
          registerExternal(spark, table, wh,
            graft.io.Tables.parquet(spark, wh.toString).schema.toDDL, key, buckets)
        else {
          if (fs.exists(wh)) fs.delete(wh, true)
          val predecessor = append.flatMap(a =>
            findRefreshPredecessor(fs, whRoot, family, dirTag, wh.getName,
              version, entries).map(a -> _))
          val t0 = System.nanoTime()
          // also the FullRebuild fallback: counted as a build so harnesses
          // can assert an append genuinely took the delta path
          def fullBuild(): String = {
            buildCount.incrementAndGet()
            val content = build
            commitBuild(spark, fs, table, wh, key, buckets, censusStr,
              content)
            content.schema.toDDL
          }
          val schemaDDL: String = predecessor match {
            case Some((a, (oldDir, priorEntries))) =>
              refreshCount.incrementAndGet()
              val pathOf = (e: String) => e.split("\\|", 3)(2)
              val gen =
                readText(fs, new org.apache.hadoop.fs.Path(oldDir, GenFile))
                  .flatMap(_.trim.toIntOption).getOrElse(1)
              val rawOld = spark.read.parquet(oldDir.toString)
              // lazy: the merge costs nothing unless the kernel reads it
              val ctx = RefreshCtx(if (gen > 1) a.merge(rawOld) else rawOld,
                entries.filterNot(priorEntries.toSet).map(pathOf),
                priorEntries.map(pathOf))
              // the delta kernel runs (and performs its eager
              // expressibility checks) BEFORE any write is chosen
              try {
                val delta = a.delta(ctx)
                if (gen < MaxGenerations) {
                  commitAppend(spark, fs, table, wh, key, buckets,
                    censusStr, oldDir, rawOld.schema, delta, gen + 1)
                  rawOld.schema.toDDL
                } else {
                  val content = a.merge(ctx.oldArtifact.unionByName(delta))
                  commitBuild(spark, fs, table, wh, key, buckets,
                    censusStr, content)
                  content.schema.toDDL
                }
              } catch {
                // the commit helpers have already cleaned their tmp dir
                case t: Throwable if causedByFullRebuild(t) => fullBuild()
              }
            case None =>
              fullBuild()
          }
          buildNanos.addAndGet(System.nanoTime() - t0)
          registerExternal(spark, table, wh, schemaDDL, key, buckets)
        }
        // GC LAST — a stale sibling may have just served as the refresh
        // predecessor, so it must survive until the new copy is
        // committed — and only HERE, on the mint/re-register path: a
        // stale sibling can only exist when a new tag was just created
        // (census change) or a surviving dir was re-registered, so the
        // warm serve path must not pay a full catalog enumeration plus
        // a warehouse listing per consumer query
        dropStaleDerived(spark, family, dirTag, table)
      }
      // a MULTI-generation artifact is served through its merge; a single
      // generation (fresh build, compaction) has unique keys already, and
      // skipping the merge keeps a consumer scan free of a full-artifact
      // hash-agg it doesn't need (tier J measured the always-merge form
      // costing every edge consumer 2-3× at 240M rows). An unmerged
      // artifact never reads the marker.
      append match {
        case Some(a) if (a.merge ne Append.Unmerged) &&
            isMultiGeneration(fs, wh, s"${family}_$dirTag", table) =>
          a.merge(spark.table(table))
        case _ => spark.table(table)
      }
    }
  }

  /** Cached multi-generation flag per (family, dir): whether the served
    * artifact carries a [[GenFile]] marker (>1 generation → consumers
    * must merge). The marker for a given committed table name never
    * changes — an append publishes a NEW census-hashed name — so one FS
    * metadata read per generation suffices instead of one per consumer
    * query. Keyed like [[ensureLocks]] (family+dirTag, one entry per live
    * artifact, not one per retired census) and validated against the
    * current table name.
    */
  private val genFlags =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Boolean)]()
  private def isMultiGeneration(
      fs: org.apache.hadoop.fs.FileSystem, wh: org.apache.hadoop.fs.Path,
      lockKey: String, table: String): Boolean = {
    val cached = genFlags.get(lockKey)
    if (cached != null && cached._1 == table) cached._2
    else {
      val flag =
        readText(fs, new org.apache.hadoop.fs.Path(wh, GenFile)).isDefined
      genFlags.put(lockKey, (table, flag))
      flag
    }
  }

  /** Source census for artifact invalidation: the [[graft.io.Tables.dataFiles]]
    * listing of every source — one "<len>|<mtime>|<absolute path>" entry
    * per DATA file (path LAST: it may itself contain the separator in a
    * URI scheme), recursive so partitioned (key=value subdir) layouts
    * still invalidate on nested changes, marker/hidden files excluded so
    * Spark's own `.mode("append")` rewrite of `_SUCCESS` does not turn
    * every real shard append into a non-append delta.
    */
  private def censusEntries(
      spark: SparkSession, sfDir: String, sources: Seq[String]): Seq[String] =
    sources.flatMap(t => graft.io.Tables.dataFiles(spark,
      new org.apache.hadoop.fs.Path(sfDir, t).toString)).sorted

  /** True when `t` is, or is caused (transitively) by, a [[FullRebuild]]
    * — a deferred expressibility check surfaces wrapped in Spark's
    * action-exception chain rather than as the raw control signal.
    */
  private def causedByFullRebuild(t: Throwable): Boolean = {
    var cur = t
    var depth = 0
    while (cur != null && depth < 16) {
      if (cur.isInstanceOf[FullRebuild]) return true
      cur = if (cur.getCause eq cur) null else cur.getCause
      depth += 1
    }
    false
  }

  private def hex(s: String): String = java.lang.Long.toHexString(
    java.util.UUID.nameUUIDFromBytes(s.getBytes("UTF-8"))
      .getMostSignificantBits & Long.MaxValue)

  /** A dir is a trustworthy artifact copy iff the job committed
    * (_SUCCESS), at least one parquet data file exists (schema inference
    * on a dir holding only markers throws forever — an empty build result
    * is rebuilt per session instead), and the census marker matches
    * `censusStr` exactly (same sources, same recipe version).
    */
  private def isCommitted(
      fs: org.apache.hadoop.fs.FileSystem, wh: org.apache.hadoop.fs.Path,
      censusStr: String): Boolean =
    fs.exists(wh) &&
      fs.exists(new org.apache.hadoop.fs.Path(wh, "_SUCCESS")) &&
      fs.listStatus(wh).exists(s =>
        s.isFile && s.getPath.getName.endsWith(".parquet")) &&
      readText(fs, new org.apache.hadoop.fs.Path(wh, CensusFile))
        .contains(censusStr)

  /** Find a committed SIBLING artifact of the same family+dirTag whose
    * census is an append-only strict subset of the current one: same
    * recipe version, every prior file entry still present bit-identical
    * (name, length, mtime), at least one new file. Returns the sibling's
    * dir and its census entries. Picks the most-covered candidate if a
    * crash ever left several.
    */
  private def findRefreshPredecessor(
      fs: org.apache.hadoop.fs.FileSystem,
      whRoot: org.apache.hadoop.fs.Path,
      family: String, dirTag: String, selfName: String,
      version: Int, entries: Seq[String])
      : Option[(org.apache.hadoop.fs.Path, Seq[String])] = {
    val prefix = s"graft_${family}_${dirTag}_".toLowerCase
    if (!fs.exists(whRoot)) return None
    val current = entries.toSet
    fs.listStatus(whRoot).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(prefix) &&
        s.getPath.getName != selfName)
      .flatMap { s =>
        val dir = s.getPath
        readText(fs, new org.apache.hadoop.fs.Path(dir, CensusFile))
          .map(_.split("\n").toSeq).collect {
            case lines if lines.headOption.contains(s"v=$version") &&
              fs.exists(new org.apache.hadoop.fs.Path(dir, "_SUCCESS")) &&
              fs.listStatus(dir).exists(f =>
                f.isFile && f.getPath.getName.endsWith(".parquet")) &&
              lines.tail.forall(current.contains) &&
              lines.tail.size < entries.size =>
              (dir, lines.tail)
          }
      }
      .sortBy(-_._2.size)
      .headOption
  }

  /** Commit `content` as the artifact at `wh`: bucketed external write to
    * a uniquely-named tmp dir beside it, census marker into the tmp copy,
    * then ONE atomic rename onto the final name. A rename loser re-checks
    * the destination — if a concurrent writer committed the identical
    * census, its copy is adopted and the tmp dropped.
    */
  private def commitBuild(
      spark: SparkSession, fs: org.apache.hadoop.fs.FileSystem,
      table: String, wh: org.apache.hadoop.fs.Path,
      key: String, buckets: Int, censusStr: String,
      content: DataFrame): Unit = {
    val suffix = java.util.UUID.randomUUID().toString.replace("-", "").take(10)
    val tmpTable = s"${table}__b$suffix"
    val tmpDir = new org.apache.hadoop.fs.Path(wh.getParent, tmpTable.toLowerCase)
    // a failed write (incl. a deferred FullRebuild surfacing in the
    // action) must not orphan the tmp dir or the tmp catalog entry
    try {
      content.repartition(buckets, col(key))
        .write.bucketBy(buckets, key).sortBy(key)
        .mode("overwrite").format("parquet")
        .option("path", tmpDir.toString)
        .saveAsTable(tmpTable)
    } catch {
      case t: Throwable =>
        spark.sql(s"DROP TABLE IF EXISTS `$tmpTable`")
        fs.delete(tmpDir, true)
        throw t
    }
    spark.sql(s"DROP TABLE IF EXISTS `$tmpTable`") // external: files survive
    publishTmp(fs, table, wh, tmpDir, censusStr)
  }

  /** Commit generation `generation` of an appended artifact at `wh`
    * without rewriting the committed rows: the predecessor's parquet
    * data files are HARDLINKED into a tmp dir (O(#files) on a local fs;
    * byte-copied where links are unavailable — still shuffle/encode-free),
    * the delta lands as additional bucket files through a real bucketed
    * INSERT (bucket ids in the file names, so exchange-free reads hold),
    * then the same census-marker + atomic-rename publish as
    * [[commitBuild]]. The predecessor dir is untouched until the stale
    * GC sweeps it — and hardlinked data outlives that delete through the
    * new generation's links.
    */
  private def commitAppend(
      spark: SparkSession, fs: org.apache.hadoop.fs.FileSystem,
      table: String, wh: org.apache.hadoop.fs.Path,
      key: String, buckets: Int, censusStr: String,
      oldDir: org.apache.hadoop.fs.Path,
      schema: org.apache.spark.sql.types.StructType,
      delta: DataFrame, generation: Int): Unit = {
    val suffix = java.util.UUID.randomUUID().toString.replace("-", "").take(10)
    val tmpTable = s"${table}__a$suffix"
    val tmpDir = new org.apache.hadoop.fs.Path(wh.getParent, tmpTable.toLowerCase)
    try {
    fs.mkdirs(tmpDir)
    writeText(fs, new org.apache.hadoop.fs.Path(tmpDir, GenFile),
      generation.toString)
    fs.listStatus(oldDir)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .foreach { s =>
        linkOrCopy(fs, s.getPath,
          new org.apache.hadoop.fs.Path(tmpDir, s.getPath.getName))
      }
    spark.sql(s"DROP TABLE IF EXISTS `$tmpTable`")
    spark.sql(
      s"CREATE TABLE `$tmpTable` (${schema.toDDL}) USING PARQUET " +
        s"CLUSTERED BY (`$key`) SORTED BY (`$key`) INTO $buckets BUCKETS " +
        s"LOCATION '$tmpDir'")
    // positional INSERT: align the delta to the table's column order,
    // PRE-SHUFFLED onto the bucket key — the same writer alignment as
    // [[writeBucketed]], without which every upstream task writes its
    // own file per bucket (tasks × buckets files from ONE epoch —
    // measured 1056 on tier K's first cut — taxing every later scan);
    // aligned, one epoch adds at most `buckets` files, the premise of the
    // [[MaxGenerations]] file bound
    val view = s"${tmpTable}__delta"
    delta.select(schema.fieldNames.map(col).toSeq: _*)
      .repartition(buckets, col(key))
      .createOrReplaceTempView(view)
    try spark.sql(s"INSERT INTO `$tmpTable` SELECT * FROM `$view`")
    finally {
      spark.catalog.dropTempView(view)
      spark.sql(s"DROP TABLE IF EXISTS `$tmpTable`") // external: files survive
    }
    publishTmp(fs, table, wh, tmpDir, censusStr)
    } catch {
      // a failed link/create/INSERT (incl. a deferred FullRebuild
      // surfacing inside the INSERT action) must not orphan the
      // half-written tmp dir OR a catalog entry pointing at it — the
      // caller may fall back to a full build
      case t: Throwable =>
        spark.sql(s"DROP TABLE IF EXISTS `$tmpTable`")
        fs.delete(tmpDir, true)
        throw t
    }
  }

  /** Hardlink `src` to `dst` when both live on a local fs; fall back to
    * a byte copy (object stores, HDFS without links).
    */
  private def linkOrCopy(
      fs: org.apache.hadoop.fs.FileSystem,
      src: org.apache.hadoop.fs.Path,
      dst: org.apache.hadoop.fs.Path): Unit = {
    val scheme = Option(fs.getUri.getScheme).getOrElse("file")
    if (scheme == "file") {
      try {
        java.nio.file.Files.createLink(
          java.nio.file.Paths.get(fs.makeQualified(dst).toUri.getPath),
          java.nio.file.Paths.get(fs.makeQualified(src).toUri.getPath))
        return
      } catch { case _: Exception => () } // cross-device etc. → copy
    }
    org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, dst, false, fs.getConf)
    ()
  }

  /** The shared commit point: census marker into the tmp copy, then ONE
    * atomic rename onto the final name; a rename loser re-checks the
    * destination and adopts a concurrent winner's identical-census copy.
    */
  private def publishTmp(
      fs: org.apache.hadoop.fs.FileSystem, table: String,
      wh: org.apache.hadoop.fs.Path, tmpDir: org.apache.hadoop.fs.Path,
      censusStr: String): Unit = {
    writeText(fs, new org.apache.hadoop.fs.Path(tmpDir, CensusFile), censusStr)
    def adoptWinner(): Boolean =
      if (isCommitted(fs, wh, censusStr)) { fs.delete(tmpDir, true); true }
      else false
    if (!fs.exists(wh) && fs.rename(tmpDir, wh)) ()
    else if (!adoptWinner()) {
      if (fs.exists(wh)) fs.delete(wh, true) // partial loser leftover
      if (!fs.rename(tmpDir, wh) && !adoptWinner())
        throw new IllegalStateException(
          s"ensureDerived($table): could not publish $tmpDir to $wh")
    }
  }

  private def registerExternal(
      spark: SparkSession, table: String, wh: org.apache.hadoop.fs.Path,
      schemaDDL: String, key: String, buckets: Int): Unit =
    if (!spark.catalog.tableExists(table))
      spark.sql(
        s"CREATE TABLE `$table` ($schemaDDL) USING PARQUET " +
          s"CLUSTERED BY (`$key`) SORTED BY (`$key`) INTO $buckets BUCKETS " +
          s"LOCATION '$wh'")

  private def readText(
      fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Option[String] =
    // a vanished/unreadable marker (concurrent GC won the race) must read
    // as "no census" — the caller then rebuilds, which is always safe
    try {
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        try {
          val baos = new java.io.ByteArrayOutputStream()
          val buf = new Array[Byte](8192)
          var n = in.read(buf)
          while (n > 0) { baos.write(buf, 0, n); n = in.read(buf) }
          Some(new String(baos.toByteArray, "UTF-8"))
        } finally in.close()
      }
    } catch { case _: java.io.IOException => None }

  private def writeText(
      fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path, s: String): Unit = {
    val out = fs.create(p, true)
    try out.write(s.getBytes("UTF-8"))
    finally out.close()
  }

  /** Append DELTA for a pure projection artifact: only the added files'
    * rows, projected (committed rows are hardlinked, never rewritten).
    */
  private def projectDelta(
      spark: SparkSession, cols: Seq[String]): RefreshCtx => DataFrame =
    ctx => spark.read.parquet(ctx.addedFiles: _*).select(cols.map(col): _*)

  /** The warehouse's CO-BUCKETED FACT LAYOUT on the order key — orders
    * and lineitem written once per sfDir as order-key-bucketed derived
    * tables carrying every column the big-big warehouse joins consume
    * (`shipping_priority`, `local_supplier_volume`, `supplier_scorecard`,
    * `returned_item_loss`). With both sides pre-shuffled into matching
    * buckets the lineitem⋈orders join — THE dominant fact⋈fact shuffle
    * of the whole TPC-H family, both facts at 100 TB — needs no
    * exchange (plan-guarded in SkewAndLayoutSpec); per-call predicates
    * (date windows, returnflag) still push into the bucketed parquet
    * scan, and column pruning keeps narrow consumers narrow. Refresh is
    * the trivial projection-append.
    */
  private[graft] def ordersByOrderkey(
      spark: SparkSession, sfDir: String): DataFrame = {
    val cols = Seq("o_orderkey", "o_custkey", "o_orderdate",
      "o_orderpriority", "o_totalprice")
    ensureDerived(spark, sfDir, "orders_okey", Seq("orders.parquet"),
      "o_orderkey", version = 2,
      append = Some(Append(projectDelta(spark, cols)))) {
      graft.io.Tables.orders(spark, sfDir).select(cols.map(col): _*)
    }
  }

  /** Lineitem side of the co-bucketed fact layout (scaladoc above).
    * `version` bumps whenever the column set widens — the census tag
    * alone cannot see a schema change.
    */
  private[graft] def lineitemByOrderkey(
      spark: SparkSession, sfDir: String): DataFrame = {
    val cols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
      "l_returnflag", "l_shipdate", "l_extendedprice", "l_discount")
    ensureDerived(spark, sfDir, "lineitem_okey", Seq("lineitem.parquet"),
      "l_orderkey", version = 2,
      append = Some(Append(projectDelta(spark, cols)))) {
      graft.io.Tables.lineitem(spark, sfDir).select(cols.map(col): _*)
    }
  }

  /** The bucketed-layout join as a registered query: orders and lineitem
    * written bucketed+sorted on the order key (once per sfDir — reused
    * across calls in a session), then joined and aggregated per order.
    * With both sides pre-shuffled into matching buckets the join needs NO
    * exchange, and the per-key aggregation rides the same distribution —
    * at 100 TB this removes the dominant fact⋈fact shuffle entirely
    * (asserted in LayoutSpec's no-Exchange plan guard). Aggregates are
    * order-independent (count/max) so the result is oracle-exact.
    */
  def bucketedOrderItems(spark: SparkSession, sfDir: String, buckets: Int = 32): DataFrame = {
    val ordersBkt = ensureDerived(spark, sfDir, "orders_bkt",
      Seq("orders.parquet"), "o_orderkey", buckets,
      append = Some(Append(
        projectDelta(spark, Seq("o_orderkey", "o_orderstatus"))))) {
      graft.io.Tables.orders(spark, sfDir)
        .select("o_orderkey", "o_orderstatus")
    }
    val itemsBkt = ensureDerived(spark, sfDir, "lineitem_bkt",
      Seq("lineitem.parquet"), "l_orderkey", buckets,
      append = Some(Append(
        projectDelta(spark, Seq("l_orderkey", "l_extendedprice"))))) {
      graft.io.Tables.lineitem(spark, sfDir)
        .select("l_orderkey", "l_extendedprice")
    }
    itemsBkt
      .join(ordersBkt, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderkey"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n_items"), max(col("l_extendedprice")).as("max_item_price"))
      .orderBy(col("o_orderkey").asc)
      .limit(100)
  }

  /** GC for [[ensureDerived]]' tagged copies: every fixture regeneration
    * or `buckets` change mints a NEW tag, and without a sweep the older
    * `graft_<family>_<tag>` tables (plus their warehouse dirs, which
    * outlive the in-memory catalog across sessions) accumulate unboundedly.
    * Drops every table/dir of THIS family whose tag differs from the one
    * about to be used.
    */
  private def dropStaleDerived(
      spark: SparkSession, family: String, dirTag: String,
      keepName: String): Unit = {
    val prefix = s"graft_${family}_"
    def stale(name: String): Boolean = {
      if (!name.startsWith(prefix)) return false
      val rest = name.stripPrefix(prefix)
      // pre-two-segment names (no dir segment) are always stale; current
      // format is swept only within the SAME dir segment, by full-name
      // equality (a suffix match would spare tag '9123' for keep '123')
      if (!rest.contains("_")) true
      else rest.startsWith(s"${dirTag}_") && name != keepName
    }
    // name-only listing: spark.catalog.listTables() RESOLVES every
    // table's metadata (~tens of ms each — measured >2 s per mint in a
    // warehouse carrying hundreds of artifact tables, which every stale
    // serve and refresh epoch then paid); the session catalog's
    // identifier listing is O(names). CURRENT database, not a hardcoded
    // "default": registerExternal creates unqualified tables there, and
    // sweeping the dirs of tables the listing missed would leave
    // dangling catalog entries (review r13)
    spark.sessionState.catalog
      .listTables(spark.sessionState.catalog.getCurrentDatabase)
      .map(_.table).filter(stale)
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    // dirs from PRIOR sessions have no catalog entry — sweep the warehouse
    val whRoot = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"))
    val fs = whRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(whRoot))
      fs.listStatus(whRoot).foreach { st =>
        if (st.isDirectory && stale(st.getPath.getName))
          fs.delete(st.getPath, true)
      }
  }

  /** Morton (Z-order) interleave of two pre-quantized dimensions: bit j of
    * `x` lands at bit 2j, bit j of `y` at 2j+1. Inputs must already be in
    * [0, 2^bits); see [[quantize]]. Pure shift/mask arithmetic — codegen'd,
    * no UDF.
    */
  def zvalue(x: Column, y: Column, bits: Int = 16): Column = {
    // 2·bits interleaved bits must fit the non-sign Long range — at
    // bits = 32 the top y-bit would land on bit 63 and flip the sign,
    // silently scrambling the range-partition order
    require(bits >= 1 && bits <= 31, s"zvalue bits must be in [1, 31], got $bits")
    (0 until bits).map { j =>
      shiftleft(shiftright(x, j).bitwiseAND(lit(1L)), 2 * j) +
        shiftleft(shiftright(y, j).bitwiseAND(lit(1L)), 2 * j + 1)
    }.reduce(_ + _)
  }

  /** Linear quantization of a numeric column onto [0, 2^bits) given its
    * [lo, hi] domain (from table stats — one cheap agg pass at write time).
    */
  def quantize(c: Column, lo: Double, hi: Double, bits: Int = 16): Column = {
    val span = math.max(hi - lo, Double.MinPositiveValue)
    val buckets = (1L << bits) - 1
    least(greatest(
      floor((c.cast("double") - lo) / span * buckets).cast("long"),
      lit(0L)), lit(buckets))
  }

  /** Z-order-clustered parquet write on two numeric dimensions: quantize
    * each onto 16 bits (domain from one stats pass), range-partition by the
    * interleaved z-value, sort within partitions, drop the helper column.
    *
    * Why at 100 TB: a single-column sort gives row-group min/max pruning on
    * ONE predicate dimension; z-clustering keeps BOTH dimensions locally
    * dense, so parquet data skipping prunes on either (or both) — the same
    * reason Delta/Iceberg OPTIMIZE ZORDER exists, here as a plain
    * DataFrame-level writer with no table-format dependency. Range
    * partitioning bounds each output file to a contiguous z-interval, i.e.
    * a small rectangle of the (x, y) space.
    */
  def writeZOrdered(
      df: DataFrame, xCol: String, yCol: String, path: String,
      outFiles: Int = 32): Unit = {
    val Array(xlo, xhi, ylo, yhi) =
      df.agg(min(col(xCol)).cast("double"), max(col(xCol)).cast("double"),
          min(col(yCol)).cast("double"), max(col(yCol)).cast("double"))
        .collect()(0).toSeq.map(v => v.asInstanceOf[Double]).toArray
    df.withColumn("__z",
        zvalue(quantize(col(xCol), xlo, xhi), quantize(col(yCol), ylo, yhi)))
      .repartitionByRange(outFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }

  /** Session-cached Z-ORDERED derived copy of a source table — the
    * [[ensureDerived]] discipline (census invalidation, tmp-dir + atomic
    * rename commit, stale-tag GC, build-cost instrumentation) applied to a
    * [[writeZOrdered]] layout. NOT a bucketed catalog table: the physical
    * row order and file-boundary rectangles ARE the artifact, so the copy
    * is a plain parquet dir read back by path. Returns the committed dir.
    *
    * Why at 100 TB: the one-time clustered rewrite is what turns every
    * later two-dimensional range predicate into a row-group-skipping scan
    * (min/max stats per row group stay tight on BOTH dims) — the same
    * reason table formats ship OPTIMIZE ZORDER; proven by
    * ZOrderSpec/LayoutSpec and the registered `zorder_scan` query's
    * footer-stats guard.
    */
  def ensureZOrdered(
      spark: SparkSession, sfDir: String, family: String, source: String,
      xCol: String, yCol: String, outFiles: Int = 32,
      version: Int = 1): String = {
    val entries = censusEntries(spark, sfDir, Seq(source))
    val censusStr =
      (s"v=$version|z=$xCol,$yCol,$outFiles" +: entries).mkString("\n")
    val dirTag = hex(s"$sfDir#z$outFiles")
    val name = s"graft_${family}_${dirTag}_${hex(censusStr)}".toLowerCase
    val whRoot = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"))
    val wh = new org.apache.hadoop.fs.Path(whRoot, name)
    val fs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
    ensureLocks.computeIfAbsent(s"${family}_$dirTag", _ => new Object).synchronized {
      if (!isCommitted(fs, wh, censusStr)) {
        if (fs.exists(wh)) fs.delete(wh, true)
        val t0 = System.nanoTime()
        buildCount.incrementAndGet()
        val tmp = new org.apache.hadoop.fs.Path(
          whRoot, name + "__b" + java.util.UUID.randomUUID().toString.take(8))
        // publishTmp is the one commit point (census marker + atomic
        // rename + adopt-a-concurrent-winner); a failed write must not
        // orphan the tmp dir
        try {
          writeZOrdered(
            spark.read.parquet(
              new org.apache.hadoop.fs.Path(sfDir, source).toString),
            xCol, yCol, tmp.toString, outFiles)
          publishTmp(fs, name, wh, tmp, censusStr)
        } catch {
          case t: Throwable =>
            fs.delete(tmp, true)
            throw t
        }
        buildNanos.addAndGet(System.nanoTime() - t0)
        // GC only on the build path — the warm serve path stays free of
        // the catalog/warehouse sweep (same reasoning as ensureDerived)
        dropStaleDerived(spark, family, dirTag, name)
      }
    }
    wh.toString
  }

  /** Z-order data skipping as a registered query (`zorder_scan`): a
    * two-dimensional range predicate + aggregate over the Z-ordered copy
    * of `orders`, clustered on (o_custkey, o_totalprice). The copy is a
    * row PERMUTATION of the source and every aggregate here is
    * order-independent (counts, min/max, an exact DECIMAL sum), so the
    * result — and the DuckDB twin — is identical to the same query over
    * the raw table; what the clustered copy changes is the SCAN: parquet
    * row-group min/max stats stay tight on both dims, so the reader skips
    * the row groups outside the (custkey, totalprice) rectangle
    * (footer-stats-proven in ZOrderSpec, vs a shuffled baseline).
    */
  def zorderScan(spark: SparkSession, sfDir: String): DataFrame = {
    val path = ensureZOrdered(
      spark, sfDir, "zorder_orders", "orders.parquet",
      "o_custkey", "o_totalprice")
    graft.io.Tables.parquet(spark, path)
      .filter(col("o_custkey").between(100L, 400L) &&
        col("o_totalprice").between(50000.0, 150000.0))
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)"))
          .cast("double").as("sum_total"),
        min(col("o_totalprice")).as("min_total"),
        max(col("o_totalprice")).as("max_total"))
      .orderBy(col("o_orderpriority").asc)
  }

  /** Compact a directory of (possibly many small) parquet files to
    * approximately `targetFileBytes` files — the standard maintenance pass
    * after streaming/incremental appends, whose absence is the #1 cause of
    * slow scans on long-lived tables (per-file open cost + tiny row
    * groups). File count derives from the actual on-disk bytes; content is
    * rewritten 1:1 (no dedup, no reorder guarantees beyond Spark's
    * round-robin rebalance).
    *
    * OFFLINE maintenance contract: callers must quiesce writers AND
    * readers of `path` for the swap. The rewrite validates row count and
    * re-checks the source file listing immediately before the swap — a
    * concurrent append that landed after the rewrite's snapshot aborts
    * the compaction (its rows are not in the rewrite and would be lost)
    * — but a file landing INSIDE the rename window itself, or a reader
    * hitting the instant between the two renames, is inherently
    * unprotected by a rename-based swap; that is what the quiesce is for
    * (table formats solve this with a metadata pointer flip — out of
    * scope for plain parquet dirs).
    */
  def compact(
      spark: org.apache.spark.sql.SparkSession, path: String,
      targetFileBytes: Long = 128L * 1024 * 1024): Unit = {
    val src = new org.apache.hadoop.fs.Path(path)
    val fs = src.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = path.stripSuffix("/") + "__compacting"
    val backup = path.stripSuffix("/") + "__backup"
    val tmpP = new org.apache.hadoop.fs.Path(tmp)
    val bakP = new org.apache.hadoop.fs.Path(backup)
    // the census listing (length|mtime|path): an in-place same-length
    // overwrite landing during the rewrite would be invisible to a
    // name|length key and its rows silently dropped by the swap; mtime
    // catches it. The quiesce contract still owns the rename window itself.
    def listSnapshot(): Seq[String] = graft.io.Tables.dataFiles(spark, path)
    // Crash-window auto-restore: a previous compact that died between the
    // two renames below left the table readable ONLY under __backup —
    // restore it before doing anything else. (A leftover backup alongside a
    // live path is the post-swap crash case; it is stale and dropped just
    // before the swap.)
    if (!fs.exists(src) && fs.exists(bakP) && !fs.rename(bakP, src))
      throw new IllegalStateException(
        s"compact($path): found orphaned backup $backup but restore failed")
    if (fs.exists(tmpP)) fs.delete(tmpP, true) // dead rewrite from a crashed run
    val totalBytes = fs.getContentSummary(src).getLength
    val nFiles = math.max(1, (totalBytes.toDouble / targetFileBytes).ceil.toInt)
    val snapshot = listSnapshot()
    val before = spark.read.parquet(path).count()
    spark.read.parquet(path).repartition(nFiles)
      .write.mode("overwrite").parquet(tmp)
    // validate the rewrite BEFORE touching the source: a lost/truncated
    // rewrite must never replace the live table
    val after = spark.read.parquet(tmp).count()
    if (after != before) {
      fs.delete(tmpP, true)
      throw new IllegalStateException(
        s"compact($path): rewrite row count $after != source $before; aborted")
    }
    // a writer that appended DURING the rewrite left files the rewrite
    // never read — swapping would silently drop their rows. Abort; the
    // caller re-runs after quiescing (scaladoc contract).
    if (listSnapshot() != snapshot) {
      fs.delete(tmpP, true)
      throw new IllegalStateException(
        s"compact($path): source changed during the rewrite; aborted")
    }
    // swap via backup so a crash at any point leaves a readable copy:
    // src -> backup, tmp -> src, then drop backup. If either rename fails
    // the original data still exists under one of the two names.
    if (fs.exists(bakP)) fs.delete(bakP, true)
    if (!fs.rename(src, bakP))
      throw new IllegalStateException(s"compact($path): rename to backup failed")
    if (!fs.rename(tmpP, src)) {
      fs.rename(bakP, src) // restore
      throw new IllegalStateException(s"compact($path): swap failed; restored original")
    }
    fs.delete(bakP, true)
  }
}
