package graft.ops

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The round-7 artifact-layer contracts:
  *   - append-only source deltas REFRESH a derived artifact (delta work
  *     only) instead of rebuilding it, and the refreshed copy is
  *     bit-identical to a from-scratch rebuild over the same data;
  *   - any non-append delta (rewritten file, recipe `version` bump) falls
  *     back to a full rebuild — a warm warehouse can never pin a pipeline
  *     to a stale recipe's artifact;
  *   - an artifact whose build legitimately produced ZERO rows never
  *     wedges a later session (no schema-inference throw — it rebuilds);
  *   - two threads ensuring the same artifact both read a complete copy
  *     (per-table lock in-JVM; tmp-dir + atomic-rename commit across
  *     processes).
  */
class LayoutRefreshSpec extends SparkSpec {

  private def fs =
    org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)

  /** Append one parquet data file holding `df` into an existing parquet
    * directory — the on-disk shape of one new shard landing on a corpus.
    * Returns the appended file's name.
    */
  private def appendFile(targetDir: String, df: DataFrame): String = {
    val tmp = Files.createTempDirectory("graft_append").toString
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = fs.listStatus(new Path(tmp)).map(_.getPath)
      .find(_.getName.endsWith(".parquet")).get
    val dest = new Path(targetDir, s"appended-${part.getName}")
    assert(fs.rename(part, dest))
    fs.delete(new Path(tmp), true)
    dest.getName
  }

  private def copyDir(src: String, dst: String): Unit =
    org.apache.hadoop.fs.FileUtil.copy(
      fs, new Path(src), fs, new Path(dst), false,
      spark.sparkContext.hadoopConfiguration)

  /** The fixtures ship each table as ONE parquet file; a shard-append
    * corpus is a DIRECTORY of files. Seed `dst` as a dir holding the
    * fixture file as its first shard.
    */
  private def seedAsDir(srcFile: String, dst: String): Unit = {
    fs.mkdirs(new Path(dst))
    copyDir(srcFile, s"$dst/part-00000.parquet")
  }

  test("ensureDerived refreshes on an append-only delta; rebuilds on a rewrite") {
    val root = Files.createTempDirectory("graft_incr").toString
    spark.range(100).withColumn("v", col("id") * 2)
      .write.parquet(s"$root/t.parquet")
    var builds = 0
    var refreshes = 0
    var seenAdded: Seq[String] = Nil
    def ensure(): DataFrame = Layout.ensureDerived(
      spark, root, "test_incr", Seq("t.parquet"), "id", buckets = 4,
      append = Some(Layout.Append { ctx =>
        refreshes += 1
        seenAdded = ctx.addedFiles
        spark.read.parquet(ctx.addedFiles: _*).select(col("id"), col("v"))
      })) {
      builds += 1
      spark.read.parquet(s"$root/t.parquet").select(col("id"), col("v"))
    }
    assert(ensure().count() === 100)
    assert(builds === 1 && refreshes === 0)
    // append-only delta → the kernel sees EXACTLY the added file, the
    // served result is old ∪ delta, and the build closure never re-runs
    val name = appendFile(s"$root/t.parquet",
      spark.range(100, 130).withColumn("v", col("id") * 2))
    val refreshed = ensure()
    assert(builds === 1 && refreshes === 1)
    assert(seenAdded.size === 1 && seenAdded.head.endsWith(name), seenAdded)
    assert(refreshed.count() === 130)
    assert(refreshed.agg(sum(col("v"))).head.getLong(0) ===
      (0L until 130L).map(_ * 2).sum)
    // rewriting an EXISTING file is not append-only → full rebuild
    val existing = fs.listStatus(new Path(s"$root/t.parquet"))
      .map(_.getPath).find(_.getName.endsWith(".parquet")).get
    fs.setTimes(existing, System.currentTimeMillis() + 60000, -1)
    assert(ensure().count() === 130)
    assert(builds === 2 && refreshes === 1,
      s"a touched source file must force a rebuild (builds=$builds refreshes=$refreshes)")
  }

  test("a FullRebuild deferred into the delta ACTION still falls back to a full build") {
    // the shipped kernels run their expressibility checks eagerly, but
    // the Append contract also covers a kernel that defers the check
    // into the returned lazy frame: the signal first surfaces inside
    // commitAppend's INSERT action, wrapped in Spark's executor-exception
    // chain — ensureDerived must clean the tmp dir and fall back to the
    // full build instead of aborting
    val root = Files.createTempDirectory("graft_defer").toString
    spark.range(50).withColumn("v", col("id") * 3)
      .write.parquet(s"$root/t.parquet")
    var builds = 0
    def ensure(): DataFrame = Layout.ensureDerived(
      spark, root, "test_defer", Seq("t.parquet"), "id", buckets = 4,
      append = Some(Layout.Append { ctx =>
        import spark.implicits._
        spark.read.parquet(ctx.addedFiles: _*)
          .select(col("id"), col("v")).as[(Long, Long)]
          .mapPartitions[(Long, Long)] { (_: Iterator[(Long, Long)]) =>
            throw new Layout.FullRebuild
          }
          .toDF("id", "v")
      })) {
      builds += 1
      spark.read.parquet(s"$root/t.parquet").select(col("id"), col("v"))
    }
    assert(ensure().count() === 50)
    assert(builds === 1)
    appendFile(s"$root/t.parquet",
      spark.range(50, 60).withColumn("v", col("id") * 3))
    val out = ensure()
    assert(builds === 2,
      "a deferred FullRebuild must fall back to the full build")
    assert(out.count() === 60)
    // the aborted append's tmp dir must not survive as an orphan
    val whRoot = new Path(spark.conf.get("spark.sql.warehouse.dir"))
    val orphans = fs.listStatus(whRoot).map(_.getPath.getName)
      .filter(n => n.startsWith("graft_test_defer_") && n.contains("__a"))
    assert(orphans.isEmpty, s"orphan tmp dirs: ${orphans.mkString(",")}")
  }

  test("a partitioned (nested-subdir) source still invalidates on nested change") {
    // partitionBy layouts nest data files under key=value subdirs; the
    // census must recurse or a nested shard change silently reuses the
    // stale artifact forever
    val root = Files.createTempDirectory("graft_nested").toString
    spark.range(60).withColumn("p", col("id") % 3)
      .write.partitionBy("p").parquet(s"$root/t.parquet")
    var builds = 0
    def ensure(): DataFrame = Layout.ensureDerived(
      spark, root, "test_nested", Seq("t.parquet"), "id", buckets = 4) {
      builds += 1
      spark.read.parquet(s"$root/t.parquet").select(col("id"))
    }
    assert(ensure().count() === 60)
    assert(builds === 1)
    assert(ensure().count() === 60)
    assert(builds === 1, "unchanged nested source must reuse the artifact")
    val nested = fs.listStatus(new Path(s"$root/t.parquet/p=1"))
      .map(_.getPath).find(_.getName.endsWith(".parquet")).get
    fs.setTimes(nested, System.currentTimeMillis() + 60000, -1)
    assert(ensure().count() === 60)
    assert(builds === 2,
      s"a touched NESTED file must invalidate the artifact (builds=$builds)")
  }

  test("a Spark mode-append write (which rewrites _SUCCESS) still refreshes") {
    // Spark's own append rewrites the target dir's _SUCCESS marker; the
    // census must ignore marker/hidden files or every real shard landing
    // would read as a non-append delta and rebuild
    val root = Files.createTempDirectory("graft_sparkapp").toString
    spark.range(80).withColumn("v", col("id") + 7).write.parquet(s"$root/t.parquet")
    var builds = 0
    var refreshes = 0
    def ensure(): DataFrame = Layout.ensureDerived(
      spark, root, "test_sparkapp", Seq("t.parquet"), "id", buckets = 4,
      append = Some(Layout.Append { ctx =>
        refreshes += 1
        spark.read.parquet(ctx.addedFiles: _*).select(col("id"), col("v"))
      })) {
      builds += 1
      spark.read.parquet(s"$root/t.parquet").select(col("id"), col("v"))
    }
    assert(ensure().count() === 80)
    spark.range(80, 100).withColumn("v", col("id") + 7)
      .coalesce(1).write.mode("append").parquet(s"$root/t.parquet")
    assert(ensure().count() === 100)
    assert(builds === 1 && refreshes === 1,
      s"mode-append must refresh, not rebuild (builds=$builds refreshes=$refreshes)")
  }

  test("refresh works across sessions: the predecessor is found on disk, not in the catalog") {
    // a fresh session has no catalog entries — the append-only refresh
    // must locate the committed predecessor by scanning the warehouse
    val root = Files.createTempDirectory("graft_xsess").toString
    spark.range(200).withColumn("v", col("id") * 5)
      .write.parquet(s"$root/t.parquet")
    var builds = 0
    var refreshes = 0
    def ensure(s: org.apache.spark.sql.SparkSession): DataFrame =
      Layout.ensureDerived(s, root, "test_xsess", Seq("t.parquet"), "id",
        buckets = 4,
        append = Some(Layout.Append { ctx =>
          refreshes += 1
          s.read.parquet(ctx.addedFiles: _*).select(col("id"), col("v"))
        })) {
        builds += 1
        s.read.parquet(s"$root/t.parquet").select(col("id"), col("v"))
      }
    assert(ensure(spark).count() === 200)
    assert(builds === 1)
    // drop ONLY the catalog entry (external table: the dir survives) —
    // the state a brand-new session starts from
    val tbl = spark.catalog.listTables().collect()
      .map(_.name).find(_.startsWith("graft_test_xsess_")).get
    spark.sql(s"DROP TABLE IF EXISTS `$tbl`")
    appendFile(s"$root/t.parquet",
      spark.range(200, 260).withColumn("v", col("id") * 5))
    val fresh = spark.newSession()
    fresh.conf.set("spark.sql.shuffle.partitions", "4")
    val out = ensure(fresh)
    assert(out.count() === 260)
    assert(builds === 1 && refreshes === 1,
      s"catalog-less session must refresh from the on-disk predecessor " +
        s"(builds=$builds refreshes=$refreshes)")
  }

  test("a recipe version bump invalidates a committed artifact (no silent reuse)") {
    val root = Files.createTempDirectory("graft_vers").toString
    spark.range(50).withColumn("v", col("id") + 1).write.parquet(s"$root/t.parquet")
    var builds = 0
    def ensure(ver: Int): DataFrame = Layout.ensureDerived(
      spark, root, "test_vers", Seq("t.parquet"), "id", buckets = 4,
      version = ver,
      // append kernel present but must NOT fire across versions: the
      // surviving v1 dir is a recipe mismatch, not an append delta
      append = Some(Layout.Append(_ =>
        fail("an append must not bridge a version bump")))) {
      builds += 1
      spark.read.parquet(s"$root/t.parquet").select(col("id"), col("v"))
    }
    assert(ensure(1).count() === 50)
    assert(builds === 1)
    assert(ensure(2).count() === 50)
    assert(builds === 2, "v2 must rebuild, not serve the v1 dir")
  }

  test("an empty-result artifact never wedges a later session") {
    val root = Files.createTempDirectory("graft_empty").toString
    spark.range(10).withColumn("v", col("id")).write.parquet(s"$root/t.parquet")
    var builds = 0
    def ensure(): DataFrame = Layout.ensureDerived(
      spark, root, "test_empty", Seq("t.parquet"), "id", buckets = 4) {
      builds += 1
      spark.read.parquet(s"$root/t.parquet").filter(lit(false))
    }
    assert(ensure().count() === 0)
    assert(builds === 1)
    // simulate the next session: the catalog entry is gone, the committed
    // dir (with _SUCCESS but zero data files) survives in the warehouse.
    // Pre-fix this threw 'unable to infer schema' forever; it must rebuild.
    val tbl = spark.catalog.listTables().collect()
      .map(_.name).find(_.startsWith("graft_test_empty_")).get
    spark.sql(s"DROP TABLE IF EXISTS `$tbl`")
    assert(ensure().count() === 0)
    assert(builds === 2, "a data-file-less dir must rebuild, not re-register")
  }

  test("two threads ensuring the same artifact both read a complete copy") {
    val root = Files.createTempDirectory("graft_conc").toString
    spark.range(1000).withColumn("v", col("id") * 3).write.parquet(s"$root/t.parquet")
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    val counts = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 2).map { _ =>
      new Thread(() =>
        try {
          val df = Layout.ensureDerived(
            spark, root, "test_conc", Seq("t.parquet"), "id", buckets = 4) {
            builds.incrementAndGet()
            spark.read.parquet(s"$root/t.parquet").select(col("id"), col("v"))
          }
          counts.add(df.count())
        } catch { case t: Throwable => errs.add(t) })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(120000))
    assert(errs.isEmpty, errs)
    import scala.jdk.CollectionConverters._
    assert(counts.asScala.toSeq === Seq(1000L, 1000L))
    assert(builds.get === 1, "the per-table lock must serialize to one build")
  }

  test("concurrent ensures of the TWO-LAYER shingle pair: nested locks, one build per layer") {
    // the r12 shingle split nests ensureDerived calls (the stats layer's
    // build/refresh ensures the rows layer while holding its own lock).
    // Lock acquisition is always stats→rows or rows alone — acyclic — so
    // mixed concurrent ensures of both layers must neither deadlock nor
    // double-build either layer.
    val root = Files.createTempDirectory("graft_conc2").toString + "/d"
    fs.mkdirs(new Path(root))
    seedAsDir(s"$sf/documents.parquet", s"$root/documents.parquet")
    val b0 = Layout.buildCount.get
    val counts = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = Seq(
      new Thread(() =>
        try counts.add(graft.ext.Dedup.shingleStatsShared(spark, root).count())
        catch { case t: Throwable => errs.add(t) }),
      new Thread(() =>
        try counts.add(graft.ext.Dedup.shingleStatsShared(spark, root).count())
        catch { case t: Throwable => errs.add(t) }),
      new Thread(() =>
        try counts.add(graft.ext.Dedup.shingleRowsShared(spark, root).count())
        catch { case t: Throwable => errs.add(t) }))
    threads.foreach(_.start())
    threads.foreach(_.join(180000))
    assert(threads.forall(!_.isAlive), "two-layer ensure deadlocked")
    assert(errs.isEmpty, errs)
    import scala.jdk.CollectionConverters._
    assert(counts.asScala.toSet.size === 1,
      s"all readers must see the same complete copy: ${counts.asScala.toSeq}")
    assert(Layout.buildCount.get === b0 + 2,
      "exactly one build per layer (rows + stats), no double-build")
  }

  test("ivf_cells refreshes appended vectors under a FROZEN quantizer; matches full rebuild") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_ivfinc").toString
    seedAsDir(s"$sf/embeddings.parquet", s"$root/embeddings.parquet")
    val refreshes0 = Layout.refreshCount.get()
    val idx1 = graft.ext.Similarity.ivfCellIndex(spark, root)
    val n1 = idx1.count()
    val maxId = spark.read.parquet(s"$root/embeddings.parquet")
      .agg(max(col("vec_id"))).first().getLong(0)
    // a shard of HIGHER-id vectors: the lowest-id seed set is untouched, so
    // the refresh may assign/encode ONLY the delta against the frozen model
    val rnd = new scala.util.Random(7)
    val fresh = (1 to 40).map(i =>
      (maxId + i, Seq.fill(64)(rnd.nextFloat() * 2f - 1f), i % 3))
      .toDF("vec_id", "embedding", "label")
    appendFile(s"$root/embeddings.parquet", fresh)
    val idx2 = graft.ext.Similarity.ivfCellIndex(spark, root)
    assert(Layout.refreshCount.get() === refreshes0 + 1,
      "higher-id append must take the incremental refresh path")
    assert(idx2.count() === n1 + 40)
    // bit-identical to a from-scratch build over the same two shards (a
    // separate dir gets a different tag, so no predecessor → full build)
    val root2 = Files.createTempDirectory("graft_ivffull").toString
    copyDir(s"$root/embeddings.parquet", s"$root2/embeddings.parquet")
    val idxFull = graft.ext.Similarity.ivfCellIndex(spark, root2)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("vec_id", "cell", "cell_id", "sim", "norm",
        "code0", "code1", "code2", "code3")
      .collect().map(r => r.toSeq).sortBy(_.head.asInstanceOf[Long])
    assert(rows(idx2) === rows(idxFull),
      "refreshed index must equal a full rebuild over the same corpus")
    // an append UNDER the seed ceiling would change the quantizer — the
    // kernel must fall back to a full re-derive (new seed becomes a cell)
    appendFile(s"$root/embeddings.parquet",
      Seq((-1L, Seq.fill(64)(0.5f), 0)).toDF("vec_id", "embedding", "label"))
    val idx3 = graft.ext.Similarity.ivfCellIndex(spark, root)
    assert(idx3.filter(col("cell") === -1L).count() >= 1,
      "low-id append must re-derive the quantizer (new seed, new cell)")
  }

  test("minhash_sig refreshes incrementally and matches a full rebuild") {
    val base = Files.createTempDirectory("graft_sig_incr").toString + "/d"
    val pristine = Files.createTempDirectory("graft_sig_full").toString + "/d"
    fs.mkdirs(new Path(base)); fs.mkdirs(new Path(pristine))
    seedAsDir(s"$sf/documents.parquet", s"$base/documents.parquet")
    val docs = spark.read.parquet(s"$base/documents.parquet")
    val maxId = docs.agg(max(col("doc_id"))).head.getLong(0)
    // 20 genuinely new docs with the corpus schema (shifted ids, new text)
    val extra = docs.orderBy(col("doc_id").asc).limit(20)
      .withColumn("doc_id", col("doc_id") + lit(maxId + 1000L))
      .withColumn("text", concat(col("text"), lit(" appended shard marker")))
    // build the index over the base corpus, then land one shard
    graft.ext.Dedup.minHashSignaturesShared(spark, base).count()
    val b0 = Layout.buildCount.get
    val r0 = Layout.refreshCount.get
    appendFile(s"$base/documents.parquet", extra)
    val refreshed = graft.ext.Dedup.minHashSignaturesShared(spark, base)
      .select((Seq(col("doc_id"), col("shset")) ++
        (0 until 64).map(j => col(s"__m$j"))): _*)
    assert(Layout.refreshCount.get === r0 + 1,
      "the appended shard must take the refresh path")
    assert(Layout.buildCount.get === b0,
      "old-doc signatures must NOT be recomputed on an append")
    // the refreshed index is row-identical to a from-scratch rebuild over
    // the same (base + shard) corpus
    copyDir(s"$base/documents.parquet", s"$pristine/documents.parquet")
    val rebuilt = graft.ext.Dedup.minHashSignaturesShared(spark, pristine)
      .select((Seq(col("doc_id"), col("shset")) ++
        (0 until 64).map(j => col(s"__m$j"))): _*)
    assert(refreshed.exceptAll(rebuilt).isEmpty &&
      rebuilt.exceptAll(refreshed).isEmpty,
      "refreshed signature index diverged from the full rebuild")
    assert(refreshed.count() === rebuilt.count())
  }

  test("append-commit (refreshDelta): committed files are LINKED forward, only the delta is written") {
    val base = Files.createTempDirectory("graft_app_incr").toString + "/d"
    fs.mkdirs(new Path(base))
    seedAsDir(s"$sf/orders.parquet", s"$base/orders.parquet")
    val orders = spark.read.parquet(s"$base/orders.parquet")
    // build the okey copy, remember its committed data files
    Layout.ordersByOrderkey(spark, base).count()
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    def artifactDir(): Path = fs.listStatus(new Path(wh)).map(_.getPath)
      .filter(_.getName.startsWith("graft_orders_okey_"))
      .maxBy(p => fs.getFileStatus(p).getModificationTime)
    val gen0 = artifactDir()
    val gen0Files = fs.listStatus(gen0).map(_.getPath.getName)
      .filter(_.endsWith(".parquet")).toSet
    val n0 = Layout.ordersByOrderkey(spark, base).count()
    // land one shard of genuinely new orders
    val maxK = orders.agg(max(col("o_orderkey"))).head.getLong(0)
    val extra = orders.orderBy(col("o_orderkey").asc).limit(25)
      .withColumn("o_orderkey", col("o_orderkey") + lit(maxK + 500L))
    appendFile(s"$base/orders.parquet", extra)
    val r0 = Layout.refreshCount.get
    val n1 = Layout.ordersByOrderkey(spark, base).count()
    assert(Layout.refreshCount.get === r0 + 1, "append must refresh")
    assert(n1 === n0 + 25)
    // the next generation carries gen0's data files FORWARD by name
    // (hardlinks — no rewrite of committed rows) plus new delta files
    val gen1 = artifactDir()
    assert(gen1.getName !== gen0.getName)
    val gen1Files = fs.listStatus(gen1).map(_.getPath.getName)
      .filter(_.endsWith(".parquet")).toSet
    assert(gen0Files.subsetOf(gen1Files),
      s"gen0 files must be linked into gen1: missing ${gen0Files -- gen1Files}")
    assert((gen1Files -- gen0Files).nonEmpty, "delta files must be new")
    // the delta INSERT is pre-shuffled onto the bucket key: ONE epoch
    // adds at most `buckets` files (unaligned it writes tasks × buckets
    // — the file explosion the MaxGenerations file bound forbids)
    assert((gen1Files -- gen0Files).size <= 32,
      s"one epoch must add <= buckets files, got ${(gen1Files -- gen0Files).size}")
    // gen0 was GC'd as stale, yet the linked data still reads (hardlink
    // semantics: the delete dropped gen0's names, not the shared bytes)
    assert(!fs.exists(gen0), "stale predecessor should be GC'd")
    val reread = Layout.ordersByOrderkey(spark, base)
    assert(reread.count() === n1)
    // delta rows are genuinely present and old rows intact
    assert(reread.filter(col("o_orderkey") >= maxK + 500L).count() === 25)
    // exchange-free co-bucketed join still holds across generations
    // (bucket ids live in file names; >1 file per bucket is fine)
    val itemsB = Layout.lineitemByOrderkey(spark, "/root/testdata/sf0.001")
    assert(itemsB.count() > 0)
    // a LATER SESSION must re-register the append-committed dir (its
    // _SUCCESS comes from the INSERT job, its data is partly hardlinks):
    // simulate by dropping the catalog entry and re-ensuring
    val tableName = gen1.getName
    spark.sql(s"DROP TABLE IF EXISTS `$tableName`")
    val b1 = Layout.buildCount.get
    val r1 = Layout.refreshCount.get
    assert(Layout.ordersByOrderkey(spark, base).count() === n1,
      "fresh-session re-registration of an append-committed dir")
    assert(Layout.buildCount.get === b1 && Layout.refreshCount.get === r1,
      "re-registration must neither rebuild nor re-refresh")
  }

  test("minhash_pairs consumer stays exact after an append-only sig refresh") {
    // the pair artifact deliberately REBUILDS from the incrementally
    // refreshed signature index (pair deltas are not compositional under
    // the band-bucket cap) — prove the composition end-to-end: append
    // EXACT COPIES of existing docs so cross old/new pairs must appear,
    // refresh, and require the pair list to equal a from-scratch rebuild
    val base = Files.createTempDirectory("graft_pair_incr").toString + "/d"
    val pristine = Files.createTempDirectory("graft_pair_full").toString + "/d"
    fs.mkdirs(new Path(base)); fs.mkdirs(new Path(pristine))
    seedAsDir(s"$sf/documents.parquet", s"$base/documents.parquet")
    val docs = spark.read.parquet(s"$base/documents.parquet")
    val maxId = docs.agg(max(col("doc_id"))).head.getLong(0)
    val twins = docs.orderBy(col("doc_id").asc).limit(10)
      .withColumn("doc_id", col("doc_id") + lit(maxId + 1000L))
    graft.ext.Dedup.minHashPairsShared(spark, base).count()
    val r0 = Layout.refreshCount.get
    appendFile(s"$base/documents.parquet", twins)
    val refreshed = graft.ext.Dedup.minHashPairsShared(spark, base)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
    assert(Layout.refreshCount.get === r0 + 1,
      "the signature index must refresh, not rebuild")
    // the appended exact copies MUST pair with their originals
    val crossPairs = refreshed.filter(col("doc_b") > maxId).count()
    assert(crossPairs >= 10L,
      s"appended twins must near-dup against their originals: $crossPairs")
    copyDir(s"$base/documents.parquet", s"$pristine/documents.parquet")
    val rebuilt = graft.ext.Dedup.minHashPairsShared(spark, pristine)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
    assert(refreshed.exceptAll(rebuilt).isEmpty &&
      rebuilt.exceptAll(refreshed).isEmpty,
      "pair list after refresh diverged from the full rebuild")
  }

  test("simhash_sig refreshes append-only; shingle_stats refreshes TWO-LAYER (rows delta + stats re-window)") {
    val base = Files.createTempDirectory("graft_sh_incr").toString + "/d"
    val pristine = Files.createTempDirectory("graft_sh_full").toString + "/d"
    fs.mkdirs(new Path(base)); fs.mkdirs(new Path(pristine))
    seedAsDir(s"$sf/documents.parquet", s"$base/documents.parquet")
    val docs = spark.read.parquet(s"$base/documents.parquet")
    val maxId = docs.agg(max(col("doc_id"))).head.getLong(0)
    val extra = docs.orderBy(col("doc_id").asc).limit(15)
      .withColumn("doc_id", col("doc_id") + lit(maxId + 1000L))
      .withColumn("text", concat(col("text"), lit(" appended shard marker")))
    graft.ext.Dedup.simHashSignaturesShared(spark, base).count()
    graft.ext.Dedup.shingleStatsShared(spark, base).count()
    val b0 = Layout.buildCount.get
    val r0 = Layout.refreshCount.get
    appendFile(s"$base/documents.parquet", extra)
    // per-doc signatures: append-only refresh, old docs never re-hashed
    val refreshed = graft.ext.Dedup.simHashSignaturesShared(spark, base)
    assert(Layout.refreshCount.get === r0 + 1,
      "simhash_sig must take the refresh path on an append")
    assert(Layout.buildCount.get === b0)
    copyDir(s"$base/documents.parquet", s"$pristine/documents.parquet")
    val rebuilt = graft.ext.Dedup.simHashSignaturesShared(spark, pristine)
    assert(refreshed.exceptAll(rebuilt).isEmpty &&
      rebuilt.exceptAll(refreshed).isEmpty,
      "refreshed simhash index diverged from the full rebuild")
    // TWO-LAYER global df/rank stats: the rows layer refreshes by
    // append — ONLY the appended docs tokenize, the committed
    // (doc_id, sh) rows hardlink forward — and the stats layer has no
    // append form: its build re-windows the rows artifact (O(artifact),
    // no text scan). So exactly one build (the stats layer's) and one
    // refresh (the rows layer's) run, and df/sz/rk must match a
    // from-scratch rebuild row-for-row. (Counters captured here: the
    // pristine-dir simhash rebuild above legitimately incremented
    // buildCount once.)
    val b1 = Layout.buildCount.get
    val r1 = Layout.refreshCount.get
    val stats = graft.ext.Dedup.shingleStatsShared(spark, base)
    assert(Layout.refreshCount.get === r1 + 1,
      "an append must never re-shingle the corpus (shingle_rows refreshes)")
    assert(Layout.buildCount.get === b1 + 1,
      "only the stats layer re-windows (one build, no rows-layer build)")
    assert(stats.filter(col("doc_id") > maxId).count() > 0,
      "refreshed shingle_stats must include the appended docs")
    val pristineStats = graft.ext.Dedup.shingleStatsShared(spark, pristine)
    assert(stats.exceptAll(pristineStats).isEmpty &&
      pristineStats.exceptAll(stats).isEmpty,
      "two-layer refreshed shingle_stats diverged from the full rebuild")
  }

  test("winnow_sel refreshes append-only and matches a full rebuild") {
    val base = Files.createTempDirectory("graft_wn_incr").toString + "/d"
    val pristine = Files.createTempDirectory("graft_wn_full").toString + "/d"
    fs.mkdirs(new Path(base)); fs.mkdirs(new Path(pristine))
    seedAsDir(s"$sf/documents.parquet", s"$base/documents.parquet")
    val docs = spark.read.parquet(s"$base/documents.parquet")
    val maxId = docs.agg(max(col("doc_id"))).head.getLong(0)
    val extra = docs.orderBy(col("doc_id").asc).limit(12)
      .withColumn("doc_id", col("doc_id") + lit(maxId + 1000L))
      .withColumn("text", concat(col("text"), lit(" winnow shard marker")))
    graft.ext.Dedup.winnowSelShared(spark, base).count()
    val b0 = Layout.buildCount.get
    val r0 = Layout.refreshCount.get
    appendFile(s"$base/documents.parquet", extra)
    val refreshed = graft.ext.Dedup.winnowSelShared(spark, base)
    assert(Layout.refreshCount.get === r0 + 1,
      "winnow_sel must take the refresh path on an append")
    assert(Layout.buildCount.get === b0)
    copyDir(s"$base/documents.parquet", s"$pristine/documents.parquet")
    val rebuilt = graft.ext.Dedup.winnowSelShared(spark, pristine)
    assert(refreshed.exceptAll(rebuilt).isEmpty &&
      rebuilt.exceptAll(refreshed).isEmpty,
      "refreshed winnow selection diverged from the full rebuild")
    assert(refreshed.filter(col("doc_id") > maxId).count() > 0,
      "refreshed selection must cover the appended docs")
  }

  test("media_sig refreshes append-only; refreshed pairs equal a full rebuild") {
    val base = Files.createTempDirectory("graft_msig_incr").toString + "/d"
    val pristine = Files.createTempDirectory("graft_msig_full").toString + "/d"
    fs.mkdirs(new Path(base)); fs.mkdirs(new Path(pristine))
    seedAsDir(s"$sf/documents.parquet", s"$base/documents.parquet")
    val docs = spark.read.parquet(s"$base/documents.parquet")
    val maxId = docs.agg(max(col("doc_id"))).head.getLong(0)
    // appended shard: byte-identical copies of existing payloads under
    // new ids — the refreshed signature index must pair each one with
    // its source at Hamming 0. The id shift is a multiple of 3 so the
    // copies keep their source's synthesized modality (pairs never
    // cross modality by design).
    val shift = (maxId + 1000L + 2L) / 3L * 3L
    val extra = docs.orderBy(col("doc_id").asc).limit(8)
      .withColumn("doc_id", col("doc_id") + lit(shift))
    graft.ext.Multimodal.mediaSignaturesShared(spark, base).count()
    val b0 = Layout.buildCount.get
    val r0 = Layout.refreshCount.get
    appendFile(s"$base/documents.parquet", extra)
    val refreshed = graft.ext.Multimodal.mediaSignaturesShared(spark, base)
    assert(Layout.refreshCount.get === r0 + 1,
      "media_sig must take the refresh path on an append")
    assert(Layout.buildCount.get === b0,
      "the committed corpus must not re-hash on an append")
    copyDir(s"$base/documents.parquet", s"$pristine/documents.parquet")
    val rebuilt = graft.ext.Multimodal.mediaSignaturesShared(spark, pristine)
    assert(refreshed.exceptAll(rebuilt).isEmpty &&
      rebuilt.exceptAll(refreshed).isEmpty,
      "refreshed media signatures diverged from the full rebuild")
    // consumer-level: every appended twin pairs with its source
    val pairs = graft.ext.Multimodal.mediaNearDup(spark, base).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    (0 until 8).foreach { i =>
      val src = docs.orderBy(col("doc_id").asc).limit(8)
        .collect()(i).getLong(0)
      assert(pairs.contains((src, src + shift, 0)),
        s"appended twin of $src missing from the refreshed pair set")
    }
  }

  test("postings refreshes append-only and serves the same bm25 list as a rebuild") {
    val base = Files.createTempDirectory("graft_post_incr").toString + "/d"
    val pristine = Files.createTempDirectory("graft_post_full").toString + "/d"
    fs.mkdirs(new Path(base)); fs.mkdirs(new Path(pristine))
    seedAsDir(s"$sf/documents.parquet", s"$base/documents.parquet")
    val docs = spark.read.parquet(s"$base/documents.parquet")
    val maxId = docs.agg(max(col("doc_id"))).head.getLong(0)
    // appended shard mentions a query term so the refreshed index MUST
    // surface it in the bm25 list (stale-global detection, not just
    // row-set equality)
    val extra = docs.orderBy(col("doc_id").asc).limit(10)
      .withColumn("doc_id", col("doc_id") + lit(maxId + 1000L))
      .withColumn("text",
        concat(lit("spark spark vector stream "), col("text")))
    graft.ext.Search.postingsShared(spark, base).count()
    val b0 = Layout.buildCount.get
    val r0 = Layout.refreshCount.get
    appendFile(s"$base/documents.parquet", extra)
    val refreshed = graft.ext.Search.postingsShared(spark, base)
    assert(Layout.refreshCount.get === r0 + 1,
      "postings must take the refresh path on an append")
    assert(Layout.buildCount.get === b0)
    copyDir(s"$base/documents.parquet", s"$pristine/documents.parquet")
    val rebuilt = graft.ext.Search.postingsShared(spark, pristine)
    assert(refreshed.exceptAll(rebuilt).isEmpty &&
      rebuilt.exceptAll(refreshed).isEmpty,
      "refreshed postings diverged from the full rebuild")
    // consumer-level: N/avgdl/df recompute off the refreshed artifact, so
    // the bm25 lists over the two dirs agree row for row — and include
    // the appended term-stuffed docs
    val viaRefresh = graft.ext.Search.bm25(spark, base).collect().toSeq
    val viaRebuild = graft.ext.Search.bm25(spark, pristine).collect().toSeq
    assert(viaRefresh == viaRebuild)
    assert(viaRefresh.exists(_.getLong(0) > maxId),
      "bm25 over the refreshed index must rank the appended docs")
    // PLAN guard across generations: the append-committed artifact has
    // >1 file per bucket (gen0's linked files + the delta's), and the
    // tok-bucketed distribution must STILL serve the tok aggregation
    // exchange-free — otherwise the append commit silently costs every
    // consumer a shuffle
    val aggPlan = refreshed.groupBy(col("tok"))
      .agg(sum(col("tf")).as("df"))
      .queryExecution.executedPlan.toString
    assert(!aggPlan.contains("Exchange"),
      s"tok aggregation over the refreshed artifact must ride the " +
        s"bucketing, got:\n${aggPlan.take(2000)}")
  }

  test("copurch_edges refreshes via base⊕delta merge and matches a full rebuild") {
    val base = Files.createTempDirectory("graft_edge_incr").toString + "/d"
    val pristine = Files.createTempDirectory("graft_edge_full").toString + "/d"
    fs.mkdirs(new Path(base)); fs.mkdirs(new Path(pristine))
    seedAsDir(s"$sf/lineitem.parquet", s"$base/lineitem.parquet")
    val li = spark.read.parquet(s"$base/lineitem.parquet")
    // the shard: new items landing on EXISTING orders (the hard case —
    // delta pairs must span old×new within an order) plus some repeats
    // that must contribute nothing
    val extra = li.orderBy(col("l_orderkey").asc, col("l_linenumber").asc)
      .limit(200)
      .withColumn("l_partkey", (col("l_partkey") + lit(7L)))
      .unionByName(li.orderBy(col("l_orderkey").asc,
        col("l_linenumber").asc).limit(50))
    graft.ext.Graph.coPurchaseEdges(spark, base).count()
    val b0 = Layout.buildCount.get
    val r0 = Layout.refreshCount.get
    appendFile(s"$base/lineitem.parquet", extra)
    val refreshed = graft.ext.Graph.coPurchaseEdges(spark, base)
      .select(col("src"), col("dst"), col("w").cast("long").as("w"))
    assert(Layout.refreshCount.get === r0 + 1)
    assert(Layout.buildCount.get === b0,
      "the old×old self-join must NOT re-run on an append")
    copyDir(s"$base/lineitem.parquet", s"$pristine/lineitem.parquet")
    val rebuilt = graft.ext.Graph.coPurchaseEdges(spark, pristine)
      .select(col("src"), col("dst"), col("w").cast("long").as("w"))
    assert(refreshed.exceptAll(rebuilt).isEmpty &&
      rebuilt.exceptAll(refreshed).isEmpty,
      "refreshed edge artifact diverged from the full rebuild")
    assert(refreshed.count() === rebuilt.count())
  }

  test("name_census refreshes via min/count merge and matches a full rebuild") {
    val base = Files.createTempDirectory("graft_nc_incr").toString + "/d"
    val pristine = Files.createTempDirectory("graft_nc_full").toString + "/d"
    fs.mkdirs(new Path(base)); fs.mkdirs(new Path(pristine))
    seedAsDir(s"$sf/part.parquet", s"$base/part.parquet")
    val part = spark.read.parquet(s"$base/part.parquet")
    // the shard exercises every merge case: repeats of committed names
    // that only bump counts, a SMALLER partkey that must lower a
    // committed min (min-of-mins across generations — appends are not
    // guaranteed monotone in the surrogate key), and brand-new names
    val extra = part.orderBy(col("p_partkey").asc).limit(30)
      .withColumn("p_partkey", col("p_partkey") + lit(1000000L))
      .unionByName(part.orderBy(col("p_partkey").asc).limit(10)
        .withColumn("p_partkey", -col("p_partkey")))
      .unionByName(part.orderBy(col("p_partkey").asc).limit(20)
        .withColumn("p_name", concat(col("p_name"), lit(" zz"))))
    graft.ext.EntityResolution.distinctNames(spark, base).count()
    val b0 = Layout.buildCount.get
    val r0 = Layout.refreshCount.get
    appendFile(s"$base/part.parquet", extra)
    val refreshed = graft.ext.EntityResolution.distinctNames(spark, base)
    assert(Layout.refreshCount.get === r0 + 1)
    assert(Layout.buildCount.get === b0,
      "the catalog scan must NOT re-run on an append")
    copyDir(s"$base/part.parquet", s"$pristine/part.parquet")
    val rebuilt = graft.ext.EntityResolution.distinctNames(spark, pristine)
    assert(refreshed.exceptAll(rebuilt).isEmpty &&
      rebuilt.exceptAll(refreshed).isEmpty,
      "refreshed name census diverged from the full rebuild")
    assert(refreshed.count() === rebuilt.count())
    // the min actually moved: a negative partkey rules the merged min
    assert(refreshed.agg(min(col("name_id"))).first().getLong(0) < 0L)
  }

  /** The one compaction rule for every appended artifact, walked over
    * MaxGenerations + 1 appends and a FullRebuild: each append links the
    * committed files forward and writes the delta as extra bucket files
    * (generation +1, ≤ buckets files each), and the append that finds
    * generation MaxGenerations COMPACTS instead — one rewrite of
    * merge(old ∪ delta), generation back to 1. `summing` picks a summing
    * merge (rows that repeat committed keys) over the identity merge
    * (strictly-new rows); the shards are the same either way.
    */
  private def appendCompactionWalk(family: String, summing: Boolean): Unit = {
    val sq = spark; import sq.implicits._
    val buckets = 4
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    def shard(rows: (Long, Long)*): DataFrame =
      rows.toSeq.toDF("k", "w").select(col("k"), col("w").cast("long"))
    val sumW: DataFrame => DataFrame =
      _.groupBy(col("k")).agg(sum(col("w")).as("w"))
    val base = Files.createTempDirectory(s"graft_$family").toString + "/d"
    fs.mkdirs(new Path(s"$base/facts.parquet"))
    // identity: the artifact is the source rows; summing: per-key sums
    val shape: DataFrame => DataFrame = if (summing) sumW else identity
    def deltaOf(ctx: Layout.RefreshCtx): DataFrame = {
      val d = spark.read.parquet(ctx.addedFiles: _*)
      // the inexpressible-delta hook under test: a sentinel weight
      if (!d.filter(col("w") === 999L).isEmpty)
        throw new Layout.FullRebuild
      shape(d)
    }
    val append =
      if (summing) Layout.Append(deltaOf, sumW)
      else Layout.Append(deltaOf)
    def ensure(): DataFrame =
      Layout.ensureDerived(spark, base, family, Seq("facts.parquet"),
        "k", buckets = buckets, append = Some(append)) {
        shape(spark.read.parquet(s"$base/facts.parquet"))
      }
    def expected(): DataFrame =
      shape(spark.read.parquet(s"$base/facts.parquet"))
    def artifactDir(): Path = fs.listStatus(new Path(wh)).map(_.getPath)
      .filter(_.getName.startsWith(s"graft_${family}_"))
      .maxBy(p => fs.getFileStatus(p).getModificationTime)
    def genMarker(): Option[String] = {
      val p = new Path(artifactDir(), "_graft_gen")
      if (fs.exists(p)) {
        val in = fs.open(p)
        try Some(scala.io.Source.fromInputStream(in).mkString.trim)
        finally in.close()
      } else None
    }
    def dataFiles(): Set[String] = fs.listStatus(artifactDir())
      .map(_.getPath.getName).filter(_.endsWith(".parquet")).toSet
    def raw(): DataFrame = spark.read.parquet(artifactDir().toString)
    def rawRows(): Long = raw().count()
    def assertContent(what: String): Unit = {
      val got = ensure()
      assert(got.exceptAll(expected()).isEmpty &&
        expected().exceptAll(got).isEmpty, s"$family $what content")
    }
    // one parquet file per "shard", like a corpus landing
    val f0 = Files.createTempDirectory(s"${family}_seed").toString
    shard(1L -> 1L, 2L -> 1L).coalesce(1).write.mode("overwrite").parquet(f0)
    val seed = fs.listStatus(new Path(f0)).map(_.getPath)
      .find(_.getName.endsWith(".parquet")).get
    assert(fs.rename(seed, new Path(s"$base/facts.parquet/part-0.parquet")))
    // generation 1: a fresh build — no marker
    assertContent("build")
    assert(genMarker() === None)
    val b0 = Layout.buildCount.get
    val r0 = Layout.refreshCount.get
    var gen = 1
    var sawCompaction = false
    val epochs = Layout.MaxGenerations + 1
    for (epoch <- 1 to epochs) {
      val before = dataFiles()
      // every shard repeats key 1 and adds one new key
      appendFile(s"$base/facts.parquet",
        shard(1L -> 1L, (100L + epoch) -> epoch.toLong))
      assertContent(s"epoch $epoch")
      val after = dataFiles()
      if (gen < Layout.MaxGenerations) {
        gen += 1
        assert(genMarker() === Some(gen.toString), s"epoch $epoch marker")
        assert(before.subsetOf(after),
          s"epoch $epoch: committed files must link forward: " +
            s"missing ${before -- after}")
        assert(after.size > before.size,
          s"epoch $epoch must append delta files")
        if (summing && epoch == 1) {
          assert(rawRows() === 4L,
            "multi-generation rows must coexist on disk (2 base + 2 delta)")
          // the read-side merge must ride the bucketing — no shuffle
          val mergePlan = ensure().queryExecution.executedPlan.toString
          assert(!mergePlan.contains("Exchange"),
            s"generational merge must be exchange-free:\n${mergePlan.take(2000)}")
        }
      } else {
        gen = 1
        sawCompaction = true
        assert(genMarker() === None, "compaction must reset the generation")
        assert(after.size <= buckets,
          s"compaction must collapse to <= $buckets files, got ${after.size}")
        if (summing)
          assert(rawRows() === raw().select("k").distinct().count(),
            "compaction must collapse generations to unique keys")
      }
      assert(after.size <= buckets * gen,
        s"epoch $epoch: ${after.size} files exceed buckets x generation $gen")
    }
    assert(sawCompaction, s"$family walk must cross the compaction epoch")
    assert(Layout.refreshCount.get === r0 + epochs)
    assert(Layout.buildCount.get === b0,
      "compaction is a refresh-path rewrite, not a from-scratch build")
    // FullRebuild from the delta kernel → the full build runs (content
    // right, generation reset), still counted as a refresh epoch
    appendFile(s"$base/facts.parquet", shard(9L -> 999L))
    assertContent("FullRebuild")
    assert(Layout.refreshCount.get === r0 + epochs + 1)
    assert(Layout.buildCount.get === b0 + 1)
    assert(genMarker() === None)
  }

  // the next two names predate the single Append form: the summing walk
  // covers what GenRefresh's merge covered, the identity walk what
  // refreshDelta's small-file compaction covered
  test("GenRefresh: generations append, compact past maxGenerations, FullRebuild falls back") {
    appendCompactionWalk("walk_sum", summing = true)
  }

  test("refreshDelta small-file compaction: file growth bounded, content row-identical") {
    appendCompactionWalk("walk_identity", summing = false)
  }

  test("copurch_edges generational append: base linked forward, weights sum across generations") {
    val base = Files.createTempDirectory("graft_edge_gen").toString + "/d"
    val pristine = Files.createTempDirectory("graft_edge_genf").toString + "/d"
    fs.mkdirs(new Path(base)); fs.mkdirs(new Path(pristine))
    seedAsDir(s"$sf/lineitem.parquet", s"$base/lineitem.parquet")
    val li = spark.read.parquet(s"$base/lineitem.parquet")
    graft.ext.Graph.coPurchaseEdges(spark, base).count()
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    def artifactDir(): Path = fs.listStatus(new Path(wh)).map(_.getPath)
      .filter(_.getName.startsWith("graft_copurch_edges_"))
      .maxBy(p => fs.getFileStatus(p).getModificationTime)
    val gen0 = artifactDir()
    val gen0Files = fs.listStatus(gen0).map(_.getPath.getName)
      .filter(_.endsWith(".parquet")).toSet
    // the shard: a BRAND-NEW order whose basket repeats a part pair that
    // already co-occurs — the delta generation must repeat a committed
    // (src, dst) key, and the merge must SUM the two generations
    val existingPair = graft.ext.Graph.coPurchaseEdges(spark, base)
      .filter(col("src") < col("dst"))
      .orderBy(col("src").asc, col("dst").asc).limit(1).head
    val (pa, pb) = (existingPair.getLong(0), existingPair.getLong(1))
    val wBefore = existingPair.getLong(2)
    val maxOrder = li.agg(max(col("l_orderkey"))).head.getLong(0)
    val liCols = li.columns.toSeq
    val extra = li.limit(1).drop("l_orderkey", "l_partkey")
      .crossJoin(spark.range(2).withColumnRenamed("id", "__i"))
      .withColumn("l_orderkey", lit(maxOrder + 77L))
      .withColumn("l_partkey",
        when(col("__i") === 0L, lit(pa)).otherwise(lit(pb)))
      .select(liCols.map(col): _*)
    val b0 = Layout.buildCount.get
    val r0 = Layout.refreshCount.get
    appendFile(s"$base/lineitem.parquet", extra)
    val refreshed = graft.ext.Graph.coPurchaseEdges(spark, base)
    assert(Layout.refreshCount.get === r0 + 1)
    assert(Layout.buildCount.get === b0,
      "edge append must take the generational path, not rebuild")
    // committed edge rows were NOT rewritten: gen0's files link forward
    val gen1 = artifactDir()
    assert(gen1.getName !== gen0.getName)
    val gen1Files = fs.listStatus(gen1).map(_.getPath.getName)
      .filter(_.endsWith(".parquet")).toSet
    assert(gen0Files.subsetOf(gen1Files),
      s"gen0 edge files must link forward: missing ${gen0Files -- gen1Files}")
    assert((gen1Files -- gen0Files).nonEmpty, "delta bucket files expected")
    assert(fs.exists(new Path(gen1, "_graft_gen")),
      "edge artifact must carry its generation marker")
    // the duplicated key exists TWICE raw, ONCE merged, with summed w
    val raw = spark.read.parquet(gen1.toString)
      .filter(col("src") === pa && col("dst") === pb)
    assert(raw.count() === 2L, "delta must repeat the committed key")
    val mergedW = refreshed
      .filter(col("src") === pa && col("dst") === pb)
      .head.getLong(2)
    assert(mergedW === wBefore + 1L, "generations must weight-sum at read")
    // and the merged view equals a from-scratch rebuild
    copyDir(s"$base/lineitem.parquet", s"$pristine/lineitem.parquet")
    val rebuilt = graft.ext.Graph.coPurchaseEdges(spark, pristine)
    assert(refreshed.exceptAll(rebuilt).isEmpty &&
      rebuilt.exceptAll(refreshed).isEmpty,
      "generational edge artifact diverged from the full rebuild")
  }

  test("copurch_edges across MANY epochs: generations accumulate, compaction fires, always rebuild-exact") {
    // eight appended shards walk the edge artifact through generations
    // 2..8 and across the maxGenerations=8 compaction boundary — every
    // epoch must stay row-identical to a from-scratch rebuild, and the
    // 9th-epoch artifact must be back to a single compacted generation
    val base = Files.createTempDirectory("graft_edge_epochs").toString + "/d"
    val pristine = Files.createTempDirectory("graft_edge_epochsf").toString + "/d"
    fs.mkdirs(new Path(base)); fs.mkdirs(new Path(pristine))
    seedAsDir(s"$sf/lineitem.parquet", s"$base/lineitem.parquet")
    val li = spark.read.parquet(s"$base/lineitem.parquet")
    val liCols = li.columns.toSeq
    val maxOrder = li.agg(max(col("l_orderkey"))).head.getLong(0)
    graft.ext.Graph.coPurchaseEdges(spark, base).count()
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    def genMarker(): Option[String] = {
      val dir = fs.listStatus(new Path(wh)).map(_.getPath)
        .filter(_.getName.startsWith("graft_copurch_edges_"))
        .maxBy(p => fs.getFileStatus(p).getModificationTime)
      val p = new Path(dir, "_graft_gen")
      if (fs.exists(p)) {
        val in = fs.open(p)
        try Some(scala.io.Source.fromInputStream(in).mkString.trim)
        finally in.close()
      } else None
    }
    assert(genMarker() === None)
    val b0 = Layout.buildCount.get
    // each epoch: a fresh 2-part order repeating one existing pair, plus
    // one brand-new pair — generations repeat committed keys every time
    val seedPair = graft.ext.Graph.coPurchaseEdges(spark, base)
      .filter(col("src") < col("dst"))
      .orderBy(col("src").asc, col("dst").asc).limit(1).head
    val (pa, pb) = (seedPair.getLong(0), seedPair.getLong(1))
    for (epoch <- 1 to 8) {
      val extra = li.limit(1).drop("l_orderkey", "l_partkey")
        .crossJoin(spark.range(4).withColumnRenamed("id", "__i"))
        .withColumn("l_orderkey",
          lit(maxOrder + 10L * epoch) + (col("__i") / 2).cast("long"))
        .withColumn("l_partkey",
          when(col("__i") % 2 === 0L,
            when(col("__i") < 2L, lit(pa)).otherwise(lit(900000L + epoch)))
            .otherwise(
              when(col("__i") < 2L, lit(pb)).otherwise(lit(910000L + epoch))))
        .select(liCols.map(col): _*)
      appendFile(s"$base/lineitem.parquet", extra)
      val refreshed = graft.ext.Graph.coPurchaseEdges(spark, base)
      val expectGen = if (epoch < 8) Some((epoch + 1).toString) else None
      assert(genMarker() === expectGen,
        s"epoch $epoch: expected generation $expectGen, got ${genMarker()}")
      // the repeated pair's weight must grow by exactly 1 per epoch
      assert(refreshed.filter(col("src") === pa && col("dst") === pb)
        .head.getLong(2) === seedPair.getLong(2) + epoch)
    }
    assert(Layout.buildCount.get === b0,
      "no epoch may fall back to the quadratic build")
    // epoch 8 crossed maxGenerations → compacted: unique keys on disk
    val finalDir = fs.listStatus(new Path(wh)).map(_.getPath)
      .filter(_.getName.startsWith("graft_copurch_edges_"))
      .maxBy(p => fs.getFileStatus(p).getModificationTime)
    val raw = spark.read.parquet(finalDir.toString)
    assert(raw.count() === raw.select("src", "dst").distinct().count(),
      "compaction must collapse to unique keys")
    // and the final artifact equals a from-scratch rebuild
    copyDir(s"$base/lineitem.parquet", s"$pristine/lineitem.parquet")
    val rebuilt = graft.ext.Graph.coPurchaseEdges(spark, pristine)
    val refreshed = graft.ext.Graph.coPurchaseEdges(spark, base)
    assert(refreshed.exceptAll(rebuilt).isEmpty &&
      rebuilt.exceptAll(refreshed).isEmpty,
      "8-epoch generational artifact diverged from the full rebuild")
  }

  test("copurch_census refreshes append-only and matches a full rebuild") {
    val base = Files.createTempDirectory("graft_census_incr").toString + "/d"
    val pristine = Files.createTempDirectory("graft_census_full").toString + "/d"
    fs.mkdirs(new Path(base)); fs.mkdirs(new Path(pristine))
    seedAsDir(s"$sf/lineitem.parquet", s"$base/lineitem.parquet")
    val li = spark.read.parquet(s"$base/lineitem.parquet")
    val maxOrder = li.agg(max(col("l_orderkey"))).first().getLong(0)
    // the shard: new memberships on EXISTING orders (pc grows, basket
    // total must NOT), duplicate rows (contribute nothing), and
    // BRAND-NEW orders (pc AND the sentinel basket total grow)
    val extra = li.orderBy(col("l_orderkey").asc, col("l_linenumber").asc)
      .limit(200)
      .withColumn("l_partkey", (col("l_partkey") + lit(7L)))
      .unionByName(li.orderBy(col("l_orderkey").asc,
        col("l_linenumber").asc).limit(50))
      .unionByName(li.orderBy(col("l_orderkey").asc,
        col("l_linenumber").asc).limit(30)
        .withColumn("l_orderkey", col("l_orderkey") + lit(maxOrder + 100L)))
    graft.ext.Graph.basketCensus(spark, base).count()
    val b0 = Layout.buildCount.get
    val r0 = Layout.refreshCount.get
    appendFile(s"$base/lineitem.parquet", extra)
    val refreshed = graft.ext.Graph.basketCensus(spark, base)
    assert(Layout.refreshCount.get === r0 + 1,
      "census must take the refresh path on an append")
    assert(Layout.buildCount.get === b0,
      "the raw-fact distinct+groupBy must NOT re-run on an append")
    copyDir(s"$base/lineitem.parquet", s"$pristine/lineitem.parquet")
    val rebuilt = graft.ext.Graph.basketCensus(spark, pristine)
    assert(refreshed.exceptAll(rebuilt).isEmpty &&
      rebuilt.exceptAll(refreshed).isEmpty,
      "refreshed census diverged from the full rebuild")
    // the sentinel grew by exactly the brand-new order count
    def total(df: org.apache.spark.sql.DataFrame): Long =
      df.filter(col("l_partkey") === -1L).first().getLong(1)
    val newOrders = spark.read.parquet(s"$pristine/lineitem.parquet")
      .filter(col("l_orderkey") > maxOrder)
      .select("l_orderkey").distinct().count()
    assert(newOrders > 0 && total(refreshed) === total(rebuilt))
    // consumer-level: part_affinity over refresh == over rebuild
    assert(graft.queries.Marketplace.partAffinity(spark, base)
      .collect().toSeq ===
      graft.queries.Marketplace.partAffinity(spark, pristine)
        .collect().toSeq,
      "part_affinity must be generation-invariant")
  }

  test("MaxBasket guard: a hot basket emits no pairs; cap-crossing append rebuilds") {
    val cap = graft.ext.Graph.MaxBasket
    val base = Files.createTempDirectory("graft_hot_base").toString + "/d"
    val pristine = Files.createTempDirectory("graft_hot_none").toString + "/d"
    fs.mkdirs(new Path(base)); fs.mkdirs(new Path(pristine))
    seedAsDir(s"$sf/lineitem.parquet", s"$base/lineitem.parquet")
    seedAsDir(s"$sf/lineitem.parquet", s"$pristine/lineitem.parquet")
    val li = spark.read.parquet(s"$base/lineitem.parquet")
    val liCols = li.columns.toSeq
    // one synthetic hot order holding cap+20 distinct parts, all of them
    // otherwise absent from the corpus — C(cap+20, 2) pairs if unguarded
    def hotRows(orderkey: Long, partBase: Long, n: Long): DataFrame =
      li.limit(1).drop("l_orderkey", "l_partkey")
        .crossJoin(spark.range(n).withColumnRenamed("id", "__i"))
        .withColumn("l_orderkey", lit(orderkey))
        .withColumn("l_partkey", col("__i") + lit(partBase))
        .select(liCols.map(col): _*)
    appendFile(s"$base/lineitem.parquet",
      hotRows(999999901L, 5000000L, cap + 20))
    val edges = graft.ext.Graph.coPurchaseEdges(spark, base)
    assert(edges.filter(col("src") >= 5000000L || col("dst") >= 5000000L)
      .isEmpty, "hot-basket parts must emit no pairs")
    // the bounded universe equals the corpus WITHOUT the hot order — for
    // the edge artifact and for part_affinity's denominators alike
    val cleanEdges = graft.ext.Graph.coPurchaseEdges(spark, pristine)
    assert(edges.exceptAll(cleanEdges).isEmpty &&
      cleanEdges.exceptAll(edges).isEmpty)
    assert(graft.queries.Marketplace.partAffinity(spark, base)
      .collect().toSeq ===
      graft.queries.Marketplace.partAffinity(spark, pristine)
        .collect().toSeq,
      "part_affinity must exclude the hot basket from pairs and denominators")

    // cap-CROSSING append: an existing under-cap order grows past the cap
    // in one delta — the one case base⊕delta cannot express; the refresh
    // must fall back to a from-scratch derivation that DROPS that order
    val firstOrder = li.agg(min(col("l_orderkey"))).first().getLong(0)
    val r0 = Layout.refreshCount.get
    appendFile(s"$base/lineitem.parquet",
      hotRows(firstOrder, 6000000L, cap + 5))
    val refreshed = graft.ext.Graph.coPurchaseEdges(spark, base)
      .select(col("src"), col("dst"), col("w").cast("long").as("w"))
    assert(Layout.refreshCount.get === r0 + 1,
      "append must still take the refresh path (fallback is internal)")
    copyDir(s"$base/lineitem.parquet", s"$pristine/lineitem2.parquet")
    fs.delete(new Path(s"$pristine/lineitem.parquet"), true)
    assert(fs.rename(new Path(s"$pristine/lineitem2.parquet"),
      new Path(s"$pristine/lineitem.parquet")))
    val rebuilt = graft.ext.Graph.coPurchaseEdges(spark, pristine)
      .select(col("src"), col("dst"), col("w").cast("long").as("w"))
    assert(refreshed.exceptAll(rebuilt).isEmpty &&
      rebuilt.exceptAll(refreshed).isEmpty,
      "cap-crossing refresh diverged from the full rebuild")
    assert(refreshed.filter(col("src") >= 6000000L).isEmpty,
      "the crossed order's new parts must not appear")
  }

  test("part_rank REBUILDS on a lineitem append (rank has no frozen-model refresh)") {
    val base = Files.createTempDirectory("graft_rank_incr").toString + "/d"
    fs.mkdirs(new Path(base))
    seedAsDir(s"$sf/lineitem.parquet", s"$base/lineitem.parquet")
    val before = graft.ext.Graph.partPageRank(spark, base).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val b0 = Layout.buildCount.get
    // new parts landing on existing orders changes the graph — the global
    // fixed point must RETRAIN (full rebuild), never serve frozen ranks
    val li = spark.read.parquet(s"$base/lineitem.parquet")
    val extra = li.orderBy(col("l_orderkey").asc, col("l_linenumber").asc)
      .limit(200).withColumn("l_partkey", col("l_partkey") + lit(900000L))
    appendFile(s"$base/lineitem.parquet", extra)
    val after = graft.ext.Graph.partPageRank(spark, base).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(Layout.buildCount.get >= b0 + 1,
      "appending to lineitem must trigger a full part_rank rebuild")
    assert(after !== before,
      "ranks must reflect the changed graph, not a stale artifact")
    // mass conservation still holds on the rebuilt frame: total rank is
    // within |nodes| picounit floor-divisions of the unit
    val total = graft.ext.Graph.partPageRank(spark, base, topK = 1000000)
      .agg(sum(col("rank_e12"))).collect()(0).getLong(0)
    assert(total <= 1000000000000L && total > 900000000000L, total.toString)
  }
}
