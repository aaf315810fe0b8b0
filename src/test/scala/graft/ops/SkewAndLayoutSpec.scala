package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

class SkewSpec extends SparkSpec {
  import spark.implicits._

  // Heavily skewed fact: 90% of rows share key 1.
  private def skewed = (1 to 1000).map { i =>
    (if (i <= 900) 1L else (i % 50).toLong, i.toLong)
  }.toDF("key", "row_id")

  test("saltedJoin equals the plain join on a skewed key") {
    val dim = (0L to 60L).map(k => (k, s"name$k")).toDF("k", "name")
    val plain = skewed.join(dim, col("key") === col("k"))
      .select("row_id", "name").as[(Long, String)].collect().sorted.toSeq
    val salted = Skew.saltedJoin(skewed, dim, "key", "k", col("row_id"))
      .select("row_id", "name").as[(Long, String)].collect().sorted.toSeq
    assert(salted === plain)
  }

  test("saltedDistinctCount equals exact countDistinct") {
    val df = skewed.withColumn("v", pmod(col("row_id"), lit(37)))
    val exact = df.groupBy("key").agg(countDistinct("v").as("n"))
      .as[(Long, Long)].collect().toMap
    val salted = Skew.saltedDistinctCount(
      df, col("key"), col("row_id"), col("v"), "n")
      .as[(Long, Int)].collect().map { case (k, n) => k -> n.toLong }.toMap
    assert(salted === exact)
  }

  test("AQE splits a skewed sort-merge join at runtime (skew=true in plan)") {
    // The third leg of the skew story: key_skew REPORTS hot keys, Skew.*
    // handles them explicitly, and AQE is the runtime net for the ones
    // nobody predicted. Prove the net actually catches: a hot key big
    // enough (under test-scaled thresholds) must show `skew=true` on the
    // executed SMJ and still produce exact results.
    val confs = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.get(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // the payload must be incompressible — skew detection reads the
      // COMPRESSED map-output sizes, and a constant key column alone
      // shrinks below any threshold
      val hot = (1 to 20000).map(i =>
        (if (i <= 19000) 1L else 100L + (i % 50).toLong, i.toLong))
        .toDF("key", "row_id")
        .withColumn("pad", sha2(concat(col("row_id").cast("string"),
          col("key").cast("string")), 512))
      val dim = (0L to 160L).map(k => (k, s"name$k")).toDF("k", "name")
      // NOTE no aggregate on the join key above the join: a keyed agg
      // would reuse the join's hash partitioning, and AQE refuses to
      // split a skewed join whose output partitioning a parent requires
      // (splitting would break it). The raw join result has no required
      // distribution, which is the case the optimization targets.
      val joined = hot.join(dim, col("key") === col("k"))
        .select(col("key"), col("name"), col("pad"))
      // collect through `joined` ITSELF so its AdaptiveSparkPlan is the
      // one that materializes (a derived Dataset would execute a sibling
      // QueryExecution and leave this plan isFinalPlan=false)
      val rows = joined.collect()
      assert(rows.length === 20000, "skew-split join lost or duplicated rows")
      assert(rows.count(_.getLong(0) == 1L) === 19000)
      assert(joined.queryExecution.executedPlan.toString.contains("skew=true"),
        "AQE did not mark the skewed join: " +
          joined.queryExecution.executedPlan.toString.take(2000))
    } finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }
}

/** Storage-layout shapes for scale: partitioned writes must prune at read
  * time (the parquet analog of the reference's status index,
  * `schema.prisma:54-56` — SURVEY §4).
  */
class LayoutSpec extends SparkSpec {

  test("bucketed co-located tables join with no shuffle exchange") {
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // force a shuffle-capable join so exchange-absence is meaningful
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Layout.writeBucketed(
        spark.read.parquet(s"$sf/orders.parquet"), "orders_b", "o_orderkey", buckets = 8)
      Layout.writeBucketed(
        spark.read.parquet(s"$sf/lineitem.parquet"), "lineitem_b", "l_orderkey", buckets = 8)
      val joined = spark.table("lineitem_b")
        .join(spark.table("orders_b"), col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle:\n$plan")
      val expected = spark.read.parquet(s"$sf/lineitem.parquet")
        .join(spark.read.parquet(s"$sf/orders.parquet"),
          col("l_orderkey") === col("o_orderkey")).count()
      assert(joined.count() === expected)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS lineitem_b")
    }
  }

  test("partitionBy(status) write prunes partitions on a status filter") {
    val dir = Files.createTempDirectory("graft_layout").toString
    spark.read.parquet(s"$sf/orders.parquet")
      .write.partitionBy("o_orderstatus").mode("overwrite")
      .parquet(s"$dir/orders_by_status")
    val read = spark.read.parquet(s"$dir/orders_by_status")
      .filter(col("o_orderstatus") === "O")
    // Row-count parity with the unpartitioned filter…
    val expected = spark.read.parquet(s"$sf/orders.parquet")
      .filter(col("o_orderstatus") === "O").count()
    assert(read.count() === expected)
    // …and the plan must prune: the partition filter appears as a
    // PartitionFilters entry, not a post-scan Filter.
    val plan = read.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(o_orderstatus"),
      s"partition pruning missing from plan:\n$plan")
  }

  test("zvalue interleaves bits (x even, y odd)") {
    import spark.implicits._
    val rows = Seq((0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L), (2L, 2L), (3L, 5L))
      .toDF("x", "y")
      .select(Layout.zvalue(col("x"), col("y")).as("z"))
      .as[Long].collect().toSeq
    // z(3,5): x bits at 0,2 → 1+4; y bits (101) at 1,5 → 2+32 ⇒ 39
    assert(rows === Seq(0L, 1L, 2L, 3L, 12L, 39L))
  }

  test("quantize maps the domain onto [0, 2^bits) with clamping") {
    import spark.implicits._
    val q = Seq(0.0, 50.0, 100.0, -5.0, 105.0).toDF("v")
      .select(Layout.quantize(col("v"), 0.0, 100.0, bits = 8).as("q"))
      .as[Long].collect().toSeq
    assert(q(0) === 0L && q(2) === 255L)
    assert(q(1) === 127L)          // midpoint → floor(0.5 * 255)
    assert(q(3) === 0L && q(4) === 255L) // out-of-domain values clamp
  }

  test("writeZOrdered keeps both dimensions locally dense per file") {
    val dir = Files.createTempDirectory("graft_zorder").toString + "/events_z"
    val events = graft.io.Tables.events(spark, sf)
      .select(col("user_id"), col("value"), col("event_id"))
    Layout.writeZOrdered(events, "user_id", "value", dir, outFiles = 8)
    val written = spark.read.parquet(dir)
    assert(written.count() === events.count())
    // Per-file bounding boxes in (user_id, value) space must be far
    // smaller than the global box — the data-skipping property. A random
    // shuffle would give every file the full box (ratio ≈ 1).
    val perFile = written
      .groupBy(input_file_name())
      .agg(
        (max(col("user_id")) - min(col("user_id"))).cast("double").as("dx"),
        (max(col("value")) - min(col("value"))).cast("double").as("dy"))
    val g = events.agg(
      (max(col("user_id")) - min(col("user_id"))).cast("double"),
      (max(col("value")) - min(col("value"))).cast("double")).collect()(0)
    val globalArea = g.getDouble(0) * g.getDouble(1)
    val avgArea = perFile.agg(avg(col("dx") * col("dy"))).collect()(0).getDouble(0)
    assert(avgArea < 0.5 * globalArea,
      s"z-order clustering too loose: avg file area $avgArea vs global $globalArea")
  }

  test("ensureZOrdered copy prunes row groups on a 2-D box; shuffled copy cannot") {
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    val zPath = Layout.ensureZOrdered(
      spark, sf, "zorder_orders", "orders.parquet", "o_custkey", "o_totalprice")
    // a ~25% box per dimension, derived from the data so the claim holds
    // at any SF
    val r = spark.read.parquet(s"$sf/orders.parquet")
      .agg(min(col("o_custkey")), max(col("o_custkey")),
        min(col("o_totalprice")), max(col("o_totalprice"))).head()
    val ck0 = r.getLong(0)
    val ck1 = ck0 + (r.getLong(1) - ck0) / 4
    val tp0 = r.getDouble(2)
    val tp1 = tp0 + (r.getDouble(3) - tp0) / 4
    // count row groups whose column min/max stats intersect the box — the
    // exact skip decision a parquet reader makes from the footers
    def overlap(path: String): (Int, Int) = {
      val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(conf)
      val files = fs.listStatus(new org.apache.hadoop.fs.Path(path))
        .map(_.getPath).filter(_.getName.endsWith(".parquet"))
      var total = 0
      var hit = 0
      files.foreach { f =>
        val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf))
        try rd.getFooter.getBlocks.asScala.foreach { b =>
          total += 1
          def st(name: String) = b.getColumns.asScala
            .find(_.getPath.toDotString == name).get.getStatistics
          val ck = st("o_custkey"); val tp = st("o_totalprice")
          val ckOk = ck.genericGetMax.asInstanceOf[java.lang.Long] >= ck0 &&
            ck.genericGetMin.asInstanceOf[java.lang.Long] <= ck1
          val tpOk = tp.genericGetMax.asInstanceOf[java.lang.Double] >= tp0 &&
            tp.genericGetMin.asInstanceOf[java.lang.Double] <= tp1
          if (ckOk && tpOk) hit += 1
        } finally rd.close()
      }
      (hit, total)
    }
    val (zHit, zTotal) = overlap(zPath)
    assert(zHit < zTotal,
      s"z-ordered copy prunes nothing: $zHit of $zTotal row groups overlap")
    // baseline: a hash-shuffled copy of the same rows — min/max spans the
    // whole domain in (nearly) every row group, so (almost) nothing skips
    val shuf = java.nio.file.Files.createTempDirectory("graft_shuf").toString + "/t"
    spark.read.parquet(s"$sf/orders.parquet").repartition(32)
      .write.mode("overwrite").parquet(shuf)
    val (sHit, sTotal) = overlap(shuf)
    assert(zHit.toDouble / zTotal < sHit.toDouble / sTotal,
      s"z-order ($zHit/$zTotal) must out-prune shuffled ($sHit/$sTotal)")
    // the clustered copy is a row permutation: registered-query semantics
    // are unchanged vs the raw table
    val zed = Layout.zorderScan(spark, sf).collect().toSeq
    val raw = spark.read.parquet(s"$sf/orders.parquet")
      .filter(col("o_custkey").between(100L, 400L) &&
        col("o_totalprice").between(50000.0, 150000.0))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)"))
          .cast("double").as("sum_total"),
        min(col("o_totalprice")).as("min_total"),
        max(col("o_totalprice")).as("max_total"))
      .orderBy(col("o_orderpriority").asc).collect().toSeq
    assert(zed === raw)
  }

  test("zorderScan over a warm warehouse starts no Spark job while it is built") {
    Layout.zorderScan(spark, sf) // builds or finds the artifact, reads its schema
    assert(jobsOf(Layout.zorderScan(spark, sf)) === 0)
  }

  test("an artifact rebuilt or compacted at its path is read with its new schema") {
    val dir = Files.createTempDirectory("graft_rebuilt").toString + "/z"
    val base = spark.range(2000).select(col("id").as("x"), (col("id") % 97).as("y"))
    Layout.writeZOrdered(base, "x", "y", dir, outFiles = 4)
    assert(graft.io.Tables.parquet(spark, dir).columns.toSeq === Seq("x", "y"))
    // rebuild in place with one more column
    Layout.writeZOrdered(base.withColumn("w", col("x") * 2), "x", "y", dir,
      outFiles = 4)
    def check(): Unit = {
      val df = graft.io.Tables.parquet(spark, dir)
      assert(df.columns.toSeq === Seq("x", "y", "w"))
      assert(df.agg(count(lit(1)), sum(col("w"))).head().toSeq ===
        Seq(2000L, 2L * (0L until 2000L).sum))
    }
    check()
    Layout.compact(spark, dir, targetFileBytes = 512L * 1024 * 1024)
    check()
  }

  test("compact auto-restores a table stranded under __backup by a crash") {
    val dir = Files.createTempDirectory("graft_compact_crash").toString + "/t"
    val df = spark.range(5000).withColumn("v", col("id") * 3)
    df.repartition(20).write.parquet(dir)
    val sumBefore = spark.read.parquet(dir).agg(sum("v")).collect()(0).getLong(0)
    // simulate a crash in the swap window: live path renamed to __backup,
    // replacement never arrived
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(
      new org.apache.hadoop.fs.Path(dir),
      new org.apache.hadoop.fs.Path(dir + "__backup")))
    Layout.compact(spark, dir, targetFileBytes = 512L * 1024 * 1024)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir + "__backup")))
    assert(spark.read.parquet(dir).agg(sum("v")).collect()(0).getLong(0) === sumBefore)
  }

  test("bucketedOrderItems GCs stale-tagged bucketed copies") {
    // plant a stale copy under a tag the census can never produce
    Layout.writeBucketed(
      spark.read.parquet(s"$sf/orders.parquet").select("o_orderkey", "o_orderstatus"),
      "graft_orders_bkt_deadstale", "o_orderkey", buckets = 8)
    assert(spark.catalog.tableExists("graft_orders_bkt_deadstale"))
    Layout.bucketedOrderItems(spark, sf).count()
    assert(!spark.catalog.tableExists("graft_orders_bkt_deadstale"),
      "stale bucketed table must be dropped when a new tag is ensured")
    // the live tag's tables survive for reuse within the session
    assert(spark.catalog.listTables().collect()
      .exists(_.name.startsWith("graft_orders_bkt_")))
  }

  test("ensureDerived re-registers a committed artifact from a prior session") {
    import org.apache.hadoop.fs.Path
    def src = spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_orderkey"), col("o_totalprice"))
    val built = Layout.ensureDerived(spark, sf, "test_reuse_src",
      Seq("orders.parquet"), "o_orderkey", buckets = 4)(src)
    val expected = built.count()
    val wh = new Path(spark.conf.get("spark.sql.warehouse.dir"))
    val fs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val srcDir = fs.listStatus(wh).map(_.getPath)
      .find(_.getName.startsWith("graft_test_reuse_src_")).get
    val tag = srcDir.getName.stripPrefix("graft_test_reuse_src_")
    // the on-disk state a NEW session sees: a committed dir, no catalog
    // entry (the tag hash does not include the family, so a copy under a
    // never-registered family simulates the fresh-session catalog)
    val dstDir = new Path(wh, s"graft_test_reuse_dst_$tag")
    org.apache.hadoop.fs.FileUtil.copy(fs, srcDir, fs, dstDir, false,
      spark.sparkContext.hadoopConfiguration)
    try {
      val reused = Layout.ensureDerived(spark, sf, "test_reuse_dst",
        Seq("orders.parquet"), "o_orderkey", buckets = 4)(
        fail("a committed surviving artifact must be re-registered, not rebuilt"))
      assert(reused.count() === expected)
      // the re-registered table keeps its bucket spec (exchange-free joins)
      val desc = spark.sql(
        s"DESCRIBE TABLE EXTENDED graft_test_reuse_dst_$tag")
        .collect().map(r => s"${r.get(0)}=${r.get(1)}").mkString("\n")
      assert(desc.contains("Num Buckets=4"), s"bucket spec lost:\n$desc")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS graft_test_reuse_dst_$tag")
      fs.delete(dstDir, true)
      spark.sql(s"DROP TABLE IF EXISTS graft_test_reuse_src_$tag")
    }
  }

  test("ensureDerived rebuilds over a partial (uncommitted) surviving dir") {
    import org.apache.hadoop.fs.Path
    def src = spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_orderkey"), col("o_orderstatus"))
    Layout.ensureDerived(spark, sf, "test_partial",
      Seq("orders.parquet"), "o_orderkey", buckets = 4)(src)
    val wh = new Path(spark.conf.get("spark.sql.warehouse.dir"))
    val fs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = fs.listStatus(wh).map(_.getPath)
      .find(_.getName.startsWith("graft_test_partial_")).get
    val tag = dir.getName.stripPrefix("graft_test_partial_")
    // simulate a writer killed mid-job: drop the (external) table AND its
    // committed files, leave a partial dir with data but NO _SUCCESS
    spark.sql(s"DROP TABLE IF EXISTS graft_test_partial_$tag")
    fs.delete(dir, true)
    fs.mkdirs(dir)
    val junk = new Path(dir, "part-00000-junk.snappy.parquet")
    fs.create(junk).close()
    try {
      var rebuilt = false
      val out = Layout.ensureDerived(spark, sf, "test_partial",
        Seq("orders.parquet"), "o_orderkey", buckets = 4) {
        rebuilt = true; src
      }
      assert(rebuilt, "an uncommitted dir must be cleared and rebuilt")
      assert(out.count() === src.count())
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS graft_test_partial_$tag")
    }
  }

  test("warehouse fact joins ride the co-bucketed layout: no shuffle below lineitem⋈orders") {
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevA = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val qs = Seq(
        "shipping_priority" ->
          graft.queries.Marketplace.shippingPriority(spark, sf),
        "local_supplier_volume" ->
          graft.queries.Marketplace.localSupplierVolume(spark, sf),
        "supplier_scorecard" ->
          graft.queries.Marketplace.supplierScorecard(spark, sf),
        "returned_item_loss" ->
          graft.queries.Marketplace.returnedItemLoss(spark, sf),
        "volume_shipping" ->
          graft.queries.Marketplace.volumeShipping(spark, sf),
        "product_type_profit" ->
          graft.queries.Marketplace.productTypeProfit(spark, sf),
        // Q18: the per-order quantity rollup AND the orders join must both
        // ride the bucket distribution — no exchange below either
        "large_volume_customers" ->
          graft.queries.Marketplace.largeVolumeCustomers(spark, sf))
      qs.foreach { case (name, df) =>
        val phys = df.queryExecution.executedPlan
        val factJoins = phys.collect {
          case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec
            if j.leftKeys.exists(_.toString.contains("orderkey")) &&
              j.rightKeys.exists(_.toString.contains("orderkey")) => j
          case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
            if j.leftKeys.exists(_.toString.contains("orderkey")) &&
              j.rightKeys.exists(_.toString.contains("orderkey")) => j
        }
        assert(factJoins.nonEmpty, s"$name lost its order-key fact join")
        factJoins.foreach { j =>
          val shuffles = j.collect {
            case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
          }
          assert(shuffles.isEmpty,
            s"$name: lineitem⋈orders must be exchange-free on the " +
              s"co-bucketed layout, found:\n$j")
        }
      }
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
      spark.conf.set("spark.sql.adaptive.enabled", prevA)
    }
  }

  test("registered bucketed_join query plans with no shuffle exchange") {
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val q = Layout.bucketedOrderItems(spark, sf, buckets = 8)
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed fact⋈fact query must not shuffle:\n$plan")
      // content parity with the plain parquet-scan formulation
      val expected = graft.io.Tables.lineitem(spark, sf)
        .join(graft.io.Tables.orders(spark, sf),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderkey"))
        .agg(count(lit(1)).as("n_items"))
        .orderBy(col("o_orderkey").asc).limit(100)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val got = q.select("o_orderkey", "n_items")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got === expected)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.catalog.listTables().collect()
        .filter(_.name.startsWith("graft_"))
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${t.name}"))
    }
  }

  test("compact rewrites many small files into few, content-identical") {
    val dir = Files.createTempDirectory("graft_compact").toString + "/t"
    val df = spark.range(10000).withColumn("v", col("id") * 2)
    df.repartition(40).write.parquet(dir)
    val before = new java.io.File(dir).listFiles.count(_.getName.endsWith(".parquet"))
    assert(before >= 30)
    val sumBefore = spark.read.parquet(dir).agg(sum("v")).collect()(0).getLong(0)
    Layout.compact(spark, dir, targetFileBytes = 512L * 1024 * 1024)
    val after = new java.io.File(dir).listFiles.count(_.getName.endsWith(".parquet"))
    assert(after < 5, s"expected few files after compact, got $after")
    assert(spark.read.parquet(dir).agg(sum("v")).collect()(0).getLong(0) === sumBefore)
  }
}
