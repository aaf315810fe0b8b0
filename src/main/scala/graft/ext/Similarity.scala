package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.io.Tables

/** Similarity search over the `embeddings` table (vec_id, embedding
  * array<float>, label) — LLM-pipeline north-star capability.
  *
  * Baseline: brute-force cosine top-k (exact; the oracle-checkable path).
  * Scale path: random-hyperplane LSH bucketing — candidates share an
  * (8-bit band idx, 8-bit signature) key, so the join is bucket-local
  * instead of a full cross product. Hyperplane ±1 components come from a
  * fixed-seed PRNG ([[hyperplaneSigns]]): fully deterministic, no stored
  * model, reproducible on any cluster, and embedded verbatim as SQL
  * array literals in the generated oracle twins.
  *
  * Vector math uses the native codegen [[graft.functions.DotProduct]]
  * expression (floats widened per element → bit-identical to the DuckDB
  * DOUBLE[] oracle); each projection is one graft_dot against a constant
  * plane in a narrow map stage, and the per-band rows are emitted by a
  * single 8-element explode (never Spark's interpreted array lambdas —
  * see Dedup's scaladoc).
  */
object Similarity {

  /** vec_id + raw float vector + its L2 norm (computed natively). */
  private def withNorm(spark: SparkSession, df: DataFrame): DataFrame = {
    GraftFunctions.register(spark)
    df.withColumn("__norm", sqrt(expr("graft_dot(embedding, embedding)")))
  }

  private val simExpr: Column =
    expr("graft_dot(q_vec, c_vec)") / (col("q_norm") * col("c_norm"))

  /** A top-k retrieval over the first `nProbes` vectors:
    * `(spark, sfDir, nProbes, k)` → rows keyed (q_id, nn_rank,
    * neighbor_id). Every search below has this shape, and the recall
    * harness ([[annRecall]], [[retrievalMetrics]]) takes one.
    */
  type Retrieval = (SparkSession, String, Int, Int) => DataFrame

  /** The exact-cosine top-k tail every cosine retrieval ends in: score
    * (q_id, c_id) pairs carrying both vectors and norms, keep each
    * probe's `k` best (sim desc, c_id asc), and emit the (q_id, nn_rank,
    * neighbor_id, cosine_sim) contract. The vectors are dropped before
    * the per-probe window, so its exchange moves only narrow rows.
    */
  private def cosineTopK(pairs: DataFrame, k: Int): DataFrame =
    pairs.select(col("q_id"), col("c_id"), simExpr.as("sim"))
      .withColumn("nn_rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("c_id").asc)))
      .filter(col("nn_rank") <= k)
      .select(col("q_id"), col("nn_rank"), col("c_id").as("neighbor_id"),
        round(col("sim"), 6).as("cosine_sim"))
      .orderBy(col("q_id").asc, col("nn_rank").asc)

  /** The probe slice (q_id, q_vec, q_norm) — filtered to
    * `vec_id < nProbes` at the scan, so a broadcast of it never ships
    * the corpus — and the corpus side (c_id, c_vec, c_norm).
    */
  private def probesAndCorpus(
      spark: SparkSession, sfDir: String, nProbes: Int): (DataFrame, DataFrame) = {
    val emb = withNorm(spark, Tables.embeddings(spark, sfDir))
    (emb.filter(col("vec_id") < nProbes).select(col("vec_id").as("q_id"),
      col("embedding").as("q_vec"), col("__norm").as("q_norm")),
      emb.select(col("vec_id").as("c_id"),
        col("embedding").as("c_vec"), col("__norm").as("c_norm")))
  }

  /** Raw vectors for a (q_id, c_id) candidate list, ready for
    * [[cosineTopK]]. The candidates joined to the probe slice are the
    * BROADCAST side and the corpus streams past them: unhinted, Spark's
    * size estimate broadcast the whole embeddings scan instead (a corpus
    * collect through the driver, plans/r14/ann_recall_before.txt node
    * 30); at 100 TB only the candidate side can ever ship.
    */
  private def fetchCandidates(
      spark: SparkSession, sfDir: String, cands: DataFrame,
      nProbes: Int): DataFrame = {
    val (q, c) = probesAndCorpus(spark, sfDir, nProbes)
    broadcast(cands.join(broadcast(q), Seq("q_id"))).join(c, Seq("c_id"))
  }

  /** Exact top-k cosine neighbors for the first `nProbes` vectors.
    *
    * Scale shape: the probe side is tiny and broadcast; the corpus is
    * scanned once. For all-pairs jobs use [[lshTopK]] /
    * [[embeddingNearDupPairs]].
    */
  def bruteForceTopK(
      spark: SparkSession, sfDir: String, nProbes: Int = 5, k: Int = 5): DataFrame = {
    val (probes, corpus) = probesAndCorpus(spark, sfDir, nProbes)
    cosineTopK(broadcast(probes).crossJoin(corpus)
      .filter(col("q_id") =!= col("c_id")), k)
  }

  private[graft] val Bands = 8
  private[graft] val BitsPerBand = 8
  private val EmbeddingDim = 64

  /** Deterministic ±1 hyperplane signs (seeded PRNG — reproducible on any
    * cluster, no stored model). Shared with the generated oracle twins,
    * which embed the SAME signs as SQL array literals — `graft_dot`
    * against a ±1 constant and DuckDB `list_inner_product` fold
    * identically, so band signatures match bit-for-bit.
    */
  private[graft] lazy val hyperplaneSigns: IndexedSeq[IndexedSeq[Int]] = {
    val rnd = new java.util.Random(42)
    IndexedSeq.fill(Bands * BitsPerBand) {
      IndexedSeq.fill(EmbeddingDim)(if (rnd.nextBoolean()) 1 else -1)
    }
  }

  /** [[hyperplaneSigns]] as plan-time `array(...)` literals. */
  private lazy val hyperplanes: IndexedSeq[String] =
    hyperplaneSigns.map(_.map(s => if (s > 0) "1D" else "-1D")
      .mkString("array(", ",", ")"))

  /** Random-hyperplane band signatures: 8 bands × 8 bits (collision rate
    * tuned so near-neighbors of RANDOM 64-d vectors still collide). Each
    * projection is one native graft_dot against a constant hyperplane in
    * a pure narrow map stage — NO shuffle; the only row expansion is the
    * final 8-element band explode (8 fixed-width rows per vector). At
    * 100 TB the signature pass streams the embedding column once.
    */
  private def bandSignatures(spark: SparkSession, sfDir: String): DataFrame = {
    GraftFunctions.register(spark)
    val projCols: Seq[Column] = (0 until Bands * BitsPerBand).map { p =>
      expr(s"graft_dot(embedding, ${hyperplanes(p)})").as(s"__p$p")
    }
    val projected = Tables.embeddings(spark, sfDir)
      .select((col("vec_id") +: projCols): _*)
    val bandCols = (0 until Bands).map { bnd =>
      val sig: Column = (0 until BitsPerBand).map { j =>
        when(col(s"__p${bnd * BitsPerBand + j}") > 0, shiftleft(lit(1L), j))
          .otherwise(lit(0L))
      }.reduce(_ + _)
      struct(lit(bnd).as("idx"), sig.as("sig"))
    }
    projected
      .select(col("vec_id"), explode(array(bandCols: _*)).as("band"))
      .select(col("vec_id"),
        col("band.idx").as("band_idx"), col("band.sig").as("band_sig"))
  }

  /** LSH-bucketed approximate top-k: candidates = corpus vectors sharing
    * ≥1 band signature with the probe; exact cosine re-rank on candidates.
    * Recall < 1 by design (property-tested vs brute force), but the
    * RESULT is deterministic and oracle-checked — the generated twin
    * rebuilds the same band signatures from the embedded hyperplanes.
    */
  def lshTopK(
      spark: SparkSession, sfDir: String, nProbes: Int = 5, k: Int = 5): DataFrame = {
    // ONE lazy plan, probe-side BROADCAST, no persist (r14): the probe
    // leg's scan takes the `vec_id < nProbes` pushdown, so its signature
    // pass touches only nProbes vectors (≤ nProbes×Bands = 40 band rows
    // at the default) — sharing the corpus-wide signature pass with it
    // via persist bought nothing and cost a 1.6M-row cache build plus a
    // band-key Exchange of the whole corpus side. Broadcasting the probe
    // rows turns the bucket probe into one BroadcastHashJoin the corpus
    // signature pass streams through: ONE 64-projection pass, ZERO corpus
    // exchanges before the (tiny) candidate distinct. Nothing is
    // materialized through the driver any more (the r13 driver pin
    // serialized this leg against its consumers' other legs — measured:
    // ann_recall/retrieval_metrics lost the brute∥LSH stage overlap);
    // the rerank fetch broadcasts the post-distinct candidates
    // (`fetchCandidates`).
    val banded = bandSignatures(spark, sfDir)
    val candIds = banded
      .select(col("band_idx"), col("band_sig"), col("vec_id").as("c_id"))
      .join(broadcast(banded.filter(col("vec_id") < nProbes)
        .select(col("band_idx"), col("band_sig"), col("vec_id").as("q_id"))),
        Seq("band_idx", "band_sig"))
      .filter(col("q_id") =!= col("c_id"))
      .select("q_id", "c_id").distinct()
    cosineTopK(fetchCandidates(spark, sfDir, candIds, nProbes), k)
  }

  // ───────────────────────── IVF cell-layout artifact ──────────────────
  // The ANN config. The maintained index artifacts are built for exactly
  // this shape, and every IVF / IVF-PQ search runs against them.
  private[graft] val IvfNCells = 16
  private val IvfCellProbes = 4
  private val IvfTrainIters = 5
  /** ADC shortlist depth before the exact re-rank, as a multiple of k —
    * see [[ivfPqRerankTopK]] for the measured recall-vs-depth curve. */
  private val PqShortlistFactor = 24

  /** Version of the TRAINED-quantizer lineage: bump when
    * [[kmeansModelInt]]'s quantization/training changes. Shared by the
    * `ivf_model` artifact AND every artifact derived from it
    * (`ivf_cells_trained`), so a trainer change invalidates the whole
    * lineage together — a model bump with an unchanged embeddings census
    * must never leave a derived index serving the old model's bucketing.
    */
  private val IvfModelVersion = 1
  private val PqSubspaces = 4
  private val PqCodebookSize = 16

  /** The collected seed quantizer: ascending-vec_id rows with their raw
    * float vectors and precomputed norms — a bounded k-row model fetch
    * (the coarse quantizer IS a driver-side model in every IVF system).
    */
  private case class SeedModel(ids: Seq[Long], vecs: Seq[Seq[Float]], norms: Seq[Double]) {
    def size: Int = ids.size
    /** Unit-normalized centroid as driver doubles — fed to the derive
      * plan as ONE array Literal per centroid (r13; the former
      * expr()-string form parsed the same doubles, Double.toString
      * round-tripping exactly, so both constructions are bit-identical).
      */
    def unitVec(i: Int): Array[Double] =
      vecs(i).map(v => v / norms(i)).toArray
  }

  /** Collect the `n` lowest-id rows of a (vec_id, embedding, norm-named-
    * whatever) frame as the seed model. orderBy + limit, not `vec_id < n`:
    * ids may be sparse or non-zero-based.
    */
  private def collectSeeds(embWithNorm: DataFrame, n: Int): SeedModel = {
    val rows = embWithNorm.orderBy(col("vec_id").asc).limit(n).collect().toSeq
    SeedModel(
      rows.map(_.getLong(0)),
      rows.map(_.getSeq[Float](1).toSeq),
      rows.map(_.getDouble(2)))
  }

  /** graft_dot's fold, on the driver: floats widened per element, summed
    * left-to-right — bit-identical to the codegen'd expression (and to the
    * DuckDB twin's `list_inner_product`).
    */
  private def dotFD(a: Seq[Float], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { s += a(i).toDouble * b(i); i += 1 }
    s
  }

  /** Derive the full per-vector index row set from a (vec_id, embedding,
    * label, __norm) frame under a FIXED seed quantizer — the build kernel
    * of [[ivfCellIndex]], also applied to just the delta rows on an
    * append-only refresh. Columns:
    *   - `cell`     dot-space assignment labeled by centroid vec_id
    *                ([[ivfTopK]]'s exact expression),
    *   - `cell_id`  cosine-space assignment labeled by seed rank
    *                ([[kmeansSeedAssign]]'s exact expression; same argmax
    *                up to the positive per-row norm factor, but ties can
    *                differ at rounding boundaries so BOTH labelings are
    *                stored and each consumer reads its own),
    *   - `sim`      cosine to the `cell_id` centroid (raw double),
    *   - `code0..3` PQ codes under the seed codebook ([[pqCodes]]'s exact
    *                argmin) when the corpus is [[EmbeddingDim]]-dimensional
    *                with a full codebook; null otherwise (degenerate
    *                corpora the PQ paths reject anyway).
    */
  private def ivfDeriveColumns(emb: DataFrame, sm: SeedModel): DataFrame = {
    // Direct-Column construction (GraftFunctions.dot + one array-Literal
    // node per centroid) instead of `expr()` strings: this plan embeds
    // 16 seeds × 64 doubles × 2 score families + 64 codebook subvectors,
    // and parsing+analyzing them as CreateArray trees dominated the
    // per-call plan cost (ProfileIngest: ~0.7 s fixed at 10 rows — paid
    // per streaming micro-batch). Same Literal doubles, same DotProduct
    // node, bit-identical results; only the plan-build cost moves.
    val gdot = graft.functions.GraftFunctions.dot _
    val unitLits = (0 until sm.size).map(i => lit(sm.unitVec(i)))
    val cellScores = (0 until sm.size).map { i =>
      struct(gdot(col("embedding"), unitLits(i)).as("s"),
        lit(-sm.ids(i)).as("negid"))
    }
    val rankScores = (0 until sm.size).map { i =>
      struct((gdot(col("embedding"), unitLits(i)) / col("__norm")).as("s"),
        lit(-i.toLong).as("negid"))
    }
    val subDim = EmbeddingDim / PqSubspaces
    val pqReady = sm.size == PqCodebookSize &&
      sm.vecs.forall(_.length == EmbeddingDim)
    def cbArr(m: Int, j: Int): Array[Double] =
      sm.vecs(j).slice(m * subDim, (m + 1) * subDim)
        .map(_.toDouble).toArray
    // c·c, folded on the driver with the expression's own left-to-right
    // summation (the expr() form folded it at plan time to the same
    // double — graft_dot over two equal double-array literals)
    def dotDD(c: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < c.length) { s += c(i) * c(i); i += 1 }
      s
    }
    val codeCols = (0 until PqSubspaces).map { m =>
      if (!pqReady) lit(null).cast("int").as(s"code$m")
      else {
        val sub = slice(col("embedding"), m * subDim + 1, subDim)
        val cands = (0 until PqCodebookSize).map { j =>
          val c = cbArr(m, j)
          struct((lit(dotDD(c)) - lit(2.0) * gdot(sub, lit(c)))
            .as("dist"), lit(j).as("j"))
        }
        least(cands: _*).getField("j").as(s"code$m")
      }
    }
    emb
      .withColumn("__best", greatest(rankScores: _*))
      .select(Seq(
        col("vec_id"), col("label"), col("embedding"),
        col("__norm").as("norm"),
        (-greatest(cellScores: _*).getField("negid")).as("cell"),
        (-col("__best.negid")).as("cell_id"),
        col("__best.s").as("sim")) ++ codeCols: _*)
  }

  /** Derive index rows for a (vec_id, embedding, label) batch under a
    * FROZEN quantizer given as a seed-vector frame — the kernel
    * [[graft.streaming.CorpusIngest.ingestVectors]] applies per
    * micro-batch, identical to [[ivfCellIndex]]'s append-refresh
    * derivation (same assignments, same PQ codes), so a streamed index
    * and a batch-refreshed one agree row-for-row.
    */
  private[graft] def deriveIndexRows(
      spark: SparkSession, batch: DataFrame, seeds: DataFrame): DataFrame = {
    GraftFunctions.register(spark)
    // a streaming micro-batch hands over frames from CLONED sessions whose
    // function registries were snapshotted before this call — register on
    // every session a plan here will be analyzed under
    GraftFunctions.register(batch.sparkSession)
    GraftFunctions.register(seeds.sparkSession)
    val sm = collectSeeds(
      withNorm(spark, seeds).select(col("vec_id"), col("embedding"), col("__norm")),
      IvfNCells)
    ivfDeriveColumns(
      withNorm(spark, batch)
        .select(col("vec_id"), col("embedding"), col("label"), col("__norm")),
      sm)
  }

  /** The maintained ANN index artifact — the deploy shape [[ivfTopK]]'s
    * scaladoc promises: the corpus written ONCE per sfDir as a
    * bucketed-on-`cell` parquet table carrying the seed-quantizer cell
    * assignments (both labelings), norms, and PQ codes, via
    * [[graft.ops.Layout.ensureDerived]]. Every ANN/semantic consumer then
    * reads THIS table with a static cell filter — a bucket-pruned scan
    * (`SelectedBucketsCount < total` in the plan) instead of re-scanning
    * and re-quantizing `embeddings.parquet` per call; cell-keyed
    * self-joins co-locate on the bucket key.
    *
    * Append-only refresh (the 100 TB ingest shape): the quantizer is
    * FROZEN — new shards are assigned/encoded against the seeds read from
    * the committed artifact, and only the delta rows are derived. When an
    * appended shard could change the seed set itself (ids below the
    * current seed ceiling, or a corpus still smaller than the seed count),
    * the kernel falls back to a full re-derive over all files — refresh
    * output must be bit-identical to a from-scratch build, and the
    * lowest-id seed contract makes that checkable from ids alone.
    */
  def ivfCellIndex(spark: SparkSession, sfDir: String): DataFrame = {
    GraftFunctions.register(spark)
    def derive(src: DataFrame, sm: SeedModel): DataFrame =
      ivfDeriveColumns(src, sm)
    def full(src: DataFrame): DataFrame = {
      val withN = withNorm(spark, src)
        .select(col("vec_id"), col("embedding"), col("label"), col("__norm"))
      derive(withN, collectSeeds(
        withN.select("vec_id", "embedding", "__norm"), IvfNCells))
    }
    graft.ops.Layout.ensureDerived(
      spark, sfDir, "ivf_cells", Seq("embeddings.parquet"),
      key = "cell", buckets = 32, version = 1,
      // partition-level append: new vectors assign/encode against the
      // FROZEN quantizer and land as delta bucket files next to the
      // hardlinked committed rows — the corpus-sized index is never
      // rewritten by a shard. An append that invalidates the frozen
      // seeds (id under the seed ceiling, or a corpus still smaller than
      // the seed count) signals FullRebuild → the full build re-derives.
      refreshDelta = Some { ctx =>
        val old = ctx.oldArtifact
        val oldSeeds = collectSeeds(
          old.select(col("vec_id"), col("embedding"), col("norm")), IvfNCells)
        val added = spark.read.parquet(ctx.addedFiles: _*)
        // one tiny agg over the DELTA only: the frozen quantizer stays
        // valid iff no added id undercuts the current seed ceiling
        val minAdded = added.agg(min(col("vec_id"))).first() match {
          case r if r.isNullAt(0) => Long.MaxValue
          case r                  => r.getLong(0)
        }
        if (oldSeeds.size < IvfNCells || minAdded <= oldSeeds.ids.max)
          throw new graft.ops.Layout.FullRebuild
        val addedN = withNorm(spark, added)
          .select(col("vec_id"), col("embedding"), col("label"), col("__norm"))
        derive(addedN, oldSeeds)
      }) {
      full(Tables.embeddings(spark, sfDir))
    }
  }

  /** Probes routed into an IVF index: (q_id, embedding, norm) per probe,
    * and their candidates — every other index row in a probe's routed
    * cells, with the probe's `q_id` beside the index columns. */
  private case class ProbeRoute(
      probes: Seq[(Long, Seq[Float], Double)], candidates: DataFrame)

  /** An IVF search's driver-side prelude, shared by the seeded, trained
    * and PQ searches: the first `nProbes` vectors fetched off `index`
    * (a bounded nProbes-row collect), each routed to its
    * [[IvfCellProbes]] best cells by [[dotFD]] against the unit centroids
    * `cells` (cell label → unit vector, in label order, so the index
    * tie-break IS the cell-asc tie-break), and the candidates read off
    * `index` pruned to the routed cells. Routing at the driver is what
    * turns candidate retrieval into a STATIC `cell IN (...)` filter the
    * bucketed scan can prune on (a join-derived cell set would defeat
    * bucket pruning). The candidates are ONE broadcast equi-join against
    * the pruned index — a vector lives in exactly one cell and the routed
    * (q_id, cell) rows are unique, so (q_id, vec_id) pairs cannot
    * duplicate: no `distinct`, no candidate-id re-join (each of those was
    * a full candidate-set shuffle, the second one carrying vector
    * payloads — tier N measured the pair costing ~2× the whole search at
    * 200k vectors).
    */
  private def routeProbes(
      spark: SparkSession, index: DataFrame, nProbes: Int,
      cells: IndexedSeq[(Long, Array[Double])]): ProbeRoute = {
    val sp = spark; import sp.implicits._
    val probes = index.filter(col("vec_id") < nProbes)
      .select(col("vec_id"), col("embedding"), col("norm"))
      .collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Float](1).toSeq, r.getDouble(2)))
    val routed = probes.flatMap { case (qid, qv, _) =>
      cells.indices
        .map(i => (dotFD(qv, cells(i)._2), i))
        .sortBy { case (s, i) => (-s, i) }
        .take(IvfCellProbes)
        .map { case (_, i) => (qid, cells(i)._1) }
    }
    val wanted = routed.map(_._2).distinct.sorted
    ProbeRoute(probes, broadcast(routed.toDF("q_id", "cell"))
      .join(index.filter(col("cell").isin(wanted: _*)), Seq("cell"))
      .filter(col("q_id") =!= col("vec_id")))
  }

  /** The seed quantizer's cells for [[routeProbes]]: centroid vec_id →
    * unit centroid. */
  private def seedCells(sm: SeedModel): IndexedSeq[(Long, Array[Double])] =
    (0 until sm.size).map(i => (sm.ids(i), sm.unitVec(i)))

  /** Exact-cosine search of routed probes' candidates; norms and
    * vectors come straight off the index. */
  private def prunedProbeTopK(
      spark: SparkSession, route: ProbeRoute, k: Int): DataFrame = {
    val sp = spark; import sp.implicits._
    val q = route.probes.toDF("q_id", "q_vec", "q_norm")
    cosineTopK(route.candidates
      .select(col("q_id"), col("vec_id").as("c_id"),
        col("embedding").as("c_vec"), col("norm").as("c_norm"))
      .join(broadcast(q), Seq("q_id")), k)
  }

  /** IVF (inverted-file) approximate top-k — the FAISS-style scale path
    * complementing the hyperplane-LSH variant: a tiny coarse quantizer
    * (the [[IvfNCells]] lowest-id vectors) partitions the corpus into
    * cells; queries search only their [[IvfCellProbes]] nearest cells.
    *
    * The search runs against the MAINTAINED [[ivfCellIndex]] artifact:
    * probe routing is driver-side query planning (nProbes×nCells dots),
    * candidates come from a bucket-PRUNED scan of only the probed cells'
    * buckets, and the exact re-rank reads norms/vectors straight off the
    * index — `embeddings.parquet` is never touched.
    *
    * Recall < 1 by design (property-tested vs brute force).
    */
  def ivfTopK(
      spark: SparkSession, sfDir: String, nProbes: Int = 5, k: Int = 5): DataFrame = {
    val index = ivfCellIndex(spark, sfDir)
    val sm = collectSeeds(
      index.select(col("vec_id"), col("embedding"), col("norm")), IvfNCells)
    prunedProbeTopK(spark, routeProbes(spark, index, nProbes, seedCells(sm)), k)
  }

  /** Embedding-space near-duplicate pairs, exact all-pairs formulation
    * (oracle-checked): every pair with cosine ≥ threshold. Quadratic — the
    * correctness baseline; at corpus scale use [[embeddingNearDupPairsLSH]].
    *
    * Guarded: the cross join is refused above `maxExact` vectors (a cheap
    * metadata-level count) instead of silently launching an n² job — a
    * 10M-vector corpus is 5×10¹³ candidate pairs; past the cap callers must
    * opt into the LSH variant explicitly (auto-switching would silently
    * change recall semantics under the same API).
    *
    * The default threshold 0.4 is tuned to the synthetic corpus (random
    * 64-d vectors peak at cos≈0.48); a production near-dup filter on real
    * embeddings would use ≥0.9.
    */
  def embeddingNearDupPairs(
      spark: SparkSession, sfDir: String, threshold: Double = 0.4,
      maxExact: Long = 100000L): DataFrame = {
    // footer metadata count, not a count() action: the guard validates a
    // precondition, it must not cost a corpus scan per call
    val n = Tables.parquetRowCount(spark, sfDir, "embeddings")
    require(n <= maxExact,
      s"embeddingNearDupPairs: $n vectors exceeds the exact all-pairs cap " +
        s"$maxExact (${BigInt(n) * n / 2} candidate pairs); use " +
        "embeddingNearDupPairsLSH for corpus-scale near-dup")
    val emb = withNorm(spark, Tables.embeddings(spark, sfDir))
    val a = emb.select(col("vec_id").as("q_id"),
      col("embedding").as("q_vec"), col("__norm").as("q_norm"))
    val b = emb.select(col("vec_id").as("c_id"),
      col("embedding").as("c_vec"), col("__norm").as("c_norm"))
    a.crossJoin(b)
      .filter(col("q_id") < col("c_id"))
      .withColumn("sim", simExpr)
      .filter(col("sim") >= threshold)
      .select(col("q_id").as("vec_a"), col("c_id").as("vec_b"),
        round(col("sim"), 6).as("cosine_sim"))
      .orderBy(col("vec_a").asc, col("vec_b").asc)
  }

  /** The LSH-bucketed near-dup variant (the 100 TB path: bucket-local
    * pairs instead of the full cross product; recall < 1 by design, the
    * result deterministic and oracle-checked like [[lshTopK]]).
    */
  def embeddingNearDupPairsLSH(
      spark: SparkSession, sfDir: String, threshold: Double = 0.4): DataFrame = {
    // ONE lazy plan (r14): the band self-join's two inputs canonicalize
    // to the same scan -> 64-projection -> explode -> Exchange subtree,
    // so the planner's ReuseExchange computes the signature pass ONCE --
    // no call-scoped persist, no eager pair materialization through the
    // driver, nothing to unpersist (the r13 shape persisted the
    // signatures and collected/spilled the id pairs; a twin-flooded
    // corpus now simply makes a bigger, still fully distributed
    // shuffle). Norms are inlined on the verify legs -- the identical
    // IEEE expression the __norm-column form evaluated, per scanned row
    // as before.
    val banded = bandSignatures(spark, sfDir)
    val pairs = banded
      .select(col("band_idx"), col("band_sig"), col("vec_id").as("q_id"))
      .join(banded.select(col("band_idx"), col("band_sig"),
        col("vec_id").as("c_id")), Seq("band_idx", "band_sig"))
      .filter(col("q_id") < col("c_id"))
      .select("q_id", "c_id").distinct()
    val emb = Tables.embeddings(spark, sfDir)
    val q = emb.select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val c = emb.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
    pairs.join(q, Seq("q_id")).join(c, Seq("c_id"))
      .withColumn("sim", expr("graft_dot(q_vec, c_vec)") /
        (sqrt(expr("graft_dot(q_vec, q_vec)")) *
          sqrt(expr("graft_dot(c_vec, c_vec)"))))
      .filter(col("sim") >= threshold)
      .select(col("q_id").as("vec_a"), col("c_id").as("vec_b"),
        round(col("sim"), 6).as("cosine_sim"))
      .orderBy(col("vec_a").asc, col("vec_b").asc)
  }

  /** Distributed spherical k-means (Lloyd) over the embedding corpus — the
    * IVF quantizer TRAINER ([[ivfTopK]]'s coarse cells, learned instead of
    * sampled). Deterministic: init = the k lowest-id vectors, iteration
    * count fixed, ties broken on cell id.
    *
    * Scale shape: the corpus lives as unit-normalized (vec_id, pos, x)
    * component rows, persisted once. Per iteration:
    *   assign  = component rows ⋈ broadcast(centroid components) on pos →
    *             partial dot products → per-vector argmax (two hash aggs,
    *             map-side combinable — the corpus never re-reads);
    *   update  = component rows ⋈ assignment → per-(cell, pos) mean →
    *             re-normalized and COLLECTED (k·dim doubles — the
    *             quantizer is a driver-side model in every IVF system,
    *             and collecting truncates the iteration lineage).
    * Empty cells keep their previous centroid. Returns the assignment
    * frame (vec_id, cell_id, sim-to-centroid).
    */
  def kmeansAssignments(
      spark: SparkSession, sfDir: String, k: Int = 16, iters: Int = 5): DataFrame = {
    // Default-config training is served from the maintained `kmeans_model`
    // artifact (same contract as `ivf_model`: retrain on any census
    // change, no frozen-model refresh) — the per-call cost is then ONE
    // assignment scan instead of `iters` Lloyd rounds.
    if (k == 16 && iters == 5) {
      val sp = spark; import sp.implicits._
      val rows = graft.ops.Layout.ensureDerived(
        spark, sfDir, "kmeans_model", Seq("embeddings.parquet"),
        key = "cell", buckets = 4, version = 1) {
        trainFloatModel(spark, sfDir, k, iters).toSeq.flatMap {
          case (cell, c) => c.zipWithIndex.map { case (v, pos) =>
            (cell, pos, v)
          }
        }.toDF("cell", "pos", "c")
      }.collect() // bounded: k·dim rows — the model IS driver-sized
      val model = rows.map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
        .groupBy(_._1).map { case (cell, cs) =>
          val arr = new Array[Double](cs.length)
          cs.foreach { case (_, pos, v) => arr(pos) = v }
          cell -> arr
        }
      assignAgainst(spark, sfDir, model)
    } else assignAgainst(spark, sfDir, trainFloatModel(spark, sfDir, k, iters))
  }

  /** One codegen'd assignment pass of the corpus against centroid
    * literals — the shared tail of [[kmeansAssignments]]'s artifact and
    * live paths.
    */
  private def assignAgainst(
      spark: SparkSession, sfDir: String,
      model: Map[Int, Array[Double]]): DataFrame = {
    GraftFunctions.register(spark)
    assignEmbAgainst(
      withNorm(spark, Tables.embeddings(spark, sfDir))
        .select(col("vec_id"), col("embedding"), col("__norm")),
      model)
  }

  /** The model-assignment kernel over a (vec_id, embedding, __norm)
    * frame: k graft_dot projections against centroid LITERALS + one
    * greatest() argmax (narrow map pass; lowest cell id on ties). ONE
    * definition — [[trainFloatModel]]'s per-iteration assignment and the
    * artifact replay ([[assignAgainst]]) must agree bit-for-bit for the
    * kmeans_model artifact contract (review r12: was duplicated).
    */
  private def assignEmbAgainst(
      emb: DataFrame, model: Map[Int, Array[Double]]): DataFrame = {
    val scores = model.toSeq.sortBy(_._1).map { case (cid, c) =>
      val litArr = c.map(v => v.toString + "D").mkString("array(", ",", ")")
      struct((expr(s"graft_dot(embedding, $litArr)") / col("__norm")).as("s"),
        lit(-cid).as("negid"))
    }
    emb.withColumn("best", greatest(scores: _*))
      .select(col("vec_id"), (-col("best.negid")).as("cell_id"),
        col("best.s").as("sim"))
  }

  /** The float Lloyd trainer itself (see the scaladoc above for the
    * per-iteration scale shape); returns the k-cell unit-centroid model.
    */
  private def trainFloatModel(
      spark: SparkSession, sfDir: String, k: Int, iters: Int): Map[Int, Array[Double]] = {
    GraftFunctions.register(spark)
    val emb = withNorm(spark, Tables.embeddings(spark, sfDir))
      .select(col("vec_id"), col("embedding"), col("__norm"))
      .persist()
    // comp rows only feed the UPDATE step (per-dimension means); the
    // assignment step is join-free (see below).
    val comp = emb
      .select(col("vec_id"), col("__norm"),
        posexplode(col("embedding")).as(Seq("pos", "v")))
      .select(col("vec_id"), col("pos"),
        (col("v").cast("double") / col("__norm")).as("x"))
      .persist()
    // model: cell -> unit centroid, seeded from the k LOWEST-id vectors
    // (orderBy + limit, not `vec_id < k`: ids may be sparse or non-zero-
    // based, and the seed must still produce exactly min(k, N) centroids).
    val seedIds: Array[Long] = emb.select(col("vec_id"))
      .orderBy(col("vec_id").asc).limit(k)
      .collect().map(_.getLong(0))
    var model: Map[Int, Array[Double]] = comp
      .filter(col("vec_id").isin(seedIds.toIndexedSeq: _*))
      .collect()
      .groupBy(_.getLong(0))
      .toSeq.sortBy(_._1)
      .zipWithIndex
      .map { case ((_, rows), cid) =>
        val arr = new Array[Double](rows.length)
        rows.foreach(r => arr(r.getInt(1)) = r.getDouble(2))
        cid -> arr
      }.toMap
    // Assignment is a narrow map pass: k native graft_dot projections
    // against centroid LITERALS (codegen'd; same shape as ivfTopK's cell
    // assignment) and a greatest() argmax — no join, no shuffle, the
    // dominant per-iteration cost drops to one corpus scan. Shared with
    // the artifact replay (assignAgainst) so the two can never drift.
    def assignFor(m: Map[Int, Array[Double]]): DataFrame =
      assignEmbAgainst(emb, m)
    try {
      for (_ <- 1 to iters) {
        val assign = assignFor(model)
        val means = comp
          .join(assign.select(col("vec_id"), col("cell_id")), Seq("vec_id"))
          .groupBy(col("cell_id"), col("pos"))
          .agg(avg(col("x")).as("m"))
        val norms = means.groupBy(col("cell_id"))
          .agg(sqrt(sum(col("m") * col("m"))).as("n"))
        val updated = means.join(norms, Seq("cell_id"))
          .select(col("cell_id"), col("pos"), (col("m") / col("n")).as("c"))
          .collect()
          .groupBy(_.getInt(0))
          .map { case (cid, rows) =>
            val arr = new Array[Double](model.head._2.length)
            rows.foreach(r => arr(r.getInt(1)) = r.getDouble(2))
            cid -> arr
          }
        model = model ++ updated // empty cells keep their previous centroid
      }
    } finally {
      // caches are scoped to the training loop (every iteration ends in a
      // collect, so nothing lazy still needs them); the returned assignment
      // re-reads parquet once on consumption — leak-free beats one cached
      // scan in a long-lived driver.
      comp.unpersist()
      emb.unpersist()
    }
    model
  }

  /** One assignment pass against the k lowest-id SEED centroids —
    * [[kmeansAssignments]] with zero Lloyd iterations. Unlike the trained
    * model, the seed assignment is closed-form (dot products + argmax
    * against deterministically chosen unit vectors), so the DuckDB twin
    * reproduces it exactly — hash-checking the codegen'd assignment
    * machinery the iterative trainer reuses every round.
    */
  def kmeansSeedAssign(
      spark: SparkSession, sfDir: String, k: Int = 16): DataFrame =
    if (k == IvfNCells)
      // the seed assignment IS an index column — one scan, no dot products
      ivfCellIndex(spark, sfDir)
        .select(col("vec_id"), col("cell_id"), round(col("sim"), 6).as("sim"))
        .orderBy(col("vec_id").asc)
    else
      kmeansAssignments(spark, sfDir, k, iters = 0)
        .select(col("vec_id"), col("cell_id").cast("long").as("cell_id"),
          round(col("sim"), 6).as("sim"))
        .orderBy(col("vec_id").asc)

  /** (vec_id, cell_id, embedding, __norm, label) under the k-cell seed
    * quantizer — off the maintained [[ivfCellIndex]] when the config
    * matches (one scan, assignments precomputed), live otherwise. The
    * kernel every cell-scoped semantic operator
    * ([[semanticDedup]]/[[semanticDecontaminate]]/[[crossLabelMine]]/
    * [[clusterBalancedSample]]) starts from.
    */
  private def seedAssignedEmb(
      spark: SparkSession, sfDir: String, k: Int): DataFrame =
    if (k == IvfNCells)
      ivfCellIndex(spark, sfDir)
        .select(col("vec_id"), col("cell_id"), col("embedding"),
          col("norm").as("__norm"), col("label"))
    else {
      // Non-default widths (e.g. the census-adaptive bitext k) are served
      // from their own maintained artifact — seed assignment is a pure
      // function of (k, source census), both folded into the artifact tag,
      // so the k-dot scan runs once per census and every later call is one
      // bucketed read (the `ivf_cells` discipline at any k).
      val cells = graft.ops.Layout.ensureDerived(
        spark, sfDir, s"seed_cells_$k", Seq("embeddings.parquet"),
        key = "vec_id", buckets = 32, version = 1) {
        kmeansAssignments(spark, sfDir, k, iters = 0)
          .select(col("vec_id"), col("cell_id").cast("long").as("cell_id"))
      }
      withNorm(spark, Tables.embeddings(spark, sfDir))
        .select(col("vec_id"), col("embedding"), col("__norm"), col("label"))
        .join(cells, Seq("vec_id"))
        .select(col("vec_id"), col("cell_id"), col("embedding"),
          col("__norm"), col("label"))
    }

  /** Per-cell embedding OUTLIERS: the `perCell` vectors LEAST similar to
    * their own cell centroid — the curation op that surfaces mislabeled /
    * noise / off-manifold vectors for pruning (the flip side of SemDeDup:
    * instead of removing what is too close, inspect what fits nowhere).
    *
    * Scale shape: assignments come off the maintained cell index (one
    * scan, no dot products), and bottom-k-per-cell is the MERGEABLE
    * `graft_topk` aggregate on negated similarity — map-side combined,
    * bounded state, never a window sorting a corpus through |cells|
    * tasks. Determinism: sim is already rounded to 6dp, ties break on
    * vec_id asc inside the aggregate's total order.
    */
  def embeddingOutliers(
      spark: SparkSession, sfDir: String, perCell: Int = 5): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    kmeansSeedAssign(spark, sfDir)
      .groupBy(col("cell_id"))
      .agg(expr(s"graft_topk(-sim, vec_id, $perCell)").as("bot"))
      .select(col("cell_id"), posexplode(col("bot")).as(Seq("pos", "s")))
      .select(col("cell_id"),
        (col("pos") + 1).cast("int").as("outlier_rank"),
        col("s.id").as("vec_id"),
        round(-col("s.score"), 6).as("sim"))
      .orderBy(col("cell_id").asc, col("outlier_rank").asc)
  }

  /** Cluster-size/cohesion summary of [[kmeansAssignments]] (rows-only —
    * iterative float means have no portable SQL twin).
    */
  def kmeansCells(
      spark: SparkSession, sfDir: String, k: Int = 16, iters: Int = 5): DataFrame =
    kmeansAssignments(spark, sfDir, k, iters)
      .groupBy(col("cell_id"))
      .agg(
        count(lit(1)).as("n_vectors"),
        round(avg(col("sim")), 6).as("avg_cohesion"))
      .orderBy(col("cell_id").asc)

  /** Integer fixed-point spherical k-means — the [[kmeansAssignments]]
    * trainer re-expressed in the part_pagerank determinism discipline so a
    * SQL twin can replay it bit-for-bit: unit-normalized components are
    * quantized to exact MICRO-units (floor(x·10⁶ + 0.5) — every op
    * exactly rounded), so
    *   - dot products in the assignment step are EXACT integers (products
    *     ≤ 10¹², 64-term sums ≤ 6.4·10¹³ < 2⁵³ — the graft_dot double
    *     fold carries them exactly, any engine, any order);
    *   - the Lloyd update is an integer truncating division (Spark `div`
    *     ≡ DuckDB `//`), order-independent by integer-sum exactness;
    *   - the only float ops are per-cell ‖c‖ = sqrt(exact int) and ONE
    *     division per score — both exactly rounded IEEE ops.
    * Assignment ties break on cell asc; empty cells keep their previous
    * centroid. Returns the trained centroids in micro-units, indexed by
    * cell rank (seeded from the k lowest-id vectors).
    *
    * Scale shape per iteration: one narrow codegen'd scan for assignment
    * (k dots against literals, no join) + one (vec_id-keyed join + hash
    * agg) for the update, collecting only the k·dim model.
    */
  private[graft] def kmeansModelInt(
      spark: SparkSession, sfDir: String, k: Int = 16,
      iters: Int = 5): IndexedSeq[Array[Long]] = {
    GraftFunctions.register(spark)
    val emb = withNorm(spark, Tables.embeddings(spark, sfDir))
    // quantized unit components as DOUBLE-typed exact integers: graft_dot
    // folds them exactly (see scaladoc), and the same array feeds both the
    // assignment dots and the posexploded update rows
    val xq = emb.select(col("vec_id"), expr(
      "transform(embedding, v -> CAST(floor(v / __norm * 1000000.0D + 0.5D) AS DOUBLE))")
      .as("xq"))
      .persist()
    try {
      var model: IndexedSeq[Array[Long]] = xq
        .orderBy(col("vec_id").asc).limit(k)
        .collect().toIndexedSeq
        .map(_.getSeq[Double](1).map(_.toLong).toArray)
      val comp = xq
        .select(col("vec_id"), posexplode(col("xq")).as(Seq("pos", "x")))
        .select(col("vec_id"), col("pos"), col("x").cast("long").as("xi"))
      def assignFor(m: IndexedSeq[Array[Long]]): DataFrame = {
        val scores = m.zipWithIndex.map { case (c, i) =>
          val cLit = c.map(_.toString + "D").mkString("array(", ",", ")")
          val cn = math.sqrt(c.map(v => v * v).sum.toDouble)
          struct((expr(s"graft_dot(xq, $cLit)") / lit(cn)).as("s"),
            lit(-i).as("negid"))
        }
        xq.withColumn("best", greatest(scores: _*))
          .select(col("vec_id"), (-col("best.negid")).as("cell"))
      }
      for (_ <- 1 to iters) {
        val updated = comp
          .join(assignFor(model), Seq("vec_id"))
          .groupBy(col("cell"), col("pos"))
          .agg(sum(col("xi")).as("sx"), count(lit(1)).as("n"))
          .select(col("cell"), col("pos"), expr("sx div n").as("xi"))
          .collect()
          .groupBy(_.getInt(0))
          .map { case (cell, rows) =>
            val arr = new Array[Long](model.head.length)
            rows.foreach(r => arr(r.getInt(1)) = r.getLong(2))
            cell -> arr
          }
        model = model.indices.map(i => updated.getOrElse(i, model(i)))
      }
      model
    } finally { xq.unpersist(); () }
  }

  /** The trained quantizer as a MAINTAINED MODEL ARTIFACT: (cell, pos,
    * micro-unit component) rows — k·dim total — via
    * [[graft.ops.Layout.ensureDerived]]. Training runs once per corpus
    * census; every later `knn_ivf_trained` call (and every later SESSION
    * over the same warehouse) collects the k·dim model rows instead of
    * re-running the Lloyd iterations. Deliberately NO append-only refresh
    * kernel: a model must RETRAIN when its corpus changes (the oracle
    * twin replays training on the current corpus, so a frozen-model
    * refresh would diverge from it) — any census change rebuilds.
    */
  private def trainedModelArtifact(
      spark: SparkSession, sfDir: String): IndexedSeq[Array[Long]] = {
    val sp = spark; import sp.implicits._
    val rows = graft.ops.Layout.ensureDerived(
      spark, sfDir, s"ivf_model", Seq("embeddings.parquet"),
      key = "cell", buckets = 4, version = IvfModelVersion) {
      kmeansModelInt(spark, sfDir, IvfNCells, IvfTrainIters).zipWithIndex.flatMap {
        case (c, cell) => c.zipWithIndex.map { case (v, pos) =>
          (cell.toLong, pos, v)
        }
      }.toDF("cell", "pos", "xi")
    }.collect() // bounded: k·dim rows — the model IS driver-sized
    val byCell = rows.map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .groupBy(_._1)
    byCell.keys.toIndexedSeq.sorted.map { cell =>
      val arr = new Array[Long](byCell(cell).length)
      byCell(cell).foreach { case (_, pos, v) => arr(pos) = v }
      arr
    }
  }

  /** Unit-normalized trained centroids as driver doubles — the same
    * `v / ‖c‖` values the expr()-literal form round-trips (Double
    * toString is exact), shared by the artifact derive and the
    * driver-side probe routing.
    */
  private def trainedUnits(model: IndexedSeq[Array[Long]]): IndexedSeq[Array[Double]] =
    model.map { c =>
      val n = math.sqrt(c.map(v => v * v).sum.toDouble)
      c.map(_ / n)
    }

  /** The maintained TRAINED-quantizer index — [[ivfCellIndex]]'s deploy
    * shape for the Lloyd-trained model: the corpus bucketed on its
    * trained-cell assignment so [[ivfTopKTrained]]'s candidate retrieval
    * is a bucket-pruned static-filter scan instead of a per-query
    * re-assignment of the whole corpus (tier N caught the live path
    * costing MORE than brute force at 200k vectors: the per-call
    * corpus-wide argmax + assignment join cost ~4× the pruned scan).
    * Deliberately NO append refresh, mirroring `ivf_model`: a trained
    * model must retrain when its corpus changes, so any census change
    * rebuilds both artifacts (ensureDerived's default path).
    */
  def ivfCellIndexTrained(spark: SparkSession, sfDir: String): DataFrame = {
    GraftFunctions.register(spark)
    graft.ops.Layout.ensureDerived(
      spark, sfDir, "ivf_cells_trained", Seq("embeddings.parquet"),
      // versioned BY THE MODEL's version: this index is derived FROM
      // ivf_model, and a model-version bump with an unchanged embeddings
      // census would otherwise serve the OLD model's bucketing to probes
      // routed with the NEW model's units — silent wrong-cell scans
      key = "cell", buckets = 32, version = IvfModelVersion) {
      val units = trainedUnits(trainedModelArtifact(spark, sfDir))
      val gdot = GraftFunctions.dot _
      val cellScores = units.zipWithIndex.map { case (u, i) =>
        struct(gdot(col("embedding"), lit(u)).as("s"),
          lit(-i.toLong).as("negid"))
      }
      withNorm(spark, Tables.embeddings(spark, sfDir))
        .select(col("vec_id"), col("embedding"), col("__norm"))
        .withColumn("cell", -greatest(cellScores: _*).getField("negid"))
        .select(col("vec_id"), col("embedding"),
          col("__norm").as("norm"), col("cell"))
    }
  }

  /** IVF search against the TRAINED quantizer ([[kmeansModelInt]]) — the
    * registered `knn_ivf_trained`: same search shape as [[ivfTopK]], but
    * the cells come from [[IvfTrainIters]] Lloyd iterations instead of the
    * raw lowest-id seeds, which is what a production deployment runs
    * (seeds are only the oracle-friendly degenerate case; on clustered
    * real data the trained cells bound candidate sets far better). Cells
    * are labeled by training rank; the exactly-reproducible trainer means
    * this query hash-checks against a DuckDB twin that replays every
    * round relationally. Candidates come from a bucket-PRUNED scan of the
    * maintained [[ivfCellIndexTrained]].
    */
  def ivfTopKTrained(
      spark: SparkSession, sfDir: String, nProbes: Int = 5, k: Int = 5): DataFrame = {
    val units = trainedUnits(trainedModelArtifact(spark, sfDir))
    val index = ivfCellIndexTrained(spark, sfDir)
    prunedProbeTopK(spark, routeProbes(spark, index, nProbes,
      units.indices.map(i => (i.toLong, units(i)))), k)
  }

  /** Per-cell size + cohesion summary of the TRAINED integer quantizer —
    * the hash-checked face of what rows-only `kmeans_cells` reports for
    * the float trainer: how balanced the trained cells are and how tight
    * each cluster is (mean cosine of members to their centroid), the two
    * numbers an ANN deployment watches to decide when to retrain.
    *
    * Cross-engine exactness: assignment replays [[kmeansModelInt]]'s
    * integer-dot argmax (exact integer dot ÷ one exactly-rounded sqrt,
    * ties cell asc); the member cosine is `dot / (‖xq‖ · ‖c‖)` where both
    * norms are sqrt-of-exact-integer and the divide/multiply are single
    * IEEE ops in the SAME association on both engines; the MEAN sums
    * 6dp-quantized decimals (order-independent) before one final divide.
    *
    * Scale shape: the k·dim model comes from the maintained `ivf_model`
    * artifact; the summary is ONE narrow codegen'd corpus scan (k dots
    * against literals, no join) + one k-row hash agg.
    */
  def kmeansCellsTrained(
      spark: SparkSession, sfDir: String, k: Int = 16, iters: Int = 5): DataFrame = {
    GraftFunctions.register(spark)
    val model =
      if (k == IvfNCells && iters == IvfTrainIters) trainedModelArtifact(spark, sfDir)
      else kmeansModelInt(spark, sfDir, k, iters)
    val emb = withNorm(spark, Tables.embeddings(spark, sfDir))
    val xq = emb.select(col("vec_id"), expr(
      "transform(embedding, v -> CAST(floor(v / __norm * 1000000.0D + 0.5D) AS DOUBLE))")
      .as("xq"))
    // struct argmax on (score, -cell): negids are distinct, so the cos
    // field rides along without ever being consulted by the comparison
    val scores = model.zipWithIndex.map { case (c, i) =>
      val cLit = c.map(_.toString + "D").mkString("array(", ",", ")")
      val cn = math.sqrt(c.map(v => v * v).sum.toDouble)
      struct(
        (expr(s"graft_dot(xq, $cLit)") / lit(cn)).as("s"),
        lit(-i).as("negid"),
        (expr(s"graft_dot(xq, $cLit)") /
          (expr("sqrt(graft_dot(xq, xq))") * lit(cn))).as("cos"))
    }
    xq.withColumn("best", greatest(scores: _*))
      .select((-col("best.negid")).cast("long").as("cell_id"),
        round(col("best.cos"), 6).cast("decimal(18,6)").as("__cos"))
      .groupBy(col("cell_id"))
      .agg(count(lit(1)).as("n_vectors"), sum(col("__cos")).as("__sum"))
      .select(col("cell_id"), col("n_vectors"),
        round(col("__sum").cast("double") / col("n_vectors").cast("double"), 6)
          .as("avg_cohesion"))
      .orderBy(col("cell_id").asc)
  }

  /** Dominant principal direction of the embedding corpus (top right
    * singular vector of the stacked unit vectors) by POWER ITERATION —
    * the primitive behind embedding whitening / "all-but-the-top"
    * post-processing, and the engine's fifth iterative-algorithm family
    * (after CC, PageRank, Lloyd, BPE). Covariance-free: each round is
    *   s_i = ⟨x_i, v⟩      (one codegen'd literal-dot corpus scan)
    *   u   = Σ_i x_i · s_i (one pos-keyed hash-agg)
    *   v'  = u normalized
    * so the 64×64 Gram matrix is never materialized and nothing but the
    * 64-component direction crosses the driver.
    *
    * Engine-exact determinism (the part_pagerank discipline): components
    * are micro-unit integers, s_i is an exact integer dot scaled by a
    * truncating `div 10⁸` (keeps every u term long-safe at any corpus
    * size), u sums exactly in decimal/HUGEINT, and renormalization is
    * max-abs: v'_p = (u_p · 10⁶) div max|u| — all integer ops, so the
    * DuckDB twin replays every round bit-for-bit. Seed: the lowest-id
    * vector (deterministic; a seed orthogonal to the dominant direction
    * is measure-zero and would only slow convergence). Requires a
    * non-degenerate corpus (some nonzero dot in every round).
    *
    * Scale shape per round: one narrow scan + one 64-row hash-agg; 5
    * rounds converge geometrically with gap λ₁/λ₂.
    */
  def embeddingPc1(
      spark: SparkSession, sfDir: String, iters: Int = 5): DataFrame = {
    val sp = spark; import sp.implicits._
    val v = pc1Model(spark, sfDir, iters)
    val ss = v.map(x => x * x).sum // ≤ 64e12 — exact
    val norm = math.sqrt(ss.toDouble)
    v.zipWithIndex.map { case (xi, pos) =>
      (pos, xi, BigDecimal(xi.toDouble / norm)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toSeq.toDF("pos", "pc1_micro", "unit_loading")
      .orderBy(col("pos").asc)
  }

  /** The trained direction as a MAINTAINED MODEL ARTIFACT (`pc1_model`,
    * dim rows of (pos, micro-unit component)) — same contract as
    * `ivf_model`/`kmeans_model`: any corpus census change retrains (the
    * twin replays training on the current corpus, so frozen refresh would
    * diverge); every call and every later session over the warehouse
    * collects the dim-row model instead of re-iterating.
    */
  private[graft] def pc1Model(
      spark: SparkSession, sfDir: String, iters: Int = 5): Array[Long] = {
    val sp = spark; import sp.implicits._
    val rows =
      if (iters == 5)
        graft.ops.Layout.ensureDerived(
          spark, sfDir, "pc1_model", Seq("embeddings.parquet"),
          key = "pos", buckets = 1, version = 1) {
          trainPc1(spark, sfDir, iters).zipWithIndex
            .map { case (xi, pos) => (pos, xi) }.toSeq.toDF("pos", "xi")
        }.collect().map(r => (r.getInt(0), r.getLong(1)))
      else trainPc1(spark, sfDir, iters).zipWithIndex
        .map { case (xi, pos) => (pos, xi) }
    val out = new Array[Long](rows.length)
    rows.foreach { case (pos, xi) => out(pos) = xi }
    out
  }

  private def trainPc1(
      spark: SparkSession, sfDir: String, iters: Int): Array[Long] = {
    GraftFunctions.register(spark)
    val emb = withNorm(spark, Tables.embeddings(spark, sfDir))
    val xq = emb.select(col("vec_id"), expr(
      "transform(embedding, v -> CAST(floor(v / __norm * 1000000.0D + 0.5D) AS DOUBLE))")
      .as("xq"))
      .persist()
    try {
      val comp = xq
        .select(col("vec_id"), posexplode(col("xq")).as(Seq("pos", "x")))
        .select(col("vec_id"), col("pos"), col("x").cast("long").as("xi"))
      var v: Array[Long] = xq.orderBy(col("vec_id").asc).limit(1)
        .collect()(0).getSeq[Double](1).map(_.toLong).toArray
      for (_ <- 1 to iters) {
        val vLit = v.map(_.toString + "D").mkString("array(", ",", ")")
        // exact dot (≤ 6.4e13 < 2^53), then truncating scale-down so every
        // u term fits a long at any corpus size
        val s = xq.select(col("vec_id"),
          expr(s"CAST(graft_dot(xq, $vLit) AS LONG) div 100000000").as("sp"))
        val u = comp.join(s, Seq("vec_id"))
          .groupBy(col("pos"))
          .agg(sum((col("xi") * col("sp")).cast("decimal(38,0)")).as("u"))
          .collect()
          .map(r => r.getInt(0) -> BigInt(r.getDecimal(1).toBigInteger))
          .toMap
        val m = u.values.map(_.abs).max
        require(m > 0, "degenerate corpus: power iteration hit the zero vector")
        // BigInt / truncates toward zero — same as Spark div / DuckDB //
        v = v.indices.map(p => ((u(p) * BigInt(1000000)) / m).toLong).toArray
      }
      v
    } finally { xq.unpersist(); () }
  }

  /** Per-label ANISOTROPY report — how much of each label's embedding
    * energy lies along the corpus' dominant direction ([[pc1Model]]):
    * mean squared cosine to pc1. The diagnostic that motivates
    * all-but-the-top post-processing (isotropic embeddings score ≈ 1/dim;
    * a large value says one rogue direction dominates every similarity).
    *
    * Cross-engine exactness: cosine = exact-int dot ÷ (two
    * sqrt-of-exact-int norms) in identical association; the mean sums
    * 6dp-quantized squared cosines as decimals. Scale shape: the model is
    * the dim-row artifact; the report is one codegen'd corpus scan + a
    * |labels|-row hash-agg.
    */
  def anisotropyReport(spark: SparkSession, sfDir: String): DataFrame = {
    GraftFunctions.register(spark)
    val v = pc1Model(spark, sfDir)
    val vn = math.sqrt(v.map(x => x * x).sum.toDouble)
    val vLit = v.map(_.toString + "D").mkString("array(", ",", ")")
    val emb = withNorm(spark, Tables.embeddings(spark, sfDir))
    val xq = emb.select(col("label"), expr(
      "transform(embedding, v -> CAST(floor(v / __norm * 1000000.0D + 0.5D) AS DOUBLE))")
      .as("xq"))
    xq.select(col("label"),
      (expr(s"graft_dot(xq, $vLit)") /
        (expr("sqrt(graft_dot(xq, xq))") * lit(vn))).as("c"))
      .select(col("label"),
        round(col("c") * col("c"), 6).cast("decimal(18,6)").as("sq"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("sq")).as("__s"))
      .select(col("label"), col("n_vecs"),
        round(col("__s").cast("double") / col("n_vecs").cast("double"), 6)
          .as("mean_sq_proj"))
      .orderBy(col("label").asc)
  }

  /** Per-label embedding-norm profile: count, mean/min/max L2 norm — the
    * sanity report run before any cosine-based pipeline stage (un-normalized
    * or zero vectors silently corrupt LSH signs and cosine thresholds).
    *
    * Cross-engine exactness: each norm is the same sequential `graft_dot`
    * fold the twins already match bit-for-bit; the MEAN is taken over
    * norms rounded to 6dp and summed as DECIMAL(18,6) — exact, order-
    * independent — then divided in double with the identical expression on
    * both sides. (A plain `avg(double)` would depend on partial-aggregation
    * order and can differ across engines in the last ulp.)
    *
    * Scale shape: one narrow projection + one hash-agg on label; output is
    * |labels| rows at any corpus size.
    */
  def normStats(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = withNorm(spark, Tables.embeddings(spark, sfDir))
    emb
      .select(col("label"), round(col("__norm"), 6).as("nrm"))
      .groupBy(col("label"))
      .agg(
        count(lit(1)).as("n_vecs"),
        sum(col("nrm").cast("decimal(18,6)")).as("__sum"),
        min(col("nrm")).as("min_norm"),
        max(col("nrm")).as("max_norm"))
      .select(col("label"), col("n_vecs"),
        round(col("__sum").cast("double") / col("n_vecs").cast("double"), 6)
          .as("avg_norm"),
        col("min_norm"), col("max_norm"))
      .orderBy(col("label").asc)
  }

  /** Recall@k of an approximate retrieval against the brute-force exact
    * top-k ([[bruteForceTopK]]), per probe — THE quality metric an ANN
    * deployment tracks (a bucketing change that silently drops recall is
    * worse than a slow index). Output is integers plus one exact
    * division, oracle-checked end-to-end through BOTH retrieval paths.
    * One harness for every leg: `annRecall(s, d, Similarity.ivfTopK)`
    * audits the seeded IVF index, [[ivfPqTopK]] measures cell pruning
    * and PQ distortion at once, [[ivfTopKTrained]] the Lloyd trainer,
    * and [[ivfPqRerankTopK]] what the re-rank tier recovers.
    *
    * Scale shape: both sides are bounded (nProbes × k rows); the
    * expensive parts are the underlying retrievals themselves, which keep
    * their own documented shapes. In production this runs on a sampled
    * probe set — recall is an estimate, the sample IS the method.
    */
  def annRecall(
      spark: SparkSession, sfDir: String, retrieve: Retrieval,
      nProbes: Int = 5, k: Int = 5): DataFrame = {
    // approx leg BROADCAST (bounded by construction: ≤ nProbes×k rows) —
    // the r13 plan paid a SortMergeJoin with an Exchange+Sort on EACH
    // ≤25-row side (plans/r14/ann_recall_before.txt nodes 18/19 + 41/42);
    // both legs stay LAZY in one plan so the brute and approx corpus
    // passes overlap (the broadcast build runs the approx leg while the
    // main job streams the brute leg — an eager driver collect here
    // measured SLOWER by exactly the lost overlap)
    val exact = bruteForceTopK(spark, sfDir, nProbes, k)
      .select(col("q_id"), col("neighbor_id"))
    val hits = broadcast(retrieve(spark, sfDir, nProbes, k)
      .select(col("q_id"), col("neighbor_id"), lit(1L).as("__hit")))
    exact.join(hits, Seq("q_id", "neighbor_id"), "left")
      .groupBy(col("q_id"))
      .agg(count(col("__hit")).as("n_hits"))
      .select(col("q_id"), col("n_hits"),
        round(col("n_hits").cast("double") / lit(k.toDouble), 6)
          .as("recall_at_k"))
      .orderBy(col("q_id").asc)
  }

  /** ADC shortlist → EXACT re-rank: the deployable compressed-domain
    * retrieval pattern the raw [[ivfPqTopK]] recall (0.40 at 4-byte
    * codes) motivates. Stage 1 runs [[ivfPqTopK]] for a shortlist of
    * [[PqShortlistFactor]]×k candidates — the corpus side touches only PQ
    * codes (4 bytes/vector), never raw embeddings. Stage 2 fetches raw
    * vectors for ONLY the shortlist ids (nProbes × shortlist rows — a
    * broadcast-keyed point lookup at any corpus size) and re-ranks by
    * exact cosine, so PQ distance distortion can only cost recall when a
    * true neighbor misses the shortlist entirely, not when it is merely
    * mis-ordered inside it.
    *
    * Output matches [[bruteForceTopK]]'s contract (q_id, nn_rank,
    * neighbor_id, cosine_sim) — downstream consumers cannot tell the
    * compressed index was involved.
    *
    * Scale shape: stage 1 keeps [[ivfPqTopK]]'s bucket-pruned artifact
    * scan; stage 2 is [[fetchCandidates]]' broadcast of the shortlist
    * against the streamed embeddings table. At 100 TB the shortlist fetch
    * is the textbook "re-rank tier": O(probes × shortlist) vector reads
    * regardless of corpus size.
    *
    * Shortlist depth scales with CODE COARSENESS, not with k alone: at
    * production code sizes (8–16 subspaces × 256 codes = 64–128
    * bits/vector) the usual 4–8×k suffices; this corpus's deliberately
    * tiny 16-bit codes (4×16, chosen so the twin stays tractable) need a
    * wider window. Measured recall@5 vs depth at sf0.01: 4×k → 0.52,
    * 8×k → 0.76, 16×k → 0.88, 24×k → 0.92 — SATURATING at exactly the
    * seeded IVF recall of 0.92 (the shared cell-pruning bound), which is
    * the designed behavior: past the distortion window, re-rank recall
    * equals candidate-set recall and the 4-byte codes cost nothing. The
    * 24×k depth registers the saturated point.
    */
  def ivfPqRerankTopK(
      spark: SparkSession, sfDir: String, nProbes: Int = 5, k: Int = 5): DataFrame = {
    val shortlist = ivfPqTopK(spark, sfDir, nProbes, k * PqShortlistFactor)
      .select(col("q_id"), col("neighbor_id").as("c_id"))
    cosineTopK(fetchCandidates(spark, sfDir, shortlist, nProbes), k)
  }

  /** Rank-quality evaluation of an approximate retrieval beyond
    * [[annRecall]]'s set recall: per probe, MRR (reciprocal rank of the
    * first true neighbor in the retrieved list) and average precision at
    * k (AP — the area-under-PR summary IR evaluation standardizes on),
    * with the exact cosine top-k as the binary relevance set. Recall says
    * how many true neighbors surfaced; MRR/AP say how EARLY — the
    * quantity that decides whether a downstream re-ranker ever sees
    * them. For [[ivfPqRerankTopK]], whose stage 2 re-orders the
    * shortlist by exact cosine, these measure ONLY what the candidate
    * set missed, so they sit at the [[ivfTopK]] leg's level.
    *
    * Cross-engine exactness: both metrics are LOG-FREE rationals —
    * precision terms hits@r / r are divides of small integers, each
    * rounded to 6 decimals BEFORE a DECIMAL(18,6) sum (exact,
    * order-independent — the [[graft.ext.Corpus]] mix-report discipline),
    * and MRR is one exact divide. No log2 discount (nDCG) on purpose:
    * libm log2 is not guaranteed bit-identical across engines, AP
    * carries the same ordering signal exactly.
    *
    * Scale shape: the two retrieval legs are bounded probe frames
    * (≤ nProbes·k rows each); everything after is arithmetic on their
    * join.
    */
  def retrievalMetrics(
      spark: SparkSession, sfDir: String, retrieve: Retrieval,
      nProbes: Int = 5, k: Int = 5): DataFrame = {
    // truth leg stays LAZY but BROADCAST at both uses: the two `exact`
    // references share the brute subtree's inner q_id Exchange via
    // ReuseExchange (one corpus pass), and the broadcast builds overlap
    // with the approx leg's stages (an eager driver collect here
    // measured SLOWER by the lost overlap)
    val exact = bruteForceTopK(spark, sfDir, nProbes, k)
      .select(col("q_id"), col("neighbor_id"), lit(1L).as("__rel"))
    val approx = retrieve(spark, sfDir, nProbes, k)
      .select(col("q_id"), col("nn_rank"), col("neighbor_id"))
    val marked = approx.join(broadcast(exact), Seq("q_id", "neighbor_id"), "left")
      .withColumn("rel", coalesce(col("__rel"), lit(0L)))
    val w = Window.partitionBy(col("q_id")).orderBy(col("nn_rank").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val scored = marked
      .withColumn("hits_at", sum(col("rel")).over(w))
      .withColumn("__prec", when(col("rel") === 1L,
          round(col("hits_at").cast("double") / col("nn_rank").cast("double"), 6))
        .otherwise(lit(0.0)).cast("decimal(18,6)"))
    val agg = scored.groupBy(col("q_id")).agg(
      sum(col("rel")).as("n_hits"),
      min(when(col("rel") === 1L, col("nn_rank"))).as("__first"),
      sum(col("__prec")).as("__ap_sum"))
    // probes with an EMPTY retrieved list (e.g. no LSH band collision) still
    // belong in the report, scored zero
    exact.select(col("q_id")).distinct()
      .join(broadcast(agg), Seq("q_id"), "left")
      .select(col("q_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round(coalesce(lit(1.0) / col("__first"), lit(0.0)), 6).as("mrr"),
        round(coalesce(col("__ap_sum"), lit(0).cast("decimal(18,6)"))
          .cast("double") / k, 6).as("avg_precision"))
      .orderBy(col("q_id").asc)
  }

  /** IVF-PQ top-k — the COMPRESSED-DOMAIN ANN path, completing the triad
    * after [[bruteForceTopK]] (exact), [[lshTopK]]/[[ivfTopK]] (pruned
    * exact): candidates come from the IVF coarse cells exactly as in
    * [[ivfTopK]], but ranking runs on PQ CODES via asymmetric distance
    * (ADC) — each candidate contributes only its [[PqSubspaces]]
    * byte-sized code ids, and the estimated squared L2 distance is the
    * sum of per-subspace ||q_m − c_{code_m}||² lookups against the
    * codebook literals. At 100 TB this is THE deployable shape: the raw
    * vectors never join the search (4 bytes/vector here instead of 256),
    * the per-candidate work is a codegen'd lookup over codebook-literal
    * dot products, and exact re-ranking ([[ivfPqRerankTopK]]) touches
    * only a shortlist.
    *
    * Candidates' PQ codes and cells come off the bucket-pruned
    * [[ivfCellIndex]] scan — per candidate the search reads 1 +
    * [[PqSubspaces]] small ids, never the raw vector; probe routing is
    * driver-side planning exactly as in [[ivfTopK]].
    *
    * Oracle-exact: codebooks/centroids are the deterministic lowest-id
    * seeds ([[pqCodes]]/[[ivfTopK]] contracts); every distance is the
    * same ordered chain of exactly-rounded double ops the twin writes
    * with `list_inner_product`; ADC ties break on candidate id.
    */
  def ivfPqTopK(
      spark: SparkSession, sfDir: String, nProbes: Int = 5, k: Int = 5): DataFrame = {
    val sp = spark; import sp.implicits._
    GraftFunctions.register(spark)
    val index = ivfCellIndex(spark, sfDir)
    val sm = collectSeeds(
      index.select(col("vec_id"), col("embedding"), col("norm")), IvfNCells)
    require(sm.vecs.forall(_.length == EmbeddingDim),
      s"ivfPqTopK: corpus is not $EmbeddingDim-dimensional")
    // a corpus smaller than the codebook builds the index with NULL PQ
    // codes (pqReady = false) — reject it loudly, do not rank candidates
    // by null distances
    require(sm.size == PqCodebookSize,
      s"ivfPqTopK: ${sm.size} vectors < codebook size $PqCodebookSize — " +
        "the index carries no PQ codes")
    val route = routeProbes(spark, index, nProbes, seedCells(sm))
    val subDim = EmbeddingDim / PqSubspaces
    val subCols = (0 until PqSubspaces).map { m =>
      expr(s"slice(embedding, ${m * subDim + 1}, $subDim)").as(s"__sub$m")
    }
    val queries = route.probes.map(p => (p._1, p._2)).toDF("vec_id", "embedding")
      .select((col("vec_id").as("q_id") +: subCols): _*)
    route.candidates
      .select((col("q_id") +: col("vec_id").as("c_id") +:
        (0 until PqSubspaces).map(m => col(s"code$m"))): _*)
      .join(broadcast(queries), Seq("q_id"))
      .withColumn("l2sq_est", adcEstimator(sm.vecs))
      .withColumn("nn_rank", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("l2sq_est").asc, col("c_id").asc)))
      .filter(col("nn_rank") <= k)
      .select(col("q_id"), col("nn_rank"), col("c_id").as("neighbor_id"),
        round(col("l2sq_est"), 6).as("l2sq_est"))
      .orderBy(col("q_id").asc, col("nn_rank").asc)
  }

  /** The ADC L2² estimator column over `__sub0..` and `code0..`:
    * est = Σ_m ( q_m·q_m − 2·q_m·c_code + ||c_code||² ), the seed
    * codebook riding as array-of-arrays LITERALS indexed by the code id
    * (element_at), so each subspace costs ONE runtime dot product — a
    * 16-branch case-when variant measured a ~1.9 s codegen-compile floor
    * from the 64 inlined dot expressions. ||c_j||² is driver-computed
    * with the same left-to-right summation graft_dot uses, so the
    * constant equals the twin's runtime list_inner_product bit-for-bit.
    */
  private def adcEstimator(seedVecs: Seq[Seq[Float]]): Column = {
    val subDim = EmbeddingDim / PqSubspaces
    def cbLit(m: Int, j: Int): String =
      seedVecs(j).slice(m * subDim, (m + 1) * subDim)
        .map(v => v.toDouble.toString + "D").mkString("array(", ",", ")")
    def selfDot(a: Seq[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * a(i); i += 1 }; s
    }
    (0 until PqSubspaces).map { m =>
      val cbArr = (0 until PqCodebookSize).map(j => cbLit(m, j))
        .mkString("array(", ",", ")")
      val ccArr = (0 until PqCodebookSize).map { j =>
        selfDot(seedVecs(j).slice(m * subDim, (m + 1) * subDim)
          .map(_.toDouble)).toString + "D"
      }.mkString("array(", ",", ")")
      expr(s"graft_dot(__sub$m, __sub$m)" +
        s" - 2D * graft_dot(__sub$m, element_at($cbArr, code$m + 1))" +
        s" + element_at($ccArr, code$m + 1)")
    }.reduce(_ + _)
  }

  /** Embedding-space drift report — the [[graft.ops.Profiling.psiDrift]]
    * analog over the IVF quantizer cells: assign every vector to its
    * coarse cell (the [[ivfTopK]] quantizer, deterministic lowest-id
    * seeds), split the corpus into a REFERENCE slice and a CURRENT slice
    * (`vec_id % 10`: 9 = current), and report per-cell occupancy with the
    * PSI term `(p−q)·ln(p/q)` (ε-floored fractions). A new embedding
    * batch whose semantic distribution moved — new topic, new encoder
    * version, collapsed modality — shifts cell occupancy long before any
    * per-vector check fires; Σ psi ≥ 0.2 is the investigate line. In
    * production the slices are the corpus and the candidate batch, and
    * the cells come from the maintained quantizer.
    *
    * Scale shape: one scan, 16 codegen'd dot products per row, one tiny
    * groupBy — the same single-pass shape as the length-bucket drift op.
    */
  def embeddingDrift(
      spark: SparkSession, sfDir: String, nCells: Int = 16): DataFrame = {
    GraftFunctions.register(spark)
    // At the registered config the occupancy read is a pure column scan of
    // the maintained [[ivfCellIndex]] — (cell, vec_id) only, ZERO dot
    // products per call (the assignments were paid once at index build);
    // ad-hoc cell counts quantize live.
    val cellsOf: (DataFrame, Seq[Long]) =
      if (nCells == IvfNCells) {
        val index = ivfCellIndex(spark, sfDir)
        val seedIds = index.select(col("vec_id"))
          .orderBy(col("vec_id").asc).limit(nCells)
          .collect().toSeq.map(_.getLong(0))
        (index.select(col("cell"), col("vec_id")), seedIds)
      } else {
        val emb = withNorm(spark, Tables.embeddings(spark, sfDir))
          .select(col("vec_id"), col("embedding"), col("__norm"))
        val centroids: Seq[(Long, String)] = emb
          .orderBy(col("vec_id").asc).limit(nCells)
          .collect().toSeq
          .map { r =>
            val nrm = r.getDouble(2)
            (r.getLong(0), r.getSeq[Float](1)
              .map(v => (v / nrm).toString + "D").mkString("array(", ",", ")"))
          }
        val cellScores = centroids.map { case (cid, c) =>
          struct(expr(s"graft_dot(embedding, $c)").as("s"), lit(-cid).as("negid"))
        }
        (emb.withColumn("cell", -greatest(cellScores: _*).getField("negid"))
          .select(col("cell"), col("vec_id")), centroids.map(_._1))
      }
    val counts = cellsOf._1
      .select(col("cell"), (col("vec_id") % 10 === 9).as("is_cur"))
      .groupBy(col("cell"))
      .agg(
        count_if(!col("is_cur")).as("n_ref"),
        count_if(col("is_cur")).as("n_cur"))
    val spine = {
      val sp = spark; import sp.implicits._
      cellsOf._2.toDF("cell")
    }
    val totals = counts.agg(
      sum(col("n_ref")).as("__tr"), sum(col("n_cur")).as("__tc"))
    val eps = lit(1e-4)
    val joined = spine
      .join(counts, Seq("cell"), "left")
      .select(col("cell"),
        coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"))
      .crossJoin(broadcast(totals))
    // totals floor at 1: an EMPTY slice otherwise divides 0/0 into NaN
    val p = greatest(col("n_ref").cast("double") /
      greatest(col("__tr"), lit(1L)).cast("double"), eps)
    val q = greatest(col("n_cur").cast("double") /
      greatest(col("__tc"), lit(1L)).cast("double"), eps)
    joined.select(
      col("cell"), col("n_ref"), col("n_cur"),
      round(p, 6).as("ref_frac"),
      round(q, 6).as("cur_frac"),
      round((p - q) * round(log(p / q), 6), 6).as("psi_term"))
      .orderBy(col("cell").asc)
  }

  /** Product-quantization codes — the compression half of an IVF-PQ index:
    * each embedding split into [[PqSubspaces]] (4) contiguous
    * sub-vectors, each sub-vector replaced by the id of its nearest
    * codebook centroid (squared-L2 argmin, ties to the smallest code).
    * 64 dims × 4 bytes become 4 bytes — the difference between an ANN
    * index that fits executor memory at 10⁹ vectors and one that doesn't.
    *
    * Codebooks are seeded from the [[PqCodebookSize]] (16) lowest-id
    * vectors' sub-vectors (deterministic; production would
    * k-means-refine each subspace — [[kmeansCells]] shows that loop).
    * The codes are columns of the maintained [[ivfCellIndex]], derived
    * once at build against the seed codebook as plan literals, so a call
    * is one scan: no shuffle, no join, no dot products.
    *
    * Cross-engine exactness: squared L2 enters as `c·c − 2·x·c` (the ‖x‖²
    * term is constant per sub-vector and cannot change the argmin, so both
    * sides drop it); every dot is the same sequential fold the knn twins
    * already match bit-for-bit, and only the integer codes are emitted.
    */
  def pqCodes(spark: SparkSession, sfDir: String): DataFrame = {
    // a corpus smaller than the codebook holds NULL codes (pqReady =
    // false at build): reject it (footer count — no scan)
    require(
      Tables.parquetRowCount(spark, sfDir, "embeddings") >= PqCodebookSize,
      s"pqCodes: corpus smaller than codebook size $PqCodebookSize — " +
        "the index carries no PQ codes")
    ivfCellIndex(spark, sfDir)
      .select((col("vec_id") +: (0 until PqSubspaces).map(m =>
        col(s"code$m").cast("long").as(s"code$m"))): _*)
      .orderBy(col("vec_id").asc)
  }

  /** [[semanticDedup]] with the census-derived quantizer width — the
    * registered `semantic_dedup` path, closing the one cell-scoped
    * sibling that was still registered at fixed k after
    * decontaminate/bitext/hard-negatives converted (review r12): at
    * fixed k cell sizes grow linearly with the corpus and the in-cell
    * self-join goes quadratic — the tier-H flag [[bitextCensusK]] fixes.
    */
  def semanticDedupAdaptive(
      spark: SparkSession, sfDir: String, threshold: Double = 0.4): DataFrame =
    semanticDedup(spark, sfDir, bitextCensusK(spark, sfDir), threshold)

  /** SemDeDup-style semantic deduplication: assign every vector to a
    * quantizer cell, then search for near-duplicates ONLY within each cell
    * — a vector is dropped when a lower-id cell-mate sits above the cosine
    * threshold (`dup_of` = the smallest such id; deterministic keeper-
    * election like [[Dedup]]'s exact path). Cell-scoping is the entire
    * scale story: the cluster count is the knob that bounds per-cell pair
    * production, exactly as SemDeDup runs ~100k clusters at web scale —
    * here k=16 suits the test corpus; at 100 TB k grows with the corpus so
    * cell sizes stay bounded and the cell-keyed self-join stays shuffle-
    * local and sub-quadratic. Cross-cell near-dups are missed by design
    * (recall < 1), the same trade [[embeddingNearDupPairsLSH]] makes.
    *
    * Cross-engine exactness: cell assignment reuses the seed quantizer
    * ([[kmeansSeedAssign]]'s argmax, ties to the lowest cell), and each
    * cosine is the same sequential `graft_dot` fold the twins match
    * bit-for-bit; only ids, the cell, and a boolean are emitted.
    */
  def semanticDedup(
      spark: SparkSession, sfDir: String, k: Int = 16,
      threshold: Double = 0.4): DataFrame = {
    val emb = seedAssignedEmb(spark, sfDir, k)
      .select(col("vec_id"), col("embedding"), col("__norm"), col("cell_id"))
    val q = emb.select(col("cell_id"), col("vec_id").as("q_id"),
      col("embedding").as("q_vec"), col("__norm").as("q_norm"))
    val c = emb.select(col("cell_id"), col("vec_id").as("c_id"),
      col("embedding").as("c_vec"), col("__norm").as("c_norm"))
    val dups = q.join(c, Seq("cell_id"))
      .filter(col("c_id") < col("q_id"))
      .withColumn("sim", simExpr)
      .filter(col("sim") >= threshold)
      .groupBy(col("q_id"))
      .agg(min(col("c_id")).as("dup_of"))
      .withColumnRenamed("q_id", "vec_id")
    emb.select(col("vec_id"), col("cell_id"))
      .join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell_id"), col("dup_of"),
        col("dup_of").isNull.as("kept"))
      .orderBy(col("vec_id").asc)
  }

  /** [[semanticDecontaminate]] with the census-derived quantizer width
    * ([[bitextCensusK]]) — the registered path: cell size stays bounded
    * as the corpus grows, so the within-cell eval×train join stays
    * corpus-linear (tier H flagged the fixed-k form at 10.6× under 10×).
    */
  def semanticDecontaminateAdaptive(
      spark: SparkSession, sfDir: String, threshold: Double = 0.4,
      evalMod: Int = 10, evalRem: Int = 9): DataFrame =
    semanticDecontaminate(spark, sfDir, bitextCensusK(spark, sfDir),
      threshold, evalMod, evalRem)

  /** Embedding-space DECONTAMINATION — the semantic twin of the n-gram
    * [[Contamination.decontaminate]]: for each EVAL-split vector, find the
    * most similar TRAIN-split vector; cosine ≥ `threshold` flags the eval
    * item as leaked into (or paraphrased in) the training pool, which
    * n-gram overlap misses once wording shifts. Eval is carved
    * deterministically (`vec_id % evalMod == evalRem`) so the report is
    * oracle-checkable.
    *
    * Pair production is bounded the same way as [[semanticDedup]]: both
    * sides assign to quantizer cells first and only same-cell pairs
    * score — at 100 TB this is the standard probe-the-index ANN shape
    * (and like any single-probe IVF it can miss a neighbor straddling a
    * cell boundary; raise k/probes or rerank for recall, the
    * [[annRecall]]-style audit quantifies it). One row per eval vector:
    * best train neighbor, similarity, contaminated flag.
    *
    * Scale shape: assignment is join-free (centroid literals), the probe
    * join keys on cell_id, and the per-eval argmax is a window over the
    * threshold survivors — work is cell-local, never eval × train.
    */
  def semanticDecontaminate(
      spark: SparkSession, sfDir: String, k: Int = 16,
      threshold: Double = 0.4, evalMod: Int = 10, evalRem: Int = 9): DataFrame = {
    val emb = seedAssignedEmb(spark, sfDir, k)
      .select(col("vec_id"), col("embedding"), col("__norm"), col("cell_id"))
    val isEval = pmod(col("vec_id"), lit(evalMod.toLong)) === evalRem.toLong
    val q = emb.filter(isEval).select(col("cell_id"),
      col("vec_id").as("q_id"), col("embedding").as("q_vec"),
      col("__norm").as("q_norm"))
    val c = emb.filter(!isEval).select(col("cell_id"),
      col("vec_id").as("c_id"), col("embedding").as("c_vec"),
      col("__norm").as("c_norm"))
    val best = q.join(c, Seq("cell_id"))
      .withColumn("sim", simExpr)
      .filter(col("sim") >= threshold)
      .withColumn("__rk", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("sim").desc, col("c_id").asc)))
      .filter(col("__rk") === 1)
      .select(col("q_id").as("vec_id"), col("c_id").as("nearest_train_id"),
        round(col("sim"), 6).as("similarity"))
    emb.filter(isEval).select(col("vec_id"))
      .join(best, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("nearest_train_id"), lit(-1L)).as("nearest_train_id"),
        coalesce(col("similarity"), lit(0.0)).as("similarity"),
        col("nearest_train_id").isNotNull.as("contaminated"))
      .orderBy(col("vec_id").asc)
  }

  /** The quantizer width the REGISTERED bitext path uses: 16 cells per
    * 500 corpus vectors (the sf0.01 base census), so the EXPECTED cell
    * size stays ~31 at any corpus size and within-cell pair production —
    * quadratic in cell size — stays corpus-LINEAR. This is the census
    * contract of `ivf_model`/`kmeans_model` applied to the mining k: the
    * corpus size comes from parquet footers (no scan), the twin computes
    * the identical `16·ceil(N/500)` from `count(*)`, and any census
    * change re-derives both sides. Fixed k was the one tier-H scale flag
    * (cells grow linearly with the corpus at fixed k; tier E proved
    * k=16·R restores base scope) — this makes the registered artifact
    * take the prescribed fix.
    */
  def bitextCensusK(spark: SparkSession, sfDir: String): Int = {
    val n = Tables.parquetRowCount(spark, sfDir, "embeddings")
    // toIntExact, not toInt: past ~6.7e10 rows the silent wrap would
    // feed a garbage k into the quantizer instead of failing loudly
    math.toIntExact((16L * ((n + 499L) / 500L)).max(16L))
  }

  /** [[crossLabelMine]] with the census-derived quantizer width — the
    * registered `bitext_mine` path (scale shape above).
    */
  def crossLabelMineAdaptive(
      spark: SparkSession, sfDir: String, threshold: Double = 0.3): DataFrame =
    crossLabelMine(spark, sfDir, bitextCensusK(spark, sfDir), threshold)

  /** Cross-group nearest-neighbor MINING — the bitext/parallel-corpus
    * shape (CCMatrix/LASER-style margin mining): for every vector, the
    * most similar vector carrying a DIFFERENT label, plus the margin of
    * that match over the runner-up cross-label candidate. High
    * similarity + high margin = a confident alignment; in a multilingual
    * corpus labels are languages and the output is mined translation
    * pairs, in a dedup setting labels are sources and the output is
    * cross-source duplicates.
    *
    * Pair production is cell-scoped exactly like [[semanticDedup]] —
    * quantizer cells bound the candidate join, never all-pairs — and the
    * per-query top-2 is a window over the threshold survivors. Margin is
    * one exactly-rounded subtraction of two twin-matched cosines (a
    * missing runner-up contributes 0 ⇒ margin = similarity).
    *
    * Scale shape: join-free assignment (centroid literals), one
    * cell-keyed join, one (cell-bounded) per-query window; one row per
    * vector with ≥1 cross-label neighbor above `threshold`.
    */
  def crossLabelMine(
      spark: SparkSession, sfDir: String, k: Int = 16,
      threshold: Double = 0.3): DataFrame = {
    val emb = seedAssignedEmb(spark, sfDir, k)
      .select(col("vec_id"), col("label"), col("embedding"), col("__norm"),
        col("cell_id"))
    val q = emb.select(col("cell_id"), col("vec_id").as("q_id"),
      col("label").as("q_label"), col("embedding").as("q_vec"),
      col("__norm").as("q_norm"))
    val c = emb.select(col("cell_id"), col("vec_id").as("c_id"),
      col("label").as("c_label"), col("embedding").as("c_vec"),
      col("__norm").as("c_norm"))
    q.join(c, Seq("cell_id"))
      .filter(col("q_label") =!= col("c_label"))
      .withColumn("sim", simExpr)
      .filter(col("sim") >= threshold)
      .withColumn("__rk", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("sim").desc, col("c_id").asc)))
      .filter(col("__rk") <= 2)
      .groupBy(col("q_id"), col("q_label"))
      .agg(
        max(when(col("__rk") === 1,
          struct(col("sim"), col("c_id"), col("c_label")))).as("__b"),
        max(when(col("__rk") === 2, col("sim"))).as("__s2"))
      .select(
        col("q_id").as("vec_id"), col("q_label").as("label"),
        col("__b.c_id").as("match_id"), col("__b.c_label").as("match_label"),
        round(col("__b.sim"), 6).as("similarity"),
        round(col("__b.sim") - coalesce(col("__s2"), lit(0.0)), 6)
          .as("margin"))
      .orderBy(col("vec_id").asc)
  }

  /** [[hardNegatives]] with the census-derived quantizer width
    * ([[bitextCensusK]]) — the registered path (tier H flagged the
    * fixed-k form at 19.8× under 10×: at fixed k=16 the per-cell
    * candidate join is quadratic in cell size, which grows linearly
    * with the corpus; the adaptive width keeps expected cell size ~31).
    */
  def hardNegativesAdaptive(
      spark: SparkSession, sfDir: String, nNeg: Int = 3,
      lo: Double = 0.2, hi: Double = 0.95,
      evalMod: Int = 10, evalRem: Int = 9): DataFrame =
    hardNegatives(spark, sfDir, bitextCensusK(spark, sfDir), nNeg, lo, hi,
      evalMod, evalRem)

  /** Hard-negative mining for contrastive retriever training — for every
    * held-out anchor (the eval split [[semanticDecontaminate]] audits),
    * the `nNeg` most-similar TRAIN vectors that are confusable but NOT
    * near-duplicates: cosine in [`lo`, `hi`). Above `hi` the candidate is
    * a positive/contaminant (mining it as a negative is the
    * false-negative failure DPR-style training guards against); below
    * `lo` it is a trivial negative with no gradient signal. One row per
    * (anchor, rank) — the batch a contrastive trainer consumes directly.
    *
    * Pair production is cell-scoped exactly like [[semanticDedup]]: a
    * hard negative is by definition semantically close, i.e. in the
    * anchor's quantizer cell, so the cell join bounds candidates and
    * all-pairs never happens. Cosines are the twin-matched exact chain
    * (integer-free float dot in double, one divide by the norm product);
    * ranks break ties on candidate id.
    *
    * Scale shape: join-free cell assignment (centroid literals) + one
    * cell-keyed join + a per-anchor window over cell-bounded survivors —
    * the [[crossLabelMine]] envelope with a band filter instead of the
    * label inequality.
    */
  def hardNegatives(
      spark: SparkSession, sfDir: String, k: Int = 16, nNeg: Int = 3,
      lo: Double = 0.2, hi: Double = 0.95,
      evalMod: Int = 10, evalRem: Int = 9): DataFrame = {
    val emb = seedAssignedEmb(spark, sfDir, k)
      .select(col("vec_id"), col("label"), col("embedding"), col("__norm"),
        col("cell_id"))
    val isEval = pmod(col("vec_id"), lit(evalMod.toLong)) === evalRem.toLong
    val q = emb.filter(isEval).select(col("cell_id"),
      col("vec_id").as("q_id"), col("embedding").as("q_vec"),
      col("__norm").as("q_norm"))
    val c = emb.filter(!isEval).select(col("cell_id"),
      col("vec_id").as("c_id"), col("label").as("c_label"),
      col("embedding").as("c_vec"), col("__norm").as("c_norm"))
    q.join(c, Seq("cell_id"))
      .withColumn("sim", simExpr)
      .filter(col("sim") >= lo && col("sim") < hi)
      .withColumn("neg_rank", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("sim").desc, col("c_id").asc)))
      .filter(col("neg_rank") <= nNeg)
      .select(col("q_id").as("anchor_id"), col("neg_rank"),
        col("c_id").as("negative_id"), col("c_label").as("negative_label"),
        round(col("sim"), 6).as("similarity"))
      .orderBy(col("anchor_id").asc, col("neg_rank").asc)
  }

  /** Cluster-balanced sample: an equal per-cell quota drawn in
    * deterministic pseudo-random order — the diversity-sampling step that
    * keeps a curated subset from collapsing onto the head clusters (the
    * selection SemDeDup/DSIR-style pipelines run AFTER dedup). Order
    * within a cell is the twinnable sha-bucket of [[Corpus.bucket1000]]
    * (vec_id tie-break), so the exact sample reproduces in any engine
    * with SHA-256.
    *
    * Scale shape: one assignment pass (join-free, centroid literals) + one
    * window partitioned BY CELL — per-cell sorts of bounded cells, never a
    * global sort; output is k×quota rows at any corpus size.
    */
  def clusterBalancedSample(
      spark: SparkSession, sfDir: String, k: Int = 16,
      perCell: Int = 8, salt: Int = 29): DataFrame = {
    val cells = seedAssignedEmb(spark, sfDir, k)
      .select(col("vec_id"), col("cell_id"))
    val bucket = Corpus.bucket1000(col("vec_id"), salt, twinnable = true)
    val w = Window.partitionBy(col("cell_id"))
      .orderBy(col("__bucket").asc, col("vec_id").asc)
    cells
      .withColumn("__bucket", bucket)
      .withColumn("sample_rank", row_number().over(w))
      .filter(col("sample_rank") <= perCell)
      .select(col("cell_id"), col("sample_rank"), col("vec_id"))
      .orderBy(col("cell_id").asc, col("sample_rank").asc)
  }
}
