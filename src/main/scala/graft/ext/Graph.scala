package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Tables

/** Iterative graph analytics beyond connected components
  * ([[Dedup.connectedComponents]]) — score-propagation algorithms whose
  * per-round shape is one edge join + one hash aggregation. Reference has
  * no analog (its data layer is CRUD, `/root/reference/src/routes/ads.ts`);
  * this is part of the §7.5 extension surface.
  */
object Graph {

  /** The COLLAPSED WEIGHTED co-purchase edge list — nodes are parts, an
    * edge (src, dst, w) says the two parts share `w` distinct orders; both
    * orientations present (symmetric), self-loops excluded — materialized
    * ONCE per sfDir as a bucketed derived table
    * ([[graft.ops.Layout.ensureDerived]], bucketed on `src`) and shared by
    * the whole graph family ([[partPageRank]], [[partTriangles]],
    * [[graft.queries.Marketplace.copurchasePairs]]), which previously
    * re-derived this same lineitem self-join + aggregation independently —
    * roughly a third of the graph family's cost re-spent twice. First call
    * pays one build (lineitem self-join keyed on the order key, pair
    * hash-agg); every later call — and later session over the same
    * warehouse — is a columnar scan of the bucketed copy, and a future
    * src-keyed shuffle join against another src-bucketed artifact would be
    * exchange-free.
    */
  /** Per-order pair production is C(basket, 2) — quadratic in basket
    * size. TPC-H bounds baskets at 7 lines/order, but a real marketplace
    * does not: one hot basket of 100k parts is 5×10⁹ pair rows from a
    * single order. Orders with more than `MaxBasket` DISTINCT parts are
    * therefore EXCLUDED from pair production entirely (the
    * `maxDocsPerSpan` discipline: a mega-basket is a degenerate signal
    * for association mining — a basket containing everything co-occurs
    * with everything — so dropping it changes no meaningful rule). The
    * guard is mirrored verbatim in every DuckDB twin that derives basket
    * pairs, so capped results stay hash-checked.
    */
  private[graft] val MaxBasket = 256L

  /** Restrict a distinct (l_orderkey, l_partkey) basket frame to orders
    * of ≤ [[MaxBasket]] distinct parts — THE basket guard, shared by the
    * edge artifact's build/refresh and by `part_affinity`'s denominators
    * so a cap change can never make the pair universe and the ratio
    * denominators drift apart.
    */
  private[graft] def boundedBaskets(op: DataFrame): DataFrame =
    op.join(
      op.groupBy(col("l_orderkey")).agg(count(lit(1)).as("__bs"))
        .filter(col("__bs") <= MaxBasket).select("l_orderkey"),
      Seq("l_orderkey"), "left_semi")

  /** Shared append-delta scaffolding for BOTH basket-family artifacts
    * (edges and census — one copy, so a fix to the dedup or the
    * cap-crossing predicate can never drift between them):
    *
    *   - dedup the shard's (l_orderkey, l_partkey) rows against the
    *     committed corpus, restricting the old side to delta-TOUCHED
    *     orders BEFORE the distinct (the dedup shuffle is sized by what
    *     the shard touches, not the committed corpus);
    *   - detect cap-CROSSING orders — old size in [`crossLowBound`,
    *     MaxBasket] (edges need ≥2 rows for the old artifact to hold
    *     pairs; the census counts 1-part orders too, hence ≥1), merged
    *     size > MaxBasket — the one case an append cannot express as a
    *     delta, signalled via [[graft.ops.Layout.FullRebuild]];
    *   - return `(newOnly, oldRaw, okTouched, oldSz)`: the genuinely-new
    *     memberships, the old memberships of touched orders, the touched
    *     orders that stayed under the cap (with their merged size
    *     `__m`), and the old sizes (`__o`) of touched orders.
    */
  private def basketDelta(
      spark: SparkSession, ctx: graft.ops.Layout.RefreshCtx,
      crossLowBound: Long)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val newRaw = spark.read.parquet(ctx.addedFiles: _*)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val touchedAny = newRaw.select("l_orderkey").distinct()
    val oldRaw = spark.read.parquet(ctx.priorFiles: _*)
      .select(col("l_orderkey"), col("l_partkey"))
      .join(touchedAny, Seq("l_orderkey"), "left_semi").distinct()
    // rows already present before the append contribute nothing new
    val newOnly = newRaw.join(oldRaw, Seq("l_orderkey", "l_partkey"),
      "left_anti")
    val touched = newOnly.select("l_orderkey").distinct()
    val mergedSz = oldRaw.unionByName(newOnly)
      .join(touched, Seq("l_orderkey"), "left_semi")
      .groupBy(col("l_orderkey")).agg(count(lit(1)).as("__m"))
    val oldSz = oldRaw
      .join(touched, Seq("l_orderkey"), "left_semi")
      .groupBy(col("l_orderkey")).agg(count(lit(1)).as("__o"))
    val crossed = mergedSz.filter(col("__m") > MaxBasket)
      .join(oldSz, Seq("l_orderkey"), "left")
      .filter(coalesce(col("__o"), lit(0L)).between(crossLowBound, MaxBasket))
    if (!crossed.isEmpty) throw new graft.ops.Layout.FullRebuild
    (newOnly, oldRaw, mergedSz.filter(col("__m") <= MaxBasket), oldSz)
  }

  /** Pair instances within an order between a `src`-side and a
    * `dst`-side membership frame — THE basket pair kernel, shared by the
    * edge artifact's build, its generational delta, and the streaming
    * ingest face ([[graft.streaming.CorpusIngest]]) so the three can
    * never drift.
    */
  private[graft] def edgePairsOf(src: DataFrame, dst: DataFrame): DataFrame =
    src.select(col("l_orderkey"), col("l_partkey").as("src"))
      .join(dst.select(col("l_orderkey"), col("l_partkey").as("dst")),
        Seq("l_orderkey"))
      .filter(col("src") =!= col("dst"))

  /** Collapse pair instances to weighted (src, dst, w) edges. */
  private[graft] def edgeAggW(pairs: DataFrame): DataFrame =
    pairs.groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))

  /** The append-epoch EDGE DELTA: exactly the pair instances with ≥1 end
    * among `newOnly` memberships — new×(old∪new) ∪ old×new, both with
    * the new side as one join input so the quadratic old×old self-join
    * never re-runs — restricted to `okOrders` (orders under the basket
    * cap after the merge). Shared by the batch artifact's
    * [[graft.ops.Layout.Append]] kernel and the streaming face.
    */
  private[graft] def edgeDelta(
      newOnly: DataFrame, oldRaw: DataFrame, okOrders: DataFrame): DataFrame = {
    def ok(df: DataFrame): DataFrame =
      df.join(okOrders, Seq("l_orderkey"), "left_semi")
    edgeAggW(
      edgePairsOf(ok(newOnly), ok(oldRaw.unionByName(newOnly)))
        .unionByName(edgePairsOf(ok(oldRaw), ok(newOnly))))
  }

  /** Union-find with MIN-root retention (labels = component minimum,
    * matching the distributed min-label contraction loop) — the same
    * kernel as [[Dedup.connectedComponents]]' driver branch, shared here
    * by the communities fast path.
    */
  private def unionFindMin(edges: Array[(Long, Long, Long)])
      : scala.collection.mutable.LongMap[Long] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (s, d, _) =>
      val (a, b) = (find(s), find(d))
      if (a != b) { if (a < b) parent(b) = a else parent(a) = b }
    }
    parent
  }

  private[graft] def coPurchaseEdges(
      spark: SparkSession, sfDir: String): DataFrame = {
    // baskets ≤ MaxBasket distinct parts; see the guard's scaladoc above
    def bounded(op: DataFrame): DataFrame = boundedBaskets(op)
    def pairsOf(src: DataFrame, dst: DataFrame): DataFrame =
      edgePairsOf(src, dst)
    def aggW(pairs: DataFrame): DataFrame = edgeAggW(pairs)
    graft.ops.Layout.ensureDerived(spark, sfDir, "copurch_edges",
      Seq("lineitem.parquet"), "src", version = 2,
      // GENERATIONAL APPEND REFRESH — an appended lineitem shard
      // contributes exactly the pairs with ≥1 end among its NEW
      // (l_orderkey, l_partkey) rows — new×all ∪ old×new, both computed
      // with the new side as one join input, so the quadratic old×old
      // self-join (the build's cost) never re-runs; the old files are
      // only re-SCANNED (linear) for orders the delta touches. The
      // delta's (src, dst, w) rows — which may REPEAT keys already
      // committed — land as ADDITIONAL bucket files next to the
      // hardlinked base (tier J r10 measured why: the refresh-path full
      // rewrite of 241M edges cost a build; the delta itself is tiny),
      // and consumers sum weights per (src, dst) at read through the
      // Append merge — exchange-free over the src-bucketed scan, and
      // bit-identical to a full rebuild because pair instances partition
      // disjointly by whether they touch a new row. Version stays 2: the
      // on-disk row format is unchanged (a pre-generational committed
      // artifact is a valid single generation).
      append = Some(graft.ops.Layout.Append(
        delta = { ctx =>
          // crossLowBound = 2: only orders whose OLD history already held
          // ≥2 parts have pairs in the committed artifact that a
          // cap-crossing would orphan (a 0/1-part history has none)
          val (newOnly, oldRaw, okTouched, _) = basketDelta(spark, ctx, 2L)
          edgeDelta(newOnly, oldRaw, okTouched.select("l_orderkey"))
        },
        merge = _.groupBy(col("src"), col("dst"))
          .agg(sum(col("w")).as("w"))))) {
      val op = bounded(Tables.lineitem(spark, sfDir)
        .select(col("l_orderkey"), col("l_partkey")).distinct())
      aggW(pairsOf(op, op))
    }
  }

  /** Basket CENSUS artifact (`copurch_census`) — the association-rule
    * denominators next to [[coPurchaseEdges]]: per-part bounded-basket
    * membership counts, plus ONE sentinel row (`l_partkey = -1`, part
    * keys are positive) carrying the bounded-basket total. Same
    * [[MaxBasket]] universe as the edge artifact BY SHARED KERNEL
    * ([[boundedBaskets]]), same census/refresh contract — so
    * `part_affinity`'s support/confidence/lift denominators come off a
    * |parts|+1-row bucketed scan instead of re-deriving a
    * distinct+groupBy over the raw fact table per call (the tier-J
    * 22.9× hardening note: at 60M rows the denominators were 95% of the
    * query's cost; the artifact makes them edge-family-proportional).
    *
    * APPEND-ONLY REFRESH mirrors the edge artifact's base⊕merge: a new
    * (l_orderkey, l_partkey) membership adds 1 to its part's count when
    * the merged order stays under the cap; a brand-new order adds 1 to
    * the sentinel; a cap-CROSSING order (old ≤ cap, merged > cap) has
    * memberships counted in the old census that a rebuild would drop —
    * exactly the edge artifact's inexpressible case, same FullRebuild
    * fallback. Rides the same [[graft.ops.Layout.Append]] contract
    * as the edges — the per-epoch delta (touched parts + one sentinel
    * row) lands as extra bucket files next to the hardlinked base, and
    * counts sum per part at read while multi-generation: at 100 TB the
    * part dimension itself can be large enough that even the
    * |parts|+1-row rewrite should not be paid every ingest epoch.
    */
  private[graft] def basketCensus(
      spark: SparkSession, sfDir: String): DataFrame = {
    def censusOf(op: DataFrame): DataFrame = {
      val b = boundedBaskets(op)
      b.groupBy(col("l_partkey")).agg(count(lit(1)).as("pc"))
        .unionByName(
          b.select(col("l_orderkey")).distinct()
            .agg(count(lit(1)).as("pc"))
            .select(lit(-1L).as("l_partkey"), col("pc")))
    }
    graft.ops.Layout.ensureDerived(spark, sfDir, "copurch_census",
      Seq("lineitem.parquet"), "l_partkey", version = 1,
      append = Some(graft.ops.Layout.Append(
        delta = { ctx =>
          // crossLowBound = 1: the old census counted this order already
          // at 1 part (a 1-part order counts toward pc and the basket
          // total, unlike the edge artifact's ≥2 pair bound)
          val (newOnly, _, okTouched, oldSz) = basketDelta(spark, ctx, 1L)
          val okNew = newOnly
            .join(okTouched.select("l_orderkey"), Seq("l_orderkey"),
              "left_semi")
          val pcDelta = okNew.groupBy(col("l_partkey"))
            .agg(count(lit(1)).as("pc"))
          // brand-new orders (no old membership) grow the basket total
          val nbDelta = okTouched
            .join(oldSz, Seq("l_orderkey"), "left")
            .filter(coalesce(col("__o"), lit(0L)) === 0L)
            .agg(count(lit(1)).as("pc"))
            .select(lit(-1L).as("l_partkey"), col("pc"))
          pcDelta.unionByName(nbDelta)
        },
        merge = _.groupBy(col("l_partkey"))
          .agg(sum(col("pc")).as("pc"))))) {
      censusOf(Tables.lineitem(spark, sfDir)
        .select(col("l_orderkey"), col("l_partkey")).distinct())
    }
  }

  /** PageRank over the co-purchase part graph (parts are nodes; an edge
    * connects two parts that share an order — both orientations, so the
    * graph is symmetric): the influence ranking behind "important products"
    * / seed-selection, and the fourth ITERATIVE-algorithm family in the
    * engine next to min-label CC, Lloyd k-means and BPE merges.
    *
    * Engine-exact determinism for the oracle: the ENTIRE recurrence runs
    * in fixed-point integer arithmetic — ranks are BIGINT picounits
    * (10⁻¹² of total mass), neighbor contributions are integer division
    * `rank_e12 DIV deg`, damping is `(85·s) DIV 100` — so no float
    * touches the iteration and any engine reproduces it bit-exactly
    * (doubles failed here: Spark's decimal-string HALF_UP and DuckDB's
    * binary rounding disagree at half-ulp boundaries of round(·,12)).
    * Floor-division bias is < deg picounits per node per round —
    * immaterial at 10⁻¹² resolution, and deterministic. The DuckDB twin
    * unrolls the same `iters` rounds as CTEs ([[graft.SparkEntry]]
    * generates it from the same constants).
    *
    * Scale shape: per round, one edges⋈ranks equi-join on the src key and
    * one map-side-combinable sum keyed on dst — the classic distributed
    * PageRank step; the rank frame is |nodes| rows of (long, double).
    * `iters` is fixed (power iteration converges geometrically; 5 rounds
    * orders the head of the distribution); only the node COUNT crosses the
    * driver. Isolated parts (never co-ordered) are excluded — in the
    * symmetric graph every node has degree ≥ 1, so there is no dangling
    * mass to redistribute.
    */
  def partPageRank(
      spark: SparkSession, sfDir: String, iters: Int = 5,
      damping: Double = 0.85, topK: Int = 25,
      maxBroadcastNodes: Long = 50_000_000L): DataFrame = {
    // Default-config ranks are a MAINTAINED ARTIFACT (same reasoning as
    // the ANN family's ivf_model): a production deployment serves rank as
    // a persisted per-node feature column, recomputed when the fact table
    // changes — not re-iterated per query. ensureDerived's census on
    // lineitem invalidates on any graph change, and there is deliberately
    // NO append-refresh kernel: rank is a global fixed point, so any
    // delta retrains the full recurrence (exactly what the oracle twin
    // replays). Non-default configs (StressTier's shuffle-path probe,
    // alternate damping) always compute live.
    val useArtifact =
      iters == 5 && damping == 0.85 && maxBroadcastNodes == 50_000_000L
    val ranks =
      if (useArtifact) {
        val toRelease = scala.collection.mutable.ListBuffer.empty[DataFrame]
        try {
          graft.ops.Layout.ensureDerived(spark, sfDir, "part_rank",
            Seq("lineitem.parquet"), key = "node", buckets = 8, version = 1) {
            rankRecurrence(spark, sfDir, iters, damping, maxBroadcastNodes,
              toRelease)
          }
        } finally toRelease.foreach(_.unpersist())
      } else {
        val toRelease = scala.collection.mutable.ListBuffer.empty[DataFrame]
        val live = rankRecurrence(spark, sfDir, iters, damping,
          maxBroadcastNodes, toRelease)
        // materialize before releasing the round caches the frame chains to
        val out = graft.ops.Materialize.localOrSpill(
          live
            .select(col("node").as("p_partkey"), col("rank_e12"),
              (col("rank_e12").cast("double") / lit(1e12)).as("rank"))
            .orderBy(col("rank_e12").desc, col("p_partkey").asc)
            .limit(topK))
        toRelease.foreach(_.unpersist())
        return out
      }
    graft.ops.Materialize.localOrSpill(
      ranks
        .select(col("node").as("p_partkey"), col("rank_e12"),
          (col("rank_e12").cast("double") / lit(1e12)).as("rank"))
        .orderBy(col("rank_e12").desc, col("p_partkey").asc)
        .limit(topK))
  }

  /** The full `iters`-round fixed-point recurrence, returning the final
    * per-node (node, rank_e12) frame. Every cache taken along the way is
    * appended to `toRelease` for the CALLER to unpersist after the frame
    * has been consumed (written to the artifact or materialized) — the
    * final round's cache must outlive this method.
    */
  private def rankRecurrence(
      spark: SparkSession, sfDir: String, iters: Int, damping: Double,
      maxBroadcastNodes: Long,
      toRelease: scala.collection.mutable.ListBuffer[DataFrame]): DataFrame = {
    // weighted multigraph: two parts sharing k orders hold an edge of
    // weight k, so rank flows in proportion to co-purchase FREQUENCY.
    // Parallel edges are COLLAPSED to (src, dst, w) — k instances each
    // contributing `rank div deg` is exactly `w · (rank div deg)` in
    // integer arithmetic, so the aggregation is a pure optimization
    // (bit-identical result) that halves every round's join input.
    // The edge list is the family-shared derived table; persisting its
    // scan keeps the five rounds off storage
    val edges = coPurchaseEdges(spark, sfDir).persist()
    toRelease += edges
    val deg = edges.groupBy(col("src")).agg(sum(col("w")).as("deg"))
      .persist()
    toRelease += deg
    val n = deg.count() // the one driver-side scalar (node count)
    val nodes = deg.select(col("src").as("node"))
    val unit = 1000000000000L // picounits of total rank mass
    val dPct = math.round(damping * 100) // 85
    val baseE12 = (unit - unit * dPct / 100L) / n // ((1-d)·unit) DIV n
    var ranks = nodes.withColumn("rank_e12", lit(unit / n))
    // The per-edge contribution rank÷deg is a function of the SOURCE
    // node alone, so it folds into a |nodes|-sized table BEFORE touching
    // edges: each round is then exactly one broadcast join over the
    // persisted edge list + one dst-keyed map-side-combinable sum.
    // Entity tables are dwarfed by their edge tables — broadcast is the
    // right plan until |nodes| outgrows executor memory; past
    // `maxBroadcastNodes` the hint is DROPPED and each round runs as a
    // src-keyed shuffle join instead (bit-identical result — the
    // recurrence is pure integer arithmetic either way; exercised at
    // tier C volume by StressTier's c.pagerank_shuffle phase).
    val hint: DataFrame => DataFrame =
      if (n <= maxBroadcastNodes) broadcast(_) else identity(_)
    // each round's rank frame is persisted and materialized EAGERLY:
    // left lazy, round i's broadcast job re-walks the whole chain of
    // rounds 1..i−1 serially (measured 5 s warm at sf0.1 — broadcast
    // futures resolve one by one, each re-executing its lineage); the
    // |nodes|-row cache per round cuts that to one tiny scan
    for (_ <- 1 to iters) {
      val nodeContrib = ranks.join(deg.withColumnRenamed("src", "node"),
      Seq("node"))
      .select(col("node").as("src"), expr("rank_e12 div deg").as("__c"))
      val contrib = edges
      .join(hint(nodeContrib), Seq("src"))
      .groupBy(col("dst").as("node"))
      .agg(sum(col("w") * col("__c")).as("__s"))
      val prev = ranks
      ranks = nodes.join(hint(contrib), Seq("node"), "left")
      .select(col("node"),
        (lit(baseE12) +
          expr(s"($dPct * coalesce(__s, 0L)) div 100")).as("rank_e12"))
      .persist()
      ranks.count() // materialize now; sever this round from the next
      prev.unpersist()
    }
    toRelease += ranks
    ranks.select(col("node"), col("rank_e12"))
  }

  /** Co-purchase COMMUNITIES: connected components over the STRONG edges
    * of the part graph (pairs co-ordered in ≥ `minWeight` distinct
    * orders) — the "product families that sell together repeatedly"
    * report, and a reuse proof for the engine's size-adaptive CC
    * primitive ([[Dedup.connectedComponents]]) outside its dedup home.
    * One-off co-occurrences are noise at any scale (the full co-purchase
    * graph is near-complete — sf0.1: 1.2M edges over 20k parts — and one
    * giant component); the weight threshold is what makes communities
    * meaningful AND keeps the edge list sparse as volume grows (repeat
    * co-purchase is rare: w≥2 leaves ~3.5k of 1.2M edges at sf0.1).
    *
    * Emits one row per community: min-part-key label, member count,
    * internal (canonical src<dst) edge count and total weight — all
    * integers, so the recursive-CTE min-label twin matches exactly.
    *
    * Scale shape: the strong-edge filter prunes at the shared bucketed
    * artifact's scan; CC is the stress-proven size-adaptive branch pair
    * (driver union-find under the edge limit, distributed min-label loop
    * above it); the two summary aggregations run on the |strong-edges|
    * frame keyed by the label — no corpus-sized structure anywhere.
    */
  def copurchaseCommunities(
      spark: SparkSession, sfDir: String, minWeight: Long = 2L): DataFrame = {
    import spark.implicits._
    val strongLazy = coPurchaseEdges(spark, sfDir)
      .filter(col("src") < col("dst") && col("w") >= minWeight)
    // Size-adaptive fast path (r13 optimization): the strong graph is
    // driver-sized at any realistic weight threshold — one typed collect
    // replaces the CC driver round-trip (which re-collects these same
    // edges), the singleton anti-join, two summary aggregations and a
    // join: ~8 scheduled jobs down to 1. Same min-label/union-find
    // kernel, same integer aggregates, bit-identical report.
    graft.ops.Materialize.collectIfDriverSized(
      strongLazy.select(col("src"), col("dst"), col("w"))
        .as[(Long, Long, Long)]) match {
      case Some(es) =>
        val parent = unionFindMin(es)
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
          r
        }
        // per-label node counts over DISTINCT endpoints, edge counts and
        // weight sums over the canonical (src<dst) edges — exactly the
        // sizes ⋈ estat frames of the distributed branch (every member
        // of an edge-bearing community is an edge endpoint, so the CC
        // singleton tail can never contribute a row here)
        val seen = scala.collection.mutable.LongMap.empty[Unit]
        val nParts = scala.collection.mutable.LongMap.empty[Long]
        val nEdges = scala.collection.mutable.LongMap.empty[Long]
        val totW = scala.collection.mutable.LongMap.empty[Long]
        es.foreach { case (s, d, w) =>
          if (!seen.contains(s)) {
            seen(s) = (); val l = find(s); nParts(l) = nParts.getOrElse(l, 0L) + 1L
          }
          if (!seen.contains(d)) {
            seen(d) = (); val l = find(d); nParts(l) = nParts.getOrElse(l, 0L) + 1L
          }
          val l = find(s)
          nEdges(l) = nEdges.getOrElse(l, 0L) + 1L
          totW(l) = totW.getOrElse(l, 0L) + w
        }
        return nParts.iterator
          .map { case (l, np) => (l, np, nEdges(l), totW(l)) }
          .toSeq.sortBy { case (l, np, _, _) => (-np, l) }
          .toDF("community_id", "n_parts", "n_edges", "total_weight")
      case None => () // scale branch below
    }
    val strong = strongLazy.persist()
    try {
      val pairs = strong.select(col("src").as("doc_a"), col("dst").as("doc_b"))
      val nodes = strong.select(col("src").as("doc_id"))
        .unionByName(strong.select(col("dst").as("doc_id"))).distinct()
      // labels feed BOTH summary aggregations — cached so the CC result
      // (incl. its singleton anti-join tail) executes once, not per branch
      val cc = Dedup.connectedComponents(pairs, nodes).persist()
      try {
        val sizes = cc.groupBy(col("cluster_id"))
          .agg(count(lit(1)).as("n_parts"))
        val estat = strong
          .join(cc.withColumnRenamed("doc_id", "src"), Seq("src"))
          .groupBy(col("cluster_id"))
          .agg(count(lit(1)).as("n_edges"), sum(col("w")).as("total_weight"))
        // every community has ≥1 internal edge by construction (labels come
        // from the edge set), so the join is total
        graft.ops.Materialize.localOrSpill(
          sizes.join(estat, Seq("cluster_id"))
            .select(col("cluster_id").as("community_id"), col("n_parts"),
              col("n_edges"), col("total_weight"))
            .orderBy(col("n_parts").desc, col("community_id").asc))
      } finally cc.unpersist()
    } finally strong.unpersist()
  }

  /** k-core PEELING CURVE of the strong co-purchase graph: per peeling
    * round, the surviving node/edge counts — the graph-density backbone
    * report (how much of the graph is load-bearing structure vs fringe).
    * Round r removes every node whose degree within round r−1's induced
    * subgraph is < k; `converged = true` marks rounds past the fixpoint
    * (node sets shrink monotonically, so equal consecutive COUNTS imply
    * equal sets). `rounds` bounds work deterministically — the row
    * semantics are "after r peels", exact whether or not the true k-core
    * was reached, and the flag says which.
    *
    * Scale shape per round: two left-semi joins prune the edge artifact
    * to the surviving induced subgraph and one hash-agg computes degrees
    * — fixed-width (long,long) rows, each round pinned to the spill store
    * and the previous round's files deleted (the CC loop discipline). The
    * report is `rounds` rows, assembled driver-side from per-round
    * counts (bounded actions, like the Lloyd trainer).
    */
  def copurchaseKCore(
      spark: SparkSession, sfDir: String, k: Int = 2,
      minWeight: Long = 2L, rounds: Int = 5): DataFrame = {
    import spark.implicits._
    val undLazy = coPurchaseEdges(spark, sfDir)
      .filter(col("src") < col("dst") && col("w") >= minWeight)
      .select("src", "dst")
    // Size-adaptive fast path (r13 optimization): the strong graph the
    // peel runs on fits the driver budget, so the per-round
    // degree-agg + two semi-joins + pin + two counts — ~4 scheduled
    // jobs × `rounds` — collapse into one typed collect and
    // local integer arithmetic. Identical peeling recurrence, identical
    // report rows; past the cap the distributed loop below is the
    // unchanged scale branch.
    graft.ops.Materialize.collectIfDriverSized(
      undLazy.as[(Long, Long)]) match {
      case Some(es0) =>
        var edges = es0
        val seen0 = scala.collection.mutable.LongMap.empty[Unit]
        es0.foreach { case (s, d) => seen0(s) = (); seen0(d) = () }
        var prevNodes = seen0.size.toLong
        val report = scala.collection.mutable.ArrayBuffer
          .empty[(Int, Long, Long, Boolean)]
        var r = 1
        while (r <= rounds) {
          val deg = scala.collection.mutable.LongMap.empty[Long]
          edges.foreach { case (s, d) =>
            deg(s) = deg.getOrElse(s, 0L) + 1L
            deg(d) = deg.getOrElse(d, 0L) + 1L
          }
          val keep = scala.collection.mutable.LongMap.empty[Unit]
          deg.foreach { case (n, dg) => if (dg >= k) keep(n) = () }
          edges = edges.filter { case (s, d) =>
            keep.contains(s) && keep.contains(d)
          }
          val nNodes = keep.size.toLong
          report += ((r, nNodes, edges.length.toLong, nNodes == prevNodes))
          prevNodes = nNodes
          r += 1
        }
        return report.toSeq.toDF("round", "n_nodes", "n_edges", "converged")
          .orderBy(col("round").asc)
      case None => () // scale branch below
    }
    val und = undLazy.persist()
    try graft.ops.Materialize.withSpillRoot { root =>
      def rmDir(p: String): Unit =
        graft.ops.Materialize.deleteRecursively(new java.io.File(p))
      var induced = und
      // round 1's `converged` compares against the FULL node universe
      // (the twin's n0) — not a sentinel — so a graph that is already
      // its own k-core reports converged from round 1 in both engines
      var prevNodes = und.select(col("src").as("node"))
        .unionByName(und.select(col("dst").as("node")))
        .distinct().count()
      val report = scala.collection.mutable.ArrayBuffer
        .empty[(Int, Long, Long, Boolean)]
      var r = 1
      while (r <= rounds) {
        val deg = induced.select(col("src").as("node"))
          .unionByName(induced.select(col("dst").as("node")))
          .groupBy(col("node")).agg(count(lit(1)).as("deg"))
        val nodes = deg.filter(col("deg") >= k).select("node").persist()
        val nNodes = nodes.count()
        // each round is pinned: `induced` feeds three consumers per round,
        // so an unpinned loop grows the plan 3^rounds (a planner OOM)
        val nextInduced = graft.ops.Materialize.pin(induced
          .join(nodes.select(col("node").as("src")), Seq("src"), "left_semi")
          .join(nodes.select(col("node").as("dst")), Seq("dst"), "left_semi"),
          s"$root/r$r")
        val nEdges = nextInduced.count()
        report += ((r, nNodes, nEdges, nNodes == prevNodes))
        prevNodes = nNodes
        nodes.unpersist()
        // round r-1's files are read by nothing from here on
        rmDir(s"$root/r${r - 1}")
        induced = nextInduced
        r += 1
      }
      rmDir(root) // the report is driver rows; no round is read again
      report.toSeq.toDF("round", "n_nodes", "n_edges", "converged")
        .orderBy(col("round").asc)
    } finally { und.unpersist(); () }
  }

  /** Triangle participation per part in the co-purchase graph (simple,
    * undirected): how many part-triples are mutually co-purchased through
    * each part — the local clustering signal behind bundle detection and
    * graph-density profiling.
    *
    * The count uses the DEGREE-ORDERED orientation (each undirected edge
    * points from its lower-(degree, id) endpoint to the higher): every
    * triangle then has exactly one vertex with two OUT-edges, so counting
    * closed wedges once — no ×6 overcount, and the wedge fan-out per
    * vertex is bounded by its oriented out-degree ≤ O(√|E|) (arboricity
    * bound), which is what keeps the join sub-quadratic on skewed graphs
    * where a hub's raw degree would explode a naive wedge join.
    *
    * The census runs on a DETERMINISTIC VERTEX SAMPLE (sha-bucket of the
    * part key, keep 1/`sampleMod`): the co-purchase graph is dense (sf0.1:
    * 1.2M edges over 20k parts, mean degree ~90), and an induced-subgraph
    * census is the standard triangle estimator — the full-graph count is
    * the sampled count × sampleMod³ in expectation, while edges fall by
    * p², wedges by p³. `sampleMod = 1` is the exact full census when the
    * graph affords it. The sample predicate prunes BEFORE edge
    * construction, so the whole pipeline shrinks, not just the last join.
    *
    * Scale shape: one edge-dedup shuffle, a |nodes|-sized degree table
    * broadcast into the orientation pass, one self-join of the oriented
    * edges on the wedge apex, one semi-ish join closing the wedge against
    * the canonical edge list, then an explode-to-3-vertices hash-agg.
    * Everything shuffles fixed-width (long, long) rows; counts are
    * integers, so the twin is exact.
    */
  def partTriangles(
      spark: SparkSession, sfDir: String, topK: Int = 25,
      sampleMod: Int = 4): DataFrame = {
    def keep(c: Column) = Dedup.shaBucket(c, sampleMod.toLong) === 0L
    // canonical simple edges of the vertex-sampled induced subgraph:
    // src < dst halves the shared symmetric edge table to one orientation
    // (already order-deduped by the artifact's aggregation). The sample
    // membership is evaluated ONCE over the |parts| node universe and
    // broadcast-semi-joined into the edge table — hashing each node once
    // instead of sha-256ing both endpoints of every edge row (2 per edge,
    // measured ~0.7 s of pure hashing at sf0.1's 2.4M edge rows). Same
    // edge set as the former pre-join lineitem filter.
    val sampledNodes = Tables.part(spark, sfDir)
      .select(col("p_partkey").as("node"))
      .filter(keep(col("node")))
    val undLazy = coPurchaseEdges(spark, sfDir)
      .filter(col("src") < col("dst"))
      .join(broadcast(sampledNodes.select(col("node").as("src"))),
        Seq("src"), "left_semi")
      .join(broadcast(sampledNodes.select(col("node").as("dst"))),
        Seq("dst"), "left_semi")
      .select("src", "dst")
    // Size-adaptive fast path (r13 optimization): the SAMPLED induced
    // subgraph (edges fall by sampleMod², sf0.1: ~2% of the artifact) is
    // driver-sized, so the degree broadcast joins, the wedge self-join
    // and the closure join — 7 scheduled jobs — collapse to one typed
    // collect + the same degree-ordered wedge enumeration locally. The
    // probe spends a quarter of the driver budget because the local work
    // is Σ out-deg² (the identical arboricity-bounded work the wedge join
    // does, minus the cluster), so this cap bounds local compute, not
    // heap; past it the distributed census below is the unchanged scale
    // branch.
    val fastPath = graft.ops.Materialize.collectIfDriverSized(
      undLazy.as[(Long, Long)](
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong)), budgetDivisor = 4)
    fastPath match {
      case Some(es) =>
        import spark.implicits._
        val deg = scala.collection.mutable.LongMap.empty[Long]
        es.foreach { case (s, d) =>
          deg(s) = deg.getOrElse(s, 0L) + 1L
          deg(d) = deg.getOrElse(d, 0L) + 1L
        }
        val edgeSet = new scala.collection.mutable.HashSet[(Long, Long)]
        es.foreach(edgeSet += _)
        // orient low-(deg, id) → high-(deg, id), as the distributed pass
        def lower(a: Long, b: Long): Boolean = {
          val (da, db) = (deg(a), deg(b))
          da < db || (da == db && a < b)
        }
        val out = scala.collection.mutable.LongMap
          .empty[scala.collection.mutable.ArrayBuffer[Long]]
        es.foreach { case (s, d) =>
          val (u, v) = if (lower(s, d)) (s, d) else (d, s)
          out.getOrElseUpdate(u,
            scala.collection.mutable.ArrayBuffer.empty[Long]) += v
        }
        val tri = scala.collection.mutable.LongMap.empty[Long]
        def bump(n: Long): Unit = tri(n) = tri.getOrElse(n, 0L) + 1L
        out.foreach { case (_, nbrs) => nbrs.sortInPlace() }
        out.foreach { case (u, nbrs) =>
          val arr = nbrs.toArray
          var i = 0
          while (i < arr.length) {
            var j = i + 1
            while (j < arr.length) {
              if (edgeSet.contains((arr(i), arr(j)))) {
                bump(u); bump(arr(i)); bump(arr(j))
              }
              j += 1
            }
            i += 1
          }
        }
        return tri.iterator.toSeq
          .sortBy { case (n, c) => (-c, n) }
          .take(topK)
          .toDF("p_partkey", "n_triangles")
      case None => () // scale branch below
    }
    val und = undLazy.persist()
    try {
      val deg = und.select(col("src").as("node"))
        .unionAll(und.select(col("dst").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      val withDeg = und
        .join(broadcast(deg.select(col("node").as("src"),
          col("deg").as("__ds"))), Seq("src"))
        .join(broadcast(deg.select(col("node").as("dst"),
          col("deg").as("__dd"))), Seq("dst"))
      // orient low-(deg, id) → high-(deg, id)
      val oriented = withDeg.select(
        when(col("__ds") < col("__dd") ||
          (col("__ds") === col("__dd") && col("src") < col("dst")),
          col("src")).otherwise(col("dst")).as("u"),
        when(col("__ds") < col("__dd") ||
          (col("__ds") === col("__dd") && col("src") < col("dst")),
          col("dst")).otherwise(col("src")).as("v"))
      val wedges = oriented.select(col("u"), col("v").as("v1"))
        .join(oriented.select(col("u"), col("v").as("v2")), Seq("u"))
        .filter(col("v1") < col("v2"))
      val triangles = wedges.join(und,
        wedges("v1") === und("src") && wedges("v2") === und("dst"))
        .select(col("u"), col("v1"), col("v2"))
      // topK rows driver-materialized BEFORE the finally drops the edge
      // cache — returning the lazy frame here would unpersist `und` at
      // plan-build time and re-execute its semi-join subtree once per
      // reference (deg reads it twice, the wedge join twice more):
      // measured 3.97 s lazy vs 1.9 s materialized at sf0.1
      graft.ops.Materialize.localOrSpill(triangles
        .select(explode(array(col("u"), col("v1"), col("v2"))).as("p_partkey"))
        .groupBy(col("p_partkey"))
        .agg(count(lit(1)).as("n_triangles"))
        .orderBy(col("n_triangles").desc, col("p_partkey").asc)
        .limit(topK))
    } finally und.unpersist()
  }
}
