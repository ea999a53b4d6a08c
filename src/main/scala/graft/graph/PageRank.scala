package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.operators.Checkpointing.CutOps

/** Iterative damped PageRank over an arbitrary `edges(src, dst)`
  * DataFrame — the Spark-first re-expression of the reference's
  * pageRankComputeJob loop (/root/reference/PageRank.java:190-244,
  * 437-530).
  *
  * Semantics match the reference:
  *   - fixed iteration count (reference: 10), damping d = 0.85;
  *   - `PR'(u) = (1 - d) + d * Σ_{(v,u) ∈ E} PR(v) / outdeg(v)` — the
  *     (1-d) term is NOT divided by N (PageRank.java:523);
  *   - initial rank 1/N for every node (PageRank.java:378);
  *   - nodes with no outlinks keep receiving rank but emit none (rank
  *     "leaks", as in the reference — no dangling redistribution).
  *
  * Scale design (100 TB edges / 1000 executors):
  *   - Edges joined with out-degrees ONCE, hash-partitioned by `src`,
  *     and persisted — the per-iteration `ranks ⋈ edges` join then
  *     shuffles only the rank table (O(|V|)), never the edge set.
  *     The reference re-reads and re-writes the full graph as text
  *     files every iteration; here the big side stays resident and
  *     partitioned.
  *   - Contributions aggregate with map-side partial sums
  *     (`groupBy(dst).sum` → partial HashAggregate before the
  *     exchange), so the shuffle carries one partial per (partition,
  *     node), not one record per edge.
  *   - `localCheckpoint` every 3 iterations truncates the lineage so
  *     the plan (and failure-recovery cost) stays O(1) per iteration
  *     instead of growing with the iteration count.
  *   - AQE splits skewed hub nodes' aggregation partitions at runtime.
  *
  * Cache lifecycle — SELF-RELEASING: the static loop frames (edges
  * joined with out-degrees, the node set) are eagerly lineage-cut
  * (localCheckpoint) rather than persisted, so their blocks live in
  * the block manager and release with the RDD on GC — nothing is ever
  * registered in the cache manager, and a many-query session (Bench
  * runs hundreds of evaluations in one JVM) accumulates no cached
  * edge tables (CacheHygieneSpec pins this for every graph operator).
  * The fixed-iteration entry points still return a LAZY frame over
  * those checkpoint leaves, so `.explain` audits and plan pins see
  * the whole iteration chain; the convergence twins, whose round
  * counts are run-dependent, cut their results eagerly and release
  * their own loop caches before returning.
  */
object PageRank {

  /** Shared contribution aggregation: sum per target node, either the
    * plain partial-aggregated groupBy or SkewTools' two-stage salted
    * sum when a pathological hub would otherwise land its whole
    * incoming mass on one reducer (AQE splits skewed joins, not
    * skewed aggregation keys). `contribRows` must carry `_sb` (the
    * contributing src — stable content for a retry-safe salt),
    * `node`, `contrib`, and `_page` when `carryPage` is set: the
    * per-node `max(_page)` then rides both stages into the output.
    */
  private def aggContribs(contribRows: DataFrame,
      saltHotKeys: Int, carryPage: Boolean = false): DataFrame = {
    val flag = if (carryPage) Seq("_page") else Nil
    if (saltHotKeys > 0)
      graft.operators.SkewTools
        .saltedSumCount(contribRows, "node", "contrib",
          salts = saltHotKeys, saltByCols = Seq("_sb"), maxCols = flag)
        .select(col("node") +: col("sum").as("incoming") +:
          flag.map(col): _*)
    else
      contribRows.groupBy("node").agg(sum("contrib").as("incoming"),
        flag.map(c => max(c).as(c)): _*)
  }

  /** The static loop frames every count-based variant shares —
    * factored so the parity-critical layout (distinct edges joined
    * with out-degrees ONCE, src-partitioned, eagerly lineage-cut;
    * rank/outdeg stays a division — precomputing 1/outdeg would
    * double-round and break bit-parity with the SQL oracle) is
    * stated once for [[run]], [[runPersonalized]] and
    * [[residualCurve]].
    *
    * @return (linked = (src, dst, outdeg) cut, nodes cut,
    *   n = node count)
    */
  private def countStatics(edges: DataFrame)
      : (DataFrame, DataFrame, Long) = {
    // Cut the distinct edge set first: it feeds the out-degree
    // aggregate, the linked join and BOTH node-union branches, and
    // nothing dedupes the repeated subtree — for the wiki queries
    // that subtree is the whole regex link-extraction chain,
    // previously executed ~4× per run (round-16 optimization).
    val e = edges.select("src", "dst").distinct().lineageCut
    // Explicit size-adaptive repartitions before the static cuts
    // (round-17, guide §2.4/§2.2): the partitioning-preserving cut
    // records the FINAL layout, but AQE-coalesced layouts
    // (ENSURE_REQUIREMENTS / REPARTITION_BY_COL) carry coalesce
    // boundaries that cannot co-partition with the fresh exchanges
    // the per-iteration joins plan — every round re-exchanged BOTH
    // static sides (the loop-invariant edge set included).
    // REPARTITION_BY_NUM is exempt from coalescing, and
    // EnsureRequirements sizes a join's fresh exchange to match an
    // existing compatible child partitioning — so with the statics
    // at hashpartitioning(key, N) the loop shuffles only the O(|V|)
    // rank/contribution stream, at N, in every round. N itself is
    // SIZE-DERIVED, not the core-count constant: the cut edge set's
    // AQE-coalesced partition count is the engine's own
    // advisory-size parallelism for this graph (1 at bench scale —
    // no 32-empty-task stages per round; input-proportional at
    // cluster scale).
    val nPart = math.max(e.rdd.getNumPartitions, 1)
    val outDeg = e.groupBy("src").agg(count("*").as("outdeg"))
    val linked = e.join(outDeg, "src")
      .repartition(nPart, col("src"))
      .lineageCut
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
      .repartition(nPart, col("node"))
      .lineageCut
    (linked, nodes, nodes.count())
  }

  /** @param edges DataFrame with `src`, `dst` columns (any type).
    * @param checkpointEvery truncate rank lineage every N iterations
    *   (0 = never). Leave OFF for bounded iteration counts: the
    *   reference's fixed 10 iterations produce a bounded plan, and an
    *   eager checkpoint materializes ranks mid-flight and cuts AQE's
    *   runtime re-planning — measured 10x slower end-to-end at bench
    *   scale. Turn on (e.g. every 20) only for deep/open-ended
    *   iteration counts where analysis time or failure-recovery depth
    *   would otherwise grow without bound.
    * @param saltHotKeys when > 0, the per-iteration contribution
    *   aggregation runs through [[graft.operators.SkewTools]]'s
    *   two-stage salted sum instead of a plain groupBy(dst): a
    *   pathological hub (one node receiving a large share of all
    *   edges) otherwise lands its whole incoming sum on ONE reducer —
    *   AQE splits skewed JOIN partitions, not skewed aggregation
    *   keys. The salt derives from the contributing src (stable row
    *   content, retry-safe), spreading the hub over `saltHotKeys`
    *   reducers. Result-identical up to float summation order
    *   (GraphSpec pins equality at 1e-12).
    * @param redistributeDangling the reference drops rank flowing
    *   into dangling pages (PageRank.java:527) and its (1-d) teleport
    *   is un-normalized, so total mass is NOT conserved. `true`
    *   switches to the mass-conserving textbook variant most users
    *   mean by "PageRank": PR'(u) = (1-d)/N + d·(Σ pr/outdeg + DM/N)
    *   where DM = Σ ranks of nodes with no outlinks. The dangling
    *   mass is a one-row aggregate broadcast back into the update —
    *   an O(1)-sized cross join, no driver round-trip.
    * @return DataFrame(node, rank) for every node appearing in edges.
    */
  def run(edges: DataFrame, iterations: Int = 10, damping: Double = 0.85,
      checkpointEvery: Int = 0, saltHotKeys: Int = 0,
      redistributeDangling: Boolean = false,
      seedRanks: Option[DataFrame] = None): DataFrame = {
    // Static across iterations ([[countStatics]]): (src, dst, outdeg)
    // co-partitioned and materialized once — this is the 100-TB side.
    // `n` is the only driver-side scalar in the pipeline — mirrors
    // the reference's phase-1 page count handed to phase 2 via job
    // conf.
    val (linked, nodes, n) = countStatics(edges)

    // Static dangling flags (node has no outlinks) — only built when
    // the conserving variant needs the per-iteration dangling mass.
    // Derived from the already-cut `linked` (its distinct src IS the
    // has-outlinks set), not from the lazy outDeg plan, which would
    // re-run the edge distinct + groupBy a second time.
    val flagged = if (redistributeDangling) {
      nodes.join(
          linked.select(col("src").as("node")).distinct()
            .withColumn("_has_out", lit(true)),
          Seq("node"), "left")
        .select(col("node"), coalesce(col("_has_out"), lit(false)).as("_has_out"))
        .lineageCut
    } else nodes // unused

    // Warm start (the runUntilConverged seed, in the bounded-
    // iteration form the SQL oracle can unroll): previous ranks where
    // present, 1/N for nodes new since the seed.
    var ranks = seedRanks match {
      case Some(prev) =>
        nodes.join(prev.select(col("node"), col("rank").as("_seed")),
            Seq("node"), "left")
          .select(col("node"),
            coalesce(col("_seed"), lit(1.0 / n)).as("rank"))
      case None => nodes.withColumn("rank", lit(1.0 / n))
    }
    for (i <- 1 to iterations) {
      val contribs = aggContribs(linked
        .join(ranks, linked("src") === ranks("node"))
        .select(linked("src").as("_sb"), linked("dst").as("node"),
          (col("rank") / col("outdeg")).as("contrib")), saltHotKeys)
      ranks =
        if (redistributeDangling) {
          // One-row dangling-mass aggregate, broadcast into the update.
          // This branch reads `ranks` TWICE (contributions + dangling
          // mass), so the lazy plan would double per iteration; the
          // eager checkpoint below cuts it to one iteration's depth —
          // one small job per round, same cadence as the dm aggregate
          // itself.
          val dm = flagged.join(ranks, Seq("node"))
            .filter(!col("_has_out"))
            .agg(coalesce(sum("rank"), lit(0.0)).as("_dm"))
          nodes.join(contribs, Seq("node"), "left")
            .crossJoin(broadcast(dm))
            .select(col("node"),
              (lit(1.0 - damping) / n + lit(damping) *
                (coalesce(col("incoming"), lit(0.0)) + col("_dm") / n))
                .as("rank"))
            .lineageCut
        } else {
          nodes.join(contribs, Seq("node"), "left")
            .select(col("node"),
              (lit(1.0 - damping) +
                lit(damping) * coalesce(col("incoming"), lit(0.0))).as("rank"))
        }
      if (checkpointEvery > 0 && i % checkpointEvery == 0 && i < iterations) {
        ranks = ranks.lineageCut
      }
    }
    ranks
  }

  /** Personalized PageRank: the teleport mass lands on a SOURCE SET
    * instead of uniformly — `PR'(u) = (1-d)·1[u∈S]/|S| + d·Σ…` —
    * ranking nodes by proximity to the sources (recommendation /
    * related-entity queries). Initial rank is the teleport vector
    * itself. Sources are broadcast (a query-sized set); the edge side
    * is identical to [[run]]: partitioned once, only ranks move.
    */
  def runPersonalized(edges: DataFrame, sources: DataFrame,
      iterations: Int = 10, damping: Double = 0.85,
      saltHotKeys: Int = 0): DataFrame = {
    val (linked, nodes, _) = countStatics(edges)
    val s = sources.select(col("node")).distinct()
      .lineageCut
    val nSources = s.count() // O(1) driver scalar, like run()'s n
    require(nSources > 0, "personalized PageRank needs a non-empty source set")

    // Teleport vector: (1-d)/|S| on sources, 0 elsewhere. Broadcast
    // left-semi-style flag join; the flag column rides the rank table.
    val flagged = nodes.join(broadcast(s.withColumn("_is_src", lit(1.0))),
        Seq("node"), "left")
      .select(col("node"),
        (coalesce(col("_is_src"), lit(0.0)) / nSources).as("tele"))
      .lineageCut

    var ranks = flagged.select(col("node"), col("tele").as("rank"))
    for (_ <- 1 to iterations) {
      val contribs = aggContribs(linked
        .join(ranks, linked("src") === ranks("node"))
        .select(linked("src").as("_sb"), linked("dst").as("node"),
          (col("rank") / col("outdeg")).as("contrib")), saltHotKeys)
      ranks = flagged
        .join(contribs, Seq("node"), "left")
        .select(col("node"),
          (lit(1.0 - damping) * col("tele") +
            lit(damping) * coalesce(col("incoming"), lit(0.0))).as("rank"))
    }
    ranks
  }

  /** Weighted PageRank: rank flows along each edge in proportion to
    * its weight — `PR'(u) = (1-d) + d·Σ PR(v)·w(v,u)/W(v)` with
    * `W(v) = Σ_out w(v,·)` — the generalization of [[run]] (uniform
    * weights reduce to it exactly). Same scale shape: the weighted
    * edge set joins its out-weight once, hash-partitions by `src`,
    * and persists; only the rank table moves per iteration.
    *
    * @param edges (src, dst, weight) — weight integral or double
    */
  def runWeighted(edges: DataFrame, iterations: Int = 10,
      damping: Double = 0.85, saltHotKeys: Int = 0): DataFrame = {
    // Cut first — four consumers of the edge subtree (see
    // countStatics); size-adaptive explicit-N repartitions so the
    // preserved layout co-partitions with the loop's exchanges
    // (countStatics rationale).
    val e = edges.select("src", "dst", "weight").lineageCut
    val nPart = math.max(e.rdd.getNumPartitions, 1)
    val outW = e.groupBy("src").agg(sum("weight").as("outw"))
    val linked = e.join(outW, "src")
      .repartition(nPart, col("src"))
      .lineageCut
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
      .repartition(nPart, col("node"))
      .lineageCut
    val n = nodes.count()

    var ranks = nodes.withColumn("rank", lit(1.0 / n))
    for (_ <- 1 to iterations) {
      val contribs = aggContribs(linked
        .join(ranks, linked("src") === ranks("node"))
        .select(linked("src").as("_sb"), linked("dst").as("node"),
          (col("rank") / col("outw") * col("weight")).as("contrib")),
        saltHotKeys)
      ranks = nodes
        .join(contribs, Seq("node"), "left")
        .select(col("node"),
          (lit(1.0 - damping) +
            lit(damping) * coalesce(col("incoming"), lit(0.0))).as("rank"))
    }
    ranks
  }

  /** Convergence-driven PageRank: iterate until the maximum absolute
    * per-node rank change drops below `tol` (or `maxIterations`
    * hits). The reference hardwires 10 iterations; real deployments
    * stop on the residual instead — fewer iterations on
    * fast-converging graphs, guaranteed accuracy on slow ones.
    *
    * The residual check is ONE driver-side scalar per iteration
    * (`max(abs(Δ))` — same O(1) driver traffic as the phase-1 count
    * handoff); ranks are checkpointed on the same cadence [[run]]
    * uses for open-ended loops, since the iteration count is unknown
    * up front.
    *
    * @param seedRanks previous ranks (node, rank) to warm-start from —
    *   the INCREMENTAL recomputation path: after a delta-edge update,
    *   seed with yesterday's converged ranks and the contraction
    *   closes in far fewer iterations than uniform 1/N (spec-checked:
    *   same fixpoint within the residual scale). New nodes fall back
    *   to 1/N; departed nodes drop out.
    * @return (ranks DataFrame, iterations actually executed)
    */
  def runUntilConverged(edges: DataFrame, tol: Double = 1e-6,
      maxIterations: Int = 100, damping: Double = 0.85,
      checkpointEvery: Int = 20,
      seedRanks: Option[DataFrame] = None): (DataFrame, Int) = {
    // Cut first — four consumers of the edge subtree (see
    // countStatics).
    val e = edges.select("src", "dst").distinct().lineageCut
    val nPart = math.max(e.rdd.getNumPartitions, 1)
    val outDeg = e.groupBy("src").agg(count("*").as("outdeg"))
    val linked = e.join(outDeg, "src")
      .repartition(nPart, col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
      .repartition(nPart, col("node"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = nodes.count()

    // Warm start — the INCREMENTAL recomputation path (the graph-side
    // member of the d21/d34 incremental family): seed from a previous
    // run's ranks instead of uniform 1/N, so a delta-edge update
    // converges in far fewer iterations (the fixpoint is damping-
    // contractive, and yesterday's ranks are already near it). The
    // left join handles churn: nodes new since the seed start at 1/N,
    // nodes that left the graph drop out naturally.
    var ranks = seedRanks match {
      case Some(prev) =>
        nodes.join(prev.select(col("node"), col("rank").as("_seed")),
            Seq("node"), "left")
          .select(col("node"),
            coalesce(col("_seed"), lit(1.0 / n)).as("rank"))
      case None => nodes.withColumn("rank", lit(1.0 / n))
    }
    var iters = 0
    var residual = Double.MaxValue
    // The one live persisted rank frame. Tracked SEPARATELY from
    // `ranks`: on checkpoint rounds `ranks` becomes the lineage-cut
    // frame, and unpersisting THAT would silently miss the persisted
    // `next` underneath it (the leak the cache-lifecycle spec pins).
    var cached: DataFrame = null
    try {
      while (residual > tol && iters < maxIterations) {
        val contribs = linked
          .join(ranks, linked("src") === ranks("node"))
          .select(linked("dst").as("node"),
            (col("rank") / col("outdeg")).as("contrib"))
          .groupBy("node")
          .agg(sum("contrib").as("incoming"))
        val next = nodes
          .join(contribs, Seq("node"), "left")
          .select(col("node"),
            (lit(1.0 - damping) +
              lit(damping) * coalesce(col("incoming"), lit(0.0))).as("rank"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        // One aggregated scalar: the residual that decides termination.
        residual = next.join(ranks.withColumnRenamed("rank", "prev"), "node")
          .agg(max(abs(col("rank") - col("prev"))))
          .head().getDouble(0)
        if (cached != null) cached.unpersist()
        cached = next
        ranks = if (checkpointEvery > 0 && (iters + 1) % checkpointEvery == 0)
          next.lineageCut
        else next
        iters += 1
      }
      // Eager cut: the result stops referencing the loop caches, so
      // they can be released here rather than by the caller (the
      // fixed-iteration entry points stay lazy by contract — see the
      // object Scaladoc — but a convergence loop's iteration count is
      // run-dependent, so nothing pins its plan shape).
      val out = ranks.lineageCut
      (out, iters)
    } finally {
      if (cached != null) cached.unpersist(blocking = false)
      linked.unpersist(blocking = false)
      nodes.unpersist(blocking = false)
    }
  }

  /** Per-iteration CONVERGENCE CURVE: the max-|Δrank| residual after
    * each of `iterations` fixed updates — the tuning card for
    * choosing an iteration budget (the reference hardwires 10; this
    * row shows what each iteration buys, the d68/e36 curve shape
    * applied to the graph family). One row per iteration, residual
    * on the e9 integer grid.
    *
    * Scale shape: the statics cut once (the [[run]] layout); each
    * iteration's rank table is eagerly cut because it is read TWICE
    * (next update + residual join) — lazy, the plan would double per
    * iteration. The residual is a one-row aggregate per iteration,
    * all `iterations` of them unioned into one bounded output.
    */
  def residualCurve(edges: DataFrame, iterations: Int = 10,
      damping: Double = 0.85): DataFrame = {
    require(iterations >= 1, "at least one iteration")
    val (linked, nodes, n) = countStatics(edges)
    var ranks = nodes.withColumn("rank", lit(1.0 / n)).lineageCut
    var out: DataFrame = null
    for (i <- 1 to iterations) {
      val contribs = linked
        .join(ranks, linked("src") === ranks("node"))
        .select(linked("dst").as("node"),
          (col("rank") / col("outdeg")).as("contrib"))
        .groupBy("node").agg(sum("contrib").as("incoming"))
      val next = nodes
        .join(contribs, Seq("node"), "left")
        .select(col("node"),
          (lit(1.0 - damping) +
            lit(damping) * coalesce(col("incoming"), lit(0.0))).as("rank"))
        .lineageCut
      val res = next
        .join(ranks.withColumnRenamed("rank", "prev"), "node")
        .agg(max(abs(col("rank") - col("prev"))).as("r"))
        .select(lit(i.toLong).as("iter"),
          floor(col("r") * 1000000000L + 0.5).cast("long")
            .as("residual_e9"))
      out = if (out == null) res else out.union(res)
      ranks = next
    }
    out
  }

  /** Most PageRank rounds [[runOnPages]] leaves in one lazy plan.
    * On one partition its gathers need no exchange, so consecutive
    * rounds fuse into a single stage whose task holds every round's
    * partial and final aggregation maps at once, at least one memory
    * page each (2 × 32 MB a round under a 4 GB heap); cutting after
    * this many rounds bounds that peak. 10 is the reference's round
    * count, so its pipeline stays cut-free.
    */
  private val MaxFusedRounds = 10

  /** PageRank with the reference's EXACT page semantics
    * (/root/reference/PageRank.java:437-530): the node set is the
    * page/title set (not src ∪ dst), initial rank is 1/N with N the
    * phase-1 page count, out-degree counts every outlink occurrence
    * (duplicates included), and contributions to targets that are not
    * themselves pages are dropped — the reducer's
    * `hasOriginalPRAndOutlinkList` guard (PageRank.java:527) — so
    * their mass leaks, as in the reference.
    *
    * Each round is the reference's single gather: the page rows ride
    * the contribution shuffle. Contribution rows
    * `(_sb = src, node = dst, contrib, _page = false)` are unioned
    * with one static row per page `(_sb = node, node, 0.0,
    * _page = true)`, one `groupBy(node)` sums the contributions and
    * takes `max(_page)`, and only keys that carry a page row survive
    * (the :527 guard). Every page has its zero row, so a page with
    * no in-links gets exactly `1 - d`, and the sum needs no coalesce
    * (adding 0.0 is exact). No per-round join with the page set is
    * planned, so AQE has nothing to turn into a per-round broadcast.
    * Links are co-partitioned by src once and only the O(|pages|)
    * rank table moves per round; on one partition the rounds fuse
    * into one stage, cut every [[MaxFusedRounds]] rounds while
    * rounds remain.
    *
    * @param pages one row per page, column `node`
    * @param links (src, dst) with MULTIPLICITY (one row per outlink
    *   occurrence)
    * @param nPages the phase-1 page count (1/N initial rank)
    */
  def runOnPages(pages: DataFrame, links: DataFrame, nPages: Long,
      iterations: Int = 10, damping: Double = 0.85,
      saltHotKeys: Int = 0): DataFrame = {
    // Size-adaptive explicit-N repartitions — the countStatics
    // rationale (N from the linked cut's own coalesced layout).
    val outDeg = links.groupBy("src").agg(count("*").as("outdeg"))
    val linked0 = links.join(outDeg, "src").lineageCut
    val nPart = math.max(linked0.rdd.getNumPartitions, 1)
    val linked = linked0.repartition(nPart, col("src")).lineageCut
    val p = pages.select("node")
      .repartition(nPart, col("node"))
      .lineageCut
    val pageRows = p.select(col("node").as("_sb"), col("node"),
      lit(0.0).as("contrib"), lit(true).as("_page"))

    var ranks = p.withColumn("rank", lit(1.0 / nPages))
    for (i <- 1 to iterations) {
      val contribs = linked
        .join(ranks, linked("src") === ranks("node"))
        .select(linked("src").as("_sb"), linked("dst").as("node"),
          (col("rank") / col("outdeg")).as("contrib"),
          lit(false).as("_page"))
      ranks = aggContribs(contribs.union(pageRows), saltHotKeys,
          carryPage = true)
        .where(col("_page"))
        .select(col("node"),
          (lit(1.0 - damping) + lit(damping) * col("incoming")).as("rank"))
      if (i % MaxFusedRounds == 0 && i < iterations)
        ranks = ranks.lineageCut
    }
    ranks
  }
}
