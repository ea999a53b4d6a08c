package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.{Checkpointing, Rounds}
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
  * One core serves every entry point; the variants differ only in
  * data — the edge weight (1 unless weighted), the per-node teleport
  * (1.0, or `1[u∈S]/|S|` when personalized) and the dangling policy
  * (the reference's leak, or the conserving `dm` term):
  *   - [[statics]] cuts the edge input once, derives the out-degree
  *     (or out-weight), and cuts the node rows and the src-partitioned
  *     edge table, which holds every node's SELF EDGE, contributing
  *     exactly 0.0, beside the real edges (and, for a page set, only the edges
  *     into pages: the :527 guard, applied once). Only the O(|V|) rank
  *     table moves per round; the edge set is never re-shuffled.
  *   - [[gather]] is one round, the reference's single map/reduce:
  *     `edges ⋈ ranks` yields `(_sb = src, node = dst, rank/outdeg)`,
  *     and each self edge yields exactly 0.0 plus its node's own
  *     per-node columns — the reference mapper's re-emitted page
  *     record. ONE `groupBy(node)` (map-side partial sums, or
  *     SkewTools' salted two-stage sum) sums the contributions and
  *     takes `max` of those columns. Every node has its self edge and
  *     every edge ends at a node, so each round is one join and one
  *     aggregate: no union, filter or join with the node set.
  *   - [[fixedRounds]] (`run`, `runWeighted`, `runPersonalized`,
  *     `runOnPages`) is [[graft.operators.Rounds.fixed]]: lazy, so
  *     `.explain` audits and plan pins see the rounds, with a cut
  *     every [[MaxFusedRounds]] rounds while rounds remain;
  *     [[eagerRound]] (`residualCurve`, `runUntilConverged`) carries
  *     the previous rank on the node row, so under
  *     [[graft.operators.Rounds.until]]'s per-round cut the residual
  *     reads off the gathered frame.
  *
  * Cache lifecycle — SELF-RELEASING: nothing is persisted. Every
  * static and per-round frame is a lineage cut, whose blocks live in
  * the block manager and release with the RDD on GC; the cache
  * manager never sees them, so a many-query session (Bench runs
  * hundreds of evaluations in one JVM) accumulates no cached edge
  * tables (CacheHygieneSpec pins this for every graph operator).
  */
object PageRank {

  /** Sum of `contrib` per node, with `max` of each `carry` column:
    * either the plain partial-aggregated groupBy or SkewTools'
    * two-stage salted sum when a pathological hub would otherwise
    * land its whole incoming mass on one reducer (AQE splits skewed
    * joins, not skewed aggregation keys). The salt derives from `_sb`
    * (the contributing src — stable content, retry-safe).
    */
  private def aggContribs(rows: DataFrame, saltHotKeys: Int,
      carry: Seq[String]): DataFrame =
    if (saltHotKeys > 0)
      graft.operators.SkewTools
        .saltedSumCount(rows, "node", "contrib",
          salts = saltHotKeys, saltByCols = Seq("_sb"), maxCols = carry)
        .select(col("node") +: col("sum").as("incoming") +:
          carry.map(col): _*)
    else
      rows.groupBy("node").agg(sum("contrib").as("incoming"),
        carry.map(c => max(c).as(c)): _*)

  /** The loop statics: `linked` = (src, dst[, weight], outw, _self)
    * cut and src-partitioned, real edges first, then one self edge
    * per node (`_self`, with null `weight` and `outw`); `nodes` = one
    * row per node cut and node-partitioned; `contrib` = one real
    * edge's share of its src's rank; `saltHotKeys` = the rounds' salt
    * count (0 = unsalted).
    */
  private final class Statics(val linked: DataFrame, val nodes: DataFrame,
      val contrib: Column, val saltHotKeys: Int) {
    lazy val n: Long = nodes.count()
  }

  /** Builds the [[Statics]] from `edges` (src, dst[, weight]). The edge
    * input is cut FIRST, unless it already is a cut: it feeds the
    * out-degree aggregate, the `linked` join and the node rows, and
    * nothing dedupes the repeated subtree — for the wiki queries that
    * subtree is the whole regex link extraction. A `weight` column
    * makes the share `rank / outw * weight` with `outw = Σ weight`;
    * otherwise it is `rank / outdeg`. Both stay divisions: precomputing 1/outdeg would
    * double-round and break bit-parity with the SQL oracles.
    *
    * The explicit `repartition(nPart, …)` before each static cut keeps
    * the statics co-partitioned with the rounds' exchanges (an
    * AQE-coalesced layout cannot co-partition, and every round would
    * re-exchange the edge set). `nPart` is size-derived: the cut
    * input's own partition count (1 at bench scale, so one-partition
    * rounds fuse into one stage), but at least `saltHotKeys`: salting
    * spreads a hub over that many reducers, and on one partition Spark
    * plans no salt exchange at all.
    *
    * @param pages the node set when it is not src ∪ dst (one row per
    *   page, column `node`); edges into other targets are dropped
    *   AFTER the out-degree is taken, so they still count in it. By
    *   default the node rows are src ∪ dst, each flagged `_has_out`
    *   when it has an outlink.
    */
  private def statics(edges: DataFrame, saltHotKeys: Int = 0,
      pages: Option[DataFrame] = None): Statics = {
    val e = Checkpointing.cutOnce(edges)
    val nPart = Seq(e.rdd.getNumPartitions, saltHotKeys, 1).max
    val weighted = e.columns.contains("weight")
    val outW = e.groupBy("src")
      .agg((if (weighted) sum("weight") else count("*")).as("outw"))
    val nodes = pages.getOrElse(
        e.select(col("src").as("node"), lit(true).as("_has_out"))
          .union(e.select(col("dst").as("node"), lit(false)))
          .groupBy("node").agg(max("_has_out").as("_has_out")))
      .repartition(nPart, col("node"))
      .lineageCut
    val withOut = e.join(outW, "src")
    val real = if (pages.isEmpty) withOut
      else withOut.join(nodes.select(col("node").as("dst")), Seq("dst"),
        "left_semi")
    val linked = real.withColumn("_self", lit(false))
      .unionByName(nodes.select(col("node").as("src"),
        col("node").as("dst"), lit(true).as("_self")),
        allowMissingColumns = true)
      .repartition(nPart, col("src"))
      .lineageCut
    val share = col("rank") / col("outw")
    new Statics(linked, nodes,
      if (weighted) share * col("weight") else share, saltHotKeys)
  }

  /** One round, the reference's single gather: `linked ⋈ ranks` on
    * `src`, summed per `dst` in one `groupBy`. A real edge contributes
    * its share; a self edge contributes exactly 0.0 (its `outw` is
    * null, so it has no share) and carries its node's `carry`
    * columns, which ride the gather as `max` (real edges carry null
    * there). Every node has its self edge, so a node with no in-links
    * still gets `incoming = 0.0` and no coalesce is needed.
    *
    * @param carry per-node columns, each an expression over the
    *   node's own rank row
    * @return (node, incoming, carried columns…)
    */
  private def gather(s: Statics, ranks: DataFrame,
      carry: Seq[(String, Column)]): DataFrame = {
    val self = s.linked("_self")
    val rows = s.linked.join(ranks, s.linked("src") === ranks("node"))
      .select(Seq(s.linked("src").as("_sb"), s.linked("dst").as("node"),
          when(self, lit(0.0)).otherwise(s.contrib).as("contrib")) ++
        carry.map { case (name, c) => when(self, c).as(name) }: _*)
    aggContribs(rows, s.saltHotKeys, carry.map(_._1))
  }

  /** Initial ranks over `nodeRows`: `seed`'s rank where present, 1/n
    * for every other node (new since the seed); seed nodes that left
    * the graph drop out.
    */
  private def initial(nodeRows: DataFrame, n: Long,
      seed: Option[DataFrame] = None): DataFrame = seed match {
    case Some(prev) =>
      nodeRows.join(prev.select(col("node"), col("rank").as("_seed")),
          Seq("node"), "left")
        .withColumn("rank", coalesce(col("_seed"), lit(1.0 / n)))
        .drop("_seed")
    case None => nodeRows.withColumn("rank", lit(1.0 / n))
  }

  /** Most PageRank rounds [[fixedRounds]] leaves in one lazy plan.
    * On one partition the gathers need no exchange, so consecutive
    * rounds fuse into a single stage whose task holds every round's
    * partial and final aggregation maps at once, at least one memory
    * page each: the 10 fused rounds of a 2,000-page wiki pass peak at
    * 90 MB under a 4 GB heap, 2 × 4 MB a round at
    * [[graft.GraftSession]]'s page size. Cutting after this many rounds
    * bounds that peak. 10 is the reference's round count, so its
    * pipeline stays cut-free.
    */
  private val MaxFusedRounds = 10

  /** The lazy fixed-round loop: `PR' = (1-d)·tele + d·incoming`, or
    * with `conserving` the mass-conserving
    * `PR' = (1-d)/n + d·(incoming + dm/n)`, where `dm` is the previous
    * ranks' mass on nodes without outlinks (`_has_out`, which `init`
    * must then carry). Every column of `init` besides `node` and
    * `rank` is a per-node column the rounds carry. `dm` reads the
    * rank table a second time, so a lazy plan would double per round;
    * every conserving round is cut instead — one small job per round,
    * the same cadence as the `dm` aggregate itself.
    */
  private def fixedRounds(s: Statics, init: DataFrame, iterations: Int,
      damping: Double, tele: Column = lit(1.0),
      conserving: Boolean = false): DataFrame = {
    val names = init.columns.toSeq.filterNot(Set("node", "rank"))
    val carry = names.map(col)
    val out = Rounds.fixed(init, iterations,
        if (conserving) 1 else MaxFusedRounds) { (ranks, _) =>
      val g = gather(s, ranks, names.zip(carry))
      if (conserving) {
        val dm = ranks.filter(!col("_has_out"))
          .agg(coalesce(sum("rank"), lit(0.0)).as("_dm"))
        g.crossJoin(broadcast(dm))
          .select(col("node") +: (lit(1.0 - damping) / s.n + lit(damping) *
            (col("incoming") + col("_dm") / s.n)).as("rank") +: carry: _*)
      } else g.select(col("node") +: (lit(1.0 - damping) * tele +
        lit(damping) * col("incoming")).as("rank") +: carry: _*)
    }
    (if (conserving && iterations > 0) out.lineageCut else out)
      .select("node", "rank")
  }

  /** One reference round whose node rows carry the previous rank as
    * `_prev`, so [[MaxDelta]] reads the round's max-|Δrank| off its own
    * output — no join with the previous ranks.
    *
    * @return (node, rank, _prev)
    */
  private def eagerRound(s: Statics, ranks: DataFrame,
      damping: Double): DataFrame =
    gather(s, ranks, Seq("_prev" -> col("rank")))
      .select(col("node"),
        (lit(1.0 - damping) + lit(damping) * col("incoming")).as("rank"),
        col("_prev"))

  private val MaxDelta = max(abs(col("rank") - col("_prev")))

  /** @param edges DataFrame with `src`, `dst` columns (any type).
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
    * @param seedRanks warm start (the runUntilConverged seed, in the
    *   bounded-iteration form the SQL oracle can unroll): previous
    *   ranks (node, rank) where present, 1/N for nodes new since.
    * @return DataFrame(node, rank) for every node appearing in edges.
    */
  def run(edges: DataFrame, iterations: Int = 10, damping: Double = 0.85,
      saltHotKeys: Int = 0, redistributeDangling: Boolean = false,
      seedRanks: Option[DataFrame] = None): DataFrame = {
    // `n` is the only driver-side scalar in the pipeline — mirrors
    // the reference's phase-1 page count handed to phase 2 via job
    // conf.
    val s = statics(edges.select("src", "dst").distinct(), saltHotKeys)
    // s.nodes is (node, _has_out); only the conserving round reads the flag.
    val rows = if (redistributeDangling) s.nodes else s.nodes.select("node")
    fixedRounds(s, initial(rows, s.n, seedRanks), iterations, damping,
      conserving = redistributeDangling)
  }

  /** Personalized PageRank: the teleport mass lands on a SOURCE SET
    * instead of uniformly — `PR'(u) = (1-d)·1[u∈S]/|S| + d·Σ…` —
    * ranking nodes by proximity to the sources (recommendation /
    * related-entity queries). Initial rank is the teleport vector
    * itself, which the node rows carry as `tele`. Sources are
    * broadcast (a query-sized set) into the node rows once.
    */
  def runPersonalized(edges: DataFrame, sources: DataFrame,
      iterations: Int = 10, damping: Double = 0.85): DataFrame = {
    val s = statics(edges.select("src", "dst").distinct())
    val src = sources.select(col("node")).distinct()
      .lineageCut
    val nSources = src.count() // O(1) driver scalar, like run()'s n
    require(nSources > 0, "personalized PageRank needs a non-empty source set")
    val rows = s.nodes.join(broadcast(src.withColumn("_is_src", lit(1.0))),
        Seq("node"), "left")
      .select(col("node"),
        (coalesce(col("_is_src"), lit(0.0)) / nSources).as("tele"))
      .lineageCut
    fixedRounds(s, rows.withColumn("rank", col("tele")), iterations,
      damping, tele = col("tele"))
  }

  /** Weighted PageRank: rank flows along each edge in proportion to
    * its weight — `PR'(u) = (1-d) + d·Σ PR(v)·w(v,u)/W(v)` with
    * `W(v) = Σ_out w(v,·)` — the generalization of [[run]] (uniform
    * weights reduce to it exactly).
    *
    * @param edges (src, dst, weight) — weight integral or double
    */
  def runWeighted(edges: DataFrame, iterations: Int = 10,
      damping: Double = 0.85, saltHotKeys: Int = 0): DataFrame = {
    val s = statics(edges.select("src", "dst", "weight"), saltHotKeys)
    fixedRounds(s, initial(s.nodes.select("node"), s.n), iterations,
      damping)
  }

  /** Convergence-driven PageRank: iterate until the maximum absolute
    * per-node rank change drops below `tol` (or `maxIterations`
    * hits). The reference hardwires 10 iterations; real deployments
    * stop on the residual instead — fewer iterations on
    * fast-converging graphs, guaranteed accuracy on slow ones.
    *
    * Every round is cut ([[graft.operators.Rounds.until]]), so the
    * plan stays one round deep whatever the round count, and the
    * residual check is ONE
    * driver-side scalar per round (`max(abs(Δ))` — same O(1) driver
    * traffic as the phase-1 count handoff).
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
      seedRanks: Option[DataFrame] = None): (DataFrame, Int) = {
    val s = statics(edges.select("src", "dst").distinct())
    val run = Rounds.until(initial(s.nodes.select("node"), s.n, seedRanks),
        maxIterations, Rounds.Residual(MaxDelta, tol)) { (ranks, _) =>
      eagerRound(s, ranks, damping)
    }
    (run.frame.select("node", "rank"), run.rounds)
  }

  /** Per-iteration CONVERGENCE CURVE: the max-|Δrank| residual after
    * each of `iterations` fixed updates — the tuning card for
    * choosing an iteration budget (the reference hardwires 10; this
    * row shows what each iteration buys, the d68/e36 curve shape
    * applied to the graph family). One row per iteration, residual
    * on the e9 integer grid.
    *
    * Each round ([[eagerRound]]) is cut; its residual is a one-row
    * aggregate over that cut, and all `iterations` of them are
    * unioned into one bounded output.
    */
  def residualCurve(edges: DataFrame, iterations: Int = 10,
      damping: Double = 0.85): DataFrame = {
    require(iterations >= 1, "at least one iteration")
    val s = statics(edges.select("src", "dst").distinct())
    var ranks = initial(s.nodes.select("node"), s.n)
    (1 to iterations).map { i =>
      ranks = eagerRound(s, ranks, damping).lineageCut
      ranks.agg(MaxDelta.as("r"))
        .select(lit(i.toLong).as("iter"),
          floor(col("r") * 1000000000L + 0.5).cast("long")
            .as("residual_e9"))
    }.reduce(_ union _)
  }

  /** PageRank with the reference's EXACT page semantics
    * (/root/reference/PageRank.java:437-530): the node set is the
    * page/title set (not src ∪ dst), initial rank is 1/N with N the
    * phase-1 page count, out-degree counts every outlink occurrence
    * (duplicates included), and contributions to targets that are not
    * themselves pages are dropped — the reducer's
    * `hasOriginalPRAndOutlinkList` guard (PageRank.java:527), which
    * the statics apply once by dropping those edges after the
    * out-degree is taken — so their mass leaks, as in the reference.
    * On one partition the rounds fuse into one stage.
    *
    * @param pages one row per page, column `node`
    * @param links (src, dst) with MULTIPLICITY (one row per outlink
    *   occurrence)
    * @param nPages the phase-1 page count (1/N initial rank)
    */
  def runOnPages(pages: DataFrame, links: DataFrame, nPages: Long,
      iterations: Int = 10, damping: Double = 0.85,
      saltHotKeys: Int = 0): DataFrame = {
    val s = statics(links.select("src", "dst"), saltHotKeys,
      Some(pages.select("node")))
    fixedRounds(s, initial(s.nodes, nPages), iterations, damping)
  }
}
