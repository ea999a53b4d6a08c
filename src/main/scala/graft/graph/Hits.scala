package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Rounds
import graft.operators.Checkpointing.CutOps

/** HITS (hubs & authorities) over a directed `edges(src, dst)` list —
  * the query-dependent ranking sibling of [[PageRank]] (Kleinberg's
  * algorithm; the reference's rank family generalized to the
  * two-score mutual recursion): a good HUB points at good
  * authorities, a good AUTHORITY is pointed at by good hubs. On the
  * word-follow graph authorities are the "landing" words that many
  * well-connected words precede; for crawl/link corpora this is the
  * classic link-spam / topic-distillation primitive.
  *
  * Semantics (the oracle-checkable bounded form; mirrors the unrolled
  * SQL CTE chain in PageRankQueries.g9):
  *   - auth⁰ = hub⁰ = 1 for every node;
  *   - each iteration, in order:
  *       auth'(v) = Σ_{(u,v)∈E} hub(u), then L1-normalize:
  *       auth(v)  = auth'(v) / Σ_w auth'(w);
  *       hub'(u)  = Σ_{(u,v)∈E} auth(v), then L1-normalize.
  *     (L1 rather than L2 keeps the normalizer a plain partial-agg
  *     sum — no sqrt — and is the variant whose fixpoint differs only
  *     by scale.)
  *   - nodes with no in-edges hold auth 0; no out-edges, hub 0.
  *
  * Scale design (100 TB edges / 1000 executors):
  *   - The edge list is cut TWICE, hash-partitioned by `src` and by
  *     `dst` — the auth half-step joins hubs on `src` against the
  *     src-partitioned copy, the hub half-step joins auths on `dst`
  *     against the dst-partitioned copy, so each half-step shuffles
  *     only the O(|V|) score table, never the edge set. Cuts, not
  *     persists: their blocks release with the RDD.
  *   - Contribution sums are partial-aggregated (map-side combine)
  *     before their exchange.
  *   - Each normalizer is a ONE-ROW aggregate broadcast back into the
  *     update (the PageRank dangling-mass pattern) — no driver
  *     round-trip, no collect.
  *   - The normalized auth frame is consumed twice per iteration
  *     (hub half-step + the joined score frame), so [[step]] cuts it
  *     — without the cut the lazy plan DOUBLES per iteration (the
  *     PageRank conserving-branch lesson). The cut honors the
  *     session's reliable-checkpoint switch.
  */
object Hits {

  /** The loop statics: the distinct edges cut src- and
    * dst-partitioned, and the initial scores (auth = hub = 1 on every
    * node).
    */
  private final class Statics(val bySrc: DataFrame, val byDst: DataFrame,
      val init: DataFrame)

  private def statics(edges: DataFrame): Statics = {
    val bySrc = edges.select("src", "dst").distinct()
      .repartition(col("src"))
      .lineageCut
    val byDst = bySrc.repartition(col("dst")).lineageCut
    val init = bySrc.select(col("src").as("node"))
      .union(bySrc.select(col("dst").as("node")))
      .distinct()
      .withColumn("auth", lit(1.0))
      .withColumn("hub", lit(1.0))
    new Statics(bySrc, byDst, init)
  }

  /** One HITS iteration from a (node, auth, hub[, _pa]) frame with one
    * row per node, whose rows also seed the auth half-step's node set.
    *
    * @return (node, auth, _pa, hub), `_pa` the input's auth
    */
  private def step(s: Statics, scores: DataFrame): DataFrame = {
    // auth half-step: pull hub mass along edges, L1-normalize.
    val aRaw = s.bySrc
      .join(scores.select(col("node"), col("hub")),
        s.bySrc("src") === col("node"))
      .groupBy(s.bySrc("dst").as("node"))
      .agg(sum("hub").as("a_raw"))
    val aNorm = aRaw.agg(sum("a_raw").as("_na"))
    val auths = scores.select(col("node"), col("auth").as("_pa"))
      .join(aRaw, Seq("node"), "left")
      .crossJoin(broadcast(aNorm))
      .select(col("node"),
        (coalesce(col("a_raw"), lit(0.0)) / col("_na")).as("auth"),
        col("_pa"))
      .lineageCut
    // hub half-step: pull the JUST-normalized auth mass back.
    val hRaw = s.byDst
      .join(auths.select(col("node"), col("auth")),
        s.byDst("dst") === col("node"))
      .groupBy(s.byDst("src").as("node"))
      .agg(sum("auth").as("h_raw"))
    val hNorm = hRaw.agg(sum("h_raw").as("_nh"))
    val hubs = auths.select("node").join(hRaw, Seq("node"), "left")
      .crossJoin(broadcast(hNorm))
      .select(col("node"),
        (coalesce(col("h_raw"), lit(0.0)) / col("_nh")).as("hub"))
    auths.join(hubs, "node")
  }

  /** @param edges DataFrame with `src`, `dst` columns (any type).
    * @return DataFrame(node, auth, hub) for every node in `edges`.
    */
  def run(edges: DataFrame, iterations: Int = 8): DataFrame = {
    require(iterations >= 1, "at least one iteration")
    val s = statics(edges)
    Rounds.fixed(s.init, iterations, iterations)((sc, _) => step(s, sc))
      .select("node", "auth", "hub")
      .lineageCut
  }

  /** Convergence twin of [[run]] (the PageRank.runUntilConverged /
    * KCore.untilStable house pattern): iterate until the L1 delta of
    * the auth vector between consecutive iterations is at most `tol`
    * — ONE O(1) driver scalar per round, read off the carried `_pa`
    * — then return the stabilized scores with the iteration count.
    * Throws rather than returning an unconverged ranking.
    */
  def runUntilConverged(edges: DataFrame, tol: Double = 1e-9,
      maxIterations: Int = 200): (DataFrame, Int) = {
    require(tol > 0, s"tol must be > 0, got $tol")
    val s = statics(edges)
    val run = Rounds.until(s.init, maxIterations,
        Rounds.Residual(sum(abs(col("auth") - col("_pa"))), tol)) {
      (sc, _) => step(s, sc)
    }
    require(run.converged,
      s"HITS did not converge in $maxIterations iterations")
    (run.frame.select("node", "auth", "hub"), run.rounds)
  }
}
