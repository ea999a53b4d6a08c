package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Rounds
import graft.operators.Checkpointing.CutOps

/** Multi-source WEIGHTED shortest paths (Bellman-Ford rounds) — the
  * weighted generalization of [[Bfs]]: dist(u) = cheapest total edge
  * cost from any seed, where after round h every node holds the exact
  * cheapest cost over paths of ≤ h edges. Integer costs in, integer
  * distances out — both engines sum the same longs, so a bounded run
  * oracle-checks bit-for-bit.
  *
  * Scale shape (the PageRank/Bfs skeleton): edges collapse to their
  * min-cost parallel edge, hash-partition by `src` ONCE and are cut —
  * the 100 TB side never re-shuffles; per round only the O(|reached|)
  * distance table moves (join on src + one partial-aggregated min on
  * the node key — no window, no collect). The bounded round reads the
  * distance table twice (carried forward + relaxed), so every round is
  * cut — the same ~2^rounds plan-growth fix as PageRank's double-read
  * branch and graphBeamSearch's per-round cut.
  */
object Sssp {

  /** Min-cost parallel edge per (src, dst), src-partitioned and cut. */
  private def statics(wedges: DataFrame): DataFrame =
    wedges.groupBy("src", "dst").agg(min("cost").as("cost"))
      .repartition(col("src"))
      .lineageCut

  private def seeded(seeds: DataFrame): DataFrame =
    seeds.select(col("node")).distinct().withColumn("dist", lit(0L))

  /** Bounded Bellman-Ford: full relaxation each round.
    *
    * @param wedges directed (src, dst, cost) — parallel edges keep
    *   the min cost; cost must be a non-negative integral column
    * @param seeds (node) — the source set (dist 0)
    * @param rounds relaxation rounds; the result is exact over paths
    *   of ≤ `rounds` edges (callers supply a hop bound the same way
    *   Bfs.hopDistance does)
    * @return (node, dist) for every node reachable within `rounds`
    *   edges of a seed
    */
  def run(wedges: DataFrame, seeds: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    val e = statics(wedges)
    Rounds.fixed(seeded(seeds), rounds, cutEvery = 1) { (dist, _) =>
      val relaxed = dist.join(e, dist("node") === e("src"))
        .select(col("dst").as("node"),
          (col("dist") + col("cost")).as("dist"))
      dist.union(relaxed)
        .groupBy("node").agg(min("dist").as("dist"))
    }
  }

  /** Convergence twin (the Bfs.hopDistanceUntilDone contract): run
    * until a round improves NO distance, deciding termination from
    * one O(1) driver scalar per round — "how many nodes improved?",
    * read off the round's `improved` flags. Improved nodes form the
    * next frontier, so late rounds relax only the shrinking active
    * set instead of every reached node.
    *
    * @return (distances, rounds run — the final round is the empty
    *   one that proved the fixpoint)
    */
  def runUntilStable(wedges: DataFrame, seeds: DataFrame,
      maxRounds: Int = 1000): (DataFrame, Int) = {
    require(maxRounds >= 0, s"maxRounds must be >= 0, got $maxRounds")
    val e = statics(wedges)
    val init = seeded(seeds).withColumn("improved", lit(true))
    val run = Rounds.until(init, maxRounds,
        Rounds.Residual(count_if(col("improved")), 0)) { (dist, _) =>
      val frontier = dist.filter(col("improved"))
      val relaxed = frontier.join(e, frontier("node") === e("src"))
        .select(col("dst").as("node"),
          (col("dist") + col("cost")).as("cand"))
        .groupBy("node").agg(min("cand").as("cand"))
      dist.drop("improved")
        .join(relaxed, Seq("node"), "full_outer")
        .select(col("node"),
          least(coalesce(col("dist"), col("cand")),
            coalesce(col("cand"), col("dist"))).as("dist"),
          (col("dist").isNull ||
            (col("cand").isNotNull && col("cand") < col("dist")))
            .as("improved"))
    }
    (run.frame.drop("improved"), run.rounds)
  }
}
