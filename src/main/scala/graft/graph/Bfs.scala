package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Rounds
import graft.operators.Checkpointing.CutOps

/** Multi-source BFS hop distance — the graph-DISTANCE primitive that
  * completes the family (PageRank = centrality, connected components
  * = grouping, triangles = clustering): dist(u) = fewest hops from
  * any seed node, computed to a bounded number of hops.
  *
  * Scale shape (the PageRank skeleton): edges are hash-partitioned by
  * `src` ONCE and cut — the 100 TB side never re-shuffles, and its
  * blocks release with the RDD; each round joins only the current
  * FRONTIER (nodes first reached in the previous round — the small
  * side) against them, and the min-dist consolidation is a partial
  * aggregate on the node key. A round reads the distance table twice
  * (frontier + carry), so every round is cut: a lazy chain would
  * double its plan per hop.
  */
object Bfs {

  /** Edges deduplicated, src-partitioned and cut. */
  private def statics(edges: DataFrame): DataFrame =
    edges.select("src", "dst").distinct()
      .repartition(col("src"))
      .lineageCut

  private def seeded(seeds: DataFrame): DataFrame =
    seeds.select(col("node")).distinct().withColumn("dist", lit(0L))

  /** Hop `h`: the frontier — nodes whose min dist is exactly h-1
    * (first reached last round; re-expanding older nodes would only
    * regenerate distances the min already beat) — steps along `e`.
    */
  private def hop(e: DataFrame, dist: DataFrame, h: Int): DataFrame = {
    val frontier = dist.filter(col("dist") === (h - 1))
    val reached = frontier.join(e, frontier("node") === e("src"))
      .select(col("dst").as("node"), lit(h.toLong).as("dist"))
    dist.union(reached)
      .groupBy("node").agg(min("dist").as("dist"))
  }

  /** @param edges directed (src, dst); deduplicated internally
    * @param seeds (node) — the source set (dist 0)
    * @param maxHops rounds to expand; nodes further than this are
    *   absent from the result
    * @return (node, dist) for every node within `maxHops` of a seed
    */
  def hopDistance(edges: DataFrame, seeds: DataFrame,
      maxHops: Int): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    val e = statics(edges)
    Rounds.fixed(seeded(seeds), maxHops, cutEvery = 1)(hop(e, _, _))
  }

  /** Open-ended BFS to EXHAUSTION — the convergence twin of
    * [[hopDistance]] (the d9/PageRank pattern: a fixed-round form
    * for oracle parity, a converging form for real use where the
    * diameter is unknown). The reached set only grows, so a round
    * that reaches no new node is a round whose cut counts the same
    * rows as the last: [[Rounds.Unchanged]] stops there at no extra
    * job.
    *
    * @return (distances, rounds run — on exhaustion the final round
    *   is the empty one that proved termination, so the graph
    *   eccentricity from the seed set is `rounds - 1`)
    */
  def hopDistanceUntilDone(edges: DataFrame, seeds: DataFrame,
      maxHops: Int = 1000): (DataFrame, Int) = {
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    val e = statics(edges)
    val run = Rounds.until(seeded(seeds), maxHops, Rounds.Unchanged)(
      hop(e, _, _))
    (run.frame, run.rounds)
  }
}
