package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Rounds
import graft.operators.Checkpointing.CutOps

/** Landmark-based harmonic centrality over the undirected view of an
  * edge list — the distance-centrality member of the graph family
  * (PageRank = flow centrality, BFS = distance, harmonic = the
  * closeness variant that stays well-defined on disconnected
  * graphs): harm(v) = Σ_L 1/d(L, v) over a LANDMARK set L, distances
  * within a bounded hop count. Exact all-pairs closeness is O(V·E)
  * and unthinkable at 100 TB; the landmark estimate (Eppstein-Wang
  * 2001) needs one multi-source BFS over |L| sources — |L|·O(E) work
  * with every per-round join keyed on the same partitioning.
  *
  * Per-term integer scaling (the g5 Adamic-Adar convention): each
  * 1/d contribution enters as floor(10⁶/d) BEFORE summation, so the
  * aggregate is an exact BIGINT sum — order-independent, oracle-exact
  * — rather than a float whose summation order matters.
  *
  * Scale shape: the symmetric edge list is hash-partitioned by `src`
  * ONCE and cut; each round expands only the (landmark, node)
  * FRONTIER pairs first reached last round (the [[Bfs]] skeleton,
  * keyed by landmark), and min-dist consolidation is a partial
  * aggregate on (landmark, node). State is O(|L|·V), bounded by the
  * landmark count the caller chose.
  */
object Harmonic {

  /** @param edges directed (src, dst); symmetrized + deduplicated
    *   internally
    * @param landmarks (node) rows — the landmark set (must be small:
    *   state and work scale linearly with it)
    * @param maxHops count only pairs within this many hops (bounded
    *   rounds; the defined, oracle-checkable semantics)
    * @return (node, harm_e6): Σ_L floor(10⁶ / d(L, node)) for every
    *   node within `maxHops` of at least one landmark (landmarks
    *   score their OWN distance-0 term as nothing)
    */
  def fromLandmarks(edges: DataFrame, landmarks: DataFrame,
      maxHops: Int): DataFrame =
    landmarkDistances(edges, landmarks, maxHops)
      .filter(col("dist") > 0)
      .select(col("node"),
        floor(lit(1000000.0) / col("dist")).cast("long").as("c"))
      .groupBy("node").agg(sum("c").as("harm_e6"))

  /** The (landmark, node, min-dist) table under [[fromLandmarks]] —
    * exposed because eccentricity/diameter cards (g23) consume the
    * same multi-source BFS before a different reduction. `dist` is
    * consumed twice per round (frontier + union), so a lazy plan would
    * DOUBLE per hop: every round's carry is cut, and the returned
    * frame reads checkpoint blocks.
    *
    * @return (lm, node, dist) for every node within `maxHops` of
    *   each landmark, including the landmark itself at dist 0
    */
  def landmarkDistances(edges: DataFrame, landmarks: DataFrame,
      maxHops: Int): DataFrame = {
    require(maxHops >= 1, s"maxHops must be >= 1, got $maxHops")
    val und = Edges.undirected(edges)
    val e = und.select(col("a").as("src"), col("b").as("dst"))
      .union(und.select(col("b").as("src"), col("a").as("dst")))
      .repartition(col("src"))
      .lineageCut
    val init = landmarks.select(col("node").as("lm")).distinct()
      .select(col("lm"), col("lm").as("node"), lit(0L).as("dist"))
    Rounds.fixed(init, maxHops, cutEvery = 1) { (dist, h) =>
      val frontier = dist.filter(col("dist") === (h - 1))
      val reached = frontier.join(e, frontier("node") === e("src"))
        .select(col("lm"), col("dst").as("node"),
          lit(h.toLong).as("dist"))
      dist.union(reached)
        .groupBy("lm", "node").agg(min("dist").as("dist"))
    }.lineageCut
  }
}
