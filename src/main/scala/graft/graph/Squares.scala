package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Checkpointing.CutOps

/** 4-cycle (square / rectangle) counting over an undirected graph by
  * PRIORITY-ANCHORED wedges — the C4 analogue of [[Triangles]]'
  * degree-ordered orientation, after the vertex-priority butterfly
  * counting scheme (Wang et al., VLDB 2019, applied to general
  * graphs): every 4-cycle u–x–w–y has a unique maximum-(degree, id)
  * corner u; anchor the cycle there. Enumerate wedges (u, x, w) whose
  * ANCHOR endpoint u outranks both the center x and the far endpoint
  * w, count them per (u, w), and each 4-cycle contributes exactly
  * C(c, 2) = 1 at its anchored diagonal — no other (anchor, far) pair
  * can claim it, so the global sum IS the square count, no
  * double-counting correction.
  *
  * Why this shape scales: a center x only emits wedges toward
  * HIGHER-rank anchors — at most O(√m) of them on any graph (the
  * [[Triangles]] bound) — so per-center wedge fan-out is
  * d_out(x)·d(x), not d(x)²: a hub's quadratic wedge explosion
  * collapses because hubs have near-maximal rank and therefore
  * almost no higher-rank anchors. Total wedge volume is the
  * arboricity-bounded O(α·m) of the sequential Chiba–Nishizeki
  * scheme. The (u, w) aggregation partial-aggregates map-side.
  *
  * Chords are irrelevant (a diagonal pair need not be non-adjacent),
  * and rank ties cannot happen (the id tie-break makes (deg, id)
  * unique), so the count is exact on any simple undirected graph.
  */
object Squares {

  /** Global 4-cycle count.
    * @param edges directed or undirected (src, dst) pairs; direction
    *   and duplicates are normalized away, self-loops dropped.
    * @return one row: (n_squares)
    */
  def globalCount(edges: DataFrame): DataFrame = {
    val und = Edges.undirected(edges)
    val deg = und.select(col("a").as("n")).union(und.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    // Symmetric adjacency with the (degree, id) rank on both ends;
    // read twice below (both wedge legs) — eager lineage cut, blocks
    // self-release with the RDD (the Triangles discipline).
    val adj = und.select(col("a").as("x"), col("b").as("y"))
      .union(und.select(col("b").as("x"), col("a").as("y")))
      .join(deg.select(col("n").as("x"), col("d").as("dx")), "x")
      .join(deg.select(col("n").as("y"), col("d").as("dy")), "y")
      .select(col("x"), col("y"),
        struct(col("dx"), col("x")).as("rx"),
        struct(col("dy"), col("y")).as("ry"))
      .lineageCut
    // Anchored wedges (u, x, w): anchor leg p goes x→u with
    // rank(u) > rank(x); far leg q goes x→w with rank(w) < rank(u).
    val wedges = adj.as("p").join(adj.as("q"), col("p.x") === col("q.x"))
      .filter(col("p.ry") > col("p.rx") && col("q.ry") < col("p.ry"))
      .select(col("p.y").as("u"), col("q.y").as("w"))
    wedges.groupBy("u", "w").agg(count(lit(1)).as("c"))
      .agg(coalesce(sum(expr("(c * (c - 1)) div 2")), lit(0L))
        .as("n_squares"))
  }
}
