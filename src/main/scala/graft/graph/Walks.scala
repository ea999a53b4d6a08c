package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextHashExprs.string_poly_hash
import graft.operators.Checkpointing.CutOps

/** Deterministic graph WALKS — the sampling primitive under
  * node2vec/DeepWalk-style representation learning (walk corpus →
  * skip-gram pairs) and graph-exploration smoke tests: from each
  * seed, `steps` hops where hop t leaves node u through out-edge
  * index (polyhash(u)·31 + t) mod outdeg(u). The "random" choice is
  * a pure function of (node, step), so walks reproduce across runs,
  * partitionings, and engines — a rand() walk would be none of
  * those — while still spreading across neighbors like a uniform
  * pick (the polynomial hash varies per node, the +t term per step).
  *
  * Scale shape: the indexed adjacency (per-src neighbor ranks) and
  * out-degrees build once and are cut partitioned by `src`; each hop
  * joins only the O(|walks|) frontier against them on the SAME src
  * key (no re-shuffle of the big side — the idx pick is a filter
  * inside the co-partitioned join, local to the node's partition),
  * and dead-end nodes simply end their walk (inner join drops
  * them). Each hop's frontier is eagerly lineage-cut (the
  * PageRank/Sssp per-round discipline): the output is a union of
  * every step's rows, so an uncut chain would embed hop t's full
  * join prefix in all later branches — steps·(steps+1)/2 join nodes
  * and per-branch recomputation where exchange reuse misses. Cut,
  * the union reads `steps`+1 checkpoint scans regardless of depth.
  */
object Walks {

  /** @param edges directed (src, dst); deduplicated internally
    * @param seeds (node) — one walk starts per distinct seed
    * @param steps hops per walk
    * @return (walk_id = seed node, step 0..steps, node) — walks that
    *   hit a dead end have no rows past it
    */
  def run(edges: DataFrame, seeds: DataFrame, steps: Int): DataFrame = {
    require(steps >= 0, s"steps must be >= 0, got $steps")
    val adj = edges.select("src", "dst").distinct()
      .withColumn("idx",
        row_number().over(Window.partitionBy("src").orderBy("dst")) - 1)
    val deg = adj.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val a = adj.join(deg, "src")
      .repartition(col("src"))
      .lineageCut
    var frontier = seeds.select(col("node")).distinct()
      .select(col("node").as("walk_id"), lit(0L).as("step"), col("node"))
      .lineageCut
    var out = frontier
    for (st <- 1 to steps) {
      val nxt = frontier.join(a, frontier("node") === a("src"))
        .filter(col("idx") ===
          (string_poly_hash(col("node")) * 31 + st) % col("outdeg"))
        .select(col("walk_id"), lit(st.toLong).as("step"),
          col("dst").as("node"))
        .lineageCut
      out = out.union(nxt)
      frontier = nxt
    }
    out
  }

  /** Skip-gram (center, context) pair extraction over a walk corpus
    * — the step between [[run]]'s walks and representation learning
    * (DeepWalk/node2vec train word2vec on exactly these pairs): every
    * ordered pair of nodes within `window` steps of each other on
    * the same walk, counted. Scale shape: the self-join is
    * co-partitioned on walk_id (each walk's pairs form locally —
    * state bounded by walk length × window, never the corpus), and
    * the count is one partial-aggregated exchange on the pair key.
    *
    * @param walks [[run]] output (walk_id, step, node)
    * @return (center, context, n_pairs)
    */
  def skipGramPairs(walks: DataFrame, window: Int): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    val a = walks.select(col("walk_id"), col("step").as("si"),
      col("node").as("center"))
    val b = walks.select(col("walk_id"), col("step").as("sj"),
      col("node").as("context"))
    a.join(b, Seq("walk_id"))
      .filter(col("si") =!= col("sj") &&
        abs(col("si") - col("sj")) <= window)
      .groupBy("center", "context")
      .agg(count(lit(1)).as("n_pairs"))
  }
}
