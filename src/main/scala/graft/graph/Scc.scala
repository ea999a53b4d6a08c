package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Checkpointing, Rounds}
import graft.operators.Checkpointing.CutOps

/** STRONGLY connected components over a directed edge list — the
  * directed twin of [[ConnectedComponents]] (which answers "touching
  * at all"; this answers "mutually reachable": link farms, citation
  * rings, redirect cycles in a crawl graph).
  *
  * Algorithm: iterative forward/backward min-reach peeling, the
  * distributed FW-BW/coloring family (Orzan's coloring; Slota et
  * al.'s Multistep). Each outer round, on the remaining subgraph:
  *
  *   1. TRIM: a node appearing only as src (no in-edges) or only as
  *      dst (no out-edges) lies on no cycle — finalize it as a
  *      singleton SCC. This peels the tendril mass (most of a real
  *      crawl graph) without any propagation.
  *   2. F(u) = min id in u's FORWARD closure (incl. u), B(u) = the
  *      same over the REVERSED edges — two min-label fixpoints, each
  *      a convergence-checked propagation loop (F hops over the
  *      reversed edges, B over the edges as given).
  *   3. F(u) = B(u) = m means m is reachable from u AND reaches u,
  *      so u ∈ SCC(m); conversely every member of SCC(m) shares
  *      F = B = m when m is the minimum over the SCC's reach — so
  *      {u : F(u) = B(u)} finalizes EXACTLY its members' SCCs, with
  *      the shared min as the component label.
  *   4. Remove finalized nodes. No remaining cycle can route through
  *      a finalized node (a cycle through SCC(m) would have merged
  *      into it), so removal is exact, and nodes isolated by the
  *      removal finalize as singletons.
  *
  * Every round finalizes at least SCC(min remaining id) (its F and B
  * are both itself), so rounds are bounded by the SCC "level" depth,
  * not by node count; the trim step collapses tendril chains.
  *
  * Scale shape: mirrors PageRank/ConnectedComponents — each round's
  * edge set is a counted cut, whose row count also decides
  * termination (no edge left); propagation moves only the O(|V|)
  * label table per hop with partial-aggregated mins, and a chunk's
  * convergence check is one scalar over its cut label table (no edge
  * scan); finalized labels are checkpointed id lists. Node ids may be any
  * orderable type (string words here; `min` matches SQL `min`).
  */
object Scc {

  /** Each node's min id over the nodes that reach it along `edges`
    * (itself included), a convergence-CHECKED min-label fixpoint:
    * chunks of `chunk` lazy hops, each chunk cut, until a chunk's last
    * hop moved no label (propagation is monotone, so that is the
    * fixpoint); throws rather than returning an unconverged closure.
    *
    * @return (id, label, _prev) for every node appearing in `edges`
    */
  private def minReach(edges: DataFrame, chunk: Int = 8,
      maxChunks: Int = 16): DataFrame = {
    val looped = Edges.selfLooped(edges, "src")
    val init = looped.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
    val run = Rounds.until(init, maxChunks,
        Rounds.Residual(Edges.moved, 0)) { (labels, _) =>
      Rounds.fixed(labels, chunk, chunk)((l, _) =>
        Edges.minLabelHop(looped, l))
    }
    require(run.converged,
      s"min-reach did not converge in ${chunk * maxChunks} hops")
    run.frame
  }

  /** @param edges0 directed edges (src, dst), any orderable id type
    * @return (node, scc): every node appearing in `edges0`, labeled
    *   with its strongly connected component's minimum member id
    */
  def run(edges0: DataFrame, maxRounds: Int = 40): DataFrame = {
    val distinct = edges0.select(col("src"), col("dst")).distinct()
    val (remaining, n) =
      Checkpointing.cutCounted(distinct.filter(col("src") =!= col("dst")))
    // finalized pieces accumulate as already-checkpointed frames and
    // union ONCE at return — re-checkpointing a growing union every
    // round would re-materialize all prior rounds' output each time
    val pieces = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    // nodes whose only edges were self-loops still need a result row
    pieces += distinct
      .filter(col("src") === col("dst"))
      .select(col("src").as("node"), col("src").as("scc"))
      .join(remaining.select(col("src").as("node"))
          .union(remaining.select(col("dst").as("node"))).distinct(),
        Seq("node"), "left_anti")
      .lineageCut
    // Every round finalizes at least SCC(min remaining id) and drops
    // its edges, so the edge count falls until it reaches zero, where
    // [[Rounds.Unchanged]] stops; the count is each round's cut's own.
    val run = Rounds.until(remaining, maxRounds, Rounds.Unchanged, n) {
      (remaining, _) =>
        val srcs = remaining.select(col("src").as("node")).distinct()
        val dsts = remaining.select(col("dst").as("node")).distinct()
        // 1. trim: only-src (no in-edges) / only-dst (no out-edges)
        //    nodes lie on no cycle — singleton SCCs
        val trimmed = srcs.except(dsts).union(dsts.except(srcs))
          .select(col("node"), col("node").as("scc"))
        // 2-3. F/B fixpoints on the remaining graph; F = B finalizes
        val f = minReach(remaining
          .select(col("dst").as("src"), col("src").as("dst")))
        val b = minReach(remaining).select(col("id"), col("label").as("mb"))
        val matched = f.join(b, "id")
          .filter(col("label") === col("mb"))
          .select(col("id").as("node"), col("label").as("scc"))
        val done = trimmed.union(matched)
          .groupBy("node").agg(min("scc").as("scc"))
          .lineageCut
        pieces += done
        // 4. drop every edge touching a finalized node; nodes isolated
        //    by the removal finalize as singletons
        val doneIds = done.select("node")
        val next = remaining
          .join(doneIds.withColumnRenamed("node", "src"),
            Seq("src"), "left_anti")
          .join(doneIds.withColumnRenamed("node", "dst"),
            Seq("dst"), "left_anti")
        val survivors = next.select(col("src").as("node"))
          .union(next.select(col("dst").as("node")))
        pieces += srcs.union(dsts).distinct()
          .join(doneIds, Seq("node"), "left_anti")
          .join(survivors, Seq("node"), "left_anti")
          .select(col("node"), col("node").as("scc"))
          .lineageCut
        next
    }
    require(run.rows == 0,
      s"SCC peeling did not converge in $maxRounds rounds")
    pieces.reduce(_ unionByName _)
  }
}
