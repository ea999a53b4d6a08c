package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.KmvSketch.kmv_sketch
import graft.functions.TextHashExprs.string_poly_hash
import graft.operators.Checkpointing.CutOps
import graft.operators.Sampling

/** Neighborhood function by mergeable-sketch propagation — the
  * HyperANF idea (Boldi, Rosa & Vigna, "HyperANF: approximating the
  * neighbourhood function of very large graphs", WWW 2011) with KMV
  * sketches in place of HyperLogLog counters: estimate |ball(u, t)|
  * (nodes reachable from u within t hops, incl. u) for EVERY node
  * and every hop in t propagation rounds. The neighborhood function
  * and effective diameter are what you'd derive downstream.
  *
  * Why KMV here: the k smallest distinct hashes of a set are a pure
  * function of the SET — independent of merge order, partitioning,
  * or propagation path — so unlike a stochastic HLL the estimate is
  * deterministic and ORACLE-CHECKABLE: a closure-computed mirror
  * (exact bounded-hop reachability → k-th smallest hash → same
  * estimator) must match to the bit. The estimator and hash are the
  * d27/d28 contract (poly hash × Knuth mixer mod 2³², est =
  * (k−1)·M/kth), so the sketch family and the graph family share one
  * definition.
  *
  * Scale shape: edges (plus self-loops) hash-partitioned by `dst`
  * ONCE and cut; each round explodes the O(|V|·k) sketch table
  * along them and re-aggregates with the mergeable `kmv_sketch`
  * (bounded O(k) state under ObjectHashAggregate, map-side partial
  * merges) — t rounds total, the edge set never re-shuffles, and no
  * pairwise reachability materializes anywhere (the exact closure is
  * the ORACLE's job at test scale; at 100 TB only the sketches move).
  */
object Neighborhood {

  /** @param edges0 directed (src, dst); string node ids
    * @param hops   ball radii to report: hop = 0..hops
    * @param k      sketch size (larger = tighter estimates)
    * @return (node, hop, est_ball) — deterministic KMV estimate of
    *   |ball(node, hop)| for every node appearing in `edges0`
    */
  def kmvBalls(edges0: DataFrame, hops: Int, k: Int): DataFrame = {
    require(hops >= 0 && k >= 2, "need hops >= 0 and k >= 2")
    // edges plus self-loops, dst-partitioned and cut: every round
    // joins the sketch table on dst
    val withSelf = Edges.selfLooped(
      edges0.select(col("src"), col("dst")).distinct(), "dst")
    // the d27 estimator, on the ascending k-smallest-distinct array
    def est(sketch: org.apache.spark.sql.Column) =
      when(size(sketch) < k, size(sketch).cast("long"))
        .otherwise(floor(lit((k - 1).toDouble) * Sampling.MixMod /
          element_at(sketch, k) + 0.5).cast("long"))
    var sk = withSelf.select(col("src").as("node")).distinct()
      .select(col("node"),
        array(string_poly_hash(col("node")) * Sampling.Mixer %
          Sampling.MixMod).as("sketch"))
      .lineageCut
    val out = scala.collection.mutable.ArrayBuffer(
      sk.select(col("node"), lit(0L).as("hop"),
        est(col("sketch")).as("est_ball")))
    for (t <- 1 to hops) {
      // ball(u, t) = {u} ∪ ⋃_{u→v} ball(v, t−1): the self-loop
      // carries u's own sketch, successors contribute theirs; the
      // min-k union is ONE partial-aggregated exchange
      sk = withSelf.join(sk, withSelf("dst") === sk("node"))
        .select(withSelf("src").as("node"),
          explode(col("sketch")).as("h"))
        .groupBy("node")
        .agg(kmv_sketch(col("h"), k).as("sketch"))
        .lineageCut
      out += sk.select(col("node"), lit(t.toLong).as("hop"),
        est(col("sketch")).as("est_ball"))
    }
    out.reduce(_ unionByName _)
  }
}
