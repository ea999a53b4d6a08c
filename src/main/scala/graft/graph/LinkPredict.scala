package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link prediction over an undirected graph: Adamic-Adar scoring
  * (Adamic & Adar 2003) — for a non-adjacent pair (u, v), the score
  * is Σ over common neighbors w of 1/ln(deg(w)): shared neighbors
  * count, rare shared neighbors count more.
  *
  * Scale shape: the score is computed by WEDGE ENUMERATION, never by
  * intersecting adjacency lists per candidate pair — each middle
  * node w emits its neighbor pairs (u < v) with weight 1/ln(deg(w)),
  * one partial-aggregated exchange on the (u, v) key sums them, an
  * anti-join against the edge set drops already-adjacent pairs, and
  * the top-k is TakeOrderedAndProject (never a global sort). Wedge
  * work is Σ_w deg(w)² — the triangle-count cost class; at corpus
  * scale the standard mitigation is capping the middle degree (a hub
  * contributes ≤ wedges·1/ln(hub) ≈ noise at deg ≫ e³), which
  * `maxMiddleDegree` exposes; the default (no cap) is exact.
  *
  * Float parity: each wedge's contribution is e6-scaled to an
  * INTEGER before the sum (the d17/BM25 protocol) — an integer sum
  * is partition/order-independent, a double sum over 1/ln terms is
  * not.
  */
object LinkPredict {

  /** Top-`k` predicted links by Adamic-Adar score over the
    * undirected version of `edges` (src, dst).
    *
    * @return (u, v, aa_e6) with u < v, strongest first (ties broken
    *   by (u, v) for a total order)
    */
  def adamicAdarTopK(edges: DataFrame, k: Int,
      maxMiddleDegree: Option[Long] = None): DataFrame = {
    val und = Edges.undirected(edges)
    val adj = und.select(col("a").as("w"), col("b").as("m"))
      .union(und.select(col("b").as("w"), col("a").as("m")))
    val deg = adj.groupBy("w").agg(count(lit(1)).as("d"))
    val mids = maxMiddleDegree.fold(deg)(cap => deg.filter(col("d") <= cap))
    val wedges = adj.select(col("w"), col("m").as("u"))
      .join(adj.select(col("w"), col("m").as("v")), Seq("w"))
      .filter(col("u") < col("v"))
      .join(mids, Seq("w"))
      .select(col("u"), col("v"),
        floor(lit(1000000.0) / log(col("d").cast("double")) + 0.5)
          .cast("long").as("c"))
    wedges.groupBy("u", "v").agg(sum("c").as("aa_e6"))
      .join(und, col("u") === col("a") && col("v") === col("b"),
        "left_anti")
      .orderBy(col("aa_e6").desc, col("u"), col("v"))
      .limit(k)
  }

  /** Top-`k` predicted links by JACCARD coefficient —
    * |N(u)∩N(v)| / |N(u)∪N(v)| — the degree-normalized sibling of
    * [[adamicAdarTopK]] (AA favors pairs near rare hubs; Jaccard
    * favors pairs whose neighborhoods OVERLAP proportionally, so a
    * low-degree pair sharing its whole neighborhood outranks a
    * high-degree pair sharing a sliver). Same scale shape: wedge
    * enumeration for the intersection count (never per-pair adjacency
    * intersection), degree join for the union via
    * |N(u)|+|N(v)|−common, anti-join drops existing edges, top-k by
    * TakeOrderedAndProject. The score is an exact integer division
    * (common·10⁶ div union) — no float anywhere.
    *
    * @return (u, v, jac_e6) with u < v, strongest first (ties broken
    *   by (u, v) for a total order)
    */
  def jaccardTopK(edges: DataFrame, k: Int,
      maxMiddleDegree: Option[Long] = None): DataFrame = {
    val und = Edges.undirected(edges)
    val adj = und.select(col("a").as("w"), col("b").as("m"))
      .union(und.select(col("b").as("w"), col("a").as("m")))
    val deg = adj.groupBy("w").agg(count(lit(1)).as("d"))
    val mids = maxMiddleDegree.fold(deg)(cap => deg.filter(col("d") <= cap))
    val common = adj.select(col("w"), col("m").as("u"))
      .join(adj.select(col("w"), col("m").as("v")), Seq("w"))
      .filter(col("u") < col("v"))
      .join(mids.select("w"), Seq("w"), "left_semi")
      .groupBy("u", "v").agg(count(lit(1)).as("n_common"))
    common
      .join(deg.select(col("w").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("w").as("v"), col("d").as("dv")), "v")
      .join(und, col("u") === col("a") && col("v") === col("b"),
        "left_anti")
      .select(col("u"), col("v"), col("n_common"),
        expr("CAST(n_common * 1000000 div (du + dv - n_common) " +
          "AS BIGINT)").as("jac_e6"))
      .orderBy(col("jac_e6").desc, col("u"), col("v"))
      .limit(k)
  }
}
